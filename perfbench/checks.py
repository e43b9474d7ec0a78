"""Output checks: every ingested file against the values the generator
computed, every query result against its DuckDB oracle."""
import datetime
import glob
import math
import os
import sys

import duckdb

import stats


def _rows(con, sql):
    try:
        return con.execute(sql).fetchall()
    except duckdb.IOException:
        return []  # no file written (for example no poison, no quarantine)


def catalog_rows(d):
    """Documents in the catalog the pipeline instance under `d` wrote."""
    rows = _rows(duckdb.connect(),
                 f"SELECT count(*) FROM read_parquet('{d}/catalog/*.parquet')")
    return rows[0][0] if rows else 0


def ingest(d, files):
    """File name -> True when the pipeline instance under `d` handled the
    file right: a good file has exactly one catalog document with the
    generator's sha256 and a spectrum whose total equals the generator's
    (the counts are integers, so any summation order is exact); a poison
    file is quarantined and appears in neither. Either way the file's
    batch must have committed."""
    con = duckdb.connect()
    totals = dict(_rows(con, f"""
        SELECT experiment_id, sum(counts)
        FROM read_parquet('{d}/out/spectrum/*/*.parquet') GROUP BY 1"""))
    docs = {}
    for subject, sha in _rows(con, f"""
            SELECT subject, files[1].sha256
            FROM read_parquet('{d}/catalog/*.parquet')"""):
        docs.setdefault(os.path.basename(subject), []).append(sha)
    quarantined = {os.path.basename(p) for (p,) in _rows(
        con, f"SELECT path FROM read_parquet('{d}/quarantine/*/*.parquet')")}
    committed = stats.file_commits(os.path.join(d, "ckpt"))
    out = {}
    for name, expect in files:
        fname = name + ".emd"
        if expect["poison"]:
            ok = (fname in quarantined and fname not in docs
                  and name not in totals)
        else:
            ok = (totals.get(name) == expect["total"]
                  and docs.get(fname) == [expect["sha256"]]
                  and fname not in quarantined)
        out[name] = ok and fname in committed
    return out


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in v.items()) + "}"
    if hasattr(v, "tzinfo") and v.tzinfo is not None:
        return str(v.astimezone(datetime.timezone.utc)
                   .replace(tzinfo=None))
    return str(v)


def _frame(con, sql):
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_canon(r[i]) for i in order) for r in cur.fetchall())
    return [cols[i] for i in order], rows


def queries(tables, oracle, outdir):
    """Query name -> True when the engine's written result equals the
    oracle's: same column names and the same rows as a multiset, values
    compared exactly after canonicalization (doubles by repr)."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for p in sorted(glob.glob(os.path.join(tables, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in oracle.items():
        try:
            if not sql or "{OUT}" in sql:
                raise ValueError("no self-contained oracle")
            got = _frame(con, f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')")
            out[name] = got == _frame(con, sql)
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            print(f"perfbench: {name}: {e}", file=sys.stderr)
            out[name] = False
    return out
