"""Seeded input synthesis. The same seed gives the same bytes; every
expected value the output checks need is computed at generation time.

The `.emd` containers come from the worker's generator (Inputs.scala),
which writes them with the engine's own Velox-layout HDF5 writer. The
query suite's star-schema tables are written here with pyarrow."""
import json
import os
import subprocess

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


# -- hyperspectral containers ----------------------------------------------

def emd_sets(java, spec_path, sets, timeout):
    """Write every set of containers with one generator JVM. `sets` is a
    list of (dir, seed, prefix, count, (x, y, s), poison_at or None).
    Returns {dir: [(name, expect)]} in name order, where expect holds the
    spectrum total, the file's sha256 and whether it is poison."""
    with open(spec_path, "w") as f:
        for d, seed, prefix, count, (x, y, s), poison_at in sets:
            poison = -1 if poison_at is None else poison_at
            fields = (d, seed, prefix, count, x, y, s, poison)
            f.write("\t".join(map(str, fields)) + "\n")
    subprocess.run(java + ["graft.perfbench.Inputs", spec_path], check=True,
                   stdin=subprocess.DEVNULL, timeout=timeout)
    out = {}
    for d, *_ in sets:
        with open(os.path.join(d, "expect.json")) as f:
            out[d] = sorted(json.load(f).items())
    return out


# -- star-schema tables ----------------------------------------------------

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = "blue hot small old red new cold large".split()
PART_NOUN = "bolt gear anvil ring widget rod plate gizmo".split()
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "fr", "zh", "de", "es"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _day(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, size=n).astype("timedelta64[D]")


def tables(seed, scale):
    """The query suite's tables, with the column names and types of the
    engine's test data: `scale` multiplies the 0.001 row counts (so 10
    gives lineitem 60,000 rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_line = 150 * scale, 1500 * scale, 6000 * scale
    n_part, n_supp, n_ev = 200 * scale, 10 * scale, 1000 * scale
    n_doc, n_emb = 500, 500
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": REGIONS}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": list(rng.choice(SEGMENTS, n_cust))}
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)}
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _day(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": list(rng.choice(PRIORITIES, n_ord))}
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": list(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _day(rng, n_line, "1995-01-02", 2498)}
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 15 * scale, n_ev),
        "event_type": list(rng.choice(EVENT_TYPES, n_ev)),
        "value": money(0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 100))))
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)}
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}
    return {name: pa.table(cols) for name, cols in t.items()}


def write_tables(seed, scale, directory):
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(directory, name + ".parquet"))
