"""End-to-end and per-layer metrics from a run's records.

An operation ("op") is one file for the ingest workloads and one query
execution for query_suite. Per-layer figures come from the traced phase
(perfbench/src/.../Tracer.scala) and are normalized so runs of different
length compare: per file, per micro-batch, per query, or per suite pass,
as each name's README.md entry says. A layer a workload does not reach
reports 0.
"""
import datetime
import json
import os
import statistics
import sys

import checks
import stats

END_TO_END_UNITS = {
    "setup_s": "s", "latency_p50_s": "s", "ops_per_s": "1/s",
    "live_heap_mb": "MB",
}

FAMILIES = ["q", "t", "d", "s", "m", "g", "f", "c", "b", "er", "z"]

PER_LAYER_UNITS = dict(
    [("stream.trigger_wait_s", "s"), ("stream.batch_s", "s"),
     ("stream.offset_ms", "ms"), ("stream.files_per_batch", "count"),
     ("sources.parse_calls_per_file", "count"), ("sources.parse_s", "s"),
     ("signals.reduce_s", "s"), ("signals.rows", "count"),
     ("sinks.parquet_s", "s"), ("sinks.artifacts_s", "s"),
     ("catalog.publish_s", "s"), ("catalog.docs", "count"),
     ("pipelines.quarantine_s", "s"), ("pipelines.probe_jobs", "count"),
     ("pipelines.analyze_attempts", "count"),
     ("spark.jobs", "count"), ("spark.stages", "count"),
     ("spark.tasks", "count"), ("spark.residual_s", "s"),
     ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
     ("spark.gc_s", "s"), ("spark.scheduler_delay_s", "s"),
     ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
     ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
     ("catalyst.planning_ms", "ms"),
     ("worker.cpu_ms_per_op", "ms")]
    + [(f"queries.{f}_s", "s") for f in FAMILIES]
    + [("flow.active_s", "s"), ("flow.overhead_s", "s"),
       ("flow.total_s", "s"), ("gen.lag_p90_s", "s"),
       ("trace.overhead_share", "ratio"),
       ("trace.unreconciled_batches", "count")])

# a batch's `batch` span must sit inside its triggerExecution and match
# its addBatch duration to within this much
RECONCILE_TOLERANCE_MS = 50.0
RECONCILE_TOLERANCE_SHARE = 0.05


def family(query):
    """The family prefix of a SparkEntry query name: q6_region_join -> q."""
    return query.split("_")[0].rstrip("0123456789")


# -- latencies per op ----------------------------------------------------------

def file_latencies(workload, run):
    """File name -> latency in seconds, for one phase of an ingest run:
    hs_stream from the file's due time to the commit of its batch,
    hs_backlog from each drain's start (median over the drains)."""
    names = [n for n, _ in run["files"]]
    if workload == "hs_stream":
        commits = stats.file_commits(os.path.join(run["dirs"][0], "ckpt"))
        done = [(n, u, s, commits.get(n + ".emd"))
                for n, u, s in zip(names, run["due"], run["sent"])]
        done = [d for d in done if d[3] is not None]
        latency, _ = stats.open_loop([d[1] for d in done], [d[2] for d in done],
                                     [d[3] for d in done])
        return {d[0]: t for d, t in zip(done, latency)}
    per = {n: [] for n in names}
    for drain in run["phase"]["ops"]:
        commits = stats.file_commits(os.path.join(drain["dir"], "ckpt"))
        for n in names:
            if n + ".emd" in commits:
                per[n].append(commits[n + ".emd"] - drain["start"] / 1000)
    return {n: statistics.median(v) for n, v in per.items() if v}


def query_latencies(run):
    """Query name -> median seconds over the phase's passes."""
    per = {}
    for op in run["phase"]["ops"]:
        per.setdefault(op["query"], []).append((op["end"] - op["start"]) / 1000)
    return {q: statistics.median(v) for q, v in per.items()}


def op_count(workload, run):
    """Ops in the phase: files ingested (each drain of the backlog
    counts), or query executions."""
    ops = run["phase"]["ops"]
    if workload == "hs_backlog":
        return len(run["files"]) * len(ops)
    return len(run["files"]) if workload == "hs_stream" else len(ops)


def elapsed_s(workload, run):
    """Seconds the phase's ops took, for the throughput figure: first due
    time to last commit, the drains' summed durations, or the phase."""
    if workload == "hs_stream":
        commits = stats.file_commits(os.path.join(run["dirs"][0], "ckpt"))
        return max(commits.values()) - run["due"][0]
    if workload == "hs_backlog":
        return sum(d["end"] - d["start"] for d in run["phase"]["ops"]) / 1000
    return (run["phase"]["end"] - run["phase"]["start"]) / 1000


def latencies(workload, run):
    if workload == "query_suite":
        return list(query_latencies(run).values())
    return list(file_latencies(workload, run).values())


def end_to_end(workload, setup, run, result):
    n = op_count(workload, run)
    return {
        "setup_s": setup,
        "latency_p50_s": statistics.median(latencies(workload, run)),
        "ops_per_s": n / elapsed_s(workload, run),
        "live_heap_mb": result["live_heap_mb"],
    }


# -- per layer -------------------------------------------------------------------

def _iso_s(ts):
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _progress_batches(trace):
    """Stream progress events that carried data, one per batch."""
    return [p for p in trace["progress"] if p.get("numInputRows", 0) > 0]


def per_layer(workload, runs, result, work):
    run = runs["traced"]
    with open(os.path.join(work, "traced", "trace.json")) as f:
        trace = json.load(f)
    v = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    spans = trace["spans"]
    # the op here is a micro-batch that carried data, or a query
    ingest = workload != "query_suite"
    op_name = "batch" if ingest else "query"
    ops = [s for s in spans if s["name"] == op_name
           and (not ingest or any(c["parent"] == s["id"] for c in spans))]
    n_ops = max(1, len(ops))
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    # Spark: jobs, stages, tasks, per op; residual = op wall not covered
    # by any job
    jobs = [(j[1], j[2]) for j in trace["jobs"]]
    v["spark.jobs"] = len(jobs) / n_ops
    v["spark.stages"] = len(trace["stage_tasks"]) / n_ops
    v["spark.tasks"] = sum(trace["stage_tasks"]) / n_ops
    v["spark.residual_s"] = sum(
        (o["end"] - o["start"]) - stats.union_length(
            stats.clip(jobs, o["start"], o["end"])) for o in ops) / 1000 / n_ops
    tasks = trace["tasks"]
    for key, col, scale in (("spark.task_run_s", 0, 1000),
                            ("spark.task_cpu_s", 1, 1000),
                            ("spark.gc_s", 2, 1000),
                            ("spark.scheduler_delay_s", 3, 1000),
                            ("spark.shuffle_write_bytes", 4, 1),
                            ("spark.spill_bytes", 5, 1)):
        v[key] = sum(t[col] for t in tasks) / scale / n_ops
    for phase in ("analysis", "optimization", "planning"):
        v[f"catalyst.{phase}_ms"] = sum(
            p[2] - p[1] for p in trace["phases"] if p[0] == phase) / n_ops

    if ingest:
        ingest_layers(v, workload, runs, result, trace, by_name, jobs, n_ops)
    else:
        # per family: the family's summed query time in one pass, median
        # over the passes
        passes = {}
        for op in run["phase"]["ops"]:
            key = (op["pass"], family(op["query"]))
            passes[key] = passes.get(key, 0.0) + (op["end"] - op["start"]) / 1000
        for f in FAMILIES:
            vals = [t for (_, fam), t in passes.items() if fam == f]
            v[f"queries.{f}_s"] = statistics.median(vals) if vals else 0.0
        plans = trace["plans"]
        v["signals.rows"] = sum(p[0] for p in plans) / n_ops
        v["signals.reduce_s"] = sum(p[1] for p in plans) / 1000 / n_ops

    # process CPU of the untraced phase: too host-sensitive to gate on
    # (its spread reached the 0.25 bound), so it is reported here
    v["worker.cpu_ms_per_op"] = (runs["plain"]["phase"]["cpu_ms"]
                                 / op_count(workload, runs["plain"]))
    plain = statistics.median(latencies(workload, runs["plain"]))
    traced = statistics.median(latencies(workload, run))
    v["trace.overhead_share"] = (traced - plain) / plain
    return v


def ingest_layers(v, workload, runs, result, trace, by_name, jobs, n_ops):
    """The stream, sources, signals, sinks, catalog and pipelines layers
    of a traced ingest phase, into `v`."""
    run = runs["traced"]
    spans = trace["spans"]
    total = lambda name: sum(s["end"] - s["start"] for s in by_name.get(name, []))
    files = op_count(workload, run)
    batches = _progress_batches(trace)
    n_b = max(1, len(batches))
    extra = trace["extra"]
    v["sources.parse_calls_per_file"] = extra.get("parse_calls", 0) / files
    v["sources.parse_s"] = extra.get("parse_ms", 0) / 1000 / files
    v["signals.rows"] = sum(p[0] for p in trace["plans"]) / files
    v["signals.reduce_s"] = sum(p[1] for p in trace["plans"]) / 1000 / files
    v["sinks.parquet_s"] = total("sinks.parquet") / 1000 / n_ops
    v["sinks.artifacts_s"] = total("sinks.artifacts") / 1000 / n_ops
    v["catalog.publish_s"] = total("catalog.publish") / 1000 / n_ops
    # documents actually in the catalogs the traced phase wrote
    v["catalog.docs"] = sum(checks.catalog_rows(d)
                            for d in instance_dirs(run)) / n_ops
    selfs = stats.self_times(spans)
    quar = by_name.get("quarantine", [])
    v["pipelines.quarantine_s"] = sum(selfs[s["id"]] for s in quar) / 1000 / n_ops
    analyze = [(s["start"], s["end"]) for s in by_name.get("analyze", [])]
    v["pipelines.probe_jobs"] = sum(
        1 for s, e in jobs
        if any(q["start"] <= s <= q["end"] for q in quar)
        and not any(a <= s <= b for a, b in analyze)) / n_ops
    v["pipelines.analyze_attempts"] = len(analyze) / n_ops
    v["stream.batch_s"] = sum(
        p["durationMs"].get("triggerExecution", 0) for p in batches) / 1000 / n_b
    v["stream.offset_ms"] = sum(
        sum(p["durationMs"].get(k, 0) for k in
            ("latestOffset", "getBatch", "walCommit", "commitOffsets"))
        for p in batches) / n_b
    v["stream.files_per_batch"] = sum(
        p["numInputRows"] for p in batches) / n_b
    v["stream.trigger_wait_s"] = trigger_wait(workload, run, batches)
    v["trace.unreconciled_batches"] = unreconciled(
        by_name.get("batch", []), batches)
    if workload == "hs_stream":
        lag = [lag for r in runs.values()
               for lag in stats.open_loop(r["due"], r["sent"], r["due"])[1]]
        v["gen.lag_p90_s"] = stats.nearest_rank(lag, 0.9)
        flow = result["flow"]
        v["flow.active_s"] = flow.get("active_s", 0.0)
        v["flow.overhead_s"] = flow.get("overhead_s", 0.0)
        v["flow.total_s"] = flow.get("total_s", 0.0)


def instance_dirs(run):
    """The pipeline instances of one ingest phase: the stream's one, or
    one per backlog drain."""
    return run.get("dirs") or [d["dir"] for d in run["phase"]["ops"]]


def trigger_wait(workload, run, batches):
    """Mean seconds from a file's arrival (due time, or drain start) to
    the start of the trigger that picked it up."""
    if workload == "hs_stream":
        ckpt = stats.checkpoint_batches(os.path.join(run["dirs"][0], "ckpt"))
        start = {p["batchId"]: _iso_s(p["timestamp"]) for p in batches}
        due = {n + ".emd": t for (n, _), t in zip(run["files"], run["due"])}
        waits = [start[b] - due[f] for b, info in ckpt.items() if b in start
                 for f in info["files"] if f in due]
    else:
        firsts = sorted(_iso_s(p["timestamp"]) for p in batches
                        if p["batchId"] == 0)
        drains = sorted(d["start"] / 1000 for d in run["phase"]["ops"])
        waits = [t - s for t, s in zip(firsts, drains)]
    return statistics.mean(waits) if waits else 0.0


def unreconciled(batch_spans, batches):
    """Batches whose foreachBatch span does not fit their trigger: longer
    than triggerExecution, or off addBatch by more than the tolerance."""
    by_id = {}
    for s in batch_spans:
        by_id.setdefault(int(s["key"]), []).append(s["end"] - s["start"])
    bad = 0
    for p in batches:
        d = p["durationMs"]
        for span in by_id.get(p["batchId"], []):
            tol = RECONCILE_TOLERANCE_MS + RECONCILE_TOLERANCE_SHARE * span
            if span > d.get("triggerExecution", 0) + tol or abs(
                    span - d.get("addBatch", 0)) > tol:
                bad += 1
    return bad


# -- flow records ---------------------------------------------------------------

def _iso(t):
    return datetime.datetime.fromtimestamp(t, datetime.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f")


def write_flow_runs(path, run, base):
    """One FlowRun record (graft.flows.FlowModel) per committed file of the
    traced hs_stream phase: the run spans the file's due time to its
    batch's commit; its steps are the batch's analysis and catalog
    publication spans, so FlowAnalyzer.timingData's Active is engine work
    and Overhead is everything else (waiting for the trigger, listing,
    offset and commit logs)."""
    with open(os.path.join(base, "trace.json")) as f:
        spans = json.load(f)["spans"]
    ckpt = stats.checkpoint_batches(os.path.join(base, "ckpt"))
    due = {n + ".emd": t for (n, _), t in zip(run["files"], run["due"])}
    steps = {}
    for s in spans:
        if s["name"] in ("analyze", "catalog.publish"):
            steps.setdefault(int(s["key"]), []).append(s)
    with open(path, "w") as out:
        for bid, info in ckpt.items():
            analysis = [s for s in steps.get(bid, []) if s["name"] == "analyze"]
            publish = [s for s in steps.get(bid, [])
                       if s["name"] == "catalog.publish"]
            if not analysis or not publish:
                continue
            # publication runs inside analysis: report analysis net of it
            a0, a1 = analysis[-1]["start"] / 1000, publish[-1]["start"] / 1000
            p0, p1 = publish[-1]["start"] / 1000, publish[-1]["end"] / 1000
            for f in info["files"]:
                if f not in due:
                    continue
                step = lambda name, s, e: {
                    "action_id": f"{f}-{name}", "state_name": name,
                    "status": "SUCCEEDED", "start_time": _iso(s),
                    "completion_time": _iso(e), "details": {}}
                out.write(json.dumps({
                    "run_id": f, "action_id": f, "flow_id": "hs_stream",
                    "status": "SUCCEEDED", "start_time": _iso(due[f]),
                    "completion_time": _iso(info["commit"]),
                    "output": {"Analysis": step("Analysis", a0, a1),
                               "Publication": step("Publication", p0, p1)},
                }) + "\n")


# -- report ------------------------------------------------------------------------

BASELINE = {"total_s": 47.45, "analysis_s": 10.98, "publication_s": 4.29,
            "overhead_share": 0.49}


def report(workload, values, units, runs, result):
    """Human-readable lines on stderr: every metric with its unit, the
    sample counts behind the percentiles, and (traced hs_stream) the
    Active/Overhead/Total split next to the reference's figures."""
    err = sys.stderr
    lat = stats.summary(latencies(workload, runs["plain"]))
    line = f"[{workload}] latency samples n={lat['n']}, median {lat['p50']:.4g} s"
    if lat["tail_pct"] and lat["tail_pct"] > 50:
        line += (f", p{lat['tail_pct']} {lat['tail']:.4g} s (the highest "
                 f"percentile with ten samples beyond it)")
    else:
        line += "; too few samples for a tail percentile with ten beyond it"
    print(line, file=err)
    for k, u in units.items():
        print(f"[{workload}] {k} = {values[k]:.6g} {u}", file=err)
    flow = result.get("flow") or {}
    if flow:
        share = flow["overhead_s"] / flow["total_s"] if flow["total_s"] else 0
        print(f"[{workload}] flow per file (FlowAnalyzer.timingData, "
              f"{int(flow['runs'])} runs): Active {flow['active_s']:.3f} s, "
              f"Overhead {flow['overhead_s']:.3f} s ({share:.0%}), Total "
              f"{flow['total_s']:.3f} s; reference (BASELINE.md): Total "
              f"{BASELINE['total_s']} s, Analysis {BASELINE['analysis_s']} s, "
              f"Publication {BASELINE['publication_s']} s, overhead "
              f"~{BASELINE['overhead_share']:.0%}", file=err)
