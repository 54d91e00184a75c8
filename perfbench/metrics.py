"""Metric arithmetic for the benchmark: latency percentiles, span self
time, and the end-to-end and per-layer tables built from one run's raw
record (the JSON file the JVM side writes).
"""
import math
import statistics

# Metrics the result line (the report's last line) carries; every
# workload reports each of them. The workload-specific metrics are
# printed in the report.
END_TO_END = [
    ("setup_s", "s"),
    ("op_geomean_ms", "ms"),
    ("ops_per_s", "ops/s"),
]

PER_LAYER = [
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.task_cpu_ms", "ms"),
    ("spark.shuffle_bytes", "bytes"),
    ("spark.driver_share", "ratio"),
    ("catalyst.planning_ms", "ms"),
    ("op.driver_gap_ms", "ms"),
    ("jvm.gc_count", "count"),
    ("layer.sources.share", "ratio"),
    ("layer.operators.share", "ratio"),
    ("layer.catalog.share", "ratio"),
    ("layer.queries.share", "ratio"),
    ("layer.spark.share", "ratio"),
    ("StatsSidecar.refresh.share", "ratio"),
    ("ParquetDataset.scan.jobs", "count"),
    ("ScanPruner.kept_ratio", "ratio"),
    ("ScanPruner.useful_ratio", "ratio"),
    ("Merge.files_rewritten", "count"),
    ("Merge.cow_amp", "ratio"),
    ("Delete.cow_amp", "ratio"),
    ("Maintenance.files_before", "count"),
    ("Maintenance.files_after", "count"),
    ("Maintenance.bytes_rewritten", "bytes"),
    ("Tables.cached_mb", "MB"),
    ("graph.round_jobs", "count"),
    ("tracing.overhead", "ratio"),
]

SIDECAR_STAGING = "_graft_stats.parquet.tmp"


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, samples beyond), or None when there are
    fewer than eleven samples. With n sorted samples the k-th smallest
    (1-based) has n - k samples after it, so k = n - 10.
    """
    n = len(values)
    if n < 11:
        return None
    k = n - 10
    return sorted(values)[k - 1], 100.0 * k / n, n - k


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by `intervals`, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Span id -> its wall time minus the part its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["t0"], c["t1"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["t1"] - s["t0"]) - union_length(kids, s["t0"], s["t1"])
    return out


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _geomean(xs):
    return math.exp(_mean(math.log(max(x, 1e-3)) for x in xs))


def _ratio(num, den):
    return num / den if den else 0.0


def window_ops(raw, w):
    """Ops that started inside window `w`, in order."""
    return [o for o in raw["ops"] if w["t0"] <= o["t0"] <= w["t0"] + w["ms"]]


def end_to_end(raw):
    """Every end-to-end metric this run can give, from its first window,
    which is never traced.

    Returns (metrics, notes): metrics maps name -> (value, unit); notes
    holds the tail percentiles and sample counts printed beside them.
    """
    win = raw["windows"][0]
    ops = window_ops(raw, win)
    wall_s = win["ms"] / 1000.0
    m, notes = {}, {}
    setup = raw["spark_start_s"] + statistics.median(raw["build_s"]) + raw["warm_s"]
    m["setup_s"] = (setup, "s")
    m["peak_rss_mb"] = (raw["peak_rss_kb"] / 1024.0, "MB")

    def lat(o):
        return o["t1"] - o["t0"]

    def timing(prefix, sel):
        xs = [lat(o) for o in sel]
        if not xs:
            return
        m[prefix + "_p50_ms"] = (statistics.median(xs), "ms")
        t = tail(xs)
        if t is None:
            # too few samples for the rule: the slowest one stands in
            t = (max(xs), 100.0, 0)
        m[prefix + "_tail_ms"] = (t[0], "ms")
        notes[prefix + "_tail_ms"] = "p%.1f, %d beyond, n=%d" % (t[1], t[2], len(xs))

    timing("op", ops)
    m["op_geomean_ms"] = (_geomean(lat(o) for o in ops), "ms")
    m["ops_per_s"] = (len(ops) / wall_s, "ops/s")
    timing("read", [o for o in ops if o["cls"] == "read"])
    timing("write", [o for o in ops if o["cls"] == "write"])
    writes = [o for o in ops if o["cls"] == "write"]
    facts = raw.get("facts", {})
    if writes:
        m["rows_per_s"] = (sum(o.get("applied", 0) for o in writes) / wall_s, "rows/s")
    if facts.get("staged_bytes"):
        m["write_amp"] = (facts["created_bytes"] / facts["staged_bytes"], "ratio")
    if facts.get("once_bytes"):
        m["space_amp"] = (facts["final_bytes"] / facts["once_bytes"], "ratio")
    queries = [o for o in ops if o["cls"] == "query"]
    if queries:
        # each query's median over the window's passes
        per_q = {}
        for o in queries:
            per_q.setdefault(o["kind"], []).append(lat(o))
        meds = [statistics.median(v) for v in per_q.values()]
        m["gate_total_s"] = (sum(meds) / 1000.0, "s")
        m["gate_geomean_ms"] = (_geomean(meds), "ms")
    attempted, failed = counts(raw)
    m["error_rate"] = (_ratio(failed, attempted), "ratio")
    return m, notes


def counts(raw):
    """(attempted, failed): every op of every window plus every check."""
    ops = raw["ops"]
    checks = raw.get("checks", [])
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    return attempted, failed


def per_layer(raw):
    """Per-layer metrics from the traced window.

    Returns (metrics, table): metrics maps every PER_LAYER name to
    (value, unit); table holds the wider per-span and per-op-kind rows
    printed in the report.
    """
    trace = raw["trace"]
    win = next(w for w in raw["windows"] if w["traced"])
    lo, hi = win["t0"], win["t0"] + win["ms"]
    ops = window_ops(raw, win)
    op_ids = {o["id"] for o in ops}
    spans = [s for s in trace["spans"] if lo <= s["t0"] <= hi]
    span_by_id = {s["id"]: s for s in spans}
    jobs = [j for j in trace["jobs"] if j["span"] in span_by_id]
    execs = [e for e in trace["executions"] if lo <= e["t1"] <= hi]
    selfs = self_times(spans)
    cores = raw["cores"]
    n_ops = max(len(ops), 1)

    def lat(o):
        return o["t1"] - o["t0"]

    def span_op(sid):
        return span_by_id[sid]["op"]

    jobs_by_op, jobs_by_span = {}, {}
    for j in jobs:
        jobs_by_op.setdefault(span_op(j["span"]), []).append(j)
        jobs_by_span.setdefault(j["span"], []).append(j)

    def op_of_time(t):
        for o in ops:
            if o["t0"] <= t <= o["t1"]:
                return o["id"]
        return None

    planning_by_op = {}
    for e in execs:
        oid = op_of_time(e["t1"])
        if oid is not None:
            planning_by_op[oid] = planning_by_op.get(oid, 0.0) + e["planning_ms"]

    def job_end(j):
        return j["t1"] if j["t1"] is not None else j["t0"]

    def gap(o):
        ivs = [(j["t0"], job_end(j)) for j in jobs_by_op.get(o["id"], [])]
        return (o["t1"] - o["t0"]) - union_length(ivs, o["t0"], o["t1"])

    table = {"spans": {}, "kinds": {},
             "stream": {"%s.%s" % (o["kind"], tag): lanes
                        for o in ops for tag, lanes in o.get("stream", {}).items()}}
    for s in spans:
        row = table["spans"].setdefault(s["name"], {"layer": s["layer"], "n": 0, "ms": 0.0,
                                                    "self_ms": 0.0, "jobs": 0,
                                                    "input_bytes": 0})
        row["n"] += 1
        row["ms"] += s["t1"] - s["t0"]
        row["self_ms"] += selfs[s["id"]]
        row["jobs"] += len(jobs_by_span.get(s["id"], []))
        row["input_bytes"] += sum(j["input_bytes"] for j in jobs_by_span.get(s["id"], []))
    for o in ops:
        js = jobs_by_op.get(o["id"], [])
        row = table["kinds"].setdefault(o["kind"], {"n": 0, "ms": 0.0, "jobs": 0, "tasks": 0,
                                                    "task_cpu_ms": 0.0, "shuffle_bytes": 0,
                                                    "driver_gap_ms": 0.0, "planning_ms": 0.0,
                                                    "gc_ms": 0, "gc_count": 0})
        row["n"] += 1
        row["ms"] += o["t1"] - o["t0"]
        row["jobs"] += len(js)
        row["tasks"] += sum(j["tasks"] for j in js)
        row["task_cpu_ms"] += sum(j["cpu_ms"] for j in js)
        row["shuffle_bytes"] += sum(j["shuffle_bytes"] for j in js)
        row["driver_gap_ms"] += gap(o)
        row["planning_ms"] += planning_by_op.get(o["id"], 0.0)
        row["gc_ms"] += o.get("gc_ms", 0)
        row["gc_count"] += o.get("gc_count", 0)
    sidecar = [e for e in execs if SIDECAR_STAGING in e["output"]]
    table["spans"]["StatsSidecar.refresh"] = {
        "layer": "sources", "n": len(sidecar), "ms": sum(e["t1"] - e["t0"] for e in sidecar),
        "self_ms": 0.0, "jobs": 0, "input_bytes": 0}

    all_jobs = [j for o in ops for j in jobs_by_op.get(o["id"], [])]
    m = {}
    m["spark.jobs_per_op"] = len(all_jobs) / n_ops
    m["spark.tasks_per_op"] = sum(j["tasks"] for j in all_jobs) / n_ops
    m["spark.task_cpu_ms"] = sum(j["cpu_ms"] for j in all_jobs) / n_ops
    m["spark.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in all_jobs) / n_ops
    op_wall = sum(o["t1"] - o["t0"] for o in ops)
    m["spark.driver_share"] = 1 - _ratio(sum(j["run_ms"] for j in all_jobs), op_wall * cores)
    m["catalyst.planning_ms"] = sum(planning_by_op.values()) / n_ops
    m["op.driver_gap_ms"] = sum(gap(o) for o in ops) / n_ops
    m["jvm.gc_count"] = sum(o.get("gc_count", 0) for o in ops) / n_ops
    for layer in ("sources", "operators", "catalog", "queries", "spark"):
        own = sum(selfs[s["id"]] for s in spans if s["layer"] == layer and s["op"] in op_ids)
        m["layer.%s.share" % layer] = _ratio(own, op_wall)
    m["StatsSidecar.refresh.share"] = _ratio(
        sum(e["t1"] - e["t0"] for e in sidecar if op_of_time(e["t1"]) is not None), op_wall)
    scans = [s for s in spans if s["name"] == "ParquetDataset.scan"]
    m["ParquetDataset.scan.jobs"] = _mean(len(jobs_by_span.get(s["id"], [])) for s in scans)
    kept_ops = [o for o in ops if "kept" in o]
    m["ScanPruner.kept_ratio"] = _mean(_ratio(o["kept"], o["listed"]) for o in kept_ops)
    m["ScanPruner.useful_ratio"] = _ratio(sum(o["useful"] for o in kept_ops),
                                          sum(o["kept"] for o in kept_ops))
    merges = [o for o in ops if o["kind"] in ("upsert", "insert") and o["ok"]]
    m["Merge.files_rewritten"] = _mean(o["files_rewritten"] for o in merges)
    m["Merge.cow_amp"] = _ratio(sum(o["rows_in_rewritten"] for o in merges if o["updated"]),
                                sum(o["updated"] for o in merges))
    deletes = [o for o in ops if o["kind"] == "delete" and o["ok"]]
    m["Delete.cow_amp"] = _ratio(sum(o["rows_in_rewritten"] - o["deleted"] for o in deletes),
                                 sum(o["deleted"] for o in deletes))
    compacts = [o for o in ops if o["kind"] == "compact" and o["ok"]]
    m["Maintenance.files_before"] = _mean(o["files_before"] for o in compacts)
    m["Maintenance.files_after"] = _mean(o["files_after"] for o in compacts)
    m["Maintenance.bytes_rewritten"] = _mean(o["bytes_rewritten"] for o in compacts)
    m["Tables.cached_mb"] = _mean(o["cached_mb"] for o in ops if "cached_mb" in o)
    graph = [o for o in ops if o["kind"] in ("q113_pagerank", "q203_bfs_khop",
                                             "q437_bipartite_check")]
    m["graph.round_jobs"] = _mean(len(jobs_by_op.get(o["id"], [])) for o in graph)
    # the untraced windows before and after the traced one run the same
    # op sequence: compare op i with the mean of their op i
    before, after = (window_ops(raw, w) for w in (raw["windows"][0], raw["windows"][-1]))
    pairs = [lat(t) / ((lat(u) + lat(v)) / 2) for u, t, v in zip(before, ops, after)
             if u["kind"] == t["kind"] == v["kind"]]
    m["tracing.overhead"] = statistics.median(pairs) - 1 if pairs else 0.0
    units = dict(PER_LAYER)
    return {k: (v, units[k]) for k, v in m.items()}, table
