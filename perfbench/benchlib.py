"""Pure logic of the benchmark runner: order statistics, span arithmetic,
failure accounting, the order-insensitive result hash, and the reduction of
one run's raw records (written by the JVM side) to metrics.
"""
import datetime as dt
import decimal
import hashlib
import math
import statistics
import struct

MASK64 = (1 << 64) - 1


# ------------------------------------------------------------- statistics

def median(values):
    return statistics.median(values) if values else float("nan")


def tail(values, beyond=10):
    """The highest percentile that still has at least ``beyond`` samples
    above it: the (beyond+1)-th largest value. Returns (percentile, value,
    samples_beyond). With fewer than 4 * beyond samples that percentile
    would lie below the 75th, no tail; the nearest-rank 90th percentile is
    returned instead, with the (fewer) samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, float("nan"), 0
    k = n - beyond if n >= 4 * beyond else math.ceil(0.9 * n)  # 1-based rank
    return 100.0 * k / n, xs[k - 1], n - k


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


# ------------------------------------------------------------------ spans

def union_length(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"]) -
            union_length(children.get(s["id"], []), s["start_ns"], s["end_ns"])
            for s in spans}


def attribute_jobs(jobs, spans):
    """Job -> span: by job group when the span set one, otherwise the
    innermost span open when the job started (Spark runs broadcast jobs
    under its own group). Jobs outside every span are dropped."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for j in jobs:
        if j["span"] in by_id:
            out[j["id"]] = j["span"]
            continue
        best = None
        for s in spans:
            if s["start_ns"] <= j["start_ns"] <= s["end_ns"]:
                if best is None or s["start_ns"] >= best["start_ns"]:
                    best = s
        if best is not None:
            out[j["id"]] = best["id"]
    return out


# -------------------------------------------------------------- accounting

def account(ops, bad_queries=()):
    """(attempted, failed, {op name: [reasons]}). An op fails when it threw,
    when a check found a wrong result, or when its query's result disagreed
    with the oracle."""
    failed = {}
    n_failed = 0
    for o in ops:
        why = list(o["errors"])
        if o["name"] in bad_queries:
            why.append("result differs from the DuckDB oracle")
        if why:
            n_failed += 1
            failed.setdefault(o["name"], []).extend(why)
    return len(ops), n_failed, failed


# ------------------------------------------------------------ result hash

def cell(v):
    """Canonical rendering of one value: integral numbers of any type as
    integers, other numbers as the bits of their double, timestamps as epoch
    microseconds (naive ones taken as UTC), dates as ISO days, lists and
    structs element-wise."""
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return num(float(v))
    if isinstance(v, str):
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        delta = v - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        return str(delta // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(cell(x) for x in v.values()) + ")"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def num(d):
    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "Inf" if d > 0 else "-Inf"
    if d == math.floor(d) and abs(d) < 9.0e15:
        return str(int(d))
    return "d" + format(struct.unpack("<Q", struct.pack("<d", d))[0], "x")


def row_hash(cells):
    digest = hashlib.md5("\u0001".join(cells).encode("utf-8")).digest()
    return int.from_bytes(digest[:8], "little")


def result_hash(columns, rows):
    """Order-insensitive hash of a result: the row count, the sum mod 2^64 of
    the row hashes (columns taken in name order) and the column names."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        total = (total + row_hash([cell(r[i]) for i in order])) & MASK64
        n += 1
    return f"{n}:{total:x}:{','.join(columns[i] for i in order)}"


# ----------------------------------------------------------------- metrics

EXTRACT_SPANS = {"extract.run", "extract.source_read", "extract.watermark"}

MODULE_LAYER = {"ClickHouse": "plans.dialect", "Relational": "ops.relational",
                "Analytics": "ops.analytics", "Graph": "ops.graph"}


def timed_ops(ops):
    """Ops of the timed phase (round 0 is the snapshot or warm-up)."""
    return [o for o in ops if o["round"] > 0]


def end_to_end(res):
    ops = timed_ops(res["ops"])
    ms = [o["ms"] for o in ops]
    pct, tail_ms, beyond = tail(ms)
    active = res["active_s"]
    return {
        "setup_s": res["setup_s"],
        "op_p50_ms": median(ms),
        "op_tail_ms": tail_ms,
        "rows_per_s": sum(o["rows"] for o in ops) / active,
        "ops_per_s": len(ops) / active,
        "snapshot_s": sum(o["ms"] for o in res["ops"] if o["round"] == 0) / 1000.0,
    }, {"tail_percentile": round(pct, 1), "tail_samples_beyond": beyond,
        "op_samples": len(ms)}


def overhead(ops):
    """Tracing overhead: the geometric mean over op names of (median traced
    latency / median untraced latency), minus 1; names seen only one way are
    skipped. Ops get faster as a session warms up; when half the names run
    traced first and half untraced first, the mean cancels that drift."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], ([], []))[1 if o["traced"] else 0].append(o["ms"])
    logs = [math.log(median(t) / median(u)) for u, t in by_name.values() if u and t]
    return math.exp(sum(logs) / len(logs)) - 1.0 if logs else 0.0


def per_layer(res, workload):
    """Per-op means of layer self times and Spark work, over traced ops."""
    ops = timed_ops(res["ops"])
    traced = [o for o in ops if o["traced"]]
    ids = {o["id"] for o in traced}
    spans = [s for s in res["spans"] if s["op"] in ids]
    selfs = self_times(spans)
    by_span = {s["id"]: s for s in spans}
    n = max(len(traced), 1)

    def busy(pred):
        return sum(selfs[s["id"]] for s in spans if pred(s)) / 1e6 / n

    def named(name):
        return busy(lambda s: s["name"] == name)

    m = {"extract.busy_ms": busy(lambda s: s["name"] in EXTRACT_SPANS),
         "extract.source_read_ms": named("extract.source_read"),
         "extract.watermark_ms": named("extract.watermark"),
         "sink.write_ms": named("sink.write"),
         "streaming.load_ms": named("streaming.load")}
    for part in ("build", "plan", "exec"):
        m[f"query.{part}_ms"] = named(f"query.{part}")
    # Query time split by the engine module owning the query function.
    for module, layer in MODULE_LAYER.items():
        mods = [o for o in traced if o["module"] == module]
        m[f"{layer}.busy_ms"] = (sum(o["ms"] for o in mods) / len(mods)) if mods else 0.0

    # Spark work, charged to spans through the job group.
    job_span = attribute_jobs(res["jobs"], spans)
    jobs = [j for j in res["jobs"] if j["id"] in job_span]
    sums = {k: sum(j[k] for j in jobs) for k in
            ("tasks", "task_run_ms", "task_wall_ms", "gc_ms", "shuffle_bytes",
             "spill_bytes", "input_bytes", "output_bytes")}
    m["spark.jobs"] = len(jobs) / n
    m["spark.tasks"] = sums["tasks"] / n
    m["spark.task_run_ms"] = sums["task_run_ms"] / n
    m["spark.task_overhead_ms"] = (sums["task_wall_ms"] - sums["task_run_ms"]) / n
    m["spark.gc_ms"] = sums["gc_ms"] / n
    m["spark.shuffle_bytes"] = sums["shuffle_bytes"] / n
    m["spark.spill_bytes"] = sums["spill_bytes"] / n
    m["spark.input_bytes"] = sums["input_bytes"] / n
    roots = [s for s in spans if s["parent"] == -1]
    driver = 0
    for r in roots:
        iv = [(j["start_ns"], j["end_ns"]) for j in jobs
              if by_span[job_span[j["id"]]]["op"] == r["op"] and j["end_ns"] >= 0]
        driver += (r["end_ns"] - r["start_ns"]) - union_length(iv, r["start_ns"], r["end_ns"])
    m["spark.driver_ms"] = driver / 1e6 / n
    extract_spans = {s["id"] for s in spans if s["name"] in EXTRACT_SPANS}
    m["extract.jobs"] = sum(1 for j in jobs if job_span[j["id"]] in extract_spans) / n
    sink_spans = {s["id"] for s in spans if s["name"] == "sink.write"}
    m["sink.bytes_written"] = sum(j["output_bytes"] for j in jobs
                                  if job_span[j["id"]] in sink_spans) / n

    samples = {}
    for s in res["samples"]:
        samples.setdefault(s["key"], {})[s["op"]] = s["value"]
    op_ids = [o["id"] for o in ops]

    def mean_sample(key):
        vals = [samples.get(key, {}).get(i) for i in op_ids]
        vals = [v for v in vals if v is not None]
        return sum(vals) / len(vals) if vals else 0.0

    def last_sample(key):
        vals = [samples.get(key, {}).get(i) for i in op_ids]
        vals = [v for v in vals if v is not None]
        return vals[-1] if vals else 0.0

    extra = res.get("extra", {})
    m["extract.rows"] = m["extract.useful_row_ratio"] = m["sink.rows"] = 0.0
    m["streaming.survivor_ratio"] = 0.0
    if workload == "replicate":
        incr = extra.get("incremental_rows", 0)
        d = extra.get("dedup", {})
        m["extract.rows"] = sum(o["rows"] for o in ops) / max(len(ops), 1)
        # Re-reads at the inclusive watermark are the waste.
        m["extract.useful_row_ratio"] = extra.get("incremental_new_rows", 0) / incr if incr else 0.0
        plain = [o for o in ops if o["name"] != "documents"]
        m["sink.rows"] = sum(o["rows"] for o in plain) / max(len(plain), 1)
        m["streaming.survivor_ratio"] = d.get("survivors", 0) / d["extracted"] if d.get("extracted") else 0.0
    m["sink.files_written"] = mean_sample("sink.files_written")
    m["streaming.index_bytes"] = last_sample("streaming.index_bytes")
    m["streaming.index_files"] = last_sample("streaming.index_files")
    m["streaming.compactions"] = last_sample("streaming.compactions")
    m["tables.storage_mb"] = max((samples.get("tables.storage_mb", {}).get(i, 0.0)
                                  for i in op_ids), default=0.0)
    m["tables.invalidate_ms"] = median(extra.get("invalidate_ms", [])) \
        if extra.get("invalidate_ms") else 0.0

    m["trace.overhead_ratio"] = overhead(ops)
    # The share of op wall time no layer span covers (the ops' own self time).
    wall = sum(r["end_ns"] - r["start_ns"] for r in roots)
    m["trace.unattributed_ratio"] = sum(selfs[r["id"]] for r in roots) / wall if wall else 0.0
    return m


LAYER_UNITS = {
    "extract.busy_ms": "ms", "extract.jobs": "count", "extract.rows": "rows",
    "extract.useful_row_ratio": "ratio", "extract.source_read_ms": "ms",
    "extract.watermark_ms": "ms",
    "sink.write_ms": "ms", "sink.rows": "rows", "sink.bytes_written": "bytes",
    "sink.files_written": "count",
    "query.build_ms": "ms", "query.plan_ms": "ms", "query.exec_ms": "ms",
    "plans.dialect.busy_ms": "ms", "ops.relational.busy_ms": "ms",
    "ops.analytics.busy_ms": "ms", "ops.graph.busy_ms": "ms",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_run_ms": "ms",
    "spark.task_overhead_ms": "ms", "spark.driver_ms": "ms",
    "spark.shuffle_bytes": "bytes", "spark.spill_bytes": "bytes", "spark.gc_ms": "ms",
    "spark.input_bytes": "bytes",
    "streaming.load_ms": "ms", "streaming.survivor_ratio": "ratio",
    "streaming.index_bytes": "bytes", "streaming.index_files": "count",
    "streaming.compactions": "count",
    "tables.storage_mb": "MB", "tables.invalidate_ms": "ms",
    "trace.overhead_ratio": "ratio", "trace.unattributed_ratio": "ratio",
}
