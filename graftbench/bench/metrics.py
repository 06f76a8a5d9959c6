"""Arithmetic over the raw run record: percentiles, interval unions,
driver gap, span self time, and the metric sets the benchmark prints."""
import math
import statistics

INF = float("inf")

# Query-workload data: variant = seed % VARIANTS picks the generated
# tables (and their goldens); the seed also orders the queries.
VARIANTS = 4
DATA = {
    "queries_floor": {"sf": 0.05, "docs": 500, "vecs": 500},
    "queries_graph": {"sf": 0.01, "docs": 500, "vecs": 500},
}

# Gated end-to-end metrics. Wall-clock throughput and latency
# (suite_s, ops_per_s, op_p50_s, op_tail_s) go to the report line: on
# a shared VM they drift with the host's phase by up to 0.35 (IQR over
# median across seeds) while process CPU per operation stays near 0.1.
E2E = [("setup_s", "s"), ("suite_cpu_s", "s"), ("cpu_ms_per_op", "ms"),
       ("out_bytes_per_op", "B"), ("peak_heap_mb", "MB")]
_C, _MS, _B, _R, _US = "count", "ms", "B", "ratio", "us"
PER_LAYER = {
    "UrlReader.ms": _MS, "Stats.ms": _MS, "Stats.jobs": _C,
    "Downloader.ms": _MS, "Downloader.bytes": _B, "Downloader.requests": _C,
    "Downloader.ok_ratio": _R,
    "Resizer.us_per_img": _US, "Resizer.encode_us_per_img": _US, "Resizer.ok_ratio": _R,
    "Pipeline.ms": _MS, "Pipeline.task_cpu_ms": _MS, "Pipeline.write_bytes": _B,
    "Sinks.ms": _MS, "Sinks.task_cpu_ms": _MS, "Sinks.shuffle_bytes": _B,
    "Sinks.write_bytes": _B, "Sinks.jobs": _C,
    "SparkEntry.construct_ms": _MS, "SparkEntry.action_ms": _MS,
    "spark.driver_gap_ms": _MS, "spark.jobs_per_query": _C, "spark.stages_per_query": _C,
    "Similarity.jobs": _C, "Similarity.task_cpu_ms": _MS,
    "Graphs.jobs": _C, "Graphs.task_cpu_ms": _MS,
    "Dedup.jobs": _C, "Dedup.task_cpu_ms": _MS,
    "spark.shuffle_read_bytes": _B, "spark.shuffle_write_bytes": _B, "spark.spill_bytes": _B,
    "spark.gc_ms": _MS, "spark.task_failures": _C, "tmp.leaked_bytes": _B,
    "fail_ratio": _R,
    **{f"traced.{k}": u for k, u in E2E},
}
# Modules whose jobs the traced run attributes by call site.
MODULES = ["Pipeline", "Sinks", "Stats", "Similarity", "Graphs", "Dedup"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples):
    """Highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n). With samples sorted ascending, the
    k-th (1-based) has n-k samples above it, so k = n-10. Runs with
    ten samples or fewer have no such percentile; the maximum is
    reported then, at percentile 100.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 10
    return xs[k - 1], 100.0 * k / n, n


def union_length(intervals, lo=-INF, hi=INF):
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
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


def driver_gap(start, end, stage_intervals):
    """Action wall time not covered by any running stage."""
    return max(0.0, (end - start) - union_length(stage_intervals, start, end))


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def _finite(x):
    return x if math.isfinite(x) else None


def end_to_end(rec, wrong_by_call):
    """The end-to-end metrics of one run. `wrong_by_call[i]` is the
    number of wrong or missing outcomes in call i (a query: 0 or 1;
    a pipeline call: images)."""
    calls, passes = rec["calls"], rec["passes"]
    pipeline = "urls" in rec
    if pipeline:
        n = rec["urls"]
        ok_ops = [n - w for w in wrong_by_call]
        walls = [c["wall_s"] for c in calls]
        m = {
            "suite_s": median(walls),
            "suite_cpu_s": median([c["cpu_s"] for c in calls]),
            "ops_per_s": median([ok / c["wall_s"] for ok, c in zip(ok_ops, calls)]),
            "cpu_ms_per_op": median([1000 * c["cpu_s"] / n for c in calls]),
            "out_bytes_per_op": median([c["out_bytes"] / n for c in calls]),
        }
        samples = walls
    else:
        samples = [c["wall_s"] if w == 0 else INF for c, w in zip(calls, wrong_by_call)]
        per_pass_ok = {}
        for c, w in zip(calls, wrong_by_call):
            per_pass_ok[c["pass"]] = per_pass_ok.get(c["pass"], 0) + (w == 0)
        ok_calls = [c for c, w in zip(calls, wrong_by_call) if w == 0]
        m = {
            "suite_s": median([p["wall_s"] for p in passes]),
            "suite_cpu_s": median([p["cpu_s"] for p in passes]),
            "ops_per_s": median([per_pass_ok.get(p["pass"], 0) / p["wall_s"] for p in passes]),
            "cpu_ms_per_op": median([1000 * p["cpu_s"] / p["calls"] for p in passes]),
            "out_bytes_per_op": (sum(c["out_bytes"] for c in ok_calls) / len(ok_calls)
                                 if ok_calls else 0.0),
        }
    m["setup_s"] = median(rec["setup_s"])
    m["peak_heap_mb"] = rec["peak_heap_mb"]
    # Per-call latency also stays in the report: with one pipeline call
    # or three queries a run has too few samples for a steady median or
    # tail.
    t = tail(samples)
    info = {"suite_s": m.pop("suite_s"), "ops_per_s": m.pop("ops_per_s"),
            "op_p50_s": _finite(median(samples)), "op_tail_s": _finite(t[0]),
            "op_tail_percentile": t[1], "op_samples": t[2]}
    return {k: _finite(v) for k, v in m.items()}, info


def _calls_jobs(rec):
    """Jobs grouped by the call whose window holds their start."""
    calls = rec["calls"]
    out = [[] for _ in calls]
    for j in rec.get("jobs", []):
        for i, c in enumerate(calls):
            if c["start"] - 1 <= j["start"] <= c["end"] + 1:
                out[i].append(j)
                break
    return out


def per_layer(rec, e2e, fail_ratio, leaked_bytes):
    """Per-layer metrics of a traced run (per call = per query or per
    Pipeline.download call)."""
    calls = rec["calls"]
    nc = max(len(calls), 1)
    stages = {s["id"]: s for s in rec.get("stages", [])}
    by_call = _calls_jobs(rec)
    m = {"fail_ratio": fail_ratio, "tmp.leaked_bytes": leaked_bytes}

    def ran(job):
        return [stages[i] for i in job["stages"] if i in stages and stages[i]["tasks"] > 0]

    all_jobs = [j for js in by_call for j in js]
    m["spark.jobs_per_query"] = len(all_jobs) / nc
    m["spark.stages_per_query"] = sum(len(ran(j)) for j in all_jobs) / nc
    for key, field in [("spark.shuffle_read_bytes", "shuffle_read"),
                       ("spark.shuffle_write_bytes", "shuffle_write"),
                       ("spark.spill_bytes", "spill")]:
        m[key] = sum(s[field] for j in all_jobs for s in ran(j)) / nc
    gaps = []
    for c, js in zip(calls, by_call):
        ivs = [(s["start"], s["end"]) for j in js for s in ran(j)]
        # A query whose construction raised has no action window.
        start = c["action_start"] if c.get("action_start") is not None else c["end"]
        gaps.append(driver_gap(start, c["end"], ivs))
    m["spark.driver_gap_ms"] = sum(gaps) / nc
    m["spark.gc_ms"] = rec.get("gc_ms_loop", 0) / nc
    m["spark.task_failures"] = sum(s["failed_tasks"] for s in rec.get("stages", []))
    q = [c for c in calls if c.get("construct_s") is not None]
    m["SparkEntry.construct_ms"] = 1000 * sum(c["construct_s"] for c in q) / len(q) if q else 0.0
    m["SparkEntry.action_ms"] = 1000 * sum(c["action_s"] for c in q) / len(q) if q else 0.0
    for mod in MODULES:
        js = [j for j in all_jobs if j["module"] == mod]
        m[f"{mod}.jobs"] = len(js) / nc
        m[f"{mod}.task_cpu_ms"] = sum(s["cpu_ms"] for j in js for s in ran(j)) / nc
        m[f"{mod}.ms"] = sum(max(0, j["end"] - j["start"]) for j in js) / nc
        m[f"{mod}.write_bytes"] = sum(s["written"] for j in js for s in ran(j)) / nc
        m[f"{mod}.shuffle_bytes"] = sum(s["shuffle_write"] for j in js for s in ran(j)) / nc
    p = rec.get("probes", {})
    m["UrlReader.ms"] = p.get("urlreader_ms", 0.0)
    m["Downloader.ms"] = max(0.0, p.get("downloader_total_ms", 0.0) - p.get("urlreader_ms", 0.0))
    m["Downloader.bytes"] = p.get("downloader_bytes", 0)
    m["Downloader.requests"] = p.get("downloader_requests", 0)
    m["Downloader.ok_ratio"] = (p["downloader_ok"] / p["downloader_rows"]
                                if p.get("downloader_rows") else 0.0)
    m["Resizer.us_per_img"] = p["resizer_us"] / p["resizer_calls"] if p.get("resizer_calls") else 0.0
    m["Resizer.encode_us_per_img"] = (p["encode_us"] / p["encode_calls"]
                                      if p.get("encode_calls") else 0.0)
    m["Resizer.ok_ratio"] = p["resizer_ok"] / p["resizer_calls"] if p.get("resizer_calls") else 0.0
    for k, v in e2e.items():
        m[f"traced.{k}"] = v
    return m


def spans_summary(rec):
    """Total and self milliseconds per span name."""
    spans = rec.get("spans", [])
    st = self_times(spans)
    out = {}
    for s in spans:
        o = out.setdefault(s["name"], {"n": 0, "total_ms": 0.0, "self_ms": 0.0})
        o["n"] += 1
        o["total_ms"] += s["end"] - s["start"]
        o["self_ms"] += st[s["id"]]
    return out
