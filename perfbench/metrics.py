"""Reduction of one run's raw observations (written by perfbench.Main) to
the benchmark's end-to-end and per-layer metrics."""
import math
import statistics

MIB = 1024.0 * 1024.0
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MODULES = ("Analytics", "Bpe", "Dedup", "EventAnalytics", "Sampling", "Similarity",
           "TextAnalysis", "TimeSeries")


def percentile(values, level):
    """Nearest-rank percentile: the smallest sample with at least `level`
    percent of the samples at or below it."""
    s = sorted(values)
    rank = max(1, math.ceil(level / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n, level):
    """Samples that lie above the nearest-rank `level` percentile of n."""
    return n - max(1, math.ceil(level / 100.0 * n))


def tail_percentile(values, min_beyond=10):
    """The highest of TAIL_LEVELS with at least `min_beyond` samples above
    it, as (level, value); None when even the median has fewer."""
    for level in TAIL_LEVELS:
        if beyond(len(values), level) >= min_beyond:
            return level, percentile(values, level)
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, -math.inf
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def self_times(spans):
    """Per span name: (total ms, self ms), where self time is a span's
    duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        covered = union_length([(max(lo, s["start_ms"]), min(hi, s["end_ms"]))
                                for lo, hi in children.get(s["id"], [])
                                if min(hi, s["end_ms"]) > max(lo, s["start_ms"])])
        tot, own = out.get(s["name"], (0.0, 0.0))
        out[s["name"]] = (tot + dur, own + dur - covered)
    return out


def _timed(raw):
    return [o for o in raw["ops"] if o["pass"] >= 1]


def end_to_end(raw):
    """Metrics of an untraced run, plus details that are not bound-checked."""
    timed = _timed(raw)
    lat = [o["ms"] for o in timed]
    walls = [p["wall_s"] for p in raw["passes"]]
    metrics = {
        "setup_s": (statistics.median(raw["setup_s"]), "s"),
        "warmup_s": (raw["warmup_s"], "s"),
        "wall_s": (statistics.median(walls), "s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "peak_rss_mib": (raw["peak_rss_kib"] / 1024.0, "MiB"),
    }
    detail = {"latency_samples": len(lat), "passes": len(walls), "pass_wall_s": walls,
              "setup_runs_s": raw["setup_s"]}
    tail = tail_percentile(lat)
    if tail:
        detail["latency_tail"] = {"percentile": tail[0], "ms": tail[1]}
    if tail and tail[0] >= 90.0:
        detail["latency_p90_ms"] = percentile(lat, 90.0)
    reads = [o["ms"] for o in timed if o["kind"] == "edf_read"]
    if reads:
        detail["edf_read_p50_ms"] = statistics.median(reads)
        detail["edf_read_samples"] = len(reads)
    procs = [o for o in timed if o["kind"] == "edf_process"]
    if procs:
        detail["ingest_mib_per_s"] = (sum(o["in_bytes"] for o in procs) / MIB
                                      / (sum(o["ms"] for o in procs) / 1000.0))
    return metrics, detail


def per_layer(raw, spans):
    """Metrics of a traced run, summed over the ops of its traced passes and
    divided by the number of traced passes (one pass = every op once)."""
    traced_passes = [p for p in raw["passes"] if p["traced"]]
    plain_passes = [p for p in raw["passes"] if not p["traced"]]
    ids = {p["pass"] for p in traced_passes}
    ops = [o for o in raw["ops"] if o["pass"] in ids]
    n = float(len(traced_passes))
    op_ids = {o["id"] for o in ops}
    spans = [s for s in spans if s["op"] in op_ids]
    by_name = self_times(spans)

    def span_s(name):
        return by_name.get(name, (0.0, 0.0))[0] / 1000.0 / n

    def total(key, scale=1.0):
        return sum(o.get(key, 0) for o in ops) * scale / n

    wall_s = sum(o["ms"] for o in ops) / 1000.0 / n
    gap_ms = 0.0
    for o in ops:
        lo, hi = o["start_ms"], o["end_ms"]
        busy = union_length([(max(a, lo), min(b, hi)) for a, b in o.get("stage_intervals", [])
                             if min(b, hi) > max(a, lo)])
        gap_ms += (hi - lo) - busy
    edf = [o for o in ops if o["kind"] in ("edf_read", "edf_process")]
    needed = sum(o.get("needed_bytes", 0) for o in edf)
    m = {
        "entry.build_s": (span_s("entry.build"), "s"),
        "entry.build_jobs": (total("build_jobs"), "count"),
    }
    for mod in MODULES:
        m[f"operators.{mod}_s"] = (sum(o["ms"] for o in ops if o["kind"] == "query"
                                       and o["module"] == mod) / 1000.0 / n, "s")
    m.update({
        "plan.analysis_s": (total("analysis_ms", 1e-3), "s"),
        "plan.optimization_s": (total("optimization_ms", 1e-3), "s"),
        "plan.planning_s": (total("planning_ms", 1e-3), "s"),
        "sched.jobs": (total("jobs"), "count"),
        "sched.stages": (total("stages"), "count"),
        "sched.tasks": (total("tasks"), "count"),
        "sched.gap_s": (gap_ms / 1000.0 / n, "s"),
        "exec.task_run_s": (total("task_run_ms", 1e-3), "s"),
        "exec.task_cpu_s": (total("task_cpu_ns", 1e-9), "s"),
        "exec.gc_s": (total("gc_ms", 1e-3), "s"),
        "exec.busy_frac": (total("task_run_ms", 1e-3) / (wall_s * raw["cores"]) if wall_s else 0.0,
                           "fraction"),
        "shuffle.write_mib": (total("shuffle_write_bytes", 1 / MIB), "MiB"),
        "shuffle.read_mib": (total("shuffle_read_bytes", 1 / MIB), "MiB"),
        "shuffle.records_written": (total("shuffle_records_written"), "count"),
        "shuffle.fetch_wait_s": (total("fetch_wait_ms", 1e-3), "s"),
        "spill.mem_mib": (total("spill_mem_bytes", 1 / MIB), "MiB"),
        "spill.disk_mib": (total("spill_disk_bytes", 1 / MIB), "MiB"),
        "scan.input_mib": (total("input_bytes", 1 / MIB), "MiB"),
        "scan.input_records": (total("input_records"), "count"),
        "sources.plan_s": (span_s("sources.plan"), "s"),
        "sources.splits": (total("splits"), "count"),
        "sources.read_mib": (sum(o["read_bytes"] for o in edf) / MIB / n, "MiB"),
        "sources.read_amplification": (sum(o["read_bytes"] for o in edf) / needed if needed else 0.0,
                                       "ratio"),
        "sources.onset_index_s": (span_s("sources.onset_index"), "s"),
        "sources.sink_s": (span_s("sources.sink"), "s"),
        "sources.sink_out_mib": (total("sink_out_bytes", 1 / MIB), "MiB"),
        "sources.sink_files": (total("sink_files"), "count"),
        "sources.sink_merge_spills": (total("sink_merge_spills"), "count"),
        "pipeline.process_s": (span_s("pipeline.process"), "s"),
    })
    plain = statistics.median(p["wall_s"] for p in plain_passes)
    traced = statistics.median(p["wall_s"] for p in traced_passes)
    m["trace.overhead_frac"] = ((traced - plain) / plain, "fraction")
    detail = {"traced_passes": len(traced_passes), "untraced_passes": len(plain_passes),
              "span_self_s": {k: {"total_s": v[0] / 1000.0 / n, "self_s": v[1] / 1000.0 / n}
                              for k, v in sorted(by_name.items())}}
    return m, detail
