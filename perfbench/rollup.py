"""Turns the harness's raw result file into the benchmark's metrics.

Pure functions over plain dicts, so the maths is testable without a JVM
(see perfbench/tests/test_rollup.py).
"""
import statistics

MB = 1e6

# layer -> its per-layer metric names, in the order BENCHMARK.json lists them
LAYERS = {
    "load": ["self_s", "input_mb", "rows_out", "tasks", "cpu_s"],
    "stream": ["self_s", "batches", "rows_out"],
    "transform": ["self_s", "shuffle_write_mb", "shuffle_fetch_wait_s", "spill_mb", "stages"],
    "write": ["self_s", "output_mb", "files", "bytes_per_user_byte"],
    "functions": ["self_s", "cpu_s", "rows"],
    "dedup": ["self_s", "candidate_pairs", "pair_yield", "jobs", "shuffle_write_mb", "spill_mb"],
    "similarity": ["self_s", "scored_pairs", "scored_per_result", "shuffle_write_mb", "cpu_s",
                   "index_write_mb"],
    "multimodal": ["self_s", "payload_mb", "cpu_s", "gc_s", "peak_mem_mb"],
    "spark": ["jobs", "tasks", "task_overhead_s", "gc_s", "failed_tasks"],
}

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s", "cpu_s": "s",
    "peak_mem_mb": "MB", "storage_amp": "ratio", "recall": "ratio",
}


def unit_of(metric):
    name = metric.split(".", 1)[1]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("pair_yield", "bytes_per_user_byte", "scored_per_result"):
        return "ratio"
    return "count"


def median(values):
    return statistics.median(values)


def quartiles(values):
    """First quartile, median and third quartile, as
    statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the given intervals."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total, end = 0.0, lo
    for s, e in clipped:
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def self_times(spans):
    """Span id -> span time minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def count_failures(iterations):
    """(steps attempted, steps failed) over every iteration of a run."""
    return sum(i["attempted"] for i in iterations), sum(i["failed"] for i in iterations)


def setup_s(result):
    setup = result["setup"]
    return setup["session_s"] + median(setup["generate_s"]) + setup["warmup_s"]


def end_to_end(result):
    """The end-to-end metrics of one run, from its untraced measured iterations."""
    its = [i for i in result["iterations"] if i["phase"] == "measure" and not i["traced"]]
    wall = median([i["wall_s"] for i in its])
    rows, in_bytes = result["input"]["rows"], result["input"]["bytes"]
    return {
        "setup_s": setup_s(result),
        "wall_s": wall,
        "rows_per_s": rows / wall,
        "cpu_s": median([i["counters"]["cpu_ns"] / 1e9 for i in its]),
        "peak_mem_mb": median([i["counters"]["peak_mem_bytes"] / MB for i in its]),
        "storage_amp": median([i["counters"]["output_bytes"] / in_bytes for i in its]),
        "recall": median([i["found"] / i["planted"] if i["planted"] else 0.0 for i in its]),
    }


def _ratio(a, b):
    return a / b if b else 0.0


def layer_metrics(spans):
    """Per-layer metrics of one traced iteration: its root span and steps."""
    selfs = self_times(spans)
    steps = [s for s in spans if s["parent"] >= 0]
    out = {}

    def of(layer):
        return [s for s in steps if s["layer"] == layer]

    def total(layer_steps, key, source="counters"):
        return sum(s[source].get(key, 0.0) for s in layer_steps)

    for layer, names in LAYERS.items():
        ss = steps if layer == "spark" else of(layer)
        c = lambda k: total(ss, k)
        f = lambda k: total(ss, k, "facts")
        pairs = c("max_pair_rows")
        values = {
            "self_s": sum(selfs[s["id"]] for s in ss),
            "input_mb": f("input_bytes") / MB,
            "rows_out": c("stream_rows") if layer == "stream" else c("output_records"),
            "tasks": c("tasks"),
            "cpu_s": c("cpu_ns") / 1e9,
            "batches": c("stream_batches"),
            "shuffle_write_mb": c("shuffle_write_bytes") / MB,
            "shuffle_fetch_wait_s": c("fetch_wait_ms") / 1e3,
            "spill_mb": c("spill_bytes") / MB,
            "stages": c("stages"),
            "output_mb": c("output_bytes") / MB,
            "files": f("files"),
            "bytes_per_user_byte": _ratio(c("output_bytes"), f("user_bytes")),
            "rows": c("output_records"),
            "candidate_pairs": pairs,
            "pair_yield": _ratio(f("useful"), pairs),
            "jobs": c("jobs"),
            "scored_pairs": pairs,
            "scored_per_result": _ratio(pairs, f("result_rows")),
            "index_write_mb": f("index_bytes") / MB,
            "payload_mb": f("input_bytes") / MB,
            "gc_s": c("gc_ms") / 1e3,
            "peak_mem_mb": max([s["counters"].get("heap_peak_bytes", 0.0) for s in ss] or [0.0]) / MB,
            "task_overhead_s": (c("duration_ms") - c("run_ms")) / 1e3,
            "failed_tasks": c("failed_tasks"),
        }
        for n in names:
            out[f"{layer}.{n}"] = values[n]
    return out


def traces(result):
    """Spans grouped by trace id (one traced iteration each)."""
    by = {}
    for s in result["spans"]:
        by.setdefault(s["trace"], []).append(s)
    return by


def per_layer(result):
    """Median of each per-layer metric over the traced iterations."""
    per_iter = [layer_metrics(spans) for spans in traces(result).values()]
    names = [f"{l}.{n}" for l, ns in LAYERS.items() for n in ns]
    return {n: median([m[n] for m in per_iter]) for n in names}


def harness_share(iterations):
    """Largest share of a measured iteration's wall time that no step span
    covers (the harness's own work inside the timed loop)."""
    return max(i["harness_s"] / i["wall_s"] for i in iterations if i["phase"] == "measure")


def trace_overhead_s(result):
    """Median traced wall time minus median untraced wall time, both from
    the measured iterations of a traced run."""
    its = [i for i in result["iterations"] if i["phase"] == "measure"]
    traced = [i["wall_s"] for i in its if i["traced"]]
    plain = [i["wall_s"] for i in its if not i["traced"]]
    return median(traced) - median(plain) if traced and plain else 0.0
