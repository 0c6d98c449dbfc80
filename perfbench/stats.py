"""Statistics and metric derivation for the benchmark.

`end_to_end(raw)` and `per_layer(raw)` turn the raw records the JVM side
writes (ops, spans, Spark jobs, Catalyst phases, setup clocks) into the
metrics named in BENCHMARK.json. The small helpers above them are what
the unit tests in tests/test_stats.py pin.
"""

import math
from statistics import median

MS = 1e6  # ns per ms

# ------------------------------------------------------------- helpers


def tail(samples, beyond=10, floor=90.0):
    """The highest percentile with at least `beyond` samples above it,
    but never below the `floor` percentile.

    Returns (value, percentile), nearest rank. With n sorted samples the
    highest rank that leaves `beyond` samples beyond it is k = n - beyond
    (1-based), i.e. percentile 100*k/n. A run has 4-9 ops, where that
    rank falls to the median or below; the floor keeps the metric a tail
    (rank ceil(n*floor/100)), and the percentile returned says which rule
    applied. A p75 floor was tried first: with op kinds of distinct cost
    it landed between two kinds and spread 16 % between seeds.
    """
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    n = len(xs)
    k = max(n - beyond, math.ceil(n * floor / 100.0), 1)
    return xs[k - 1], 100.0 * k / n


def hd_median(samples, steps=64):
    """Harrell-Davis estimate of the median: the order statistics
    weighted by the mass a Beta((n+1)/2, (n+1)/2) puts on each rank's
    interval [(i-1)/n, i/n] (Simpson's rule, `steps` even).

    A run's ops come from a few op kinds of distinct cost. The sample
    median is one order statistic, so it jumps from one kind to the next
    when two kinds near the middle swap order; on agent_session that
    moved it 24 % between runs whose op latencies were within 7 %. The
    weighted estimate moves with all the ranks near the middle.
    """
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    n = len(xs)
    a = (n + 1) / 2
    beta = math.exp(2 * math.lgamma(a) - math.lgamma(2 * a))

    def pdf(x):
        return (x * (1 - x)) ** (a - 1) / beta

    weights = []
    for i in range(n):
        lo, h = i / n, 1 / (n * steps)
        inner = sum((4 if k % 2 else 2) * pdf(lo + k * h)
                    for k in range(1, steps))
        weights.append((pdf(lo) + pdf(lo + steps * h) + inner) * h / 3)
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def geomean(values):
    values = list(values)
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def self_times(spans):
    """Span id -> self time (duration minus its children's durations)."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] >= 0 and s["parent"] in out:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def attribute(jobs, ops, spans):
    """Job id -> (op id, span id or None).

    A job belongs to the op whose wall contains the job's submission
    time: with one closed-loop client at most one op is open at a time,
    so this also catches jobs the program starts from its own threads.
    Within the op it goes to the innermost span open at that time.
    Jobs outside every op are left out.
    """
    ops = sorted(ops, key=lambda o: o["start"])
    starts = [o["start"] for o in ops]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = {}
    for j in jobs:
        t = j["submit_ms"] * MS
        i = _bisect_right(starts, t) - 1
        if i < 0:
            continue
        o = ops[i]
        # ms-resolution job times: allow the op's own last millisecond
        if not (o["start"] - MS < t <= o["end"] + MS):
            continue
        inner = None
        for s in by_op.get(o["id"], ()):
            if s["start"] - MS < t <= s["end"] + MS:
                if inner is None or s["start"] >= inner["start"]:
                    inner = s
        out[j["id"]] = (o["id"], inner["id"] if inner else None)
    return out


def _bisect_right(xs, x):
    lo, hi = 0, len(xs)
    while lo < hi:
        mid = (lo + hi) // 2
        if x < xs[mid]:
            hi = mid
        else:
            lo = mid + 1
    return lo


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# ------------------------------------------------------------- metrics


def loop_ops(raw):
    return [o for o in raw["ops"] if o["phase"] == "loop"]


def failures(raw):
    return [o for o in raw["ops"] if o["phase"] in ("loop", "extra")
            and not o["ok"]]


def end_to_end(raw):
    ops = loop_ops(raw)
    walls = [(o["end"] - o["start"]) / MS for o in ops]
    wall_s = (max(o["end"] for o in ops) - min(o["start"] for o in ops)) / 1e9
    kinds = {}
    for o, w in zip(ops, walls):
        kinds.setdefault(o["kind"], []).append(w)
    tail_ms, tail_pct = tail(walls)
    events = sum(o["info"].get("events", 0) for o in ops)
    log_bytes = sum(o["info"].get("bytes", 0) for o in ops)
    store = raw["store"]
    metrics = {
        "setup_s": (raw["setup"]["setup_s"], "s"),
        "ops_per_s": (len(ops) / wall_s, "1/s"),
        "op_p50_ms": (hd_median(walls), "ms"),
        "op_tail_ms": (tail_ms, "ms"),
        "op_geomean_ms": (geomean(median(v) for v in kinds.values()), "ms"),
        "events_per_s": (events / wall_s, "1/s"),
        "log_mb_per_s": (log_bytes / 1e6 / wall_s, "MB/s"),
        "store_bytes_per_log_byte": (store["bytes"] / store["log_bytes"],
                                     "ratio"),
    }
    # VmHWM follows the JVM's heap sizing more than the program (it
    # spread 20-30 % between seeds), so it is recorded, not gated
    notes = {"op_tail_pct": tail_pct, "ops": len(ops),
             "peak_rss_mb": raw["peak_rss_mb"],
             "op_kinds": {k: len(v) for k, v in sorted(kinds.items())}}
    return metrics, notes


API_TOOLS = ("import", "errors", "events", "diff", "ci_check", "info",
             "query", "sql", "history")


def per_layer(raw, cores):
    ops = [o for o in raw["ops"] if o["phase"] in ("loop", "extra")]
    loop = loop_ops(raw)
    spans = raw["spans"]
    # the end-of-run marker job falls outside every op and is left out
    owner = attribute(raw["jobs"], loop, spans)
    ljobs = [j for j in raw["jobs"] if j["id"] in owner]
    n = len(loop)
    wall_ms = sum((o["end"] - o["start"]) / MS for o in loop)

    def spans_ms(name):
        return [(s["end"] - s["start"]) / MS for s in spans if s["name"] == name]

    m = {}
    for t in API_TOOLS:
        m[f"api.{t}.p50_ms"] = (median(spans_ms(f"api.{t}")), "ms")
    m["exec.import_ms"] = (median(spans_ms("exec.import")), "ms")
    m["exec.import_dir_ms"] = (median(spans_ms("exec.import_dir")), "ms")

    parse_ms = sum(spans_ms("parse"))
    parse_bytes = sum(o["info"].get("parse_bytes", 0) for o in ops)
    parsed = [o for o in ops if o["info"].get("parse_bytes")]
    m["parse.ms_per_mb"] = (parse_ms / (parse_bytes / 1e6), "ms/MB")
    m["parse.events_per_log"] = (
        sum(o["info"].get("events", 0) for o in parsed) / len(parsed), "count")

    # store: files listed from outside before and after each op, bytes
    # from task output metrics of the jobs each op ran
    written = [o["store_files"][1] - o["store_files"][0] for o in loop]
    m["store.files_written_per_op"] = (sum(written) / n, "count")
    m["store.bytes_written_per_op"] = (
        sum(j["output_bytes"] for j in ljobs) / n, "bytes")
    m["store.write_jobs_per_op"] = (
        sum(1 for j in ljobs if j["output_bytes"] > 0) / n, "count")
    m["store.parquet_files_total"] = (raw["store"]["parquet_files"], "count")

    plans = []
    for p in raw["plans"]:
        t = p["start_ms"] * MS
        if any(o["start"] - MS <= t <= o["end"] + MS for o in loop):
            plans.append(p)
    m["catalyst.analysis_ms_per_op"] = (
        sum(p["analysis_ms"] for p in plans) / n, "ms")
    m["catalyst.optimizer_ms_per_op"] = (
        sum(p["optimization_ms"] for p in plans) / n, "ms")
    m["catalyst.planning_ms_per_op"] = (
        sum(p["planning_ms"] for p in plans) / n, "ms")
    m["catalyst.plans_per_op"] = (len(plans) / n, "count")

    tasks = sum(j["tasks"] for j in ljobs)
    run_ms = sum(j["run_ms"] for j in ljobs)
    gap = 0.0
    for o in loop:
        iv = [(j["submit_ms"] * MS, j["end_ms"] * MS) for j in ljobs
              if owner[j["id"]][0] == o["id"]]
        gap += (o["end"] - o["start"] - covered(iv, o["start"], o["end"])) / MS
    m["spark.jobs_per_op"] = (len(ljobs) / n, "count")
    m["spark.stages_per_op"] = (sum(j["stages"] for j in ljobs) / n, "count")
    m["spark.tasks_per_op"] = (tasks / n, "count")
    m["spark.empty_task_ratio"] = (
        sum(j["empty_tasks"] for j in ljobs) / tasks if tasks else 0.0, "ratio")
    m["spark.core_busy_ratio"] = (run_ms / (wall_ms * cores), "ratio")
    m["spark.driver_gap_ms_per_op"] = (gap / n, "ms")
    m["spark.task_cpu_s_per_op"] = (
        sum(j["cpu_ns"] for j in ljobs) / 1e9 / n, "s")
    m["spark.shuffle_bytes_per_op"] = (
        sum(j["shuffle_write_bytes"] for j in ljobs) / n, "bytes")
    m["spark.gc_ms"] = (raw["loop_gc_ms"], "ms")

    # the trace's own cost: the parse sibling spans it adds inside ops
    # plus the time its listeners spend on the bus
    traced_ms = sum((o["end"] - o["start"]) / MS for o in ops)
    added = sum(spans_ms("parse")) + raw["trace_handler_ms"]
    m["trace.overhead_ratio"] = (traced_ms / (traced_ms - added), "ratio")
    # share of the op wall the layer spans account for: what is left is
    # the self time of each op's root span (harness code between calls)
    st = self_times(spans)
    op_ids = {o["id"] for o in ops}
    root_self = sum(st[s["id"]] for s in spans
                    if s["parent"] < 0 and s["op"] in op_ids) / MS
    m["trace.span_coverage"] = (1 - root_self / traced_ms, "ratio")

    m["jvm.peak_rss_mb"] = (raw["peak_rss_mb"], "MB")
    setup = raw["setup"]
    m["setup.session_ms"] = (setup["session_ms"], "ms")
    m["setup.install_ms"] = (setup["install_ms"], "ms")
    m["setup.warmup_ms"] = (setup["warmup_ms"], "ms")
    return m
