"""Arithmetic of the benchmark: percentiles, span self time and the aggregation of
Spark listener records. Pure functions over plain data, so they can be tested alone."""

import math
import statistics

# A percentile is reported only with at least this many samples beyond it.
TAIL_SAMPLES = 10


def median(xs):
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank p-th percentile (0 < p < 1) of xs. Refuses when fewer than
    TAIL_SAMPLES samples lie beyond it, since such a tail is one or two outliers."""
    xs = sorted(xs)
    n = len(xs)
    rank = max(1, math.ceil(p * n - 1e-9))
    if n - rank < TAIL_SAMPLES:
        raise ValueError(
            f"p{round(p * 100)} of {n} samples has {n - rank} beyond it; "
            f"{TAIL_SAMPLES} are needed")
    return xs[rank - 1]


def self_time(span, spans):
    """Duration of `span` less the part of its interval covered by its children.
    Children may overlap one another (threads) and may spill past the parent; only
    the union of their clipped intervals is subtracted. Times in ns."""
    lo, hi = span["start_ns"], span["end_ns"]
    kids = sorted(
        (max(lo, s["start_ns"]), min(hi, s["end_ns"]))
        for s in spans if s["parent"] == span["id"])
    covered, cur_lo, cur_hi = 0, None, None
    for a, b in kids:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


def task_skew(run_ms):
    """Slowest task over the median task: 1.0 when balanced."""
    med = median(run_ms)
    return max(run_ms) / med if med > 0 else 1.0


def stage_summary(listener, groups=None):
    """Map and reduce figures over the stages of the jobs in `groups` (all jobs when
    None). A map stage writes shuffle output and reads none; a reduce stage reads it."""
    stage_ids = set()
    for job in listener["jobs"]:
        if groups is None or job["group"] in groups:
            stage_ids.update(job["stages"])
    tasks = {}
    for t in listener["tasks"]:
        if t["stage"] in stage_ids:
            tasks.setdefault(t["stage"], []).append(t)
    wall = {}
    for s in listener["stages"]:
        if s["stage"] in tasks:
            wall[s["stage"]] = wall.get(s["stage"], 0) + (s["done_ms"] - s["submit_ms"]) / 1e3
    maps = [sid for sid, ts in tasks.items()
            if sum(t["sw_bytes"] for t in ts) > 0 and sum(t["sr_records"] for t in ts) == 0]
    reduces = [sid for sid, ts in tasks.items() if sum(t["sr_records"] for t in ts) > 0]

    def tasks_of(ids):
        return [t for sid in ids for t in tasks[sid]]

    def side(ids):
        ts = tasks_of(ids)
        return {
            "stage_s": sum(wall.get(sid, 0.0) for sid in ids),
            "cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
            "task_skew": task_skew([t["run_ms"] for t in ts]) if ts else 0.0,
        }

    everything = tasks_of(tasks)
    out = {"map." + k: v for k, v in side(maps).items()}
    out.update({"reduce." + k: v for k, v in side(reduces).items()})
    out.update({
        "shuffle.bytes": sum(t["sw_bytes"] for t in tasks_of(maps)),
        "shuffle.records": sum(t["sw_records"] for t in tasks_of(maps)),
        "shuffle.write_s": sum(t["sw_time_ns"] for t in tasks_of(maps)) / 1e9,
        "shuffle.fetch_wait_s": sum(t["sr_wait_ms"] for t in tasks_of(reduces)) / 1e3,
        "spill.bytes": sum(t["spill_bytes"] for t in everything),
        "exec_mem.peak_bytes": max((t["peak_mem"] for t in everything), default=0),
    })
    return out


def steal_pct(before, after):
    """CPU steal as a percentage of all jiffies between two /proc/stat 'cpu' rows."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return 100.0 * delta[7] / total if total > 0 and len(delta) > 7 else 0.0
