"""Pure arithmetic of the benchmark: percentiles, span self time and the
per-op layer split. Kept free of I/O so test_perfbench.py can check it on
synthetic inputs."""
import math
import statistics
from fractions import Fraction

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def rank(p, n):
    """1-based nearest rank of the p-th percentile of n samples, in exact
    arithmetic (99.9 / 100 * 10000 is not 9990 in floating point)."""
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def tail(values, min_beyond=10):
    """The highest percentile of TAIL_LADDER with at least `min_beyond`
    samples above its rank, as (percentile, value); None when even the
    median has fewer than `min_beyond` samples beyond it."""
    s = sorted(values)
    for p in TAIL_LADDER:
        if len(s) - rank(p, len(s)) >= min_beyond:
            return p, s[rank(p, len(s)) - 1]
    return None


def median(values):
    return statistics.median(values) if values else 0.0


def self_times(spans):
    """Self time per span id: the span's duration minus the part of its
    interval covered by its children (overlapping children count once).

    `spans` is an iterable of (id, parent, op, name, start, end)."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for s in spans:
        sid, start, end = s[0], s[4], s[5]
        covered, cur_a, cur_b = 0, None, None
        for c in sorted(children.get(sid, []), key=lambda c: c[4]):
            a, b = max(c[4], start), min(c[5], end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[sid] = (end - start) - covered
    return out


def layer_self_ms(spans):
    """{op id: {span name: summed self time in ms}} for every op."""
    st = self_times(spans)
    out = {}
    for s in spans:
        per = out.setdefault(s[2], {})
        per[s[3]] = per.get(s[3], 0.0) + st[s[0]] / 1e6
    return out


def op_exec_totals(stages):
    """Execution totals per op from the listener's per-stage records,
    plus the skew (max ÷ median task time) of the op's slowest stage."""
    out = {}
    for st in stages:
        t = out.setdefault(st["op"], {
            "stages": 0, "tasks": 0, "task_ms": 0, "task_cpu_ms": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "input_bytes": 0, "input_rows": 0,
            "scan_tasks": 0, "failed_tasks": 0, "wait_ms": 0,
            "_slowest": (-1, None)})
        if st["tasks"] == 0:
            continue
        t["stages"] += 1
        t["tasks"] += st["tasks"]
        t["task_ms"] += st["run_ms"]
        t["task_cpu_ms"] += st["cpu_ns"] / 1e6
        for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "input_bytes", "input_rows", "scan_tasks", "failed_tasks",
                  "wait_ms"):
            t[k] += st[k]
        wall = st["completed"] - st["submitted"]
        if wall > t["_slowest"][0]:
            t["_slowest"] = (wall, st["durations"])
    for t in out.values():
        d = t.pop("_slowest")[1]
        t["skew"] = (max(d) / max(statistics.median(d), 1)) if d else 0.0
        t["sched_wait_ms"] = t.pop("wait_ms") / t["tasks"] if t["tasks"] else 0.0
    return out

