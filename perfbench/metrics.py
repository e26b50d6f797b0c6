"""Turns the harness's op records and spans into the reported metrics.

End-to-end metrics come from op latencies; per-layer metrics from the
spans of a traced run (see `attribute` for how an op's wall time is
split into layer self times).
"""
import math
import statistics

# Span name -> attribution priority: each instant of an op's window goes
# to the deepest (highest-priority) span covering it, so the self times
# of an op's spans add up to its wall time exactly.
PRIORITY = {"stage": 6, "job": 5, "stream.batch": 4, "plan.analysis": 3,
            "plan.optimization": 3, "plan.planning": 3, "op": 1}
STEP_PRIORITY = 2  # build / execute / versioned.* / sql.* steps


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    rank = max(1, math.ceil(q * len(xs)))
    return xs[rank - 1]


def beyond(values, q):
    """How many samples lie strictly beyond the q-th percentile's rank."""
    return len(values) - max(1, math.ceil(q * len(values)))


def min_samples(q, tail=10):
    """Fewest samples for which `tail` of them lie beyond percentile q."""
    n = 1
    while beyond(range(n), q) < tail:
        n += 1
    return n


def _union(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def group_spans(spans):
    """Op spans by op, and the other spans by op; a span without an op
    (plan phase, stream batch) goes to the op whose window holds its
    midpoint."""
    ops = {s["op"]: s for s in spans if s["name"] == "op"}
    windows = sorted((o["s"], o["e"], i) for i, o in ops.items())
    by_op = {i: [] for i in ops}
    for s in spans:
        if s["name"] == "op":
            continue
        op = s["op"]
        if op < 0:
            mid = (s["s"] + s["e"]) / 2
            op = next((i for lo, hi, i in windows if lo <= mid <= hi), -1)
        if op in by_op:
            by_op[op].append(s)
    return ops, by_op


def attribute(op_span, children):
    """Self time (µs) per span name inside one op's window."""
    lo, hi = op_span["s"], op_span["e"]
    clipped = []
    for c in children:
        s, e = max(lo, c["s"]), min(hi, c["e"])
        if e > s:
            clipped.append((s, e, PRIORITY.get(c["name"], STEP_PRIORITY),
                            c["name"]))
    cuts = sorted({lo, hi} | {s for s, _, _, _ in clipped}
                  | {e for _, e, _, _ in clipped})
    self_us = {}
    for a, b in zip(cuts, cuts[1:]):
        best = ("op", 1)
        for s, e, p, name in clipped:
            if s <= a and b <= e and p > best[1]:
                best = (name, p)
        self_us[best[0]] = self_us.get(best[0], 0) + (b - a)
    return self_us


def layer_table(spans):
    """Total self time (ms) per span name over all traced ops, and the
    ops' total wall time (ms)."""
    ops, by_op = group_spans(spans)
    table, wall = {}, 0.0
    for i, op in ops.items():
        wall += (op["e"] - op["s"]) / 1000
        for name, us in attribute(op, by_op[i]).items():
            table[name] = table.get(name, 0.0) + us / 1000
    return table, wall


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def per_layer(result, spans, cores):
    """Per-layer metrics of a traced run (means are per traced op)."""
    ops, by_op = group_spans(spans)
    n = max(1, len(ops))
    stages = [s for s in spans if s["name"] == "stage" and s["op"] in ops]
    jobs = [s for s in spans if s["name"] == "job" and s["op"] in ops]

    def stage_sum(key):
        return sum(s.get(key, 0) for s in stages)

    def op_attr(key):
        return _mean([o.get(key, 0) for o in ops.values()])

    def step_ms(prefix):
        return _mean([(s["e"] - s["s"]) / 1000 for s in spans
                      if s["name"].startswith(prefix)])

    wall_ms = sum((o["e"] - o["s"]) / 1000 for o in ops.values())
    job_ms = {i: _union([(j["s"], j["e"]) for j in jobs if j["op"] == i]) / 1000
              for i in ops}
    task_dur = stage_sum("task_dur_ms")
    plans = {k: sum((s["e"] - s["s"]) / 1000 for v in by_op.values()
                    for s in v if s["name"] == f"plan.{k}")
             for k in ("analysis", "optimization", "planning")}
    streams = [s for v in by_op.values() for s in v if s["name"] == "stream.batch"]
    m = {
        "session.start_s": result["session_start_s"],
        "session.warmup_s": result["warmup_s"],
        "entry.registry_ms": result.get("registry_ms", 0.0),
        "entry.build_ms": step_ms("build"),
        "plan.analysis_ms": plans["analysis"] / n,
        "plan.optimization_ms": plans["optimization"] / n,
        "plan.planning_ms": plans["planning"] / n,
        "codegen.compile_ms": op_attr("compile_ms"),
        "codegen.compiles": op_attr("compiles"),
        "jvm.jit_ms": op_attr("jit_ms"),
        "jvm.gc_ms": op_attr("gc_ms"),
        "sched.jobs": len(jobs) / n,
        "sched.stages": len(stages) / n,
        "sched.tasks": stage_sum("tasks") / n,
        "sched.task_wait_ms": stage_sum("task_wait_ms") / n,
        "sched.driver_gap_ms": (wall_ms - sum(job_ms.values())) / n,
        "sched.idle_core_ms": (cores * sum(job_ms.values()) - task_dur) / n,
        "exec.task_deser_ms": stage_sum("task_deser_ms") / n,
        "exec.task_run_ms": stage_sum("task_run_ms") / n,
        "exec.task_cpu_ms": stage_sum("task_cpu_ms") / n,
        "exec.task_gc_ms": stage_sum("task_gc_ms") / n,
        "exec.core_util": task_dur / (cores * wall_ms) if wall_ms else 0.0,
        "exec.task_failures": stage_sum("task_failures"),
        "scan.bytes": stage_sum("scan_bytes") / n,
        "scan.rows": stage_sum("scan_rows") / n,
        "shuffle.write_bytes": stage_sum("shuffle_write_bytes") / n,
        "shuffle.read_bytes": stage_sum("shuffle_read_bytes") / n,
        "shuffle.fetch_wait_ms": stage_sum("fetch_wait_ms") / n,
        "spill.bytes": stage_sum("spill_bytes") / n,
        "stream.batches": len(streams) / n,
        "stream.trigger_ms": sum(s.get("trigger_ms", 0) for s in streams) / n,
        "stream.state_commit_ms":
            sum(s.get("state_commit_ms", 0) for s in streams) / n,
        "sql.dml_ms": _mean([(s["e"] - s["s"]) / 1000 for s in spans
                             if s["name"] in ("sql.update", "sql.delete")]),
        "sql.read_ms": step_ms("sql.read"),
    }
    for call in ("commit", "merge", "merge_dv", "delete_dv", "compact",
                 "read"):
        m[f"versioned.{call}_ms"] = _mean(
            [(s["e"] - s["s"]) / 1000 for s in spans
             if s["name"] == f"versioned.{call}"])
    m["versioned.latest_version_ms"] = result.get("latest_version_ms", 0.0)
    return m


def slope_per_100(points):
    """Least-squares slope of y over x, times 100 (0 if undefined)."""
    if len(points) < 2:
        return 0.0
    xs, ys = zip(*points)
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return 100 * sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def trace_overhead(ops, key):
    """Traced ÷ untraced latency − 1: per `key` (same query, or same
    lake op kind) the ratio of medians, weighted by the untraced count."""
    tr, un = {}, {}
    for o in ops:
        (tr if o["traced"] else un).setdefault(key(o), []).append(o["lat_s"])
    num = den = 0.0
    for k in tr.keys() & un.keys():
        w = len(un[k])
        num += statistics.median(tr[k]) * w
        den += statistics.median(un[k]) * w
    return num / den - 1 if den else 0.0
