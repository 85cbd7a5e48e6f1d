"""Turns a run's ``result.json`` and ``spans.json`` into the benchmark's
metrics. Pure functions, so the arithmetic is testable without Spark.

Span tree: ``pass → op → build | execute → job → stage``, plus ``plan.*``
phases and point events (``plan``, ``aqe``, ``stream``, ``persisted``) that
are attached to the innermost harness span containing their start.
"""
import math
import statistics

MIB = 1024.0 * 1024.0

# Kinds the harness opens; spans recorded without a parent attach to the
# innermost of these that contains them.
HARNESS_KINDS = ("setup", "pass", "op", "build", "execute")
MR_OPS = ("mr_wc", "mr_indexer")

E2E_UNITS = {"setup_s": "s", "pass_cpu_s": "s"}

LAYER_UNITS = {
    "tables.session_ms": "ms", "tables.load_ms": "ms", "tables.load_jobs": "count",
    "build.ms": "ms", "build.jobs": "count", "build.share": "frac",
    "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "plan.logical_nodes": "count", "plan.aqe_replans": "count",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.sched_delay_ms": "ms",
    "exec.driver_gap_ms": "ms", "exec.core_util": "frac", "exec.task_failures": "count",
    "shuffle.write_mb": "MiB", "shuffle.read_mb": "MiB", "shuffle.records": "count",
    "shuffle.write_ms": "ms", "shuffle.spill_mb": "MiB",
    "scan.input_mb": "MiB", "scan.records": "count",
    "mr.map_task_ms": "ms", "mr.reduce_task_ms": "ms", "mr.kv_per_token": "ratio",
    "mr.sink_mb": "MiB",
    "stage.output_mb": "MiB", "stage.persisted_mb": "MiB",
    "stream.batches": "count",
    "jvm.jit_ms": "ms", "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MiB",
    "trace.overhead_frac": "frac",
}


def percentile(values, q, min_beyond=10):
    """The nearest-rank q-quantile (0 < q < 1) of ``values`` with its sample
    count, or ``None`` when fewer than ``min_beyond`` samples lie above it:
    a tail figure is only reported when enough samples stand behind it."""
    xs = sorted(values)
    n = len(xs)
    rank = max(0, math.ceil(q * n) - 1)
    if n - 1 - rank < min_beyond:
        return None
    return {"value": xs[rank], "n": n}


def reportable_percentiles(values):
    """The median and the highest of p75/p90/p95/p99 the rule allows."""
    out = {}
    med = percentile(values, 0.5)
    if med:
        out["p50"] = med
    for name, q in (("p99", 0.99), ("p95", 0.95), ("p90", 0.90), ("p75", 0.75)):
        p = percentile(values, q)
        if p:
            out[name] = p
            break
    return out


def covered(interval, children):
    """Length of the part of ``interval`` covered by the union of ``children``
    (all ``(start, end)`` pairs)."""
    lo, hi = interval
    clipped = sorted((max(lo, s), min(hi, e)) for s, e in children if min(hi, e) > max(lo, s))
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part its children cover."""
    return (span["end_us"] - span["start_us"]) - covered(
        (span["start_us"], span["end_us"]), [(c["start_us"], c["end_us"]) for c in children])


class Tree:
    """Index over a span list: children by parent, with orphans attached to
    the innermost harness span that contains their start time."""

    def __init__(self, spans):
        self.children = {}
        harness = sorted((s for s in spans if s["kind"] in HARNESS_KINDS),
                         key=lambda s: s["end_us"] - s["start_us"])
        for s in spans:
            parent = s["parent"]
            if parent == 0 and s["kind"] not in ("setup", "pass"):
                parent = next((h["id"] for h in harness
                               if h["id"] != s["id"] and h["start_us"] <= s["start_us"] <= h["end_us"]), 0)
                s["parent"] = parent
            self.children.setdefault(parent, []).append(s)

    def kids(self, span, kind=None):
        return [c for c in self.children.get(span["id"], []) if kind is None or c["kind"] == kind]

    def descendants(self, span, kind=None):
        out, stack = [], list(self.children.get(span["id"], []))
        while stack:
            s = stack.pop()
            if kind is None or s["kind"] == kind:
                out.append(s)
            stack.extend(self.children.get(s["id"], []))
        return out


def _ms(span):
    return (span["end_us"] - span["start_us"]) / 1000.0


def _attr(spans, key):
    return sum(s["attrs"].get(key, 0.0) for s in spans)


def pass_layers(tree, pass_span, cores, tokens):
    """Per-layer figures of one traced pass."""
    stages = tree.descendants(pass_span, "stage")
    jobs = tree.descendants(pass_span, "job")
    builds = tree.descendants(pass_span, "build")
    executes = tree.descendants(pass_span, "execute")
    pass_ms = _ms(pass_span)
    run_ms = _attr(stages, "run_ms")

    def plan_ms(phase):
        return sum(_ms(s) for s in tree.descendants(pass_span, "plan." + phase))

    gap_ms = 0.0
    for ex in executes:
        blocking = [c for c in tree.kids(ex) if c["kind"] == "job" or c["kind"].startswith("plan.")]
        gap_ms += self_time(ex, blocking) / 1000.0

    map_side = [s for s in stages if s["attrs"].get("shuffle_write_bytes", 0) > 0
                and s["attrs"].get("shuffle_read_bytes", 0) == 0]
    reduce_side = [s for s in stages if s["attrs"].get("shuffle_read_bytes", 0) > 0]
    mr_ops = [o for o in tree.kids(pass_span, "op") if o["name"] in MR_OPS]
    mr_stages = [s for o in mr_ops for s in tree.descendants(o, "stage")]
    mr_map_records = sum(s["attrs"].get("shuffle_write_records", 0) for s in mr_stages
                         if s["attrs"].get("shuffle_read_bytes", 0) == 0)
    persisted = [s["attrs"]["bytes"] for s in tree.descendants(pass_span, "persisted")]

    return {
        "build.ms": sum(_ms(b) for b in builds),
        "build.jobs": sum(len(tree.descendants(b, "job")) for b in builds),
        "build.share": sum(_ms(b) for b in builds) / pass_ms if pass_ms else 0.0,
        "plan.optimization_ms": plan_ms("optimization"),
        "plan.planning_ms": plan_ms("planning"),
        "plan.logical_nodes": _attr(tree.descendants(pass_span, "plan"), "nodes"),
        "plan.aqe_replans": float(len(tree.descendants(pass_span, "aqe"))),
        "exec.jobs": float(len(jobs)),
        "exec.stages": float(len(stages)),
        "exec.tasks": _attr(stages, "tasks"),
        "exec.task_run_ms": run_ms,
        "exec.task_cpu_ms": _attr(stages, "cpu_ms"),
        "exec.sched_delay_ms": _attr(stages, "sched_delay_ms"),
        "exec.driver_gap_ms": gap_ms,
        "exec.core_util": run_ms / (pass_ms * cores) if pass_ms else 0.0,
        "exec.task_failures": _attr(stages, "task_failures"),
        "shuffle.write_mb": _attr(stages, "shuffle_write_bytes") / MIB,
        "shuffle.read_mb": _attr(stages, "shuffle_read_bytes") / MIB,
        "shuffle.records": _attr(stages, "shuffle_write_records"),
        "shuffle.write_ms": _attr(stages, "shuffle_write_ms"),
        "shuffle.spill_mb": _attr(stages, "spill_bytes") / MIB,
        "scan.input_mb": _attr(stages, "input_bytes") / MIB,
        "scan.records": _attr(stages, "input_records"),
        "mr.map_task_ms": _attr(map_side, "run_ms"),
        "mr.reduce_task_ms": _attr(reduce_side, "run_ms"),
        "mr.kv_per_token": mr_map_records / (tokens * len(mr_ops)) if tokens and mr_ops else 0.0,
        "mr.sink_mb": sum(_attr(tree.descendants(e, "stage"), "output_bytes")
                          for o in mr_ops for e in tree.kids(o, "execute")) / MIB,
        "stage.output_mb": sum(_attr(tree.descendants(b, "stage"), "output_bytes") for b in builds) / MIB,
        "stage.persisted_mb": max(persisted, default=0.0) / MIB,
        "stream.batches": float(len(tree.descendants(pass_span, "stream"))),
    }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(result, spans):
    """Per-layer metrics of a traced run: the mean over its traced measured
    passes; codegen over every traced pass (cold included, since warm
    passes of a small plan set compile nothing); ``tables.*`` from set-up."""
    tree = Tree(spans)
    pass_spans = {int(s["name"].split()[-1]): s for s in spans if s["kind"] == "pass"}
    passes = result["passes"]
    warm_traced = [p for p in passes if p["traced"] and p["phase"] == "measured"]
    rows = [pass_layers(tree, pass_spans[p["index"]], result["cores"], result.get("tokens", 0))
            for p in warm_traced]
    out = {k: statistics.fmean(r[k] for r in rows) for k in rows[0]}
    traced = [p for p in passes if p["traced"]]
    out["codegen.compiles"] = statistics.fmean(p["counters"]["codegen_compiles"] for p in traced)
    out["codegen.compile_ms"] = statistics.fmean(p["counters"]["codegen_ms"] for p in traced)
    for key, counter in (("jvm.jit_ms", "jit_ms"), ("jvm.gc_ms", "gc_ms"),
                         ("jvm.heap_peak_mb", "heap_peak_mb")):
        out[key] = statistics.fmean(p["counters"][counter] for p in warm_traced)
    setup_spans = [s for s in spans if s["kind"] == "setup"]
    out["tables.session_ms"] = _median([s["session_ms"] for s in result["setups"]])
    out["tables.load_ms"] = _median([s["load_ms"] for s in result["setups"]])
    out["tables.load_jobs"] = float(sum(len(tree.descendants(s, "job")) for s in setup_spans))
    out["trace.overhead_frac"] = trace_overhead(passes)
    return out


def trace_overhead(passes):
    """Median over traced measured passes of wall ÷ the mean wall of the
    untraced passes on either side, minus 1; comparing with both neighbours
    cancels a steady warm-up trend."""
    walls = {p["index"]: p["wall_s"] for p in passes}
    ratios = [p["wall_s"] / ((walls[p["index"] - 1] + walls[p["index"] + 1]) / 2.0)
              for p in passes if p["traced"] and p["phase"] == "measured" and p["index"] + 1 in walls]
    return statistics.median(ratios) - 1.0


def measured(result):
    return [p for p in result["passes"] if p["phase"] == "measured"]


def end_to_end(result):
    """``setup_s``: median of the run's set-ups (the first counts from JVM
    start); ``pass_cpu_s``: median over measured passes of the CPU time of
    every JVM thread except the JIT compiler threads."""
    return {
        "setup_s": _median([s["setup_s"] for s in result["setups"]]),
        "pass_cpu_s": _median([(p["counters"]["cpu_ms"] - p["counters"]["jit_cpu_ms"]) / 1000.0
                               for p in measured(result)]),
    }


def pass_wall(result):
    """Median wall time of a measured pass."""
    return _median([p["wall_s"] for p in measured(result)])


def op_latencies(result):
    """Per-operation wall times over the measured passes."""
    return [o["s"] for p in measured(result) for o in p["ops"] if o["ok"]]
