"""Which ``jam_spark`` functions the traced run wraps, and how its spans
and event-log costs become the per-layer metrics
``<layer>.<step>.<metric>``.

Layers are named by module: ``sketch`` (``pipeline.sketch_stage``),
``pairs`` (``pairs.*``), ``cluster`` (``cluster.connected_components``),
``pipeline`` (the label join of ``pipeline.cluster_stage``),
``checkpoint`` (``CheckpointedDedup.run_*``) and ``ops``. A step's
``wall_s``/``cpu_s``/... are its self cost: nested traced calls are
reported under their own step. ``ops.*`` are whole-operator totals. A
step that a workload never calls reports 0.
"""

from __future__ import annotations

import statistics

from .eventlog import StepCost
from .tracer import Target, Tracer

PAIRS_STEPS = ("with_nid", "packed_bands", "thin_hot_bkeys", "candidate_pairs", "verify_pairs", "remap_pairs")
CHECKPOINT_STEPS = ("run_sketches", "run_bands", "run_pairs", "run_clusters")
OPS = (
    ("jam_spark.ops.dedup", "winnow_dup_pairs"),
    ("jam_spark.ops.dedup", "ngram_jaccard_pairs"),
    ("jam_spark.ops.dedup", "minhash_clusters"),
    ("jam_spark.ops.similarity", "ann_lsh_topk"),
)
CC = "cluster.connected_components"
CC_DRIVER = "cluster.path.driver"
CC_DISTRIBUTED = "cluster.path.distributed"


def targets() -> list[Target]:
    """Every binding through which a workload reaches a layer function.
    ``pipeline`` and ``checkpoint`` import the layer functions into their
    own namespaces (or, in ``checkpoint``'s methods, from ``pairs`` at
    call time), so each binding is wrapped."""
    ts = [
        Target("jam_spark.pipeline", "sketch_stage", "sketch.sketch_stage"),
        Target("jam_spark.checkpoint", "sketch_stage", "sketch.sketch_stage"),
    ]
    for step in PAIRS_STEPS:
        count_arg = 0 if step == "verify_pairs" else None
        for mod in ("jam_spark.pipeline", "jam_spark.pairs"):
            ts.append(Target(mod, step, f"pairs.{step}", count_arg=count_arg))
    for mod in ("jam_spark.pipeline", "jam_spark.checkpoint", "jam_spark.cluster"):
        ts.append(Target(mod, "connected_components", CC, count_arg=0))
    ts += [
        Target("jam_spark.cluster", "_cc_driver", CC_DRIVER, marker=True),
        Target("jam_spark.cluster", "_cc_distributed", CC_DISTRIBUTED, marker=True),
        Target("jam_spark.pipeline", "cluster_stage", "pipeline.label_join"),
    ]
    for step in CHECKPOINT_STEPS:
        ts.append(Target("jam_spark.checkpoint:CheckpointedDedup", step, f"checkpoint.{step}"))
    for mod, op in OPS:
        ts.append(Target(mod, op, f"ops.{op}"))
    return ts


_STEP_METRICS = (
    ("wall_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("udf_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("task_skew", "ratio", "lower"),
    ("rows_out", "count", "lower"),
)
_CHECKPOINT_METRICS = (
    ("wall_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("write_mb", "MB", "lower"),
    ("rows_written", "count", "lower"),
)
_OPS_METRICS = (("wall_s", "s", "lower"), ("cpu_s", "s", "lower"), ("shuffle_write_mb", "MB", "lower"))
_STEPS = ("sketch.sketch_stage", *(f"pairs.{s}" for s in PAIRS_STEPS), CC, "pipeline.label_join")


def metric_specs() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    specs = [(f"{step}.{m}", u, b) for step in _STEPS for m, u, b in _STEP_METRICS]
    specs += [
        ("sketch.reps_per_doc", "ratio", "lower"),
        ("pairs.thin_hot_bkeys.kept_ratio", "ratio", "lower"),
        ("pairs.verify_pairs.precision", "ratio", "higher"),
        ("cluster.driver_s", "s", "lower"),
        ("cluster.edges", "count", "lower"),
        ("cluster.path_distributed_share", "share", "lower"),
        ("cluster.iterations", "count", "lower"),
    ]
    specs += [(f"checkpoint.{s}.{m}", u, b) for s in CHECKPOINT_STEPS for m, u, b in _CHECKPOINT_METRICS]
    specs += [(f"ops.{op}.{m}", u, b) for _, op in OPS for m, u, b in _OPS_METRICS]
    specs += [
        ("trace.traced_job_s", "s", "lower"),
        ("trace.plain_job_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return specs


def _rep_metrics(tracer: Tracer, costs: dict[str, StepCost], rep: int, iterations: int) -> dict[str, float]:
    idx = [i for i, s in enumerate(tracer.spans) if s.rep == rep]
    out = {name: 0.0 for name, _, _ in metric_specs()}
    kids: dict[int, list[int]] = {}
    for i in idx:
        p = tracer.spans[i].parent
        if p is not None:
            kids.setdefault(p, []).append(i)

    def cost(i: int) -> StepCost:
        return costs.get(tracer.description(i), StepCost())

    def subtree(i: int) -> list[int]:
        todo, seen = [i], []
        while todo:
            j = todo.pop()
            seen.append(j)
            todo.extend(kids.get(j, []))
        return seen

    membership = candidates = n_cc = n_dist = 0
    for i in idx:
        s = tracer.spans[i]
        if s.marker:
            n_dist += s.name == CC_DISTRIBUTED
            continue
        c = cost(i)
        if s.name.startswith("ops."):
            tree = [cost(j) for j in subtree(i)]
            out[f"{s.name}.wall_s"] += s.end - s.start
            out[f"{s.name}.cpu_s"] += sum(t.cpu_s for t in tree)
            out[f"{s.name}.shuffle_write_mb"] += sum(t.shuffle_write_mb for t in tree)
            continue
        wall = tracer.self_seconds(i)
        if s.name.startswith("checkpoint."):
            out[f"{s.name}.wall_s"] += wall
            out[f"{s.name}.cpu_s"] += c.cpu_s
            out[f"{s.name}.shuffle_write_mb"] += c.shuffle_write_mb
            out[f"{s.name}.write_mb"] += c.written_mb
            out[f"{s.name}.rows_written"] += c.rows_written
            continue
        out[f"{s.name}.wall_s"] += wall
        out[f"{s.name}.cpu_s"] += c.cpu_s
        out[f"{s.name}.udf_s"] += c.udf_s
        out[f"{s.name}.shuffle_write_mb"] += c.shuffle_write_mb
        out[f"{s.name}.spill_mb"] += c.spill_mb
        out[f"{s.name}.task_skew"] = max(out[f"{s.name}.task_skew"], c.task_skew)
        out[f"{s.name}.rows_out"] += s.rows_out[0] if s.rows_out else 0
        if s.name == "sketch.sketch_stage" and len(s.rows_out) == 2:
            membership += s.rows_out[1]
        if s.name == "pairs.verify_pairs":
            candidates += s.rows_in or 0
        if s.name == CC:
            n_cc += 1
            out["cluster.driver_s"] += max(0.0, wall - c.job_wall_s)
            out["cluster.edges"] += s.rows_in or 0

    def share(num: float, den: float) -> float:
        return num / den if den else 0.0

    out["sketch.reps_per_doc"] = share(out["sketch.sketch_stage.rows_out"], membership)
    out["pairs.thin_hot_bkeys.kept_ratio"] = share(out["pairs.thin_hot_bkeys.rows_out"], out["pairs.packed_bands.rows_out"])
    out["pairs.verify_pairs.precision"] = share(out["pairs.verify_pairs.rows_out"], candidates)
    out["cluster.path_distributed_share"] = share(n_dist, n_cc)
    out["cluster.iterations"] = iterations
    return out


def collect(
    tracer: Tracer,
    costs: dict[str, StepCost],
    iterations: list[int],
    plain_s: list[float],
    traced_s: list[float],
) -> dict[str, float]:
    """Per-layer metrics: the median over traced jobs of each metric."""
    reps = [_rep_metrics(tracer, costs, r, it) for r, it in enumerate(iterations)]
    out = {name: statistics.median(r[name] for r in reps) for name, _, _ in metric_specs()}
    out["trace.traced_job_s"] = statistics.median(traced_s)
    out["trace.plain_job_s"] = statistics.median(plain_s)
    out["trace.overhead_s"] = out["trace.traced_job_s"] - out["trace.plain_job_s"]
    return out
