"""Where each traced layer is wrapped, and how one operation's spans
and status-store counters become per-layer metrics.

Span names are the benchmark's layer names; the module attribute is
the one the caller looks up at call time (``from x import f`` makes a
second attribute, so a function imported into two modules is wrapped
in both).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from catalog import CORE
from common import median
from spans import COUNTERS, Tracer, attribute, read_status, self_times, stage_task_ms, task_skew

CURATION_SPANS = (
    "pipeline.rules", "text.embed", "curation.pool", "curation.calibrate",
    "hoc.consensus", "hoc.solve", "votes.epochs", "votes.aggregate",
    "longtail.lt", "curation.score", "selection.select", "curation.write",
)
INCREMENTAL_SPANS = (
    "lineage.rules", "lineage.embed", "incremental.load_calibration",
    "incremental.write_snapshot", "incremental.drift",
    "incremental.read_snapshot", "incremental.finalize", "incremental.compact",
)
SKEW_SPANS = ("pipeline.rules", "text.embed", "longtail.lt", "lineage.rules", "lineage.embed")
SPANS = CURATION_SPANS + INCREMENTAL_SPANS
# counters that are zero on every run are not reported (they stay in
# the run record): spill_mb and failed_tasks everywhere at these sizes,
# task_s of the driver-only HOC solve, shuffle_mb of the solve and of
# the decisions write
PER_LAYER = (
    tuple(f"{s}.self_s" for s in SPANS)
    + tuple(f"{s}.task_s" for s in SPANS if s != "hoc.solve")
    + tuple(f"{s}.shuffle_mb" for s in SPANS if s not in ("hoc.solve", "curation.write"))
    + tuple(f"{s}.task_skew" for s in SKEW_SPANS)
    + tuple(f"catalog.{q}_s" for q in CORE)
    + ("votes.distinct_epochs_frac", "curation.pool_gate_frac",
       "trace.coverage_frac", "trace.wall_s", "process.peak_rss_mb")
)


def install_curation(tracer: Tracer) -> None:
    from ds2_spark.operators import hoc
    from ds2_spark.plans import curation

    tracer.wrap_factory(curation, "make_rules_stage", "pipeline.rules")
    tracer.wrap(curation, "embed_candidates", "text.embed")
    tracer.wrap(curation, "collect_pool", "curation.pool", keep=True)
    tracer.wrap(curation, "calibrate_rater", "curation.calibrate")
    tracer.wrap(hoc, "consensus_counts", "hoc.consensus")
    tracer.wrap(hoc, "solve_t", "hoc.solve")
    tracer.wrap(curation, "vote_epochs", "votes.epochs", keep=True)
    tracer.wrap(curation, "aggregate_votes", "votes.aggregate")
    tracer.wrap(curation, "curate_scores", "votes.aggregate")
    tracer.wrap(curation, "lt_scores", "longtail.lt")
    tracer.wrap(curation, "score_candidates", "curation.score")
    tracer.wrap(curation, "select_subset", "selection.select")


def install_incremental(tracer: Tracer) -> None:
    from ds2_spark.plans import incremental as inc

    def _stage_name(*args, **kwargs) -> str:
        stage = kwargs.get("stage", args[5] if len(args) > 5 else "")
        return "lineage.rules" if stage.startswith("rules") else "lineage.embed"

    tracer.wrap(inc, "run_stage", _stage_name, lazy_inside=True)
    tracer.wrap_factory(inc, "make_rules_stage", "pipeline.rules")
    tracer.wrap(inc, "embed_candidates", "text.embed")
    tracer.wrap(inc, "lt_scores", "longtail.lt")
    tracer.wrap(inc, "select_subset", "selection.select")
    tracer.wrap(inc, "load_calibration", "incremental.load_calibration")
    tracer.wrap(inc, "write_snapshot_batch", "incremental.write_snapshot")
    tracer.wrap(inc, "drift_report", "incremental.drift")
    tracer.wrap(inc, "read_snapshot", "incremental.read_snapshot")
    tracer.wrap(inc, "finalize_decisions", "incremental.finalize")
    tracer.wrap(inc, "compact_snapshot", "incremental.compact")


def op_layers(tracer: Tracer, spark, after_job: int, op_wall: float) -> dict[str, float]:
    """Per-layer numbers of one operation: ``<span>.self_s`` and the
    status-store counters summed over spans of the same name,
    ``<span>.task_skew`` (median over the span's calls of the dominant
    stage's slowest/median task time), and ``trace.coverage_frac``
    (top-level spans over the operation's wall time)."""
    selfs = self_times(tracer.spans)
    jobs, stages = read_status(spark, after_job)
    charged = attribute(jobs, stages)
    out: dict[str, float] = {}
    skews: dict[str, list[float]] = {}
    for s in tracer.spans:
        out[f"{s.name}.self_s"] = out.get(f"{s.name}.self_s", 0.0) + selfs[s.sid]
        acc = charged.get(s.sid)
        for c in COUNTERS:
            out[f"{s.name}.{c}"] = out.get(f"{s.name}.{c}", 0.0) + (acc[c] if acc else 0.0)
        if s.name in SKEW_SPANS and acc:
            multi = [st for st in acc["stages"] if st["run_ms"] > 0]
            if multi:
                top = max(multi, key=lambda st: st["run_ms"])
                skews.setdefault(s.name, []).append(task_skew(stage_task_ms(spark, top)))
    for name, vals in skews.items():
        out[f"{name}.task_skew"] = median(vals)
    top_level = sum(s.end - s.start for s in tracer.spans if s.parent is None)
    out["trace.coverage_frac"] = top_level / max(op_wall, 1e-9)
    return out


def waste_ratios(tracer: Tracer, pool_max: int, seed: int) -> dict[str, float]:
    """``votes.distinct_epochs_frac`` (distinct per-epoch vote sets over
    epochs run) and ``curation.pool_gate_frac`` (rows collected through
    the md5 gate over the pool cap), from the kept calls."""
    from ds2_spark.plans.curation import pool_gate_threshold, pool_hash_prefix

    out = {}
    if "votes.epochs" in tracer.kept:
        votes = tracer.kept["votes.epochs"][1]
        per_epoch = votes.groupBy("epoch").agg(
            F.sum(F.xxhash64("clip_id", "flagged", "suggested").cast("decimal(38,0)")).alias("h")
        )
        row = per_epoch.agg(F.count("*").alias("n"), F.countDistinct("h").alias("d")).collect()[0]
        out["votes.distinct_epochs_frac"] = row["d"] / max(row["n"], 1)
    if "curation.pool" in tracer.kept:
        emb_df = tracer.kept["curation.pool"][0][0]
        n = emb_df.count()
        gated = n
        if n > pool_max:
            gated = emb_df.filter(pool_hash_prefix(seed) < pool_gate_threshold(pool_max, n)).count()
        out["curation.pool_gate_frac"] = gated / pool_max
    return out
