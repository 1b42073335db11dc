"""Checkpointed stage execution with per-wave lineage + exact resume.

The PySpark re-expression of the reference's shard checkpointing
(score_curation/docta/core/preprocess.py:55-57 — save every N batches;
LLM_scoring/scoring_api.py:163 — per-batch API saves): input rows are
hashed into W waves; pending waves are processed in commit groups and
written via partition replacement keyed by wave_id (re-running a wave
replaces rather than duplicates), and a `_lineage` row per wave
records completion. A re-run with the same (run_id, stage) skips
completed waves and only processes the remainder — exact resume after
failure (north_rule requirement).

Scale shape (one commit group = the default):
  - ONE scan of the input per commit group (not per wave) — with the
    default `waves_per_commit=None` a fresh run scans the input
    exactly once regardless of n_waves;
  - per-wave input/output row counts come from `Observation` metrics
    riding the write job — no extra count() jobs, no output re-read;
  - resume filters the input to missing waves only and the read-back
    to valid waves only (partition-pruned on the `_wave` column), so
    stale partitions from a prior run with different n_waves can never
    leak into the result (a lineage row with wave >= n_waves fails
    fast instead).
`waves_per_commit` trades scans for failure granularity: 1 gives the
finest resume (a crash loses at most one wave) at W input scans; the
default gives one scan with stage-level resume.

Tables (FIXTURES.md §4):
  _lineage(run_id, stage, partition_id, input_rows, output_rows,
           started_at, finished_at, status)
  _metrics(run_id, stage, partition_id, metric, value)

Writes go through sources/iceberg.overwrite_partitions: with an
Iceberg catalog on the classpath they become snapshot-isolated
`writeTo(...).overwritePartitions()` on a real checkpoint table; this
container has no Iceberg jars, so the probed fallback produces the
same layout on partitioned Parquet (tests assert the fallback
engages).
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .iceberg import overwrite_partitions

LINEAGE_SCHEMA = (
    "run_id string, stage string, partition_id int, input_rows long, "
    "output_rows long, started_at double, finished_at double, status string"
)
METRICS_SCHEMA = "run_id string, stage string, partition_id int, metric string, value double"


def _lineage_dir(root: str) -> str:
    return os.path.join(root, "_lineage")


def _metrics_dir(root: str) -> str:
    return os.path.join(root, "_metrics")


def read_lineage(spark: SparkSession, root: str) -> DataFrame:
    path = _lineage_dir(root)
    if not os.path.exists(path):
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return spark.read.schema(LINEAGE_SCHEMA).parquet(path)


def read_metrics(spark: SparkSession, root: str) -> DataFrame:
    path = _metrics_dir(root)
    if not os.path.exists(path):
        return spark.createDataFrame([], METRICS_SCHEMA)
    return spark.read.schema(METRICS_SCHEMA).parquet(path)


def completed_waves(spark: SparkSession, root: str, run_id: str, stage: str) -> set[int]:
    rows = (
        read_lineage(spark, root)
        .filter(
            (F.col("run_id") == run_id)
            & (F.col("stage") == stage)
            & (F.col("status") == "done")
        )
        .select("partition_id")
        .collect()
    )
    return {int(r["partition_id"]) for r in rows}


def _wave_expr(n_waves: int):
    return F.pmod(F.hash(F.col("clip_id")), F.lit(n_waves)).cast("int")


def run_stage(
    spark: SparkSession,
    input_df: DataFrame,
    stage_fn: Callable[[DataFrame], DataFrame],
    root: str,
    run_id: str,
    stage: str,
    n_waves: int = 8,
    waves_per_commit: int | None = None,
    on_group_start: Callable[[str, list[int]], None] | None = None,
) -> DataFrame:
    """Process input in W checkpointed waves; resume skips completed
    waves. Returns the stage's full output DataFrame (all waves).

    stage_fn is called once per COMMIT GROUP (default: one group for
    all pending waves = one input scan) and may be narrow or
    shuffling; its output must still carry `clip_id` (the wave id is
    recomputed from it for partitioning, so shuffles are safe).

    on_group_start, if given, is called as (stage, waves) before any
    work on each commit group.

    Two contract rules, both ENFORCED not just documented:
      - stage_fn must not emit keys outside its input's wave group
        (no key rewrites / synthesized keys): on a partial-resume
        commit, out-of-group rows are filtered BEFORE the partition
        overwrite (so a completed wave's partition can never be
        clobbered with partial data) and their observed count raises
        after the write — the wave is NOT marked done.
      - stage_fn must be a pure lazy transform: if it ran its own
        action on the input (count/persist-and-count/limit sampling),
        that action would fulfil the input Observation early and the
        lineage input_rows would be wrong. The input counts therefore
        ride the SAME write job via a pre-stage observation point, and
        any early fulfilment is detectable as input_rows=0 with
        output_rows>0 in _lineage."""
    out_dir = os.path.join(root, stage)
    done = completed_waves(spark, root, run_id, stage)
    stale = {w for w in done if w >= n_waves}
    if stale:
        raise ValueError(
            f"checkpoint root {root!r} has completed waves {sorted(stale)} "
            f">= n_waves={n_waves}; it was written with a different wave "
            f"count — use a fresh root or the original n_waves"
        )
    pending = [w for w in range(n_waves) if w not in done]
    wpc = max(len(pending), 1) if waves_per_commit is None else max(waves_per_commit, 1)
    groups = [pending[i : i + wpc] for i in range(0, len(pending), wpc)]

    for grp in groups:
        if on_group_start is not None:
            # observability hook, fired BEFORE any work on the group:
            # lets a supervisor count waves *attempted* (committed or
            # lost to a crash), which lineage alone cannot see — the
            # failure drill uses it to measure its rework bound for
            # real instead of assuming it
            on_group_start(stage, list(grp))
        t0 = time.time()
        win = _wave_expr(n_waves)
        grp_in = input_df if len(grp) == n_waves else input_df.filter(win.isin(grp))
        in_obs = Observation(f"in_{uuid.uuid4().hex[:8]}")
        grp_in = grp_in.observe(
            in_obs,
            *[
                F.sum(F.when(win == w, 1).otherwise(0)).cast("long").alias(f"w{w}")
                for w in grp
            ],
        )
        out = stage_fn(grp_in).withColumn("_wave", _wave_expr(n_waves))
        out_obs = Observation(f"out_{uuid.uuid4().hex[:8]}")
        partial = len(grp) != n_waves
        out = out.observe(
            out_obs,
            *[
                F.sum(F.when(F.col("_wave") == w, 1).otherwise(0))
                .cast("long")
                .alias(f"w{w}")
                for w in grp
            ],
            F.sum(F.when(~F.col("_wave").isin(grp), 1).otherwise(0))
            .cast("long")
            .alias("_out_of_group"),
        )
        if partial:
            # a stage_fn that synthesizes keys outside its input waves
            # must never clobber an already-completed wave's partition
            out = out.filter(F.col("_wave").isin(grp))
        overwrite_partitions(out, out_dir, "_wave")
        t1 = time.time()
        in_counts = in_obs.get
        out_counts = out_obs.get
        bad = int(out_counts.get("_out_of_group") or 0)
        if bad:
            raise ValueError(
                f"stage {stage!r}: stage_fn emitted {bad} rows whose "
                f"clip_id hashes outside the commit group {sorted(grp)} "
                f"(key rewrite / synthesized keys). The rows were NOT "
                f"written and the group is NOT marked done — stage_fn must "
                f"preserve input keys (see run_stage contract)."
            )
        lineage_rows = [
            (run_id, stage, w, int(in_counts[f"w{w}"] or 0), int(out_counts[f"w{w}"] or 0), t0, t1, "done")
            for w in grp
        ]
        spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA).write.mode("append").parquet(
            _lineage_dir(root)
        )
        mrows = []
        for w in grp:
            n_in = int(in_counts[f"w{w}"] or 0)
            n_out = int(out_counts[f"w{w}"] or 0)
            metrics = {
                # group-granularity timing: waves in one commit share a job
                "rows_per_sec": n_out / max(t1 - t0, 1e-9),
                "input_rows": float(n_in),
                "output_rows": float(n_out),
            }
            mrows.extend((run_id, stage, w, k, float(v)) for k, v in metrics.items())
        spark.createDataFrame(mrows, METRICS_SCHEMA).write.mode("append").parquet(
            _metrics_dir(root)
        )

    # partition-pruned read-back restricted to THIS run's wave range —
    # stale partitions from a prior larger-n_waves run are excluded.
    # A stage whose output is entirely empty (e.g. a delta batch where
    # no row survives an upstream filter) writes NO files, so the
    # read-back cannot infer a schema; return an empty frame with the
    # stage's analyzed schema instead (stage_fn is lazy-pure by
    # contract, so deriving the schema is plan analysis, not work).
    try:
        read_back = spark.read.parquet(out_dir)
    except Exception:
        schema = stage_fn(input_df.limit(0)).schema
        return spark.createDataFrame([], schema)
    return read_back.filter(F.col("_wave") < n_waves).drop("_wave")
