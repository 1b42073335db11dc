"""Failure injection on the FULL curation pipeline's lineage resume
path (not just the toy stage of test_resume.py): an executor-side
failure mid-embed-stage crashes the checkpointed run; the resumed run
reprocesses ONLY the missing waves and produces decisions identical to
a clean run.

Reference parity target: score_curation/docta/core/preprocess.py:55-57
(save every N batches) — a crashed reference run restarted from its
shard files reproduces the same outputs; here the _lineage protocol
must do the same through the real pipeline (rules -> embed ->
calibration -> selection).

Determinism note (why engine==engine comparison is exact here): with
fixture_n < cfg.knn_pool_max, collect_pool takes ALL candidate
embeddings and canonicalizes order by clip_id, so no sampling RNG and
no partition-layout dependence separates the checkpointed run (which
reads embeddings back from parquet) from the in-memory oneshot.
"""

import pytest
from pyspark.sql import functions as F

import ds2_spark.plans.curation as cur
from ds2_spark.config import (
    HocConfig,
    PipelineConfig,
    QualityConfig,
    SelectionConfig,
    VoteConfig,
)
from ds2_spark.operators.audio import FIXTURE_PCM16_ALIASES
from ds2_spark.sources.lineage import read_lineage

SMALL = PipelineConfig(
    hoc=HocConfig(rounds=10, sample_size=500, adam_steps=600),
    vote=VoteConfig(epochs=12, k=5, sample_size=500),
    selection=SelectionConfig(budget_frac=0.10),
    quality=QualityConfig(pcm16_alias_codecs=FIXTURE_PCM16_ALIASES),
    embed_dim=64,
)

N_WAVES = 4


def _decisions(result) -> list[tuple]:
    rows = sorted(
        (r["clip_id"], r["keep"], r["reason"], r["final_score"])
        for r in result["decisions"].collect()
    )
    for df in result["_persisted"]:
        df.unpersist()
    return rows


def _lineage_counts(spark, root) -> dict[str, int]:
    rows = (
        read_lineage(spark, root)
        .filter(F.col("status") == "done")
        .groupBy("stage")
        .count()
        .collect()
    )
    return {r["stage"]: r["count"] for r in rows}


def _poison_candidate(oneshot_rules, wave: int) -> str:
    """A candidate clip whose embed-stage wave is `wave` (the wave ids
    the lineage protocol computes: pmod(hash(clip_id), N_WAVES))."""
    row = (
        oneshot_rules.filter(F.col("keep_rules"))
        .select("clip_id")
        .withColumn("_w", F.pmod(F.hash("clip_id"), F.lit(N_WAVES)).cast("int"))
        .filter(F.col("_w") == wave)
        .orderBy("clip_id")
        .limit(1)
        .collect()
    )
    assert row, f"fixture has no candidate in wave {wave}"
    return row[0]["clip_id"]


def test_executor_failure_mid_embed_resumes_exact(
    spark, clips_df, fixture_paths, tmp_path, monkeypatch
):
    scores = spark.read.parquet(fixture_paths["scores"])

    oneshot = cur.curation_pipeline(spark, clips_df, scores, SMALL, rater="rater_a")
    poison_id = _poison_candidate(oneshot["rules"], wave=N_WAVES - 1)
    expected = _decisions(oneshot)

    # ---- crashing checkpointed run: an executor-side error (a task
    # raises inside the embed stage's write job) on the LAST wave, at
    # the finest commit granularity so earlier waves are committed.
    root = str(tmp_path / "ckpt")
    real_embed = cur.embed_candidates

    def poisoned_embed(df, cfg):
        out = real_embed(df, cfg)
        return out.withColumn(
            "embedding",
            F.when(
                F.col("clip_id") == poison_id, F.raise_error(F.lit("boom"))
            ).otherwise(F.col("embedding")),
        )

    monkeypatch.setattr(cur, "embed_candidates", poisoned_embed)
    with pytest.raises(Exception, match="boom"):
        cur.curation_pipeline(
            spark, clips_df, scores, SMALL, rater="rater_a",
            checkpoint_root=root, run_id="run1",
            n_waves=N_WAVES, waves_per_commit=1,
        )
    counts = _lineage_counts(spark, root)
    assert counts["rules"] == N_WAVES            # rules fully checkpointed
    assert counts["embed"] == N_WAVES - 1        # crash lost exactly one wave

    # ---- resume: same root + run_id, healthy stage_fn.
    monkeypatch.setattr(cur, "embed_candidates", real_embed)
    resumed = cur.curation_pipeline(
        spark, clips_df, scores, SMALL, rater="rater_a",
        checkpoint_root=root, run_id="run1",
        n_waves=N_WAVES, waves_per_commit=1,
    )
    counts2 = _lineage_counts(spark, root)
    assert counts2["rules"] == N_WAVES           # rules NOT reprocessed
    assert counts2["embed"] == N_WAVES           # only the missing wave ran
    assert _decisions(resumed) == expected

    # ---- a further rerun is a lineage no-op and still exact
    rerun = cur.curation_pipeline(
        spark, clips_df, scores, SMALL, rater="rater_a",
        checkpoint_root=root, run_id="run1",
        n_waves=N_WAVES, waves_per_commit=1,
    )
    assert _lineage_counts(spark, root) == counts2
    assert _decisions(rerun) == expected


def test_crash_between_stages_resumes_exact(
    spark, clips_df, fixture_paths, tmp_path, monkeypatch
):
    """Driver-side crash AFTER rules fully committed but BEFORE embed
    starts (e.g. the driver process dies between stages): the resumed
    run skips rules entirely and matches the clean oneshot."""
    scores = spark.read.parquet(fixture_paths["scores"])
    expected = _decisions(
        cur.curation_pipeline(spark, clips_df, scores, SMALL, rater="rater_a")
    )

    root = str(tmp_path / "ckpt2")
    real_embed = cur.embed_candidates

    def bomb(df, cfg):
        raise RuntimeError("driver died between stages")

    monkeypatch.setattr(cur, "embed_candidates", bomb)
    with pytest.raises(RuntimeError, match="driver died"):
        cur.curation_pipeline(
            spark, clips_df, scores, SMALL, rater="rater_a",
            checkpoint_root=root, run_id="run1", n_waves=N_WAVES,
        )
    assert _lineage_counts(spark, root) == {"rules": N_WAVES}

    monkeypatch.setattr(cur, "embed_candidates", real_embed)
    resumed = cur.curation_pipeline(
        spark, clips_df, scores, SMALL, rater="rater_a",
        checkpoint_root=root, run_id="run1", n_waves=N_WAVES,
    )
    counts = _lineage_counts(spark, root)
    assert counts == {"rules": N_WAVES, "embed": N_WAVES}
    assert _decisions(resumed) == expected


def _cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


@pytest.mark.parametrize("checkpointed", [False, True], ids=["persisted", "checkpointed"])
def test_persisted_list_releases_every_cache_entry(
    spark, clips_df, fixture_paths, tmp_path, checkpointed
):
    """`_persisted` names every frame the pipeline caches: unpersisting
    them leaves the session's cache manager no larger than before the
    call, whichever way the per-row stages were materialized."""
    scores = spark.read.parquet(fixture_paths["scores"])
    kwargs = (
        {"checkpoint_root": str(tmp_path / "ckpt"), "n_waves": N_WAVES}
        if checkpointed
        else {}
    )
    before = _cache_entries(spark)
    res = cur.curation_pipeline(spark, clips_df, scores, SMALL, rater="rater_a", **kwargs)
    assert _cache_entries(spark) > before
    for df in res["_persisted"]:
        df.unpersist()
    assert _cache_entries(spark) <= before
