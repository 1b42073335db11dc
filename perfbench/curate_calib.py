"""Workload ``curate_calib``: the one-shot curation pipeline
(``plans.curation.curation_pipeline``, persisted branch) over a seeded
single-file clips fixture, with ``bench.py``'s calibration settings,
decisions written to parquet.

Check (outside the timed work): every clip's ``keep``, ``reason`` and
``final_score`` equal the NumPy oracle
(``tests/oracle/ds2_oracle.curation_oracle``) and every scrubbed
transcript equals ``functions.scrub.scrub_py``. Both references are
computed once per seed and size and cached.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

import layers
from common import CACHE, ROOT, WORK, cached, fresh_dir
from spans import Tracer

N_CLIPS = 1000
# pool cap = HOC/vote sample size, below the ~850 rule-passing
# candidates of a 1,000-clip fixture, so the md5 gate and the driver cut
# of ``collect_pool`` run, as at bench.py's 20k clips with 5k caps
POOL_MAX = 500
WARMUP_CLIPS = 300


def config():
    from ds2_spark.config import (
        HocConfig,
        PipelineConfig,
        QualityConfig,
        SelectionConfig,
        VoteConfig,
    )
    from ds2_spark.operators.audio import FIXTURE_PCM16_ALIASES

    return PipelineConfig(
        hoc=HocConfig(rounds=10, sample_size=POOL_MAX, adam_steps=300),
        vote=VoteConfig(epochs=15, sample_size=POOL_MAX),
        selection=SelectionConfig(budget_frac=0.05),
        quality=QualityConfig(pcm16_alias_codecs=FIXTURE_PCM16_ALIASES),
        knn_pool_max=POOL_MAX,
    )


class CurateCalib:
    units_per_op = 1

    def __init__(self, seed: int):
        self.seed = seed
        self.cfg = config()
        self.out_dir = os.path.join(WORK, "curate_decisions")

    def setup(self, spark) -> None:
        from ds2_spark.fixtures import generate_all

        self.fixture = cached(
            f"curate_calib_s{self.seed}_n{N_CLIPS}",
            lambda d: generate_all(d, n=N_CLIPS, seed=self.seed,
                                   dur_median_ms=250.0, dur_max_ms=1000),
        )
        self.clips = spark.read.parquet(os.path.join(self.fixture, "clips.parquet"))
        self.scores = spark.read.parquet(os.path.join(self.fixture, "scores.parquet"))
        self.n_clips = self.clips.count()
        self.scores.count()

    def warmup(self, spark) -> None:
        """One untimed pipeline run over the first WARMUP_CLIPS clips:
        starts the Python workers and compiles every stage's plan."""
        from pyspark.sql import functions as F

        head = self.clips.filter(F.col("clip_id") < f"clip_{WARMUP_CLIPS:012d}")
        for df in self._run(spark, None, head)["_persisted"]:
            df.unpersist()

    def _run(self, spark, tracer: Tracer | None, clips=None) -> dict:
        from ds2_spark.plans.curation import curation_pipeline

        clips = self.clips if clips is None else clips
        res = curation_pipeline(spark, clips, self.scores, self.cfg)
        if tracer is None:
            res["decisions"].write.mode("overwrite").parquet(self.out_dir)
        else:
            with tracer.span("curation.write"):
                res["decisions"].write.mode("overwrite").parquet(self.out_dir)
        return res

    def install(self, tracer: Tracer) -> None:
        layers.install_curation(tracer)

    def op(self, spark, tracer: Tracer | None, clock) -> dict:
        t0 = clock()
        res = self._run(spark, tracer)
        wall = clock() - t0
        return {"wall": wall, "batches": [wall], "clips": self.n_clips,
                "attempted": 1, "res": res}

    def waste(self, tracer: Tracer) -> dict[str, float]:
        return layers.waste_ratios(tracer, POOL_MAX, self.cfg.seed)

    def check(self, spark, out: dict) -> list[str]:
        """Problems found in the run's outputs (empty when correct)."""
        from ds2_spark.operators.hoc import t_given_noisy

        res = out["res"]
        noise = 1.0 - np.diag(t_given_noisy(res["hoc"]))
        ref = self._reference(noise)
        problems = []
        if not np.allclose(noise, ref["noise_rates"], rtol=0, atol=1e-12):
            problems.append("HOC noise rates differ from the cached reference run")
        got = pq.read_table(self.out_dir, columns=["clip_id", "keep", "reason", "final_score"])
        dec = {c: (k, r, s) for c, k, r, s in zip(*(got.column(i).to_pylist() for i in range(4)))}
        exp = ref["decisions"]
        if set(dec) != set(exp):
            problems.append(f"decision ids differ: {len(dec)} vs {len(exp)} expected")
        bad = [c for c, (keep, reason, score) in exp.items() if c in dec and (
            dec[c][:2] != (keep, reason) or (score is not None and dec[c][2] != score))]
        if bad:
            problems.append(f"{len(bad)} clips differ from the oracle, e.g. {bad[:3]}")
        scrubbed = {r["clip_id"]: r["transcript_scrubbed"]
                    for r in res["rules"].select("clip_id", "transcript_scrubbed").collect()}
        bad_scrub = [c for c, t in ref["scrubbed"].items() if scrubbed.get(c) != t]
        if bad_scrub:
            problems.append(f"{len(bad_scrub)} scrubbed transcripts differ, e.g. {bad_scrub[:3]}")
        for df in res["_persisted"]:
            df.unpersist()
        return problems

    def _reference(self, noise_rates: np.ndarray) -> dict:
        """Oracle decisions and scrubbed transcripts for this fixture,
        cached beside it (first computed with the given noise rates)."""
        path = os.path.join(CACHE, f"curate_calib_s{self.seed}_n{N_CLIPS}_ref.json")
        if not os.path.exists(path):
            sys.path.insert(0, os.path.join(ROOT, "tests"))
            from oracle import ds2_oracle

            from ds2_spark.functions.scrub import scrub_py

            clips = os.path.join(self.fixture, "clips.parquet")
            o = ds2_oracle.curation_oracle(
                clips, os.path.join(self.fixture, "scores.parquet"),
                noise_rates, self.cfg, "rater_a",
            )
            tbl = pq.read_table(clips, columns=["clip_id", "transcript"])
            scrubbed = {c: (None if t is None else scrub_py(t)) for c, t in zip(
                tbl.column("clip_id").to_pylist(), tbl.column("transcript").to_pylist())}
            tmp = path + ".partial"
            with open(tmp, "w") as f:
                json.dump({"noise_rates": noise_rates.tolist(),
                           "decisions": o["decisions"], "scrubbed": scrubbed}, f, default=int)
            os.rename(tmp, path)
        with open(path) as f:
            ref = json.load(f)
        ref["noise_rates"] = np.asarray(ref["noise_rates"])
        return ref

    def cleanup(self) -> None:
        fresh_dir(self.out_dir)
