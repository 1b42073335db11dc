"""Workload ``delta_ingest``: checkpointed delta batches under a frozen
calibration (``plans.incremental``).

Set-up bootstraps a base corpus (``bootstrap_curation``, the batch-0
calibration fit). One operation then copies that bootstrapped state,
submits ``N_BATCHES`` deltas through ``incremental_update`` (each
timed from the call until its decisions are written) and ends with one
``compact_snapshot``.

Inputs, from the seed: a single-file base, and deltas of several
parquet files each, with a hot-language mix, 2% long-tail transcripts
and ~20% re-crawled ``clip_id``s (new content for an earlier clip, so
the snapshot's last-writer-wins merge has work to do).

Check (outside the timed work): each batch's decisions cover exactly
the distinct clips seen so far, and the last batch's decisions equal a
one-pass ``apply_frozen`` + ``finalize_decisions`` over the
last-writer-wins-merged corpus under the same frozen calibration.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import layers
from common import CACHE, WORK, cached, fresh_dir
from curate_calib import POOL_MAX, config
from spans import Tracer

N_BASE = 400
N_BATCHES = 2
N_DELTA = 150
RECRAWL_FRAC = 0.2
FILES_PER_DELTA = 3
HOT_LANGS = {"es": 0.70, "en": 0.20, "de": 0.04, "fr": 0.04, "zh": 0.02}
# checkpoint waves per stage, scaled with the batch: 75 clips a wave
# (about 250 at ~2,000-clip batches in the default 8 waves)
N_WAVES = 2


def build_inputs(out: str, seed: int) -> None:
    """base/clips.parquet, delta_<k>/part-*.parquet, merged.parquet
    (last writer wins) and scores.parquet (one row per merged clip and
    rater)."""
    from ds2_spark.fixtures import generate_clips, generate_scores

    rng = np.random.default_rng(seed)
    tmp = os.path.join(out, "_gen")

    def gen(n: int, part: int, **kw) -> pa.Table:
        p = generate_clips(n, os.path.join(tmp, str(part)), seed=seed * 1009 + part,
                           dur_median_ms=250.0, dur_max_ms=1000, **kw)
        return pq.read_table(p["clips"])

    base = gen(N_BASE, 0)
    base = base.set_column(0, "clip_id", pa.array([f"clip_00_{i:08d}" for i in range(N_BASE)]))
    os.makedirs(os.path.join(out, "base"))
    pq.write_table(base, os.path.join(out, "base", "clips.parquet"))
    known = base.column("clip_id").to_pylist()
    tables = [base]
    for k in range(1, N_BATCHES + 1):
        t = gen(N_DELTA, k, lang_weights=HOT_LANGS, long_tail_frac=0.02)
        n_re = int(round(RECRAWL_FRAC * N_DELTA))
        recrawl = rng.choice(np.array(known), size=n_re, replace=False).tolist()
        fresh = [f"clip_{k:02d}_{i:08d}" for i in range(N_DELTA - n_re)]
        ids = recrawl + fresh
        t = t.set_column(0, "clip_id", pa.array([ids[i] for i in rng.permutation(N_DELTA)]))
        d = os.path.join(out, f"delta_{k}")
        os.makedirs(d)
        step = -(-N_DELTA // FILES_PER_DELTA)
        for j in range(FILES_PER_DELTA):
            pq.write_table(t.slice(j * step, step), os.path.join(d, f"part-{j:05d}.parquet"))
        known += fresh
        tables.append(t)
    allrows = pa.concat_tables(tables)
    last = {c: i for i, c in enumerate(allrows.column("clip_id").to_pylist())}
    merged = allrows.take(pa.array(sorted(last.values())))
    pq.write_table(merged, os.path.join(out, "merged.parquet"))
    generate_scores(os.path.join(out, "merged.parquet"), out, seed=seed)
    shutil.rmtree(tmp)


class DeltaIngest:
    units_per_op = N_BATCHES

    def __init__(self, seed: int):
        from ds2_spark.config import HocConfig, VoteConfig

        self.seed = seed
        # batches run no HOC or votes under the frozen calibration, so
        # the bootstrap fits it with few rounds and epochs
        self.cfg = replace(config(), hoc=HocConfig(rounds=2, sample_size=POOL_MAX, adam_steps=100),
                           vote=VoteConfig(epochs=3, sample_size=POOL_MAX))
        self.template = os.path.join(WORK, "delta_template")
        self.root = os.path.join(WORK, "delta_root")

    def _read(self, spark, rel: str):
        return spark.read.parquet(os.path.join(self.inputs, rel))

    def setup(self, spark) -> None:
        from ds2_spark.plans.incremental import bootstrap_curation

        self.inputs = cached(
            f"delta_ingest_s{self.seed}_b{N_BASE}_d{N_BATCHES}x{N_DELTA}",
            lambda d: build_inputs(d, self.seed),
        )
        self.scores = self._read(spark, "scores.parquet")
        self.deltas = [self._read(spark, f"delta_{k}") for k in range(1, N_BATCHES + 1)]
        self.n_clips = sum(d.count() for d in self.deltas)
        self.scores.count()
        fresh_dir(self.template)
        boot = bootstrap_curation(spark, self._read(spark, "base/clips.parquet"), self.scores,
                                  self.template, self.cfg, n_waves=N_WAVES)
        boot["decisions"].count()

    def warmup(self, spark) -> None:
        """Nothing beyond set-up: the bootstrap already runs every stage
        a batch runs (lineage stages, snapshot write and read, final
        selection)."""

    def _fresh_root(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.template, self.root)

    def _batch(self, spark, k: int, out_dir: str) -> None:
        from ds2_spark.plans.incremental import incremental_update

        res = incremental_update(spark, self.deltas[k - 1], self.scores, self.root,
                                 batch_id=k, cfg=self.cfg, n_waves=N_WAVES)
        res["decisions"].write.mode("overwrite").parquet(out_dir)

    def install(self, tracer: Tracer) -> None:
        layers.install_incremental(tracer)

    def op(self, spark, tracer: Tracer | None, clock) -> dict:
        from ds2_spark.plans.incremental import compact_snapshot

        self._fresh_root()
        batches = []
        for k in range(1, N_BATCHES + 1):
            t0 = clock()
            self._batch(spark, k, os.path.join(WORK, f"delta_decisions_{k}"))
            batches.append(clock() - t0)
        t0 = clock()
        compact_snapshot(spark, self.root)
        compact = clock() - t0
        return {"wall": sum(batches) + compact, "batches": batches, "compact_s": compact,
                "clips": self.n_clips, "attempted": N_BATCHES}

    def waste(self, tracer: Tracer) -> dict[str, float]:
        return {}

    def check(self, spark, out: dict) -> list[str]:
        from ds2_spark.plans.incremental import read_snapshot

        problems = []
        seen: set[str] = set(
            pq.read_table(os.path.join(self.inputs, "base", "clips.parquet"),
                          columns=["clip_id"]).column(0).to_pylist())
        for k in range(1, N_BATCHES + 1):
            seen |= set(pq.read_table(os.path.join(self.inputs, f"delta_{k}"),
                                      columns=["clip_id"]).column(0).to_pylist())
            got = pq.read_table(os.path.join(WORK, f"delta_decisions_{k}"), columns=["clip_id"])
            ids = got.column(0).to_pylist()
            if len(ids) != len(seen) or set(ids) != seen:
                problems.append(f"batch {k}: {len(ids)} decisions for {len(seen)} clips")
        final = pq.read_table(os.path.join(WORK, f"delta_decisions_{N_BATCHES}"),
                              columns=["clip_id", "keep", "reason", "final_score"])
        got = sorted(zip(*(final.column(i).to_pylist() for i in range(4))))
        exp = [tuple(r) for r in self._reference(spark)]
        if got != exp:
            diff = [(a, b) for a, b in zip(got, exp) if a != b][:3]
            problems.append(f"final decisions differ from one-pass apply_frozen, e.g. {diff}")
        if read_snapshot(spark, self.root).count() != len(seen):
            problems.append("compacted snapshot row count differs from distinct clips")
        return problems

    def _reference(self, spark) -> list:
        """One-pass ``apply_frozen`` + ``finalize_decisions`` over the
        merged corpus under the bootstrapped calibration, cached."""
        path = os.path.join(CACHE, f"delta_ingest_s{self.seed}_b{N_BASE}"
                                   f"_d{N_BATCHES}x{N_DELTA}_ref.json")
        if not os.path.exists(path):
            from ds2_spark.plans.incremental import apply_frozen, finalize_decisions

            rows = apply_frozen(spark, self._read(spark, "merged.parquet"), self.scores,
                                self.template, self.cfg).persist()
            dec, _ = finalize_decisions(rows, self.cfg)
            ref = sorted((r["clip_id"], r["keep"], r["reason"], r["final_score"])
                         for r in dec.collect())
            rows.unpersist()
            with open(path + ".partial", "w") as f:
                json.dump(ref, f)
            os.rename(path + ".partial", path)
        with open(path) as f:
            return json.load(f)

    def cleanup(self) -> None:
        for d in (self.root, self.template):
            shutil.rmtree(d, ignore_errors=True)
