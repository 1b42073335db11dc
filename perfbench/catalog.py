"""Workload ``catalog``: catalog queries, each consumed by one action
that reads every output column (``digest.digest``), in an order
shuffled by the seed. One operation is one pass over the ``CORE``
queries; each query is one batch. ``QUERIES`` are the 88 headline
queries of the ``bench.py`` list (with its Arrow-verified
``q_lsh_neardup`` twin), whose digests ``record`` stores.

Check: each query's digest equals the one recorded in
``catalog_digests.json`` for the data directory's name; a mismatch or
an exception fails that query.

Record digests for a data directory (writes catalog_digests.json):

    python3 perfbench/catalog.py DATA_DIR
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

from digest import digest

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_DATA = os.path.join(HERE, "data", "sf0.001")
DIGESTS = os.path.join(HERE, "catalog_digests.json")

QUERIES = (
    "q_tpch_q1", "q_revenue_by_nation", "q_topk_per_group", "q_semi_anti",
    "q_grouped_percentile", "q_window_lag", "q_time_buckets", "q_dedup_exact",
    "q_minhash_signatures", "q_simhash", "q_knn_topk", "q_ann_lsh", "q_pq_topk",
    "q_ivfpq_topk", "q_cosine_neardup", "q_lsh_neardup", "q_rolling_fingerprint",
    "q_audio_features", "q_audio_fingerprint", "q_audio_vad", "q_g711_energy",
    "q_adpcm_energy", "q_flac_energy", "q_g711_transcode", "q_audio_chunk",
    "q_wav_energy", "q_audio_tone_probe", "q_rule_decisions", "q_audio_trim",
    "q_scrub_audit", "q_hll_distinct", "q_bloom_decontaminate", "q_cms_heavy",
    "q_cube", "q_pivot", "q_unpivot", "q_ntile", "q_funnel", "q_asof_join",
    "q_sessionize", "q_stratified_sample", "q_priority_sample", "q_proto_outlier",
    "q_salted_join", "q_upsert", "q_compaction_plan", "q_audio_gain",
    "q_audio_downmix", "q_audio_clipping", "q_audio_compress", "q_audio_master",
    "q_zorder", "q_full_outer", "q_sentences", "q_pagerank", "q_mad_outliers",
    "q_table_diff", "q_rater_agreement", "q_crossmodal_dup", "q_repetition_filter",
    "q_decontaminate", "q_tfidf_top_terms", "q_span_dedup", "q_span_incremental",
    "q_auc_scores", "q_calibration_bins", "q_wer_pairs", "q_f1_sweep",
    "q_cluster_split", "q_bucketed_join", "q_drift", "q_pq_incremental",
    "q_bpe_train", "q_bpe_encode", "q_token_budget", "q_corpus_build", "q_lm_kn",
    "q_nfc_normalize", "q_url_canonical", "q_domain_stats", "q_html_extract",
    "q_image_dhash", "q_image_neardup", "q_quality_probe", "q_wav_wrap",
    "q_datacard", "q_script_mix", "flagship",
)
# the queries one operation runs: one per operator family that only
# the catalog reaches (dedup with span dedup, similarity,
# decontamination, audio, BPE, LM; decontamination, BPE and LM scan
# through ``_td()``) and the pandas-UDF columns that ``.count()`` would
# prune (q_scrub_audit)
CORE = (
    "q_scrub_audit", "q_span_incremental", "q_lsh_neardup", "q_decontaminate",
    "q_audio_features", "q_bpe_encode", "q_lm_kn",
)


def _q_lsh_neardup_arrow(spark, sf_dir):
    """The production path of q_lsh_neardup (Arrow-vectorized cosine
    verify), as bench.py times it in place of the contract twin."""
    from ds2_spark import queries_catalog as qc
    from ds2_spark.operators.similarity import lsh_neardup_pairs

    return lsh_neardup_pairs(
        qc._t(spark, sf_dir, "embeddings"), dim=qc._LSH_DIM, threshold=0.30,
        n_planes=qc._LSH_PLANES, n_tables=qc._LSH_TABLES,
        planes=qc._lsh_contract_planes(), quantize_scale=qc._LSH_SCALE, verify="arrow",
    )


def query_fns() -> dict:
    from ds2_spark import queries_catalog

    return {**queries_catalog.queries(), "q_lsh_neardup": _q_lsh_neardup_arrow}


def recorded(data_dir: str) -> dict[str, str]:
    with open(DIGESTS) as f:
        return json.load(f).get(os.path.basename(data_dir.rstrip("/")), {})


class Catalog:
    units_per_op = len(CORE)

    def __init__(self, seed: int, data_dir: str = DEFAULT_DATA):
        self.seed = seed
        self.data = data_dir
        self.order = list(CORE)
        random.Random(seed).shuffle(self.order)

    def setup(self, spark) -> None:
        self.fns = query_fns()
        self.expected = recorded(self.data)
        for f in sorted(os.listdir(self.data)):
            if f.endswith(".parquet"):
                spark.read.parquet(os.path.join(self.data, f)).count()

    def warmup(self, spark) -> None:
        """flagship, which starts the Python workers."""
        digest(self.fns["flagship"](spark, self.data))

    def install(self, tracer) -> None:
        pass

    def op(self, spark, tracer, clock) -> dict:
        times, failed = {}, []
        for name in self.order:
            t0 = clock()
            try:
                d = digest(self.fns[name](spark, self.data))
            except Exception as e:  # a failing query is counted, the pass goes on
                d = f"error: {type(e).__name__}: {str(e)[:200]}"
            times[name] = clock() - t0
            if d != self.expected.get(name):
                failed.append(f"{name}: {d} != {self.expected.get(name)}")
        return {"wall": sum(times.values()), "batches": list(times.values()), "clips": 0,
                "attempted": len(self.order), "query_s": times, "failures": failed}

    def waste(self, tracer) -> dict[str, float]:
        return {}

    def check(self, spark, out: dict) -> list[str]:
        return out["failures"]

    def op_layers(self, out: dict) -> dict[str, float]:
        return {f"catalog.{n}_s": s for n, s in out["query_s"].items()}

    def cleanup(self) -> None:
        pass


def layer_pass(spark, seed: int) -> tuple[dict[str, float], list[str], int]:
    """One warmed-up pass over ``CORE`` in an existing session:
    (``catalog.<query>_s`` metrics, problems found, queries attempted).
    The traced run of ``curate_calib`` reports the catalog's layers
    through this."""
    cat = Catalog(seed)
    cat.setup(spark)
    cat.warmup(spark)
    out = cat.op(spark, None, time.perf_counter)
    return cat.op_layers(out), out["failures"], out["attempted"]


def record(data_dir: str) -> int:
    """Run every query once on ``data_dir``, print its time and store
    its digest (a cold, by-hand pass over the whole catalog)."""
    from common import prepare_env, start_spark

    prepare_env()
    spark = start_spark()
    fns = query_fns()
    got = {}
    for name in QUERIES:
        t0 = time.time()
        got[name] = digest(fns[name](spark, data_dir))
        print(f"{name} {got[name]} {time.time() - t0:.2f}s", flush=True)
    spark.stop()
    allrec = {}
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as f:
            allrec = json.load(f)
    allrec[os.path.basename(data_dir.rstrip("/"))] = got
    with open(DIGESTS, "w") as f:
        json.dump(allrec, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    sys.exit(record(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_DATA))
