"""Long-tail rarity score (operator K5).

Reference: score_curation/docta/core/get_lr_score.py:13-51 — mean
distance to the k nearest neighbors, mapped through
2/(1+e^{-d}) − 1 and rounded to 4dp; invoked over the full dataset
(detect.py:96-102).

Spark shape: the full table streams through mapInPandas in Arrow
batches; each batch computes blocked cosine kNN against a BROADCAST
reference sample (never all-pairs — the O(N·S/P) contract that
survives 10^12 rows; SURVEY.md §7.3 'Global kNN'). When the pool is
the whole (small) table, self-matches are excluded by clip_id.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .knn_kernels import cosine_knn, l2_normalize_rows


def lt_score_numpy(
    emb: np.ndarray,
    pool_emb: np.ndarray,
    pool_ids: np.ndarray,
    row_ids: np.ndarray,
    k: int = 10,
) -> np.ndarray:
    """Mean-kNN-distance -> sigmoid long-tail score, self-excluded.

    Fully vectorized (a per-row Python loop here cost ~25% of pipeline
    wall at 50k clips): mask self/invalid neighbors to +inf, sort the
    k+1 candidates, mean over the first k finite — identical values to
    the neighbor-order mean (cosine_knn returns ascending distances)."""
    dists, nn = cosine_knn(emb, pool_emb, k=k + 1)
    sel_ids = pool_ids[np.clip(nn, 0, None)]
    bad = (nn < 0) | ~np.isfinite(dists) | (sel_ids == np.asarray(row_ids)[:, None])
    d = np.where(bad, np.inf, dists)
    d.sort(axis=1)
    dk = d[:, :k]
    fin = np.isfinite(dk)
    cnt = fin.sum(axis=1)
    s = np.where(fin, dk, 0.0).sum(axis=1)
    out = np.where(cnt > 0, s / np.maximum(cnt, 1), 0.0)
    return np.round(2.0 / (1.0 + np.exp(-out)) - 1.0, 4)


def lt_scores(
    clips_emb: DataFrame,
    pool_emb: np.ndarray,
    pool_ids: np.ndarray,
    k: int = 10,
) -> DataFrame:
    """(clip_id, lt_score) for every row of `clips_emb` against the
    broadcast pool."""
    pool = l2_normalize_rows(np.asarray(pool_emb, dtype=np.float32))
    spark = clips_emb.sparkSession
    b = spark.sparkContext.broadcast((pool, np.asarray(pool_ids)))

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p_emb, p_ids = b.value
        for pdf in batches:
            emb = l2_normalize_rows(
                np.array(pdf["embedding"].tolist(), dtype=np.float32)
            )
            ids = pdf["clip_id"].to_numpy()
            lt = lt_score_numpy(emb, p_emb, p_ids, ids, k=k)
            yield pd.DataFrame({"clip_id": pdf["clip_id"], "lt_score": lt})

    return clips_emb.select("clip_id", "embedding").mapInPandas(
        _op, schema="clip_id string, lt_score double"
    )
