"""Driver-contract query catalog.

Each entry demonstrates one (or a tight group) of the operators in
SURVEY.md §2 over the driver testdata tables, paired with an exact
DuckDB oracle in ORACLE_SQL. Conventions that make the driver's
row-count + schema + value-hash comparison deterministic:

  - every computed column is aliased identically in both engines;
  - float outputs are ROUND()ed (sum-order differences live far below
    the rounding grain); money sums use an exact integer-cents trick;
  - timestamps are emitted as formatted strings (Spark session TZ may
    differ from DuckDB's naive timestamps);
  - ranking ties are broken by a unique key column.

Queries whose semantics are not SQL-expressible (model UDF stages,
the calibration pipeline) appear in `queries()` only — the driver
records a rows-only check for those, per the contract.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.scrub import scrub_audit_cols, scrub_col, scrub_sql
from .functions.sketches import EST_NUMERATOR as _HLL_EST_NUM
from .functions.text import (
    SANITIZE_FW_FROM,
    SANITIZE_FW_TO,
    SANITIZE_SPACE_CLASS,
    SANITIZE_STRIP_CLASS,
    WS_SPLIT,
    langid_udf,
    ppl_udf,
    token_count_col,
    with_quality_features,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col):
    """Exact money aggregation: round to integer cents, sum as long."""
    return F.round(col * 100).cast("long")



def _td(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`documents` spread across all slots: the parquet file is a
    single row group (unsplittable), so any heavy NARROW pipeline
    over it — gram explodes, simhash aggregation partials, BPE/LM
    mapInPandas kernels — would otherwise run on the scan's 1-2
    partitions (the events-synthesis idiom, applied to docs; guide
    §2.5 input skew). Queries whose first post-scan op is already an
    exchange keep the plain `_t` scan."""
    return _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


# --------------------------------------------------------------- queries

def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter plan over `documents` (transcript analog):
    built-in quality features + langid + ppl UDFs + scrub + keep/drop.
    Operators: K9, P-group, F1/F4. Exact oracle: the deterministic
    kernel scores are emitted as a literal VALUES side table
    (_flagship_oracle_sql), so even the pandas-UDF stages are
    hash-verified. The literals are precomputed for the sf0.01
    fixture the driver's gate runs at — at other SFs the QUERY runs
    fine but the static oracle string does not apply."""
    docs = (
        _t(spark, sf_dir, "documents")
        .withColumnRenamed("text", "transcript")
        .drop("lang")
    )
    lid = langid_udf(F.col("transcript"))
    out = (
        with_quality_features(docs)
        .withColumn("_lid", lid)
        .withColumn("lang_pred", F.col("_lid.lang"))
        .withColumn("lang_margin", F.col("_lid.lang_margin"))
        .drop("_lid")
        .withColumn("ppl", ppl_udf(F.col("transcript")))
        .withColumn("transcript_scrubbed", scrub_col("transcript"))
        .withColumn(
            "keep",
            (F.col("n_chars") >= 2)
            & (F.col("lang_margin") >= 0.2)
            & (F.col("ppl") <= 40.0),
        )
    )
    return out.select(
        "doc_id", "n_chars", "n_tokens", "lang_pred",
        F.round("lang_margin", 4).alias("lang_margin"),
        F.round("ppl", 4).alias("ppl"),
        "transcript_scrubbed", "keep",
    )


def q_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 scrub: PII/toxicity regexp_replace chain (JVM-side)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", scrub_col("text").alias("text_scrubbed")
    ).orderBy("doc_id")


def q_scrub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub audit metrics: per-document replacement counts for every
    PII/toxicity tag (functions/scrub.scrub_audit_cols — pure JVM
    length arithmetic over the verified chain, no second regex pass;
    the lineage metric a production scrub stage emits for takedown
    accounting and PII-rate drift monitoring). The sf documents
    corpus is PII-free (counting zeros proves nothing), so texts are
    synthesized from events with PLANTED structure: emails, SSNs
    (incl. the adjacent-pair single-delimiter case that needs the
    chain's second fixed-point pass), punctuated phone numbers,
    lexicon toxicity, literal pre-existing '<EMAIL>' markers that
    must NOT count (the scrubbed-minus-original subtraction), and
    NULL texts. The DuckDB oracle rebuilds the same text and counts
    through ITS OWN regex engine — chain, counting arithmetic, and
    the subtraction all sit between the two engines."""
    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    text = F.concat(
        F.lit("doc "),
        e.cast("string"),
        F.when(
            e % 2 == 0,
            F.concat(
                F.lit(" contact user"),
                (e % 7).cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(e % 3 == 0, F.lit(" ssn 123-45-6789 ok")).otherwise(F.lit("")),
        F.when(e % 9 == 0, F.lit(" pair 111-22-3333 444-55-6666 end"))
        .otherwise(F.lit("")),
        F.when(e % 5 == 0, F.lit(" call +1 (415) 555-0199 now"))
        .otherwise(F.lit("")),
        F.when(
            e % 7 == 0,
            F.concat(
                F.lit(" zorgblat"),
                F.lpad((e % 40).cast("string"), 2, "0"),
                F.lit(" end"),
            ),
        ).otherwise(F.lit("")),
        F.when(e % 11 == 0, F.lit(" literal <EMAIL> marker")).otherwise(
            F.lit("")
        ),
    )
    docs = ev.select(
        F.col("event_id").alias("doc_id"),
        F.when(e % 13 == 0, F.lit(None).cast("string"))
        .otherwise(text)
        .alias("text"),
    )
    return docs.select("doc_id", *scrub_audit_cols("text")).orderBy("doc_id")


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog cardinality sketch
    (functions/sketches.py): md5-string-derived buckets and
    leading-zero ranks make the ENTIRE sketch replayable in any SQL
    engine — registers, integer harmonic numerator, and the raw
    estimate are all bit-identical (the estimate via one shared
    double literal and one division). The key event_id % 3777 has a
    known true cardinality; accuracy itself is pinned in pytest
    (expected ~6.5% rel. error at m=256, plus the linear-counting
    regime), the contract checks exactness of the machinery. Output:
    one row per bucket (empty registers included) carrying the
    summary columns."""
    from .functions.sketches import hll_estimate, hll_registers

    ev = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % 3777).alias("k")
    )
    regs = hll_registers(ev, "k")
    spine = spark.range(256).select(F.col("id").cast("int").alias("bucket"))
    full = spine.join(regs, "bucket", "left").select(
        "bucket", F.coalesce(F.col("register"), F.lit(0)).alias("register")
    )
    summary = hll_estimate(regs)
    return (
        full.crossJoin(F.broadcast(summary))
        .select(
            "bucket", "register", "m_zero_registers", "z_int", "est_raw"
        )
        .orderBy("bucket")
    )


def q_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter estimation
    (functions/sketches.cms_build/cms_estimate): a 4x512 counter
    grid summarizes a skewed key distribution (3 hot keys carrying
    70% of rows + ~997 cold keys; width 512 < #keys so collisions and
    the min-over-rows logic genuinely matter), and point estimates
    for a deterministic probe set ride next to exact counts. Every
    counter and estimate is integer arithmetic over md5-hex-slice
    positions — the DuckDB oracle replays the full sketch. The
    never-underestimates guarantee is pinned in pytest."""
    from .functions.sketches import cms_build, cms_estimate

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    k = F.when(
        e % 10 < 7, F.concat(F.lit("hot"), (e % 3).cast("string"))
    ).otherwise(F.concat(F.lit("cold"), (e % 997).cast("string")))
    keyed = ev.select(k.alias("k"), "event_id")
    sketch = cms_build(keyed, "k", depth=4, width=512)
    probes = (
        keyed.filter((e % 10 < 7) | (e % 997 < 10)).select("k").distinct()
    )
    est = cms_estimate(sketch, probes, "k", depth=4, width=512)
    true_counts = keyed.groupBy("k").agg(F.count("*").alias("true_count"))
    return (
        est.join(true_counts, "k")
        .select("k", "est_count", "true_count")
        .orderBy("k")
    )


def q_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in quality features + token count (F1/F4 analogs) —
    fully SQL-expressible."""
    docs = _t(spark, sf_dir, "documents").withColumnRenamed("text", "transcript")
    return (
        with_quality_features(docs)
        .withColumn("n_tokens_bpe", token_count_col("transcript"))
        .select(
            "doc_id",
            "n_chars",
            "n_tokens",
            "n_tokens_bpe",
            F.round("digit_ratio", 6).alias("digit_ratio"),
            F.round("space_ratio", 6).alias("space_ratio"),
        )
    )


def q_score_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 score compress (clamp [4,9] − 4) + A1 histogram, applied to
    a synthetic 1-10 rating derived from events.value."""
    ev = _t(spark, sf_dir, "events")
    rating = (F.col("event_id") % 10 + 1).cast("int")
    score = F.least(F.greatest(rating, F.lit(4)), F.lit(9)) - F.lit(4)
    return (
        ev.select(score.alias("score"))
        .groupBy("score")
        .agg(F.count("*").alias("n"))
        .orderBy("score")
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 equi-joins (broadcast dims) + A-group aggregation with exact
    integer-cents money sums."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev_cents = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(rev_cents).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
        .orderBy("n_name")
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A10 grouped aggregation (TPC-H Q1 shape), exact cents."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "sum_disc_cents"
            ),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/O3 window rank + filter: top-3 orders per customer by price,
    ties broken by o_orderkey."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", _cents(F.col("o_totalprice")).alias("price_cents"), "rk")
    )


def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 semi-join + J3 anti-join (U2 set difference) on customers
    vs orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    semi = c.join(o, "c_custkey", "left_semi").select(
        "c_custkey", F.lit("with_orders").alias("side")
    )
    anti = c.join(o, "c_custkey", "left_anti").select(
        "c_custkey", F.lit("no_orders").alias("side")
    )
    return semi.unionByName(anti).orderBy("side", "c_custkey")


def q_grouped_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 per-class exact percentile (linear interpolation — matches
    np.percentile / duckdb quantile_cont)."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.round(F.expr("percentile(c_acctbal, 0.9)"), 4).alias("p90_acctbal"),
            F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("p50_acctbal"),
            F.count("*").alias("n"),
        )
        .orderBy("c_mktsegment")
    )


def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + rowsBetween rolling sum over events (SURVEY §2.5
    'built-in analytic frames' row)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.coalesce(F.round(F.lag("value", 1).over(w), 2), F.lit(-1.0)).alias("prev_value"),
        F.coalesce(F.round(F.lead("value", 1).over(w), 2), F.lit(-1.0)).alias("next_value"),
        F.round(F.sum("value").over(w.rowsBetween(-2, 0)), 2).alias("rolling3"),
    )


def q_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc tumbling buckets over events (batch-mode analog of
    the streaming window agg)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("hour", "event_type")
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3-analog JSON field extraction from events.props."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    ).orderBy("event_id")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via md5 fingerprint of normalized text (O5 analog /
    training-data dedup), per language."""
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), WS_SPLIT, " ")))
    return (
        docs.select("lang", fp.alias("fp"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct"),
        )
        .orderBy("lang")
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup signatures: 5-char shingles → per-salt min of
    md5(salt || shingle) — md5 is identical in Spark and DuckDB, so the
    oracle is exact. Docs sharing a signature column are near-dup
    candidates (LSH band = one salted minhash here)."""
    docs = _t(spark, sf_dir, "documents")
    text = F.lower(F.regexp_replace(F.trim(F.col("text")), WS_SPLIT, " "))
    d = docs.select("doc_id", text.alias("t")).filter(F.length("t") >= 5)
    d = d.withColumn(
        "shingles",
        F.expr("transform(sequence(1, length(t) - 4), i -> substr(t, i, 5))"),
    )
    for salt in ("s1", "s2"):
        d = d.withColumn(
            f"minhash_{salt}",
            F.array_min(F.expr(f"transform(shingles, s -> md5('{salt}' || s))")),
        )
    return d.select("doc_id", "minhash_s1", "minhash_s2").orderBy("doc_id")


def q_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 union + U2 except (set difference) over customer slices."""
    c = _t(spark, sf_dir, "customer")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    seg = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        rich.union(seg).distinct()
        .exceptAll(rich.intersect(seg))
        .orderBy("c_custkey")
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join (SURVEY §2.3 range-join row): bucket orders
    by totalprice bands via BETWEEN (BroadcastNestedLoopJoin)."""
    o = _t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("low", 0.0, 50_000.0), ("mid", 50_000.0, 150_000.0), ("high", 150_000.0, 1e12)],
        ["band", "lo", "hi"],
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n"), F.sum(_cents(F.col("o_totalprice"))).alias("sum_cents"))
        .orderBy("band")
    )


def q_sigmoid_longtail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 sigmoid long-tail map 2/(1+e^-x)−1 rounded to 4dp
    (reference docta/core/get_lr_score.py:48-50) applied to a scaled
    events.value."""
    ev = _t(spark, sf_dir, "events")
    x = F.col("value") / 10.0
    lt = F.round(F.lit(2.0) / (F.lit(1.0) + F.exp(-x)) - 1.0, 4)
    return ev.select("event_id", lt.alias("lt_score")).orderBy("event_id")


def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 brute-force cosine top-k: for query vectors (vec_id<5), top-3
    neighbors among the rest by cosine similarity (rounded before
    ranking; ties by neighbor id)."""
    from .functions.vectors import cosine_similarity

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cand = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    sim = F.round(cosine_similarity(F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>")), 6)
    pairs = q.crossJoin(cand).select("query_id", "neighbor_id", sim.alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("query_id", "neighbor_id", "sim", "rk")
        .orderBy("query_id", "rk")
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints (48-bit, portable md5-hex hash
    basis) — near-dup detection primitive."""
    from .operators.dedup import simhash64

    docs = _t(spark, sf_dir, "documents")
    return (
        simhash64(docs, id_col="doc_id", text_col="text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs via pigeonhole banding (the scale
    path: band bucket-join + exact bit_count verify — no cross join)."""
    from .operators.dedup import simhash64, simhash_banded_pairs

    docs = _td(spark, sf_dir)
    sig = simhash64(docs, id_col="doc_id", text_col="text")
    return (
        simhash_banded_pairs(sig, max_dist=3)
        .withColumnRenamed("id_a", "doc_a")
        .withColumnRenamed("id_b", "doc_b")
        .orderBy("doc_a", "doc_b")
    )


def q_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs + exact n-gram Jaccard verification
    (shingle -> minhash -> band -> bucket-join -> verify)."""
    from .operators.dedup import lsh_candidate_pairs, minhash_signatures, ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, n_hashes=8, k=5)
    pairs = lsh_candidate_pairs(sigs, n_hashes=8, bands=4)
    return ngram_jaccard_pairs(docs, pairs, k=5).orderBy("id_a", "id_b")


def q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold.

    Bounded to the first 500 vectors: the zip_with/aggregate cosine is
    evaluated per pair (no codegen for higher-order functions), so the
    exact-oracle query stays on a bounded slice; the unbounded scale
    path is q_lsh_neardup / operators.similarity.lsh_neardup_pairs
    (bucket self-join on ids, vectors never cross-join)."""
    from .operators.similarity import cosine_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return cosine_neardup_pairs(emb, threshold=0.30).orderBy("id_a", "id_b")


# LSH contract-query config: integer planes + embedding quantization
# floor(x*1000 + 0.5) make every bucket key EXACT integer arithmetic in both
# engines, so the full LSH pipeline gets a rows+schema+hash oracle
# (previously rows-only "seeded plane matrix not SQL-expressible" —
# the planes are now emitted into the SQL as literals).
_LSH_DIM, _LSH_PLANES, _LSH_TABLES, _LSH_SEED, _LSH_SCALE = 64, 6, 6, 42, 1000


def _lsh_contract_planes():
    from .operators.similarity import quantized_plane_matrix

    return quantized_plane_matrix(
        _LSH_DIM, _LSH_PLANES, _LSH_TABLES, seed=_LSH_SEED, scale=_LSH_SCALE
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH buckets + exact rerank
    (scale path for q_knn_topk), on deterministic integer planes with
    quantized dot products — exact-oracle checkable; float-plane
    recall vs brute force is pinned in tests/test_dedup_similarity.py."""
    from .operators.similarity import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cand = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    return lsh_topk(
        q, cand, dim=_LSH_DIM, k=3, n_planes=_LSH_PLANES, n_tables=_LSH_TABLES,
        planes=_lsh_contract_planes(), quantize_scale=_LSH_SCALE, rerank="hof",
    ).orderBy("query_id", "rk")


def q_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via the LSH-bucketed SCALE path
    (bucket self-join on ids, exact cosine verify) — the unbounded-
    corpus twin of q_cosine_neardup, on deterministic integer planes
    so the whole pipeline is exact-oracle checkable."""
    from .operators.similarity import lsh_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_neardup_pairs(
        emb, dim=_LSH_DIM, threshold=0.30, n_planes=_LSH_PLANES,
        n_tables=_LSH_TABLES, planes=_lsh_contract_planes(),
        quantize_scale=_LSH_SCALE, verify="hof",
    ).orderBy("id_a", "id_b")


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling (Karp-Rabin-style) token fingerprint via
    aggregate() — detects reordered-but-same-bag-of-words docs that the
    md5 bag fingerprint misses."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), WS_SPLIT, " "))
    toks = F.split(norm, " ")
    rolled = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(
            acc * 31 + F.conv(F.substring(F.md5(x), 1, 12), 16, 10).cast("long"),
            F.lit(2147483648).cast("long"),
        ),
    )
    return docs.select("doc_id", rolled.alias("rolling_fp")).orderBy("doc_id")


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (SURVEY §2.4 'grouping sets / rollup' row) —
    subtotals per returnflag and grand total, null grouping keys
    normalized to '(all)' for cross-engine comparison."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "n",
            "sum_qty",
        )
        .orderBy("returnflag", "linestatus")
    )


# ---- calibration-chain contract queries (K4-K7 evidence surface) ----
#
# The production calibration operators (votes aggregation, curation
# override, dual-sort selection) are pure relational transforms — so
# they can be driven by deterministic tables synthesized from `events`
# with identical column expressions in Spark and DuckDB, exercising
# the REAL operator code against an exact SQL oracle. The NumPy-kernel
# stages (kNN voting epochs, HOC consensus) additionally get bounded
# relational twins (q_lt_score, q_consensus_counts) that pin the
# semantics (mean-kNN-distance -> sigmoid; 2-NN consensus patterns)
# with exact oracles; kernel==engine parity is pytest territory
# (tests/test_calibration.py).


def _synth_votes(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(votes, scores) synthesized from events — expressions mirrored
    verbatim in the SQL oracles."""
    ev = _t(spark, sf_dir, "events")
    votes = ev.select(
        (F.col("user_id") % 50).cast("int").alias("clip_id"),
        (F.col("event_id") % 7).cast("int").alias("epoch"),
        ((F.col("event_id") % 3) == 0).cast("int").alias("flagged"),
        ((F.col("event_id") % 11) % 6).cast("int").alias("suggested"),
    )
    scores = (
        votes.select("clip_id").distinct()
        .withColumn("raw_score", (F.col("clip_id") % 6).cast("int"))
    )
    return votes, scores


def q_votes_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6/A9: cross-epoch vote aggregation — Laplace-smoothed flag
    average, smoothed suggestion distribution, own-score-masked argmax
    (reference detect.py:61-86) — via the production operator."""
    from .operators.votes import aggregate_votes

    votes, scores = _synth_votes(spark, sf_dir)
    agg = aggregate_votes(votes, scores)
    return agg.select(
        "clip_id", "raw_score", "times",
        F.col("n_flagged").cast("long").alias("n_flagged"),
        F.round("noisy_avg", 6).alias("noisy_avg"),
        "suggested_score",
        F.round("confidence", 6).alias("confidence"),
    ).orderBy("clip_id")


def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 curation override on top of the vote aggregate: noisy clips
    with confident suggestions get final_score = suggested
    (reference subset_generation.py:17-41)."""
    from .operators.votes import aggregate_votes, curate_scores

    votes, scores = _synth_votes(spark, sf_dir)
    cur = curate_scores(aggregate_votes(votes, scores), confidence_min=0.5)
    return cur.select(
        "clip_id", "raw_score", "suggested_score",
        F.col("is_corrupted").cast("int").alias("is_corrupted"),
        F.col("is_curated").cast("int").alias("is_curated"),
        F.col("final_score").cast("int").alias("final_score"),
    ).orderBy("clip_id")


SELECT_BUDGET = 1234


def q_select_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7/W2 diversity-aware dual-sort selection via the production
    operator (greedy bucket fill 5→0, per-bucket rank by lt desc, ties
    by clip_id; reference subset_generation.py:43-76). The scale-safe
    histogram ranking path is exercised (97 distinct lt values)."""
    from .operators.selection import select_subset

    ev = _t(spark, sf_dir, "events")
    scored = ev.select(
        F.col("event_id").alias("clip_id"),
        (F.col("event_id") % 6).cast("int").alias("final_score"),
        F.round((F.col("event_id") % 97) / 97.0, 4).alias("lt_score"),
    )
    out = select_subset(scored, SELECT_BUDGET)
    return out.select(
        "clip_id", "final_score", "lt_score", "sel_rank",
        F.col("selected").cast("int").alias("selected"),
    ).orderBy("clip_id")


def _bounded_cosine_knn(
    spark: SparkSession, sf_dir: str, limit: int, k: int
) -> DataFrame:
    """Shared kNN twin for the calibration contract queries: bounded
    embeddings slice, all-pairs 6dp-quantized cosine distance (d6 =
    round(dist*1e6) as long — integer so downstream means are
    bit-exact cross-engine), per-query rank rk<=k by (d6, nid).
    Returns (qid, nid, d6, rk)."""
    from .functions.vectors import cosine_similarity

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < limit)
    a = e.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    b = e.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("nv"))
    dist = F.round(
        1.0
        - cosine_similarity(
            F.col("qv").cast("array<double>"), F.col("nv").cast("array<double>")
        ),
        6,
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", F.round(dist * 1e6).cast("long").alias("d6"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("d6"), F.asc("nid"))
    return pairs.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def q_lt_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 semantics twin (F8+A8 composition): mean distance to the
    k=10 cosine-nearest neighbors (self excluded), mapped through the
    long-tail sigmoid 2/(1+e^-d)-1 at 4dp (reference
    get_lr_score.py:13-51). Bounded slice for the exact-SQL oracle;
    the unbounded path is operators/longtail.lt_scores (blocked NumPy
    kernel, engine==oracle parity in tests/test_calibration.py).
    Distances are 6dp-quantized and summed as integers so the mean is
    bit-exact in both engines."""
    knn = _bounded_cosine_knn(spark, sf_dir, limit=300, k=10)
    mean_d = F.sum("d6") / (F.count("*") * F.lit(1e6))
    lt = F.round(F.lit(2.0) / (F.lit(1.0) + F.exp(-mean_d)) - 1.0, 4)
    return (
        knn.groupBy("qid")
        .agg(lt.alias("lt_score"))
        .orderBy("qid")
    )


def q_consensus_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 HOC consensus-pattern counting twin: each row's label with
    its 2 cosine-nearest neighbors' labels, counted per (y0,y1,y2)
    pattern (reference docta/core/hoc.py:173-214). Bounded slice with
    synthetic labels vec_id%6; the distributed kernel version is
    operators/hoc.consensus_counts (pytest parity)."""
    nn2 = (
        _bounded_cosine_knn(spark, sf_dir, limit=300, k=2)
        .groupBy("qid")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("nid"))).alias("n1"),
            F.max(F.when(F.col("rk") == 2, F.col("nid"))).alias("n2"),
        )
    )
    pat = nn2.select(
        (F.col("qid") % 6).cast("int").alias("y0"),
        (F.col("n1") % 6).cast("int").alias("y1"),
        (F.col("n2") % 6).cast("int").alias("y2"),
    )
    return (
        pat.groupBy("y0", "y1", "y2")
        .agg(F.count("*").alias("cnt"))
        .orderBy("y0", "y1", "y2")
    )


def q_audio_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 metadata-level audio sanity via the production JVM-only
    operator (zero bytes to Python): synthesizes a binary payload +
    (sr_hz, dur_ms, codec) metadata from events, checks codec
    whitelist, PCM16 alignment, and stored-vs-derived duration
    tolerance. sr values are primes so the derived duration
    never lands on an exact .5 (cross-engine rounding safety).
    Synthesized payloads are PCM16 hex by construction, so the
    flac/opus tags take the explicit FIXTURE_PCM16_ALIASES opt-in
    (the default refuses compressed tags; the 'wav9' rows exercise
    exactly that refuse path)."""
    from .operators.audio import FIXTURE_PCM16_ALIASES, audio_sanity_fast

    ev = _t(spark, sf_dir, "events")
    n = (F.col("event_id") % 50 + 1).cast("int")
    hexchunk = F.when(F.col("event_id") % 5 == 0, F.lit("616263")).otherwise(
        F.lit("6162")
    )
    # primes > max blen with no factor of 1000: blen*500/sr can never
    # be an exact half-integer, so round() never hits a tie
    sr = (
        F.when(F.col("event_id") % 3 == 0, 3001)
        .when(F.col("event_id") % 3 == 1, 7001)
        .otherwise(11003)
    )
    codec = (
        F.when(F.col("event_id") % 4 == 0, "pcm_s16le")
        .when(F.col("event_id") % 4 == 1, "flac")
        .when(F.col("event_id") % 4 == 2, "opus")
        .otherwise("wav9")  # unknown codec -> pcm_ok false
    )
    blen_bytes = F.when(F.col("event_id") % 5 == 0, 3).otherwise(2) * n
    dur_true = F.round(blen_bytes / 2 * 1000.0 / sr).cast("int")
    dur_ms = (dur_true + F.when(F.col("event_id") % 7 == 0, 1000).otherwise(0)).cast(
        "int"
    )
    clips = ev.select(
        F.col("event_id").cast("string").alias("clip_id"),
        F.to_binary(F.repeat(hexchunk, n), F.lit("hex")).alias("bytes"),
        sr.cast("int").alias("sr_hz"),
        dur_ms.alias("dur_ms"),
        codec.alias("codec"),
    )
    out = audio_sanity_fast(
        clips, dur_tolerance=0.10, pcm16_alias_codecs=FIXTURE_PCM16_ALIASES
    )
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("pcm_ok").cast("int").alias("pcm_ok"),
        "dur_actual_ms",
        F.col("dur_ok").cast("int").alias("dur_ok"),
    ).orderBy("clip_id")


# IVF contract config: fixed integer centroids (any fixed coarse
# quantizer is a valid IVF partition) + quantized assignment make the
# whole pipeline exact cross-engine, like the LSH quantized planes.
_IVF_CENTROIDS, _IVF_NPROBE = 16, 4


def _ivf_contract_centroids():
    import numpy as np

    rng = np.random.default_rng(_LSH_SEED + 7)
    return np.rint(
        rng.normal(0, 1, size=(_IVF_CENTROIDS, _LSH_DIM)) * _LSH_SCALE
    ).astype(np.int64)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (the non-LSH scale path) on
    deterministic integer centroids with quantized integer assignment
    — exact-oracle checkable end to end; k-means-trained recall is
    pinned in tests/test_dedup_similarity.py."""
    from .operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cand = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    return ivf_topk(
        q, cand, dim=_LSH_DIM, k=3, n_centroids=_IVF_CENTROIDS,
        nprobe=_IVF_NPROBE, centroids=_ivf_contract_centroids(),
        quantize_scale=_LSH_SCALE, rerank="hof",
    ).orderBy("query_id", "rk")


# PQ contract config: 8 subspaces x 16 codes over the 64-dim
# embeddings; fixed integer codebooks (any fixed quantizer is a valid
# PQ codebook — trained-codebook recall is pinned in pytest) make
# encode + ADC exact integer arithmetic in both engines.
_PQ_M, _PQ_K = 8, 16


def _pq_contract_codebooks():
    import numpy as np

    rng = np.random.default_rng(_LSH_SEED + 11)
    return np.rint(
        rng.normal(0, 0.35, size=(_PQ_M, _PQ_K, _LSH_DIM // _PQ_M))
        * _LSH_SCALE
    ).astype(np.int64)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/pq.py — the
    compressed-domain ANN scale path: vectors become 8 codes, queries
    broadcast M x K integer lookup tables, and the scan is JVM array
    arithmetic over the codes relation; raw embeddings are touched
    only by the one encode pass). Deterministic integer codebooks +
    quantized embeddings make encode, LUTs, and every ADC distance
    exact int64 in both engines; ties break to the lowest code /
    neighbor id (total order both engines replay)."""
    from .operators.pq import pq_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    return pq_topk(
        q, cand, _pq_contract_codebooks(), k=3,
        quantize_scale=_LSH_SCALE,
    ).orderBy("query_id", "rk")


def q_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC shortlist + exact re-rank — the production composition
    (PQ cannot micro-order neighbors whose true gaps are below
    quantization error, so real systems re-rank the shortlist with
    exact distances): ADC top-10 per query, then ONLY those 10 ids
    join back their raw vectors for an exact integer squared-distance
    re-rank to top-3. Both distances surface, so the oracle checks
    the shortlist, the exact arithmetic, and the re-ordering."""
    from .operators.pq import pq_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    return pq_topk(
        q, cand, _pq_contract_codebooks(), k=3,
        quantize_scale=_LSH_SCALE, rerank_k=10,
    ).orderBy("query_id", "rk")


_IVFPQ_CELLS, _IVFPQ_NPROBE = 8, 2


def _ivfpq_contract_centroids():
    import numpy as np

    rng = np.random.default_rng(_LSH_SEED + 13)
    return np.rint(
        rng.normal(0, 1, size=(_IVFPQ_CELLS, _LSH_DIM)) * _LSH_SCALE
    ).astype(np.int64)


def _ivfpq_contract_codebooks():
    import numpy as np

    rng = np.random.default_rng(_LSH_SEED + 17)
    return np.rint(
        rng.normal(0, 0.5, size=(_PQ_M, _PQ_K, _LSH_DIM // _PQ_M))
        * _LSH_SCALE
    ).astype(np.int64)


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with residual encoding (operators/pq.ivfpq_topk — the
    composed production ANN index: coarse cells prune the scan, PQ
    codes compress what remains, the query LUT is rebuilt per probed
    cell against that cell's centroid). Fixed integer centroids +
    codebooks + quantized embeddings make assignment, residual
    encode, and every ADC distance exact int64 in both engines."""
    from .operators.pq import ivfpq_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    return ivfpq_topk(
        q, cand, _ivfpq_contract_centroids(), _ivfpq_contract_codebooks(),
        k=3, nprobe=_IVFPQ_NPROBE, quantize_scale=_LSH_SCALE,
    ).orderBy("query_id", "rk")


def q_pq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance (operators/pq.pq_append +
    pq_topk_codes): the corpus below vec_id 500 is the STORED codes
    index (encoded once); rows at/above 500 arrive as an ingest delta
    and are encoded under the FROZEN codebooks (the incremental-
    curation freeze discipline — codebook retraining is a versioned
    event, never an ingest side effect). Search runs over the union
    of stored + delta codes and must equal a from-scratch full encode
    bit-for-bit, which is exactly what the oracle computes: the twin
    is blind to the base/delta split, so any drift the split
    introduced would hash-mismatch. k=4 (vs q_pq_topk's 3) keeps the
    two contract rows non-duplicate."""
    from .operators.pq import pq_append, pq_encode, pq_topk_codes

    e = _t(spark, sf_dir, "embeddings")
    books = _pq_contract_codebooks()
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    base = e.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 500)).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    delta = e.filter(F.col("vec_id") >= 500).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    stored = pq_encode(
        base, books, id_col="neighbor_id", quantize_scale=_LSH_SCALE
    )
    appended = pq_append(
        delta, books, id_col="neighbor_id", quantize_scale=_LSH_SCALE
    )
    return pq_topk_codes(
        q, stored.union(appended), books, k=4, quantize_scale=_LSH_SCALE
    ).orderBy("query_id", "rk")


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio quality features (zcr / silence / clipping / SNR-spread)
    via the production mapInPandas operator, on synthesized PCM16
    payloads whose features have CLOSED FORMS: constant-sample clips
    (pattern 0x6162), digital silence (0x0000), and full-scale clipped
    samples (0x7fff). Constant samples make every frame identical, so
    zcr=0, snr=0, silence/clipping are 0/1 indicators — all exactly
    expressible as CASE arithmetic in the SQL oracle while the real
    NumPy kernel (frombuffer, frame reshape, percentiles) runs on the
    Spark side. Payloads are PCM16 by construction → explicit
    FIXTURE_PCM16_ALIASES opt-in for the flac/opus tags."""
    from .operators.audio import FIXTURE_PCM16_ALIASES, audio_features

    # spread the tiny pre-synthesis rows across all slots: the parquet
    # scan often yields 1-2 partitions at small SF, which would serialize
    # the mapInPandas feature kernel downstream
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    n5 = ((F.col("event_id") % 50 + 1) * 5).cast("int")  # samples per clip
    hexchunk = (
        F.when(F.col("event_id") % 3 == 0, F.lit("6162"))   # constant +
        .when(F.col("event_id") % 3 == 1, F.lit("0000"))    # silence
        .otherwise(F.lit("ff7f"))                            # clipped +1.0
    )
    sr = (
        F.when(F.col("event_id") % 3 == 0, 3001)
        .when(F.col("event_id") % 3 == 1, 7001)
        .otherwise(11003)
    )
    codec = (
        F.when(F.col("event_id") % 4 == 0, "pcm_s16le")
        .when(F.col("event_id") % 4 == 1, "flac")
        .when(F.col("event_id") % 4 == 2, "opus")
        .otherwise("wav9")  # unknown codec -> decoded_ok false
    )
    clips = ev.select(
        F.col("event_id").cast("long").alias("clip_id"),
        F.to_binary(F.repeat(hexchunk, n5), F.lit("hex")).alias("bytes"),
        sr.cast("int").alias("sr_hz"),
        codec.alias("codec"),
    )
    out = audio_features(
        clips.withColumn("clip_id", F.col("clip_id").cast("string")),
        pcm16_alias_codecs=FIXTURE_PCM16_ALIASES,
    )
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("decoded_ok").cast("int").alias("decoded_ok"),
        "zcr",
        "silence_ratio",
        "clipping_ratio",
        F.col("snr_db_est").alias("snr_db"),
    ).orderBy("clip_id")


def _le16_hex(v):
    """hex of one int16 sample, little-endian byte order, as a Spark
    SQL expression (4 hex chars; caller guarantees int16 range)."""
    u = F.when(v < 0, v + 65536).otherwise(v)
    h = F.lpad(F.hex(u.cast("bigint")), 4, "0")
    return F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2))


def _synth_pcm16_hex(n, sample):
    """PCM16-LE payload synthesized IN SPARK SQL EXPRESSIONS from a
    closed-form per-sample function `sample(i) -> Column` (n samples),
    so a DuckDB oracle can recompute identical bytes/energies from the
    same formula while Spark exercises real binary decode kernels."""
    hexstr = F.array_join(
        F.transform(F.sequence(F.lit(0), n - 1), lambda i: _le16_hex(sample(i))),
        "",
    )
    return F.to_binary(hexstr, F.lit("hex"))


def _synth_payload_np(fn):
    """Arrow-vectorized synthesis twin (guide §4.2): the closed-form
    per-sample payload formula runs as ONE NumPy broadcast per Arrow
    batch instead of n interpreted-HOF expression evaluations per row
    (`_synth_pcm16_hex` stays as the documented SQL-expression form;
    this produces BIT-IDENTICAL bytes — the oracle SQL is unchanged).

    `fn(ev, i, nv)` receives the batch's event ids `ev` (int64, k),
    the sample indices `i` (int64, max_n) and the per-row sample
    counts `nv` (int64, k), and returns the k per-row payloads. Only
    nonneg dividends may feed `%` (np.mod and Spark % agree there;
    every synthesis formula in this catalog qualifies). int16-LE
    truncation via astype('<i2') equals `_le16_hex`'s +65536 encoding
    for any value the formulas produce. Returns a (event_id, n) ->
    bytes pandas_udf; a None payload (each formula's own NULL-every-k
    rule) yields SQL NULL."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _synth(e: pd.Series, n: pd.Series) -> pd.Series:
        import numpy as np

        if len(e) == 0:
            return pd.Series([], dtype=object)
        ev = e.to_numpy(dtype=np.int64)
        nv = n.to_numpy(dtype=np.int64)
        mx = int(nv.max()) if len(nv) else 0
        i = np.arange(max(mx, 1), dtype=np.int64)
        return pd.Series(fn(ev, i, nv), dtype=object)

    return _synth


def _pcm16_rows(vals, nv):
    """(k, max_n) int sample matrix -> list of per-row PCM16-LE byte
    payloads truncated to each row's sample count."""
    le = vals.astype("<i2")
    return [le[r, : nv[r]].tobytes() for r in range(len(nv))]


def _sweep_payload_np(ev_, i, nv):
    """Vectorized full-16-bit-range sweep payload shared by
    q_g711_transcode / q_wav_wrap: v(i) = (e*31 + i*1717) % 65401
    - 32700, NULL every 11th (same bytes as the former HOF form)."""
    vals = (ev_[:, None] * 31 + i[None, :] * 1717) % 65401 - 32700
    rows = _pcm16_rows(vals, nv)
    return [None if e % 11 == 0 else b for e, b in zip(ev_.tolist(), rows)]


def _frame_pair_rows(a_mat, b_mat, reps, nf, tail_cnt=None, tail_val=2):
    """Frame-constant PCM16-LE rows: frame f of row r is the 2-sample
    pair (a_mat[r,f], b_mat[r,f]) repeated `reps` times; rows truncate
    to nf[r] frames; optional per-row tail of `tail_val` samples (the
    odd-tail convention). Bit-identical to the per-frame _le16_hex
    HOF forms (int16-LE truncation == +65536 encoding)."""
    import numpy as np

    k, nfm = a_mat.shape
    pair = np.stack([a_mat, b_mat], axis=2)
    flat = (
        np.tile(pair, (1, 1, reps)).reshape(k, nfm * 2 * reps).astype("<i2")
    )
    spf = 2 * reps  # samples per frame
    tail = int(tail_val).to_bytes(2, "little")
    out = []
    for r in range(k):
        b = flat[r, : nf[r] * spf].tobytes()
        if tail_cnt is not None and tail_cnt[r]:
            b += tail * int(tail_cnt[r])
        out.append(b)
    return out


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-delta acoustic fingerprint + exact-dup grouping via the
    production `audio_fingerprint` operator (integer-exact: abs-sums
    of int16 samples, integer compares, integer bit-pack — see its
    docstring). The PCM16-LE payload is synthesized per event from a
    closed-form sample series v(i) = (event_id*31 + i*17) % 201 - 100
    encoded little-endian IN SPARK SQL EXPRESSIONS, so the DuckDB
    oracle can recompute the identical fingerprint from the formula
    while the Spark side exercises the real decode -> segmented
    frame-reduce -> bit-pack kernel off actual bytes. Every 11th clip
    carries a NULL payload (NULL-fp path). dup_count groups identical
    fingerprints — the exact audio-dedup primitive (ids-only shuffle
    on `fp` at scale)."""
    from .operators.audio import audio_fingerprint

    ev = _t(spark, sf_dir, "events")
    n = (F.col("event_id") % 40 + 12).cast("int")

    # vectorized synthesis twin of the oracle formula (guide §4.2):
    # v(i) = (e*31 + i*17) % 201 - 100, NULL every 11th — one NumPy
    # broadcast per Arrow batch, bit-identical bytes to the HOF form
    def _fp_payload(ev_, i, nv):
        vals = (ev_[:, None] * 31 + i[None, :] * 17) % 201 - 100
        rows = _pcm16_rows(vals, nv)
        return [
            None if e % 11 == 0 else b for e, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_fp_payload)(F.col("event_id"), n)
    clips = ev.select(
        F.col("event_id").cast("string").alias("clip_id"),
        payload.alias("bytes"),
    )
    out = audio_fingerprint(clips, frame_samples=8, max_bits=60)
    return (
        out.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            "fp",
            "n_frames",
        )
        .withColumn("dup_count", F.count("*").over(Window.partitionBy("fp")))
        .orderBy("clip_id")
    )


def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio detection via the production
    `audio_neardup_pairs` operator (fingerprint + pigeonhole Hamming
    banding + exact bit_count(xor) verify — see its docstring for the
    scale shape). The synthesis plants real near-dup structure:
    clips sharing g = event_id % 4001 play the same closed-form
    series, but each variant (event_id // 4001) perturbs sample 0 —
    only frame 0's energy moves, so within a group fingerprints sit
    at Hamming distance <= 1 while unrelated clips are far apart.
    clip_id is zero-padded so the operator's string id ordering
    equals the oracle's numeric ordering."""
    from .operators.audio import audio_neardup_pairs

    ev = _t(spark, sf_dir, "events")
    g = F.col("event_id") % 4001
    var = F.floor(F.col("event_id") / 4001)
    # >= 488 samples -> >= 61 frames -> all 60 fingerprint bits are
    # live, so every 20-bit band carries real signal (a short-clip
    # synthesis would zero the high bands and degenerate the banding
    # join toward all-pairs); the odd tail samples exercise the
    # whole-frame truncation path
    n = (488 + g % 5).cast("int")
    # QUADRATIC hash of the unique per-sample index h = g*8191 + i.
    # Anything linear in i (sawtooth, multiplicative hash of a linear
    # index) makes all groups windows of one slowly-varying cyclic
    # sequence, which collapses into mass cross-group near-collisions
    # of the energy-delta bits; h^2's varying step (2h+1) breaks the
    # common-orbit structure so frame energies decorrelate across
    # groups. All arithmetic stays within int64 in both engines.
    # var is CLAMPED mod 100: the perturbation stays <= 3960, keeping
    # sample 0 within int16 for ANY event_id (unclamped, event_id >
    # ~3.3M would overflow _synth_pcm16_hex's 4-hex-digit int16
    # encoding and silently diverge from the closed-form oracle at
    # large SFs). 100 variants per group is far more than any SF's
    # group population, so the planted structure is unchanged.
    # vectorized synthesis twin (guide §4.2; same bytes as the HOF
    # form of this formula — all dividends nonneg, int64-safe:
    # h*h <= (4001*8191+491)^2 ~ 1.1e15 < 2^63)
    def _nd_payload(ev_, i, nv):
        g_ = ev_ % 4001
        var_ = (ev_ // 4001) % 100
        h = g_[:, None] * 8191 + i[None, :]
        a = (h * h) % 2147483648
        vals = (a * 31 + h) % 2147483648 % 201 - 100
        vals[:, 0] += 40 * var_
        rows = _pcm16_rows(vals, nv)
        return [
            None if e_ % 11 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_nd_payload)(F.col("event_id"), n)
    clips = ev.select(
        F.lpad(F.col("event_id").cast("string"), 7, "0").alias("clip_id"),
        payload.alias("bytes"),
    )
    pairs = audio_neardup_pairs(clips, frame_samples=8, max_bits=60,
                                max_dist=2)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    ).orderBy("id_a", "id_b")


def q_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation via the production
    `audio_vad_segments` operator (frame abs-sum energies -> integer
    threshold -> voiced islands with gap bridging and min-length
    filtering — see its docstring). Synthesis plants closed-form
    speech/silence structure: within frame t every sample alternates
    +/-amp_t with amp_t = 90 when ((event_id*13 + t*t) % 11) < 5 else
    2, so E_t = 8*amp_t EXACTLY (720 voiced / 16 silence, threshold
    400 between) and the DuckDB oracle replays the identical
    gaps-and-islands (row_number islands -> lag-gap bridging ->
    min-length filter) over the same per-frame formula — the segment
    MERGE logic itself is cross-checked, not just the energies. The
    t*t term gives varied voiced-run/gap lengths so bridging
    (max_gap=1) and the min_frames=2 drop both fire on real cases.
    Odd tail samples exercise whole-frame truncation; every 13th
    payload is NULL (no-rows path)."""
    from .operators.audio import audio_vad_segments

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 29 + 12).cast("int")  # 12..40 whole frames

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame when-chain HOF form): amp_t = 90 when
    # (e*13 + t*t) % 11 < 5 else 2, frame = [amp,-amp]*4, value-2
    # tail of e%5 samples, NULL every 13th
    def _vad_payload(ev_, t, nv):
        import numpy as np

        amp = np.where(
            (ev_[:, None] * 13 + t[None, :] ** 2) % 11 < 5, 90, 2
        )
        rows = _frame_pair_rows(amp, -amp, fs // 2, nv, tail_cnt=ev_ % 5)
        return [
            None if e_ % 13 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_vad_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    out = audio_vad_segments(
        clips, frame_samples=fs, energy_threshold=400,
        max_gap_frames=1, min_frames=2,
    )
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        "seg_id", "start_frame", "end_frame", "n_frames",
        "voiced_frames", "energy_sum",
    ).orderBy("clip_id", "seg_id")


def q_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Utterance EXTRACTION (operators/audio.audio_segment_extract):
    VAD segmentation that also emits each segment's PCM16 bytes —
    the one-row-to-many-rows-with-bytes splitter that precedes
    per-utterance scoring. COMPOSED with a re-decode: every emitted
    segment's bytes flow straight into audio_codec_energy, whose
    abs_energy must reproduce the segment's energy_sum and whose
    n_samples must equal n_frames*fs — so the segment boundaries, the
    byte slicing, AND the sliced content are all pinned against a
    DuckDB oracle that never sees a byte. Synthesis is q_audio_vad's
    two-amplitude frame form with different structure constants
    (voiced iff (e*17 + 3t + t*t) % 13 < 6; amp 110 vs 3 so E_t is
    880 vs 24 around threshold 500), gap bridging max_gap=2 and
    min_frames=2 both fire, every 11th payload NULL, tail samples
    every 3rd clip exercise whole-frame truncation."""
    from .operators.audio import audio_codec_energy, audio_segment_extract

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 31 + 10).cast("int")  # 10..40 whole frames

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame when-chain HOF form): amp_t = 110 when
    # (e*17 + 3t + t*t) % 13 < 6 else 3, frame = [amp,-amp]*4,
    # value-3 tail of e%3 samples, NULL every 11th
    def _seg_payload(ev_, t, nv):
        import numpy as np

        amp = np.where(
            (ev_[:, None] * 17 + 3 * t[None, :] + t[None, :] ** 2) % 13 < 6,
            110, 3,
        )
        rows = _frame_pair_rows(
            amp, -amp, fs // 2, nv, tail_cnt=ev_ % 3, tail_val=3
        )
        return [
            None if e_ % 11 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_seg_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    segs = audio_segment_extract(
        clips, frame_samples=fs, energy_threshold=500,
        max_gap_frames=2, min_frames=2,
    )
    # per-segment stats ride the content re-decode as passthrough
    # columns (ONE mapInPandas pass, no seg-keyed self-join)
    en = audio_codec_energy(
        segs.select(
            "clip_id", "bytes", F.lit("pcm_s16le").alias("codec"),
            "seg_id", "start_frame", "end_frame", "n_frames",
            "voiced_frames", "energy_sum",
        ),
        passthrough=(
            "seg_id", "start_frame", "end_frame", "n_frames",
            "voiced_frames", "energy_sum",
        ),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            "seg_id", "start_frame", "end_frame", "n_frames",
            "voiced_frames", "energy_sum",
            F.col("abs_energy").alias("recheck_energy"),
            F.col("n_samples").alias("recheck_samples"),
        )
        .orderBy("clip_id", "seg_id")
    )


def q_g711_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-codec decode: ITU G.711 mu-law / A-law payloads
    (1 byte/sample logarithmic companding) decoded through the
    production expansion tables inside `audio_codec_energy`
    (operators/audio.py — pruned scan -> mapInPandas LUT gather ->
    small integer output; bytes never shuffle). Bytes are synthesized
    closed-form (byte_j = (event_id*37 + j*101 + j*j % 251) % 256) so
    the DuckDB oracle re-expands every byte with the published G.711
    segment/mantissa ARITHMETIC (no table literal — a genuinely
    independent derivation of the same standard) and aggregates the
    identical integer energies. Every 13th clip is tagged 'flac'
    (refuses: decode tables for genuinely-compressed codecs don't
    exist here — decoded_ok=false, never garbage), every 17th payload
    is NULL. Odd/even lengths both occur: G.711's 1-byte samples have
    no alignment constraint (the PCM16 even-length rule must NOT
    apply)."""
    from .operators.audio import audio_codec_energy

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    n = (e % 11 + 30).cast("int")

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-byte HOF form): byte_j = (e*37 + j*101 + (j*j)%251) % 256,
    # NULL every 17th
    def _g711_payload(ev_, j, nv):
        import numpy as np

        u = (
            ev_[:, None] * 37 + j[None, :] * 101 + (j[None, :] ** 2) % 251
        ) % 256
        ub = u.astype(np.uint8)
        return [
            None if e_ % 17 == 0 else ub[r, : nv[r]].tobytes()
            for r, e_ in enumerate(ev_.tolist())
        ]

    payload = _synth_payload_np(_g711_payload)(e, n)
    codec = (
        F.when(e % 13 == 0, F.lit("flac"))
        .when(e % 2 == 0, F.lit("pcm_ulaw"))
        .otherwise(F.lit("pcm_alaw"))
    )
    clips = ev.select(
        e.cast("string").alias("clip_id"),
        payload.alias("bytes"),
        codec.alias("codec"),
    )
    out = audio_codec_energy(clips)
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("decoded_ok").cast("int").alias("decoded_ok"),
        "n_samples",
        "abs_energy",
        "max_abs",
    ).orderBy("clip_id")


def q_adpcm_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stateful decompression: IMA/DVI ADPCM (4-bit adaptive
    differential PCM, the WAV format-0x11 family) decoded through
    `audio_codec_energy`'s across-clips vectorized batch decoder
    (operators/audio.py adpcm_decode_batch — the recurrence is
    sequential in time but the inner op width is the whole Arrow
    batch). Nibbles, initial predictor, and initial step index are
    synthesized closed-form per event, and the DuckDB oracle REPLAYS
    the full decode recurrence with a RECURSIVE CTE over the published
    IMA step/index tables — every predictor clamp, step adaptation,
    and sign bit is cross-checked sample by sample through the
    abs-energy/max accumulators, a genuinely independent execution of
    the same standard (SQL fixpoint vs NumPy vector loop). Every 17th
    payload is NULL and every 19th is truncated below the 4-byte
    header (both refuse: decoded_ok=false, zero metrics)."""
    from .operators.audio import audio_codec_energy

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    d = (e % 13 + 8).cast("int")  # data bytes -> 16..40 samples
    pred0 = (e * 37) % 1024 - 512
    idx0 = e % 89
    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-byte HOF form): 4-byte header (pred0 int16-LE, idx0, 0x00)
    # + data byte k = nib(2k) + 16*nib(2k+1) with
    # nib(t) = (e + 5t + t*t) % 16; NULL every 17th, sub-header
    # 2-byte truncation every 19th
    def _adpcm_payload(ev_, k, nv):
        import numpy as np

        t0, t1 = 2 * k[None, :], 2 * k[None, :] + 1
        lo = (ev_[:, None] + 5 * t0 + t0 * t0) % 16
        hi = (ev_[:, None] + 5 * t1 + t1 * t1) % 16
        data = (lo + 16 * hi).astype(np.uint8)
        p0 = ((ev_ * 37) % 1024 - 512).astype("<i2")
        i0 = (ev_ % 89).astype(np.uint8)
        out = []
        for r, e_ in enumerate(ev_.tolist()):
            if e_ % 17 == 0:
                out.append(None)
            elif e_ % 19 == 0:
                out.append(b"\x00\x00")
            else:
                out.append(
                    p0[r].tobytes() + bytes([i0[r], 0])
                    + data[r, : nv[r]].tobytes()
                )
        return out

    payload = _synth_payload_np(_adpcm_payload)(e, d)
    clips = ev.select(
        e.cast("string").alias("clip_id"),
        payload.alias("bytes"),
        F.lit("adpcm_ima").alias("codec"),
    )
    out = audio_codec_energy(clips)
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("decoded_ok").cast("int").alias("decoded_ok"),
        "n_samples",
        "abs_energy",
        "max_abs",
    ).orderBy("clip_id")


def q_g711_transcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus normalization the OTHER direction: PCM16 clips
    transcoded INTO G.711 (even ids -> mu-law, odd -> A-law) by the
    standard segmented ENCODERS inside `audio_transcode`, then decoded
    back by `audio_codec_energy`. The synthesis sweeps the full 16-bit
    range INCLUDING values above the mu-law clip point (32635), so
    segment selection, mantissa truncation, bias, bit inversion / XOR
    masking, and clipping are all live. The DuckDB oracle replays
    encode (threshold ladder + integer shifts) and decode (expansion
    arithmetic) per sample — the operator's byte stream sits between.
    Every 11th payload is NULL: transcode passes it through with NULL
    bytes and the ORIGINAL codec tag (quarantine routing), and the
    decode stage refuses it."""
    from .operators.audio import audio_codec_energy, audio_transcode

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    n = (e % 9 + 20).cast("int")
    payload = _synth_payload_np(_sweep_payload_np)(e, n)
    clips = ev.select(
        e.cast("string").alias("clip_id"),
        payload.alias("bytes"),
        F.lit("pcm_s16le").alias("codec"),
        (e % 2).alias("par"),
    )
    tc = audio_transcode(
        clips.where(F.col("par") == 0).drop("par"), "pcm_ulaw"
    ).unionByName(
        audio_transcode(clips.where(F.col("par") == 1).drop("par"), "pcm_alaw")
    )
    # the transcoded codec tag rides the energy re-decode as a
    # passthrough column (ONE mapInPandas chain, no item-keyed
    # self-join and no checkpoint — `tc` has one consumer)
    en = audio_codec_energy(
        tc.select(
            "clip_id", "bytes", "codec", F.col("codec").alias("_codec")
        ),
        passthrough=("_codec",),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("_codec").alias("codec"),
            F.col("decoded_ok").cast("int").alias("decoded_ok"),
            "n_samples",
            "abs_energy",
            "max_abs",
        )
        .orderBy("clip_id")
    )


def q_audio_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-window segmentation of audio: `audio_chunk` slices
    fixed-width payloads (PCM16 and 1-byte/sample mu-law mixed in one
    table) into 50ms windows stepping 25ms ENTIRELY in JVM column
    expressions (sequence+explode for window ids, substring on the
    binary column for the slice — zero Python in the slicing path),
    then every chunk's integer energy is decoded by
    `audio_codec_energy`. The DuckDB oracle recomputes each window's
    sample range from the same integer boundary math and re-derives
    the decoded values per sample (PCM formula / G.711 expansion) —
    window arithmetic, byte offsets (including the codec width), the
    kept short tail, and chunk content are all hash-checked. Stateful
    codecs (every 13th clip is tagged adpcm_ima) pass through as the
    documented single chunk_id=-1 row; every 17th payload is NULL."""
    from .operators.audio import audio_chunk, audio_codec_energy

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    sr = F.when(e % 2 == 0, F.lit(4000)).otherwise(F.lit(6000))
    n = (e % 301 + 300).cast("int")
    is_u = e % 3 == 0

    # vectorized synthesis twin (guide §4.2; bytes bit-identical to
    # the former HOF form): mu-law rows u(j) = (e*37 + j*101 +
    # (j*j)%251) % 256, PCM rows v(i) = (e*31 + i*1717) % 65401 -
    # 32700, NULL every 17th — one NumPy broadcast per Arrow batch
    def _chunk_payload(ev_, i, nv):
        upick = ev_ % 3 == 0
        out = [None] * len(ev_)
        if upick.any():
            import numpy as np

            iu = np.flatnonzero(upick)
            u = (
                ev_[iu, None] * 37 + i[None, :] * 101 + (i[None, :] ** 2) % 251
            ) % 256
            ub = u.astype(np.uint8)
            for k, r in enumerate(iu.tolist()):
                out[r] = ub[k, : nv[r]].tobytes()
        if (~upick).any():
            import numpy as np

            ip = np.flatnonzero(~upick)
            v = (ev_[ip, None] * 31 + i[None, :] * 1717) % 65401 - 32700
            le = v.astype("<i2")
            for k, r in enumerate(ip.tolist()):
                out[r] = le[k, : nv[r]].tobytes()
        return [
            None if e_ % 17 == 0 else b for e_, b in zip(ev_.tolist(), out)
        ]

    payload = _synth_payload_np(_chunk_payload)(e, n)
    codec = (
        F.when(e % 13 == 0, F.lit("adpcm_ima"))
        .when(is_u, F.lit("pcm_ulaw"))
        .otherwise(F.lit("pcm_s16le"))
    )
    clips = ev.select(
        e.cast("string").alias("clip_id"),
        payload.alias("bytes"),
        sr.alias("sr_hz"),
        codec.alias("codec"),
    )
    # chunk metadata rides the energy re-decode as passthrough columns
    # (ONE mapInPandas pass; the former shape re-aligned the chunk
    # frame with itself via a concat-keyed self-join — two shuffles of
    # every chunk row — behind a localCheckpoint)
    ch = audio_chunk(clips, chunk_ms=50, overlap_ms=25)
    en = audio_codec_energy(
        ch.select("clip_id", "bytes", "codec", "chunk_id", "start_ms",
                  "dur_ms"),
        passthrough=("chunk_id", "start_ms", "dur_ms"),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            "chunk_id",
            F.coalesce("start_ms", F.lit(-1)).alias("start_ms"),
            F.coalesce("dur_ms", F.lit(-1)).alias("dur_ms"),
            F.col("decoded_ok").cast("int").alias("decoded_ok"),
            "n_samples",
            "abs_energy",
            "max_abs",
        )
        .orderBy("clip_id", "chunk_id")
    )


def q_wav_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIFF/WAV container parsing driver-verified: complete WAV files
    (RIFF header, fmt chunk, data chunk) are synthesized closed-form
    — format tag 1 (PCM16), 6 (A-law), 7 (mu-law) — and
    decoded through `parse_wav_header` + `decode_wav_int` inside
    `audio_codec_energy`. The DuckDB oracle re-derives the decoded
    samples from the content formulas alone (it never builds a
    header), so every header field the parser consumes — chunk walk,
    fmt/bits dispatch, data offset/length — sits between the two.
    Every 13th file declares IEEE-float format 3 (unsupported ->
    refuse), every 17th payload is NULL."""
    from .operators.audio import audio_codec_energy

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    n = (e % 21 + 40).cast("int")

    # vectorized synthesis twin (guide §4.2; byte-identical to the
    # former per-field/per-sample HOF form): full RIFF/WAV container —
    # header fields little-endian, data = PCM16 sweep / G.711 byte
    # formula / zero-filled float payload; NULL every 17th
    def _wav_payload(ev_, i, nv):
        import struct

        import numpy as np

        pcm = ((ev_[:, None] * 31 + i[None, :] * 1717) % 65401 - 32700
               ).astype("<i2")
        g7 = (
            (ev_[:, None] * 37 + i[None, :] * 101 + (i[None, :] ** 2) % 251)
            % 256
        ).astype(np.uint8)
        out = []
        for r, e_ in enumerate(ev_.tolist()):
            if e_ % 17 == 0:
                out.append(None)
                continue
            n_ = int(nv[r])
            if e_ % 13 == 0:
                fmt, bits = 3, 32
            elif e_ % 3 == 0:
                fmt, bits = 1, 16
            elif e_ % 3 == 1:
                fmt, bits = 6, 8
            else:
                fmt, bits = 7, 8
            block = bits // 8
            dlen = n_ * block
            sr = 8000
            hdr = (
                b"RIFF" + struct.pack("<I", dlen + 36) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, fmt, 1, sr,
                                        sr * block, block, bits)
                + b"data" + struct.pack("<I", dlen)
            )
            if fmt == 3:
                data = b"\x00" * dlen
            elif fmt == 1:
                data = pcm[r, :n_].tobytes()
            else:
                data = g7[r, :n_].tobytes()
            out.append(hdr + data)
        return out

    payload = _synth_payload_np(_wav_payload)(e, n)
    clips = ev.select(
        e.cast("string").alias("clip_id"),
        payload.alias("bytes"),
        F.lit("wav").alias("codec"),
    )
    out = audio_codec_energy(clips)
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("decoded_ok").cast("int").alias("decoded_ok"),
        "n_samples",
        "abs_energy",
        "max_abs",
    ).orderBy("clip_id")


# q_audio_tone_probe synthesis constants. Per clip the sample sequence
# x[i] = class_term(i) + noise(i) has period lcm(8, 7) = 56 (tone class
# period 8, hf class period 2, noise period 7 in i), and the noise
# depends on event_id only through event_id % 7 — so every payload is a
# repetition of ONE of 14 precomputed 56-sample hex constants plus a
# truncated tail (NOTES.md #33: per-chunk constants beat per-sample
# interpreted HOF synthesis ~50x for identical bytes).
_TONE_P = (30, 21, 0, -21, -30, -21, 0, 21)  # ~30*cos(2*pi*i/8)
_TONE_COS = (1000, 707, 0, -707, -1000, -707, 0, 707)
_TONE_SIN = (0, 707, 1000, 707, 0, -707, -1000, -707)


def _tone_chunk_hex(cls: int, em7: int) -> str:
    out = []
    for i in range(56):
        base = _TONE_P[i % 8] if cls == 0 else 25 * (1 - 2 * (i % 2))
        v = base + ((em7 + i * 13) % 7 - 3)
        out.append(f"{v & 0xFFFF:04x}"[2:] + f"{v & 0xFFFF:04x}"[:2])
    return "".join(out)


def q_audio_tone_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer one-bin DFT probe (operators/audio.audio_tone_probe):
    band-limit / upsample / hum detection as exact integer arithmetic,
    the oracle-checkable member of the spectral family. Synthesis
    plants two classes — tonal clips carrying ~30*cos at the probe bin
    (correlation >= 14867 per sample) and high-frequency alternating
    clips orthogonal to it over full periods (<= 188 per sample,
    measured over all event_id residues) — plus shared small noise, so
    the is_tonal threshold (6000 milli-units/sample) separates with
    >75x margin and the DuckDB oracle re-derives corr_c/corr_s/is_tonal
    from the closed-form sample formula. Every 17th payload is NULL
    (refuse path); every 3rd gets one odd trailing byte (PCM16
    truncation path)."""
    from .operators.audio import audio_tone_probe

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    n = ((e % 13 + 40) * 8 + e % 5).cast("int")  # 320..427 samples
    chunk = F.lit(None).cast("string")
    for cls in (0, 1):
        for em7 in range(7):
            chunk = F.when(
                (e % 2 == cls) & (e % 7 == em7),
                F.lit(_tone_chunk_hex(cls, em7)),
            ).otherwise(chunk)
    reps = F.ceil(n / 56).cast("int")
    hexstr = F.concat(
        F.substring(F.repeat(chunk, reps), F.lit(1), n * 4),
        # odd trailing byte: must truncate, never shift decoding
        F.when(e % 3 == 0, F.lit("02")).otherwise(F.lit("")),
    )
    payload = F.when(e % 17 == 0, F.lit(None).cast("binary")).otherwise(
        F.to_binary(hexstr, F.lit("hex"))
    )
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    out = audio_tone_probe(
        clips, cos_table=_TONE_COS, sin_table=_TONE_SIN,
        tonal_threshold_milli=6000,
    )
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("decoded_ok").cast("int").alias("decoded_ok"),
        "n_samples",
        "corr_c",
        "corr_s",
        F.col("is_tonal").cast("int").alias("is_tonal"),
    ).orderBy("clip_id")


def q_rule_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop reason-code ladder (plans/pipeline.rule_decisions)
    driver-verified DIRECTLY — the flagship covers it end-to-end at
    sf0.01, but only this query pins the ladder's first-failing
    PRECEDENCE and the opt-in speech-rate rule cross-engine at any SF.
    A features-shaped frame is synthesized in SQL expressions (the
    langid/ppl kernels are Python; their values here are planted
    constants — kernel parity is the flagship's and pytest's job, the
    DECISION ladder is this query's), with every reason code
    reachable, collision rows exercising precedence (e.g. a row that
    is both empty and bad-codec must report empty_transcript), and
    the rate rule hitting all four branches: too slow, too fast,
    zero/NULL duration, and the exact-boundary tie (n_tokens*60000 ==
    wpm*dur_ms is NOT an outlier — strict inequality, exact integers,
    so both engines agree bit-identically). The DuckDB oracle replays
    the identical CASE ladder."""
    from .config import PipelineConfig, QualityConfig
    from .plans.pipeline import rule_decisions

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    features = ev.select(
        e.cast("string").alias("clip_id"),
        (e % 6).cast("int").alias("n_chars"),
        F.when(e % 5 == 0, "mp3").otherwise("pcm_s16le").alias("codec"),
        (e % 7 != 0).alias("dur_ok"),
        F.lit(True).alias("pcm_ok"),
        F.when(e % 11 == 0, "xx").otherwise("en").alias("lang"),
        F.when(e % 13 == 0, F.lit(0.05)).otherwise(F.lit(0.5)).alias(
            "lang_margin"
        ),
        F.when(e % 17 == 0, F.lit(90.0)).otherwise(F.lit(10.0)).alias("ppl"),
        F.when(e % 23 == 0, F.lit(0))
        .otherwise(2000 + (e % 10) * 500)
        .cast("int")
        .alias("dur_ms"),
        (e % 30).cast("int").alias("n_tokens"),
    )
    cfg = PipelineConfig(quality=QualityConfig(wpm_min=30, wpm_max=300))
    out = rule_decisions(features, audio=None, cfg=cfg)
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        "reason",
        F.col("keep_rules").cast("int").alias("keep_rules"),
    ).orderBy("clip_id")


def q_audio_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading/trailing silence trim (operators/audio.audio_trim)
    COMPOSED with a re-decode: the trimmed bytes flow straight into
    audio_codec_energy, whose abs_energy must reproduce kept_energy —
    so frame bounds, byte offsets, AND the sliced byte content are all
    pinned against a DuckDB oracle that never sees a byte (closed-form
    frame energies, VAD-style synthesis: planted leading silence
    e%4 frames, trailing silence e%3 frames, ~27% interior silent
    frames that must NOT trim, all-silent clips every 19th, NULL
    payloads every 17th, odd tail samples every 5th)."""
    from .operators.audio import audio_codec_energy, audio_trim

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 23 + 10).cast("int")  # 10..32 whole frames

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame when-chain HOF form): voiced amp 90 inside the
    # planted [e%4, nf - e%3) span when (e*13 + t*t)%11 < 8 and the
    # clip is not all-silent (e%19), else 2; value-2 tail of e%5
    # samples; NULL every 17th
    def _trim_payload(ev_, t, nv):
        import numpy as np

        voiced = (
            (ev_[:, None] % 19 != 0)
            & (t[None, :] >= (ev_ % 4)[:, None])
            & (t[None, :] < (nv - ev_ % 3)[:, None])
            & ((ev_[:, None] * 13 + t[None, :] ** 2) % 11 < 8)
        )
        amp = np.where(voiced, 90, 2)
        rows = _frame_pair_rows(amp, -amp, fs // 2, nv, tail_cnt=ev_ % 5)
        return [
            None if e_ % 17 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_trim_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    # trim stats ride the content re-decode as passthrough columns
    # (ONE mapInPandas pass — the former shape re-aligned the trim
    # output with itself via an item-keyed self-join behind a
    # localCheckpoint); decoded_ok is the TRIM's flag, aliased around
    # the energy output's own
    trimmed = audio_trim(clips, frame_samples=fs, energy_threshold=400)
    en = audio_codec_energy(
        trimmed.select(
            "clip_id", "bytes", F.lit("pcm_s16le").alias("codec"),
            F.col("decoded_ok").alias("_ok"), "n_frames", "first_voiced",
            "last_voiced", "start_byte", "end_byte", "kept_samples",
            "kept_energy",
        ),
        passthrough=(
            "_ok", "n_frames", "first_voiced", "last_voiced",
            "start_byte", "end_byte", "kept_samples", "kept_energy",
        ),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("_ok").cast("int").alias("decoded_ok"),
            "n_frames",
            "first_voiced",
            "last_voiced",
            "start_byte",
            "end_byte",
            "kept_samples",
            "kept_energy",
            F.col("abs_energy").alias("recheck_energy"),
        )
        .orderBy("clip_id")
    )


def q_audio_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak/gain normalization (operators/audio.audio_gain_normalize)
    COMPOSED with a re-decode: the rescaled bytes flow into
    audio_codec_energy whose abs_energy must equal out_energy, so the
    integer rescale y = sign(x) * ((|x| * T) // peak) is pinned on the
    actual output CONTENT, not just the stats. Synthesis is
    frame-constant (NOTES.md #33): clip e has nf = e%11+4 frames of 8
    samples alternating +a/-a with a = 1 + (e*31 + f*17) % 29000, so
    peaks land on BOTH sides of the target 24000 (up- and down-gain
    both exercised); every 19th clip is digital silence (peak 0 ->
    gain undefined, bytes NULL), every 17th a NULL payload. The DuckDB
    twin recomputes peak, gain_ppm, and out_energy from the closed
    form and never sees a byte."""
    from .operators.audio import audio_codec_energy, audio_gain_normalize

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 11 + 4).cast("int")  # 4..14 whole frames

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame _le16 HOF form): amp_f = (e*31 + f*17) % 29000 + 1
    # (0 for every 19th, digital silence), frame = [amp,-amp]*4,
    # NULL every 17th
    def _gain_payload(ev_, f, nv):
        import numpy as np

        amp = (ev_[:, None] * 31 + f[None, :] * 17) % 29000 + 1
        amp[ev_ % 19 == 0, :] = 0
        rows = _frame_pair_rows(amp, -amp, fs // 2, nv)
        return [
            None if e_ % 17 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_gain_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    # gain stats ride the content re-decode as passthrough columns
    # (ONE mapInPandas pass, no item-keyed self-join / checkpoint)
    normed = audio_gain_normalize(clips, target_peak=24000)
    en = audio_codec_energy(
        normed.select(
            "clip_id", "bytes", F.lit("pcm_s16le").alias("codec"),
            F.col("decoded_ok").alias("_ok"),
            F.col("n_samples").alias("_ns"), "peak", "gain_ppm",
            "out_energy",
        ),
        passthrough=("_ok", "_ns", "peak", "gain_ppm", "out_energy"),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("_ok").cast("int").alias("decoded_ok"),
            F.col("_ns").alias("n_samples"),
            "peak",
            "gain_ppm",
            "out_energy",
            F.col("abs_energy").alias("recheck_energy"),
        )
        .orderBy("clip_id")
    )


def _flac_variant_params(v: int) -> dict:
    """Deterministic per-variant FLAC content parameters. The DuckDB
    oracle re-derives every decoded sample from THESE formulas (see
    ORACLE_SQL['q_flac_energy']); the Spark side packs them into real
    FLAC bitstreams and decodes them back — so the whole decoder
    (frame headers, CRCs, subframe coding, Rice residuals) sits
    between the two derivations."""
    blocksize = 8 + (v * 3) % 17
    nframes = 1 + v % 4
    return {
        "kind": v % 3,  # 0 CONSTANT, 1 VERBATIM, 2 FIXED order 1
        "blocksize": blocksize,
        "nframes": nframes,
        # kind 0: frame f is the constant ((v*2471 + f*977) % 4001)-2000
        # kind 1: sample (f,i) is ((v*37 + (f*blocksize+i)*101) % 4001)-2000
        # kind 2: x_{f,i} = w0_f + i*c_f with
        #         w0_f = ((v*53 + f*29) % 2001) - 1000
        #         c_f  = ((v*7  + f*11) % 41)   - 20
    }


def _flac_variant_samples(v: int) -> list[list[int]]:
    p = _flac_variant_params(v)
    bs, nf, kind = p["blocksize"], p["nframes"], p["kind"]
    frames = []
    for f in range(nf):
        if kind == 0:
            val = ((v * 2471 + f * 977) % 4001) - 2000
            frames.append([val] * bs)
        elif kind == 1:
            frames.append(
                [((v * 37 + (f * bs + i) * 101) % 4001) - 2000
                 for i in range(bs)]
            )
        else:
            w0 = ((v * 53 + f * 29) % 2001) - 1000
            c = ((v * 7 + f * 11) % 41) - 20
            frames.append([w0 + i * c for i in range(bs)])
    return frames


def _flac_payload_hex(v: int) -> str:
    """Pack variant v's frames into a REAL mono 16-bit FLAC stream
    (STREAMINFO + one frame per entry, CRC-8/16 computed): CONSTANT
    subframes for kind 0, VERBATIM for kind 1, FIXED order 1 with a
    constant Rice-coded residual for kind 2."""
    from .operators.flac import _crc8, _crc16

    p = _flac_variant_params(v)
    bs, nf, kind = p["blocksize"], p["nframes"], p["kind"]

    class W:
        def __init__(self):
            self.bits: list[int] = []

        def w(self, val, n):
            for i in range(n - 1, -1, -1):
                self.bits.append((val >> i) & 1)

        def ws(self, val, n):
            self.w(val & ((1 << n) - 1), n)

        def rice(self, val, param):
            u = 2 * val if val >= 0 else -2 * val - 1
            self.bits.extend([0] * (u >> param) + [1])
            self.w(u & ((1 << param) - 1), param)

        def tobytes(self):
            while len(self.bits) % 8:
                self.bits.append(0)
            return bytes(
                int("".join(map(str, self.bits[i : i + 8])), 2)
                for i in range(0, len(self.bits), 8)
            )

    si = W()
    si.w(16, 16); si.w(16, 16); si.w(0, 24); si.w(0, 24)
    si.w(8000, 20); si.w(0, 3); si.w(15, 5); si.w(bs * nf, 36)
    stream = b"fLaC" + bytes([0x80]) + (len(si.tobytes()) + 16).to_bytes(
        3, "big") + si.tobytes() + bytes(16)
    for f, samples in enumerate(_flac_variant_samples(v)):
        h = W()
        h.w(0x3FFE, 14); h.w(0, 1); h.w(0, 1)
        h.w(6, 4); h.w(0, 4); h.w(0, 4); h.w(0, 3); h.w(0, 1)
        h.w(f, 8)          # coded frame number (nf <= 4 < 0x80)
        h.w(bs - 1, 8)     # 8-bit blocksize-1
        head = h.tobytes()
        head += bytes([_crc8(head)])
        body = W()
        if kind == 0:
            body.w(0, 1); body.w(0, 6); body.w(0, 1)
            body.ws(samples[0], 16)
        elif kind == 1:
            body.w(0, 1); body.w(1, 6); body.w(0, 1)
            for s in samples:
                body.ws(s, 16)
        else:
            c = samples[1] - samples[0]
            body.w(0, 1); body.w(8 + 1, 6); body.w(0, 1)
            body.ws(samples[0], 16)
            body.w(0, 2); body.w(0, 4); body.w(6, 4)
            for _ in range(bs - 1):
                body.rice(c, 6)
        raw = head + body.tobytes()
        stream += raw + _crc16(raw).to_bytes(2, "big")
    return stream.hex()


def q_flac_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless decompression end-to-end through Spark: 20
    deterministic variants of genuine FLAC bitstreams (CONSTANT,
    VERBATIM, and FIXED-order-1 subframes with Rice residuals; frame
    CRC-8/16 all real) are packed driver-side from closed-form sample
    formulas, decoded by the production FLAC subset decoder inside
    `audio_codec_energy`, and the DuckDB oracle RE-DERIVES every
    decoded sample from the same formulas (the packer emits bits, the
    oracle emits arithmetic — the entire decoder sits between them).
    Every 17th payload is NULL; every 13th is CRC-corrupted (last
    byte flipped) and must REFUSE (decoded_ok=false) — a decoder that
    skipped CRC verification would return energies there and
    hash-mismatch."""
    from .operators.audio import audio_codec_energy

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    good = F.lit(None).cast("string")
    corrupt = F.lit(None).cast("string")
    for v in range(19, -1, -1):
        hx = _flac_payload_hex(v)
        bad = hx[:-2] + format(int(hx[-2:], 16) ^ 0xFF, "02x")
        good = F.when(e % 20 == v, F.lit(hx)).otherwise(good)
        corrupt = F.when(e % 20 == v, F.lit(bad)).otherwise(corrupt)
    payload = (
        F.when(e % 17 == 0, F.lit(None).cast("binary"))
        .when(e % 13 == 0, F.to_binary(corrupt, F.lit("hex")))
        .otherwise(F.to_binary(good, F.lit("hex")))
    )
    clips = ev.select(
        e.cast("string").alias("clip_id"),
        payload.alias("bytes"),
        F.lit("flac").alias("codec"),
    )
    out = audio_codec_energy(clips)
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("decoded_ok").cast("int").alias("decoded_ok"),
        "n_samples",
        "abs_energy",
        "max_abs",
    ).orderBy("clip_id")


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over orders (all four (status, priority)
    rollup levels in one pass) with GROUPING() disambiguation flags
    and the exact integer-cents money aggregation. Spark computes the
    cube in a single shuffle via the native Expand operator."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(_cents(F.col("o_totalprice"))).alias("sum_cents"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "n",
            "sum_cents",
            "g_status",
            "g_prio",
        )
        .orderBy("status", "priority")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components -> canonical doc per
    cluster (the keep-one step every dedup pipeline ends with), via
    the production `connected_components` hash-min label propagation
    (operators/dedup.py — distributed rounds, driver only checks the
    per-round moved counter). Pairs come from the SimHash banding
    scale path; every document appears (singletons are their own
    component). The DuckDB oracle computes reachability with a
    recursive CTE over the same pair set — a genuinely different
    fixpoint algorithm, so the two engines cross-check the CLUSTERING
    itself, not just the pair list."""
    from .operators.dedup import (
        connected_components,
        simhash64,
        simhash_banded_pairs,
    )

    docs = _td(spark, sf_dir)
    sig = simhash64(docs, id_col="doc_id", text_col="text")
    pairs = simhash_banded_pairs(sig, max_dist=3)
    comp = connected_components(
        pairs, vertices=docs.select(F.col("doc_id").alias("id"))
    )
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "comp")
        .select(
            F.col("id").alias("doc_id"),
            "comp",
            "cluster_size",
            (F.col("id") == F.col("comp")).cast("int").alias("canonical"),
        )
        .orderBy("doc_id")
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join via the production `asof_join` operator
    (operators/timeseries.py): odd events are probes, even events are
    readings (deduped to one max-value row per (user_id, ts) — both
    engines need a deterministic winner); each probe picks up the
    most recent reading at-or-before its timestamp per user. The
    DuckDB oracle is a native ASOF LEFT JOIN, so the union+running-
    window plan is verified against an independent range-semantics
    implementation. Timestamps surface as unix micros (exact int64 in
    both engines); value_r passes through unchanged (bit-exact)."""
    from .operators.timeseries import asof_join, epoch_micros

    ev = _t(spark, sf_dir, "events")
    readings = (
        ev.where(F.col("event_id") % 2 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    probes = ev.where(F.col("event_id") % 2 == 1).select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(probes, readings, on="user_id", ts="ts", values=["value"])
    return out.select(
        "user_id",
        "event_id",
        epoch_micros(out, "ts").alias("ts_us"),
        # no-match sentinels instead of NULLs: the driver's value-hash
        # is engine-agnostic only for concrete values (NOTES.md #7)
        F.coalesce(epoch_micros(out, "ts_r"), F.lit(-1)).alias("match_us"),
        F.coalesce(F.col("value_r"), F.lit(0.0)).alias("value_r"),
    ).orderBy("event_id")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-and-island sessionization (operators/timeseries.py): 12-h
    inactivity gap per user over events (the fixture's inter-event
    times average ~11 h, so this yields ~3 events/session — real
    boundary decisions, not all-singletons), rolled up to per-session
    stats. One shuffle on user_id; the lag-flag and running-sum
    windows share a single sort. Oracle is the same decomposition in
    ANSI window SQL — an independent implementation, not a
    translation (DuckDB knows nothing of the operator's internals)."""
    from .operators.timeseries import session_stats

    ev = _t(spark, sf_dir, "events")
    return (
        session_stats(ev, gap_us=12 * 3600 * 1_000_000, tiebreak="event_id")
        .select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            "n_events",
            "start_us",
            "end_us",
            "span_us",
        )
        .orderBy("user_id", "session_id")
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel within 24h of the first view
    (operators/timeseries.funnel): greedy earliest-per-step ordered
    sequence per user, k cheap keyed passes (one filtered slice +
    groupBy-min per step, partitioning on user reused), NULL
    propagation guarantees steps can never complete out of order.
    Exact-integer epoch-micro times on both engines."""
    from .operators.timeseries import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(
        ev, ["view", "click", "purchase"], horizon_us=24 * 3600 * 1_000_000
    ).orderBy("user_id")


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (operators/fuzzy.py): 24-char title
    prefixes pair within (first char, length-bucket) blocks and
    verify with JVM levenshtein <= 3 — the record-linkage shape that
    replaces O(n^2) all-pairs edit distance at scale. Levenshtein has
    identical integer semantics in DuckDB, so the twin is exact."""
    from .operators.fuzzy import blocked_fuzzy_pairs

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 24).alias("title")
    )
    return blocked_fuzzy_pairs(docs, key_col="title", max_dist=3).orderBy(
        "id_a", "id_b"
    )


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs
    (operators/decontam.containment_pairs): |grams(A) ∩ grams(B)| /
    |grams(A)| >= 0.8 — finds sub-document copies symmetric Jaccard
    signatures miss. Ids-only pair formation per shared gram key with
    the LSH-style hot-bucket cap; oracle recomputes with the same
    cap."""
    from .operators.decontam import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(docs, n=5, threshold=0.8).orderBy(
        "id_a", "id_b"
    )


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (operators/sampling.py):
    per-source keep rates ∝ n^0.3 scaled to half the corpus (the
    mT5/XLM-R multilingual balancing scheme), applied through the
    deterministic md5-bucket membership — shuffle-free, RNG-free,
    resume-stable. The oracle recomputes rates natively (pow + the
    same 6-dp rounding) and the identical bucket, so membership is
    verified row-exactly."""
    from .operators.sampling import hash_bucket, temperature_sample

    docs = _t(spark, sf_dir, "documents")
    out = temperature_sample(docs, "source", "doc_id", alpha=0.3, target_frac=0.5)
    return out.select(
        "doc_id", "source", hash_bucket(F.col("doc_id")).alias("bucket")
    ).orderBy("doc_id")


_BM25_QUERIES = [
    ("q1", "table scan"),
    ("q2", "fast vector batch"),
    ("q3", "customer order value"),
]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-5 retrieval (operators/tfidf.bm25_topk) for a
    literal 3-query workload over the documents corpus: query terms
    broadcast onto the corpus term index, exact-integer tf/df/dl/N
    inputs, one fixed double expression rounded to 6 dp before the
    deterministic (score desc, doc_id asc) ranking."""
    from .operators.tfidf import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    qs = spark.createDataFrame(_BM25_QUERIES, "query_id string, query_text string")
    return bm25_topk(docs, qs, k=5).orderBy("query_id", "rank")


def q_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking + deterministic sequence packing
    (operators/chunking.py): 16-token chunks with 4-token overlap,
    greedily packed into ~64-token bins by running-sum start position
    (global order here — bounded contract input; keyed at scale).
    Every boundary is integer arithmetic mirrored in the oracle."""
    from .operators.chunking import chunk_documents, pack_chunks

    docs = _t(spark, sf_dir, "documents")
    ch = chunk_documents(docs, chunk_tokens=16, overlap=4)
    return pack_chunks(ch, budget_tokens=64).orderBy("doc_id", "chunk_idx")


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style character-entropy quality signal
    (functions/entropy.char_entropy): Shannon bits/char per document
    via the char-granularity word-count shape — map-side combine
    bounds the (doc, char) shuffle by the alphabet size per
    partition. 6-dp rounding absorbs cross-engine float-sum order."""
    from .functions.entropy import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (plans/pipeline.salted_agg):
    groupBy(event_type + salt-of-event_id) partial sums, then a merge
    groupBy(event_type) that moves at most |types| x 16 rows however
    hot a type is. The oracle is a plain salt-blind GROUP BY — the
    whole point is that salting is invisible in the result. Integer
    cents keep the two-phase regroup order-free."""
    from .plans.pipeline import salted_aggregate

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("cents", F.round(F.col("value") * 100).cast("long"))
        .withColumn("one", F.lit(1).cast("long"))
    )
    out = salted_aggregate(
        ev,
        ["event_type"],
        {"total_cents": "cents", "n_events": "one"},
        salt_on="event_id",
    )
    return out.orderBy("event_type")


def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type rolling z-score anomaly flags over the events stream
    (operators/timeseries.rolling_zscore): each value scored against
    the preceding hour of history, current row and same-microsecond
    peers excluded. One shuffle on event_type, one Sort + Window with
    exact integer-cents frame sums (count/sum/sum-of-squares), so the
    DuckDB oracle accumulates identical integers and the final double
    z expression matches bit-for-bit after 6-dp rounding."""
    from .operators.timeseries import rolling_zscore

    ev = _t(spark, sf_dir, "events")
    return rolling_zscore(ev).orderBy("event_id")


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF top-3 keywords (operators/tfidf.py):
    corpus-global document frequency joined back onto per-doc term
    counts, smoothed-idf scores rounded to 6 dp for engine
    portability, deterministic (score desc, term asc) ranking."""
    from .operators.tfidf import tfidf_top_terms

    docs = _td(spark, sf_dir)
    return tfidf_top_terms(docs, k=3).orderBy("doc_id", "rank")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): training
    docs sharing any word 5-gram with a held-out benchmark — here the
    deterministic doc_id % 37 == 0 subset plays the benchmark, and
    the corpus's built-in near-dups make two NON-benchmark docs
    genuinely contaminated. Benchmark n-gram keys broadcast (64-bit
    md5-prefix keys, identical strings in both engines); the corpus
    explode never shuffles; the report is ids-only."""
    from .operators.decontam import contamination_report

    docs = _td(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    return contamination_report(docs, bench, n=5).orderBy("doc_id")


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (the scale path of
    q_decontaminate: broadcast distinct BIT POSITIONS, not keys —
    operators/decontam.bloom_contamination_report). m_bits=65536 is
    deliberately small for the corpus so genuine bloom FALSE
    POSITIVES occur at sf0.01 (the output is a strict superset of the
    exact report, pinned in pytest) — the oracle replays positions,
    the all-k membership test, and the per-doc flag counts exactly."""
    from .operators.decontam import bloom_contamination_report

    docs = _td(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    out = bloom_contamination_report(docs, bench, n=5, k=3, m_bits=65536)
    return out.select(
        "doc_id", F.col("n_flagged_grams").cast("long").alias("n_flagged_grams")
    ).orderBy("doc_id")


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style intra-document repetition quality filter
    (operators/repetition.py): duplicate-line fraction, duplicate-line
    char mass, and top word-2-gram char fraction per document, with
    the Gopher keep/drop thresholds. The synthetic corpus has no
    newlines, so the query first derives 2-word pseudo-lines by
    turning every second word boundary into a newline — a literal,
    length-preserving regex rewrite mirrored verbatim in the DuckDB
    oracle, so both engines score the exact same multi-line text.
    Everything downstream is the production operator: explode +
    map-side-combined groupBys, zero Python."""
    from .operators.repetition import repetition_features

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", r"(\S+ \S+) ", "$1\n").alias("text"),
    )
    return repetition_features(docs).orderBy("doc_id")


_SAMPLE_RATES = {"src1": 0.8, "src4": 0.5, "src7": 0.25, "src12": 0.1}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling / corpus mixing
    (operators/sampling.py): per-source keep rates applied via an
    md5-hash bucket on doc_id — no RNG, no shuffle, pure codegen
    column expressions, so membership is reproducible across engines,
    partitionings, and resumes. Sources outside the rate map keep a
    5% default. The oracle recomputes the identical bucket in DuckDB
    (NOTES.md #7 hashing recipe) and applies the same integer
    thresholds."""
    from .operators.sampling import hash_bucket, stratified_sample

    docs = _t(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs,
        stratum="source",
        id_col="doc_id",
        rates=_SAMPLE_RATES,
        default_rate=0.05,
        den=1000,
    )
    return kept.select(
        "doc_id",
        "source",
        hash_bucket(F.col("doc_id"), 1000).alias("bucket"),
    ).orderBy("doc_id")


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (operators/sampling.priority_sample):
    fixed-size weight-aware sample per source with the
    Duffield–Lund–Thorup unbiased estimator est_w = max(w, tau).
    Weight = n_chars (a byte/token-cost proxy), k = 20 per source.
    Cross-engine exactness rests on q = w / u being one IEEE-754
    double division of the same two integers in both engines
    (correctly rounded => bit-identical); ties broken by doc_id.
    The oracle replays u from the shared md5 recipe and the same
    window rank / (k+1)-th-priority threshold."""
    from .operators.sampling import priority_sample

    docs = _t(spark, sf_dir, "documents")
    out = priority_sample(
        docs, group="source", id_col="doc_id", weight_col="n_chars", k=20
    )
    return out.orderBy("source", "rn")


def q_proto_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality / semantic-outlier scoring
    (operators/prototypes.prototype_scores — the D4/SemDeDup curation
    signal): cosine of each quantized embedding to its label-group's
    integer centroid-sum, ascending outlier rank per group, k=10
    flagged. All aggregation is exact int64 (quantize floor(x*1000 +
    0.5), centroid = element-wise SUM — same direction as the mean);
    the only float ops are two sqrt + one division, IEEE correctly
    rounded, so the DuckDB twin is bit-identical."""
    from .operators.prototypes import prototype_scores

    emb = _t(spark, sf_dir, "embeddings")
    return prototype_scores(
        emb, group="label", id_col="vec_id", dim=64, outlier_k=10
    ).orderBy("label", "outlier_rank")


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (plans/pipeline.salted_join): lineitem
    (60k rows over only 100 suppliers — every supplier is a hot key
    relative to the key cardinality) joined to supplier with the key
    widened to (suppkey, salt) and the small side replicated 8x; the
    small side is hinted "merge" so the physical plan is the salted
    sort-merge the operator exists for (not a broadcast that would
    make the salt a no-op). The oracle is the SALT-BLIND plain join —
    proving the salt is invisible in the result."""
    from .plans.pipeline import salted_join

    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 45)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_suppkey").alias("suppkey"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("price_cents"),
        )
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    return salted_join(
        li, sup, key="suppkey", salt_buckets=8, join_hint="merge"
    ).orderBy("l_orderkey", "l_linenumber")


def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins CDC merge (operators/merge.merge_upsert — the
    parquet twin of Iceberg MERGE INTO): a 10k-row changelog derived
    from events (updates to existing customers, inserts past the base
    key range, ~1% tombstones) applied to the customer snapshot.
    Versions are the integer event ids (monotonic, no wall-clock);
    base rows carry version -1 and lose every tie. Exact integer
    money via the NOTES.md #7 cents recipe."""
    from .operators.merge import merge_upsert

    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        F.lit(-1).cast("long").alias("version"),
    )
    e = F.col("event_id")
    upd = _t(spark, sf_dir, "events").select(
        (e % 2200).alias("custkey"),
        ((e * 7919) % 2000000 - 1000000).cast("long").alias("acctbal_cents"),
        e.alias("version"),
        (e % 97 == 0).alias("is_delete"),
    )
    return merge_upsert(
        base, upd, key="custkey", version_col="version", delete_col="is_delete"
    ).orderBy("custkey")


def q_audio_downmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stereo->mono downmix (operators/audio.audio_downmix) COMPOSED
    with a re-decode of the mono output bytes (audio_codec_energy),
    pinning the averaged CONTENT, not just stats. Synthesis: nf
    frame-groups of 8 interleaved (L, R) pairs with per-group constant
    L = (e*31 + f*17) % 3001 - 1500 and R = (e*7 + f*13) % 2001 - 1000
    (both signs exercised); y = sign(L+R) * (|L+R| // 2) replayed
    closed-form by the DuckDB twin; every 17th clip NULL."""
    from .operators.audio import audio_codec_energy, audio_downmix

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 9 + 3).cast("int")  # 3..11 frame-groups

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame _le16 HOF form): group f interleaves [L,R]*8 with
    # L = (e*31 + f*17) % 3001 - 1500, R = (e*7 + f*13) % 2001 - 1000,
    # NULL every 17th
    def _mix_payload(ev_, f, nv):
        lamp = (ev_[:, None] * 31 + f[None, :] * 17) % 3001 - 1500
        ramp = (ev_[:, None] * 7 + f[None, :] * 13) % 2001 - 1000
        rows = _frame_pair_rows(lamp, ramp, fs, nv)
        return [
            None if e_ % 17 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_mix_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    # downmix stats ride the content re-decode as passthrough columns
    # (ONE mapInPandas pass, no item-keyed self-join / checkpoint)
    mono = audio_downmix(clips, channels=2)
    en = audio_codec_energy(
        mono.select(
            "clip_id", "bytes", F.lit("pcm_s16le").alias("codec"),
            F.col("decoded_ok").alias("_ok"), "n_frames", "out_energy",
        ),
        passthrough=("_ok", "n_frames", "out_energy"),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("_ok").cast("int").alias("decoded_ok"),
            "n_frames",
            "out_energy",
            F.col("abs_energy").alias("recheck_energy"),
        )
        .orderBy("clip_id")
    )


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational pivot (groupBy().pivot() — the Expand-free wide
    reshape): per-day event counts and integer-cents value sums spread
    across the 5 event types as columns. Values pinned by an explicit
    pivot list (never inferred — inference is a driver-side distinct
    scan AND a nondeterministic column order at 10^12 rows). The
    DuckDB twin is conditional aggregation (FILTER), which is also
    exactly what Spark compiles an explicit-list pivot into —
    one shuffle, map-side combined."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.select(day.alias("day"), "event_type", cents.alias("cents"))
        .groupBy("day")
        .pivot("event_type", ["click", "view", "signup", "purchase", "error"])
        .agg(F.sum("cents"))
        .select(
            "day",
            F.col("click").alias("click_cents"),
            F.col("view").alias("view_cents"),
            F.col("signup").alias("signup_cents"),
            F.col("purchase").alias("purchase_cents"),
            F.col("error").alias("error_cents"),
        )
        .orderBy("day")
    )


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (DataFrame.unpivot, Spark 3.4+): the round-trip
    partner of q_pivot — the pivoted wide table melts back to
    (day, event_type, cents) long form, dropping NULL cells (days
    where a type never fired). Composing pivot -> unpivot in one plan
    also pins that the two are mutual inverses up to NULL cells."""
    wide = q_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            "day",
            [
                "click_cents",
                "view_cents",
                "signup_cents",
                "purchase_cents",
                "error_cents",
            ],
            "event_type",
            "cents",
        )
        .where(F.col("cents").isNotNull())
        .withColumn(
            "event_type", F.regexp_replace("event_type", "_cents$", "")
        )
        .orderBy("day", "event_type")
    )


def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile calibration (the equal-frequency bucketize used to
    turn raw quality scores into rank-calibrated deciles before
    thresholding): documents ranked by n_chars within each source,
    NTILE(10) + the decile's row span. Deterministic because the
    window order is made total (n_chars, doc_id)."""
    docs = _t(spark, sf_dir, "documents")
    win = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.ntile(10).over(win).alias("decile"),
    ).orderBy("source", "n_chars", "doc_id")


def q_audio_clipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipping/saturation QC (operators/audio.audio_clipping): count,
    integer ppm, and longest consecutive clipped run per clip. The
    synthesis plants clipped FRAMES (amp 32767, 8 samples) in a
    deterministic ~22% pattern with clean clips every 19th and NULL
    payloads every 17th; the DuckDB twin replays the run structure
    with the classic f - row_number() gaps-and-islands."""
    from .operators.audio import audio_clipping

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 13 + 6).cast("int")  # 6..18 frames

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame when-chain HOF form): clipped frames amp 32767 when
    # (e*7 + f*f) % 9 < 2 (clean clips every 19th), else 500;
    # frame = [amp,-amp]*4, NULL every 17th
    def _clip_payload(ev_, f, nv):
        import numpy as np

        amp = np.where(
            (ev_[:, None] % 19 != 0)
            & ((ev_[:, None] * 7 + f[None, :] ** 2) % 9 < 2),
            32767, 500,
        )
        rows = _frame_pair_rows(amp, -amp, fs // 2, nv)
        return [
            None if e_ % 17 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_clip_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    return (
        audio_clipping(clips, threshold=32760)
        .select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("decoded_ok").cast("int").alias("decoded_ok"),
            "n_samples",
            "clipped",
            "clip_ppm",
            "max_run",
        )
        .orderBy("clip_id")
    )


def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys (functions/zorder.zorder2): the
    Delta/Iceberg ZORDER BY clustering key as a pure shift/mask JVM
    expression over (user_id, value-cents) bucketized to 16 bits, plus
    the 16-way range-bucket assignment (ntile over the key) a writer
    would use to split files. Bit arithmetic has no rounding, so the
    DuckDB twin is the same expression verbatim."""
    from .functions.zorder import zorder2

    ev = _t(spark, sf_dir, "events")
    x = (F.col("user_id") % 65536).cast("long")
    y = (F.round(F.col("value") * 100).cast("long") % 65536).cast("long")
    keyed = ev.select(
        "event_id",
        x.alias("x"),
        y.alias("y"),
        zorder2(x, y, bits=16).alias("zkey"),
    )
    w = Window.orderBy("zkey", "event_id")
    return keyed.withColumn("file_bucket", F.ntile(16).over(w)).orderBy(
        "event_id"
    )


def q_audio_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-knee dynamic-range compression
    (operators/audio.audio_compress_dynamics) COMPOSED with a
    re-decode of the output bytes: overshoot above 8000 keeps 1/4,
    all integer (sign-split //), so the DuckDB twin replays mag,
    reduced-sample count, and energy closed-form. Frame-constant amps
    1 + (e*31 + f*17) % 29000 straddle the knee in both directions."""
    from .operators.audio import audio_codec_energy, audio_compress_dynamics

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 11 + 4).cast("int")

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame _le16 HOF form): amp_f = (e*31 + f*17) % 29000 + 1,
    # frame = [amp,-amp]*4, NULL every 17th
    def _drc_payload(ev_, f, nv):
        amp = (ev_[:, None] * 31 + f[None, :] * 17) % 29000 + 1
        rows = _frame_pair_rows(amp, -amp, fs // 2, nv)
        return [
            None if e_ % 17 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_drc_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    # DRC stats ride the content re-decode as passthrough columns
    # (ONE mapInPandas pass, no item-keyed self-join / checkpoint)
    comp = audio_compress_dynamics(clips, threshold=8000, ratio=4)
    en = audio_codec_energy(
        comp.select(
            "clip_id", "bytes", F.lit("pcm_s16le").alias("codec"),
            F.col("decoded_ok").alias("_ok"),
            F.col("n_samples").alias("_ns"), "reduced", "out_energy",
        ),
        passthrough=("_ok", "_ns", "reduced", "out_energy"),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("_ok").cast("int").alias("decoded_ok"),
            F.col("_ns").alias("n_samples"),
            "reduced",
            "out_energy",
            F.col("abs_energy").alias("recheck_energy"),
        )
        .orderBy("clip_id")
    )


def q_audio_master(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full audio mastering chain COMPOSED end-to-end — stereo
    downmix -> hard-knee compression -> peak normalization -> final
    re-decode — with ONE DuckDB oracle replaying all three integer
    stages closed-form. This pins operator CHAINING through bytes
    (each stage's output bytes feed the next mapInPandas), not just
    each stage alone. Stage params: downmix ch=2, knee 8000 ratio 4,
    target peak 24000. The final stage's stats ride the re-decode as
    passthrough columns, so the 3-stage chain has exactly one
    consumer and materializes once — no checkpoint, no self-join."""
    from .operators.audio import (
        audio_codec_energy,
        audio_compress_dynamics,
        audio_downmix,
        audio_gain_normalize,
    )

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 9 + 3).cast("int")

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame _le16 HOF form) — wider amps than q_audio_downmix so
    # the knee (8000) engages: L = (e*131 + f*37) % 30001 - 15000,
    # R = (e*17 + f*29) % 20001 - 10000, [L,R]*8, NULL every 17th
    def _master_payload(ev_, f, nv):
        lamp = (ev_[:, None] * 131 + f[None, :] * 37) % 30001 - 15000
        ramp = (ev_[:, None] * 17 + f[None, :] * 29) % 20001 - 10000
        rows = _frame_pair_rows(lamp, ramp, fs, nv)
        return [
            None if e_ % 17 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_master_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    mono = audio_downmix(clips, channels=2).select("clip_id", "bytes")
    comp = audio_compress_dynamics(mono, threshold=8000, ratio=4).select(
        "clip_id", "bytes"
    )
    # final-stage stats ride the content re-decode as passthrough
    # columns (ONE chain of mapInPandas stages, no item-keyed
    # self-join and no checkpoint — the chain now has one consumer)
    normed = audio_gain_normalize(comp, target_peak=24000)
    en = audio_codec_energy(
        normed.select(
            "clip_id", "bytes", F.lit("pcm_s16le").alias("codec"),
            F.col("decoded_ok").alias("_ok"),
            F.col("n_samples").alias("_ns"), "peak", "gain_ppm",
            "out_energy",
        ),
        passthrough=("_ok", "_ns", "peak", "gain_ppm", "out_energy"),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("_ok").cast("int").alias("decoded_ok"),
            F.col("_ns").alias("n_samples"),
            "peak",
            "gain_ppm",
            "out_energy",
            F.col("abs_energy").alias("recheck_energy"),
        )
        .orderBy("clip_id")
    )


def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join (completes the join matrix next to
    inner/left/semi/anti/range/asof/salted): per-nation customer
    counts FULL OUTER JOIN per-nation supplier counts — nations with
    only one side present survive with the other side NULL-coalesced,
    which is the whole point of the operator. Aggregate-then-join so
    the outer join runs on two tiny keyed sides (the scale shape:
    never full-outer two fact tables — reduce first)."""
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        cust.join(supp, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
            (F.coalesce("n_cust", F.lit(0)) - F.coalesce("n_supp", F.lit(0)))
            .alias("imbalance"),
        )
        .orderBy("nationkey")
    )


def q_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats (the text-analysis primitive under
    readability/quality scoring): split on [.!?]+ runs, count
    non-empty trimmed sentences and the length of the longest one.
    Pure JVM split/transform/filter; the DuckDB twin uses its own
    regex engine on the same pattern, so the two segmentations check
    each other (the scrub 3-engine discipline, minus the Java-\\b trap
    — the pattern is engine-portable by construction)."""
    docs = _t(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(
            F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s)
        ),
        lambda s: s != "",
    )
    return docs.select(
        "doc_id",
        F.size(sents).alias("n_sentences"),
        F.coalesce(
            F.array_max(F.transform(sents, lambda s: F.length(s))), F.lit(0)
        ).alias("max_sentence_chars"),
    ).orderBy("doc_id")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank (operators/graph.pagerank_int —
    the second iterative-algorithm family next to connected
    components): 5 synchronous rounds over a 400-node graph derived
    from events (src = event_id % 400, dst = (event_id*7 + 3) % 400,
    distinct, provably self-loop-free: 6a+3 is odd, 400 even). Every
    step is integer (`div`), so the DuckDB twin — the same 5 rounds
    unrolled as CTEs — matches to the last digit. The engine loop
    localCheckpoints per round (NOTES.md #36)."""
    from .operators.graph import pagerank_int

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    edges = ev.select(
        (e % 400).alias("src"), ((e * 7 + 3) % 400).alias("dst")
    ).distinct()
    return pagerank_int(edges, rounds=5).orderBy("node")


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation robust outliers per event_type — the
    heavy-tail-safe alternative to mean/std z-scores for quality
    signals (one whale order doesn't move the median). Two exact
    percentile passes (Spark `percentile()` == DuckDB `quantile_cont`,
    NOTES.md #7) over integer cents, then mad_z = (x - med) / mad —
    subtraction/division of identical doubles, IEEE-exact in both
    engines. Flag |mad_z| > 3; groups where mad = 0 (over half the
    values identical) flag nothing (disclosed: mad-z undefined)."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    base = ev.select("event_id", "event_type", cents.alias("cents"))
    stats = base.groupBy("event_type").agg(
        F.percentile(F.col("cents").cast("double"), F.lit(0.5)).alias("med")
    )
    dev = base.join(F.broadcast(stats), "event_type").withColumn(
        "adev", F.abs(F.col("cents").cast("double") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(F.col("mad") > 0)
        .select(
            "event_id",
            "event_type",
            "cents",
            ((F.col("cents").cast("double") - F.col("med")) / F.col("mad"))
            .alias("mad_z"),
        )
        .where(F.abs(F.col("mad_z")) > 3)
        .orderBy("event_id")
    )


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style snapshot reconciliation
    (operators/diff.snapshot_diff): customer vs a deterministically
    mutated twin (every 41st key removed, every 13th rebalanced, 200
    new keys appended) — bucket digests compared first, rows joined
    only in differing buckets. The ORACLE derives each status from
    direct VALUE comparison, while the engine derives it from md5 row
    digests — so the digest mechanism itself (48-bit sums, bucket
    recipe) sits between the two derivations."""
    from .operators.diff import snapshot_diff

    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        cents.alias("cents"),
        F.col("c_mktsegment").alias("seg"),
    )
    k = F.col("custkey")
    mutated = base.where(k % 41 != 0).select(
        "custkey",
        F.when(k % 13 == 0, F.col("cents") + 777)
        .otherwise(F.col("cents"))
        .alias("cents"),
        "seg",
    )
    added = (
        _t(spark, sf_dir, "events")
        .select((F.col("event_id") % 200 + 1500).alias("custkey"))
        .distinct()
        .select(
            "custkey",
            (F.col("custkey") * 31).alias("cents"),
            F.lit("NEW").alias("seg"),
        )
    )
    snap_b = mutated.unionByName(added)
    return snapshot_diff(
        base, snap_b, key="custkey", cols=["cents", "seg"], n_buckets=256
    ).orderBy("custkey")


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (operators/maintenance.py —
    the Iceberg rewrite_data_files / Delta OPTIMIZE planning step):
    a synthetic file manifest (file sizes closed-form in event_id,
    skewed like real streaming commits; table-partitioned by
    event_type) is cut into target-size rewrite groups with a
    per-partition window cumsum + exact integer div. The DuckDB twin
    replays the identical manifest and binning — all int64 bytes."""
    from .operators.maintenance import compaction_plan

    ev = _t(spark, sf_dir, "events")
    manifest = ev.select(
        F.col("event_type").alias("pt"),
        F.col("event_id").alias("file_id"),
        (((F.col("event_id") * 7919) % 1000) * 131072 + 4096).alias(
            "size_bytes"
        ),
    )
    out = compaction_plan(
        manifest,
        target_bytes=32 * 1024 * 1024,
        partition_cols=("pt",),
    )
    return out.orderBy("pt", "file_id")


def q_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Cohen's kappa between three deterministic LLM raters
    (operators/agreement.py — the cheap pre-calibration diagnostic
    for DS2-style noisy-rating curation: the rater whose kappa is low
    against every peer is the one whose transition matrix the
    calibration must fix). Ratings are closed-form in event_id —
    rater llm_a is the base 1..5 label, llm_b shifts the label by one
    on every 7th item, llm_c by two on every 3rd — so the DuckDB twin
    rebuilds the identical rating table and recomputes confusion,
    marginals, po and kappa natively. po and kappa are each ONE
    IEEE-754 division of two exact int64s (NOTES.md #49), so the
    doubles hash-match bit-for-bit with no rounding grid."""
    from .operators.agreement import pairwise_rater_agreement

    ev = _t(spark, sf_dir, "events")
    base = F.col("event_id") % 5 + 1
    l_b = F.when(F.col("event_id") % 7 == 0, base % 5 + 1).otherwise(base)
    l_c = F.when(F.col("event_id") % 3 == 0, (base + 1) % 5 + 1).otherwise(
        base
    )
    parts = [
        ev.select(
            F.col("event_id").alias("clip_id"),
            F.lit(name).alias("rater"),
            lab.cast("int").alias("label"),
        )
        for name, lab in (("llm_a", base), ("llm_b", l_b), ("llm_c", l_c))
    ]
    scores = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return pairwise_rater_agreement(scores).orderBy("rater_a", "rater_b")


def q_crossmodal_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal duplicate consistency (operators/crossmodal.py):
    identical-audio groups with conflicting transcripts (annotation
    inconsistency) and identical-transcript groups spanning distinct
    audio (re-read/multi-take pattern), in one pass over the bytes.

    Synthesis plants both patterns closed-form: clips sharing
    g = event_id % 211 play the same per-frame-constant PCM16 series
    (samples constant within each 8-sample frame — NOTES.md #33
    discipline: the fingerprint only sees frame abs-sums, so one
    interpreted-HOF element per FRAME synthesizes 8 samples), while
    the transcript is 'utt <g mod 97>' with an ' alt' variant on
    every third take (var = event_id div 211) — so every multi-take
    audio group with an alt member is a genuine transcript conflict,
    AND each base transcript is shared by two or three distinct
    audio groups (g, g+97, g+194 all collide mod 97), so the
    audio_variant (re-read / multi-take) flag genuinely fires —
    both flag paths are live in the contract data, not just in the
    operator pytest. Every 11th payload and every 13th transcript is
    NULL (no-group paths). The DuckDB twin re-derives fingerprints
    from the frame formula and both groupings natively."""
    from .operators.crossmodal import crossmodal_consistency

    # spread the tiny pre-synthesis rows across all slots (NOTES #22:
    # the small-SF events scan yields 1-2 partitions, which would
    # serialize both the per-frame synthesis and the fingerprint pass)
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    g = F.col("event_id") % 211
    var = F.expr("event_id div 211")
    def _frame_val(f):
        h = F.col("g") * 8191 + f
        return ((h * h) % 2147483648 * 31 + h) % 2147483648 % 201 - 100

    # the payload is a function of g ALONE (that is the planted
    # structure), so synthesize the 211 distinct payloads once and
    # broadcast-join them back — 211 interpreted-HOF evaluations
    # instead of one per event (the NOTES #33 discipline, taken to
    # its limit: constant-frame chunks AND constant-group payloads)
    hexstr = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.col("nf") - 1),
            lambda f: F.repeat(_le16_hex(_frame_val(f)), 8),
        ),
        "",
    )
    by_g = (
        ev.select(g.alias("g"))
        .distinct()
        .withColumn("nf", (61 + F.col("g") % 3).cast("int"))
        .withColumn("g_payload", F.to_binary(hexstr, F.lit("hex")))
        .drop("nf")
    )
    ev = ev.withColumn("g", g).join(F.broadcast(by_g), "g")
    payload = F.when(
        F.col("event_id") % 11 == 0, F.lit(None).cast("binary")
    ).otherwise(F.col("g_payload"))
    transcript = F.when(
        F.col("event_id") % 13 == 0, F.lit(None).cast("string")
    ).otherwise(
        F.concat(
            F.lit("utt "),
            (g % 97).cast("string"),
            F.when(var % 3 == 1, F.lit(" alt")).otherwise(F.lit("")),
        )
    )
    clips = ev.select(
        F.col("event_id").cast("string").alias("clip_id"),
        payload.alias("bytes"),
        transcript.alias("transcript"),
    )
    out = crossmodal_consistency(clips)
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        "fp",
        "t_hash",
        "audio_dup_count",
        "n_transcripts",
        "transcript_conflict",
        "text_dup_count",
        "n_audio",
        "audio_variant",
    ).orderBy("clip_id")


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keep-one dedup (operators/dedup.canonical_ranks):
    the same SimHash-banding -> connected-components clustering as
    q_dedup_clusters, but the kept member per cluster is the HIGHEST
    QUALITY one (here n_chars — keep the longest crawl; ties by
    lowest doc_id, a total order both engines replay), not min-id.
    The DuckDB oracle recomputes reachability with its recursive CTE
    (independent fixpoint algorithm) and applies the identical
    row_number ranking — cross-checking both the clustering and the
    selection."""
    from .operators.dedup import (
        canonical_ranks,
        connected_components,
        simhash64,
        simhash_banded_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    sig = simhash64(docs, id_col="doc_id", text_col="text")
    pairs = simhash_banded_pairs(sig, max_dist=3)
    comp = connected_components(
        pairs, vertices=docs.select(F.col("doc_id").alias("id"))
    )
    ranked = canonical_ranks(docs, comp, id_col="doc_id", quality_col="n_chars")
    return ranked.orderBy("doc_id")


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup (operators/spandedup.py, Lee et al.
    2021 ExactSubstr at token granularity): duplicated 8-token spans
    are removed from every doc except the lowest-doc_id owner,
    overlapping/touching marks merged into maximal spans, and the
    text rewritten from the surviving tokens. The corpus's planted
    near-dup clusters make this genuinely non-vacuous: ~24 docs lose
    spans at sf0.01 AND sf0.001. The oracle replays key extraction,
    keep-first ownership, the gaps-and-islands merge, and the token
    rewrite in SQL windows — text equality pins the rewrite exactly."""
    from .operators.spandedup import dedup_spans

    docs = _t(spark, sf_dir, "documents")
    return dedup_spans(docs, k=8).orderBy("doc_id")


_BPE_N_MERGES = 10
_BPE_MAX_WORDS = 500


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table training (operators/bpe.py): the distributed
    step is the word-frequency groupBy; the merge loop runs over the
    collected top-N word list with a (count DESC, pair ASC) total
    order. The oracle replays all 10 rounds as unrolled CTEs — pair
    counting, argmax selection, and the terminator-encoded replace —
    so every intermediate vocabulary state is cross-checked, not
    just the final table (the NOTES #51 PageRank unrolling pattern
    applied to tokenizer training)."""
    from .operators.bpe import train_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(
        docs, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
    )
    rows = [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "merge_rank long, lhs string, rhs string, pair_count long"
    ).orderBy("merge_rank")


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the trained BPE table: per-doc token
    count, single-char residue count, and a 64-bit hash of the exact
    token stream. Engine side is the unique-word-memoized mapInPandas
    kernel; the oracle re-trains via the unrolled CTEs and re-encodes
    every distinct word with a recursive CTE applying the merges in
    rank order — the token_hash equality pins the full tokenization
    of every document."""
    from .operators.bpe import bpe_encode, train_bpe

    docs = _td(spark, sf_dir)
    merges = train_bpe(
        docs, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
    )
    return bpe_encode(docs, merges).orderBy("doc_id")


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted corpus mixture plan: BPE token counts
    (q_bpe_encode's tokenizer) aggregated per source, temperature
    weights over TOKEN mass (alpha=0.5), rates scaled to a 60k-token
    budget — the Chinchilla-style form of mixing where the budget is
    tokens, not documents. The whole plan is per-source scalars; the
    oracle re-derives token counts from the unrolled-CTE tokenizer
    replay and applies the identical float-expression order + integer
    ppm/expected-token arithmetic (operators/sampling.
    token_budget_plan)."""
    from .operators.bpe import bpe_encode, train_bpe
    from .operators.sampling import token_budget_plan

    docs = _td(spark, sf_dir)
    merges = train_bpe(
        docs, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS
    )
    per_doc = bpe_encode(docs, merges).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    rows = token_budget_plan(
        per_doc, "source", "n_tokens", alpha=0.5, token_budget=60_000
    )
    return spark.createDataFrame(
        rows,
        "source string, n_docs long, n_tokens long, rate_ppm long, "
        "expected_tokens long",
    ).orderBy("source")


def q_span_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental span dedup (operators/spandedup.
    dedup_spans_incremental): the doc_id % 5 == 0 slice plays a new
    ingest batch scrubbed against the frozen % 5 != 0 base — the
    O(delta) shape a growing corpus runs instead of corpus-wide
    re-dedup. The base reduces to a distinct-gram-key index; ~13
    delta docs genuinely lose spans at sf0.01 (9 at sf0.001). The
    oracle re-derives the index, the base-hit marks, the island
    merge, and the rewrite."""
    from .operators.spandedup import dedup_spans_incremental

    docs = _t(spark, sf_dir, "documents")
    return dedup_spans_incremental(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        k=8,
    ).orderBy("doc_id")


def q_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition — the full corpus-construction chain a
    training-data team actually runs, as ONE verified plan:

      1. span scrub   (operators/spandedup, k=8: boilerplate out)
      2. exact dedup  (keep-first on md5 of the SCRUBBED text — the
                       scrub makes more near-dups collapse to exact)
      3. decontaminate (5-gram overlap vs the doc_id % 37 benchmark
                        split, on scrubbed text)
      4. tokenize     (operators/bpe trained ON THE SURVIVORS)
      5. token budget (alpha=0.5, 40k-token target) + md5-bucket
                       sampling membership

    Output: every original doc with its first-failing drop reason
    ('benchmark', 'empty_after_scrub', 'exact_dup', 'contaminated',
    'not_sampled', '' = kept), kept flag, and BPE token count (NULL
    before stage 4). Every stage is individually oracle-verified
    elsewhere; this query pins that they COMPOSE — the oracle replays
    the whole chain in one SQL statement."""
    from .operators.bpe import bpe_encode, train_bpe
    from .operators.decontam import contamination_report
    from .operators.sampling import hash_bucket, token_budget_plan
    from .operators.spandedup import dedup_spans

    docs = _td(spark, sf_dir).select("doc_id", "text", "source")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    corpus = docs.filter(F.col("doc_id") % 37 != 0)

    # lazy localCheckpoints at stage boundaries: the reason ladder
    # re-joins each stage's output at the end, and Catalyst does NOT
    # dedupe common subplans (NOTES #41) — without these the span
    # chain re-executes once per downstream consumer
    scrubbed = (
        dedup_spans(corpus, k=8)
        .select("doc_id", F.col("dedup_text").alias("text"))
        .join(corpus.select("doc_id", "source"), "doc_id")
        .localCheckpoint(eager=False)
    )
    nonempty = scrubbed.filter(F.col("text") != "")
    # keep-first exact dedup as ONE window over the md5 partition
    # (guide §2.4): the former groupBy-then-self-join paid the agg
    # exchange PLUS a join shuffle of the text rows for the same
    # "doc_id == min(doc_id) within md5(text)" predicate
    w_md5 = Window.partitionBy(F.md5("text"))
    s2 = (
        nonempty.withColumn("_keeper", F.min("doc_id").over(w_md5))
        .filter(F.col("doc_id") == F.col("_keeper"))
        .select("doc_id", "text", "source")
        .localCheckpoint(eager=False)
    )
    hits = contamination_report(s2, bench, n=5).select(
        "doc_id"
    ).localCheckpoint(eager=False)
    s3 = s2.join(hits, "doc_id", "left_anti").localCheckpoint(eager=False)

    merges = train_bpe(s3, n_merges=_BPE_N_MERGES, max_words=_BPE_MAX_WORDS)
    toks = (
        bpe_encode(s3, merges)
        .select("doc_id", "n_tokens")
        .join(s3.select("doc_id", "source"), "doc_id")
        .localCheckpoint(eager=False)
    )
    plan = token_budget_plan(
        toks, "source", "n_tokens", alpha=0.5, token_budget=40_000
    )
    ppm = {s: int(rate_ppm) for s, _, _, rate_ppm, _ in plan}
    thr = F.lit(0)
    for s in sorted(ppm):
        thr = F.when(F.col("source") == s, F.lit(ppm[s])).otherwise(thr)
    sampled = toks.filter(hash_bucket(F.col("doc_id")) < thr).select("doc_id")

    reason = (
        F.when(F.col("doc_id") % 37 == 0, "benchmark")
        .when(F.col("_empty") == 1, "empty_after_scrub")
        .when(F.col("_s2").isNull(), "exact_dup")
        .when(F.col("_hit").isNotNull(), "contaminated")
        .when(F.col("_samp").isNull(), "not_sampled")
        .otherwise("")
    )
    # a 1-bit emptiness flag, not the scrubbed text itself, rides the
    # reason-ladder join (the payload never re-shuffles); coalesce
    # folds NULL text — which dedup_spans passes through as NULL —
    # into 'empty_after_scrub', matching the oracle's coalesce
    out = (
        docs.join(
            scrubbed.select(
                "doc_id",
                (F.coalesce(F.col("text"), F.lit("")) == "")
                .cast("int")
                .alias("_empty"),
            ),
            "doc_id",
            "left",
        )
        .join(s2.select("doc_id", F.lit(1).alias("_s2")), "doc_id", "left")
        .join(hits.select("doc_id", F.lit(1).alias("_hit")), "doc_id", "left")
        .join(
            toks.select("doc_id", F.col("n_tokens").alias("_ntok")),
            "doc_id",
            "left",
        )
        .join(sampled.select("doc_id", F.lit(1).alias("_samp")), "doc_id", "left")
    )
    return out.select(
        "doc_id",
        "source",
        reason.alias("drop_reason"),
        (reason == "").cast("int").alias("kept"),
        F.col("_ntok").cast("long").alias("n_tokens"),
    ).orderBy("doc_id")


def q_auc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware Mann-Whitney AUC per cohort
    (operators/evalmetrics.auc_by_group): does the quality score
    separate keep from drop? — the measurement a DS2-style curation
    loop runs after every calibration pass. Scores are the pipeline's
    0..100 integer quantization, so the rank window runs over <= 101
    DISTINCT scores per cohort regardless of row count; the 2*rank-sum
    form keeps everything integral until one final division, so the
    DuckDB twin (identical closed-form score/label synthesis, same
    average-rank algebra) is bit-exact. Labels are synthesized
    positively correlated with the score (label = 1 iff an independent
    hash draw < score) so the AUC is a real ~0.66, not a degenerate
    0.5/1.0, and ties occur at every score level."""
    from .operators.evalmetrics import auc_by_group

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    scored = ev.select(
        (e % 5).cast("int").alias("cohort"),
        ((e * 7919) % 101).cast("int").alias("score"),
        (((e * 104729) % 100) < ((e * 7919) % 101)).cast("int").alias(
            "label"
        ),
    )
    return auc_by_group(scored, "cohort", "score", "label").orderBy(
        "cohort"
    )


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Brier decomposition
    (operators/evalmetrics.calibration_bins) over the same synthetic
    score/label population as q_auc_scores: per decile bin of the
    0..100 integer score, row count, mean predicted probability,
    empirical positive rate, summed Brier contribution and
    |gap|. Single map-side-combined aggregation; every statistic is a
    ratio of exact integer sums ((p - 100*y)^2 stays integral), so
    the twin matches bit-for-bit with zero rounding."""
    from .operators.evalmetrics import calibration_bins

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    scored = ev.select(
        ((e * 7919) % 101).cast("int").alias("score"),
        (((e * 104729) % 100) < ((e * 7919) % 101)).cast("int").alias(
            "label"
        ),
    )
    return calibration_bins(
        scored, "score", "label", n_bins=10, scale=100
    ).orderBy("bin")


def q_wer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level word error rate between candidate transcript pairs
    (operators/evalmetrics.wer_pairs) — the ASR-version-comparison /
    near-dup-adjudication metric. Tokens come from the established
    lower + explicit-WS-class split on a 160-char transcript prefix; candidates are
    adjacent-id pairs (a stand-in for any blocked/capped generator —
    the operator never forms pairs itself); pairs whose UNION vocab
    exceeds 126 distinct tokens are excluded on BOTH sides (disclosed
    cap). The engine runs a row-vectorized NumPy Wagner-Fischer DP
    over Arrow batches; the DuckDB twin maps each pair's union vocab
    to single ASCII BYTES (chr(1..126)) and uses byte-based
    levenshtein — two genuinely independent algorithms that must
    agree integer-exactly (DuckDB's levenshtein is byte-based, which
    is exactly why the per-pair single-byte dictionary makes it a
    valid token-DP oracle)."""
    from .operators.evalmetrics import wer_pairs

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.substring("text", 1, 160)), WS_SPLIT),
            lambda x: x != F.lit(""),
        ).alias("w"),
    )
    a = toks.select(
        F.col("doc_id").alias("id_a"), F.col("w").alias("tokens_a")
    ).where(F.col("id_a") % 17 == 0)
    b = toks.select(
        F.col("doc_id").alias("id_b"), F.col("w").alias("tokens_b")
    )
    pairs = a.join(b, a.id_a + 1 == b.id_b).where(
        (
            F.size(F.array_distinct(F.concat("tokens_a", "tokens_b")))
            <= 126
        )
        & (F.size("tokens_a") > 0)
    )
    return wer_pairs(pairs).orderBy("id_a")


def q_f1_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop threshold sweep (operators/evalmetrics.threshold_sweep)
    — the measurement behind this pipeline's own acceptance gate (the
    north rule's keep/drop F1 >= 0.99): per cohort and candidate
    threshold `score >= t`, the exact confusion matrix plus
    precision/recall/F1. Same synthetic score/label population as
    q_auc_scores. The engine collapses rows to DISTINCT (cohort,
    score) cells before meeting the broadcast threshold list (two
    map-side-combined aggregations, no per-threshold pass over raw
    rows); the DuckDB twin aggregates the RAW rows conditionally per
    threshold — a genuinely different plan that must agree
    bit-for-bit because every count stays integral and each ratio is
    one IEEE division of the same integers."""
    from .operators.evalmetrics import threshold_sweep

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    scored = ev.select(
        (e % 5).cast("int").alias("cohort"),
        ((e * 7919) % 101).cast("int").alias("score"),
        (((e * 104729) % 100) < ((e * 7919) % 101)).cast("int").alias(
            "label"
        ),
    )
    return threshold_sweep(
        scored,
        "score",
        "label",
        thresholds=list(range(0, 101, 5)),
        group_col="cohort",
    ).orderBy("cohort", "t")


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval/test split
    (operators/dedup.cluster_split): whole near-dup CLUSTERS are
    hashed to a split, so no eval document has a near-duplicate in
    train — the contamination path row-wise splitting leaves open.
    Pairs come from the SimHash banding scale path (same as
    q_dedup_clusters); the assignment is the md5-bucket ladder over
    the component label with integer boundaries 8/1/1. The DuckDB
    twin recomputes the components with a recursive CTE (different
    fixpoint algorithm) and the identical bucket arithmetic, so the
    split assignment itself is cross-checked end to end."""
    from .operators.dedup import cluster_split, simhash64, simhash_banded_pairs

    docs = _td(spark, sf_dir)
    sig = simhash64(docs, id_col="doc_id", text_col="text")
    pairs = simhash_banded_pairs(sig, max_dist=3)
    return (
        cluster_split(
            docs.select("doc_id"),
            pairs,
            weights={"train": 8, "eval": 1, "test": 1},
        )
        .select("doc_id", "comp", "split")
        .orderBy("doc_id")
    )


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketed storage layout
    (sources/bucketed.py): both sides are written bucketed on the
    join key (paying the shuffle ONCE at write time), then joined
    through `colocated_join`, which refuses mismatched layouts
    instead of letting Catalyst silently fall back to a full
    re-shuffle. The Exchange-free SortMergeJoin plan shape is pinned
    by pytest (tests/test_bucketed.py — a values oracle cannot see
    plan properties); this contract query cross-checks that the
    layout round-trip CHANGES NOTHING about the answer: synthesize ->
    bucketed write -> catalog read -> co-located join -> aggregate
    must equal DuckDB's plain join over the same closed-form input."""
    import atexit
    import shutil
    import uuid

    from .sources.bucketed import colocated_join, write_bucketed

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    facts = ev.select(
        "event_id",
        (e % 509).alias("user_id"),
        ((e * 31) % 1000).alias("v"),
    )
    dims = (
        facts.select("user_id").distinct().select(
            "user_id", (F.col("user_id") % 7).alias("seg")
        )
    )
    # hermetic per-invocation layout: unique temp dir + table names so
    # concurrent contract runs (or a driver running queries in
    # parallel) never collide on path or metastore name; the catalog
    # entries are dropped as soon as the join plan is ANALYZED (the
    # resolved relation executes fine without them), and the data dir
    # is removed at interpreter exit — no residue in /tmp or the
    # warehouse after a run
    tag = uuid.uuid4().hex[:12]
    base = f"/tmp/ds2_q_bucketed_{tag}"
    tf, td = f"q_bj_facts_{tag}", f"q_bj_dims_{tag}"
    write_bucketed(facts, tf, f"{base}/facts", "user_id", 8,
                   sort_col="user_id")
    write_bucketed(dims, td, f"{base}/dims", "user_id", 8,
                   sort_col="user_id")
    j = colocated_join(spark, tf, td, ["user_id"])
    _ = j.schema  # force analysis before the catalog entries go away
    spark.sql(f"DROP TABLE IF EXISTS {tf}")
    spark.sql(f"DROP TABLE IF EXISTS {td}")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return (
        j.groupBy("user_id", "seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sum_v"),
        )
        .orderBy("user_id")
    )


def q_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift report (operators/drift.drift_summary): PSI,
    chi-square, and exact total-variation distance between two score
    populations — the between-recalibrations monitoring a production
    curation loop runs (did the corpus move since the last pass?).
    Even events are snapshot A (uniform decile buckets), odd events
    are B with a deterministic upward shift, so the drift is real and
    interior. Each snapshot collapses to per-bucket counts in one
    map-side-combined pass; PSI/chi2 terms are e6-quantized integers
    before summing (order-free totals; the tfidf 6-dp/ln discipline),
    TV is 128-bit-exact integer arithmetic with ONE double division
    at the end — so the DuckDB twin, replaying the same algebra over
    its own full-outer-join of counts, must match bit-for-bit."""
    from .operators.drift import drift_summary

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    score = (e * 7919) % 101
    a = ev.where(e % 2 == 0).select(
        F.floor(score / 10).cast("int").alias("bucket")
    )
    b = ev.where(e % 2 == 1).select(
        F.least(F.floor(score / 10) + e % 3, F.lit(10))
        .cast("int")
        .alias("bucket")
    )
    return drift_summary(a, b, "bucket")


def q_lm_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Kneser-Ney LM training (operators/lm.kn_word_trigrams):
    word-trigram counts over the documents corpus -> interpolated-KN
    probabilities with true continuation counts (n1+ of contexts a
    word completes / distinct trigram types), top 50 by (p_kn DESC,
    trigram ASC), p_kn 6-dp-rounded BEFORE the rank. This is the
    SQL-checkable twin of the production byte-bucket LM path
    (operators/lm.train_trigram_counts — pytest pins that one
    bit-exactly against functions/textkernels.ppl_model): the DuckDB
    oracle re-derives tokenization, counts, continuation statistics,
    and the KN formula independently, so the smoothing math itself is
    cross-engine-verified. Plan: one corpus-sized explode straight
    into a partial-aggregated groupBy; everything downstream is
    vocabulary-sized."""
    from .operators.lm import kn_word_trigrams

    docs = _td(spark, sf_dir)
    return kn_word_trigrams(docs, discount=0.75, top_n=50)


def q_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (functions/text.nfc_udf) — canonical
    composition so dedup keys / token counts / scrub regexes see one
    byte form. The input is synthesized IN-QUERY from doc_id with
    combining characters (e+U+0301, A+U+030A, o+U+0308) so the oracle
    can rebuild it exactly: DuckDB then runs its OWN normalizer
    (utf8proc nfc_normalize) against CPython's unicodedata — two
    independent implementations of UAX #15 hashed against each other,
    plus codepoint-count deltas (all BMP, so Spark's UTF-16 length ==
    DuckDB's codepoint length)."""
    from .functions.text import nfc_udf

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 4
    sid = F.col("doc_id").cast("string")
    raw = (
        # DECOMPOSED escapes (base + combining mark) so NFC genuinely
        # composes; case 2 is already-NFC U+00F1, case 3 pure ASCII —
        # both must round-trip unchanged. Escapes, not raw bytes:
        # an editor/tool normalizing this FILE must not alter the test
        F.when(m == 0, F.concat(F.lit("cafe\u0301 visit "), sid))
        .when(m == 1, F.concat(F.lit("A\u030Angstro\u0308m "), sid))
        .when(m == 2, F.concat(F.lit("ni\u00f1o "), sid))
        .otherwise(F.concat(F.lit("plain ascii "), sid))
    )
    return (
        docs.withColumn("raw", raw)
        .withColumn("nfc", nfc_udf(F.col("raw")))
        .select(
            "doc_id",
            "nfc",
            (F.col("raw") != F.col("nfc")).alias("changed"),
            F.length("raw").alias("n_cp_raw"),
            F.length("nfc").alias("n_cp_nfc"),
        )
        .orderBy("doc_id")
    )


def q_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invisible-character / confusable-width sanitization
    (functions/text.sanitize_col) — zero-width characters make
    visually-identical transcripts miss exact-dedup keys, bidi
    override controls are the Trojan-Source reordering vector, and
    fullwidth ASCII slips past keyword rules and scrub regexes. The
    whole chain is JVM regexp_replace + translate (whole-stage
    codegen, no UDF); the oracle replays the IDENTICAL three-step
    chain in DuckDB (RE2 + translate) over the same
    in-query-synthesized hostile text — two regex engines executing
    one spec, hashed against each other. Inputs are built from \\u
    escapes / chr() so a file-level normalizer can't neuter the test
    (the q_nfc_normalize discipline); every char is BMP so Spark's
    UTF-16 length() equals DuckDB's codepoint length()."""
    from .functions.text import sanitize_col, sanitize_stripped_col

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 6
    sid = F.col("doc_id").cast("string")
    raw = (
        # ZWSP inside a word + ZWJ (dedup-key attack)
        F.when(m == 0, F.concat(F.lit("zero\u200bwidth\u200d join "), sid))
        # RLO ... PDF (Trojan-Source bidi override)
        .when(m == 1, F.concat(F.lit("bidi \u202ekcatta\u202c "), sid))
        # NBSP + thin space (tokenizer splitters miss both)
        .when(m == 2, F.concat(F.lit("nbsp\u00a0and\u2009thin "), sid))
        # fullwidth F W ! (keyword-rule evasion)
        .when(m == 3, F.concat(F.lit("\uff26\uff37\uff01 text "), sid))
        # clean ASCII — must round-trip unchanged (changed = false)
        .when(m == 4, F.concat(F.lit("plain ascii "), sid))
        # BOM prefix + soft hyphen + ideographic space
        .otherwise(F.concat(F.lit("\ufeffhy\u00adphen\u3000"), sid))
    )
    return (
        docs.withColumn("raw", raw)
        .withColumn("clean", sanitize_col(F.col("raw")))
        .withColumn("n_strip_len", F.length(sanitize_stripped_col(F.col("raw"))))
        .select(
            "doc_id",
            "clean",
            (F.col("raw") != F.col("clean")).alias("changed"),
            F.length("raw").alias("n_cp_raw"),
            F.length("clean").alias("n_cp_clean"),
            (F.length("raw") - F.col("n_strip_len")).alias("n_stripped"),
        )
        .orderBy("doc_id")
    )


def q_luhn_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated credit-card scrub (functions/scrub.scrub_cc_col) —
    checksum-gated PII redaction: a bare 13-19-digit regex would
    redact invoice ids and tracking numbers wholesale, so candidates
    are regex-extracted, ISO/IEC 7812 mod-10 validated, and only
    validated matches are replaced. The oracle replays the IDENTICAL
    two-pass extract-validate-fold algorithm in DuckDB (scrub_cc_sql —
    RE2 extraction + list_filter Luhn in exact integer arithmetic +
    list_reduce replace), built by the same module that builds the
    Spark expression. Case 3 plants two cards separated by ONE space,
    so the hash also pins the fixed-point second pass; case 2 is a
    Luhn-INVALID 16-digit run that must survive; case 4 is a 20-digit
    run that is never a candidate in any engine."""
    from .functions.scrub import CC_TAG, scrub_cc_col

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 6
    sid = F.col("doc_id").cast("string")
    raw = (
        F.when(m == 0, F.concat(F.lit("card 4532 0151 1283 0366 on file "), sid))
        .when(m == 1, F.concat(F.lit("card 4111-1111-1111-1111 ok "), sid))
        .when(m == 2, F.concat(F.lit("num 1234567812345678 plain "), sid))
        .when(m == 3, F.concat(F.lit("pair 4532015112830366 4222222222222 tail "), sid))
        .when(m == 4, F.concat(F.lit("long 12345678901234567890 run "), sid))
        .otherwise(F.concat(F.lit("clean text no numbers "), sid))
    )
    clean = scrub_cc_col(F.col("raw"))
    # synthesized raw never contains a literal tag, so the clean-side
    # count alone is the number of replacements
    n_cc = (
        (F.length("clean") - F.length(F.replace(F.col("clean"), F.lit(CC_TAG), F.lit(""))))
        / F.lit(len(CC_TAG))
    ).cast("int")
    return (
        docs.withColumn("raw", raw)
        .withColumn("clean", clean)
        .select(
            "doc_id",
            "clean",
            n_cc.alias("n_cc"),
            (F.col("raw") != F.col("clean")).alias("changed"),
        )
        .orderBy("doc_id")
    )


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/urls.url_parts) — the first
    exact-dedup key of a web-scale corpus: case folds, default-port
    and fragment stripping, credential-userinfo removal (flagged),
    tracking-param removal + bytewise param sort, www folding,
    registrable-domain extraction (PSL-approximate: last-2, or last-3
    behind a known second-level suffix like co.uk). Pure JVM string
    ops (whole-stage codegen, no UDF); the oracle replays the
    IDENTICAL spec via url_parts_sql — one module emits both engines'
    expressions, and the synthesized inputs cover valid, garbage-port,
    bad-scheme and non-URL rows so the NULL-on-invalid contract is
    exercised, not just the happy path."""
    from .functions.urls import url_parts

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 8
    sid = F.col("doc_id").cast("string")
    raw = (
        # case + www + default port + tracking + fragment, all at once
        F.when(m == 0, F.concat(
            F.lit("HTTP://WWW.Site"), sid,
            F.lit(".COM:80/A/B?b=2&utm_source=x&a=1#f")))
        # userinfo stripped + flagged; co.uk registrable domain
        .when(m == 1, F.concat(
            F.lit("https://user:pw@news"), sid,
            F.lit(".co.uk/item?utm_campaign=z&id="), sid))
        # no path -> '/'
        .when(m == 2, F.concat(F.lit("https://example"), sid, F.lit(".com")))
        # non-default port kept; duplicate param names sort bytewise;
        # trailing '&' drops its empty param
        .when(m == 3, F.concat(
            F.lit("http://shop"), sid, F.lit(".example.com:8080/p?z=1&z=0&")))
        # non-http scheme -> invalid
        .when(m == 4, F.concat(F.lit("ftp://files"), sid, F.lit(".com/x")))
        # garbage port -> invalid (must not silently vanish)
        .when(m == 5, F.concat(F.lit("http://host"), sid, F.lit(":80a/x")))
        # http on :443 is NOT default -> port kept; deep co.uk host
        .when(m == 6, F.concat(
            F.lit("http://a.b"), sid, F.lit(".co.uk:443/x?gclid=a&keep="),
            sid))
        # no scheme at all -> invalid
        .otherwise(F.concat(F.lit("plain text "), sid))
    )
    p = url_parts(F.col("raw"))
    return (
        docs.withColumn("raw", raw)
        .select(
            "doc_id",
            p["valid"].alias("valid"),
            p["scheme"].alias("scheme"),
            p["host"].alias("host"),
            p["port"].alias("port"),
            p["path"].alias("path"),
            p["query"].alias("query"),
            p["domain"].alias("domain"),
            p["had_userinfo"].alias("had_userinfo"),
            p["canonical"].alias("canonical"),
        )
        .orderBy("doc_id")
    )


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation aggregate (functions/urls.url_domain) —
    the production group-by that feeds domain priors and blocklist
    filtering (C4/CCNet shape): canonicalize noisy URL variants (www,
    case, default port, fragment, tracking params), group by
    registrable domain, count raw URLs vs distinct canonical URLs
    (the dedup ratio), and apply a broadcast blocklist. Three noise
    forms of the same logical URL must collapse to ONE canonical —
    n_canonicals counts logical pages, n_urls counts crawl rows. The
    aggregation shuffles only (domain, canonical) — at 10^12 rows the
    payload never moves, and domain is a low-cardinality key whose
    skew is the classic hot-domain case (salt upstream if one domain
    dominates; see plans/pipeline salted_scatter)."""
    from .functions.urls import url_parts

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    g = (F.col("doc_id") % 7).cast("string")
    k = (F.col("doc_id") % 20).cast("string")
    m = F.col("doc_id") % 3
    raw = (
        F.when(m == 0, F.concat(
            F.lit("http://www.site"), g, F.lit(".com/p"), k,
            F.lit("?utm_source=x")))
        .when(m == 1, F.concat(
            F.lit("HTTP://site"), g, F.lit(".COM:80/p"), k))
        .otherwise(F.concat(
            F.lit("http://site"), g, F.lit(".com/p"), k, F.lit("#frag")))
    )
    p = url_parts(F.col("raw"))
    urls = docs.withColumn("raw", raw).select(
        p["domain"].alias("domain"), p["canonical"].alias("canonical")
    )
    blocked = F.col("domain").isin("site0.com", "site3.com")
    return (
        urls.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("canonical").alias("n_canonicals"),
        )
        .select(
            "domain",
            "n_urls",
            "n_canonicals",
            blocked.alias("blocked"),
            F.when(blocked, F.lit(0).cast("long"))
            .otherwise(F.col("n_urls"))
            .alias("kept_urls"),
        )
        .orderBy("domain")
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML tag strip + entity decode (functions/htmltext) — the
    web-ingest step before any quality heuristic: script/style/comment
    removal, tag strip, decimal/hex/named entity decode (&amp; last,
    the non-double-decode rule), whitespace squeeze, plus the
    text-to-markup ratio CCNet-class boilerplate filters threshold on.
    The keep rule is integer-exact (4*n_text >= n_raw, i.e. ratio >=
    0.25) — no float tolerance anywhere. Pure JVM (regexp_replace +
    HOF entity folds); the oracle replays the IDENTICAL spec via
    strip_html_sql over the same synthesized pages (real document
    text wrapped in markup/entity/boilerplate variants, unterminated
    script included)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 5
    sid = F.col("doc_id").cast("string")
    snip = F.substring(F.col("text"), 1, 120)
    raw = (
        F.when(m == 0, F.concat(
            F.lit("<html><head><style>p{x}</style><title>Doc "), sid,
            F.lit("</title></head><body><p>"), snip,
            F.lit("</p></body></html>")))
        # boilerplate-heavy page: low text ratio, dropped by the rule
        .when(m == 1, F.concat(
            F.lit("<div class='nav'><ul><li>a</li><li>b</li></ul>"
                  "</div><script>var x=1;</script><p>"),
            F.substring(F.col("text"), 1, 8), F.lit("</p>")))
        .when(m == 2, F.concat(
            snip, F.lit(" &amp; &#65; &#x42; &lt;b&gt; "), sid))
        # unterminated script: body survives (documented regex bound)
        .when(m == 3, F.concat(
            F.lit("<!-- c --><b>"), snip, F.lit("</b><script>junk "), sid))
        .otherwise(snip)
    )
    from .functions.htmltext import strip_html_col

    # materialize text_clean ONCE (lazy localCheckpoint — the tfidf
    # re-explode discipline): three consumers reference it (output,
    # length, keep) and projection collapse would re-run the
    # interpreted regex+fold chain per consumer
    base = (
        docs.withColumn("raw", raw)
        .withColumn("text_clean", strip_html_col(F.col("raw")))
        .localCheckpoint(eager=False)
    )
    return (
        base.select(
            "doc_id",
            "text_clean",
            F.length("raw").alias("n_chars_raw"),
            F.length("text_clean").alias("n_chars_text"),
            (F.length("text_clean") * 4 >= F.length("raw")).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _dhash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared synthesis for the image-dhash queries: one REAL 9x8 P6
    PPM per document with R=G=B (luma weights sum to 1000 so the gray
    value survives the luma step exactly). Pixels are a QUADRATIC
    closed form p(k) = (x*x*7 + x*13) % 251 with x = pair*73 + k + 1 —
    quadratic, not linear, because a linear gradient makes every
    image's neighbor-comparison bits nearly identical (the first cut
    produced ~22 accidental 'near-dups' per doc and a quadratic
    band-bucket blowup at larger SFs; x^2 scatter makes distinct
    pairs ~32 bits apart, the realistic operating point). x <= ~365k
    at sf0.1 so x*x*7 < 2^63 — exact in BIGINT on both engines. Odd
    doc_ids perturb 3 pixels (k in 0/29/58) of their even sibling's
    image — the flipped comparison bits land in bands 0/1/3 only, so
    band 2 always matches and planted-pair recall is exactly 1. The
    ENGINE decodes the actual bytes (header walk + frombuffer +
    area-mean resize identity at 9x8); the ORACLE never sees a byte —
    it recomputes the hash from the pixel formula, so the whole
    decode+hash kernel sits between them (the q_audio_fingerprint
    discipline)."""
    # repartition BEFORE synthesis: mapInPandas parallelism = input
    # partitions, and the small documents scan is 1-2 (NOTES.md #22)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).select("doc_id")
    # vectorized synthesis twin (guide §4.2; byte-identical to the
    # former per-pixel HOF form): gray value repeated into R=G=B,
    # "P6\n9 8\n255\n" header
    def _ppm_payload(dv, i, nv):
        import numpy as np

        pair_ = dv - (dv % 2)
        x = pair_[:, None] * 73 + i[None, :] + 1
        pert = np.where(
            (dv[:, None] % 2 == 1) & (i[None, :] % 29 == 0), 97, 0
        )
        p = ((x * x * 7 + x * 13 + pert) % 251).astype(np.uint8)
        rgb = np.repeat(p, 3, axis=1)
        hdr = b"P6\n9 8\n255\n"
        return [hdr + rgb[r].tobytes() for r in range(len(dv))]

    synth = _synth_payload_np(_ppm_payload)(F.col("doc_id"), F.lit(72))
    return docs.select(
        "doc_id",
        # width 12 (not 6): lpad TRUNCATES longer strings, so a 6-wide
        # pad would collide media_ids at doc_id >= 10^6
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("media_id"),
        synth.alias("bytes"),
        F.lit("image/x-portable-pixmap").alias("mime"),
    )


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hash (operators/multimodal.image_dhash) — the
    dedup key for image payloads: integer luma, exact area-mean
    resize to the 9x8 dHash grid, neighbor-comparison bits packed
    into two 32-bit halves (one signed-64 pack would overflow bit 63
    on the SQL side). 10000 REAL P6 payloads decoded by the engine vs
    a formula-only SQL re-derivation — the decoder and hash kernel
    sit entirely between the two sides."""
    from .operators.multimodal import image_dhash

    media = _dhash_media(spark, sf_dir)
    out = image_dhash(media)
    return (
        media.select("doc_id", "media_id")
        .join(out, "media_id")
        .select("doc_id", "decoded_ok", "dhash_hi", "dhash_lo")
        .orderBy("doc_id")
    )


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Hamming near-dup over image dhashes
    (operators/multimodal.image_dhash_pairs) — four 16-bit bands give
    FULL recall at hamming <= 3 by pigeonhole (the planted pairs
    perturb 3 pixels), ids-only shuffles, no all-pairs. The oracle
    recomputes both hashes closed-form and replays the identical
    band-join + popcount(xor) verify in SQL."""
    from .operators.multimodal import image_dhash, image_dhash_pairs

    media = _dhash_media(spark, sf_dir)
    pairs = image_dhash_pairs(image_dhash(media), max_hamming=8)
    return pairs.orderBy("id_a", "id_b")


def q_quality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed TRAINED linear quality probe (operators/probe) —
    the trained-classifier gate real corpora use alongside hand
    rules: 8 full-batch GD steps, each ONE map-side-combined Spark
    aggregate whose per-row gradient contributions are
    integer-quantized before summing (floor(x*r*1e6 + 0.5) as
    BIGINT), so the whole weight trajectory is partitioning-
    independent and bit-exactly replayable. The oracle re-runs the
    ENTIRE training — 8 unrolled CTE rounds cross-joining the 1-row
    weight table — plus inference, in DuckDB: every float op is a
    fixed left-fold on exactly-agreed operands, so engine and oracle
    scores match on hash, not tolerance. Labels are a deterministic
    linear rule over small integer features (separable: the probe
    reaches ~94% train accuracy by step 8, and `keep` splits the
    corpus non-vacuously)."""
    from .operators.probe import probe_score_col, train_linear_probe

    feats = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.lit(1).alias("b"),
            (F.length("text") % 7).alias("f1"),
            (F.col("doc_id") % 5).alias("f2"),
        )
        .withColumn(
            "y",
            F.when(F.col("f1") + F.col("f2") > 5, F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        # 8 training scans + the output scan reuse one materialization
        .localCheckpoint(eager=False)
    )
    cols = ["b", "f1", "f2"]
    w = train_linear_probe(feats, cols, "y", steps=8, lr=0.02)
    score = probe_score_col(cols, w)
    return feats.select(
        "doc_id", "f1", "f2", "y",
        score.alias("score"),
        (score >= 0.5).alias("keep"),
    ).orderBy("doc_id")


def q_wav_wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-normalization SINK (operators/audio.audio_wrap_wav) —
    the inverse of the WAV scan path: raw PCM16 clips re-wrapped as
    canonical mono RIFF/WAV, then decoded BACK through
    audio_codec_energy's 'wav' path, so header synthesis, the 44-byte
    canonical layout, and parse_wav_header/decode_wav_int all sit
    between the closed-form synthesis and the closed-form oracle.
    Quarantine routing live: every 11th payload is NULL and every
    13th is tagged with an unregistered codec — both pass through
    with NULL bytes + ORIGINAL codec tag and refuse downstream."""
    from .operators.audio import audio_codec_energy, audio_wrap_wav

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    n = (e % 9 + 20).cast("int")
    payload = _synth_payload_np(_sweep_payload_np)(e, n)
    codec = F.when(e % 13 == 0, F.lit("opus")).otherwise(F.lit("pcm_s16le"))
    clips = ev.select(
        e.cast("string").alias("clip_id"),
        payload.alias("bytes"),
        codec.alias("codec"),
        F.lit(16000).alias("sr_hz"),
    )
    # the byte-length projection rides the decode-back energy pass as
    # passthrough columns (ONE mapInPandas chain, no item-keyed
    # self-join and no checkpoint — the wrap kernel has one consumer)
    w = audio_wrap_wav(clips)
    en = audio_codec_energy(
        w.select(
            "clip_id", "bytes", "codec",
            F.col("codec").alias("_codec"),
            F.length("bytes").alias("n_bytes"),
        ),
        passthrough=("_codec", "n_bytes"),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("_codec").alias("codec"),
            "n_bytes",
            F.col("decoded_ok").cast("int").alias("decoded_ok"),
            "n_samples",
            "abs_energy",
            "max_abs",
        )
        .orderBy("clip_id")
    )


def q_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card report — the per-(lang, source) datasheet a corpus
    release ships (HuggingFace dataset-card / Datasheets-for-Datasets
    shape): document counts, exact-dedup ratio (distinct md5(text) vs
    rows), token and char mass as exact integer sums, chars-per-token
    as ONE division of those sums, and the median length (Spark
    percentile() == DuckDB quantile_cont, the NOTES #7 recipe). One
    map-side-combined aggregate over a pruned scan; the md5 distinct
    rides the same two-phase plan. At 10^12 rows this is the
    release-gate summary job — group count is |langs| x |sources|
    (bounded), so the shuffle carries cell aggregates, not rows.
    Tokenization uses the repo-wide explicit ASCII WS class (non-empty
    pieces — engines disagree on trailing empties otherwise)."""
    from .functions.text import WS_SPLIT

    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(F.split(F.col("text"), WS_SPLIT), lambda x: x != F.lit(""))
    )
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
            F.sum(n_tok.cast("long")).alias("total_tokens"),
            F.sum(F.length("text").cast("long")).alias("total_chars"),
            F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
        )
        .withColumn(
            "chars_per_token",
            F.col("total_chars") / F.col("total_tokens"),
        )
        .orderBy("lang", "source")
    )


_SCRIPT_SAMPLES = {
    0: "pure latin text with plenty of letter mass here ",
    1: "\u0447\u0438\u0441\u0442\u043e \u0440\u0443\u0441\u0441\u043a\u0438\u0439 \u0442\u0435\u043a\u0441\u0442 \u0431\u0435\u0437 \u043f\u0440\u0438\u043c\u0435\u0441\u0435\u0439 ",
    2: "\u65e5\u672c\u8a9e\u306e\u30c6\u30ad\u30b9\u30c8\u3068\u6f22\u5b57\u304b\u306a\u6df7\u5408\u884c ",
    3: "\u0646\u0635 \u0639\u0631\u0628\u064a \u062e\u0627\u0644\u0635 \u0644\u0644\u0627\u062e\u062a\u0628\u0627\u0631 \u0647\u0646\u0627 ",
    # mixed-script spoof: latin AND cyrillic both >= 20% of letters
    4: "sp00f \u0447\u0435\u0440\u0435\u0434\u043e\u0432\u0430\u043d\u0438\u0435 latin and \u043a\u0438\u0440 mixed words here ",
    5: "1234567890 -- 98765 !!! ",
}


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script-mix profile (functions/scripts) — the UTS #39
    mixed-script quality signal: per-doc codepoint counts for
    latin/cyrillic/cjk/arabic/digit via the exact length-diff trick
    (no extraction, pure JVM regexp_replace) and an integer-exact
    mixed-script flag (>= 2 scripts each holding >= 20% of letter
    mass). The oracle replays the IDENTICAL counts with RE2-flavored
    classes generated from the same range list; the synthesized texts
    are \\u-escape-built (the q_sanitize discipline) so a file-level
    normalizer can't neuter the test."""
    from .functions.scripts import script_count_cols

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # modulus and branch list both derive from the dict so adding a
    # sample cannot desync the query from its oracle
    m = F.col("doc_id") % len(_SCRIPT_SAMPLES)
    sid = F.col("doc_id").cast("string")
    keys = sorted(_SCRIPT_SAMPLES)
    sel = F.when(m == keys[0], F.lit(_SCRIPT_SAMPLES[keys[0]]))
    for k in keys[1:-1]:
        sel = sel.when(m == k, F.lit(_SCRIPT_SAMPLES[k]))
    raw = F.concat(sel.otherwise(F.lit(_SCRIPT_SAMPLES[keys[-1]])), sid)
    cols = script_count_cols(F.col("raw"))
    return (
        docs.withColumn("raw", raw)
        .select("doc_id", *[v.alias(k) for k, v in cols.items()])
        .orderBy("doc_id")
    )


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation (operators/expectations.check_contract)
    — the pre-ingest batch gate: every predicate rule compiles to one
    conditional sum inside a SINGLE aggregate per table (one scan no
    matter how many rules; column pruning reads only ruled columns),
    uniqueness rides the same aggregate as exact countDistinct terms.
    Non-vacuous on real TPC-H data: l_quantity exceeds 30 (range rule
    fires), o_orderstatus contains 'P' (domain rule fires), l_orderkey
    repeats (uniqueness fires with the exact surplus-row count), while
    priority format and o_orderkey uniqueness genuinely pass — the oracle
    hash pins both firing and non-firing rules."""
    from .operators.expectations import (
        check_contract,
        rule_in_set,
        rule_range,
        rule_rlike,
    )

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o_report = check_contract(
        orders,
        rules=[
            rule_in_set("status_domain", "o_orderstatus", ["O", "F"]),
            rule_rlike("priority_format", "o_orderpriority", "^[1-5]-[A-Z ]+$"),
        ],
        unique=["o_orderkey"],
    ).withColumn("tbl", F.lit("orders"))
    l_report = check_contract(
        li,
        rules=[rule_range("qty_le_30", "l_quantity", 1, 30)],
        unique=["l_orderkey"],
    ).withColumn("tbl", F.lit("lineitem"))
    return (
        o_report.unionByName(l_report)
        .select("tbl", "rule", "n_rows", "violations", "pass")
        .orderBy("tbl", "rule")
    )


def q_percentile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped EXACT percentiles via the value-histogram decomposition
    (operators/percentile.py) — the 10^12-row scale path: state is one
    row per distinct (group, value) pair spread across ALL reducers,
    never a per-group value buffer on one task. l_quantity's domain is
    integers 1..50, so the histogram is ≤ 50 rows per (returnflag,
    linestatus) group at ANY scale factor. Percentiles 0.25/0.5/0.75
    are exactly representable doubles; the lerp is the same
    x_fl + frac*(x_cl - x_fl) as np.percentile / quantile_cont."""
    from .operators.percentile import grouped_percentile_hist

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", F.col("l_quantity").cast("double").alias("qty")
    )
    out = grouped_percentile_hist(
        li,
        ["l_returnflag", "l_linestatus"],
        "qty",
        [0.25, 0.5, 0.75, 0.9],
        check_cardinality=False,  # domain known ≤ 50 values/group
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        F.round("p25", 4).alias("p25"),
        F.round("p50", 4).alias("p50"),
        F.round("p75", 4).alias("p75"),
        F.round("p90", 4).alias("p90"),
    ).orderBy("l_returnflag", "l_linestatus")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "flagship": flagship,
        "q_scrub": q_scrub,
        "q_scrub_audit": q_scrub_audit,
        "q_hll_distinct": q_hll_distinct,
        "q_bloom_decontaminate": q_bloom_decontaminate,
        "q_cms_heavy": q_cms_heavy,
        "q_quality_features": q_quality_features,
        "q_score_histogram": q_score_histogram,
        "q_revenue_by_nation": q_revenue_by_nation,
        "q_tpch_q1": q_tpch_q1,
        "q_topk_per_group": q_topk_per_group,
        "q_semi_anti": q_semi_anti,
        "q_grouped_percentile": q_grouped_percentile,
        "q_window_lag": q_window_lag,
        "q_time_buckets": q_time_buckets,
        "q_json_extract": q_json_extract,
        "q_dedup_exact": q_dedup_exact,
        "q_minhash_signatures": q_minhash_signatures,
        "q_union_except": q_union_except,
        "q_range_join": q_range_join,
        "q_sigmoid_longtail": q_sigmoid_longtail,
        "q_knn_topk": q_knn_topk,
        "q_simhash": q_simhash,
        "q_simhash_neardup": q_simhash_neardup,
        "q_minhash_jaccard": q_minhash_jaccard,
        "q_cosine_neardup": q_cosine_neardup,
        "q_ann_lsh": q_ann_lsh,
        "q_lsh_neardup": q_lsh_neardup,
        "q_rolling_fingerprint": q_rolling_fingerprint,
        "q_rollup": q_rollup,
        "q_votes_agg": q_votes_agg,
        "q_curation": q_curation,
        "q_select_subset": q_select_subset,
        "q_lt_score": q_lt_score,
        "q_consensus_counts": q_consensus_counts,
        "q_audio_sanity": q_audio_sanity,
        "q_audio_features": q_audio_features,
        "q_audio_fingerprint": q_audio_fingerprint,
        "q_audio_neardup": q_audio_neardup,
        "q_audio_vad": q_audio_vad,
        "q_audio_segments": q_audio_segments,
        "q_g711_energy": q_g711_energy,
        "q_adpcm_energy": q_adpcm_energy,
        "q_flac_energy": q_flac_energy,
        "q_g711_transcode": q_g711_transcode,
        "q_audio_chunk": q_audio_chunk,
        "q_wav_energy": q_wav_energy,
        "q_audio_tone_probe": q_audio_tone_probe,
        "q_rule_decisions": q_rule_decisions,
        "q_audio_trim": q_audio_trim,
        "q_audio_gain": q_audio_gain,
        "q_audio_downmix": q_audio_downmix,
        "q_audio_clipping": q_audio_clipping,
        "q_audio_compress": q_audio_compress,
        "q_audio_master": q_audio_master,
        "q_cube": q_cube,
        "q_dedup_clusters": q_dedup_clusters,
        "q_asof_join": q_asof_join,
        "q_sessionize": q_sessionize,
        "q_stratified_sample": q_stratified_sample,
        "q_priority_sample": q_priority_sample,
        "q_proto_outlier": q_proto_outlier,
        "q_salted_join": q_salted_join,
        "q_upsert": q_upsert,
        "q_pivot": q_pivot,
        "q_unpivot": q_unpivot,
        "q_ntile": q_ntile,
        "q_zorder": q_zorder,
        "q_full_outer": q_full_outer,
        "q_sentences": q_sentences,
        "q_pagerank": q_pagerank,
        "q_mad_outliers": q_mad_outliers,
        "q_table_diff": q_table_diff,
        "q_repetition_filter": q_repetition_filter,
        "q_decontaminate": q_decontaminate,
        "q_tfidf_top_terms": q_tfidf_top_terms,
        "q_rolling_zscore": q_rolling_zscore,
        "q_salted_agg": q_salted_agg,
        "q_char_entropy": q_char_entropy,
        "q_chunk_pack": q_chunk_pack,
        "q_bm25_topk": q_bm25_topk,
        "q_temperature_mix": q_temperature_mix,
        "q_containment_pairs": q_containment_pairs,
        "q_fuzzy_pairs": q_fuzzy_pairs,
        "q_funnel": q_funnel,
        "q_ivf_topk": q_ivf_topk,
        "q_rater_agreement": q_rater_agreement,
        "q_crossmodal_dup": q_crossmodal_dup,
        "q_dedup_keep_best": q_dedup_keep_best,
        "q_span_dedup": q_span_dedup,
        "q_bpe_train": q_bpe_train,
        "q_bpe_encode": q_bpe_encode,
        "q_token_budget": q_token_budget,
        "q_corpus_build": q_corpus_build,
        "q_span_incremental": q_span_incremental,
        "q_pq_topk": q_pq_topk,
        "q_pq_rerank": q_pq_rerank,
        "q_ivfpq_topk": q_ivfpq_topk,
        "q_compaction_plan": q_compaction_plan,
        "q_auc_scores": q_auc_scores,
        "q_calibration_bins": q_calibration_bins,
        "q_wer_pairs": q_wer_pairs,
        "q_f1_sweep": q_f1_sweep,
        "q_cluster_split": q_cluster_split,
        "q_bucketed_join": q_bucketed_join,
        "q_drift": q_drift,
        "q_pq_incremental": q_pq_incremental,
        "q_lm_kn": q_lm_kn,
        "q_nfc_normalize": q_nfc_normalize,
        "q_sanitize": q_sanitize,
        "q_luhn_cc": q_luhn_cc,
        "q_url_canonical": q_url_canonical,
        "q_domain_stats": q_domain_stats,
        "q_html_extract": q_html_extract,
        "q_image_dhash": q_image_dhash,
        "q_image_neardup": q_image_neardup,
        "q_quality_probe": q_quality_probe,
        "q_wav_wrap": q_wav_wrap,
        "q_datacard": q_datacard,
        "q_script_mix": q_script_mix,
        "q_expectations": q_expectations,
        "q_percentile_hist": q_percentile_hist,
    }


# ------------------------------------------------------------- oracle SQL

ORACLE_SQL: dict[str, str] = {
    "q_scrub": f"""
        SELECT doc_id, {scrub_sql('text')} AS text_scrubbed
        FROM documents ORDER BY doc_id
    """,
    # audit twin: rebuilds the planted-PII text, runs DuckDB's OWN
    # regex engine through the shared chain, and applies the identical
    # length-arithmetic tag counting (scrubbed-minus-original so
    # literal pre-existing tags in the input never inflate the counts)
    "q_scrub_audit": f"""
        WITH raw AS (
          SELECT event_id AS doc_id,
            CASE WHEN event_id % 13 = 0 THEN NULL ELSE
              'doc ' || event_id
              || CASE WHEN event_id % 2 = 0
                      THEN ' contact user' || (event_id % 7)
                           || '@example.com now' ELSE '' END
              || CASE WHEN event_id % 3 = 0
                      THEN ' ssn 123-45-6789 ok' ELSE '' END
              || CASE WHEN event_id % 9 = 0
                      THEN ' pair 111-22-3333 444-55-6666 end'
                      ELSE '' END
              || CASE WHEN event_id % 5 = 0
                      THEN ' call +1 (415) 555-0199 now' ELSE '' END
              || CASE WHEN event_id % 7 = 0
                      THEN ' zorgblat' || lpad(CAST(event_id % 40 AS TEXT), 2, '0')
                           || ' end' ELSE '' END
              || CASE WHEN event_id % 11 = 0
                      THEN ' literal <EMAIL> marker' ELSE '' END
            END AS text
          FROM events),
        s AS (
          SELECT doc_id, text AS t, {scrub_sql('text')} AS sc
          FROM raw)
        SELECT doc_id,
          CAST((length(sc) - length(replace(sc, '<EMAIL>', ''))) / 7
             - (length(t) - length(replace(t, '<EMAIL>', ''))) / 7
             AS INT) AS n_email,
          CAST((length(sc) - length(replace(sc, '<SSN>', ''))) / 5
             - (length(t) - length(replace(t, '<SSN>', ''))) / 5
             AS INT) AS n_ssn,
          CAST((length(sc) - length(replace(sc, '<PHONE>', ''))) / 7
             - (length(t) - length(replace(t, '<PHONE>', ''))) / 7
             AS INT) AS n_phone,
          CAST((length(sc) - length(replace(sc, '<TOX>', ''))) / 5
             - (length(t) - length(replace(t, '<TOX>', ''))) / 5
             AS INT) AS n_tox
        FROM s ORDER BY doc_id
    """,
    "q_quality_features": r"""
        WITH t AS (
          SELECT doc_id, coalesce(text, '') AS tx, trim(coalesce(text, '')) AS tr
          FROM documents
        )
        SELECT doc_id,
               length(tr) AS n_chars,
               len(list_filter(regexp_split_to_array(tr, '[ \t\n\x0b\f\r]+'),
                               x -> x <> '')) AS n_tokens,
               len(list_filter(regexp_split_to_array(tr, '[ \t\n\x0b\f\r\x21-\x2f\x3a-\x40\x5b-\x60\x7b-\x7e]+'),
                               x -> x <> '')) AS n_tokens_bpe,
               round(length(regexp_replace(tx, '[^0-9]', '', 'g'))
                     / greatest(length(tx), 1), 6) AS digit_ratio,
               round(length(regexp_replace(tx, '[^ \t\n\x0b\f\r]', '', 'g'))
                     / greatest(length(tx), 1), 6) AS space_ratio
        FROM t
    """,
    "q_revenue_by_nation": """
        SELECT n_name,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey  = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name
    """,
    "q_tpch_q1": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q_topk_per_group": """
        SELECT o_custkey, o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, rk
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
          FROM orders
        ) WHERE rk <= 3
    """,
    "q_semi_anti": """
        SELECT c_custkey, 'with_orders' AS side FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders)
        UNION ALL
        SELECT c_custkey, 'no_orders' AS side FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        ORDER BY side, c_custkey
    """,
    "q_grouped_percentile": """
        SELECT c_mktsegment,
               round(quantile_cont(c_acctbal, 0.9), 4) AS p90_acctbal,
               round(quantile_cont(c_acctbal, 0.5), 4) AS p50_acctbal,
               count(*) AS n
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "q_window_lag": """
        SELECT user_id, event_id,
               coalesce(round(lag(value, 1)  OVER w, 2), -1.0) AS prev_value,
               coalesce(round(lead(value, 1) OVER w, 2), -1.0) AS next_value,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS rolling3
        FROM events WHERE user_id < 10
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "q_time_buckets": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY hour, event_type
    """,
    "q_json_extract": """
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        FROM events ORDER BY event_id
    """,
    "q_dedup_exact": r"""
        SELECT lang, count(*) AS n_docs,
               count(DISTINCT md5(lower(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g')))) AS n_distinct
        FROM documents GROUP BY lang ORDER BY lang
    """,
    "q_minhash_signatures": r"""
        WITH t AS (
          SELECT doc_id, lower(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS t
          FROM documents
        )
        SELECT doc_id,
               list_min(list_transform(generate_series(1, length(t) - 4),
                        i -> md5('s1' || substr(t, i, 5)))) AS minhash_s1,
               list_min(list_transform(generate_series(1, length(t) - 4),
                        i -> md5('s2' || substr(t, i, 5)))) AS minhash_s2
        FROM t WHERE length(t) >= 5 ORDER BY doc_id
    """,
    "q_union_except": """
        WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
             seg  AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        SELECT c_custkey FROM (
          SELECT c_custkey FROM (SELECT * FROM rich UNION SELECT * FROM seg)
          EXCEPT ALL
          SELECT c_custkey FROM (SELECT * FROM rich INTERSECT SELECT * FROM seg)
        ) ORDER BY c_custkey
    """,
    "q_range_join": """
        WITH bands(band, lo, hi) AS (
          VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0), ('high', 150000.0, 1e12)
        )
        SELECT band, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band ORDER BY band
    """,
    "q_sigmoid_longtail": """
        SELECT event_id, round(2.0 / (1.0 + exp(-(value / 10.0))) - 1.0, 4) AS lt_score
        FROM events ORDER BY event_id
    """,
    "q_knn_topk": """
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 5),
             c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id >= 5),
             p AS (
               SELECT query_id, neighbor_id,
                      round(list_dot_product(qv, cv) /
                            (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
               FROM q CROSS JOIN c
             )
        SELECT query_id, neighbor_id, sim, rk FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id ASC) AS rk
          FROM p
        ) WHERE rk <= 3 ORDER BY query_id, rk
    """,
    "q_score_histogram": """
        SELECT score, count(*) AS n FROM (
          SELECT least(greatest(CAST(event_id % 10 + 1 AS INT), 4), 9) - 4 AS score
          FROM events
        ) GROUP BY score ORDER BY score
    """,
    "flagship": None,  # filled lazily by oracle_sql() — deterministic
    # kernel scores emitted as a literal VALUES table (_flagship_oracle_sql)
    "q_ann_lsh": None,  # seeded plane matrix — rows-only + pytest recall
}


def _simhash_oracle_sql() -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(48)
    )
    recon = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << {i})"
        for i in range(48)
    )
    return rf"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(
                   lower(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g')), ' ')) AS tok
          FROM documents
        ), h AS (
          SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 12)) AS BIGINT) AS h
          FROM toks WHERE length(tok) > 0
        ), bits AS (
          SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id
        )
        SELECT doc_id, {recon} AS simhash FROM bits ORDER BY doc_id
    """


def _minhash_jaccard_oracle_sql(n_hashes: int = 8, bands: int = 4, k: int = 5) -> str:
    rows_per_band = n_hashes // bands
    mh_cols = ", ".join(
        f"list_min(list_transform(shingles, s -> "
        f"CAST(concat('0x', substr(md5('h{h}:' || s), 1, 12)) AS BIGINT))) AS mh_{h}"
        for h in range(n_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id AS id, md5(concat_ws(':', '{b}', {cols})) AS band_key FROM sigs".format(
            b=b,
            cols=", ".join(
                f"CAST(mh_{b * rows_per_band + r} AS VARCHAR)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return rf"""
        WITH t AS (
          SELECT doc_id, lower(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS t
          FROM documents
        ), sh AS (
          SELECT doc_id, list_distinct(list_transform(
                   generate_series(1, greatest(length(t) - {k - 1}, 0)),
                   i -> substr(t, i, {k}))) AS shingles
          FROM t
        ), nonempty AS (
          SELECT * FROM sh WHERE len(shingles) > 0
        ), sigs AS (
          SELECT doc_id, {mh_cols} FROM nonempty
        ), keyed AS ({band_selects}),
        pairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM keyed a JOIN keyed b USING (band_key)
          WHERE a.id < b.id
        )
        SELECT id_a, id_b,
               round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                     / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS jaccard
        FROM pairs
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b
        ORDER BY id_a, id_b
    """


def _simhash_neardup_oracle_sql(
    max_dist: int = 3, bits: int = 48, ordered: bool = True
) -> str:
    """Same pigeonhole banding over the q_simhash signature CTE; the
    final Hamming check makes banding invisible in the result, so a
    plain all-pairs SQL would give the same rows — banding in the
    oracle too keeps the two engines structurally comparable."""
    n_bands = max_dist + 1
    width = bits // n_bands
    band_selects = []
    for bnd in range(n_bands):
        lo = bnd * width
        w = width if bnd < n_bands - 1 else bits - lo
        mask = (1 << w) - 1
        band_selects.append(
            f"SELECT doc_id, simhash, {bnd} AS band, "
            f"(simhash >> {lo}) & {mask} AS bkey FROM sim"
        )
    bands = " UNION ALL ".join(band_selects)
    return f"""
        WITH sim AS ({_simhash_oracle_sql()}),
        keyed AS ({bands}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.simhash AS sh_a, b.simhash AS sh_b
          FROM keyed a JOIN keyed b USING (band, bkey)
          WHERE a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
        FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_dist}
        {"ORDER BY doc_a, doc_b" if ordered else ""}
    """


def _lsh_keys_sql(vec_expr: str) -> list[str]:
    """Per-table bucket-key SQL expressions over `vec_expr` (a DOUBLE[]
    column already quantized to floor(x*scale + 0.5)). The SAME integer
    planes the Spark UDF uses, emitted as literals: every dot product
    is exact integer arithmetic in double, so keys match bit-for-bit."""
    planes = _lsh_contract_planes()
    exprs = []
    for t in range(_LSH_TABLES):
        terms = []
        for j in range(_LSH_PLANES):
            row = planes[t * _LSH_PLANES + j]
            lit = "[" + ", ".join(str(int(x)) for x in row) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product({vec_expr}, CAST({lit} AS DOUBLE[])) >= 0 "
                f"THEN {1 << j} ELSE 0 END)"
            )
        exprs.append("(" + " + ".join(terms) + f" + {t << _LSH_PLANES})")
    return exprs


def _ann_lsh_oracle_sql() -> str:
    cos = (
        "round(list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"
    )
    keys = _lsh_keys_sql("q")
    qk = " UNION ALL ".join(
        f"SELECT vec_id, {k} AS bkey FROM qs" for k in keys
    )
    ck = " UNION ALL ".join(
        f"SELECT vec_id, {k} AS bkey FROM cs" for k in keys
    )
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> floor(x * {_LSH_SCALE} + 0.5)) AS q
          FROM embeddings
        ),
        qs AS (SELECT * FROM e WHERE vec_id < 5),
        cs AS (SELECT * FROM e WHERE vec_id >= 5),
        qk AS ({qk}), ck AS ({ck}),
        hits AS (
          SELECT DISTINCT qk.vec_id AS query_id, ck.vec_id AS neighbor_id
          FROM qk JOIN ck ON qk.bkey = ck.bkey
        ),
        sims AS (
          SELECT h.query_id, h.neighbor_id, {cos} AS sim
          FROM hits h
          JOIN qs a ON a.vec_id = h.query_id
          JOIN cs b ON b.vec_id = h.neighbor_id
        )
        SELECT query_id, neighbor_id, sim, rk FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS rk
          FROM sims
        ) WHERE rk <= 3
        ORDER BY query_id, rk
    """


def _lsh_neardup_oracle_sql(threshold: float = 0.30) -> str:
    cos = (
        "round(list_dot_product(ea.v, eb.v) / "
        "(sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6)"
    )
    keys = _lsh_keys_sql("q")
    kq = " UNION ALL ".join(
        f"SELECT vec_id, {k} AS bkey FROM e" for k in keys
    )
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> floor(x * {_LSH_SCALE} + 0.5)) AS q
          FROM embeddings
        ),
        k AS ({kq}),
        pairs AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM k a JOIN k b ON a.bkey = b.bkey
          WHERE a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, {cos} AS sim
        FROM pairs
        JOIN e ea ON ea.vec_id = id_a
        JOIN e eb ON eb.vec_id = id_b
        WHERE {cos} >= {threshold}
        ORDER BY id_a, id_b
    """


ORACLE_SQL["q_ann_lsh"] = _ann_lsh_oracle_sql()
ORACLE_SQL["q_lsh_neardup"] = _lsh_neardup_oracle_sql()


def _ivf_oracle_sql() -> str:
    cents = _ivf_contract_centroids()
    cos = (
        "round(list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"
    )

    def dots(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT vec_id, {c} AS cent, list_dot_product(q, CAST(["
            + ", ".join(str(int(x)) for x in cents[c])
            + f"] AS DOUBLE[])) AS dot FROM {src}"
            for c in range(_IVF_CENTROIDS)
        )

    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> floor(x * {_LSH_SCALE} + 0.5)) AS q
          FROM embeddings
        ),
        qs AS (SELECT * FROM e WHERE vec_id < 5),
        cs AS (SELECT * FROM e WHERE vec_id >= 5),
        cd AS (
          SELECT vec_id, cent FROM (
            SELECT vec_id, cent, row_number() OVER (
                     PARTITION BY vec_id ORDER BY dot DESC, cent ASC) AS rk
            FROM ({dots('cs')})
          ) WHERE rk = 1
        ),
        qd AS (
          SELECT vec_id, cent FROM (
            SELECT vec_id, cent, row_number() OVER (
                     PARTITION BY vec_id ORDER BY dot DESC, cent ASC) AS rk
            FROM ({dots('qs')})
          ) WHERE rk <= {_IVF_NPROBE}
        ),
        hits AS (
          SELECT DISTINCT qd.vec_id AS query_id, cd.vec_id AS neighbor_id
          FROM qd JOIN cd ON qd.cent = cd.cent
        ),
        sims AS (
          SELECT h.query_id, h.neighbor_id, {cos} AS sim
          FROM hits h
          JOIN qs a ON a.vec_id = h.query_id
          JOIN cs b ON b.vec_id = h.neighbor_id
        )
        SELECT query_id, neighbor_id, sim, rk FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS rk
          FROM sims
        ) WHERE rk <= 3
        ORDER BY query_id, rk
    """


ORACLE_SQL["q_ivf_topk"] = _ivf_oracle_sql()

# closed-form twin of q_audio_features (see its docstring): constant-
# sample PCM makes every feature a CASE indicator. flen(sr=7001) =
# floor(7001*25/1000) = 175 samples gates the silence-frame branch.
ORACLE_SQL["q_audio_features"] = """
    WITH t AS (
      SELECT event_id AS clip_id,
             event_id % 3 AS p,
             (event_id % 50 + 1) * 5 AS n5,
             event_id % 4 AS c
      FROM events
    )
    SELECT clip_id,
           CASE WHEN c <> 3 THEN 1 ELSE 0 END AS decoded_ok,
           CAST(0.0 AS DOUBLE) AS zcr,
           CAST(CASE WHEN c <> 3 AND p = 1 AND n5 >= 175 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS silence_ratio,
           CAST(CASE WHEN c <> 3 AND p = 2 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS clipping_ratio,
           CAST(0.0 AS DOUBLE) AS snr_db
    FROM t ORDER BY clip_id
"""

ORACLE_SQL["q_rollup"] = """
    SELECT coalesce(l_returnflag, '(all)') AS returnflag,
           coalesce(l_linestatus, '(all)') AS linestatus,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
"""
# closed-form twin of q_audio_fingerprint: recomputes the energy-delta
# fingerprint from the synthesis formula v(i) = (event_id*31+i*17)%201-100
# with the same integer frame abs-sums, delta compares, and bit-pack the
# Spark kernel applies to the decoded PCM16 bytes.
ORACLE_SQL["q_audio_fingerprint"] = """
    WITH t AS (SELECT event_id, event_id % 40 + 12 AS n FROM events),
    u AS (SELECT event_id, n, unnest(range(0, n)) AS i FROM t),
    s AS (SELECT event_id, i // 8 AS lf,
                 abs((event_id * 31 + i * 17) % 201 - 100) AS a
          FROM u WHERE i < (n // 8) * 8),
    e AS (SELECT event_id, lf, sum(a) AS energy FROM s GROUP BY 1, 2),
    b AS (SELECT event_id, lf,
                 CASE WHEN energy > lag(energy) OVER (
                        PARTITION BY event_id ORDER BY lf)
                      THEN 1 ELSE 0 END AS bit
          FROM e),
    f AS (SELECT event_id,
                 CAST(coalesce(sum(CASE WHEN lf >= 1
                        THEN bit * (CAST(1 AS BIGINT) << CAST(lf - 1 AS INT))
                        END), 0) AS BIGINT) AS fp,
                 CAST(max(lf) + 1 AS INT) AS n_frames
          FROM b GROUP BY 1),
    r AS (SELECT t.event_id AS clip_id,
                 CASE WHEN t.event_id % 11 = 0 THEN NULL ELSE f.fp END AS fp,
                 CAST(CASE WHEN t.event_id % 11 = 0 THEN 0
                      ELSE f.n_frames END AS INT) AS n_frames
          FROM t JOIN f ON f.event_id = t.event_id)
    SELECT clip_id, fp, n_frames,
           count(*) OVER (PARTITION BY fp) AS dup_count
    FROM r ORDER BY clip_id
"""

# closed-form twin of q_audio_neardup: recomputes the perturbed-group
# fingerprints from the synthesis formula, then the same 3x20-bit
# pigeonhole banding + bit_count(xor) verify natively in SQL
ORACLE_SQL["q_audio_neardup"] = """
    WITH t AS (SELECT event_id, event_id % 4001 AS g,
                      event_id // 4001 AS var,
                      488 + (event_id % 4001) % 5 AS n
               FROM events),
    u AS (SELECT event_id, g, var, n, unnest(range(0, n)) AS i FROM t),
    s AS (SELECT event_id, i // 8 AS lf,
                 abs((((g * 8191 + i) * (g * 8191 + i)) % 2147483648 * 31
                      + g * 8191 + i) % 2147483648 % 201 - 100
                     + CASE WHEN i = 0 THEN 40 * (var % 100) ELSE 0 END) AS a
          FROM u WHERE i < (n // 8) * 8),
    e AS (SELECT event_id, lf, sum(a) AS energy FROM s GROUP BY 1, 2),
    b AS (SELECT event_id, lf,
                 CASE WHEN energy > lag(energy) OVER (
                        PARTITION BY event_id ORDER BY lf)
                      THEN 1 ELSE 0 END AS bit
          FROM e),
    f AS (SELECT event_id,
                 CAST(coalesce(sum(CASE WHEN lf BETWEEN 1 AND 60
                        THEN bit * (CAST(1 AS BIGINT) << CAST(lf - 1 AS INT))
                        END), 0) AS BIGINT) AS fp
          FROM b GROUP BY 1),
    r AS (SELECT event_id AS clip_id, fp FROM f
          WHERE event_id % 11 <> 0),
    bands AS (SELECT clip_id, fp, band,
                     (fp >> (band * 20)) & 1048575 AS bkey
              FROM r CROSS JOIN (VALUES (0), (1), (2)) AS bb(band)),
    cand AS (SELECT DISTINCT x.clip_id AS id_a, x.fp AS fp_a,
                             y.clip_id AS id_b, y.fp AS fp_b
             FROM bands x JOIN bands y
               ON x.band = y.band AND x.bkey = y.bkey
              AND x.clip_id < y.clip_id)
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(fp_a, fp_b)) <= 2
    ORDER BY id_a, id_b
"""

# closed-form twin of q_audio_vad: recomputes frame energies from the
# synthesis formula (E_t = 8*amp_t exactly — alternating-sign constant
# amplitude per frame), then replays the SAME segmentation semantics
# as an independent gaps-and-islands: row_number islands over voiced
# frames -> lag-gap bridging (gap <= 1 merges) -> min-length filter
# (span >= 2) -> per-clip seg ids + span energy sums. Cross-checks the
# merge/filter logic itself, not just the energy arithmetic.
ORACLE_SQL["q_audio_vad"] = """
    WITH t AS (SELECT event_id AS e, event_id % 29 + 12 AS nf
               FROM events WHERE event_id % 13 <> 0),
    fr AS (SELECT e, unnest(range(0, nf)) AS t FROM t),
    en AS (SELECT e, t,
                  8 * (CASE WHEN (e * 13 + t * t) % 11 < 5
                            THEN 90 ELSE 2 END) AS energy
           FROM fr),
    v AS (SELECT e, t FROM en WHERE energy >= 400),
    isl AS (SELECT e, t,
                   t - row_number() OVER (PARTITION BY e ORDER BY t) AS k
            FROM v),
    s0 AS (SELECT e, min(t) AS s, max(t) AS z, count(*) AS vf
           FROM isl GROUP BY e, k),
    s1 AS (SELECT *,
                  CASE WHEN s - lag(z) OVER (PARTITION BY e ORDER BY s)
                            - 1 <= 1
                       THEN 0 ELSE 1 END AS brk
           FROM s0),
    s2 AS (SELECT *, sum(brk) OVER (PARTITION BY e ORDER BY s) AS grp
           FROM s1),
    seg AS (SELECT e, min(s) AS start_frame, max(z) AS end_frame,
                   CAST(sum(vf) AS INT) AS voiced_frames
            FROM s2 GROUP BY e, grp),
    kept AS (SELECT *, end_frame - start_frame + 1 AS n_frames,
                    CAST(row_number() OVER (
                      PARTITION BY e ORDER BY start_frame) - 1 AS INT)
                      AS seg_id
             FROM seg WHERE end_frame - start_frame + 1 >= 2)
    SELECT CAST(k.e AS BIGINT) AS clip_id, k.seg_id,
           CAST(k.start_frame AS INT) AS start_frame,
           CAST(k.end_frame AS INT) AS end_frame,
           CAST(k.n_frames AS INT) AS n_frames,
           k.voiced_frames,
           CAST(sum(en.energy) AS BIGINT) AS energy_sum
    FROM kept k JOIN en
      ON en.e = k.e AND en.t BETWEEN k.start_frame AND k.end_frame
    GROUP BY 1, 2, 3, 4, 5, 6
    ORDER BY clip_id, seg_id
"""

# closed-form twin of q_audio_segments: identical gaps-and-islands
# replay as q_audio_vad's oracle (new structure constants, gap <= 2,
# min span 2), plus the content pins — the SQL side derives
# recheck_energy/recheck_samples from the same frame formulas, while
# the ENGINE side re-decodes the actually-emitted segment bytes
# through audio_codec_energy; any slicing/content defect lands
# between the two derivations.
ORACLE_SQL["q_audio_segments"] = """
    WITH t AS (SELECT event_id AS e, event_id % 31 + 10 AS nf
               FROM events WHERE event_id % 11 <> 0),
    fr AS (SELECT e, unnest(range(0, nf)) AS t FROM t),
    en AS (SELECT e, t,
                  8 * (CASE WHEN (e * 17 + 3 * t + t * t) % 13 < 6
                            THEN 110 ELSE 3 END) AS energy
           FROM fr),
    v AS (SELECT e, t FROM en WHERE energy >= 500),
    isl AS (SELECT e, t,
                   t - row_number() OVER (PARTITION BY e ORDER BY t) AS k
            FROM v),
    s0 AS (SELECT e, min(t) AS s, max(t) AS z, count(*) AS vf
           FROM isl GROUP BY e, k),
    s1 AS (SELECT *,
                  CASE WHEN s - lag(z) OVER (PARTITION BY e ORDER BY s)
                            - 1 <= 2
                       THEN 0 ELSE 1 END AS brk
           FROM s0),
    s2 AS (SELECT *, sum(brk) OVER (PARTITION BY e ORDER BY s) AS grp
           FROM s1),
    seg AS (SELECT e, min(s) AS start_frame, max(z) AS end_frame,
                   CAST(sum(vf) AS INT) AS voiced_frames
            FROM s2 GROUP BY e, grp),
    kept AS (SELECT *, end_frame - start_frame + 1 AS n_frames,
                    CAST(row_number() OVER (
                      PARTITION BY e ORDER BY start_frame) - 1 AS INT)
                      AS seg_id
             FROM seg WHERE end_frame - start_frame + 1 >= 2)
    SELECT CAST(k.e AS BIGINT) AS clip_id, k.seg_id,
           CAST(k.start_frame AS INT) AS start_frame,
           CAST(k.end_frame AS INT) AS end_frame,
           CAST(k.n_frames AS INT) AS n_frames,
           k.voiced_frames,
           CAST(sum(en.energy) AS BIGINT) AS energy_sum,
           CAST(sum(en.energy) AS BIGINT) AS recheck_energy,
           CAST(min(k.n_frames) * 8 AS BIGINT) AS recheck_samples
    FROM kept k JOIN en
      ON en.e = k.e AND en.t BETWEEN k.start_frame AND k.end_frame
    GROUP BY 1, 2, 3, 4, 5, 6
    ORDER BY clip_id, seg_id
"""

ORACLE_SQL["q_cube"] = """
    SELECT coalesce(o_orderstatus, '(all)') AS status,
           coalesce(o_orderpriority, '(all)') AS priority,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
"""

# clustering twin of q_dedup_clusters: reachability by recursive CTE
# (label flooding to a fixpoint via UNION-dedup) over the same
# SimHash-banding pair set; component id = min reachable doc_id
ORACLE_SQL["q_dedup_clusters"] = f"""
    WITH RECURSIVE pairs AS (
      {_simhash_neardup_oracle_sql(ordered=False)}
    ),
    e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.id
    ),
    comp AS (SELECT id AS doc_id, min(lab) AS comp FROM reach GROUP BY 1),
    sizes AS (SELECT comp, count(*) AS cluster_size FROM comp GROUP BY 1)
    SELECT c.doc_id, c.comp, s.cluster_size,
           CAST(c.doc_id = c.comp AS INT) AS canonical
    FROM comp c JOIN sizes s USING (comp)
    ORDER BY doc_id
"""

# independent range-semantics twin of q_asof_join: DuckDB's native
# ASOF LEFT JOIN vs the engine's union + running-window plan
ORACLE_SQL["q_asof_join"] = """
    WITH r AS (SELECT user_id, ts, max(value) AS value
               FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2),
         l AS (SELECT user_id, ts, event_id
               FROM events WHERE event_id % 2 = 1)
    SELECT l.user_id,
           l.event_id,
           epoch_us(l.ts) AS ts_us,
           coalesce(epoch_us(r.ts), -1) AS match_us,
           coalesce(r.value, 0.0) AS value_r
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    ORDER BY event_id
"""

ORACLE_SQL["q_sessionize"] = """
    WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    d AS (SELECT user_id, event_id, us,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 43200000000
                      THEN 1 ELSE 0 END AS st
          FROM o
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT user_id, us,
                 sum(st) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
          FROM d)
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           min(us) AS start_us,
           max(us) AS end_us,
           max(us) - min(us) AS span_us
    FROM s GROUP BY 1, 2 ORDER BY 1, 2
"""

# identical md5 bucket + integer thresholds, recomputed natively
ORACLE_SQL["q_stratified_sample"] = """
    WITH b AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                  AS BIGINT) % 1000 AS bucket
      FROM documents)
    SELECT doc_id, source, bucket
    FROM b
    WHERE bucket < CASE source
                     WHEN 'src1' THEN 800
                     WHEN 'src4' THEN 500
                     WHEN 'src7' THEN 250
                     WHEN 'src12' THEN 100
                     ELSE 50 END
    ORDER BY doc_id
"""

# Priority-sampling twin: identical u derivation (NOTES.md #7 md5
# recipe), identical ONE double division w/u (IEEE correctly rounded
# => bit-identical across engines), identical rank + (k+1)-threshold.
ORACLE_SQL["q_priority_sample"] = """
    WITH w AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                  AS BIGINT) % 1000000 + 1 AS u
      FROM documents
      WHERE n_chars >= 1),
    p AS (
      SELECT *, CAST(w AS DOUBLE) / CAST(u AS DOUBLE) AS pri FROM w),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY source ORDER BY pri DESC, doc_id) AS rn
      FROM p),
    t AS (
      SELECT *, COALESCE(max(CASE WHEN rn = 21 THEN pri END)
                           OVER (PARTITION BY source), 0.0) AS tau
      FROM r)
    SELECT source, doc_id, w, u, pri, rn,
           GREATEST(CAST(w AS DOUBLE), tau) AS est_w
    FROM t
    WHERE rn <= 20
    ORDER BY source, rn
"""

# G.711 twin: re-expands every synthesized byte with the published
# segment/mantissa ARITHMETIC (mu-law: invert, bias 0x84, shift by
# segment; A-law: xor 0x55, segment-0 linear / doubling segments) —
# no decode-table literal is shared with the engine, so the two
# derivations of the standard check each other. Integer-exact
# end-to-end.
ORACLE_SQL["q_g711_energy"] = """
    WITH synth AS (
      SELECT event_id,
             CAST(event_id % 11 + 30 AS INT) AS n,
             CASE WHEN event_id % 13 = 0 THEN 'flac'
                  WHEN event_id % 2 = 0 THEN 'pcm_ulaw'
                  ELSE 'pcm_alaw' END AS codec,
             (event_id % 17 = 0) AS is_null
      FROM events),
    samples AS (
      SELECT s.event_id, s.codec,
             (s.event_id * 37 + t.j * 101 + (t.j * t.j) % 251) % 256 AS b
      FROM synth s, UNNEST(generate_series(0, s.n - 1)) AS t(j)
      WHERE NOT s.is_null AND s.codec IN ('pcm_ulaw', 'pcm_alaw')),
    lin AS (
      SELECT event_id,
             CASE WHEN codec = 'pcm_ulaw' THEN
               CASE WHEN (255 - b) >= 128
                    THEN 132 - ((((255 - b) % 16) * 8 + 132)
                                << (((255 - b) // 16) % 8))
                    ELSE ((((255 - b) % 16) * 8 + 132)
                          << (((255 - b) // 16) % 8)) - 132
               END
             ELSE
               CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END *
               CASE WHEN ((xor(b, 85) // 16) % 8) = 0
                    THEN (xor(b, 85) % 16) * 16 + 8
                    WHEN ((xor(b, 85) // 16) % 8) = 1
                    THEN (xor(b, 85) % 16) * 16 + 264
                    ELSE ((xor(b, 85) % 16) * 16 + 264)
                         << (((xor(b, 85) // 16) % 8) - 1)
               END
             END AS val
      FROM samples),
    agg AS (
      SELECT event_id, CAST(count(*) AS BIGINT) AS n_samples,
             CAST(SUM(ABS(val)) AS BIGINT) AS abs_energy,
             CAST(MAX(ABS(val)) AS INT) AS max_abs
      FROM lin GROUP BY event_id)
    SELECT s.event_id AS clip_id,
           CAST(s.codec IN ('pcm_ulaw', 'pcm_alaw') AND NOT s.is_null
                AS INT) AS decoded_ok,
           COALESCE(a.n_samples, 0) AS n_samples,
           COALESCE(a.abs_energy, 0) AS abs_energy,
           COALESCE(a.max_abs, 0) AS max_abs
    FROM synth s LEFT JOIN agg a USING (event_id)
    ORDER BY clip_id
"""

# ADPCM twin: replays the ENTIRE stateful decode recurrence as a
# DuckDB RECURSIVE CTE — per iteration: nibble from the closed-form
# synthesis, diff from the bit decomposition, predictor update +
# clamp, step-index adaptation + clamp, energy accumulators. The IMA
# step/index tables are irreducible published constants (emitted as
# VALUES literals, like the LSH plane literals); the EXECUTION of the
# recurrence is fully independent (SQL fixpoint iteration vs the
# engine's across-clips NumPy vector loop).
from .operators.audio import IMA_INDEX_TABLE as _IMA_IDX  # noqa: E402
from .operators.audio import IMA_STEP_TABLE as _IMA_STEP  # noqa: E402

_STEP_VALUES = ", ".join(f"({i},{int(s)})" for i, s in enumerate(_IMA_STEP))
_IDX_VALUES = ", ".join(f"({n},{int(a)})" for n, a in enumerate(_IMA_IDX))

ORACLE_SQL["q_adpcm_energy"] = f"""
    WITH RECURSIVE base AS (
      SELECT event_id,
             CAST((event_id % 13 + 8) * 2 AS INT) AS n,
             CAST((event_id * 37) % 1024 - 512 AS INT) AS pred0,
             CAST(event_id % 89 AS INT) AS idx0,
             (event_id % 17 = 0) OR (event_id % 19 = 0) AS refused
      FROM events),
    steptab(si, step) AS (VALUES {_STEP_VALUES}),
    idxtab(nb, adj) AS (VALUES {_IDX_VALUES}),
    dec AS (
      SELECT event_id, -1 AS t, pred0 AS pred, idx0 AS idx,
             CAST(0 AS BIGINT) AS acc, CAST(0 AS BIGINT) AS mx
      FROM base WHERE NOT refused
      UNION ALL
      SELECT event_id, t,
             LEAST(GREATEST(signed, -32768), 32767),
             LEAST(GREATEST(idx + adj, 0), 88),
             acc + ABS(LEAST(GREATEST(signed, -32768), 32767)),
             GREATEST(mx, ABS(LEAST(GREATEST(signed, -32768), 32767)))
      FROM (
        SELECT w.event_id, w.t, w.idx, w.acc, w.mx, i.adj,
               CASE WHEN w.nib >= 8 THEN w.pred - w.diff
                    ELSE w.pred + w.diff END AS signed
        FROM (
          SELECT v.*,
                 (v.step // 8)
                 + CASE WHEN (v.nib % 8) >= 4 THEN v.step ELSE 0 END
                 + CASE WHEN (v.nib % 4) >= 2 THEN v.step // 2 ELSE 0 END
                 + CASE WHEN (v.nib % 2) = 1 THEN v.step // 4 ELSE 0 END
                 AS diff
          FROM (
            SELECT d.event_id, d.t + 1 AS t, d.idx, d.pred, d.acc, d.mx,
                   ((b.event_id + (d.t + 1) * 5
                     + (d.t + 1) * (d.t + 1)) % 16) AS nib,
                   s.step
            FROM dec d
            JOIN base b USING (event_id)
            JOIN steptab s ON s.si = d.idx
            WHERE d.t + 1 < b.n
          ) v
        ) w
        JOIN idxtab i ON i.nb = w.nib
      ) x),
    final AS (
      SELECT event_id, CAST(MAX(t) + 1 AS BIGINT) AS n_samples,
             CAST(MAX(acc) AS BIGINT) AS abs_energy,
             CAST(MAX(mx) AS INT) AS max_abs
      FROM dec WHERE t >= 0 GROUP BY event_id)
    SELECT b.event_id AS clip_id,
           CAST(NOT b.refused AS INT) AS decoded_ok,
           COALESCE(f.n_samples, 0) AS n_samples,
           COALESCE(f.abs_energy, 0) AS abs_energy,
           COALESCE(f.max_abs, 0) AS max_abs
    FROM base b LEFT JOIN final f USING (event_id)
    ORDER BY clip_id
"""

# WAV twin: the oracle never builds a header — it re-derives decoded
# samples from the content formulas; the container parser (chunk
# walk, fmt dispatch, data offset/length) sits between.
ORACLE_SQL["q_wav_energy"] = """
    WITH base AS (
      SELECT event_id, CAST(event_id % 21 + 40 AS INT) AS n,
             (event_id % 17 = 0) OR (event_id % 13 = 0) AS refused,
             (event_id % 3 = 0) AS is_pcm,
             (event_id % 3 = 1) AS is_alaw
      FROM events),
    vals AS (
      SELECT b.event_id,
             CASE WHEN b.is_pcm THEN
               (b.event_id * 31 + t.j * 1717) % 65401 - 32700
             WHEN b.is_alaw THEN
               CASE WHEN xor((b.event_id * 37 + t.j * 101
                              + (t.j * t.j) % 251) % 256, 85) >= 128
                    THEN 1 ELSE -1 END *
               CASE WHEN ((xor((b.event_id * 37 + t.j * 101
                                + (t.j * t.j) % 251) % 256, 85) // 16) % 8) = 0
                    THEN (xor((b.event_id * 37 + t.j * 101
                               + (t.j * t.j) % 251) % 256, 85) % 16) * 16 + 8
                    WHEN ((xor((b.event_id * 37 + t.j * 101
                                + (t.j * t.j) % 251) % 256, 85) // 16) % 8) = 1
                    THEN (xor((b.event_id * 37 + t.j * 101
                               + (t.j * t.j) % 251) % 256, 85) % 16) * 16 + 264
                    ELSE ((xor((b.event_id * 37 + t.j * 101
                                + (t.j * t.j) % 251) % 256, 85) % 16) * 16 + 264)
                         << (((xor((b.event_id * 37 + t.j * 101
                                    + (t.j * t.j) % 251) % 256, 85) // 16) % 8)
                             - 1)
               END
             ELSE
               CASE WHEN (255 - ((b.event_id * 37 + t.j * 101
                                  + (t.j * t.j) % 251) % 256)) >= 128
                    THEN 132 - ((((255 - ((b.event_id * 37 + t.j * 101
                                           + (t.j * t.j) % 251) % 256))
                                  % 16) * 8 + 132)
                                << (((255 - ((b.event_id * 37 + t.j * 101
                                              + (t.j * t.j) % 251) % 256))
                                     // 16) % 8))
                    ELSE ((((255 - ((b.event_id * 37 + t.j * 101
                                     + (t.j * t.j) % 251) % 256))
                            % 16) * 8 + 132)
                          << (((255 - ((b.event_id * 37 + t.j * 101
                                        + (t.j * t.j) % 251) % 256))
                               // 16) % 8)) - 132
               END
             END AS v
      FROM base b, UNNEST(generate_series(0, b.n - 1)) AS t(j)
      WHERE NOT b.refused),
    agg AS (
      SELECT event_id, CAST(count(*) AS BIGINT) AS n_samples,
             CAST(SUM(ABS(v)) AS BIGINT) AS abs_energy,
             CAST(MAX(ABS(v)) AS INT) AS max_abs
      FROM vals GROUP BY event_id)
    SELECT b.event_id AS clip_id,
           CAST(NOT b.refused AS INT) AS decoded_ok,
           COALESCE(a.n_samples, 0) AS n_samples,
           COALESCE(a.abs_energy, 0) AS abs_energy,
           COALESCE(a.max_abs, 0) AS max_abs
    FROM base b LEFT JOIN agg a USING (event_id)
    ORDER BY clip_id
"""

# Tone-probe twin: re-derives the one-bin integer DFT correlations
# from the closed-form sample formula (tone class + hf class + shared
# noise) and the same integer basis tables as 1-based DuckDB list
# literals; the engine side decodes REAL bytes, so the PCM16 decode,
# modular basis gather, segment reduce, and odd-byte truncation all
# sit between the two derivations.
ORACLE_SQL["q_audio_tone_probe"] = """
    WITH t AS (
      SELECT event_id,
             CAST((event_id % 13 + 40) * 8 + event_id % 5 AS INT) AS n,
             (event_id % 17 = 0) AS is_null
      FROM events),
    u AS (SELECT event_id, n, unnest(range(0, n)) AS i
          FROM t WHERE NOT is_null),
    x AS (
      SELECT event_id, i,
             (CASE WHEN event_id % 2 = 0
                   THEN ([30,21,0,-21,-30,-21,0,21])[CAST(i % 8 AS INT) + 1]
                   ELSE 25 * (1 - 2 * CAST(i % 2 AS INT)) END)
             + ((event_id + i * 13) % 7 - 3) AS v
      FROM u),
    c AS (
      SELECT event_id,
             CAST(sum(v * ([1000,707,0,-707,-1000,-707,0,707])
                          [CAST(i % 8 AS INT) + 1]) AS BIGINT) AS corr_c,
             CAST(sum(v * ([0,707,1000,707,0,-707,-1000,-707])
                          [CAST(i % 8 AS INT) + 1]) AS BIGINT) AS corr_s
      FROM x GROUP BY 1)
    SELECT t.event_id AS clip_id,
           CAST(CASE WHEN t.is_null THEN 0 ELSE 1 END AS INT) AS decoded_ok,
           CAST(CASE WHEN t.is_null THEN 0 ELSE t.n END AS INT) AS n_samples,
           CAST(COALESCE(c.corr_c, 0) AS BIGINT) AS corr_c,
           CAST(COALESCE(c.corr_s, 0) AS BIGINT) AS corr_s,
           CAST(CASE WHEN NOT t.is_null
                      AND abs(COALESCE(c.corr_c, 0))
                        + abs(COALESCE(c.corr_s, 0)) > 6000 * t.n
                     THEN 1 ELSE 0 END AS INT) AS is_tonal
    FROM t LEFT JOIN c USING (event_id)
    ORDER BY clip_id
"""

# Trim twin: recomputes frame energies from the closed-form synthesis,
# derives first/last voiced frame, byte offsets, kept samples and kept
# energy — the engine's byte slicing + re-decode (recheck_energy) must
# land on the same integers.
ORACLE_SQL["q_audio_trim"] = """
    WITH t AS (
      SELECT event_id, CAST(event_id % 23 + 10 AS INT) AS nf,
             (event_id % 17 = 0) AS is_null
      FROM events),
    u AS (SELECT event_id, nf, unnest(range(0, nf)) AS f
          FROM t WHERE NOT is_null),
    e AS (
      SELECT event_id, f,
             CASE WHEN event_id % 19 <> 0
                   AND f >= event_id % 4
                   AND f < nf - event_id % 3
                   AND (event_id * 13 + f * f) % 11 < 8
                  THEN 720 ELSE 16 END AS en
      FROM u),
    a AS (
      SELECT event_id,
             min(CASE WHEN en >= 400 THEN f END) AS fv,
             max(CASE WHEN en >= 400 THEN f END) AS lv
      FROM e GROUP BY 1),
    k AS (
      SELECT e.event_id, CAST(sum(e.en) AS BIGINT) AS ke
      FROM e JOIN a USING (event_id)
      WHERE e.f BETWEEN a.fv AND a.lv GROUP BY 1)
    SELECT t.event_id AS clip_id,
           CAST(CASE WHEN t.is_null THEN 0 ELSE 1 END AS INT) AS decoded_ok,
           CAST(CASE WHEN t.is_null THEN 0 ELSE t.nf END AS INT) AS n_frames,
           CAST(COALESCE(a.fv, -1) AS INT) AS first_voiced,
           CAST(COALESCE(a.lv, -1) AS INT) AS last_voiced,
           CAST(CASE WHEN a.fv IS NULL THEN 0 ELSE a.fv * 16 END
                AS BIGINT) AS start_byte,
           CAST(CASE WHEN a.fv IS NULL THEN 0 ELSE (a.lv + 1) * 16 END
                AS BIGINT) AS end_byte,
           CAST(CASE WHEN a.fv IS NULL THEN 0
                     ELSE (a.lv - a.fv + 1) * 8 END AS BIGINT)
             AS kept_samples,
           CAST(COALESCE(k.ke, 0) AS BIGINT) AS kept_energy,
           CAST(COALESCE(k.ke, 0) AS BIGINT) AS recheck_energy
    FROM t
    LEFT JOIN a ON a.event_id = t.event_id AND NOT t.is_null
    LEFT JOIN k ON k.event_id = t.event_id
    ORDER BY clip_id
"""

# Compressor twin: mag = CASE amp > thr THEN thr + (amp-thr)//4 —
# amps are positive by construction so // needs no sign split here;
# recheck equals out_energy because the engine re-decodes its output.
ORACLE_SQL["q_audio_compress"] = """
    WITH t AS (
      SELECT event_id, CAST(event_id % 11 + 4 AS INT) AS nf,
             (event_id % 17 = 0) AS is_null
      FROM events),
    a AS (
      SELECT event_id, f,
             (event_id * 31 + f * 17) % 29000 + 1 AS amp
      FROM t, UNNEST(range(0, nf)) AS u(f)
      WHERE NOT is_null),
    m AS (
      SELECT event_id,
             CAST(sum(8 * CASE WHEN amp > 8000
                               THEN 8000 + (amp - 8000) // 4
                               ELSE amp END) AS BIGINT) AS oute,
             CAST(sum(8 * CASE WHEN amp > 8000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS red
      FROM a GROUP BY 1)
    SELECT t.event_id AS clip_id,
           CAST(CASE WHEN t.is_null THEN 0 ELSE 1 END AS INT) AS decoded_ok,
           CAST(CASE WHEN t.is_null THEN 0 ELSE t.nf * 8 END AS BIGINT)
             AS n_samples,
           CAST(COALESCE(m.red, 0) AS BIGINT) AS reduced,
           CAST(COALESCE(m.oute, 0) AS BIGINT) AS out_energy,
           CAST(COALESCE(m.oute, 0) AS BIGINT) AS recheck_energy
    FROM t LEFT JOIN m USING (event_id)
    ORDER BY clip_id
"""

# PageRank twin: the same 5 integer rounds UNROLLED as generated CTEs
# (one s{t}/r{t} pair per round) — aggregation over a recursive
# reference is engine-dependent, unrolling is not. // == `div` here
# because every operand is nonnegative.
def _pagerank_rounds_sql(rounds: int = 5) -> str:
    from .operators.graph import BASE, DAMP_DEN, DAMP_NUM, SCALE

    parts = [
        "e AS (SELECT DISTINCT event_id % 400 AS src,"
        " (event_id * 7 + 3) % 400 AS dst FROM events)",
        "nodes AS (SELECT DISTINCT node FROM"
        " (SELECT src AS node FROM e UNION SELECT dst FROM e))",
        "od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1)",
        f"r0 AS (SELECT node, CAST({SCALE} AS BIGINT) AS rank FROM nodes)",
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"s{t} AS (SELECT e.dst AS node,"
            f" SUM(r{t-1}.rank // od.outdeg) AS s"
            f" FROM e JOIN r{t-1} ON r{t-1}.node = e.src"
            f" JOIN od ON od.src = e.src GROUP BY 1)"
        )
        parts.append(
            f"r{t} AS (SELECT n.node, CAST({BASE}"
            f" + ({DAMP_NUM} * COALESCE(s.s, 0)) // {DAMP_DEN} AS BIGINT)"
            f" AS rank FROM nodes n LEFT JOIN s{t} s ON s.node = n.node)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, rank FROM r{rounds} ORDER BY node"
    )


ORACLE_SQL["q_pagerank"] = _pagerank_rounds_sql(5)

# Table-diff twin: statuses from direct VALUE comparison (the engine
# uses md5 row digests — the digest mechanism sits between the two);
# bucket replays the shared md5 % recipe.
ORACLE_SQL["q_table_diff"] = """
    WITH base AS (
      SELECT c_custkey AS custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
             c_mktsegment AS seg
      FROM customer),
    mut AS (
      SELECT custkey,
             CASE WHEN custkey % 13 = 0 THEN cents + 777 ELSE cents END
               AS cents,
             seg
      FROM base WHERE custkey % 41 <> 0),
    added AS (
      SELECT custkey, custkey * 31 AS cents, 'NEW' AS seg
      FROM (SELECT DISTINCT event_id % 200 + 1500 AS custkey FROM events)),
    b AS (SELECT * FROM mut UNION ALL SELECT * FROM added),
    d AS (
      SELECT COALESCE(a.custkey, b.custkey) AS custkey,
             CASE WHEN a.custkey IS NULL THEN 'added'
                  WHEN b.custkey IS NULL THEN 'removed'
                  WHEN a.cents <> b.cents OR a.seg <> b.seg THEN 'changed'
                  ELSE 'equal' END AS status
      FROM base a FULL OUTER JOIN b ON a.custkey = b.custkey)
    SELECT custkey,
           CAST(CAST(concat('0x', substr(md5(CAST(custkey AS VARCHAR)), 1,
                12)) AS BIGINT) % 256 AS BIGINT) AS bucket,
           status
    FROM d WHERE status <> 'equal'
    ORDER BY custkey
"""

# MAD twin: quantile_cont == Spark percentile() exactly (NOTES #7);
# the deviations and the division run on identical doubles.
ORACLE_SQL["q_mad_outliers"] = """
    WITH base AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    med AS (
      SELECT event_type,
             quantile_cont(CAST(cents AS DOUBLE), 0.5) AS med
      FROM base GROUP BY 1),
    dev AS (
      SELECT b.event_id, b.event_type, b.cents, m.med,
             abs(CAST(b.cents AS DOUBLE) - m.med) AS adev
      FROM base b JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY 1)
    SELECT d.event_id, d.event_type, d.cents,
           (CAST(d.cents AS DOUBLE) - d.med) / m.mad AS mad_z
    FROM dev d JOIN mad m USING (event_type)
    WHERE m.mad > 0 AND abs((CAST(d.cents AS DOUBLE) - d.med) / m.mad) > 3
    ORDER BY d.event_id
"""

ORACLE_SQL["q_full_outer"] = """
    WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
               FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
               FROM supplier GROUP BY 1)
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           CAST(COALESCE(c.n_cust, 0) AS BIGINT) AS n_cust,
           CAST(COALESCE(s.n_supp, 0) AS BIGINT) AS n_supp,
           CAST(COALESCE(c.n_cust, 0) - COALESCE(s.n_supp, 0) AS BIGINT)
             AS imbalance
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    ORDER BY nationkey
"""

# Sentence twin: DuckDB's own regex split on the same class; empty
# fragments (leading punctuation, trailing terminator) trimmed+dropped
# on both sides.
ORACLE_SQL["q_sentences"] = r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(list_transform(regexp_split_to_array(text,
                         '[.!?]+'), x -> trim(x)), x -> x <> '') AS sents
      FROM documents)
    SELECT doc_id,
           CAST(len(sents) AS INT) AS n_sentences,
           CAST(COALESCE(list_max(list_transform(sents, x -> length(x))), 0)
                AS INT) AS max_sentence_chars
    FROM s ORDER BY doc_id
"""

# Mastering-chain twin: all three stages replayed closed-form on the
# per-frame constants — downmix magnitude |L+R|//2, knee, then the
# peak-relative gain; signs cancel because every output is a
# magnitude/energy. One oracle across three chained byte stages.
ORACLE_SQL["q_audio_master"] = """
    WITH t AS (
      SELECT event_id, CAST(event_id % 9 + 3 AS INT) AS nf,
             (event_id % 17 = 0) AS is_null
      FROM events),
    a AS (
      SELECT event_id, f,
             (event_id * 131 + f * 37) % 30001 - 15000 AS l,
             (event_id * 17 + f * 29) % 20001 - 10000 AS r
      FROM t, UNNEST(range(0, nf)) AS u(f)
      WHERE NOT is_null),
    c AS (
      SELECT event_id, f,
             CASE WHEN abs(l + r) // 2 > 8000
                  THEN 8000 + (abs(l + r) // 2 - 8000) // 4
                  ELSE abs(l + r) // 2 END AS cm
      FROM a),
    p AS (SELECT event_id, max(cm) AS peak FROM c GROUP BY 1),
    g AS (
      SELECT c.event_id,
             CAST(sum(8 * ((c.cm * 24000) // greatest(p.peak, 1)))
                  AS BIGINT) AS oute
      FROM c JOIN p USING (event_id) GROUP BY 1)
    SELECT t.event_id AS clip_id,
           CAST(CASE WHEN t.is_null THEN 0 ELSE 1 END AS INT) AS decoded_ok,
           CAST(CASE WHEN t.is_null THEN 0 ELSE t.nf * 8 END AS BIGINT)
             AS n_samples,
           CAST(COALESCE(p.peak, 0) AS BIGINT) AS peak,
           CAST(CASE WHEN COALESCE(p.peak, 0) > 0
                     THEN 24000000000 // p.peak ELSE 0 END AS BIGINT)
             AS gain_ppm,
           CAST(CASE WHEN COALESCE(p.peak, 0) > 0
                     THEN g.oute ELSE 0 END AS BIGINT) AS out_energy,
           CAST(CASE WHEN COALESCE(p.peak, 0) > 0
                     THEN g.oute ELSE 0 END AS BIGINT) AS recheck_energy
    FROM t
    LEFT JOIN p ON p.event_id = t.event_id
    LEFT JOIN g ON g.event_id = t.event_id
    ORDER BY clip_id
"""

# Z-order twin: the same shift/mask interleave, generated term-by-term
# (bit arithmetic — no rounding anywhere).
def _spread_sql(col: str, offset: int, bits: int = 16) -> str:
    return " + ".join(
        f"((({col} >> {i}) & 1) << {2 * i + offset})" for i in range(bits)
    )


ORACLE_SQL["q_zorder"] = f"""
    WITH k AS (
      SELECT event_id,
             CAST(user_id % 65536 AS BIGINT) AS x,
             CAST(CAST(round(value * 100) AS BIGINT) % 65536 AS BIGINT) AS y
      FROM events),
    z AS (
      SELECT event_id, x, y,
             CAST({_spread_sql('x', 0)}
                  + {_spread_sql('y', 1)} AS BIGINT) AS zkey
      FROM k)
    SELECT event_id, x, y, zkey,
           ntile(16) OVER (ORDER BY zkey, event_id) AS file_bucket
    FROM z ORDER BY event_id
"""

# Clipping twin: frame-level gaps-and-islands (f - row_number()) over
# the planted clipped-frame pattern; counts/runs scale by fs=8 samples
# per frame; ppm is the same integer division on both sides.
ORACLE_SQL["q_audio_clipping"] = """
    WITH t AS (
      SELECT event_id, CAST(event_id % 13 + 6 AS INT) AS nf,
             (event_id % 17 = 0) AS is_null
      FROM events),
    fr AS (
      SELECT event_id, f,
             (event_id % 19 <> 0 AND (event_id * 7 + f * f) % 9 < 2)
               AS is_clip
      FROM t, UNNEST(range(0, nf)) AS u(f)
      WHERE NOT is_null),
    isl AS (
      SELECT event_id,
             f - row_number() OVER (PARTITION BY event_id ORDER BY f)
               AS grp
      FROM fr WHERE is_clip),
    runs AS (
      SELECT event_id, count(*) AS run_frames
      FROM isl GROUP BY event_id, grp),
    agg AS (
      SELECT event_id,
             CAST(sum(CASE WHEN is_clip THEN 1 ELSE 0 END) AS BIGINT)
               AS clip_frames
      FROM fr GROUP BY 1),
    mx AS (SELECT event_id, max(run_frames) AS max_run_frames
           FROM runs GROUP BY 1)
    SELECT t.event_id AS clip_id,
           CAST(CASE WHEN t.is_null THEN 0 ELSE 1 END AS INT) AS decoded_ok,
           CAST(CASE WHEN t.is_null THEN 0 ELSE t.nf * 8 END AS BIGINT)
             AS n_samples,
           CAST(COALESCE(a.clip_frames, 0) * 8 AS BIGINT) AS clipped,
           CAST(CASE WHEN t.is_null THEN 0
                     ELSE COALESCE(a.clip_frames, 0) * 8 * 1000000
                          // (t.nf * 8) END AS BIGINT) AS clip_ppm,
           CAST(COALESCE(m.max_run_frames, 0) * 8 AS BIGINT) AS max_run
    FROM t
    LEFT JOIN agg a ON a.event_id = t.event_id
    LEFT JOIN mx m ON m.event_id = t.event_id
    ORDER BY clip_id
"""

# Pivot twin: conditional aggregation — exactly what Spark compiles an
# explicit-list pivot into. Integer cents; HUGEINT cast back (NOTES #12).
ORACLE_SQL["q_pivot"] = """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (event_type = 'click') AS BIGINT) AS click_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (event_type = 'view') AS BIGINT) AS view_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (event_type = 'signup') AS BIGINT) AS signup_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (event_type = 'purchase') AS BIGINT) AS purchase_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (event_type = 'error') AS BIGINT) AS error_cents
    FROM events GROUP BY 1 ORDER BY day
"""

# Unpivot twin: melt(pivot(x)) minus NULL cells == the direct long-form
# group-by.
ORACLE_SQL["q_unpivot"] = """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY 1, 2 ORDER BY day, event_type
"""

ORACLE_SQL["q_ntile"] = """
    SELECT source, doc_id, n_chars,
           ntile(10) OVER (PARTITION BY source
                           ORDER BY n_chars, doc_id) AS decile
    FROM documents ORDER BY source, n_chars, doc_id
"""

# Downmix twin: y = sign(L+R) * (|L+R| // 2) — the sign-split form is
# the only portable integer division (DuckDB // truncates toward zero,
# NumPy floors); recheck_energy equals out_energy because the engine
# re-decodes its own output bytes.
ORACLE_SQL["q_audio_downmix"] = """
    WITH t AS (
      SELECT event_id, CAST(event_id % 9 + 3 AS INT) AS nf,
             (event_id % 17 = 0) AS is_null
      FROM events),
    a AS (
      SELECT event_id, f,
             (event_id * 31 + f * 17) % 3001 - 1500 AS l,
             (event_id * 7 + f * 13) % 2001 - 1000 AS r
      FROM t, UNNEST(range(0, nf)) AS u(f)
      WHERE NOT is_null),
    y AS (
      SELECT event_id,
             CAST(sum(8 * (abs(l + r) // 2)) AS BIGINT) AS oute
      FROM a GROUP BY 1)
    SELECT t.event_id AS clip_id,
           CAST(CASE WHEN t.is_null THEN 0 ELSE 1 END AS INT) AS decoded_ok,
           CAST(CASE WHEN t.is_null THEN 0 ELSE t.nf * 8 END AS BIGINT)
             AS n_frames,
           CAST(COALESCE(y.oute, 0) AS BIGINT) AS out_energy,
           CAST(COALESCE(y.oute, 0) AS BIGINT) AS recheck_energy
    FROM t LEFT JOIN y USING (event_id)
    ORDER BY clip_id
"""

# Salted-join twin: the plain (salt-blind) join — the whole point is
# that the salt never shows in the result.
ORACLE_SQL["q_salted_join"] = """
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(l.l_suppkey AS BIGINT) AS suppkey,
           CAST(round(l.l_extendedprice * 100) AS BIGINT) AS price_cents,
           s.s_name
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE l.l_quantity > 45
    ORDER BY l.l_orderkey, l.l_linenumber
"""

# Upsert twin: the same union + version window replayed in SQL.
ORACLE_SQL["q_upsert"] = """
    WITH base AS (
      SELECT c_custkey AS custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
             CAST(-1 AS BIGINT) AS version, FALSE AS is_delete, 0 AS src
      FROM customer),
    upd AS (
      SELECT event_id % 2200 AS custkey,
             CAST((event_id * 7919) % 2000000 - 1000000 AS BIGINT)
               AS acctbal_cents,
             event_id AS version, (event_id % 97 = 0) AS is_delete, 1 AS src
      FROM events),
    a AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
    r AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY custkey ORDER BY version DESC, src DESC) AS rn,
             count(*) OVER (PARTITION BY custkey) AS n_versions
      FROM a)
    SELECT custkey, acctbal_cents, version, CAST(n_versions AS BIGINT)
             AS n_versions
    FROM r WHERE rn = 1 AND NOT is_delete
    ORDER BY custkey
"""

# Prototypicality twin: identical quantization tie rule, identical
# integer centroid sums (order-free), identical sqrt/division shape —
# SUMs never touch a float, so the one division is bit-identical.
ORACLE_SQL["q_proto_outlier"] = """
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
                            x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS xq
      FROM embeddings),
    flat AS (
      SELECT vec_id, label, i, xq[i] AS v
      FROM q, UNNEST(generate_series(1, 64)) AS t(i)),
    s AS (SELECT label, i, CAST(SUM(v) AS BIGINT) AS sv
          FROM flat GROUP BY 1, 2),
    norms AS (SELECT label, CAST(SUM(sv * sv) AS BIGINT) AS ns
              FROM s GROUP BY 1),
    dots AS (
      SELECT f.vec_id, f.label,
             CAST(SUM(f.v * s.sv) AS BIGINT) AS dxs,
             CAST(SUM(f.v * f.v) AS BIGINT) AS nx
      FROM flat f JOIN s ON s.label = f.label AND s.i = f.i
      GROUP BY 1, 2),
    scored AS (
      SELECT d.vec_id, d.label,
             CAST(d.dxs AS DOUBLE)
               / (sqrt(CAST(d.nx AS DOUBLE)) * sqrt(CAST(n.ns AS DOUBLE)))
               AS proto_cos
      FROM dots d JOIN norms n USING (label)),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY label ORDER BY proto_cos, vec_id) AS outlier_rank
      FROM scored)
    SELECT label, vec_id, proto_cos, outlier_rank,
           CAST(CASE WHEN outlier_rank <= 10 THEN 1 ELSE 0 END AS INT)
             AS is_outlier
    FROM ranked
    ORDER BY label, outlier_rank
"""

# Gain-normalize twin: recomputes peak / gain_ppm / out_energy from the
# frame-constant closed form; the engine's recheck (decode of the
# OUTPUT bytes) must land on the same integers, pinning the content.
ORACLE_SQL["q_audio_gain"] = """
    WITH t AS (
      SELECT event_id, CAST(event_id % 11 + 4 AS INT) AS nf,
             (event_id % 17 = 0) AS is_null,
             (event_id % 19 = 0) AS silent
      FROM events),
    a AS (
      SELECT event_id, f,
             CASE WHEN silent THEN 0
                  ELSE (event_id * 31 + f * 17) % 29000 + 1 END AS amp
      FROM t, UNNEST(range(0, nf)) AS u(f)
      WHERE NOT is_null),
    p AS (SELECT event_id, max(amp) AS peak FROM a GROUP BY 1),
    oe AS (
      SELECT a.event_id,
             CAST(sum(8 * ((a.amp * 24000) // greatest(p.peak, 1)))
                  AS BIGINT) AS oute
      FROM a JOIN p USING (event_id) GROUP BY 1)
    SELECT t.event_id AS clip_id,
           CAST(CASE WHEN t.is_null THEN 0 ELSE 1 END AS INT) AS decoded_ok,
           CAST(CASE WHEN t.is_null THEN 0 ELSE t.nf * 8 END AS BIGINT)
             AS n_samples,
           CAST(COALESCE(p.peak, 0) AS BIGINT) AS peak,
           CAST(CASE WHEN COALESCE(p.peak, 0) > 0
                     THEN 24000000000 // p.peak ELSE 0 END AS BIGINT)
             AS gain_ppm,
           CAST(CASE WHEN COALESCE(p.peak, 0) > 0
                     THEN oe.oute ELSE 0 END AS BIGINT) AS out_energy,
           CAST(CASE WHEN COALESCE(p.peak, 0) > 0
                     THEN oe.oute ELSE 0 END AS BIGINT) AS recheck_energy
    FROM t
    LEFT JOIN p ON p.event_id = t.event_id
    LEFT JOIN oe ON oe.event_id = t.event_id
    ORDER BY clip_id
"""

# HLL twin: recomputes the identical sketch from md5 string arithmetic
# (bucket = first 2 hex digits; rho = leading-zero rank of the next 15
# from string stripping + a first-digit CASE), the identical integer
# harmonic numerator, and the identical one-division estimate with the
# SAME double literal numerator (functions/sketches.EST_NUMERATOR).
ORACLE_SQL["q_hll_distinct"] = f"""
    WITH h AS (
      SELECT md5(CAST(event_id % 3777 AS VARCHAR)) AS hx FROM events),
    r AS (
      SELECT CAST(('0x' || substr(hx, 1, 2)) AS INTEGER) AS bucket,
             regexp_replace(substr(hx, 3, 15), '^0*', '') AS s
      FROM h),
    rho AS (
      SELECT bucket,
             CASE WHEN length(s) = 0 THEN 61
                  ELSE 4 * (15 - length(s))
                       + CASE WHEN substr(s, 1, 1) = '1' THEN 3
                              WHEN substr(s, 1, 1) IN ('2', '3') THEN 2
                              WHEN substr(s, 1, 1) IN ('4','5','6','7') THEN 1
                              ELSE 0 END
                       + 1 END AS rho
      FROM r),
    regs AS (SELECT bucket, max(rho) AS register FROM rho GROUP BY 1),
    allb AS (
      SELECT CAST(t.b AS INT) AS bucket,
             CAST(COALESCE(regs.register, 0) AS INT) AS register
      FROM (SELECT unnest(range(0, 256)) AS b) t
      LEFT JOIN regs ON regs.bucket = t.b),
    summary AS (
      SELECT CAST(sum(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS m_zero_registers,
             CAST(sum(CAST(1 AS BIGINT)
                      << (40 - least(register, 40))) AS BIGINT) AS z_int
      FROM allb)
    SELECT f.bucket, f.register, s.m_zero_registers, s.z_int,
           round({_HLL_EST_NUM!r} / s.z_int, 2) AS est_raw
    FROM allb f, summary s
    ORDER BY f.bucket
"""

# Count-min twin: rebuilds the skewed keys, every (row, pos) counter
# from md5-hex-slice positions, and the min-over-rows point estimates
# next to exact counts — grid, collisions and estimates all sit
# between the engines.
ORACLE_SQL["q_cms_heavy"] = """
    WITH e AS (
      SELECT CASE WHEN event_id % 10 < 7
                  THEN 'hot' || (event_id % 3)
                  ELSE 'cold' || (event_id % 997) END AS k,
             event_id
      FROM events),
    pos AS (
      SELECT k, t.i AS row,
             CAST(CAST(('0x' || substr(md5(k), 1 + 5 * t.i, 5)) AS BIGINT)
                  % 512 AS INT) AS pos
      FROM e, unnest([0, 1, 2, 3]) AS t(i)),
    sk AS (SELECT row, pos, count(*) AS cnt FROM pos GROUP BY 1, 2),
    probes AS (
      SELECT DISTINCT k FROM e
      WHERE event_id % 10 < 7 OR event_id % 997 < 10),
    pe AS (
      SELECT p.k, t.i AS row,
             CAST(CAST(('0x' || substr(md5(p.k), 1 + 5 * t.i, 5)) AS BIGINT)
                  % 512 AS INT) AS pos
      FROM probes p, unnest([0, 1, 2, 3]) AS t(i)),
    je AS (
      SELECT pe.k, COALESCE(sk.cnt, 0) AS c
      FROM pe LEFT JOIN sk ON sk.row = pe.row AND sk.pos = pe.pos),
    estq AS (SELECT k, CAST(min(c) AS BIGINT) AS est_count FROM je GROUP BY 1),
    tc AS (SELECT k, CAST(count(*) AS BIGINT) AS true_count FROM e GROUP BY 1)
    SELECT estq.k, estq.est_count, tc.true_count
    FROM estq JOIN tc USING (k) ORDER BY k
"""

# Rules-ladder twin: replays the identical first-failing CASE ladder
# (constants from QualityConfig defaults + the query's wpm 30..300
# bounds) over the same synthesized features — precedence collisions
# and the integer cross-multiplied rate rule sit between the engines.
ORACLE_SQL["q_rule_decisions"] = """
    WITH f AS (
      SELECT event_id,
             event_id % 6 AS n_chars,
             CASE WHEN event_id % 5 = 0 THEN 'mp3'
                  ELSE 'pcm_s16le' END AS codec,
             (event_id % 7 <> 0) AS dur_ok,
             CASE WHEN event_id % 11 = 0 THEN 'xx' ELSE 'en' END AS lang,
             CASE WHEN event_id % 13 = 0 THEN 0.05 ELSE 0.5 END AS margin,
             CASE WHEN event_id % 17 = 0 THEN 90.0 ELSE 10.0 END AS ppl,
             CASE WHEN event_id % 23 = 0 THEN 0
                  ELSE 2000 + (event_id % 10) * 500 END AS dur_ms,
             event_id % 30 AS n_tokens
      FROM events),
    r AS (
      SELECT event_id,
             CASE
               WHEN n_chars < 2 THEN 'empty_transcript'
               WHEN codec NOT IN ('pcm_s16le', 'flac', 'opus')
                 THEN 'bad_codec'
               WHEN NOT dur_ok THEN 'dur_mismatch'
               WHEN dur_ms <= 0
                    OR n_tokens * 60000 < dur_ms * 30
                    OR n_tokens * 60000 > dur_ms * 300
                 THEN 'rate_outlier'
               WHEN lang NOT IN ('en', 'es', 'de', 'fr', 'zh')
                    OR margin < 0.20 THEN 'langid_fail'
               WHEN ppl > 40.0 THEN 'ppl_outlier'
               ELSE 'candidate'
             END AS reason
      FROM f)
    SELECT event_id AS clip_id, reason,
           CAST(CASE WHEN reason = 'candidate' THEN 1 ELSE 0 END AS INT)
             AS keep_rules
    FROM r ORDER BY clip_id
"""

# Chunker twin: recomputes every window's [start, start+len) sample
# range from the same integer boundary math (per-codec width, floor
# steps, kept short tail) and re-derives the decoded values per
# sample; the operator's JVM substring slicing sits between.
ORACLE_SQL["q_audio_chunk"] = """
    WITH base AS (
      SELECT event_id,
             CASE WHEN event_id % 2 = 0 THEN 4000 ELSE 6000 END AS sr,
             CAST(event_id % 301 + 300 AS BIGINT) AS n,
             (event_id % 17 = 0) AS is_null,
             (event_id % 13 = 0) AS is_ad,
             (event_id % 3 = 0) AS is_u
      FROM events),
    geom AS (
      SELECT event_id, sr, n, is_u,
             sr * 50 // 1000 AS csamp,
             sr * 25 // 1000 AS step
      FROM base WHERE NOT is_null AND NOT is_ad),
    chunks AS (
      SELECT g.event_id, g.sr, g.n, g.is_u, g.csamp, c.c,
             c.c * g.step AS strt,
             LEAST(g.csamp, g.n - c.c * g.step) AS clen
      FROM geom g, UNNEST(generate_series(0,
           GREATEST(1, CAST(CEIL((g.n - g.csamp) * 1.0 / g.step) AS BIGINT)
                        + 1) - 1)) AS c(c)),
    vals AS (
      SELECT ch.event_id, ch.c,
             CASE WHEN ch.is_u THEN
               CASE WHEN (255 - ((ch.event_id * 37 + t.j * 101
                                  + (t.j * t.j) % 251) % 256)) >= 128
                    THEN 132 - ((((255 - ((ch.event_id * 37 + t.j * 101
                                           + (t.j * t.j) % 251) % 256))
                                  % 16) * 8 + 132)
                                << (((255 - ((ch.event_id * 37 + t.j * 101
                                              + (t.j * t.j) % 251) % 256))
                                     // 16) % 8))
                    ELSE ((((255 - ((ch.event_id * 37 + t.j * 101
                                     + (t.j * t.j) % 251) % 256))
                            % 16) * 8 + 132)
                          << (((255 - ((ch.event_id * 37 + t.j * 101
                                        + (t.j * t.j) % 251) % 256))
                               // 16) % 8)) - 132
               END
             ELSE (ch.event_id * 31 + t.j * 1717) % 65401 - 32700
             END AS v
      FROM chunks ch,
           UNNEST(generate_series(ch.strt, ch.strt + ch.clen - 1)) AS t(j)),
    agg AS (
      SELECT event_id, c, CAST(count(*) AS BIGINT) AS n_samples,
             CAST(SUM(ABS(v)) AS BIGINT) AS abs_energy,
             CAST(MAX(ABS(v)) AS INT) AS max_abs
      FROM vals GROUP BY event_id, c),
    outg AS (
      SELECT ch.event_id AS clip_id, CAST(ch.c AS INT) AS chunk_id,
             CAST(ch.strt * 1000 // ch.sr AS INT) AS start_ms,
             CAST(ch.clen * 1000 // ch.sr AS INT) AS dur_ms,
             1 AS decoded_ok, a.n_samples, a.abs_energy, a.max_abs
      FROM chunks ch
      JOIN agg a ON a.event_id = ch.event_id AND a.c = ch.c
      UNION ALL
      SELECT event_id, -1, -1, -1, 0, CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), 0
      FROM base WHERE is_null OR is_ad)
    SELECT clip_id, chunk_id, start_ms, dur_ms,
           CAST(decoded_ok AS INT) AS decoded_ok, n_samples, abs_energy,
           CAST(max_abs AS INT) AS max_abs
    FROM outg ORDER BY clip_id, chunk_id
"""

# Transcode twin: replays the standard segmented G.711 ENCODERS
# (threshold ladder, mantissa shifts, bias, bit inversion / XOR 0x55)
# and the expansion decode per sample; the operator's actual byte
# stream sits between the two derivations.
ORACLE_SQL["q_g711_transcode"] = """
    WITH synth AS (
      SELECT event_id, CAST(event_id % 9 + 20 AS INT) AS n,
             (event_id % 11 = 0) AS refused,
             (event_id % 2 = 0) AS is_u
      FROM events),
    x AS (
      SELECT s.event_id, s.is_u,
             (s.event_id * 31 + t.j * 1717) % 65401 - 32700 AS xv
      FROM synth s, UNNEST(generate_series(0, s.n - 1)) AS t(j)
      WHERE NOT s.refused),
    lad AS (
      SELECT event_id, is_u, xv,
             CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                  ELSE LEAST(ABS(xv), 32767) END AS mag,
             CASE WHEN (CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                             ELSE LEAST(ABS(xv), 32767) END) >= 16384 THEN 7
                  WHEN (CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                             ELSE LEAST(ABS(xv), 32767) END) >= 8192 THEN 6
                  WHEN (CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                             ELSE LEAST(ABS(xv), 32767) END) >= 4096 THEN 5
                  WHEN (CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                             ELSE LEAST(ABS(xv), 32767) END) >= 2048 THEN 4
                  WHEN (CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                             ELSE LEAST(ABS(xv), 32767) END) >= 1024 THEN 3
                  WHEN (CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                             ELSE LEAST(ABS(xv), 32767) END) >= 512 THEN 2
                  WHEN (CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                             ELSE LEAST(ABS(xv), 32767) END) >= 256 THEN 1
                  ELSE 0 END AS sg
      FROM x),
    code AS (
      SELECT event_id, is_u,
             CASE WHEN is_u THEN
               255 - (CASE WHEN xv < 0 THEN 128 ELSE 0 END + sg * 16
                      + ((mag // (1 << (sg + 3))) % 16))
             ELSE
               xor(CASE WHEN xv >= 0 THEN 128 ELSE 0 END + sg * 16
                   + (CASE WHEN sg = 0 THEN mag // 16
                           ELSE (mag // (1 << (sg + 3))) % 16 END), 85)
             END AS b
      FROM lad),
    lin AS (
      SELECT event_id,
             CASE WHEN is_u THEN
               CASE WHEN (255 - b) >= 128
                    THEN 132 - ((((255 - b) % 16) * 8 + 132)
                                << (((255 - b) // 16) % 8))
                    ELSE ((((255 - b) % 16) * 8 + 132)
                          << (((255 - b) // 16) % 8)) - 132
               END
             ELSE
               CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END *
               CASE WHEN ((xor(b, 85) // 16) % 8) = 0
                    THEN (xor(b, 85) % 16) * 16 + 8
                    WHEN ((xor(b, 85) // 16) % 8) = 1
                    THEN (xor(b, 85) % 16) * 16 + 264
                    ELSE ((xor(b, 85) % 16) * 16 + 264)
                         << (((xor(b, 85) // 16) % 8) - 1)
               END
             END AS val
      FROM code),
    agg AS (
      SELECT event_id, CAST(count(*) AS BIGINT) AS n_samples,
             CAST(SUM(ABS(val)) AS BIGINT) AS abs_energy,
             CAST(MAX(ABS(val)) AS INT) AS max_abs
      FROM lin GROUP BY event_id)
    SELECT s.event_id AS clip_id,
           CASE WHEN s.refused THEN 'pcm_s16le'
                WHEN s.is_u THEN 'pcm_ulaw' ELSE 'pcm_alaw' END AS codec,
           CAST(NOT s.refused AS INT) AS decoded_ok,
           COALESCE(a.n_samples, 0) AS n_samples,
           COALESCE(a.abs_energy, 0) AS abs_energy,
           COALESCE(a.max_abs, 0) AS max_abs
    FROM synth s LEFT JOIN agg a USING (event_id)
    ORDER BY clip_id
"""

# FLAC twin: the engine decodes REAL packed bitstreams; the oracle
# never sees a bit — it re-derives every decoded sample from the
# closed-form content formulas (constant / indexed / arithmetic-
# progression frames) and aggregates. The entire decoder (frame sync,
# CRC-8/16, subframe headers, Rice residuals) sits between the two.
_FLAC_PARAMS = ", ".join(
    "({v},{kind},{blocksize},{nframes})".format(v=v, **_flac_variant_params(v))
    for v in range(20)
)

ORACLE_SQL["q_flac_energy"] = f"""
    WITH params(variant, kind, blocksize, nframes) AS (VALUES {_FLAC_PARAMS}),
    samples AS (
      SELECT p.variant,
             CASE p.kind
               WHEN 0 THEN ((p.variant * 2471 + f.f * 977) % 4001) - 2000
               WHEN 1 THEN ((p.variant * 37
                             + (f.f * p.blocksize + i.i) * 101) % 4001) - 2000
               ELSE (((p.variant * 53 + f.f * 29) % 2001) - 1000)
                    + i.i * (((p.variant * 7 + f.f * 11) % 41) - 20)
             END AS x
      FROM params p,
           UNNEST(generate_series(0, p.nframes - 1)) AS f(f),
           UNNEST(generate_series(0, p.blocksize - 1)) AS i(i)),
    venergy AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(ABS(x)) AS BIGINT) AS e,
             CAST(MAX(ABS(x)) AS INT) AS m
      FROM samples GROUP BY variant),
    base AS (
      SELECT event_id, CAST(event_id % 20 AS INT) AS variant,
             (event_id % 17 = 0) OR (event_id % 13 = 0) AS refused
      FROM events)
    SELECT b.event_id AS clip_id,
           CAST(NOT b.refused AS INT) AS decoded_ok,
           CASE WHEN b.refused THEN 0 ELSE v.n END AS n_samples,
           CASE WHEN b.refused THEN 0 ELSE v.e END AS abs_energy,
           CASE WHEN b.refused THEN 0 ELSE v.m END AS max_abs
    FROM base b JOIN venergy v USING (variant)
    ORDER BY clip_id
"""

# same greedy earliest-per-step chain over exact integer micros
ORACLE_SQL["q_funnel"] = """
    WITH e AS (
      SELECT user_id, event_type AS ty, epoch_us(ts) AS u FROM events
    ),
    s1 AS (
      SELECT user_id, min(u) AS t_1 FROM e WHERE ty = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT s1.user_id, s1.t_1,
             min(CASE WHEN e.u > s1.t_1
                       AND e.u <= s1.t_1 + 86400000000 THEN e.u END) AS t_2
      FROM s1 LEFT JOIN e ON e.user_id = s1.user_id AND e.ty = 'click'
      GROUP BY 1, 2
    ),
    s3 AS (
      SELECT s2.user_id, s2.t_1, s2.t_2,
             min(CASE WHEN e.u > s2.t_2
                       AND e.u <= s2.t_1 + 86400000000 THEN e.u END) AS t_3
      FROM s2 LEFT JOIN e ON e.user_id = s2.user_id AND e.ty = 'purchase'
      GROUP BY 1, 2, 3
    )
    SELECT user_id, t_1, t_2, t_3,
           1 + CAST(t_2 IS NOT NULL AS INT) + CAST(t_3 IS NOT NULL AS INT)
             AS completed
    FROM s3 ORDER BY user_id
"""

# same blocking key, same <=500 block cap, same integer levenshtein
ORACLE_SQL["q_fuzzy_pairs"] = """
    WITH t AS (
      SELECT doc_id, substr(text, 1, 24) AS title FROM documents
      WHERE length(substr(text, 1, 24)) > 0
    ),
    k AS (
      SELECT doc_id, title,
             concat(substr(title, 1, 1), '|',
                    CAST(CAST(floor(length(title) / 4) AS BIGINT) AS VARCHAR))
               AS blk
      FROM t
    ),
    ok AS (SELECT blk FROM k GROUP BY blk HAVING count(*) <= 500),
    kk AS (SELECT k.* FROM k JOIN ok USING (blk))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.title, b.title) AS INT) AS dist
    FROM kk a JOIN kk b USING (blk)
    WHERE a.doc_id < b.doc_id AND levenshtein(a.title, b.title) <= 3
    ORDER BY id_a, id_b
"""

# same md5-prefix 5-gram keys, same <=200 hot-bucket cap, same
# shared/|grams(A)| ratio at 6 dp
ORACLE_SQL["q_containment_pairs"] = r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    dg AS (
      SELECT DISTINCT doc_id,
             substr(md5(unnest([array_to_string(w[i:i+4], ' ')
                                FOR i IN generate_series(1, greatest(len(w) - 4, 0))])),
                    1, 16) AS key
      FROM w
    ),
    sizes AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY 1),
    ok AS (SELECT key FROM dg GROUP BY key HAVING count(*) <= 200),
    k AS (SELECT dg.* FROM dg JOIN ok USING (key)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS sh
      FROM k a JOIN k b USING (key)
      WHERE a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(sh AS DOUBLE) / s.n_grams, 6) AS containment
    FROM shared JOIN sizes s ON s.doc_id = shared.id_a
    WHERE round(CAST(sh AS DOUBLE) / s.n_grams, 6) >= 0.8
    ORDER BY id_a, id_b
"""

# same n^0.3 temperature rates (6-dp rounded), same md5 bucket, same
# integer thresholds — membership verified row-exactly
ORACLE_SQL["q_temperature_mix"] = """
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS DOUBLE) AS total,
                 sum(pow(n, 0.3)) AS wsum FROM c),
    thr AS (
      SELECT source,
             CAST(floor(round(least(1.0,
               (0.5 * total) * (pow(n, 0.3) / wsum) / n), 6) * 1000000)
               AS BIGINT) AS thr
      FROM c CROSS JOIN t
    ),
    b AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                  AS BIGINT) % 1000000 AS bucket
      FROM documents
    )
    SELECT b.doc_id, b.source, b.bucket
    FROM b JOIN thr USING (source)
    WHERE b.bucket < thr.thr
    ORDER BY doc_id
"""

# identical Lucene-smoothed BM25 with exact-integer tf/df/dl/N and
# the same operator-for-operator double expression, rounded to 6 dp
# before ranking; the query workload is the same literal VALUES list
ORACLE_SQL["q_bm25_topk"] = r"""
    WITH qs(query_id, query_text) AS (
      VALUES ('q1', 'table scan'), ('q2', 'fast vector batch'),
             ('q3', 'customer order value')
    ),
    w AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                                x -> x <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1),
    dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    stats AS (
      SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n,
             CAST((SELECT sum(dl) FROM dl) AS DOUBLE)
               / CAST(count(DISTINCT doc_id) AS DOUBLE) AS avgdl
      FROM documents
    ),
    qt AS (
      SELECT DISTINCT query_id,
             unnest(list_filter(regexp_split_to_array(lower(query_text), '[ \t\n\x0b\f\r]+'),
                                x -> x <> '')) AS term
      FROM qs
    ),
    scored AS (
      SELECT qt.query_id, tf.doc_id,
             round(sum(
               ln((stats.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
               * tf.tf
               / (tf.tf + 1.2 * (1.0 - 0.75 + (0.75 * dl.dl) / stats.avgdl))
             ), 6) AS score
      FROM tf
      JOIN qt USING (term)
      JOIN dl USING (doc_id)
      JOIN dfr USING (term)
      CROSS JOIN stats
      GROUP BY 1, 2
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""

# identical integer chunk/pack math: n_chunks = floor((max(n-4,1)+11)
# / 12), slice bounds clamp the same way, running-sum ROWS frame over
# the unique (doc_id, chunk_idx) order
ORACLE_SQL["q_chunk_pack"] = r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS t
      FROM documents
    ),
    nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
    ch AS (
      SELECT doc_id, t, n,
             unnest(generate_series(
               0, CAST(floor((greatest(n - 4, 1) + 11) / 12.0) AS INT) - 1))
               AS chunk_idx
      FROM nz
    ),
    c2 AS (
      SELECT doc_id, chunk_idx,
             t[chunk_idx * 12 + 1 : chunk_idx * 12 + 16] AS ct
      FROM ch
    ),
    c3 AS (
      SELECT doc_id, chunk_idx, CAST(len(ct) AS INT) AS n_tokens,
             array_to_string(ct, ' ') AS chunk_text
      FROM c2
    ),
    p AS (
      SELECT *, sum(n_tokens) OVER (
        ORDER BY doc_id, chunk_idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM c3
    )
    SELECT doc_id, chunk_idx, n_tokens, chunk_text,
           CAST(floor((cum - n_tokens) / 64.0) AS INT) AS bin,
           CAST((cum - n_tokens) % 64 AS INT) AS bin_offset
    FROM p ORDER BY doc_id, chunk_idx
"""

# same char counts (empty tokens dropped on both sides) + the same
# -sum(p*log2 p) expression rounded to 6 dp
ORACLE_SQL["q_char_entropy"] = """
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    ),
    cc AS (
      SELECT doc_id, c, count(*) AS cnt FROM ch WHERE c <> '' GROUP BY 1, 2
    ),
    np AS (SELECT doc_id, sum(cnt) AS n_chars FROM cc GROUP BY 1),
    e AS (
      SELECT cc.doc_id, np.n_chars,
             round(-sum((CAST(cnt AS DOUBLE) / n_chars)
                        * log2(CAST(cnt AS DOUBLE) / n_chars)), 6)
               AS entropy_bits
      FROM cc JOIN np USING (doc_id) GROUP BY 1, 2
    )
    SELECT d.doc_id, CAST(coalesce(e.n_chars, 0) AS BIGINT) AS n_chars,
           coalesce(e.entropy_bits, 0.0) AS entropy_bits
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN e USING (doc_id)
    ORDER BY doc_id
"""

# salt-blind plain GROUP BY: salting must be invisible in the result
ORACLE_SQL["q_salted_agg"] = """
    SELECT event_type,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           count(*) AS n_events
    FROM events GROUP BY 1 ORDER BY 1
"""

# same preceding-hour RANGE frame over exact integer micros + cents:
# both engines sum identical integers (order-free), then the one
# fixed double expression for mean/var/z matches bit-for-bit
ORACLE_SQL["q_rolling_zscore"] = """
    WITH b AS (
      SELECT event_id, event_type, epoch_us(ts) AS t_us, value,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ),
    s AS (
      SELECT event_id, event_type, t_us, value, c,
             count(c) OVER w AS n_window,
             CAST(sum(c) OVER w AS DOUBLE) AS sm,
             CAST(sum(c * c) OVER w AS DOUBLE) AS ss
      FROM b
      WINDOW w AS (PARTITION BY event_type ORDER BY t_us
                   RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
    ),
    m AS (
      SELECT *, sm / n_window AS mean,
             ss / n_window - (sm / n_window) * (sm / n_window) AS var
      FROM s WHERE n_window > 0
      UNION ALL
      SELECT *, NULL, NULL FROM s WHERE n_window = 0
    )
    SELECT event_id, event_type, t_us, value, n_window,
           CASE WHEN n_window >= 5 AND var > 1e-9
                THEN round((c - mean) / sqrt(var), 6)
                ELSE 0.0 END AS z,
           CAST(CASE WHEN n_window >= 5 AND var > 1e-9
                     THEN abs(round((c - mean) / sqrt(var), 6)) > 3.0
                     ELSE FALSE END AS INT) AS anomaly
    FROM m ORDER BY event_id
"""

# same tokenization + sklearn smooth-idf formula recomputed natively;
# both engines round scores to 6 dp BEFORE ranking so last-ulp ln()
# differences can affect neither values nor order
ORACLE_SQL["q_tfidf_top_terms"] = r"""
    WITH w AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                                x -> x <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
    dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    scored AS (
      SELECT doc_id, term, tf, df,
             round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6) AS score
      FROM tf JOIN dfr USING (term) CROSS JOIN n
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 3 ORDER BY doc_id, rank
"""

# same lowercase/split/5-gram/md5-prefix normalization, benchmark =
# doc_id % 37 == 0, recomputed natively (list slice + comprehension)
ORACLE_SQL["q_decontaminate"] = r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    dg AS (
      SELECT DISTINCT doc_id,
             substr(md5(unnest([array_to_string(w[i:i+4], ' ')
                                FOR i IN generate_series(1, greatest(len(w) - 4, 0))])),
                    1, 16) AS key
      FROM w
    ),
    bg AS (SELECT DISTINCT key FROM dg WHERE doc_id % 37 = 0)
    SELECT doc_id, count(*) AS n_hits
    FROM dg JOIN bg USING (key)
    GROUP BY 1 ORDER BY 1
"""

# Bloom twin: same gram keys as the exact oracle, positions via
# md5-hex slices mod m, the all-distinct-positions membership test as
# a relational join — bit positions, FP behavior and flag counts all
# sit between the engines
ORACLE_SQL["q_bloom_decontaminate"] = r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    dg AS (
      SELECT DISTINCT doc_id,
             substr(md5(unnest([array_to_string(w[i:i+4], ' ')
                                FOR i IN generate_series(1, greatest(len(w) - 4, 0))])),
                    1, 16) AS key
      FROM w
    ),
    bg AS (SELECT DISTINCT key FROM dg WHERE doc_id % 37 = 0),
    bpos AS (
      SELECT DISTINCT
             CAST(CAST(('0x' || substr(md5(key), 1 + 5 * t.i, 5)) AS BIGINT)
                  % 65536 AS INT) AS pos
      FROM bg, unnest([0, 1, 2]) AS t(i)
    ),
    dpos AS (
      SELECT DISTINCT doc_id, key,
             CAST(CAST(('0x' || substr(md5(key), 1 + 5 * t.i, 5)) AS BIGINT)
                  % 65536 AS INT) AS pos
      FROM dg, unnest([0, 1, 2]) AS t(i)
    ),
    dn AS (SELECT doc_id, key, count(*) AS npos FROM dpos GROUP BY 1, 2),
    hits AS (
      SELECT d.doc_id, d.key, count(*) AS h
      FROM dpos d JOIN bpos USING (pos) GROUP BY 1, 2
    ),
    fl AS (
      SELECT h.doc_id FROM hits h
      JOIN dn ON dn.doc_id = h.doc_id AND dn.key = h.key
      WHERE h.h = dn.npos
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged_grams
    FROM fl GROUP BY 1 ORDER BY 1
"""

# same 2-word pseudo-line rewrite, then the Gopher repetition math
# recomputed natively: line counts via unnest(string_split), 2-gram
# counts via a list comprehension — integer sums on both engines, so
# the final double divisions are bit-identical
ORACLE_SQL["q_repetition_filter"] = r"""
    WITH derived AS (
      SELECT doc_id,
             regexp_replace(text, '(\S+ \S+) ', '\1' || chr(10), 'g') AS text
      FROM documents
    ),
    lines AS (
      SELECT doc_id, trim(x) AS line
      FROM derived, unnest(string_split(text, chr(10))) AS u(x)
      WHERE trim(x) <> ''
    ),
    lc AS (SELECT doc_id, line, count(*) AS cnt FROM lines GROUP BY 1, 2),
    lagg AS (
      SELECT doc_id, sum(cnt) AS n_lines, sum(cnt - 1) AS n_dup,
             sum((cnt - 1) * length(line)) AS dup_chars,
             sum(cnt * length(line)) AS line_chars
      FROM lc GROUP BY 1
    ),
    words AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
      FROM derived
    ),
    grams AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i + 1]
                     FOR i IN generate_series(1, greatest(len(w) - 1, 0))]) AS g
      FROM words
    ),
    gc AS (SELECT doc_id, g, count(*) AS cnt FROM grams GROUP BY 1, 2),
    gagg AS (SELECT doc_id, max(cnt * length(g)) AS top_gram_chars FROM gc GROUP BY 1),
    feat AS (
      SELECT b.doc_id,
             CAST(coalesce(l.n_lines, 0) AS BIGINT) AS n_lines,
             CASE WHEN coalesce(l.n_lines, 0) = 0 THEN 0.0
                  ELSE CAST(l.n_dup AS DOUBLE) / l.n_lines END AS dup_line_frac,
             CASE WHEN coalesce(l.line_chars, 0) = 0 THEN 0.0
                  ELSE CAST(l.dup_chars AS DOUBLE) / l.line_chars END AS dup_line_char_frac,
             CASE WHEN coalesce(g.top_gram_chars, 0) = 0 OR length(b.text) = 0 THEN 0.0
                  ELSE CAST(g.top_gram_chars AS DOUBLE) / length(b.text) END AS top_2gram_char_frac
      FROM derived b
      LEFT JOIN lagg l USING (doc_id)
      LEFT JOIN gagg g USING (doc_id)
    )
    SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac, top_2gram_char_frac,
           CAST(dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
                AND top_2gram_char_frac <= 0.20 AS INT) AS rep_keep
    FROM feat ORDER BY doc_id
"""

ORACLE_SQL["q_simhash"] = _simhash_oracle_sql()
ORACLE_SQL["q_simhash_neardup"] = _simhash_neardup_oracle_sql()
ORACLE_SQL["q_minhash_jaccard"] = _minhash_jaccard_oracle_sql()
ORACLE_SQL["q_cosine_neardup"] = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE vec_id < 500)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
    FROM e a CROSS JOIN e b
    WHERE a.vec_id < b.vec_id
      AND round(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.30
    ORDER BY id_a, id_b
"""
ORACLE_SQL["q_rolling_fingerprint"] = r"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 string_split(lower(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', ' ', 'g')), ' '),
                 x -> CAST(concat('0x', substr(md5(x), 1, 12)) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 2147483648) AS rolling_fp
    FROM documents ORDER BY doc_id
"""


# ---- calibration-chain oracles ----

_VOTES_CORE_SQL = """
  votes AS (
    SELECT CAST(user_id % 50 AS INT) AS clip_id,
           CAST(event_id % 7 AS INT) AS epoch,
           CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS flagged,
           CAST((event_id % 11) % 6 AS INT) AS suggested
    FROM events),
  vscores AS (
    SELECT DISTINCT clip_id, CAST(clip_id % 6 AS INT) AS raw_score FROM votes),
  agg AS (
    SELECT clip_id, count(*) AS times, CAST(sum(flagged) AS BIGINT) AS n_flagged,
           {csum}
    FROM votes GROUP BY clip_id),
  j AS (
    SELECT a.*, s.raw_score, (c0+c1+c2+c3+c4+c5) AS tot
    FROM agg a JOIN vscores s USING (clip_id)),
  p AS (
    SELECT *, {probs}, {masked} FROM j),
  g AS (
    SELECT *, greatest(m0,m1,m2,m3,m4,m5) AS gm FROM p),
  r AS (
    SELECT *,
           CAST(CASE WHEN m0=gm THEN 0 WHEN m1=gm THEN 1 WHEN m2=gm THEN 2
                     WHEN m3=gm THEN 3 WHEN m4=gm THEN 4 ELSE 5 END AS INT)
             AS suggested_score,
           (n_flagged + 1.0) / (times + 2.0) AS noisy_avg_raw
    FROM g),
  vfinal AS (
    SELECT *,
           CASE suggested_score WHEN 0 THEN p0 WHEN 1 THEN p1 WHEN 2 THEN p2
                WHEN 3 THEN p3 WHEN 4 THEN p4 ELSE p5 END AS confidence_raw
    FROM r)
""".format(
    csum=", ".join(
        f"sum(CASE WHEN suggested={c} THEN 1 ELSE 0 END) AS c{c}" for c in range(6)
    ),
    probs=", ".join(f"(c{c}+1.0)/(tot+6.0) AS p{c}" for c in range(6)),
    masked=", ".join(
        f"CASE WHEN raw_score={c} THEN -1.0 ELSE (c{c}+1.0)/(tot+6.0) END AS m{c}"
        for c in range(6)
    ),
)

ORACLE_SQL["q_votes_agg"] = f"""
    WITH {_VOTES_CORE_SQL}
    SELECT clip_id, raw_score, times, n_flagged,
           round(noisy_avg_raw, 6) AS noisy_avg,
           suggested_score,
           round(confidence_raw, 6) AS confidence
    FROM vfinal ORDER BY clip_id
"""

ORACLE_SQL["q_curation"] = f"""
    WITH {_VOTES_CORE_SQL}
    SELECT clip_id, raw_score, suggested_score,
           CAST(noisy_avg_raw > 0.5 AS INT) AS is_corrupted,
           CAST(noisy_avg_raw > 0.5 AND confidence_raw >= 0.5 AS INT) AS is_curated,
           CAST(CASE WHEN noisy_avg_raw > 0.5 AND confidence_raw >= 0.5
                THEN suggested_score ELSE raw_score END AS INT) AS final_score
    FROM vfinal ORDER BY clip_id
"""

ORACLE_SQL["q_select_subset"] = f"""
    WITH scored AS (
      SELECT event_id AS clip_id,
             CAST(event_id % 6 AS INT) AS final_score,
             round((event_id % 97) / 97.0, 4) AS lt_score
      FROM events),
    sizes AS (
      SELECT final_score, count(*) AS n FROM scored GROUP BY final_score),
    takes AS (
      SELECT final_score,
             CAST(least(n, greatest({SELECT_BUDGET} - coalesce(
               sum(n) OVER (ORDER BY final_score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0
             ), 0)) AS INT) AS bucket_take
      FROM sizes),
    ranked AS (
      SELECT s.*, CAST(row_number() OVER (
               PARTITION BY s.final_score
               ORDER BY s.lt_score DESC, s.clip_id ASC) AS INT) AS sel_rank
      FROM scored s)
    SELECT r.clip_id, r.final_score, r.lt_score, r.sel_rank,
           CAST(r.sel_rank <= t.bucket_take AS INT) AS selected
    FROM ranked r JOIN takes t USING (final_score)
    ORDER BY clip_id
"""

ORACLE_SQL["q_lt_score"] = """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id < 300),
    pairs AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid,
             CAST(round(round(1.0 - list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
               6) * 1e6) AS BIGINT) AS d6
      FROM e a CROSS JOIN e b WHERE a.vec_id != b.vec_id),
    knn AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d6 ASC, nid ASC) AS rk
        FROM pairs
      ) WHERE rk <= 10)
    SELECT qid, round(2.0 / (1.0 + exp(-(sum(d6) / (count(*) * 1e6)))) - 1.0, 4)
             AS lt_score
    FROM knn GROUP BY qid ORDER BY qid
"""

ORACLE_SQL["q_consensus_counts"] = """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id < 300),
    pairs AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid,
             round(1.0 - list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
               6) AS d
      FROM e a CROSS JOIN e b WHERE a.vec_id != b.vec_id),
    nn2 AS (
      SELECT qid,
             max(CASE WHEN rk = 1 THEN nid END) AS n1,
             max(CASE WHEN rk = 2 THEN nid END) AS n2
      FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d ASC, nid ASC) AS rk
        FROM pairs
      ) WHERE rk <= 2 GROUP BY qid)
    SELECT CAST(qid % 6 AS INT) AS y0, CAST(n1 % 6 AS INT) AS y1,
           CAST(n2 % 6 AS INT) AS y2, count(*) AS cnt
    FROM nn2 GROUP BY 1, 2, 3 ORDER BY y0, y1, y2
"""

ORACLE_SQL["q_audio_sanity"] = """
    WITH synth AS (
      SELECT event_id,
             CAST(event_id % 50 + 1 AS INT) AS n,
             CASE WHEN event_id % 5 = 0 THEN 3 ELSE 2 END
               * CAST(event_id % 50 + 1 AS INT) AS blen,
             CASE WHEN event_id % 3 = 0 THEN 3001
                  WHEN event_id % 3 = 1 THEN 7001 ELSE 11003 END AS sr_hz,
             CASE WHEN event_id % 4 = 0 THEN 'pcm_s16le'
                  WHEN event_id % 4 = 1 THEN 'flac'
                  WHEN event_id % 4 = 2 THEN 'opus' ELSE 'wav9' END AS codec
      FROM events),
    derived AS (
      SELECT event_id, codec, blen, sr_hz,
             CAST(round(blen / 2 * 1000.0 / greatest(sr_hz, 1)) AS INT)
               AS dur_actual_ms,
             (codec IN ('pcm_s16le', 'flac', 'opus', 'mp3'))
               AND blen >= 2 AND blen % 2 = 0 AS pcm_ok
      FROM synth),
    stored AS (
      SELECT *, CAST(dur_actual_ms
               + CASE WHEN event_id % 7 = 0 THEN 1000 ELSE 0 END AS INT) AS dur_ms
      FROM derived)
    SELECT event_id AS clip_id,
           CAST(pcm_ok AS INT) AS pcm_ok,
           dur_actual_ms,
           CAST(pcm_ok AND abs(dur_ms - dur_actual_ms)
                / greatest(dur_actual_ms, 1) <= 0.10 AS INT) AS dur_ok
    FROM stored ORDER BY clip_id
"""


def _flagship_oracle_sql(sf_dir: str | None = None) -> str:
    """Exact DuckDB oracle for the flagship keep/drop plan.

    The langid/ppl stages are deterministic NumPy kernels
    (functions/textkernels.py) — their scores for the oracle-gate
    documents are evaluated DRIVER-SIDE here and emitted as a literal
    VALUES table (the same determinism trick as the quantized LSH
    planes / IVF centroids), so the full plan — quality features,
    scrub, keep logic, and the worker-side UDF outputs themselves —
    becomes rows+schema+hash checkable instead of rows-only. A
    worker/driver divergence (e.g. salted-hash seeds) would surface
    as a hash mismatch. Pinned to the driver's oracle gate SF
    (sf0.01; override with DS2_ORACLE_SF_DIR)."""
    import os

    import pyarrow.parquet as pq

    from .functions import textkernels as tk

    sf_dir = sf_dir or os.environ.get("DS2_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    ids = tbl.column("doc_id").to_pylist()
    texts = [t or "" for t in tbl.column("text").to_pylist()]
    idx, margin, _top = tk.langid_scores(texts)
    ppl = tk.perplexities(texts)
    _, langs = tk.langid_model()
    rows = ",\n          ".join(
        f"({int(i)}, '{langs[idx[j]]}', {float(margin[j])!r}, {float(ppl[j])!r})"
        for j, i in enumerate(ids)
    )
    # SF-binding guard (VERDICT r4 item 4): the literal VALUES table
    # below is only valid for the documents slice it was generated
    # from. If the attached `documents` view is a DIFFERENT slice
    # (another SF), fail LOUDLY via DuckDB error() instead of
    # hash-mismatching mysteriously — checked on row count and total
    # text length, both cheap and SF-discriminating.
    n_docs = len(ids)
    text_len_sum = sum(len(t) for t in texts)
    return rf"""
        WITH m(doc_id, lang_pred, margin_raw, ppl_raw) AS (VALUES
          {rows}
        ),
        _guard AS (
          SELECT CASE
            WHEN (SELECT count(*) FROM documents) = {n_docs}
             AND (SELECT sum(length(coalesce(text, ''))) FROM documents)
                 = {text_len_sum}
            THEN 1
            ELSE error('flagship oracle literals were generated for a '
                       'documents slice with {n_docs} rows / '
                       '{text_len_sum} total chars ({sf_dir}); the '
                       'attached documents table differs — set '
                       'DS2_ORACLE_SF_DIR to the SF under test')
          END AS ok
        ),
        t AS (
          -- the WHERE forces _guard.ok's CASE to evaluate (an
          -- unreferenced projected column would be pruned away and
          -- the error() would never fire)
          SELECT doc_id, text, trim(coalesce(text, '')) AS tr
          FROM documents CROSS JOIN _guard WHERE _guard.ok = 1
        )
        SELECT t.doc_id,
               length(tr) AS n_chars,
               len(list_filter(regexp_split_to_array(tr, '[ \t\n\x0b\f\r]+'),
                               x -> x <> '')) AS n_tokens,
               m.lang_pred,
               round(CAST(m.margin_raw AS DOUBLE), 4) AS lang_margin,
               round(CAST(m.ppl_raw AS DOUBLE), 4) AS ppl,
               {scrub_sql('t.text')} AS transcript_scrubbed,
               (length(tr) >= 2
                AND CAST(m.margin_raw AS DOUBLE) >= 0.2
                AND CAST(m.ppl_raw AS DOUBLE) <= 40.0) AS keep
        FROM t JOIN m USING (doc_id)
    """


# rebuilds the three closed-form rating columns, then recomputes the
# pairwise confusion, marginals, po and kappa natively; po/kappa are
# each one IEEE division of two exact integers so the doubles are
# bit-identical (NOTES.md #49)
ORACLE_SQL["q_rater_agreement"] = """
    WITH base AS (SELECT event_id, event_id % 5 + 1 AS b FROM events),
    r AS (
      SELECT event_id AS clip_id, 'llm_a' AS rater, b AS label FROM base
      UNION ALL
      SELECT event_id, 'llm_b',
             CASE WHEN event_id % 7 = 0 THEN b % 5 + 1 ELSE b END FROM base
      UNION ALL
      SELECT event_id, 'llm_c',
             CASE WHEN event_id % 3 = 0 THEN (b + 1) % 5 + 1 ELSE b END
      FROM base
    ),
    j AS (SELECT x.rater AS rater_a, y.rater AS rater_b,
                 x.label AS la, y.label AS lb
          FROM r x JOIN r y
            ON x.clip_id = y.clip_id AND x.rater < y.rater),
    conf AS (SELECT rater_a, rater_b, la, lb, count(*) AS c
             FROM j GROUP BY 1, 2, 3, 4),
    rm AS (SELECT rater_a, rater_b, la, CAST(sum(c) AS BIGINT) AS row_c
           FROM conf GROUP BY 1, 2, 3),
    cm AS (SELECT rater_a, rater_b, lb, CAST(sum(c) AS BIGINT) AS col_c
           FROM conf GROUP BY 1, 2, 3),
    pe AS (SELECT rm.rater_a, rm.rater_b,
                  CAST(sum(row_c * col_c) AS BIGINT) AS pe_num
           FROM rm JOIN cm ON rm.rater_a = cm.rater_a
                          AND rm.rater_b = cm.rater_b AND rm.la = cm.lb
           GROUP BY 1, 2),
    tot AS (SELECT rater_a, rater_b, CAST(sum(c) AS BIGINT) AS n_items,
                   CAST(sum(CASE WHEN la = lb THEN c ELSE 0 END) AS BIGINT)
                     AS n_agree
            FROM conf GROUP BY 1, 2)
    SELECT t.rater_a, t.rater_b, t.n_items, t.n_agree,
           coalesce(p.pe_num, 0) AS pe_num,
           t.n_agree / t.n_items AS po,
           CASE WHEN t.n_items * t.n_items - coalesce(p.pe_num, 0) <> 0
                THEN (t.n_agree * t.n_items - coalesce(p.pe_num, 0))
                     / (t.n_items * t.n_items - coalesce(p.pe_num, 0))
           END AS kappa
    FROM tot t LEFT JOIN pe p
      ON t.rater_a = p.rater_a AND t.rater_b = p.rater_b
    ORDER BY t.rater_a, t.rater_b
"""

# re-derives the per-frame-constant fingerprints from the synthesis
# formula (frame energy = 8*abs(c)), the md5 transcript hashes, and
# both consistency groupings natively
ORACLE_SQL["q_crossmodal_dup"] = """
    WITH t AS (SELECT event_id, event_id % 211 AS g, event_id // 211 AS var,
                      61 + (event_id % 211) % 3 AS nf
               FROM events),
    u AS (SELECT event_id, g, nf, unnest(range(0, nf)) AS lf FROM t),
    e AS (SELECT event_id, lf,
                 8 * abs((((g*8191+lf)*(g*8191+lf)) % 2147483648 * 31
                          + g*8191+lf) % 2147483648 % 201 - 100) AS energy
          FROM u),
    b AS (SELECT event_id, lf,
                 CASE WHEN energy > lag(energy) OVER (
                        PARTITION BY event_id ORDER BY lf)
                      THEN 1 ELSE 0 END AS bit
          FROM e),
    fp0 AS (SELECT event_id,
                   CAST(coalesce(sum(CASE WHEN lf BETWEEN 1 AND 60
                          THEN bit * (CAST(1 AS BIGINT) << CAST(lf - 1 AS INT))
                          END), 0) AS BIGINT) AS fp
            FROM b GROUP BY 1),
    r AS (SELECT t.event_id AS clip_id,
                 CASE WHEN t.event_id % 11 = 0 THEN NULL ELSE fp0.fp END AS fp,
                 CASE WHEN t.event_id % 13 = 0 THEN NULL
                      ELSE md5('utt ' || (t.g % 97) ||
                               CASE WHEN t.var % 3 = 1 THEN ' alt' ELSE '' END)
                 END AS t_hash
          FROM t JOIN fp0 ON fp0.event_id = t.event_id),
    af AS (SELECT fp, CAST(count(*) AS BIGINT) AS audio_dup_count,
                  CAST(count(DISTINCT t_hash) AS BIGINT) AS n_transcripts
           FROM r WHERE fp IS NOT NULL GROUP BY 1),
    tx AS (SELECT t_hash, CAST(count(*) AS BIGINT) AS text_dup_count,
                  CAST(count(DISTINCT fp) AS BIGINT) AS n_audio
           FROM r WHERE t_hash IS NOT NULL GROUP BY 1)
    SELECT r.clip_id, r.fp, r.t_hash,
           coalesce(af.audio_dup_count, 0) AS audio_dup_count,
           coalesce(af.n_transcripts, 0) AS n_transcripts,
           CAST(coalesce(af.n_transcripts, 0) > 1 AS INT)
             AS transcript_conflict,
           coalesce(tx.text_dup_count, 0) AS text_dup_count,
           coalesce(tx.n_audio, 0) AS n_audio,
           CAST(coalesce(tx.n_audio, 0) > 1 AS INT) AS audio_variant
    FROM r
    LEFT JOIN af ON af.fp = r.fp
    LEFT JOIN tx ON tx.t_hash = r.t_hash
    ORDER BY clip_id
"""

# quality-aware keep-one twin: recursive-CTE reachability (same
# independent fixpoint as q_dedup_clusters) + the identical
# highest-quality/lowest-id row_number selection
ORACLE_SQL["q_dedup_keep_best"] = f"""
    WITH RECURSIVE pairs AS (
      {_simhash_neardup_oracle_sql(ordered=False)}
    ),
    e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.id
    ),
    comp AS (SELECT id AS doc_id, min(lab) AS comp FROM reach GROUP BY 1),
    ranked AS (
      SELECT c.doc_id, c.comp, d.n_chars AS quality,
             count(*) OVER (PARTITION BY c.comp) AS cluster_size,
             row_number() OVER (PARTITION BY c.comp
                                ORDER BY d.n_chars DESC, c.doc_id)
               AS q_rank
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
    SELECT doc_id, comp, CAST(cluster_size AS BIGINT) AS cluster_size,
           quality, CAST(q_rank AS INT) AS q_rank,
           CAST(q_rank = 1 AS INT) AS kept
    FROM ranked ORDER BY doc_id
"""


def _pq_oracle_sql(rerank: bool = False, topk: int = 3) -> str:
    """PQ twin: the codebooks as a 1024-row VALUES relation (the
    literal-side-input pattern: LSH planes / IVF centroids / FLAC
    bitstreams), encode as a grouped integer distance + row_number
    argmin, ADC as an (m, c) join summed per pair — all int64-exact.
    With rerank: ADC top-10 shortlist, exact integer squared distance
    via three dot products (each sum <= ~2^31, exact in float64), and
    the re-ranked top-3."""
    books = _pq_contract_codebooks()
    m, k, dsub = books.shape
    rows = ", ".join(
        f"({mi}, {c}, {d}, {int(books[mi, c, d])})"
        for mi in range(m)
        for c in range(k)
        for d in range(dsub)
    )
    prefix = f"""
        WITH cb(m, c, d, v) AS (VALUES {rows}),
        e AS (SELECT vec_id,
                     list_transform(CAST(embedding AS DOUBLE[]),
                       x -> floor(x * {_LSH_SCALE} + 0.5)) AS q
              FROM embeddings),
        dist AS (
          SELECT e.vec_id, cb.m, cb.c,
                 CAST(sum((q[cb.m * {dsub} + cb.d + 1] - cb.v)
                     * (q[cb.m * {dsub} + cb.d + 1] - cb.v)) AS BIGINT) AS d2
          FROM e CROSS JOIN cb
          GROUP BY 1, 2, 3),
        codes AS (
          SELECT vec_id, m, c FROM (
            SELECT vec_id, m, c,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY d2 ASC, c ASC) AS rk
            FROM dist WHERE vec_id >= 5)
          WHERE rk = 1),
        lut AS (SELECT vec_id, m, c, d2 FROM dist WHERE vec_id < 5),
        adc AS (
          SELECT l.vec_id AS query_id, cd.vec_id AS neighbor_id,
                 CAST(sum(l.d2) AS BIGINT) AS adc_dist
          FROM codes cd JOIN lut l ON l.m = cd.m AND l.c = cd.c
          GROUP BY 1, 2)"""
    if not rerank:
        return prefix + f""",
        ranked AS (
          SELECT query_id, neighbor_id, adc_dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist ASC, neighbor_id ASC)
                   AS rk
          FROM adc)
        SELECT query_id, neighbor_id, adc_dist, CAST(rk AS INT) AS rk
        FROM ranked WHERE rk <= {topk} ORDER BY query_id, rk
    """
    return prefix + """,
        short AS (
          SELECT query_id, neighbor_id, adc_dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist ASC, neighbor_id ASC)
                   AS ark
          FROM adc),
        ex AS (
          SELECT s.query_id, s.neighbor_id, s.adc_dist,
                 CAST(list_dot_product(a.q, a.q)
                      - 2 * list_dot_product(a.q, b.q)
                      + list_dot_product(b.q, b.q) AS BIGINT) AS exact_dist
          FROM short s
          JOIN e a ON a.vec_id = s.query_id
          JOIN e b ON b.vec_id = s.neighbor_id
          WHERE s.ark <= 10),
        ranked AS (
          SELECT query_id, neighbor_id, adc_dist, exact_dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY exact_dist ASC, neighbor_id ASC)
                   AS rk
          FROM ex)
        SELECT query_id, neighbor_id, adc_dist, exact_dist,
               CAST(rk AS INT) AS rk
        FROM ranked WHERE rk <= 3 ORDER BY query_id, rk
    """


ORACLE_SQL["q_pq_topk"] = _pq_oracle_sql()
ORACLE_SQL["q_pq_incremental"] = _pq_oracle_sql(topk=4)
ORACLE_SQL["q_pq_rerank"] = _pq_oracle_sql(rerank=True)


def _ivfpq_oracle_sql() -> str:
    """IVF-PQ twin: coarse centroids (512-row VALUES) + codebooks
    (1024-row VALUES); cell assignment, residual encode, per-probed-
    cell LUT, and ADC all replayed as grouped integer arithmetic with
    row_number argmins — every tie broken by the same total order the
    NumPy kernels use."""
    cents = _ivfpq_contract_centroids()
    books = _ivfpq_contract_codebooks()
    m, k, dsub = books.shape
    cc_rows = ", ".join(
        f"({c}, {d}, {int(cents[c, d])})"
        for c in range(cents.shape[0])
        for d in range(cents.shape[1])
    )
    cb_rows = ", ".join(
        f"({mi}, {c}, {d}, {int(books[mi, c, d])})"
        for mi in range(m)
        for c in range(k)
        for d in range(dsub)
    )
    resid = f"((q[cb.m * {dsub} + cb.d + 1] - cc.v) - cb.v)"
    return f"""
        WITH cc(c, d, v) AS (VALUES {cc_rows}),
        cb(m, c, d, v) AS (VALUES {cb_rows}),
        e AS (SELECT vec_id,
                     list_transform(CAST(embedding AS DOUBLE[]),
                       x -> floor(x * {_LSH_SCALE} + 0.5)) AS q
              FROM embeddings),
        celld AS (
          SELECT e.vec_id, cc.c,
                 CAST(sum((q[cc.d + 1] - cc.v) * (q[cc.d + 1] - cc.v))
                      AS BIGINT) AS d2
          FROM e CROSS JOIN cc GROUP BY 1, 2),
        ccell AS (
          SELECT vec_id, c AS cell FROM (
            SELECT vec_id, c, row_number() OVER (
                     PARTITION BY vec_id ORDER BY d2 ASC, c ASC) AS rk
            FROM celld WHERE vec_id >= 5) WHERE rk = 1),
        qcell AS (
          SELECT vec_id, c AS cell FROM (
            SELECT vec_id, c, row_number() OVER (
                     PARTITION BY vec_id ORDER BY d2 ASC, c ASC) AS rk
            FROM celld WHERE vec_id < 5) WHERE rk <= {_IVFPQ_NPROBE}),
        crd AS (
          SELECT e.vec_id, cb.m, cb.c,
                 CAST(sum({resid} * {resid}) AS BIGINT) AS d2
          FROM e
          JOIN ccell ON ccell.vec_id = e.vec_id
          CROSS JOIN cb
          JOIN cc ON cc.c = ccell.cell AND cc.d = cb.m * {dsub} + cb.d
          GROUP BY 1, 2, 3),
        codes AS (
          SELECT vec_id, m, c FROM (
            SELECT vec_id, m, c, row_number() OVER (
                     PARTITION BY vec_id, m ORDER BY d2 ASC, c ASC) AS rk
            FROM crd) WHERE rk = 1),
        qrd AS (
          SELECT e.vec_id, qcell.cell, cb.m, cb.c,
                 CAST(sum({resid} * {resid}) AS BIGINT) AS d2
          FROM e
          JOIN qcell ON qcell.vec_id = e.vec_id
          CROSS JOIN cb
          JOIN cc ON cc.c = qcell.cell AND cc.d = cb.m * {dsub} + cb.d
          GROUP BY 1, 2, 3, 4),
        adc AS (
          SELECT l.vec_id AS query_id, x.vec_id AS neighbor_id,
                 CAST(sum(l.d2) AS BIGINT) AS adc_dist
          FROM codes cd
          JOIN ccell x ON x.vec_id = cd.vec_id
          JOIN qrd l ON l.cell = x.cell AND l.m = cd.m AND l.c = cd.c
          GROUP BY 1, 2),
        ranked AS (
          SELECT query_id, neighbor_id, adc_dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist ASC, neighbor_id ASC)
                   AS rk
          FROM adc)
        SELECT query_id, neighbor_id, adc_dist, CAST(rk AS INT) AS rk
        FROM ranked WHERE rk <= 3 ORDER BY query_id, rk
    """


ORACLE_SQL["q_ivfpq_topk"] = _ivfpq_oracle_sql()

# replays the manifest synthesis and the per-partition greedy binning
# (window cumsum + truncating integer division — values nonnegative,
# so DuckDB's // equals Spark's div)
ORACLE_SQL["q_compaction_plan"] = """
    WITH manifest AS (
      SELECT event_type AS pt, event_id AS file_id,
             ((event_id * 7919) % 1000) * 131072 + 4096 AS size_bytes
      FROM events
    ),
    eligible AS (
      SELECT * FROM manifest WHERE size_bytes < 33554432
    ),
    binned AS (
      SELECT pt, file_id, size_bytes,
             (sum(size_bytes) OVER (PARTITION BY pt ORDER BY file_id
                                    ROWS UNBOUNDED PRECEDING)
              - size_bytes) // 33554432 AS grp
      FROM eligible
    )
    SELECT pt, file_id, CAST(size_bytes AS BIGINT) AS size_bytes,
           CAST(grp AS BIGINT) AS grp,
           count(*) OVER (PARTITION BY pt, grp) AS group_files,
           CAST(sum(size_bytes) OVER (PARTITION BY pt, grp) AS BIGINT)
             AS group_bytes
    FROM binned ORDER BY pt, file_id
"""

# Exact substring-span dedup: same key/ownership/merge/rewrite
# semantics as operators/spandedup.py, re-derived in SQL windows.
# Touching intervals (s = run_max + 1) merge — the removal set is
# identical either way but n_spans must agree between engines.
def _span_dedup_ctes(src: str = "documents") -> str:
    """Span-dedup CTE chain (sd_*-prefixed) over `src` (must expose
    doc_id, text), ending in sd_w / sd_per_doc / sd_kept — shared by
    ORACLE_SQL["q_span_dedup"] and the q_corpus_build capstone so the
    two replays cannot drift."""
    return f"""
    sd_w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')
               AS w
      FROM {src}
    ),
    sd_g AS (
      SELECT doc_id, i AS pos,
             substring(md5(array_to_string(w[i:i+7], ' ')), 1, 16) AS key
      FROM sd_w, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS u(i)
    ),
    sd_dup AS (
      SELECT key, min(doc_id) AS owner
      FROM sd_g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
    ),
    sd_marked AS (
      SELECT sd_g.doc_id, sd_g.pos AS s, sd_g.pos + 7 AS e
      FROM sd_g JOIN sd_dup USING (key) WHERE sd_g.doc_id <> sd_dup.owner
    ),
    sd_brk AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                      PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM sd_marked
    ),
    sd_isl AS (
      SELECT doc_id, s, e,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS UNBOUNDED PRECEDING) AS iid
      FROM sd_brk
    ),
    sd_spans AS (
      SELECT doc_id, iid, min(s) AS s, max(e) AS e
      FROM sd_isl GROUP BY 1, 2
    ),
    sd_per_doc AS (
      SELECT doc_id, count(*) AS n_spans,
             sum(e - s + 1) AS tokens_removed
      FROM sd_spans GROUP BY 1
    ),
    sd_removed AS (
      SELECT DISTINCT doc_id, u.p
      FROM sd_spans, unnest(generate_series(s, e)) AS u(p)
    ),
    sd_tok AS (
      SELECT sd_w.doc_id, u.p, sd_w.w[u.p] AS tok
      FROM sd_w,
           unnest(generate_series(1, greatest(len(sd_w.w), 0))) AS u(p)
    ),
    sd_kept AS (
      SELECT t.doc_id,
             string_agg(t.tok, ' ' ORDER BY t.p) AS dedup_text
      FROM sd_tok t
      LEFT JOIN sd_removed r ON t.doc_id = r.doc_id AND t.p = r.p
      WHERE r.p IS NULL
      GROUP BY 1
    )"""


ORACLE_SQL["q_span_dedup"] = (
    "WITH " + _span_dedup_ctes("documents") + """
    SELECT sd_w.doc_id,
           CAST(len(sd_w.w) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(p.tokens_removed, 0) AS BIGINT) AS tokens_removed,
           -- NULL text passes through as NULL (the engine's hostile-
           -- input policy); '' is reserved for fully-removed docs
           CASE WHEN sd_w.w IS NULL THEN NULL
                ELSE coalesce(k.dedup_text, '') END AS dedup_text
    FROM sd_w
    LEFT JOIN sd_per_doc p USING (doc_id)
    LEFT JOIN sd_kept k USING (doc_id)
    ORDER BY sd_w.doc_id
"""
)


# BPE training replay: n unrolled rounds. Round j derives symbol
# lists from the BRACKETED encoding (chr(30) START marker + chr(31)
# END marker around every symbol — the start marker pins replace()
# matches to symbol boundaries; see operators/bpe.py module
# docstring) of round j-1, counts OVERLAPPING adjacent pairs weighted
# by word frequency, picks the (count DESC, lhs, rhs) argmax, and
# applies it with replace() — whose resume-after-replacement scan is
# exactly the engine's left-to-right non-overlapping merge pass.
# If pair counts run dry before round n (degenerate corpus), b{j} is
# empty and the CASE guard carries w{j-1} forward unchanged instead
# of NULLing every encoding through a NULL replace pattern.
def _bpe_train_ctes(n: int, src: str = "documents") -> str:
    parts = [
        f"""
    tw AS MATERIALIZED (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'),
                                      x -> x <> '')) AS word
            FROM {src})
      GROUP BY 1 ORDER BY cnt DESC, word LIMIT 500
    ),
    w0 AS MATERIALIZED (
      SELECT word, cnt,
             regexp_replace(word, '(.)', chr(30) || '\\1' || chr(31), 'g')
               AS enc
      FROM tw
    )"""
    ]
    for j in range(1, n + 1):
        parts.append(f"""
    p{j} AS MATERIALIZED (
      SELECT s.ls[u.i] AS lhs, s.ls[u.i + 1] AS rhs, sum(s.cnt) AS c
      FROM (SELECT cnt,
                   list_filter(string_split(replace(enc, chr(30), ''),
                                            chr(31)), x -> x <> '')
                     AS ls
            FROM w{j - 1}) s,
           unnest(generate_series(1, greatest(len(s.ls) - 1, 0))) AS u(i)
      GROUP BY 1, 2
    ),
    b{j} AS MATERIALIZED (SELECT lhs, rhs, c FROM p{j} ORDER BY c DESC, lhs, rhs LIMIT 1),
    w{j} AS MATERIALIZED (
      SELECT word, cnt,
             CASE WHEN (SELECT count(*) FROM b{j}) = 0 THEN enc
                  ELSE replace(enc,
                       chr(30) || (SELECT lhs FROM b{j}) || chr(31) ||
                       chr(30) || (SELECT rhs FROM b{j}) || chr(31),
                       chr(30) || (SELECT lhs FROM b{j}) ||
                       (SELECT rhs FROM b{j}) || chr(31))
             END AS enc
      FROM w{j - 1}
    )""")
    return ",".join(parts)


def _bpe_train_oracle_sql(n: int) -> str:
    union = "\n      UNION ALL ".join(
        f"SELECT {j} AS merge_rank, lhs, rhs, CAST(c AS BIGINT) "
        f"AS pair_count FROM b{j}"
        for j in range(1, n + 1)
    )
    return (
        "WITH " + _bpe_train_ctes(n)
        + f"\n    SELECT * FROM ({union}) ORDER BY merge_rank"
    )


def _bpe_doc_tokens_ctes(n: int, src: str = "documents") -> str:
    """Training + re-encode CTE chain ending in fin(doc_id,
    token_str, n_tokens); callers prepend WITH RECURSIVE and append
    their own final SELECT (per-doc for q_bpe_encode, per-source
    aggregate for q_token_budget, post-filter corpus for
    q_corpus_build via `src`). `src` must expose (doc_id, text)."""
    return _bpe_train_ctes(n, src) + f""",
    merges AS (
      {" UNION ALL ".join(
          f"SELECT {j} AS merge_rank, lhs, rhs FROM b{j}"
          for j in range(1, n + 1)
      )}
    ),
    dw AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')
               AS ws
      FROM {src}
    ),
    uw AS (SELECT DISTINCT unnest(ws) AS word FROM dw),
    rec AS (
      SELECT word,
             regexp_replace(word, '(.)', chr(30) || '\\1' || chr(31), 'g')
               AS enc,
             0 AS r
      FROM uw
      UNION ALL
      SELECT rec.word,
             replace(rec.enc,
                     chr(30) || m.lhs || chr(31) ||
                     chr(30) || m.rhs || chr(31),
                     chr(30) || m.lhs || m.rhs || chr(31)),
             rec.r + 1
      FROM rec JOIN merges m ON m.merge_rank = rec.r + 1
    ),
    -- max(r), not the literal round count: with a degenerate corpus
    -- the merges relation is short and recursion stops early
    encf AS (SELECT word, enc FROM rec
             WHERE r = (SELECT max(r) FROM rec)),
    dpos AS (
      SELECT doc_id, u.i AS i, d.ws[u.i] AS word
      FROM dw d,
           unnest(generate_series(1, greatest(len(d.ws), 0))) AS u(i)
    ),
    dtok AS (
      SELECT dpos.doc_id, dpos.i, e.enc
      FROM dpos JOIN encf e USING (word)
    ),
    dagg AS (
      SELECT doc_id, string_agg(enc, '' ORDER BY i) AS encdoc
      FROM dtok GROUP BY 1
    ),
    fin AS (
      SELECT doc_id,
             rtrim(replace(replace(encdoc, chr(30), ''), chr(31), ' '))
               AS token_str,
             len(encdoc) - len(replace(encdoc, chr(31), '')) AS n_tokens
      FROM dagg
    )"""


def _bpe_encode_oracle_sql(n: int) -> str:
    return (
        "WITH RECURSIVE " + _bpe_doc_tokens_ctes(n) + """
    SELECT d.doc_id,
           CAST(coalesce(f.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(len(list_filter(string_split(f.token_str, ' '),
                                         t -> len(t) = 1)), 0) AS BIGINT)
             AS n_singles,
           substring(md5(coalesce(f.token_str, '')), 1, 16) AS token_hash
    FROM dw d LEFT JOIN fin f USING (doc_id)
    ORDER BY d.doc_id
"""
    )


# Token-weighted mixture budgeting: identical float expression order
# as operators/sampling.token_budget_plan (budget * (w / wsum) / t,
# round 6 dp), then integer ppm threshold and integer expected-token
# mass — the temperature_mix portability recipe over BPE token counts.
def _token_budget_oracle_sql(n: int, alpha: float, budget: int) -> str:
    return (
        "WITH RECURSIVE " + _bpe_doc_tokens_ctes(n) + f""",
    srctok AS (
      SELECT d.source, count(*) AS n_docs,
             sum(coalesce(f.n_tokens, 0)) AS n_tokens
      FROM documents d LEFT JOIN fin f USING (doc_id)
      GROUP BY 1
    ),
    tot AS (SELECT sum(pow(n_tokens, {alpha})) AS wsum FROM srctok),
    rates AS (
      SELECT source, n_docs, n_tokens,
             CASE WHEN n_tokens <= 0 OR wsum <= 0 THEN 0
                  ELSE CAST(floor(round(least(1.0,
                         ({budget} * (pow(n_tokens, {alpha}) / wsum))
                           / n_tokens), 6) * 1000000) AS BIGINT)
             END AS rate_ppm
      FROM srctok CROSS JOIN tot
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens, rate_ppm,
           CAST(n_tokens * rate_ppm // 1000000 AS BIGINT)
             AS expected_tokens
    FROM rates ORDER BY source
"""
    )


ORACLE_SQL["q_bpe_train"] = _bpe_train_oracle_sql(_BPE_N_MERGES)
ORACLE_SQL["q_bpe_encode"] = _bpe_encode_oracle_sql(_BPE_N_MERGES)
ORACLE_SQL["q_token_budget"] = _token_budget_oracle_sql(
    _BPE_N_MERGES, 0.5, 60_000
)


# Capstone: the whole corpus-construction chain replayed in ONE SQL
# statement — span scrub (sd_*), exact dedup on scrubbed text,
# 5-gram benchmark decontamination, BPE tokenization of the
# survivors (the shared builder with src=cb_s3), token-budget rates,
# and md5-bucket sampling membership, assembled into the per-doc
# first-failing-reason ladder.
def _corpus_build_oracle_sql(n: int, alpha: float, budget: int) -> str:
    return (
        "WITH RECURSIVE "
        + """
    cb_bench AS (SELECT doc_id, text, source FROM documents
                 WHERE doc_id % 37 = 0),
    cb_corpus AS MATERIALIZED (SELECT doc_id, text, source FROM documents
                  WHERE doc_id % 37 <> 0),
"""
        + _span_dedup_ctes("cb_corpus") + """,
    cb_scrubbed AS MATERIALIZED (
      SELECT w.doc_id, c.source, coalesce(k.dedup_text, '') AS text
      FROM sd_w w
      JOIN cb_corpus c USING (doc_id)
      LEFT JOIN sd_kept k ON k.doc_id = w.doc_id
    ),
    cb_nonempty AS (SELECT * FROM cb_scrubbed WHERE text <> ''),
    cb_keeper AS (
      SELECT md5(text) AS h, min(doc_id) AS keeper
      FROM cb_nonempty GROUP BY 1
    ),
    cb_s2 AS MATERIALIZED (
      SELECT ne.doc_id, ne.text, ne.source
      FROM cb_nonempty ne JOIN cb_keeper k
        ON md5(ne.text) = k.h AND ne.doc_id = k.keeper
    ),
    cb_bg AS (
      SELECT DISTINCT substring(md5(g), 1, 16) AS key
      FROM (
        SELECT array_to_string(w[i:i+4], ' ') AS g
        FROM (SELECT list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
                                 x -> x <> '') AS w FROM cb_bench) bw,
             unnest(generate_series(1, greatest(len(bw.w) - 4, 0))) AS u(i)
      )
    ),
    cb_cg AS (
      SELECT DISTINCT doc_id, substring(md5(g), 1, 16) AS key
      FROM (
        SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0b\\f\\r]+'),
                                 x -> x <> '') AS w FROM cb_s2) cw,
             unnest(generate_series(1, greatest(len(cw.w) - 4, 0))) AS u(i)
      )
    ),
    cb_hits AS (SELECT DISTINCT doc_id FROM cb_cg JOIN cb_bg USING (key)),
    cb_s3 AS MATERIALIZED (
      SELECT s.doc_id, s.text, s.source FROM cb_s2 s
      WHERE s.doc_id NOT IN (SELECT doc_id FROM cb_hits)
    ),"""
        + _bpe_doc_tokens_ctes(n, src="cb_s3")
        + f""",
    cb_tok AS (
      SELECT s.doc_id, s.source, coalesce(f.n_tokens, 0) AS n_tokens
      FROM cb_s3 s LEFT JOIN fin f USING (doc_id)
    ),
    cb_srctok AS (
      SELECT source, sum(n_tokens) AS t FROM cb_tok GROUP BY 1
    ),
    cb_tot AS (SELECT sum(pow(t, {alpha})) AS wsum FROM cb_srctok),
    cb_rates AS (
      SELECT source,
             CASE WHEN t <= 0 OR wsum <= 0 THEN 0
                  ELSE CAST(floor(round(least(1.0,
                         ({budget} * (pow(t, {alpha}) / wsum)) / t), 6)
                       * 1000000) AS BIGINT)
             END AS rate_ppm
      FROM cb_srctok CROSS JOIN cb_tot
    ),
    cb_sampled AS (
      SELECT k.doc_id
      FROM cb_tok k JOIN cb_rates r USING (source)
      WHERE CAST(concat('0x', substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 12))
                 AS BIGINT) % 1000000 < r.rate_ppm
    ),
    cb_reason AS (
      SELECT d.doc_id, d.source,
             CASE WHEN d.doc_id % 37 = 0 THEN 'benchmark'
                  WHEN sc.text = '' THEN 'empty_after_scrub'
                  WHEN s2.doc_id IS NULL THEN 'exact_dup'
                  WHEN h.doc_id IS NOT NULL THEN 'contaminated'
                  WHEN sm.doc_id IS NULL THEN 'not_sampled'
                  ELSE '' END AS drop_reason,
             t.n_tokens AS n_tokens
      FROM documents d
      LEFT JOIN cb_scrubbed sc ON sc.doc_id = d.doc_id
      LEFT JOIN cb_s2 s2 ON s2.doc_id = d.doc_id
      LEFT JOIN cb_hits h ON h.doc_id = d.doc_id
      LEFT JOIN cb_tok t ON t.doc_id = d.doc_id
      LEFT JOIN cb_sampled sm ON sm.doc_id = d.doc_id
    )
    SELECT doc_id, source, drop_reason,
           CAST(drop_reason = '' AS INT) AS kept,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM cb_reason ORDER BY doc_id
"""
    )


ORACLE_SQL["q_corpus_build"] = _corpus_build_oracle_sql(
    _BPE_N_MERGES, 0.5, 40_000
)

# Incremental span dedup: the %5==0 slice scrubbed against the
# frozen %5!=0 base's distinct-gram index. Mark condition differs
# from the corpus-wide builder (ANY base hit, no ownership among
# delta docs), so this one is standalone (si_-prefixed).
ORACLE_SQL["q_span_incremental"] = """
    WITH si_bw AS (
      SELECT list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')
               AS w
      FROM documents WHERE doc_id % 5 <> 0
    ),
    si_bk AS (
      SELECT DISTINCT
             substring(md5(array_to_string(w[i:i+7], ' ')), 1, 16) AS key
      FROM si_bw,
           unnest(generate_series(1, greatest(len(w) - 7, 0))) AS u(i)
    ),
    si_dw AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')
               AS w
      FROM documents WHERE doc_id % 5 = 0
    ),
    si_dg AS (
      SELECT doc_id, i AS pos,
             substring(md5(array_to_string(w[i:i+7], ' ')), 1, 16) AS key
      FROM si_dw,
           unnest(generate_series(1, greatest(len(w) - 7, 0))) AS u(i)
    ),
    si_marked AS (
      SELECT si_dg.doc_id, si_dg.pos AS s, si_dg.pos + 7 AS e
      FROM si_dg JOIN si_bk USING (key)
    ),
    si_brk AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                      PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM si_marked
    ),
    si_isl AS (
      SELECT doc_id, s, e,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS UNBOUNDED PRECEDING) AS iid
      FROM si_brk
    ),
    si_spans AS (
      SELECT doc_id, iid, min(s) AS s, max(e) AS e
      FROM si_isl GROUP BY 1, 2
    ),
    si_per_doc AS (
      SELECT doc_id, count(*) AS n_spans,
             sum(e - s + 1) AS tokens_removed
      FROM si_spans GROUP BY 1
    ),
    si_removed AS (
      SELECT DISTINCT doc_id, u.p
      FROM si_spans, unnest(generate_series(s, e)) AS u(p)
    ),
    si_tok AS (
      SELECT si_dw.doc_id, u.p, si_dw.w[u.p] AS tok
      FROM si_dw,
           unnest(generate_series(1, greatest(len(si_dw.w), 0))) AS u(p)
    ),
    si_kept AS (
      SELECT t.doc_id,
             string_agg(t.tok, ' ' ORDER BY t.p) AS dedup_text
      FROM si_tok t
      LEFT JOIN si_removed r ON t.doc_id = r.doc_id AND t.p = r.p
      WHERE r.p IS NULL
      GROUP BY 1
    )
    SELECT si_dw.doc_id,
           CAST(len(si_dw.w) AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(p.tokens_removed, 0) AS BIGINT) AS tokens_removed,
           CASE WHEN si_dw.w IS NULL THEN NULL
                ELSE coalesce(k.dedup_text, '') END AS dedup_text
    FROM si_dw
    LEFT JOIN si_per_doc p USING (doc_id)
    LEFT JOIN si_kept k USING (doc_id)
    ORDER BY si_dw.doc_id
"""

# identical closed-form score/label synthesis, then the same
# average-rank algebra: distinct (cohort, score) cells, cumulative
# count strictly below, 2*rank-sum kept integral, ONE final float
# division — bit-exact vs the engine (event_id is BIGINT; the 104729
# multiplier peaks ~1e10, far inside int64)
ORACLE_SQL["q_f1_sweep"] = """
    WITH s AS (
      SELECT (event_id % 5) AS cohort,
             ((event_id * 7919) % 101) AS score,
             CASE WHEN ((event_id * 104729) % 100)
                       < ((event_id * 7919) % 101)
                  THEN 1 ELSE 0 END AS label
      FROM events),
    th AS (SELECT CAST(g.t AS INT) AS t
           FROM generate_series(0, 100, 5) AS g(t)),
    agg AS (
      SELECT CAST(cohort AS INT) AS cohort, th.t,
             CAST(sum(CASE WHEN score >= th.t THEN label
                           ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN score >= th.t THEN 1 - label
                           ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN score < th.t THEN label
                           ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN score < th.t THEN 1 - label
                           ELSE 0 END) AS BIGINT) AS tn
      FROM s CROSS JOIN th GROUP BY 1, 2)
    SELECT cohort, t, tp, fp, fn, tn,
           CASE WHEN tp + fp > 0
                THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
           END AS precision,
           CASE WHEN tp + fn > 0
                THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
           END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN CAST(2 * tp AS DOUBLE)
                     / CAST(2 * tp + fp + fn AS DOUBLE)
           END AS f1
    FROM agg ORDER BY cohort, t
"""


ORACLE_SQL["q_cluster_split"] = f"""
    WITH RECURSIVE pairs AS (
      {_simhash_neardup_oracle_sql(ordered=False)}
    ),
    e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.id
    ),
    comp AS (SELECT id AS doc_id, min(lab) AS comp FROM reach GROUP BY 1),
    b AS (
      SELECT doc_id, comp,
             CAST(concat('0x', substr(md5(CAST(comp AS VARCHAR)), 1, 12))
                  AS BIGINT) % 1000000 AS bucket
      FROM comp)
    SELECT doc_id, comp,
           CASE WHEN bucket < 800000 THEN 'train'
                WHEN bucket < 900000 THEN 'eval'
                ELSE 'test' END AS split
    FROM b ORDER BY doc_id
"""

ORACLE_SQL["q_bucketed_join"] = """
    WITH facts AS (
      SELECT event_id, (event_id % 509) AS user_id,
             ((event_id * 31) % 1000) AS v
      FROM events),
    dims AS (
      SELECT DISTINCT user_id, (user_id % 7) AS seg FROM facts)
    SELECT CAST(f.user_id AS BIGINT) AS user_id,
           CAST(d.seg AS BIGINT) AS seg,
           count(*) AS n,
           CAST(sum(f.v) AS BIGINT) AS sum_v
    FROM facts f JOIN dims d USING (user_id)
    GROUP BY 1, 2 ORDER BY user_id
"""

ORACLE_SQL["q_drift"] = """
    WITH a AS (
      SELECT CAST(((event_id * 7919) % 101) // 10 AS INT) AS bucket
      FROM events WHERE event_id % 2 = 0),
    b AS (
      SELECT CAST(least(((event_id * 7919) % 101) // 10
                        + event_id % 3, 10) AS INT) AS bucket
      FROM events WHERE event_id % 2 = 1),
    ca AS (SELECT bucket, count(*) AS cnt_a FROM a GROUP BY 1),
    cb AS (SELECT bucket, count(*) AS cnt_b FROM b GROUP BY 1),
    cells AS (
      SELECT coalesce(ca.bucket, cb.bucket) AS bucket,
             CAST(coalesce(cnt_a, 0) AS BIGINT) AS cnt_a,
             CAST(coalesce(cnt_b, 0) AS BIGINT) AS cnt_b
      FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket),
    tot AS (
      SELECT CAST(sum(cnt_a) AS BIGINT) AS na,
             CAST(sum(cnt_b) AS BIGINT) AS nb,
             CAST(count(*) AS BIGINT) AS nbk
      FROM cells),
    terms AS (
      SELECT
        CAST(round(((CAST(cnt_a + 1 AS DOUBLE) / CAST(na + nbk AS DOUBLE))
                    - (CAST(cnt_b + 1 AS DOUBLE) / CAST(nb + nbk AS DOUBLE)))
                   * ln((CAST(cnt_a + 1 AS DOUBLE) / CAST(na + nbk AS DOUBLE))
                        / (CAST(cnt_b + 1 AS DOUBLE)
                           / CAST(nb + nbk AS DOUBLE)))
                   * 1000000.0) AS BIGINT) AS psi_e6,
        CAST(round((
            (CAST(cnt_a AS DOUBLE)
             - CAST(na AS DOUBLE) * CAST(cnt_a + cnt_b AS DOUBLE)
               / CAST(na + nb AS DOUBLE))
            * (CAST(cnt_a AS DOUBLE)
               - CAST(na AS DOUBLE) * CAST(cnt_a + cnt_b AS DOUBLE)
                 / CAST(na + nb AS DOUBLE))
            / (CAST(na AS DOUBLE) * CAST(cnt_a + cnt_b AS DOUBLE)
               / CAST(na + nb AS DOUBLE))
            + (CAST(cnt_b AS DOUBLE)
               - CAST(nb AS DOUBLE) * CAST(cnt_a + cnt_b AS DOUBLE)
                 / CAST(na + nb AS DOUBLE))
              * (CAST(cnt_b AS DOUBLE)
                 - CAST(nb AS DOUBLE) * CAST(cnt_a + cnt_b AS DOUBLE)
                   / CAST(na + nb AS DOUBLE))
              / (CAST(nb AS DOUBLE) * CAST(cnt_a + cnt_b AS DOUBLE)
                 / CAST(na + nb AS DOUBLE))
          ) * 1000000.0) AS BIGINT) AS chi2_e6,
        abs(CAST(cnt_a + 1 AS HUGEINT) * CAST(nb + nbk AS HUGEINT)
            - CAST(cnt_b + 1 AS HUGEINT) * CAST(na + nbk AS HUGEINT))
          AS tv_num,
        CAST(na + nbk AS HUGEINT) * CAST(nb + nbk AS HUGEINT) AS tv_den
      FROM cells CROSS JOIN tot)
    SELECT (SELECT na FROM tot) AS n_a,
           (SELECT nb FROM tot) AS n_b,
           (SELECT nbk FROM tot) AS n_buckets,
           CAST(sum(psi_e6) AS BIGINT) / 1000000.0 AS psi,
           CAST(sum(chi2_e6) AS BIGINT) / 1000000.0 AS chi2,
           CAST(sum(tv_num) AS DOUBLE)
             / (2.0 * CAST(max(tv_den) AS DOUBLE)) AS tv_distance
    FROM terms
"""

ORACLE_SQL["q_auc_scores"] = """
    WITH s AS (
      SELECT (event_id % 5) AS cohort,
             ((event_id * 7919) % 101) AS score,
             CASE WHEN ((event_id * 104729) % 100)
                       < ((event_id * 7919) % 101)
                  THEN 1 ELSE 0 END AS label
      FROM events),
    cells AS (
      SELECT cohort, score, count(*) AS cnt, sum(label) AS pos
      FROM s GROUP BY 1, 2),
    ranked AS (
      SELECT *, coalesce(sum(cnt) OVER (
               PARTITION BY cohort ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum
      FROM cells),
    agg AS (
      SELECT cohort,
             sum(pos * (2 * cum + cnt + 1)) AS r2,
             sum(pos) AS n_pos,
             sum(cnt - pos) AS n_neg
      FROM ranked GROUP BY 1)
    SELECT CAST(cohort AS INT) AS cohort,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN (r2 - n_pos * (n_pos + 1))
                     / (2.0 * n_pos * n_neg) END AS auc
    FROM agg ORDER BY cohort
"""

# same synthesis; per-decile integer sums ((p-100y)^2 integral), one
# division per output column — zero rounding needed
ORACLE_SQL["q_calibration_bins"] = """
    WITH s AS (
      SELECT ((event_id * 7919) % 101) AS p,
             CASE WHEN ((event_id * 104729) % 100)
                       < ((event_id * 7919) % 101)
                  THEN 1 ELSE 0 END AS y
      FROM events),
    b AS (
      SELECT least(CAST(floor(p * 10 / 101) AS INT), 9) AS bin,
             count(*) AS n, sum(p) AS sp, sum(y) AS sy,
             sum((p - 100 * y) * (p - 100 * y)) AS ssq
      FROM s GROUP BY 1)
    SELECT bin, CAST(n AS BIGINT) AS n,
           sp / (100.0 * n) AS mean_pred,
           sy / CAST(n AS DOUBLE) AS frac_pos,
           ssq / 10000.0 AS brier_sum,
           abs(100 * sy - sp) / (100.0 * n) AS gap
    FROM b ORDER BY bin
"""

# independent algorithm: per-pair union vocab -> single ASCII bytes
# (chr(1..126)), then DuckDB's BYTE-based levenshtein — on a
# one-byte-per-token encoding, byte edit distance IS token edit
# distance, so this cross-checks the engine's NumPy token DP exactly;
# the 126-distinct-token cap is applied identically on both sides
ORACLE_SQL["q_wer_pairs"] = r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(
               lower(substr(text, 1, 160)), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
      FROM documents),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.w AS wa, b.w AS wb
      FROM tok a JOIN tok b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 17 = 0),
    pc AS (
      SELECT *, list_sort(list_distinct(list_concat(wa, wb))) AS v
      FROM p
      WHERE len(list_distinct(list_concat(wa, wb))) <= 126
        AND len(wa) > 0),
    enc AS (
      SELECT id_a, id_b, len(wa) AS n_ref, len(wb) AS n_hyp,
             array_to_string(list_transform(
               wa, t -> chr(list_indexof(v, t))), '') AS ea,
             array_to_string(list_transform(
               wb, t -> chr(list_indexof(v, t))), '') AS eb
      FROM pc)
    SELECT id_a, id_b,
           CAST(n_ref AS INT) AS n_ref, CAST(n_hyp AS INT) AS n_hyp,
           CAST(levenshtein(ea, eb) AS INT) AS dist,
           levenshtein(ea, eb) / CAST(n_ref AS DOUBLE) AS wer
    FROM enc ORDER BY id_a
"""


# Kneser-Ney twin: DuckDB re-derives tokenization (same '[ \t\n\x0b\f\r]+' split
# discipline as q_quality_features/q_wer_pairs), trigram/context/
# continuation counts, and the interpolated-KN formula independently.
# The arithmetic mirrors operators/lm.kn_word_trigrams term by term
# (same parenthesization -> same IEEE rounding), and p_kn is rounded
# to 6 dp BEFORE the (p_kn DESC, w1, w2, w3) rank; the full trigram
# key makes the ORDER BY a total order, so LIMIT 50 is cut-stable.
ORACLE_SQL["q_lm_kn"] = r"""
    WITH toks AS (
      SELECT list_filter(regexp_split_to_array(coalesce(text, ''),
                                               '[ \t\n\x0b\f\r]+'),
                         t -> t <> '') AS toks
      FROM documents),
    tri AS (
      SELECT toks[i + 1] AS w1, toks[i + 2] AS w2, toks[i + 3] AS w3
      FROM (SELECT toks, unnest(range(0, len(toks) - 2)) AS i
            FROM toks WHERE len(toks) >= 3)),
    c3 AS (
      SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri GROUP BY w1, w2, w3),
    ctx AS (
      SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS c2, COUNT(*) AS n1p_ctx
      FROM c3 GROUP BY w1, w2),
    cont AS (SELECT w3, COUNT(*) AS n1p_w3 FROM c3 GROUP BY w3),
    types AS (SELECT COUNT(*) AS n_types FROM c3)
    SELECT c3.w1, c3.w2, c3.w3, c3.c3,
           round(greatest(c3.c3 - 0.75, 0.0) / ctx.c2
                 + (0.75 * ctx.n1p_ctx / ctx.c2)
                   * (cont.n1p_w3 / types.n_types), 6) AS p_kn
    FROM c3
    JOIN ctx USING (w1, w2)
    JOIN cont USING (w3)
    CROSS JOIN types
    ORDER BY p_kn DESC, w1, w2, w3
    LIMIT 50
"""


# NFC twin: DuckDB rebuilds the same decomposed strings from chr()
# codepoints and runs its OWN normalizer (utf8proc) against the
# engine's CPython unicodedata — two independent UAX #15
# implementations hashed against each other. All codepoints are BMP,
# so Spark's UTF-16 length == DuckDB's codepoint length.
ORACLE_SQL["q_nfc_normalize"] = """
    WITH t AS (
      SELECT doc_id,
        CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN 'cafe' || chr(769) || ' visit ' || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN 'A' || chr(778) || 'ngstro' || chr(776) || 'm '
                     || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN 'ni' || chr(241) || 'o ' || CAST(doc_id AS VARCHAR)
          ELSE 'plain ascii ' || CAST(doc_id AS VARCHAR)
        END AS raw
      FROM documents)
    SELECT doc_id,
           nfc_normalize(raw) AS nfc,
           raw <> nfc_normalize(raw) AS changed,
           CAST(length(raw) AS INT) AS n_cp_raw,
           CAST(length(nfc_normalize(raw)) AS INT) AS n_cp_nfc
    FROM t
    ORDER BY doc_id
"""


# Sanitization: the oracle replays the engine's EXACT three-step chain
# (strip format controls, fold Unicode spaces, fold fullwidth ASCII) in
# DuckDB — RE2 + translate vs Java regex + Spark translate, one spec in
# two engines. The class/translate strings are interpolated from the
# same functions/text.py constants the Spark expressions read, so the
# two sides cannot drift independently; the raw text is rebuilt
# in-query from doc_id via chr() (BMP only — length() semantics agree).
ORACLE_SQL["q_sanitize"] = f"""
    WITH t AS (
      SELECT doc_id,
        CASE CAST(doc_id % 6 AS INT)
          WHEN 0 THEN 'zero' || chr(8203) || 'width' || chr(8205)
                      || ' join ' || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN 'bidi ' || chr(8238) || 'kcatta' || chr(8236)
                      || ' ' || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN 'nbsp' || chr(160) || 'and' || chr(8201)
                      || 'thin ' || CAST(doc_id AS VARCHAR)
          WHEN 3 THEN chr(65318) || chr(65335) || chr(65281)
                      || ' text ' || CAST(doc_id AS VARCHAR)
          WHEN 4 THEN 'plain ascii ' || CAST(doc_id AS VARCHAR)
          ELSE chr(65279) || 'hy' || chr(173) || 'phen' || chr(12288)
               || CAST(doc_id AS VARCHAR)
        END AS raw
      FROM documents),
    s AS (
      SELECT doc_id, raw,
             regexp_replace(raw, '{SANITIZE_STRIP_CLASS}', '', 'g') AS stripped
      FROM t),
    c AS (
      SELECT doc_id, raw, stripped,
             translate(
               regexp_replace(stripped, '{SANITIZE_SPACE_CLASS}', ' ', 'g'),
               '{SANITIZE_FW_FROM}', '{SANITIZE_FW_TO.replace(chr(39), chr(39) * 2)}') AS clean
      FROM s)
    SELECT doc_id, clean,
           raw <> clean AS changed,
           CAST(length(raw) AS INT) AS n_cp_raw,
           CAST(length(clean) AS INT) AS n_cp_clean,
           CAST(length(raw) - length(stripped) AS INT) AS n_stripped
    FROM c
    ORDER BY doc_id
"""


# Luhn CC scrub: scrub_cc_sql (same module as the Spark expression)
# replays extract -> Luhn-validate (exact integer mod-10) -> fold
# substring-replace, twice, in DuckDB — the two sides cannot drift
# independently because one module emits both.
def _luhn_cc_oracle_sql() -> str:
    from .functions.scrub import scrub_cc_sql

    return f"""
    WITH t AS (
      SELECT doc_id,
        CASE CAST(doc_id % 6 AS INT)
          WHEN 0 THEN 'card 4532 0151 1283 0366 on file ' || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN 'card 4111-1111-1111-1111 ok ' || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN 'num 1234567812345678 plain ' || CAST(doc_id AS VARCHAR)
          WHEN 3 THEN 'pair 4532015112830366 4222222222222 tail ' || CAST(doc_id AS VARCHAR)
          WHEN 4 THEN 'long 12345678901234567890 run ' || CAST(doc_id AS VARCHAR)
          ELSE 'clean text no numbers ' || CAST(doc_id AS VARCHAR)
        END AS raw
      FROM documents),
    c AS (SELECT doc_id, raw, {scrub_cc_sql("raw")} AS clean FROM t)
    SELECT doc_id, clean,
           CAST((length(clean) - length(replace(clean, '<CC>', ''))) / 4 AS INT) AS n_cc,
           raw <> clean AS changed
    FROM c
    ORDER BY doc_id
"""


ORACLE_SQL["q_luhn_cc"] = _luhn_cc_oracle_sql()


# URL canonicalization: url_parts_sql (same module as the Spark
# Columns) replays the identical parse/canonicalize/domain spec in
# DuckDB over the same in-query-synthesized hostile URLs.
def _url_canonical_oracle_sql() -> str:
    from .functions.urls import url_parts_sql_ctes

    ctes, p = url_parts_sql_ctes("t")
    cols = ", ".join(
        f"{p[k]} AS {k}"
        for k in (
            "valid", "scheme", "host", "port", "path", "query",
            "domain", "had_userinfo", "canonical",
        )
    )
    return f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id,
        CASE CAST(doc_id % 8 AS INT)
          WHEN 0 THEN 'HTTP://WWW.Site' || CAST(doc_id AS VARCHAR)
                      || '.COM:80/A/B?b=2&utm_source=x&a=1#f'
          WHEN 1 THEN 'https://user:pw@news' || CAST(doc_id AS VARCHAR)
                      || '.co.uk/item?utm_campaign=z&id='
                      || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN 'https://example' || CAST(doc_id AS VARCHAR) || '.com'
          WHEN 3 THEN 'http://shop' || CAST(doc_id AS VARCHAR)
                      || '.example.com:8080/p?z=1&z=0&'
          WHEN 4 THEN 'ftp://files' || CAST(doc_id AS VARCHAR) || '.com/x'
          WHEN 5 THEN 'http://host' || CAST(doc_id AS VARCHAR) || ':80a/x'
          WHEN 6 THEN 'http://a.b' || CAST(doc_id AS VARCHAR)
                      || '.co.uk:443/x?gclid=a&keep='
                      || CAST(doc_id AS VARCHAR)
          ELSE 'plain text ' || CAST(doc_id AS VARCHAR)
        END AS raw
      FROM documents),
    {ctes}
    SELECT doc_id, {cols}
    FROM u_url
    ORDER BY doc_id
"""


ORACLE_SQL["q_url_canonical"] = _url_canonical_oracle_sql()


def _domain_stats_oracle_sql() -> str:
    from .functions.urls import url_parts_sql_ctes

    ctes, p = url_parts_sql_ctes("t")
    return f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id,
        CASE CAST(doc_id % 3 AS INT)
          WHEN 0 THEN 'http://www.site' || CAST(doc_id % 7 AS VARCHAR)
                      || '.com/p' || CAST(doc_id % 20 AS VARCHAR)
                      || '?utm_source=x'
          WHEN 1 THEN 'HTTP://site' || CAST(doc_id % 7 AS VARCHAR)
                      || '.COM:80/p' || CAST(doc_id % 20 AS VARCHAR)
          ELSE 'http://site' || CAST(doc_id % 7 AS VARCHAR)
               || '.com/p' || CAST(doc_id % 20 AS VARCHAR) || '#frag'
        END AS raw
      FROM documents),
    {ctes},
    u AS (SELECT {p['domain']} AS domain, {p['canonical']} AS canonical
          FROM u_url)
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT canonical) AS BIGINT) AS n_canonicals,
           domain IN ('site0.com', 'site3.com') AS blocked,
           CAST(CASE WHEN domain IN ('site0.com', 'site3.com') THEN 0
                ELSE count(*) END AS BIGINT) AS kept_urls
    FROM u
    GROUP BY domain
    ORDER BY domain
"""


ORACLE_SQL["q_domain_stats"] = _domain_stats_oracle_sql()


# HTML extraction: strip_html_sql (same module as the Spark Columns)
# replays block-removal -> tag strip -> entity folds -> squeeze in
# DuckDB over the same synthesized pages.
def _html_extract_oracle_sql() -> str:
    from .functions.htmltext import strip_html_sql

    clean = strip_html_sql("raw")
    return f"""
    WITH t AS (
      SELECT doc_id,
        CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN '<html><head><style>p{{x}}</style><title>Doc '
                      || CAST(doc_id AS VARCHAR) || '</title></head><body><p>'
                      || substr(text, 1, 120) || '</p></body></html>'
          WHEN 1 THEN '<div class=''nav''><ul><li>a</li><li>b</li></ul>'
                      || '</div><script>var x=1;</script><p>'
                      || substr(text, 1, 8) || '</p>'
          WHEN 2 THEN substr(text, 1, 120) || ' &amp; &#65; &#x42; &lt;b&gt; '
                      || CAST(doc_id AS VARCHAR)
          WHEN 3 THEN '<!-- c --><b>' || substr(text, 1, 120)
                      || '</b><script>junk ' || CAST(doc_id AS VARCHAR)
          ELSE substr(text, 1, 120)
        END AS raw
      FROM documents),
    c AS MATERIALIZED (SELECT doc_id, raw, {clean} AS text_clean FROM t)
    SELECT doc_id, text_clean,
           CAST(length(raw) AS INT) AS n_chars_raw,
           CAST(length(text_clean) AS INT) AS n_chars_text,
           length(text_clean) * 4 >= length(raw) AS keep
    FROM c
    ORDER BY doc_id
"""


ORACLE_SQL["q_html_extract"] = _html_extract_oracle_sql()


# Image dhash: the oracle recomputes both 32-bit halves from the
# closed-form pixel synthesis — it never touches a byte; the engine
# decodes REAL P6 payloads, so header walk + frombuffer + area-mean
# resize + luma + bit-pack all sit between the two sides.
def _dhash_oracle_ctes() -> str:
    def p(k: str) -> str:
        x = f"((doc_id - doc_id % 2) * 73 + ({k}) + 1)"
        return (
            f"({x} * {x} * 7 + {x} * 13"
            f" + CASE WHEN doc_id % 2 = 1 AND ({k}) % 29 = 0"
            f" THEN 97 ELSE 0 END) % 251"
        )

    def half(b0: int) -> str:
        k1 = f"((b + {b0}) // 8) * 9 + (b + {b0}) % 8"
        return (
            f"CAST(list_sum(list_transform(generate_series(0, 31),"
            f" b -> CASE WHEN {p(k1)} > {p(k1 + ' + 1')}"
            f" THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END))"
            f" AS BIGINT)"
        )

    return f"""
    h AS MATERIALIZED (
      SELECT doc_id, lpad(CAST(doc_id AS VARCHAR), 12, '0') AS media_id,
             {half(0)} AS dhash_hi,
             {half(32)} AS dhash_lo
      FROM documents)"""


ORACLE_SQL["q_image_dhash"] = f"""
    WITH {_dhash_oracle_ctes()}
    SELECT doc_id, true AS decoded_ok, dhash_hi, dhash_lo
    FROM h
    ORDER BY doc_id
"""

# Quality probe: the oracle re-runs the ENTIRE 8-step training as
# unrolled CTE rounds (the q_bpe_train discipline) — integer-quantized
# gradients make each round's sums exact, and every float update is a
# fixed op sequence on exactly-agreed operands, so the final weights
# (and therefore scores) are bit-identical without any tolerance.
def _quality_probe_oracle_sql(steps: int = 8, lr: float = 0.02) -> str:
    feats = ["b", "f1", "f2"]

    def dot(wrel: str) -> str:
        acc = f"({feats[0]} * {wrel}.w0)"
        for j, c in enumerate(feats[1:], 1):
            acc = f"({acc} + {c} * {wrel}.w{j})"
        return acc

    ctes = [
        "t AS MATERIALIZED (SELECT doc_id, 1 AS b, length(text) % 7 AS f1,"
        " doc_id % 5 AS f2,"
        " CASE WHEN (length(text) % 7) + (doc_id % 5) > 5 THEN 1 ELSE 0 END"
        " AS y FROM documents)",
        "nn AS (SELECT count(*) AS n FROM t)",
        "w0t AS (SELECT CAST(0.0 AS DOUBLE) AS w0,"
        " CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS w2)",
    ]
    prev = "w0t"
    for s in range(1, steps + 1):
        g_cols = ", ".join(
            f"CAST(sum(CAST(floor({c} * ({dot(prev)} - y) * 1000000.0"
            f" + 0.5) AS BIGINT)) AS BIGINT) AS g{j}"
            for j, c in enumerate(feats)
        )
        ctes.append(
            f"g{s} AS MATERIALIZED (SELECT {g_cols} FROM t, {prev})"
        )
        w_cols = ", ".join(
            f"{prev}.w{j} - {lr!r} * (g{s}.g{j} / (1000000 * nn.n))"
            f" AS w{j}"
            for j in range(len(feats))
        )
        ctes.append(f"w{s}t AS (SELECT {w_cols} FROM g{s}, {prev}, nn)")
        prev = f"w{s}t"
    score = dot(prev)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT doc_id, f1, f2, y, {score} AS score, {score} >= 0.5 AS keep
    FROM t, {prev}
    ORDER BY doc_id
"""
    )


ORACLE_SQL["q_quality_probe"] = _quality_probe_oracle_sql()

ORACLE_SQL["q_datacard"] = f"""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
           CAST(sum(len(list_filter(
             regexp_split_to_array(text, '{WS_SPLIT}'),
             p -> p != ''))) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           quantile_cont(n_chars, 0.5) AS p50_chars,
           CAST(sum(length(text)) AS BIGINT)
             / CAST(sum(len(list_filter(
                 regexp_split_to_array(text, '{WS_SPLIT}'),
                 p -> p != ''))) AS BIGINT) AS chars_per_token
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
"""


# Script mix: script_count_sql (same module as the Spark Columns,
# RE2-flavored classes generated from the same range list) over the
# same chr()-composed synthesis.
def _script_mix_oracle_sql() -> str:
    from .functions.scripts import script_count_sql

    def sql_str(s: str) -> str:
        parts: list[str] = []
        buf = ""
        for ch in s:
            if ord(ch) < 128:
                buf += ch
            else:
                if buf:
                    parts.append("'" + buf.replace("'", "''") + "'")
                    buf = ""
                parts.append(f"chr({ord(ch)})")
        if buf:
            parts.append("'" + buf.replace("'", "''") + "'")
        return " || ".join(parts) if parts else "''"

    keys = sorted(_SCRIPT_SAMPLES)
    cases = "".join(
        f"          WHEN {k} THEN {sql_str(_SCRIPT_SAMPLES[k])}\n"
        for k in keys[:-1]
    )
    p = script_count_sql("raw")
    # stage the 6 count columns ONCE, then derive n_letters/is_mixed
    # from the ALIASES — the standalone expressions re-embed every
    # regexp_replace per consumer (~33 evaluations/row instead of 6)
    count_keys = [
        k for k in p
        if k.startswith("n_") and k not in ("n_letters", "n_chars")
    ]
    count_cols = ", ".join(f"{p[k]} AS {k}" for k in count_keys)
    letters = "(n_latin + n_cyrillic + n_cjk + n_arabic)"
    major = "(" + " + ".join(
        f"CASE WHEN n_{s} * 5 >= {letters} THEN 1 ELSE 0 END"
        for s in ("latin", "cyrillic", "cjk", "arabic")
    ) + ")"
    return f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id,
        (CASE CAST(doc_id % {len(_SCRIPT_SAMPLES)} AS INT)
{cases}          ELSE {sql_str(_SCRIPT_SAMPLES[keys[-1]])}
        END) || CAST(doc_id AS VARCHAR) AS raw
      FROM documents),
    c AS MATERIALIZED (
      SELECT doc_id, raw, CAST(length(raw) AS INT) AS n_chars,
             {count_cols}
      FROM t)
    SELECT doc_id, n_chars, {", ".join(count_keys)},
           CAST({letters} AS INT) AS n_letters,
           CASE WHEN raw IS NOT NULL
                THEN ({letters} >= 20 AND {major} >= 2) END AS is_mixed
    FROM c
    ORDER BY doc_id
"""


ORACLE_SQL["q_script_mix"] = _script_mix_oracle_sql()


# WAV wrap: the oracle re-derives byte counts (44-byte canonical
# header + 2n) and decoded energies from the closed-form sample
# formula — the engine's encode_wav_pcm16 -> parse_wav_header ->
# decode_wav_int round-trip sits entirely between.
ORACLE_SQL["q_wav_wrap"] = """
    WITH t AS MATERIALIZED (
      SELECT event_id,
             CAST(event_id % 9 + 20 AS INT) AS n,
             (event_id % 11 = 0) AS null_payload,
             (event_id % 13 = 0) AS bad_codec
      FROM events),
    d AS (
      SELECT event_id, n,
             NOT (null_payload OR bad_codec) AS ok,
             CASE WHEN NOT (null_payload OR bad_codec) THEN 'wav'
                  WHEN bad_codec THEN 'opus'
                  ELSE 'pcm_s16le' END AS codec,
             list_transform(generate_series(0, n - 1),
               i -> abs((event_id * 31 + i * 1717) % 65401 - 32700)) AS a
      FROM t)
    SELECT event_id AS clip_id, codec,
           CASE WHEN ok THEN 44 + 2 * n END AS n_bytes,
           CAST(ok AS INT) AS decoded_ok,
           CAST(CASE WHEN ok THEN n ELSE 0 END AS BIGINT) AS n_samples,
           CAST(CASE WHEN ok THEN list_sum(a) ELSE 0 END AS BIGINT)
             AS abs_energy,
           CAST(CASE WHEN ok THEN list_max(a) ELSE 0 END AS INT) AS max_abs
    FROM d
    ORDER BY clip_id
"""

ORACLE_SQL["q_image_neardup"] = f"""
    WITH {_dhash_oracle_ctes()},
    bands AS MATERIALIZED (
      SELECT media_id, 0 AS bi, dhash_hi // 65536 AS bv FROM h
      UNION ALL SELECT media_id, 1, dhash_hi % 65536 FROM h
      UNION ALL SELECT media_id, 2, dhash_lo // 65536 FROM h
      UNION ALL SELECT media_id, 3, dhash_lo % 65536 FROM h),
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
      FROM bands a JOIN bands b
        ON a.bi = b.bi AND a.bv = b.bv AND a.media_id < b.media_id),
    v AS (
      SELECT id_a, id_b,
             CAST(bit_count(xor(ha.dhash_hi, hb.dhash_hi))
                  + bit_count(xor(ha.dhash_lo, hb.dhash_lo)) AS INT)
               AS hamming
      FROM cand
      JOIN h ha ON ha.media_id = cand.id_a
      JOIN h hb ON hb.media_id = cand.id_b)
    SELECT id_a, id_b, hamming
    FROM v
    WHERE hamming <= 8
    ORDER BY id_a, id_b
"""


# Expectations: independent conditional-count derivation per rule (the
# oracle never sees the stack/wide-agg mechanics — it recomputes each
# count from the raw tables). CAST sums to BIGINT (DuckDB sum(INT) is
# HUGEINT, NOTES #12).
ORACLE_SQL["q_expectations"] = """
    WITH o AS (
      SELECT count(*) AS n,
             CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F') THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
             CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$') THEN 1 ELSE 0 END) AS BIGINT) AS v_prio,
             CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS v_uniq
      FROM orders),
    l AS (
      SELECT count(*) AS n,
             CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 30 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
             CAST(count(l_orderkey) - count(DISTINCT l_orderkey) AS BIGINT) AS v_uniq
      FROM lineitem)
    SELECT * FROM (
      SELECT 'orders' AS tbl, 'priority_format' AS rule, n AS n_rows,
             v_prio AS violations, v_prio = 0 AS pass FROM o
      UNION ALL
      SELECT 'orders', 'status_domain', n, v_status, v_status = 0 FROM o
      UNION ALL
      SELECT 'orders', 'unique:o_orderkey', n, v_uniq, v_uniq = 0 FROM o
      UNION ALL
      SELECT 'lineitem', 'qty_le_30', n, v_qty, v_qty = 0 FROM l
      UNION ALL
      SELECT 'lineitem', 'unique:l_orderkey', n, v_uniq, v_uniq = 0 FROM l)
    ORDER BY tbl, rule
"""


# Grouped exact percentiles: DuckDB quantile_cont implements the same
# linearly-interpolated quantile as np.percentile / Spark percentile();
# the engine side is the HISTOGRAM decomposition (operators/percentile.py)
# so this oracle also proves hist-path == sorted-buffer semantics.
ORACLE_SQL["q_percentile_hist"] = """
    SELECT l_returnflag, l_linestatus,
           count(l_quantity) AS n,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 4) AS p25,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 4) AS p50,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75), 4) AS p75,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9), 4) AS p90
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


def oracle_sql() -> dict[str, str]:
    if ORACLE_SQL.get("flagship") is None:
        try:
            ORACLE_SQL["flagship"] = _flagship_oracle_sql()
        except OSError:
            # oracle-gate testdata absent (e.g. packaged run on a
            # cluster) — flagship falls back to the rows-only check
            pass
    return {k: v for k, v in ORACLE_SQL.items() if v is not None}
