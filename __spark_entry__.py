"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: geocode documents -> broadcast PIP join vs
                 the 45-degree admin grid -> counts per area (sf0.001).
queries()      — one callable per implemented operator (SURVEY.md §2
                 plus the LLM-pipeline / ingest surface): 60 queries.
oracle_sql()   — DuckDB-equivalent SQL per query (same column names).
                 Every query is value-exact (rows+schema+hash).
                 Non-SQL semantics get exact literal twins instead of
                 weaker rows-only checks: ann_ivf_topk embeds its
                 driver-trained centroids as SQL literals; the raster
                 codec chains embed VALUES from the dense
                 single-process reference pipeline; media_decode_jpeg
                 embeds VALUES from the analytic quantize->IDCT
                 expectation (never the decoder's entropy path); the
                 WARC queries hold per-row md5 byte-identity against
                 the documents table. The full gate also passes at
                 sf0.1 (BENCH/CORRECTNESS_sf01_r5.txt).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geo_inference_spark.functions.derive import GRID_AREA_SQL, LAT_SQL, LON_SQL
from geo_inference_spark.operators.geocode import spread
from geo_inference_spark.operators.knn import knn_join
from geo_inference_spark.operators.overlap import overlap_stitch, raster_to_chunks
from geo_inference_spark.operators.pip_join import pages_per_area
from geo_inference_spark.operators import relational as R
from geo_inference_spark.operators.vectorize import polygonize_tiles
from geo_inference_spark.raster.kernels import make_linear_model
from geo_inference_spark.sources.pages import admin_grid_polygons
from geo_inference_spark.text import analysis as TA
from geo_inference_spark.text import dedup as DD
from geo_inference_spark.text import portable as P
from geo_inference_spark.text.multimodal import decode_media
from geo_inference_spark.text.similarity import (
    cosine_pairs,
    cosine_pairs_lsh,
    cosine_pairs_lsh_oracle_sql,
    cosine_pairs_oracle_sql,
    cosine_topk,
    cosine_topk_oracle_sql,
    embedding_queries,
    ivf_topk_oracle_sql,
    srp_lsh_topk,
    srp_lsh_topk_oracle_sql,
)

SF0001 = "/root/testdata/sf0.001"

# fixed kNN query points (near synthetic data hotspots + one empty area)
KNN_QUERIES = [(0, 10.0, -60.0), (1, -40.0, 120.0), (2, 55.0, 5.0)]
KNN_K = 5


def _docs_with_latlon(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return df.withColumn("lon", F.expr(LON_SQL)).withColumn("lat", F.expr(LAT_SQL))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    docs = _docs_with_latlon(spark, SF0001)
    return pages_per_area(spark, docs, admin_grid_polygons(), res=6)


# --------------------------------------------------------------- geospatial

def q_pip_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geocode -> cover lookup -> exact PIP -> count/area, one Python pass."""
    docs = _docs_with_latlon(spark, sf_dir)
    return pages_per_area(spark, docs, admin_grid_polygons(), res=6).orderBy(
        "area_id"
    )


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN via one cell cover from the index's per-cell counts +
    distance-bounded refinement."""
    import pandas as pd

    docs = _docs_with_latlon(spark, sf_dir)
    qpdf = pd.DataFrame(KNN_QUERIES, columns=["qid", "lat", "lon"])
    out = knn_join(spark, docs, qpdf, k=KNN_K, res=6, id_col="doc_id")
    return out.select(
        "qid", F.col("id").alias("doc_id"), F.round("dist", 6).alias("dist"), "rn"
    ).orderBy("qid", "rn")


def q_knn_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic kNN: the same one cell cover, haversine km distance
    (planar degrees inflate east-west distance ~1.7x at 55 deg
    latitude)."""
    import pandas as pd

    docs = _docs_with_latlon(spark, sf_dir)
    qpdf = pd.DataFrame(KNN_QUERIES, columns=["qid", "lat", "lon"])
    out = knn_join(
        spark, docs, qpdf, k=KNN_K, res=6, id_col="doc_id", metric="haversine"
    )
    return out.select(
        "qid", F.col("id").alias("doc_id"),
        F.round("dist", 6).alias("dist_km"), "rn",
    ).orderBy("qid", "rn")


def _knn_geo_oracle() -> str:
    from geo_inference_spark.operators.knn import haversine_sql

    qvals = ", ".join(f"({q}, {la}, {lo})" for q, la, lo in KNN_QUERIES)
    hav = haversine_sql("qlat", "qlon", "lat", "lon")
    return f"""
        WITH pts AS (
          SELECT doc_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM documents
        ), q(qid, qlat, qlon) AS (VALUES {qvals})
        SELECT qid, doc_id, round({hav}, 6) AS dist_km,
               CAST(row_number() OVER (
                 PARTITION BY qid ORDER BY {hav}, doc_id
               ) AS INT) AS rn
        FROM pts CROSS JOIN q
        QUALIFY rn <= {KNN_K}
        ORDER BY qid, rn
    """


def q_radius_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence counts: docs within 1500 haversine km of each fixed
    center, via a probe of the cells that can hold such a doc (the
    big side never shuffles) + exact haversine filter on candidates."""
    import pandas as pd

    from geo_inference_spark.operators.knn import radius_join

    docs = _docs_with_latlon(spark, sf_dir)
    qpdf = pd.DataFrame(KNN_QUERIES, columns=["qid", "lat", "lon"])
    out = radius_join(spark, docs, qpdf, radius_km=1500.0, res=6,
                      id_col="doc_id")
    return (
        out.groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_within"))
        .orderBy("qid")
    )


def _radius_count_oracle() -> str:
    from geo_inference_spark.operators.knn import haversine_sql

    qvals = ", ".join(f"({q}, {la}, {lo})" for q, la, lo in KNN_QUERIES)
    hav = haversine_sql("qlat", "qlon", "lat", "lon")
    return f"""
        WITH pts AS (
          SELECT doc_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM documents
        ), q(qid, qlat, qlon) AS (VALUES {qvals})
        SELECT qid, count(*) AS n_within
        FROM pts CROSS JOIN q
        WHERE {hav} <= 1500.0
        GROUP BY qid ORDER BY qid
    """


# --------------------------------------------------------------- dedup

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
        .orderBy("keep_id")
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with the skew guard ACTIVE (max_bucket=64):
    the benched plan is the 100 TB-safe one — a bucket of N
    near-identical docs is dropped past the cap instead of emitting
    N^2/2 candidates; the oracle mirrors the cap exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return DD.lsh_candidate_pairs(docs, max_bucket=64).orderBy("id1", "id2")


def q_lsh_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof LSH: exact-dup families collapse to one bucket row
    per band before banding; output = family edges + rep pairs. The
    rep banding runs with the bucket cap ACTIVE (default max_bucket=64,
    mirrored by QUALIFY in the oracle) so near-identical families that
    survive the collapse stay bounded too (VERDICT r3 #1)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return DD.lsh_collapsed_pairs(docs)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup decision: near-dup connected components via the
    engine's distributed CC; DuckDB twin = recursive CTE. Inherits the
    default-on rep bucket cap from lsh_collapsed_pairs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return DD.dedup_clusters(docs)


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return DD.jaccard_verified_pairs(docs, threshold=0.5).orderBy("id1", "id2")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return DD.with_simhash(docs).select("doc_id", "simhash").orderBy("doc_id")


# --------------------------------------------------------------- text analysis

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(toks.cast("long")).alias("total_tokens"),
            F.round(F.avg(F.length("text")), 2).alias("avg_chars"),
        )
        .orderBy("lang")
    )


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return TA.with_langid(docs).select(
        "doc_id", "pred_lang", "score_en", "score_fr", "score_de", "score_es"
    ).orderBy("doc_id")


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        TA.with_quality(docs)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
            F.round(F.avg("quality_score"), 6).alias("avg_quality"),
            F.round(F.avg("type_token_ratio"), 6).alias("avg_ttr"),
        )
        .orderBy("source")
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return TA.with_token_counts(docs).select(
        "doc_id", "ws_tokens", "subword_tokens"
    ).orderBy("doc_id")


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return TA.with_fingerprint_count(docs).select(
        "doc_id", "n_fingerprints"
    ).orderBy("doc_id")


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical web-text job — token frequency top-k per
    language: explode(split) -> two-level aggregation -> per-lang
    window top-5. At 10^12 docs the explode output never
    materializes: partial (map-side) hash aggregation combines counts
    inside the scan stage, so the shuffle carries one row per
    (lang, word) — asserted in tests/test_plans.py."""
    from pyspark.sql import Window

    # NOTE r6: a repartition of (lang, text) before the explode was
    # tried and measured SLOWER across three full bench runs at the
    # scaled sf1.0 (1.9 -> 2.5-3.2 s): the shuffle's fixed cost
    # exceeds the single-core explode at this text volume. Reverted.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    counts = words.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("word"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "word", "n", "rn")
        .orderBy("lang", "rn")
    )


def _top_tokens_oracle() -> str:
    return """
        WITH words AS (
          SELECT lang, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
          FROM documents
        ), counts AS (
          SELECT lang, word, count(*) AS n FROM words
          WHERE word <> '' GROUP BY lang, word
        )
        SELECT lang, word, n,
               CAST(row_number() OVER (
                 PARTITION BY lang ORDER BY n DESC, word
               ) AS INT) AS rn
        FROM counts
        QUALIFY rn <= 5
        ORDER BY lang, rn
    """


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based corpus sampling (the training-data
    curation primitive): keep a doc iff its md5(text) hex prefix
    falls under the rate threshold — reproducible across engines,
    cluster sizes and reruns, no RNG state. '1a' = 26/256 ~ 10.2%.
    Verified per-lang by kept count, char mass and id extremes."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.filter(F.substring(F.md5(F.col("text")), 1, 2) < "1a")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang")
    )


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment by content hash
    ('e6' ~ 89.8% / 'f3' ~ 94.9% boundaries): the same doc always
    lands in the same split, and exact duplicates land TOGETHER (the
    split key is the text hash, so a dup can never leak train->test —
    the leakage guard real pipelines need)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = F.substring(F.md5(F.col("text")), 1, 2)
    split = (
        F.when(h < "e6", F.lit("train"))
        .when(h < "f3", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang", "split")
    )


def q_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-3 tokens by tf-idf (idf over the language
    corpora): the distinguishing-term extraction job. tf and df
    partial-aggregate below their shuffles; the df side is one tiny
    (word -> lang count) frame joined back broadcast."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_langs = docs.select("lang").distinct().count()  # tiny driver scalar
    words = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    tf = words.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("n"))
    df_ = tf.groupBy("word").agg(
        F.countDistinct("lang").alias("df")
    )
    scored = tf.join(F.broadcast(df_), "word").withColumn(
        "tfidf",
        F.round(F.col("n") * F.log(F.lit(float(n_langs)) / F.col("df")), 6),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("tfidf"), F.asc("word")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "word", "tfidf", "rn")
        .orderBy("lang", "rn")
    )


def _tfidf_top_oracle() -> str:
    return """
        WITH words AS (
          SELECT lang, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
          FROM documents
        ), tf AS (
          SELECT lang, word, count(*) AS n FROM words
          WHERE word <> '' GROUP BY lang, word
        ), df AS (
          SELECT word, count(DISTINCT lang) AS df FROM tf GROUP BY word
        ), nl AS (SELECT count(DISTINCT lang) AS n_langs FROM documents)
        SELECT lang, word,
               round(n * ln(CAST(n_langs AS DOUBLE) / df), 6) AS tfidf,
               CAST(row_number() OVER (
                 PARTITION BY lang
                 ORDER BY round(n * ln(CAST(n_langs AS DOUBLE) / df), 6) DESC,
                          word
               ) AS INT) AS rn
        FROM tf JOIN df USING (word), nl
        QUALIFY rn <= 3
        ORDER BY lang, rn
    """


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact length quantiles per language — Spark's `percentile`
    (exact, linear interpolation at rank p*(n-1)) == DuckDB's
    quantile_cont. The 100 TB path swaps in percentile_approx
    (t-digest) whose value is engine-specific; tests pin approx within
    1% of exact, the gate certifies the exact twin."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.groupBy("lang")
        .agg(
            F.expr("round(percentile(length(text), 0.5), 6)").alias("p50"),
            F.expr("round(percentile(length(text), 0.9), 6)").alias("p90"),
            F.expr("round(percentile(length(text), 0.99), 6)").alias("p99"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("lang")
    )


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type matrix via PIVOT: one partial-agg shuffle on
    day, event types spread to columns (Catalyst rewrites pivot to
    conditional aggregation — exactly the oracle's FILTER form)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .orderBy("day")
    )


def _events_pivot_oracle() -> str:
    cols = ", ".join(
        f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS {t}"
        for t in ["click", "error", "purchase", "signup", "view"]
    )
    return f"""
        SELECT date_trunc('day', ts) AS day, {cols}
        FROM events GROUP BY 1 ORDER BY day
    """


def q_hybrid_dedup_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID dedup: lexical MinHash-LSH candidates (capped buckets)
    verified by embedding cosine — the cross-modal shape real corpora
    need, where shared boilerplate makes texts collide lexically but
    only true semantic duplicates score high. Pair generation is the
    bounded LSH stage; the verification is O(candidates): two joins
    against the normed embedding projection."""
    from geo_inference_spark.text.similarity import cosine_for_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = DD.lsh_candidate_pairs(docs, max_bucket=64)
    return cosine_for_pairs(pairs, emb).orderBy("id1", "id2")


def _hybrid_dedup_verify_oracle() -> str:
    from geo_inference_spark.text.similarity import cosine_for_pairs_oracle_cte

    pairs = DD.lsh_pairs_oracle_sql(max_bucket=64).strip()
    assert pairs.endswith("ORDER BY id1, id2")
    pairs = pairs[: -len("ORDER BY id1, id2")]
    return f"""
WITH pr AS ({pairs}),
n AS ({cosine_for_pairs_oracle_cte()})
SELECT pr.id1, pr.id2,
       round(
         list_aggregate(
           list_transform(range(1, len(a.vv) + 1),
                          i -> list_extract(a.vv, i) * list_extract(b.vv, i)),
           'sum') / (sqrt(a.nrm) * sqrt(b.nrm)), 6) AS cos
FROM pr JOIN n a ON pr.id1 = a.id JOIN n b ON pr.id2 = b.id
ORDER BY id1, id2
"""


def q_events_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface (SURVEY §2.7): users who both clicked AND
    purchased (INTERSECT -> left-semi plan) minus heavy-error users
    (EXCEPT -> left-anti plan), counted with extremes. Both
    set ops are DISTINCT semantics in both engines."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def users(t: str) -> DataFrame:
        return ev.filter(F.col("event_type") == t).select("user_id")

    both = users("click").intersect(users("purchase"))
    heavy_err = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 14)
        .select("user_id")
    )
    clean = both.subtract(heavy_err)  # EXCEPT (distinct) semantics
    return clean.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("user_id").alias("min_id"),
        F.max("user_id").alias("max_id"),
    )


EVENTS_SETOPS_ORACLE = """
WITH both_u AS (
  SELECT user_id FROM events WHERE event_type = 'click'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'purchase'
), clean AS (
  SELECT user_id FROM both_u
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'error'
  GROUP BY user_id HAVING count(*) > 14
)
SELECT count(*) AS n_users, min(user_id) AS min_id, max(user_id) AS max_id
FROM clean
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's END PRODUCT: per near-dup cluster, keep
    the highest-quality member (ties by doc_id). Composes the
    distributed connected-components clustering with the quality
    scorer — cluster assignment AND the keep decision are both
    value-checked against the recursive-CTE + window oracle."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    clusters = DD.dedup_clusters(docs)
    # spread the slim projection before the interpreted quality
    # expressions: a 1-2-row-group parquet scan is 1-2 partitions, so
    # the aggregate/transform token folds otherwise run on 2 cores
    # (event-log measured 0.74 s in a 2-task stage). Conditional — a
    # real multi-file table keeps its scan partitioning.
    qsrc = spread(docs.select("doc_id", "text"))
    quality = TA.with_quality(qsrc).select("doc_id", "quality_score")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        clusters.join(quality, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_id"),
            F.col("quality_score").alias("keep_quality"),
        )
        .orderBy("cluster_id")
    )


def _length_quantiles_oracle() -> str:
    return """
        SELECT lang,
               round(quantile_cont(length(text), 0.5), 6) AS p50,
               round(quantile_cont(length(text), 0.9), 6) AS p90,
               round(quantile_cont(length(text), 0.99), 6) AS p99,
               count(*) AS n_docs
        FROM documents GROUP BY lang ORDER BY lang
    """


def _dedup_keep_best_oracle() -> str:
    clusters = DD.dedup_clusters_oracle_sql().strip()
    q = TA.quality_exprs(P.DUCK)["quality_score"]
    return f"""
        WITH qual AS (SELECT doc_id, {q} AS quality_score FROM documents)
        SELECT cluster_id, doc_id AS keep_id, quality_score AS keep_quality
        FROM (
          SELECT c.cluster_id, c.doc_id, qual.quality_score,
                 row_number() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY qual.quality_score DESC, c.doc_id
                 ) AS rn
          FROM ({clusters}) c JOIN qual USING (doc_id)
        ) WHERE rn = 1 ORDER BY cluster_id
    """


# --------------------------------------------------------------- similarity

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb, embedding_queries(emb, n=4), k=5)


def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact, threshold 0.4)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_pairs(emb, threshold=0.4)


def q_srp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN (bucketed multi-probe). Value-exact oracle: the
    Rademacher signature is the same SQL expression in DuckDB, and the
    enumerated probes == Hamming distance <= probe_bits, so the twin
    computes identical candidates; recall vs brute force is pinned in
    tests/test_similarity.py."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return srp_lsh_topk(spark, emb, embedding_queries(emb, n=4), k=5)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (kmeans lists + n_probe scan + exact
    re-rank). Value-exact oracle: the kmeans trains driver-side on a
    bounded deterministic sample, so the DuckDB twin trains the SAME
    centroids and embeds them as literals — assignment and probing are
    the identical left-fold argmax in both engines. Recall pinned in
    tests/test_similarity.py."""
    from geo_inference_spark.text.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(spark, emb, embedding_queries(emb, n=4), k=5)


def q_cosine_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10^12-row near-dup pair path: SRP band signatures ->
    bucket self-join -> exact cosine refine on candidates only. The
    DuckDB oracle computes the identical bucketed candidates (same
    Rademacher planes as SQL literals)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_pairs_lsh(emb, threshold=0.4)


# --------------------------------------------------------------- events

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via lag window."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    return (
        marked.groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click gets the latest same-user error at or
    before it (union + ordered window; DuckDB native ASOF oracle)."""
    from geo_inference_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.round("value", 2).alias("err_value"), "event_id"
    )
    out = asof_join(
        clicks, errors, key="user_id",
        right_payload=("ts", "err_value"), right_id="event_id",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("ts_r").alias("err_ts"), F.col("err_value_r").alias("err_value"),
    ).orderBy("event_id")


def q_events_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type (expand-then-partial-agg).

    The 100TB path is approx_count_distinct (HLL sketch) — its value
    is engine-specific so it cannot join the oracle hash; tests pin it
    within 5% of the exact count instead (tests/test_asof.py)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join: per order-week window of a few
    customers, count lineitems shipping inside it."""
    from geo_inference_spark.operators.interval_join import interval_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    iv = orders.filter(F.col("o_custkey") < 5).select(
        "o_orderkey",
        F.col("o_orderdate").alias("start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("end"),
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_shipdate").alias("ts")
    )
    out = interval_join(li, iv, bucket_seconds=7 * 86400)
    return (
        out.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_shipments"))
        .orderBy("o_orderkey")
    )


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.avg(k), 6).alias("avg_k"),
            F.max(k).alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


def q_pages_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 web-payload analogue: html -> text extraction UDF with the
    per-url byte-identity invariant, reported as counts. Hash-checked
    against a literal (5000, 5000) VALUES oracle — the invariant
    (n_identical == n_pages) is the value the gate certifies."""
    import pandas as pd

    from geo_inference_spark.sources.pages import extract_text_bytes, pages_df

    pages = pages_df(spark, 5000, partitions=16)

    def check(batches):
        for pdf in batches:
            ok = sum(
                extract_text_bytes(bytes(h)) == t
                for h, t in zip(pdf["html"], pdf["text"])
            )
            yield pd.DataFrame({"n_pages": [len(pdf)], "n_identical": [ok]})

    agg = pages.mapInPandas(check, "n_pages long, n_identical long")
    return agg.agg(
        F.sum("n_pages").alias("n_pages"),
        F.sum("n_identical").alias("n_identical"),
    )


def q_cell_counts_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-cell counts via the explicit two-phase SALTED aggregation
    (operators/salting.py) — the skew mitigation for heavy-tailed
    geo keys, value-checked against a plain GROUP BY oracle (salting
    is algebraically invisible for associative aggregates)."""
    from geo_inference_spark.operators.geocode import hex_cell_sql
    from geo_inference_spark.operators.salting import salted_agg

    docs = _docs_with_latlon(spark, sf_dir).select(
        F.expr(hex_cell_sql(5)).alias("cell")
    )
    out = salted_agg(docs, ["cell"], {"n_pages": ("*", "count")}, n=16)
    return (
        out.orderBy(F.desc("n_pages"), "cell")
        .limit(50)
        .select("cell", F.col("n_pages").cast("long").alias("n_pages"))
    )


def _cell_counts_salted_oracle() -> str:
    from geo_inference_spark.operators.geocode import hex_cell_sql

    cell = hex_cell_sql(5, dialect="duck")
    return f"""
        WITH pts AS (
          SELECT {LON_SQL} AS lon, {LAT_SQL} AS lat FROM documents
        ), c AS (
          SELECT {cell} AS cell, count(*) AS n_pages FROM pts GROUP BY 1
        )
        SELECT cell, CAST(n_pages AS BIGINT) AS n_pages FROM c
        ORDER BY n_pages DESC, cell LIMIT 50
    """


def q_cell_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell top-3 documents by text length via the two-phase
    SALTED top-k (operators/salting.py salted_topk) — the skew-safe
    form of Window.partitionBy(cell): a hot cell holding 30% of a
    10^12-row table splits across n salt tasks with n*k bounded
    partials instead of one straggler task. Salting is algebraically
    invisible (top-k is associative), so the oracle is a plain
    QUALIFY window."""
    from geo_inference_spark.operators.geocode import hex_cell_sql
    from geo_inference_spark.operators.salting import salted_topk

    docs = _docs_with_latlon(spark, sf_dir).select(
        F.expr(hex_cell_sql(0)).alias("cell"),
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
    )
    out = salted_topk(
        docs, ["cell"], "text_len", k=3, n=8, tie_col="doc_id"
    )
    return out.select("cell", "doc_id", "text_len", "rn").orderBy(
        "cell", "rn"
    )


def _cell_topk_salted_oracle() -> str:
    from geo_inference_spark.operators.geocode import hex_cell_sql

    cell = hex_cell_sql(0, dialect="duck")
    return f"""
        WITH pts AS (
          SELECT doc_id, {LON_SQL} AS lon, {LAT_SQL} AS lat,
                 CAST(length(text) AS BIGINT) AS text_len
          FROM documents
        ), c AS (
          SELECT {cell} AS cell, doc_id, text_len FROM pts
        )
        SELECT cell, doc_id, text_len,
               CAST(row_number() OVER (
                 PARTITION BY cell ORDER BY text_len DESC, doc_id
               ) AS INT) AS rn
        FROM c QUALIFY rn <= 3
        ORDER BY cell, rn
    """


def q_geocode_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-res hex geocode surface: distinct cell counts at res 7-10
    over the documents table, computed by the pure whole-stage-codegen
    SQL geocode (hex_cell_sql) — the DuckDB twin is the same
    expression in the duck dialect, bit-identical per cell id. (S2
    level-12 geocode stays pytest-pinned: its Hilbert-curve math has
    no SQL twin; see tests/test_grid.py.)

    Spark side uses the Arrow UDF geocode: bit-parity with
    hex_cell_sql is property-pinned (tests/test_grid.py), the four
    resolutions fuse into ONE ArrowEvalPython pass, and the UDF is
    measured ~8x faster than four independent SQL expression trees
    (pip_join.py measurement; VERDICT r4 flagged the 4-tree variant
    as the round's one perf regression, 0.98 -> 2.11 s)."""
    from geo_inference_spark.operators.geocode import hex_cell_udf

    docs = _docs_with_latlon(spark, sf_dir)
    cells = docs.select(
        *[hex_cell_udf(r)(F.col("lat"), F.col("lon")).alias(f"c{r}")
          for r in (7, 8, 9, 10)]
    )
    return cells.agg(
        *[F.count_distinct(f"c{r}").alias(f"n_h{r}") for r in (7, 8, 9, 10)]
    )


def _geocode_cells_oracle() -> str:
    from geo_inference_spark.operators.geocode import hex_cell_sql

    counts = ", ".join(
        f"count(DISTINCT {hex_cell_sql(r, dialect='duck')}) AS n_h{r}"
        for r in (7, 8, 9, 10)
    )
    return f"""
        WITH pts AS (
          SELECT {LON_SQL} AS lon, {LAT_SQL} AS lat FROM documents
        )
        SELECT {counts} FROM pts
    """


# --------------------------------------------------------------- multimodal

def q_media_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary byte stats (text re-encoded as the payload)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    blob = F.expr("octet_length(encode(text, 'utf-8'))")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(blob.cast("long")).alias("total_bytes"),
            F.max(blob.cast("long")).alias("max_bytes"),
        )
        .orderBy("source")
    )


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode plumbing (stubbed codec, md5-derived so DuckDB
    reproduces every field — value-exact oracle check)."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.col("doc_id").alias("page_id"),
            F.encode("text", "utf-8").alias("html"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return decode_media(docs).orderBy("id")


def _media_decode_oracle() -> str:
    """DuckDB twin of the md5-derived fake decode: hex-digit pairs of
    md5(text) reproduce the digest bytes, ascii codepoints reproduce
    the payload bytes (the synthetic text is pure ASCII)."""
    def byte(i: int) -> str:  # digest byte i from hex chars 2i+1, 2i+2
        d1 = f"(strpos('0123456789abcdef', substr(hx, {2 * i + 1}, 1)) - 1)"
        d2 = f"(strpos('0123456789abcdef', substr(hx, {2 * i + 2}, 1)) - 1)"
        return f"({d1} * 16 + {d2})"

    return f"""
        WITH h AS (
          SELECT doc_id AS id, text AS t, md5(text) AS hx FROM documents
        )
        SELECT id, 'image' AS media_type,
               CAST(octet_length(encode(t)) AS BIGINT) AS n_bytes,
               CAST(64 + {byte(0)} % 192 AS INT) AS width,
               CAST(64 + {byte(1)} % 192 AS INT) AS height,
               CAST(1 + {byte(2)} % 3 AS INT) AS channels,
               round(list_aggregate(
                       list_transform(range(1, length(t) + 1),
                                      i -> CAST(ascii(substr(t, i, 1)) AS DOUBLE)),
                       'sum') / CAST(length(t) AS DOUBLE), 6) AS mean_byte,
               hx AS md5
        FROM h ORDER BY id
    """


def q_media_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode through the from-scratch baseline codec
    (sources/jpeg.py): every 11th document forges a deterministic JPEG
    payload executor-side (varied gray/4:4:4/4:2:0, quality, restart
    intervals) and decode_media reports true width/height/channels and
    the mean over decoded pixels. Oracle: literal VALUES from
    jpeg.expected_decode — the analytic quantize->IDCT expectation
    that never touches the decoder's marker/Huffman/bitstream layers,
    so the gate certifies the whole entropy-coding path (VERDICT r4
    #1: this was the last md5-stubbed datum in the pipeline)."""
    import pandas as pd

    from geo_inference_spark.text.multimodal import decode_media, forge_jpeg

    # repartition the slim id projection: the sf-dir parquet is a
    # single file -> one scan partition, which would run the forge +
    # decode mapInPandas on ONE core (measured 18 s -> ~1 s at 32)
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .filter(F.col("doc_id") % 11 == 0)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def forge(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "page_id": pdf["doc_id"].astype("int64"),
                "html": [forge_jpeg(int(d)) for d in pdf["doc_id"]],
            })

    payloads = docs.mapInPandas(forge, "page_id long, html binary")
    return (
        decode_media(payloads)
        .select("id", "width", "height", "channels", "mean_byte")
        .orderBy("id")
    )


def _media_decode_jpeg_oracle() -> str:
    import os

    import pyarrow.parquet as pq

    from geo_inference_spark.text.multimodal import expected_jpeg_stats

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    ids = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id"]
    )["doc_id"].to_numpy()
    rows = []
    for d in sorted(int(v) for v in ids if v % 11 == 0):
        w, h, c, m = expected_jpeg_stats(d)
        rows.append(f"({d}, {w}, {h}, {c}, {m!r})")
    vals = ", ".join(rows)
    return (
        "SELECT CAST(id AS BIGINT) AS id, CAST(width AS INT) AS width,"
        " CAST(height AS INT) AS height, CAST(channels AS INT) AS channels,"
        " CAST(mean_byte AS DOUBLE) AS mean_byte"
        f" FROM (VALUES {vals}) AS t(id, width, height, channels, mean_byte)"
        " ORDER BY id"
    )


def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the from-scratch RIFF/WAVE codec
    (sources/wav.py): every 9th document forges a deterministic PCM16
    WAV executor-side; decode_audio reports true sample rate,
    channels, sample count, duration and RMS. Oracle: literal VALUES
    from the pre-encode samples (PCM16 roundtrips exactly — the
    expectation never touches the decoder)."""
    import pandas as pd

    from geo_inference_spark.text.multimodal import decode_audio, forge_wav

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .filter(F.col("doc_id") % 9 == 0)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def forge(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "page_id": pdf["doc_id"].astype("int64"),
                "html": [forge_wav(int(d)) for d in pdf["doc_id"]],
            })

    payloads = docs.mapInPandas(forge, "page_id long, html binary")
    return decode_audio(payloads).orderBy("id")


def _audio_decode_oracle() -> str:
    import os

    import pyarrow.parquet as pq

    from geo_inference_spark.text.multimodal import expected_wav_stats

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    ids = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id"]
    )["doc_id"].to_numpy()
    rows = []
    for d in sorted(int(v) for v in ids if v % 9 == 0):
        rate, ch, n, dur, rms = expected_wav_stats(d)
        rows.append(f"({d}, {rate}, {ch}, {n}, {dur!r}, {rms!r})")
    vals = ", ".join(rows)
    return (
        "SELECT CAST(id AS BIGINT) AS id,"
        " CAST(sample_rate AS INT) AS sample_rate,"
        " CAST(channels AS INT) AS channels,"
        " CAST(n_samples AS BIGINT) AS n_samples,"
        " CAST(duration_ms AS DOUBLE) AS duration_ms,"
        " CAST(rms AS DOUBLE) AS rms"
        f" FROM (VALUES {vals})"
        " AS t(id, sample_rate, channels, n_samples, duration_ms, rms)"
        " ORDER BY id"
    )


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Common-Crawl ingest edge: documents forged into a real
    .warc.gz (one gzip member per record — the splittable layout),
    then scanned back by the DISTRIBUTED WARC reader (driver only
    stats the file; each task owns a byte range and synchronizes to
    verified member boundaries). Value-exact per-row check of url,
    byte length and payload md5 — the north rule's byte-identity
    invariant at the ingest step."""
    from datetime import datetime, timezone

    from geo_inference_spark.sources.warc import (
        forge_warc_distributed,
        read_warc,
    )

    sf_tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    path = f"/tmp/graft_warc_ingest_{sf_tag}.warc.gz"
    # always rewrite: a stale fixture from an older writer must never
    # poison the gate (same rule as the TIFF codec-chain fixture).
    # The forge builds + gzips the members on executors (record order
    # in the archive is irrelevant — consumers key on URL); only the
    # sequential append stays on the driver.
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.concat(
                F.lit("https://example.org/doc/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            F.encode("text", "utf-8").alias("payload"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    forge_warc_distributed(
        docs, path, ts=datetime(2024, 1, 1, tzinfo=timezone.utc)
    )
    out = read_warc(spark, path)
    return out.select(
        "url",
        F.expr("octet_length(html)").cast("long").alias("n_bytes"),
        F.md5("html").alias("payload_md5"),
    ).orderBy("url")


def q_warc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL ingest chain: documents wrapped as HTML pages, written
    to a real .warc.gz, scanned back by the distributed WARC reader,
    then the html->text extraction UDF recovers the text — per-row
    md5(extracted) must equal md5(documents.text) (the north rule's
    byte-identical-extracted-text invariant, carried through the
    entire crawl->archive->scan->extract path)."""
    import hashlib
    from datetime import datetime, timezone

    import pandas as pd

    from geo_inference_spark.sources.pages import (
        build_html,
        extract_text_bytes,
    )
    from geo_inference_spark.sources.warc import (
        forge_warc_distributed,
        read_warc,
    )

    sf_tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    path = f"/tmp/graft_warc_pipeline_{sf_tag}.warc.gz"
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def mk_pages(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(np.uint64)
            htmls = build_html(ids, pdf["text"].to_numpy())
            yield pd.DataFrame({
                "url": [f"https://example.org/doc/{int(d)}" for d in ids],
                "payload": [bytes(h) for h in htmls],
            })

    forge_warc_distributed(
        docs.mapInPandas(mk_pages, "url string, payload binary"),
        path,
        ts=datetime(2024, 1, 1, tzinfo=timezone.utc),
    )

    def extract(batches):
        for pdf in batches:
            texts = [extract_text_bytes(bytes(h)) for h in pdf["html"]]
            yield pd.DataFrame({
                "url": pdf["url"],
                "text_len": [len(t) for t in texts],
                "text_md5": [
                    hashlib.md5(t.encode("utf-8")).hexdigest()
                    for t in texts
                ],
            })

    out = read_warc(spark, path).mapInPandas(
        extract, "url string, text_len long, text_md5 string"
    )
    return out.orderBy("url")


def _warc_pipeline_oracle() -> str:
    return """
        SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR)
                 AS url,
               CAST(length(text) AS BIGINT) AS text_len,
               md5(text) AS text_md5
        FROM documents ORDER BY url
    """


def q_warc_indexed_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-index random access: the archive analogue of partition
    pruning. A (url, offset, length) index is written alongside the
    .warc.gz; fetching every 7th document touches ONLY those members
    via seek+read — the file is never scanned. Value-exact against
    the documents table filtered the same way."""
    from datetime import datetime, timezone

    from geo_inference_spark.sources.warc import (
        fetch_warc_records,
        forge_warc_distributed,
    )

    sf_tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    path = f"/tmp/graft_warc_idx_{sf_tag}.warc.gz"
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.concat(
                F.lit("https://example.org/doc/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            F.encode("text", "utf-8").alias("payload"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    idx = forge_warc_distributed(
        docs, path, ts=datetime(2024, 1, 1, tzinfo=timezone.utc)
    )
    doc_ids = idx["url"].str.rsplit("/", n=1).str[1].astype("int64")
    want = idx[(doc_ids % 7) == 0]
    out = fetch_warc_records(spark, path, spark.createDataFrame(want))
    return out.select(
        "url",
        F.expr("octet_length(html)").cast("long").alias("n_bytes"),
        F.md5("html").alias("payload_md5"),
    ).orderBy("url")


def _warc_indexed_fetch_oracle() -> str:
    return """
        SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR)
                 AS url,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id % 7 = 0 ORDER BY url
    """


def _warc_ingest_oracle() -> str:
    return """
        SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR)
                 AS url,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents ORDER BY url
    """


# --------------------------------------------------------------- raster ops

def q_overlap_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster inference -> Hann-overlap stitch -> distributed
    polygonize, on a deterministic synthetic raster. Oracle: literal
    VALUES generated by the dense single-process reference pipeline
    (raster/dense.py + raster/polygonize.py — the pytest-proven global
    path), so the driver gate value-checks the whole distributed
    stitch + connected-components + ring chain."""
    rng = np.random.RandomState(42)
    arr = rng.uniform(0, 255, size=(2, 32, 48))
    model = make_linear_model(num_classes=3)
    chunks, ny, nx = raster_to_chunks(spark, arr, 8)
    tiles = overlap_stitch(chunks, model, 2, 8, ny, nx, 3)
    return polygonize_tiles(spark, tiles, 8, min_area=2.0).select(
        "poly_id", "value", "area"
    ).orderBy("poly_id")


def _overlap_polygonize_oracle() -> str:
    """Dense reference pipeline -> (poly_id, value, area) VALUES."""
    from geo_inference_spark.geom.core import polygon_area
    from geo_inference_spark.raster.dense import dense_infer_mask
    from geo_inference_spark.raster.polygonize import (
        boundary_edges,
        chain_rings,
        label_components,
        rings_to_polygon,
        split_edges_by_label,
    )

    rng = np.random.RandomState(42)
    arr = rng.uniform(0, 255, size=(2, 32, 48))
    # the query stitches with stride 8, i.e. patch 16
    mask = dense_infer_mask(arr, make_linear_model(3), 16, 3)
    w = mask.shape[1]
    lab = label_components(mask)
    rows = []
    for comp, comp_edges in split_edges_by_label(boundary_edges(lab)):
        rings = rings_to_polygon(chain_rings(comp_edges))
        area = polygon_area(rings)
        if area < 2.0:
            continue
        y, x = divmod(int(comp), w)
        rows.append(((y << 32) + x, float(mask[y, x]), float(area)))
    vals = ", ".join(f"({pid}, {v!r}, {a!r})" for pid, v, a in rows)
    return (
        "SELECT CAST(poly_id AS BIGINT) AS poly_id,"
        " CAST(value AS DOUBLE) AS value, CAST(area AS DOUBLE) AS area"
        f" FROM (VALUES {vals}) AS t(poly_id, value, area)"
        " ORDER BY poly_id"
    )


def q_raster_scan_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL S1->R3 chain through the real codec: a deterministic
    raster written as an LZW GeoTIFF by the from-scratch writer, read
    back by the DISTRIBUTED executor-side windowed scan (driver
    parses only the IFD), stitched and polygonized. Oracle: literal
    VALUES from the dense single-process reference pipeline on the
    identical (float32-rounded) array — so the gate value-checks the
    codec, the windowed scan, the stitch and the distributed
    connected components in one chain."""
    from geo_inference_spark.sources.tiff import (
        read_geotiff_chunks_distributed,
        write_geotiff,
    )

    rng = np.random.RandomState(43)
    arr32 = rng.uniform(0, 255, size=(2, 32, 48)).astype(np.float32)
    # always rewrite the 12 KB fixture: a stale file from an older
    # writer version must never poison the codec-chain gate (ADVICE r3)
    path = "/tmp/graft_scan_seed43_lzw.tif"
    write_geotiff(arr32, path, compression="lzw")
    chunks, ny, nx, meta = read_geotiff_chunks_distributed(spark, path, 8)
    model = make_linear_model(num_classes=3)
    tiles = overlap_stitch(chunks, model, 2, 8, ny, nx, 3)
    return polygonize_tiles(spark, tiles, 8, min_area=2.0).select(
        "poly_id", "value", "area"
    ).orderBy("poly_id")


def _raster_scan_polygonize_oracle() -> str:
    """Dense reference pipeline on the float32-rounded array."""
    from geo_inference_spark.geom.core import polygon_area
    from geo_inference_spark.raster.dense import dense_infer_mask
    from geo_inference_spark.raster.polygonize import (
        boundary_edges,
        chain_rings,
        label_components,
        rings_to_polygon,
        split_edges_by_label,
    )

    rng = np.random.RandomState(43)
    arr = rng.uniform(0, 255, size=(2, 32, 48)).astype(np.float32).astype(
        np.float64
    )
    mask = dense_infer_mask(arr, make_linear_model(3), 16, 3)
    w = mask.shape[1]
    lab = label_components(mask)
    rows = []
    for comp, comp_edges in split_edges_by_label(boundary_edges(lab)):
        rings = rings_to_polygon(chain_rings(comp_edges))
        area = polygon_area(rings)
        if area < 2.0:
            continue
        y, x = divmod(int(comp), w)
        rows.append(((y << 32) + x, float(mask[y, x]), float(area)))
    vals = ", ".join(f"({pid}, {v!r}, {a!r})" for pid, v, a in rows)
    return (
        "SELECT CAST(poly_id AS BIGINT) AS poly_id,"
        " CAST(value AS DOUBLE) AS value, CAST(area AS DOUBLE) AS area"
        f" FROM (VALUES {vals}) AS t(poly_id, value, area)"
        " ORDER BY poly_id"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pip_count_per_area": q_pip_count,
        "knn_documents": q_knn,
        "knn_documents_geo": q_knn_geo,
        "geo_radius_count": q_radius_count,
        "dedup_exact": q_exact_dedup,
        "dedup_minhash_lsh": q_minhash_lsh,
        "dedup_lsh_collapsed": q_lsh_collapsed,
        "dedup_clusters": q_dedup_clusters,
        "dedup_jaccard_pairs": q_jaccard_pairs,
        "dedup_simhash": q_simhash,
        "text_token_stats": q_token_stats,
        "text_langid": q_langid,
        "text_quality": q_quality,
        "text_token_counts": q_token_counts,
        "text_fingerprints": q_fingerprints,
        "text_length_quantiles": q_length_quantiles,
        "text_top_tokens": q_top_tokens,
        "text_sample_stratified": q_sample_stratified,
        "text_split_assign": q_split_assign,
        "text_tfidf_top": q_tfidf_top,
        "dedup_keep_best": q_dedup_keep_best,
        "ann_cosine_topk": q_cosine_topk,
        "ann_cosine_pairs": q_cosine_pairs,
        "ann_cosine_pairs_lsh": q_cosine_pairs_lsh,
        "ann_srp_lsh_topk": q_srp_lsh_topk,
        "ann_ivf_topk": q_ivf_topk,
        "events_hourly": q_events_hourly,
        "events_sessions": q_events_sessions,
        "events_asof": q_events_asof,
        "events_distinct": q_events_distinct,
        "events_json": q_events_json,
        "interval_join_shipments": q_interval_join,
        "pages_extract_identity": q_pages_extract,
        "geocode_cells": q_geocode_cells,
        "cell_counts_salted": q_cell_counts_salted,
        "cell_topk_salted": q_cell_topk_salted,
        "media_byte_stats": q_media_bytes,
        "media_decode": q_media_decode,
        "media_decode_jpeg": q_media_decode_jpeg,
        "audio_decode": q_audio_decode,
        "warc_ingest": q_warc_ingest,
        "warc_pipeline": q_warc_pipeline,
        "warc_indexed_fetch": q_warc_indexed_fetch,
        "raster_overlap_polygonize": q_overlap_polygonize,
        "raster_scan_polygonize": q_raster_scan_polygonize,
        # --- ordering note (VERDICT r5 #6): the driver's CORRECTNESS
        # artifact covers the FIRST 50 queries, so the newest /
        # highest-risk surface (warc_*, media_decode_jpeg,
        # audio_decode, hybrid_dedup_verify, the event set-ops) sits
        # above this line or directly below it, and the mature
        # TPC-H-shape queries rotate to the tail (they stay fully
        # oracle-checked by scripts/check_oracle.py and the sf0.1
        # gate log). Names and oracle SQL are unchanged.
        "hybrid_dedup_verify": q_hybrid_dedup_verify,
        "events_setops": q_events_setops,
        "events_pivot_daily": q_events_pivot,
        "events_retention": R.q_user_retention,
        "rel_order_quartiles": R.q_order_quartiles,
        "rel_q1_pricing_summary": R.q1_pricing_summary,
        "rel_q3_shipping_priority": R.q3_shipping_priority,
        "rel_q5_local_supplier_volume": R.q5_local_supplier_volume,
        "rel_q6_revenue_by_year": R.q6_revenue_by_year,
        "rel_q4_priority_semi_join": R.q4_priority_semi_join,
        "rel_top_orders_per_customer": R.q_top_orders_per_customer,
        "rel_rollup_region_nation": R.q_rollup_region_nation,
        "rel_q7_nation_trade": R.q7_nation_trade_volume,
        "rel_q19_disjunctive": R.q19_disjunctive_revenue,
        "rel_q13_cust_distribution": R.q13_customer_distribution,
        "rel_inactive_customers": R.q_inactive_customers,
    }


def _langid_oracle() -> str:
    e = TA.langid_exprs(P.DUCK)
    cols = ", ".join(f"{expr} AS {name}" for name, expr in e.items())
    return f"SELECT doc_id, {cols} FROM documents ORDER BY doc_id"


def _quality_oracle() -> str:
    e = TA.quality_exprs(P.DUCK)
    return f"""
        WITH q AS (SELECT source, {e['n_tokens']} AS n_tokens,
                          {e['quality_score']} AS quality_score,
                          {e['type_token_ratio']} AS ttr
                   FROM documents)
        SELECT source, count(*) AS n_docs,
               round(avg(n_tokens), 6) AS avg_tokens,
               round(avg(quality_score), 6) AS avg_quality,
               round(avg(ttr), 6) AS avg_ttr
        FROM q GROUP BY source ORDER BY source
    """


def _token_counts_oracle() -> str:
    e = TA.token_count_exprs(P.DUCK)
    return (
        f"SELECT doc_id, {e['ws_tokens']} AS ws_tokens, "
        f"{e['subword_tokens']} AS subword_tokens "
        "FROM documents ORDER BY doc_id"
    )


def _knn_oracle() -> str:
    qvals = ", ".join(f"({q}, {la}, {lo})" for q, la, lo in KNN_QUERIES)
    return f"""
        WITH pts AS (
          SELECT doc_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM documents
        ), q(qid, qlat, qlon) AS (VALUES {qvals})
        SELECT qid, doc_id,
               round(sqrt((lon - qlon) * (lon - qlon)
                        + (lat - qlat) * (lat - qlat)), 6) AS dist,
               CAST(row_number() OVER (
                 PARTITION BY qid
                 ORDER BY sqrt((lon - qlon) * (lon - qlon)
                             + (lat - qlat) * (lat - qlat)), doc_id
               ) AS INT) AS rn
        FROM pts CROSS JOIN q
        QUALIFY rn <= {KNN_K}
        ORDER BY qid, rn
    """


def oracle_sql() -> dict[str, str]:
    return {
        "pip_count_per_area": f"""
            SELECT {GRID_AREA_SQL} AS area_id, count(*) AS cnt
            FROM documents GROUP BY 1 ORDER BY area_id
        """,
        "knn_documents": _knn_oracle(),
        "knn_documents_geo": _knn_geo_oracle(),
        "geo_radius_count": _radius_count_oracle(),
        "dedup_exact": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
                   count(*) AS dup_cnt
            FROM documents GROUP BY 1 ORDER BY keep_id
        """,
        "dedup_minhash_lsh": DD.lsh_pairs_oracle_sql(max_bucket=64),
        "dedup_lsh_collapsed": DD.lsh_collapsed_oracle_sql(),
        "dedup_clusters": DD.dedup_clusters_oracle_sql(),
        "dedup_jaccard_pairs": DD.jaccard_pairs_oracle_sql(threshold=0.5),
        "dedup_simhash": DD.simhash_oracle_sql(),
        "text_token_stats": """
            SELECT lang, count(*) AS n_docs,
                   cast(sum(len(regexp_split_to_array(trim(text), '\\s+'))) as bigint) AS total_tokens,
                   round(avg(length(text)), 2) AS avg_chars
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "text_langid": _langid_oracle(),
        "text_quality": _quality_oracle(),
        "text_token_counts": _token_counts_oracle(),
        "text_fingerprints": (
            f"SELECT doc_id, {TA.fingerprint_expr(P.DUCK)} AS n_fingerprints "
            "FROM documents ORDER BY doc_id"
        ),
        "text_length_quantiles": _length_quantiles_oracle(),
        "text_top_tokens": _top_tokens_oracle(),
        "text_sample_stratified": """
            SELECT lang, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   min(doc_id) AS min_id, max(doc_id) AS max_id
            FROM documents WHERE substring(md5(text), 1, 2) < '1a'
            GROUP BY lang ORDER BY lang
        """,
        "text_split_assign": """
            WITH s AS (
              SELECT lang, n_chars,
                     CASE WHEN substring(md5(text), 1, 2) < 'e6' THEN 'train'
                          WHEN substring(md5(text), 1, 2) < 'f3' THEN 'val'
                          ELSE 'test' END AS split
              FROM documents
            )
            SELECT lang, split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM s GROUP BY lang, split ORDER BY lang, split
        """,
        "text_tfidf_top": _tfidf_top_oracle(),
        "dedup_keep_best": _dedup_keep_best_oracle(),
        "ann_cosine_topk": cosine_topk_oracle_sql(n_queries=4, k=5),
        "ann_cosine_pairs": cosine_pairs_oracle_sql(threshold=0.4),
        "ann_cosine_pairs_lsh": cosine_pairs_lsh_oracle_sql(threshold=0.4),
        "ann_srp_lsh_topk": srp_lsh_topk_oracle_sql(n_queries=4, k=5),
        # the twin trains its literal centroids on the same rows the
        # Spark query trains on at the gate's scale factor. The driver
        # compares at sf0.01 (the default); a gate running at another
        # sf must export SPARK_GRAFT_ORACLE_SF so the twin trains on
        # the matching table instead of silently diverging (ADVICE r3).
        "ann_ivf_topk": ivf_topk_oracle_sql(
            os.environ.get(
                "SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01"
            )
            + "/embeddings.parquet",
            n_queries=4,
            k=5,
        ),
        # the invariant IS the assertion: every synthetic page's
        # extracted text must be byte-identical to the stored text
        "pages_extract_identity": (
            "SELECT CAST(5000 AS BIGINT) AS n_pages,"
            " CAST(5000 AS BIGINT) AS n_identical"
        ),
        "geocode_cells": _geocode_cells_oracle(),
        "cell_counts_salted": _cell_counts_salted_oracle(),
        "cell_topk_salted": _cell_topk_salted_oracle(),
        "media_decode": _media_decode_oracle(),
        "media_decode_jpeg": _media_decode_jpeg_oracle(),
        "audio_decode": _audio_decode_oracle(),
        "warc_ingest": _warc_ingest_oracle(),
        "warc_pipeline": _warc_pipeline_oracle(),
        "warc_indexed_fetch": _warc_indexed_fetch_oracle(),
        "raster_overlap_polygonize": _overlap_polygonize_oracle(),
        "raster_scan_polygonize": _raster_scan_polygonize_oracle(),
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type
        """,
        "events_sessions": """
            WITH g AS (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            )
            SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id ORDER BY user_id
        """,
        "events_asof": """
            SELECT c.event_id, c.user_id, c.ts,
                   e.ts AS err_ts, round(e.value, 2) AS err_value
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
              ON c.user_id = e.user_id AND c.ts >= e.ts
            ORDER BY c.event_id
        """,
        "events_distinct": """
            SELECT event_type, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "events_json": """
            SELECT event_type,
                   round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
                   max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                   count(*) AS n
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "media_byte_stats": """
            SELECT source, count(*) AS n,
                   cast(sum(octet_length(encode(text))) as bigint) AS total_bytes,
                   cast(max(octet_length(encode(text))) as bigint) AS max_bytes
            FROM documents GROUP BY source ORDER BY source
        """,
        "interval_join_shipments": """
            SELECT o_orderkey, count(*) AS n_shipments
            FROM (SELECT o_orderkey, o_orderdate AS s,
                         o_orderdate + INTERVAL 7 DAY AS e
                  FROM orders WHERE o_custkey < 5) iv
            JOIN lineitem ON l_shipdate >= iv.s AND l_shipdate < iv.e
            GROUP BY o_orderkey ORDER BY o_orderkey
        """,
        "rel_q1_pricing_summary": R.Q1_ORACLE,
        "rel_q3_shipping_priority": R.Q3_ORACLE,
        "rel_q5_local_supplier_volume": R.Q5_ORACLE,
        "rel_q6_revenue_by_year": R.Q6_ORACLE,
        "rel_q4_priority_semi_join": R.Q4_ORACLE,
        "rel_top_orders_per_customer": R.TOP_ORDERS_ORACLE,
        "rel_rollup_region_nation": R.ROLLUP_ORACLE,
        "rel_q7_nation_trade": R.Q7_ORACLE,
        "rel_q19_disjunctive": R.Q19_ORACLE,
        "events_retention": R.RETENTION_ORACLE,
        "events_pivot_daily": _events_pivot_oracle(),
        "rel_q13_cust_distribution": R.Q13_ORACLE,
        "rel_inactive_customers": R.INACTIVE_ORACLE,
        "rel_order_quartiles": R.QUARTILES_ORACLE,
        "events_setops": EVENTS_SETOPS_ORACLE,
        "hybrid_dedup_verify": _hybrid_dedup_verify_oracle(),
    }
