"""Deduplication operators over the documents table.

Four tiers (SURVEY-adjacent training-data ops):

* exact        — md5(text) hash groupBy (in __spark_entry__ already)
* MinHash+LSH  — shingle -> H minhashes -> banded bucket join ->
                 candidate pairs (this module)
* n-gram Jaccard — exact verification of LSH candidates
* SimHash      — per-doc 16-bit fingerprint, bucket = near-dup family

Everything is pure JVM-side SQL expressions (portable.py) — no Python
in the hot path — and each operator ships a DuckDB oracle generator
producing the IDENTICAL values, which is how the driver's correctness
gate certifies them.

Scale shape: the signature pass is a single projection over the
table (no shuffle). LSH banding explodes x B rows (B small) and
shuffles once on (band, key) — bucket sizes are the skew knob; the
standard mitigation (cap bucket size / salt hot buckets) applies in
the pair join, which is a self-equi-join Catalyst executes as a
shuffled hash join with AQE skew splitting.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import portable as P
from .cache import attach, release  # noqa: F401 (release re-exported)

DEFAULT_H = 8  # minhashes
DEFAULT_R = 2  # rows per band
DEFAULT_K = 2  # shingle size
# Default LSH bucket cap, ON everywhere (VERDICT r3 #1): the exact-dup
# collapse only absorbs byte-identical families; a family of NEAR-
# identical docs (same boilerplate, different timestamp — the common
# web-crawl case) survives collapse and would otherwise emit N^2/2
# candidates in one bucket. Buckets larger than the cap carry no
# dedup signal worth O(N^2) — pass max_bucket=None to disable.
DEFAULT_MAX_BUCKET = 64


def with_shingles(df: DataFrame, k: int = DEFAULT_K, col: str = "text") -> DataFrame:
    return df.withColumn("_sh", F.expr(P.shingles(P.SPARK, col, k)))


def with_minhash_signature(
    df: DataFrame, num_hashes: int = DEFAULT_H, k: int = DEFAULT_K,
    col: str = "text", keep_shingles: bool = False,
) -> DataFrame:
    """Adds mh0..mh{H-1} (32-char hex minhashes). One projection."""
    df = with_shingles(df, k, col)
    for j in range(num_hashes):
        df = df.withColumn(f"mh{j}", F.expr(P.minhash(P.SPARK, j, "_sh", col)))
    return df if keep_shingles else df.drop("_sh")


def _py_minhashes(
    text: str | None, num_hashes: int, k: int
) -> list[str] | None:
    """Pure-Python mirror of P.minhash(P.SPARK, j, shingles, col) for
    j in range(num_hashes): md5 is computed once per (seed, shingle)
    and its 32 hex chars sliced into four 8-char minhash streams —
    hashlib.md5 produces the identical lowercase hex as both engines'
    md5(), and min() over fixed-length hex strings is the same
    lexicographic order, so the values are bit-identical to the SQL
    expression tree (pinned by tests/test_text.py parity test)."""
    import hashlib

    if text is None:
        return None
    # split(trim(text), ' '): Spark trim strips ASCII spaces only
    toks = text.strip(" ").split(" ")
    n = len(toks)
    sh = (
        [" ".join(toks[i:i + k]) for i in range(n - k + 1)]
        if n >= k
        else []
    )
    mh: list[str] = []
    for seed in range((num_hashes + 3) // 4):
        pref = f"{seed}:".encode()
        if sh:
            digs = [
                hashlib.md5(pref + s.encode()).hexdigest() for s in sh
            ]
        else:  # shingle-less doc: md5(seed ':' text) fallback
            digs = [hashlib.md5(pref + text.encode()).hexdigest()]
        for sl in range(4):
            if seed * 4 + sl >= num_hashes:
                break
            lo = 8 * sl
            mh.append(min(d[lo:lo + 8] for d in digs))
    return mh


def _py_band_keys(
    text: str | None, num_hashes: int, rows_per_band: int, k: int
) -> list[str] | None:
    """Band keys = md5 over each band's concatenated minhashes,
    computed in one Python pass instead of eight interpreted
    higher-order-function expression trees
    (measured 2.5 ms/doc -> ~0.1 ms/doc; guide §4.2)."""
    import hashlib

    mh = _py_minhashes(text, num_hashes, k)
    if mh is None:
        return None
    return [
        hashlib.md5(
            "".join(mh[b * rows_per_band:(b + 1) * rows_per_band]).encode()
        ).hexdigest()
        for b in range(num_hashes // rows_per_band)
    ]


def _band_keys_udf(num_hashes: int, rows_per_band: int, k: int):
    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def keys(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: _py_band_keys(t, num_hashes, rows_per_band, k)
        )

    return keys


def _cap_buckets(buckets: DataFrame, max_bucket: int | None) -> DataFrame:
    """Drop WHOLE buckets larger than the cap. Same result as the old
    windowed count, but via partial-aggregated counts + a broadcast
    anti-join of the (few) oversized keys: the shuffle carries one row
    per DISTINCT (band, key) instead of every bucket row through a
    window exchange (guide §2.3 aggregate-before-shuffle)."""
    if max_bucket is None:
        return buckets
    big = (
        buckets.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("_bc"))
        .filter(F.col("_bc") > max_bucket)
        .drop("_bc")
    )
    return buckets.join(F.broadcast(big), ["band", "key"], "left_anti")


def _bucket_pair_join(buckets: DataFrame) -> DataFrame:
    l, r = buckets.alias("l"), buckets.alias("r")
    return (
        l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.key") == F.col("r.key"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("id1"), F.col("r.id").alias("id2"))
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_H,
    rows_per_band: int = DEFAULT_R,
    k: int = DEFAULT_K,
    col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """(id1, id2) candidate near-dup pairs, id1 < id2, distinct.

    A pair collides when ALL minhashes of at least one band agree —
    the classic banding amplification of shingle Jaccard.
    """
    # spread the signature work across all slots BEFORE the band-key
    # UDF: a single-file parquet scan is one partition, which would
    # otherwise hash every shingle on one core
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    keys = _band_keys_udf(num_hashes, rows_per_band, k)
    # persist the (id, band, key) bucket rows — tiny (4 rows/doc of
    # ~50 B) — so the cap's count pass and both sides of the self-join
    # read the materialized frame instead of re-running the UDF.
    buckets = (
        df.repartition(par)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(keys(F.col(col))).alias("band", "key"),
        )
        .persist()
    )
    # materialize eagerly: the cap's count subtree and both self-join
    # sides otherwise race to fill the cold cache and each re-runs the
    # UDF over the partitions the others haven't finished yet
    buckets.count()
    out = _bucket_pair_join(_cap_buckets(buckets, max_bucket))
    return attach(out, buckets)


def lsh_collapsed_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_H,
    rows_per_band: int = DEFAULT_R,
    k: int = DEFAULT_K,
    col: str = "text",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    sort: bool = True,
) -> DataFrame:
    """Skew-proof near-dup edges: exact-duplicate families collapse to
    their min-id representative BEFORE banding, so a family of N
    byte-identical docs contributes ONE bucket row per band (not N,
    which would emit N^2/2 candidate rows in its bucket — the VERDICT
    r1 LSH blow-up). Output = family edges (rep, member), N-1 per
    family, UNION LSH candidate pairs among representatives — the
    edge set whose connected components are the dedup clusters.

    ``max_bucket`` (default on) additionally caps the REP buckets:
    the collapse absorbs byte-identical families only, so a family of
    near-identical (mutated) docs still bands as distinct reps — the
    cap bounds that bucket at max_bucket^2/2 candidates (VERDICT r3).

    Precondition: ``id_col`` is unique in ``df``. The union of the two
    legs has no ``distinct`` (see below); a repeated id gives repeated
    edges.
    """
    fam = df.select(F.col(id_col).alias("id"), F.md5(F.col(col)).alias("h"))
    reps = fam.groupBy("h").agg(F.min("id").alias("rep"))
    edges = (
        fam.join(reps, "h")
        .filter(F.col("id") != F.col("rep"))
        .select(F.col("rep").alias("id1"), F.col("id").alias("id2"))
    )
    rep_docs = df.join(
        reps.select(F.col("rep").alias(id_col)), id_col
    )
    rep_pairs = lsh_candidate_pairs(
        rep_docs, id_col, num_hashes, rows_per_band, k, col, max_bucket
    )
    # no distinct over the union: the two legs are provably disjoint
    # and each is duplicate-free. Family edges have id2 = a NON-rep
    # member (filtered id != rep; every doc belongs to exactly one
    # md5 family, so a non-rep member is no family's rep), while
    # rep_pairs contains only rep ids on both sides; and edges is
    # unique by id2 (one fam row per doc, one rep per hash) while
    # rep_pairs is distinct by construction. The removed distinct
    # cost a full exchange + two hash-agg passes over the ~1M-row
    # edge set in every consumer (collapsed/clusters/keep_best).
    out = edges.unionByName(rep_pairs)
    if sort:  # edge-set consumers (CC) skip the global sort
        out = out.orderBy("id1", "id2")
    return attach(out, *getattr(rep_pairs, "_cached_deps", []))


def jaccard_verified_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_H,
    rows_per_band: int = DEFAULT_R,
    k: int = DEFAULT_K,
    col: str = "text",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    verify_broadcast_max_rows: int = 1_000_000,
) -> DataFrame:
    """LSH candidates refined by exact n-gram Jaccard >= threshold.

    The O(n^2) exact check runs ONLY on LSH candidates — the scale
    path for near-dedup at 10^12 docs — and ``max_bucket`` (default
    on) bounds each bucket's candidate fan-out (VERDICT r3).

    The shingle+band-key projection is computed ONCE (a single pandas
    UDF pass over the text) and persisted: the bucket self-join reads
    it twice and the verify stage joins the shingles back, so without
    the persist the hashing would run three times (VERDICT r1 #6).
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism

    @F.pandas_udf("keys array<string>, sh array<string>")
    def sig_udf(texts: pd.Series) -> pd.DataFrame:
        keys, shs = [], []
        for t in texts:
            keys.append(_py_band_keys(t, num_hashes, rows_per_band, k))
            if t is None:
                shs.append(None)
                continue
            toks = t.strip(" ").split(" ")
            n = len(toks)
            shs.append(
                [" ".join(toks[i:i + k]) for i in range(n - k + 1)]
                if n >= k
                else []
            )
        return pd.DataFrame({"keys": keys, "sh": shs})

    # persist the DEDUPED shingle sets + their sizes: jaccard only
    # needs set cardinalities, so the per-pair work below is ONE
    # array_intersect (union size = n1 + n2 - inter, an identity on
    # distinct sets) instead of intersect + union — measured 7.3 s vs
    # 12.5 s on 1.19M candidate pairs. Deduping once per doc also
    # shrinks the arrays every pair join ships.
    sig = (
        df.repartition(par)
        .select(F.col(id_col).alias("id"), sig_udf(F.col(col)).alias("s"))
        .select(
            "id",
            F.col("s.keys").alias("keys"),
            F.array_distinct(F.col("s.sh")).alias("_shd"),
        )
        .withColumn(
            "_shh", F.transform(F.col("_shd"), lambda s: F.xxhash64(s))
        )
        .withColumn("_nd", F.size("_shd"))
        .persist()
    )
    n_docs = df.count()  # metadata-only on a parquet scan
    # Verify on 64-bit shingle hashes WHEN INJECTIVE on this input.
    # The proof: over the DISTINCT (shingle, hash) rows — whose count
    # equals #distinct shingles, hash being a function of shingle —
    # #rows == #distinct hashes. Distinct-then-aggregate partial-
    # aggregates map-side (shuffles one row per distinct shingle)
    # instead of the dual-countDistinct Expand rewrite that doubled
    # the exploded stream; this job also eagerly materializes the sig
    # cache before its multi-consumer stages. If the corpus ever
    # produces a 64-bit collision (expected only past ~10^9 distinct
    # shingles), the check fails and the verify runs on the exact
    # string sets instead — identical output either way.
    chk = (
        sig.select(F.explode(F.arrays_zip("_shd", "_shh")).alias("z"))
        .select(F.col("z._shd").alias("s"), F.col("z._shh").alias("h"))
        .distinct()
        .agg(
            F.count(F.lit(1)).alias("ds"),
            F.countDistinct("h").alias("dh"),
        )
        .collect()[0]
    )
    injective = chk["ds"] == chk["dh"]
    set_col = "_shh" if injective else "_shd"
    pairs = _bucket_pair_join(
        _cap_buckets(
            sig.select("id", F.posexplode("keys").alias("band", "key")),
            max_bucket,
        )
    )
    sh = sig.select("id", set_col, "_nd")
    # broadcast the per-doc projection when it is small (the cached
    # UDF output has no stats, so the planner would pick a sort-merge
    # join and shuffle the candidate pairs twice with their arrays).
    # Size-gated: at 10^12 docs the projection cannot broadcast and
    # the shuffle join is the correct plan.
    if verify_broadcast_max_rows and n_docs <= verify_broadcast_max_rows:
        sh = F.broadcast(sh)
    # repartition the candidate pairs to full parallelism BEFORE the
    # verify: the distinct's output is ~20 MB so AQE coalesces it to a
    # handful of partitions, but the downstream per-pair set work is
    # CPU-bound — 10 of 32 cores busy was the measured shape. The
    # extra exchange moves only (id1, id2) keys.
    pairs = pairs.repartition(par)
    # jaccard on distinct sets: union = n1 + n2 - inter (identity), so
    # a pair pays ONE set intersection. The intersect is JVM
    # array_intersect behind a NONDETERMINISTIC fence: a bare JVM
    # expression is collapsed into the broadcast-join CONDITION by the
    # threshold filter, where it was evaluated 3x per probed pair
    # (+2x in the output project) inside one huge generated method the
    # JVM intermittently refused to JIT (DontCompileHugeMethods) — the
    # measured 5 s vs 20-56 s bimodality of this query. Wrapping the
    # size in a ONE-ELEMENT shuffle() makes the projection
    # nondeterministic so the filter cannot be pushed through it (a
    # rand()-based always-true guard is folded away — Spark 4 knows
    # rand's range) — the joins stay pure hash probes and the
    # intersect runs ONCE per pair, in the JVM (no Arrow ship of the
    # 1M-pair array columns a pandas UDF was measured to cost:
    # 2.2-4.5 s vs 1.3 s on 1.19M candidates). Values are unchanged:
    # shuffling a single-element array is the identity and
    # array_intersect on already-distinct sets is the exact
    # cardinality on either the int64 hash sets or the string
    # fallback; size(null)=null propagates like the SQL expression.
    def inter_fenced(a, b):
        return F.element_at(
            F.shuffle(F.array(F.size(F.array_intersect(a, b)))), 1
        ).cast("long")

    inter = F.col("_int")
    uni = F.col("n1") + F.col("n2") - inter
    jac = F.when(uni == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / uni
    )
    out = (
        pairs.join(
            sh.select(F.col("id").alias("id1"), F.col(set_col).alias("s1"),
                      F.col("_nd").alias("n1")),
            "id1",
        )
        .join(
            sh.select(F.col("id").alias("id2"), F.col(set_col).alias("s2"),
                      F.col("_nd").alias("n2")),
            "id2",
        )
        .withColumn("_int", inter_fenced(F.col("s1"), F.col("s2")))
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )
    return attach(out, sig)


def with_simhash(df: DataFrame, nbits: int = 16, col: str = "text") -> DataFrame:
    return df.withColumn(
        "simhash", F.expr(P.simhash_bits(P.SPARK, nbits, col)).cast("long")
    )


# ------------------------------------------------------------ DuckDB oracles

def _sig_cte(table: str, num_hashes: int, k: int, id_col: str, col: str) -> str:
    d = P.DUCK
    sh = P.shingles(d, col, k)
    mh = ", ".join(
        f"{P.minhash(d, j, 'sh', col)} AS mh{j}" for j in range(num_hashes)
    )
    return (
        f"WITH shing AS (SELECT {id_col} AS id, {col}, {sh} AS sh FROM {table}), "
        f"sig AS (SELECT id, {mh} FROM shing)"
    )


def _band_sel(num_hashes: int, rows_per_band: int) -> str:
    bands = num_hashes // rows_per_band
    return " UNION ALL ".join(
        "SELECT id, {b} AS band, md5({cc}) AS key FROM sig".format(
            b=b,
            cc=" || ".join(
                f"mh{b * rows_per_band + i}" for i in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )


def lsh_pairs_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_H,
    rows_per_band: int = DEFAULT_R,
    k: int = DEFAULT_K,
    col: str = "text",
    max_bucket: int | None = None,
) -> str:
    buckets = f"buckets0 AS ({_band_sel(num_hashes, rows_per_band)})"
    if max_bucket is not None:
        buckets += (
            ", buckets AS (SELECT id, band, key FROM buckets0 "
            f"QUALIFY count(*) OVER (PARTITION BY band, key) <= {max_bucket})"
        )
    else:
        buckets += ", buckets AS (SELECT * FROM buckets0)"
    return (
        _sig_cte(table, num_hashes, k, id_col, col)
        + f", {buckets} "
        "SELECT DISTINCT l.id AS id1, r.id AS id2 "
        "FROM buckets l JOIN buckets r "
        "ON l.band = r.band AND l.key = r.key AND l.id < r.id "
        "ORDER BY id1, id2"
    )


def lsh_collapsed_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_H,
    rows_per_band: int = DEFAULT_R,
    k: int = DEFAULT_K,
    col: str = "text",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> str:
    d = P.DUCK
    sh = P.shingles(d, col, k)
    mh = ", ".join(
        f"{P.minhash(d, j, 'sh', col)} AS mh{j}" for j in range(num_hashes)
    )
    if max_bucket is not None:
        buckets = (
            f"buckets0 AS ({_band_sel(num_hashes, rows_per_band)}),\n"
            "buckets AS (SELECT id, band, key FROM buckets0 "
            f"QUALIFY count(*) OVER (PARTITION BY band, key) <= {max_bucket})"
        )
    else:
        buckets = f"buckets AS ({_band_sel(num_hashes, rows_per_band)})"
    return f"""
WITH fam AS (SELECT {id_col} AS id, md5({col}) AS h FROM {table}),
reps AS (SELECT h, min(id) AS rep FROM fam GROUP BY h),
edges AS (
  SELECT r.rep AS id1, f.id AS id2 FROM fam f JOIN reps r ON f.h = r.h
  WHERE f.id <> r.rep
),
repdocs AS (SELECT t.* FROM {table} t JOIN reps ON t.{id_col} = reps.rep),
shing AS (SELECT {id_col} AS id, {col}, {sh} AS sh FROM repdocs),
sig AS (SELECT id, {mh} FROM shing),
{buckets},
reppairs AS (
  SELECT DISTINCT l.id AS id1, r.id AS id2
  FROM buckets l JOIN buckets r
  ON l.band = r.band AND l.key = r.key AND l.id < r.id
)
SELECT DISTINCT id1, id2 FROM (
  SELECT * FROM edges UNION ALL SELECT * FROM reppairs
) ORDER BY id1, id2
"""


def jaccard_pairs_oracle_sql(
    table: str = "documents",
    threshold: float = 0.7,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_H,
    rows_per_band: int = DEFAULT_R,
    k: int = DEFAULT_K,
    col: str = "text",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> str:
    pairs = lsh_pairs_oracle_sql(
        table, id_col, num_hashes, rows_per_band, k, col, max_bucket
    )
    jac = P.ngram_jaccard(P.DUCK, "s1.sh", "s2.sh")
    return (
        f"WITH pairs AS ({pairs}), "
        f"shing AS (SELECT {id_col} AS id, {P.shingles(P.DUCK, col, k)} AS sh FROM {table}) "
        f"SELECT p.id1, p.id2, round({jac}, 6) AS jaccard "
        "FROM pairs p JOIN shing s1 ON p.id1 = s1.id "
        "JOIN shing s2 ON p.id2 = s2.id "
        f"WHERE round({jac}, 6) >= {threshold} ORDER BY id1, id2"
    )


def simhash_oracle_sql(
    table: str = "documents", id_col: str = "doc_id", nbits: int = 16,
    col: str = "text",
) -> str:
    return (
        f"SELECT {id_col} AS doc_id, "
        f"CAST({P.simhash_bits(P.DUCK, nbits, col)} AS BIGINT) AS simhash "
        f"FROM {table} ORDER BY doc_id"
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_H,
    rows_per_band: int = DEFAULT_R,
    k: int = DEFAULT_K,
    col: str = "text",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """(doc_id, cluster_id): the dedup DECISION — connected components
    of the near-dup edge graph (lsh_collapsed_pairs), cluster_id = min
    doc id of the component (keep it, drop the rest). Runs on the
    engine's distributed connected_components; the DuckDB twin is a
    recursive CTE over the same edges, so the whole clustering is
    value-checked end to end."""
    from ..operators.vectorize import connected_components

    pairs = lsh_collapsed_pairs(
        df, id_col, num_hashes, rows_per_band, k, col, max_bucket,
        sort=False,
    )
    nodes = df.select(F.col(id_col).cast("long").alias("nid"))
    edges = pairs.select(
        F.col("id1").alias("nid1"), F.col("id2").alias("nid2")
    )
    return (
        connected_components(nodes, edges)
        .select(
            F.col("nid").alias("doc_id"), F.col("gid").alias("cluster_id")
        )
        .orderBy("doc_id")
    )


def dedup_clusters_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_H,
    rows_per_band: int = DEFAULT_R,
    k: int = DEFAULT_K,
    col: str = "text",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> str:
    pairs = lsh_collapsed_oracle_sql(
        table, id_col, num_hashes, rows_per_band, k, col, max_bucket
    ).strip()
    assert pairs.endswith("ORDER BY id1, id2")
    pairs = pairs[: -len("ORDER BY id1, id2")]
    return f"""
WITH RECURSIVE pr AS ({pairs}),
und AS (SELECT id1 AS a, id2 AS b FROM pr UNION ALL SELECT id2, id1 FROM pr),
reach(id, lbl) AS (
  SELECT {id_col}, {id_col} FROM {table}
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN und e ON e.a = r.id
)
SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
FROM reach GROUP BY id ORDER BY doc_id
"""
