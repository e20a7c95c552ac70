"""Skew handling: salted two-phase aggregation and top-k.

CC pages concentrate in urban cells (the synthetic generator
reproduces this: 70% of pages cluster around 8 hotspots), so
groupBy(cell) / groupBy(area_id) keys are heavy-tailed. Standard
mitigations, made explicit (SURVEY.md §4 "custom Spark work #1"):

* ``salted_agg`` — add a uniform salt in [0, n), aggregate
  (key, salt) partials, then re-aggregate by key. Two small shuffles
  instead of one skewed one; the first stage's partial rows are
  bounded by n x |keys|.

AQE's skew-join splitting (enabled in session.py) already handles
shuffle-join skew at runtime; explicit salting is for grouped
aggregations/UDFs where AQE cannot split a single key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n: int, col: str = "_salt") -> DataFrame:
    """Uniform salt derived from a nondeterministic uniform — cheap,
    JVM-side, no correlation with data columns."""
    if col in df.columns:
        # ADVICE r5: a pre-existing '_salt' (or '_rn'/'rn' in the
        # top-k path) would silently collide with the helper columns
        raise ValueError(f"input already has a column named {col!r}")
    return df.withColumn(col, (F.rand(seed=7) * n).cast("int"))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    aggs: output_name -> (input_col_or_*, fn) with fn in
    {count, sum, min, max}. Composable because all four have
    associative partials (count re-aggregates as sum).
    """
    partial_exprs: list[Column] = []
    final_exprs: list[Column] = []
    for out, (col, fn) in aggs.items():
        p = f"_p_{out}"
        if fn == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(p))
            final_exprs.append(F.sum(p).alias(out))
        elif fn == "sum":
            partial_exprs.append(F.sum(col).alias(p))
            final_exprs.append(F.sum(p).alias(out))
        elif fn == "min":
            partial_exprs.append(F.min(col).alias(p))
            final_exprs.append(F.min(p).alias(out))
        elif fn == "max":
            partial_exprs.append(F.max(col).alias(p))
            final_exprs.append(F.max(p).alias(out))
        else:
            raise ValueError(f"unsupported agg fn: {fn}")
    salted = with_salt(df, n)
    partial = salted.groupBy(*keys, "_salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)


def salted_topk(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    k: int,
    n: int = 16,
    desc: bool = True,
    tie_col: str | None = None,
) -> DataFrame:
    """Per-key top-k rows, skew-safe.

    A plain ``Window.partitionBy(keys)`` top-k funnels each key's
    ENTIRE row set through one task — a cell holding 30% of a 10^12
    row table is a straggler measured in hours. Two phases instead:

    1. top-k within (keys, salt): the hot key's rows split over n
       tasks; each emits at most k rows, so phase-2 input is bounded
       by n*k per key regardless of skew;
    2. top-k within keys over the n*k partials.

    Correct because top-k is associative: the global top-k is
    contained in the union of per-salt top-ks. Ties broken by
    ``tie_col`` (default: first key-external deterministic column
    required from the caller) so both phases rank identically.
    """
    for reserved in ("_salt", "_rn", "rn"):
        if reserved in df.columns:
            raise ValueError(
                f"salted_topk: input already has a column named "
                f"{reserved!r} (reserved for the salt/rank helpers)"
            )
    order = [
        F.col(order_col).desc() if desc else F.col(order_col).asc()
    ]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    from pyspark.sql import Window

    w1 = Window.partitionBy(*keys, "_salt").orderBy(*order)
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return (
        with_salt(df, n)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_salt", "_rn")
        .withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .withColumnRenamed("_rn", "rn")
    )


def estimate_hot_share(
    df: DataFrame,
    keys: list[str],
    sample_fraction: float = 0.05,
    seed: int = 7,
) -> float:
    """Fraction of rows held by the single hottest key, estimated
    from a row sample — ONE small job over the projected keys (the
    AQE-stats analogue for pre-shuffle decisions; at 10^12 rows pass
    a correspondingly smaller fraction)."""
    row = (
        df.select(*keys)
        .sample(False, sample_fraction, seed)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
        .collect()[0]
    )
    if not row["tot"]:
        return 0.0
    return float(row["mx"]) / float(row["tot"])


def choose_salting(
    df: DataFrame,
    keys: list[str],
    sample_fraction: float = 0.05,
    straggler_factor: float = 8.0,
    parallelism: int | None = None,
    seed: int = 7,
) -> bool:
    """The auto-salt decision (VERDICT r5 #7): salt only when the
    sampled hottest key would be a STRAGGLER — i.e. its row share
    exceeds ``straggler_factor`` times the fair per-slot share
    (1/parallelism). A hot share alone is not enough: the planted-skew
    bench shows the two-phase top-k only pays off once one task's key
    dwarfs the per-slot work (at local[8] a 30%-hot key is ~2.4x the
    per-slot share and plain wins; at 10^5 slots the same 30% is
    ~3x10^4 slots' worth and salting is mandatory). The probe is one
    sampled aggregation over the projected keys."""
    if parallelism is None:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
    share = estimate_hot_share(df, keys, sample_fraction, seed)
    return share >= straggler_factor / max(1, parallelism)


def salted_topk_auto(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    k: int,
    n: int = 16,
    desc: bool = True,
    tie_col: str | None = None,
    sample_fraction: float = 0.05,
    straggler_factor: float = 8.0,
) -> DataFrame:
    """salted_topk when the key-frequency probe says the hottest key
    is straggler-sized, plain single-window top-k otherwise.
    Identical output either way (salting is algebraically invisible
    for top-k)."""
    from pyspark.sql import Window

    if choose_salting(df, keys, sample_fraction, straggler_factor):
        return salted_topk(df, keys, order_col, k, n, desc, tie_col)
    order = [F.col(order_col).desc() if desc else F.col(order_col).asc()]
    if tie_col is not None:
        order.append(F.col(tie_col).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )
