"""Geocoding: (lat, lon) -> hierarchical cell ids, as Arrow UDFs.

North-star stage (a): "geocodes pages into H3 (res 7-10) / S2 cells
via vectorized Arrow UDFs" (BASELINE.json). The UDFs are pandas_udf
(Arrow-batched, no per-row Python); the cell math itself is the pure
numpy in grid/hexgrid.py and grid/s2.py.

``cell_keyed`` spreads a few-partition input, geocodes it and fences
the join key for knn_join and radius_join; pip_join geocodes inside
its one mapInPandas pass. Other callers use ``hex_cell_udf`` directly:
a streaming frame has no ``.rdd`` to count partitions, and
write_pages_partitioned chooses its own partitioning.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..grid import hexgrid, s2


def hex_cell_udf(res: int):
    @F.pandas_udf(LongType())
    def _udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(
            hexgrid.latlng_to_cell(lat.to_numpy(), lon.to_numpy(), res)
        )

    return _udf


def hex_cell_sql(
    res: int, lat_col: str = "lat", lon_col: str = "lon",
    dialect: str = "spark",
) -> str:
    """The hexgrid geocode as a pure SQL expression — the
    whole-stage-codegen fast path in Spark (no Python worker in the
    PIP join) AND, with dialect='duck', the DuckDB oracle twin.

    Bit-identical to hexgrid.latlng_to_cell: same float64 operation
    order; Spark ``bround`` == DuckDB ``round_even(x, 0)`` == numpy
    rint (round-half-even). A point off the globe (also NaN, +-inf
    and null) is id 0 in all three. tests/test_grid.py pins the
    three-way parity on seeded points, round-half-even ties, the
    poles and +-180 degrees.
    """
    # NB: bare decimal literals are DECIMAL in Spark SQL — the string
    # cast keeps constants exact float64 so results are bit-identical
    # to the numpy path
    if dialect == "spark":
        rnd = "bround({x})"
        shl = "shiftleft({x}, {n})"
        flag_lit = f"{1 << 62}L"
    else:
        rnd = "round_even({x}, 0)"
        shl = "(({x}) << {n})"
        flag_lit = f"{1 << 62}"
    s = f"cast('{hexgrid.cell_size(res)!r}' as double)"
    sqrt3_3 = f"cast('{hexgrid.SQRT3 / 3.0!r}' as double)"
    two_thirds = f"cast('{2.0 / 3.0!r}' as double)"
    qf = f"(({sqrt3_3} * {lon_col} - {lat_col} / 3.0) / {s})"
    rf = f"(({two_thirds} * {lat_col}) / {s})"
    yf = f"(-{qf} - {rf})"
    rx, ry, rz = (rnd.format(x=qf), rnd.format(x=yf), rnd.format(x=rf))
    dx, dy, dz = f"abs({rx} - {qf})", f"abs({ry} - {yf})", f"abs({rz} - {rf})"
    fix_x = f"({dx} > {dy} and {dx} > {dz})"
    fix_z = f"(not {fix_x} and {dz} > {dy})"
    q = f"cast((case when {fix_x} then -{ry} - {rz} else {rx} end) as bigint)"
    # rz fix uses the (possibly fixed) rx — mirror hexgrid._cube_round
    rx_fixed = f"(case when {fix_x} then -{ry} - {rz} else {rx} end)"
    r = (
        f"cast((case when {fix_z} then -{rx_fixed} - {ry} else {rz} end)"
        " as bigint)"
    )
    off = 1 << 27
    res_shift = shl.format(x=f"cast({res} as bigint)", n=56)
    q_shift = shl.format(x=f"({q} + {off})", n=28)
    cell = f"({flag_lit} | {res_shift} | {q_shift} | ({r} + {off}))"
    # NaN compares above every number in both dialects, and null
    # fails the test too: neither reaches the bigint casts
    return (
        f"(case when abs({lat_col}) <= 90 and abs({lon_col}) <= 180"
        f" then {cell} else 0 end)"
    )


def s2_cell_udf(level: int):
    @F.pandas_udf(LongType())
    def _udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(s2.latlng_to_cell(lat.to_numpy(), lon.to_numpy(), level))

    return _udf


def spread(df: DataFrame) -> DataFrame:
    """Repartition to defaultParallelism when ``df`` has fewer
    partitions. Single-file inputs arrive as ONE scan partition (the
    testdata parquet is one row group), which would run the UDF chain
    after it on one core. Conditional: a real table has partitions >=
    slots and keeps the no-shuffle contract."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def cell_keyed(
    df: DataFrame,
    res: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
    out: str = "cell",
) -> DataFrame:
    """``spread(df)`` plus a non-null cell-id join key ``out`` at ``res``.

    coalesce(..., 0) is the key fence: an inner join on a nullable
    Python-UDF key infers an isnotnull pre-join Filter that
    materializes a SECOND ArrowEvalPython geocoding every point. The
    UDF never returns null; non-finite or out-of-range coordinates get
    id 0, which is never a real cell (no flag bit), so they match no
    cover.
    """
    key = F.coalesce(hex_cell_udf(res)(F.col(lat_col), F.col(lon_col)), F.lit(0))
    return spread(df).withColumn(out, key)
