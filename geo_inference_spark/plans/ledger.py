"""Checkpoint ledger + per-unit metrics (north-rule: "resumable from
checkpoint with per-partition lineage + metrics").

The reference has no resume story — a crashed dask run restarts from
zero. Here every stage's unit of work (a partition key: tile id, H3
prefix, file split) is tracked in a plain append-only parquet table
(the local stand-in for an Iceberg table — same append/commit
semantics, swap the writer for ``writeTo(...).append()`` on a real
catalog):

  ledger(stage, part_key, n_rows, wall_ms, committed_at)

``remaining(stage, units)`` anti-joins against the ledger, so the driver
schedules only unfinished work after a crash. The ledger is an
ordinary DataFrame: its metrics are queryable with the same engine,
no side channel.
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LEDGER_SCHEMA = (
    "stage string, part_key string, n_rows long, wall_ms long, "
    "committed_at double"
)


class CheckpointLedger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    def done(self, stage: str) -> DataFrame:
        """Distinct completed part_keys for a stage."""
        if not self._exists():
            return self.spark.createDataFrame([], schema="part_key string")
        return (
            self.spark.read.parquet(self.path)
            .filter(F.col("stage") == stage)
            .select("part_key")
            .distinct()
        )

    def remaining(self, stage: str, units: DataFrame, key_col: str = "part_key") -> DataFrame:
        """units minus completed — the resume anti-join."""
        d = self.done(stage)
        return units.join(
            d, on=units[key_col] == d["part_key"], how="left_anti"
        )

    def commit(self, stage: str, results: list[tuple[str, int, int]]) -> None:
        """Append (part_key, n_rows, wall_ms) completions atomically
        (parquet append; Iceberg commit in production)."""
        now = time.time()
        pdf = pd.DataFrame(
            [(stage, k, n, ms, now) for k, n, ms in results],
            columns=["stage", "part_key", "n_rows", "wall_ms", "committed_at"],
        )
        self.spark.createDataFrame(pdf, schema=LEDGER_SCHEMA).write.mode(
            "append"
        ).parquet(self.path)

    def metrics(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], schema=LEDGER_SCHEMA)
        return self.spark.read.parquet(self.path)


def run_with_ledger(
    spark: SparkSession,
    ledger: CheckpointLedger,
    stage: str,
    units: list[str],
    run_unit,
) -> dict[str, int]:
    """Driver loop: execute run_unit(part_key) -> row_count for every
    unit not already committed; commit each completion. Idempotent —
    rerunning after a crash skips finished units."""
    units_df = spark.createDataFrame(
        [(u,) for u in units], schema="part_key string"
    )
    todo = [r.part_key for r in ledger.remaining(stage, units_df).collect()]
    out = {}
    for key in sorted(todo):
        t0 = time.perf_counter()
        n = int(run_unit(key))
        ms = int((time.perf_counter() - t0) * 1000)
        ledger.commit(stage, [(key, n, ms)])
        out[key] = n
    return out
