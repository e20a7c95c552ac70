"""Resumable WARC -> pages-table ingest (the north-star birth step).

The engine's queries run over the (url, warc_ts, html, text, lang)
table; this job CREATES that table from .warc.gz archives with the
same per-partition lineage/resume contract as the PIP job
(plans/pip_job.py): the archive's byte ranges are the units, each
unit scans its range with the splittable WARC reader
(sources/warc.py), extracts text (html -> text, the byte-identity
invariant), derives lang via the engine's n-gram heuristic, writes
``out/unit=<i>`` and commits one ledger row. A crashed ingest resumes
exactly the unfinished ranges; finalize is a metadata-only union read
of the unit directories.

Scale shape: one unit = one distributed Spark job over 1/N of the
archive bytes (itself split across tasks), so N tunes the
commit/restart granularity, not the parallelism — identical control
flow to an Iceberg append per file-group on a real catalog.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ledger import CheckpointLedger, run_with_ledger
from .pip_job import _unit_index, unit_keys


def resumable_warc_ingest(
    spark: SparkSession,
    warc_path: str,
    out_path: str,
    ledger: CheckpointLedger,
    tag: str,
    n_units: int = 8,
    splits_per_unit: int = 8,
    stage: str = "warc_ingest",
) -> dict[str, int]:
    """Ingest ``warc_path`` into parquet pages at ``out_path``,
    unit-by-unit with one ledger commit per byte-range unit."""
    import pandas as pd

    from ..sources.pages import extract_text_bytes
    from ..sources.warc import WARC_SCHEMA, _scan_range_gz, _scan_range_plain
    from ..text import portable as P
    from ..text.analysis import langid_exprs

    size = os.path.getsize(warc_path)
    bounds = np.linspace(0, size, n_units + 1, dtype=np.int64)
    compressed = warc_path.endswith(".gz")

    def run_unit(key: str) -> int:
        i = _unit_index(key)
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        sub = np.linspace(lo, hi, splits_per_unit + 1, dtype=np.int64)
        ranges = spark.createDataFrame(
            [(warc_path, int(sub[j]), int(sub[j + 1]))
             for j in range(splits_per_unit)],
            schema="path string, start long, end long",
        )

        cols = ["url", "warc_ts", "html", "record_id", "offset"]

        def scan(batches):
            # yield chunked frames (same memory bound as read_warc —
            # VERDICT r5 #3): never buffer a whole byte range
            from ..sources.warc import SCAN_YIELD_BYTES, SCAN_YIELD_ROWS

            for pdf in batches:
                rows, nbytes = [], 0
                for p, s, e in zip(pdf["path"], pdf["start"], pdf["end"]):
                    it = (
                        _scan_range_gz(str(p), int(s), int(e))
                        if compressed
                        else _scan_range_plain(str(p), int(s), int(e))
                    )
                    for url, ts, payload, rid, off in it:
                        rows.append((url, ts, payload, rid, off))
                        nbytes += len(payload)
                        if (nbytes >= SCAN_YIELD_BYTES
                                or len(rows) >= SCAN_YIELD_ROWS):
                            yield pd.DataFrame(rows, columns=cols)
                            rows, nbytes = [], 0
                yield pd.DataFrame(rows, columns=cols)

        def extract(batches):
            for pdf in batches:
                texts = [
                    extract_text_bytes(bytes(h)) for h in pdf["html"]
                ]
                out = pdf[["url", "warc_ts", "html", "offset"]].copy()
                out["text"] = texts
                yield out

        pages = (
            ranges.mapInPandas(scan, WARC_SCHEMA)
            .mapInPandas(
                extract,
                "url string, warc_ts timestamp, html binary, "
                "offset long, text string",
            )
            .withColumn(
                "lang", F.expr(langid_exprs(P.SPARK, "text")["pred_lang"])
            )
        )
        dst = f"{out_path}/unit={i}"
        pages.write.mode("overwrite").parquet(dst)
        return int(
            spark.read.parquet(dst).count()
        )

    return run_with_ledger(
        spark, ledger, stage, unit_keys(tag, n_units), run_unit
    )


def finalize_warc_ingest(
    spark: SparkSession, out_path: str, n_units: int
) -> DataFrame:
    """Union read of exactly this run's unit directories."""
    return spark.read.parquet(
        *[f"{out_path}/unit={i}" for i in range(n_units)]
    )
