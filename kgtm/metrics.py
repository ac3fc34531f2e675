"""Lineage + counter metrics written alongside each commit (north_rule).

Ancestor: the per-(url, format) download-log record with its nested error
causal chain (/root/reference/experiments/download_ontologies.py:53-146,
get_causal_chain :28-47) and the 15-category accessibility taxonomy
(/root/reference/experiments/aggregate_results.py:40-151).

Two pieces:
  * stage_metrics — cheap per-stage counters computed as one aggregate over
    the stage output (uses spark_partition_id so per-partition rows exist
    without a second pass).
  * error_struct — the try/except chain walk used inside pandas-UDF bodies;
    pure function, unit-testable.
"""

from __future__ import annotations

import time
import traceback
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def format_error_message(message: str, keep: int = 10) -> str:
    """Head/tail line truncation of long error messages (F3 analog:
    parse_ontologies.py:21-25 — first 10 + last 10 lines with an ellipsis
    block when the message exceeds 2×keep lines)."""
    lines = message.splitlines()
    if len(lines) > 2 * keep:
        return "\n".join(lines[:keep] + ["\n\n\n............\n\n\n"] + lines[-keep:])
    return message


def error_struct(exc: BaseException) -> dict:
    """Flatten an exception's causal chain (F9 analog:
    download_ontologies.py:28-47)."""
    chain = []
    seen = set()
    e: BaseException | None = exc
    while e is not None and id(e) not in seen:
        seen.add(id(e))
        chain.append(type(e).__name__)
        e = e.__cause__ or e.__context__
    return {
        "type": type(exc).__name__,
        "message": format_error_message(str(exc)),
        "chain": "||".join(chain),
    }


def per_partition_counts(df: DataFrame, stage: str) -> DataFrame:
    """One metrics row per physical partition of `df` (lineage unit)."""
    return (
        df.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("n_rows_out"))
        .select(
            "partition_id",
            F.lit(stage).alias("stage"),
            F.lit(None).cast("long").alias("n_rows_in"),
            "n_rows_out",
            F.lit(None).cast("long").alias("n_triples"),
            F.lit(None).cast("double").alias("duration_s"),
            F.lit(None)
            .cast("struct<type:string,message:string,chain:string>")
            .alias("error"),
        )
    )


class MetricsCollector:
    """Driver-side stage timing + counters. ``rows`` are plain dicts with
    METRICS_SCHEMA's fields; write_table records them in the commit manifest
    and read_metrics reads them back as a frame."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    @contextmanager
    def stage(self, name: str, n_rows_in: int | None = None):
        t0 = time.perf_counter()
        rec: dict = {
            "partition_id": -1,
            "stage": name,
            "n_rows_in": n_rows_in,
            "n_rows_out": None,
            "n_triples": None,
            "duration_s": None,
            "error": None,
        }
        try:
            yield rec
        except BaseException as e:  # noqa: BLE001
            rec["error"] = error_struct(e)
            raise
        finally:
            rec["duration_s"] = time.perf_counter() - t0
            self.rows.append(rec)
