"""Resumable per-bucket runs on the commit store (north_rule).

The unit of resumable work is a *bucket* of conversations (pmod(xxhash64(key),
n_buckets)) — deterministic under re-partitioning, unlike spark_partition_id.
A run computes every bucket that no earlier commit records, in one Spark job,
and commits it through kgtm.materialize as one commit of the ``checkpoint``
table, partitioned by ``_bucket``; the commit's manifest records the buckets
it holds, the key and n_buckets. So completion is the manifest claim itself:
a run killed before its claim leaves a ``commit=`` directory that no manifest
names, which reads never see and ``materialize.vacuum`` reclaims. Re-running
with half the buckets committed yields the output of a clean run (idempotence
test). The root may be any Hadoop URI the store takes (``file:``, ``hdfs:``,
``s3a:``).

Ancestor: the reference's SHA-256 change detection + skip-if-done download
refresh (/root/reference/ontologytimemachine/utils/download_archivo_urls.py:
41-46,65-74,108-116) generalized from one file to N buckets.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgtm.materialize import list_commits, read_table, write_table

TABLE = "checkpoint"


def bucket_col(key: str = "conv_id", n_buckets: int = 32):
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")


def _commits(spark: SparkSession, out_dir: str) -> list[dict]:
    return [c for c in list_commits(out_dir, spark) if c.get("table") == TABLE]


def completed_buckets(spark: SparkSession, out_dir: str) -> list[int]:
    """Buckets some commit under ``out_dir`` records; runs no Spark job."""
    return sorted({b for c in _commits(spark, out_dir) for b in c["buckets"]})


def run_with_checkpoints(
    spark: SparkSession,
    inputs: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    out_dir: str,
    key: str = "conv_id",
    n_buckets: int = 32,
) -> DataFrame:
    """Run `transform` over `inputs` with per-bucket resume.

    The buckets left to do are computed IN ONE Spark job (a single filtered
    pass + partitionBy write), not a per-bucket loop — resume granularity
    without N job launches. Returns the full output (all buckets). A root
    whose commits were bucketed by another key or bucket count raises
    ValueError: their buckets are other sets of rows.
    """
    commits = _commits(spark, out_dir)
    for c in commits:
        if (c["bucket_key"], c["n_buckets"]) != (key, n_buckets):
            raise ValueError(
                f"{out_dir} holds buckets of pmod(xxhash64({c['bucket_key']}), "
                f"{c['n_buckets']}); resuming it with key={key!r}, "
                f"n_buckets={n_buckets} would duplicate or drop rows"
            )
    done = {b for c in commits for b in c["buckets"]}
    todo = [b for b in range(n_buckets) if b not in done]
    if todo:
        rest = inputs.filter(bucket_col(key, n_buckets).isin(todo)) if done else inputs
        write_table(
            transform(rest).withColumn("_bucket", bucket_col(key, n_buckets)),
            out_dir,
            table=TABLE,
            partition_by=("_bucket",),
            extra_manifest={"buckets": todo, "bucket_key": key, "n_buckets": n_buckets},
        )
    return read_table(spark, out_dir, table=TABLE).drop("commit", "_bucket")
