"""The partition-sizing rule (kgtm.session.ensure_min_parallelism) and its
checkpointing variant fan_out_small_scan: the task count each picks for a
one-row-group parquet scan, and the no-op on already-parallel input."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from kgtm.session import (
    _BYTES_PER_TEXT_TASK,
    ensure_min_parallelism,
    fan_out_small_scan,
)


def _one_row_group(path: str, n: int) -> str:
    rng = np.random.default_rng(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    texts = ["".join(rng.choice(letters, 40)) for _ in range(n)]
    pdf = pd.DataFrame({"doc_id": np.arange(n, dtype="int64"), "text": texts})
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path, row_group_size=n)
    return path


def test_one_row_group_scan_fans_out_by_bytes(spark, tmp_path):
    """A one-row-group file scans as one task; both helpers fan it out to
    ceil(bytes / 64 KB) tasks (2 here), below the session's parallelism (4),
    and fan_out_small_scan keeps every row."""
    path = _one_row_group(str(tmp_path / "docs.parquet"), 2500)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    para = spark.sparkContext.defaultParallelism
    want = -(-os.path.getsize(path) // _BYTES_PER_TEXT_TASK)
    assert want == 2 < para
    assert ensure_min_parallelism(df).rdd.getNumPartitions() == want
    fanned = fan_out_small_scan(df)
    assert fanned.rdd.getNumPartitions() == want
    assert fanned.count() == 2500


def test_parallel_input_is_returned_unchanged(spark):
    df = spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism * 2)
    assert ensure_min_parallelism(df) is df
    assert fan_out_small_scan(df) is df
