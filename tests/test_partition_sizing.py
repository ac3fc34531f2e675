"""The partition-sizing rule (kgtm.session.ensure_min_parallelism) and its
checkpointing variant fan_out_small_scan: the task count each picks for a
one-row-group parquet scan, and the no-op on already-parallel input. Each
sizing heuristic (fan-out vs not, compact query side vs not) is also forced
both ways and must not change an operator's rows or schema."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from conftest import SF_DIR, assert_same_both_ways
from kgtm.session import (
    _BYTES_PER_TEXT_TASK,
    ensure_min_parallelism,
    fan_out_small_scan,
)


def _write_one_row_group(pdf: pd.DataFrame, path: str) -> str:
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), path, row_group_size=len(pdf)
    )
    return path


def _one_row_group(path: str, n: int) -> str:
    rng = np.random.default_rng(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    texts = ["".join(rng.choice(letters, 40)) for _ in range(n)]
    pdf = pd.DataFrame({"doc_id": np.arange(n, dtype="int64"), "text": texts})
    return _write_one_row_group(pdf, path)


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


def _spy(rule, took: list):
    """``rule`` wrapped to record, per call, whether it changed the frame."""

    def spy(df):
        out = rule(df)
        took.append(out is not df)
        return out

    return spy


def _both_ways(monkeypatch, module, name: str, run):
    """``run()`` with ``module.name`` patched to identity, then with the real
    rule; each side's per-call record of whether the rule changed a frame."""
    real = getattr(module, name)
    out = []
    for rule in (lambda df: df, real):
        took: list = []
        monkeypatch.setattr(module, name, _spy(rule, took))
        out.append((run(), took))
    return out


def test_fan_out_keeps_pairs_and_spans(spark, tmp_path, monkeypatch):
    """ngram_jaccard_pairs and substring_dedup give the same rows and schema
    whether or not ensure_min_parallelism fans their one-row-group input
    out (the sf documents, planted near-dups included)."""
    from kgtm import session
    from kgtm.dedup import ngram_jaccard_pairs
    from kgtm.spandedup import substring_dedup

    # four copies, ids shifted and words suffixed per copy, so each copy
    # keeps the planted near-dups without pairing with another copy and
    # the file is large enough for the real rule to fan it out
    sf = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]).to_pandas()
    stride = int(sf.doc_id.max()) + 1
    copies = [
        pd.DataFrame(
            {
                "doc_id": sf.doc_id + k * stride,
                "text": sf.text.str.replace(r"(\S+)", rf"\1_c{k}", regex=True),
            }
        )
        for k in range(4)
    ]
    path = _write_one_row_group(pd.concat(copies), str(tmp_path / "docs.parquet"))
    docs = spark.read.parquet(path)
    assert docs.rdd.getNumPartitions() == 1

    for op in (
        lambda: ngram_jaccard_pairs(docs, threshold=0.5),
        lambda: substring_dedup(docs),
    ):
        (left, took_left), (fanned, took_fanned) = _both_ways(
            monkeypatch, session, "ensure_min_parallelism", op
        )
        assert took_left and not any(took_left)
        assert took_fanned and all(took_fanned)
        assert fanned.count() > 0
        assert_same_both_ways(left, fanned)


def test_query_compaction_keeps_topk(spark, embeddings, monkeypatch):
    """brute_topk and lsh_topk give the same rows and schema whether or not
    _compact_query_side coalesces their (tiny, 4-way) query side."""
    from kgtm import similarity

    queries = embeddings.filter("vec_id % 25 = 0").repartition(4)
    for op in (
        lambda: similarity.brute_topk(embeddings, queries, k=5),
        lambda: similarity.lsh_topk(embeddings, queries, k=5),
    ):
        (left, took_left), (compact, took_compact) = _both_ways(
            monkeypatch, similarity, "_compact_query_side", op
        )
        assert took_left == [False]
        assert took_compact == [True]
        assert compact.count() > 0
        assert_same_both_ways(left, compact)
