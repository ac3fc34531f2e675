"""Resumable per-partition checkpoints (idempotent resume) + metrics rows
and error formatting."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kgtm.checkpoints import bucket_col, completed_buckets, run_with_checkpoints
from kgtm.materialize import read_metrics, write_table
from kgtm.metrics import MetricsCollector, error_struct, per_partition_counts
from kgtm.pipeline import build_triples
from kgtm.transcripts import (
    events_to_transcripts,
    ontology_index_df,
    ontology_snapshots_df,
)


def _transform_factory(spark):
    idx = ontology_index_df(spark)
    snaps = ontology_snapshots_df(spark)

    def transform(tr):
        return build_triples(tr, idx, snaps)

    return transform


def test_checkpoint_full_run_matches_direct(spark, events, tmp_path):
    tr = events_to_transcripts(events)
    transform = _transform_factory(spark)
    direct = transform(tr)
    out = run_with_checkpoints(spark, tr, transform, str(tmp_path / "ck"), n_buckets=8)
    assert out.exceptAll(direct).count() == 0
    assert direct.exceptAll(out).count() == 0
    assert sorted(completed_buckets(spark, str(tmp_path / "ck"))) == list(range(8))


def test_checkpoint_resume_is_idempotent(spark, events, tmp_path):
    """Kill/restart mid-run: first run covers only half the buckets; the
    resumed run must produce output identical to a clean full run."""
    tr = events_to_transcripts(events)
    transform = _transform_factory(spark)
    out_dir = str(tmp_path / "ck2")

    # simulate a partial run: restrict input to buckets 0-3, mark only those
    half = tr.withColumn("_b", bucket_col("conv_id", 8)).filter(F.col("_b") < 4).drop("_b")
    run_with_checkpoints(spark, half, transform, out_dir, n_buckets=8)
    # pretend buckets 4-7 never committed: drop their manifest rows
    # (they were committed as empty; rewrite manifest with only 0-3)
    man_dir = os.path.join(out_dir, "_kgtm_manifest")
    kept = spark.read.parquet(man_dir).filter(F.col("bucket") < 4)
    kept_rows = kept.collect()
    import shutil

    shutil.rmtree(man_dir)
    spark.createDataFrame(kept_rows, "bucket int").write.parquet(man_dir)

    # resume with the FULL input
    resumed = run_with_checkpoints(spark, tr, transform, out_dir, n_buckets=8)
    direct = transform(tr)
    assert resumed.exceptAll(direct).count() == 0
    assert direct.exceptAll(resumed).count() == 0


def test_checkpoint_skips_completed(spark, events, tmp_path):
    """A second run over a fully-checkpointed dir reads, never recomputes."""
    tr = events_to_transcripts(events)
    calls = {"n": 0}

    def transform(df):
        calls["n"] += 1
        return df.select("conv_id", "turn_idx", "text")

    out_dir = str(tmp_path / "ck3")
    run_with_checkpoints(spark, tr, transform, out_dir, n_buckets=4)
    assert calls["n"] == 1
    run_with_checkpoints(spark, tr, transform, out_dir, n_buckets=4)
    assert calls["n"] == 1  # not called again


def test_error_struct_chain():
    try:
        try:
            raise ValueError("inner")
        except ValueError as e:
            raise RuntimeError("outer") from e
    except RuntimeError as exc:
        s = error_struct(exc)
    assert s["type"] == "RuntimeError"
    assert s["chain"] == "RuntimeError||ValueError"
    assert "outer" in s["message"]


def test_metrics_collector(spark, tmp_path):
    mc = MetricsCollector()
    with mc.stage("extract", n_rows_in=10) as rec:
        rec["n_rows_out"] = 7
    with pytest.raises(ValueError):
        with mc.stage("boom"):
            raise ValueError("nope")
    store = str(tmp_path / "store")
    commit = write_table(
        spark.range(3).withColumn("source", F.lit("s")), store, metrics=mc
    )
    rows = {r.stage: r for r in read_metrics(spark, store).collect()}
    assert set(rows) == {"extract", "boom", "materialize"}
    assert {r.commit for r in rows.values()} == {commit["commit_id"]}
    assert rows["extract"].n_rows_in == 10
    assert rows["extract"].n_rows_out == 7
    assert rows["extract"].duration_s >= 0
    assert rows["boom"].error.type == "ValueError"


def test_per_partition_counts(spark, events):
    tr = events_to_transcripts(events).repartition(4)
    m = per_partition_counts(tr, "assembly")
    rows = m.collect()
    assert sum(r.n_rows_out for r in rows) == events.count()
    assert all(r.stage == "assembly" for r in rows)


def test_format_error_message_head_tail():
    from kgtm.metrics import format_error_message

    short = "\n".join(f"line{i}" for i in range(20))
    assert format_error_message(short) == short
    long = "\n".join(f"line{i}" for i in range(50))
    out = format_error_message(long).splitlines()
    assert out[:10] == [f"line{i}" for i in range(10)]
    assert out[-10:] == [f"line{i}" for i in range(40, 50)]
    assert "............" in "\n".join(out)
