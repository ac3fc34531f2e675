"""Resumable per-partition checkpoints (idempotent resume) + metrics rows
and error formatting."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from conftest import assert_same_both_ways
from kgtm.checkpoints import bucket_col, completed_buckets, run_with_checkpoints
from kgtm.materialize import list_commits, read_metrics, vacuum, write_table
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


def _counting(calls):
    def transform(df):
        calls["n"] += 1
        return df.select("conv_id", "turn_idx", "text")

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

    # simulate a partial run: restrict input to buckets 0-3, record only those
    half = tr.withColumn("_b", bucket_col("conv_id", 8)).filter(F.col("_b") < 4).drop("_b")
    run_with_checkpoints(spark, half, transform, out_dir, n_buckets=8)
    (c,) = list_commits(out_dir, spark)
    # pretend buckets 4-7 never committed (they were committed empty): the
    # first commit's manifest records only 0-3
    manifest = tmp_path / "ck2" / "_commits" / f"{c['seq']:010d}.json"
    recorded = json.loads(manifest.read_text())
    recorded["buckets"] = [0, 1, 2, 3]
    manifest.write_text(json.dumps(recorded))
    assert completed_buckets(spark, out_dir) == [0, 1, 2, 3]

    # resume with the FULL input
    resumed = run_with_checkpoints(spark, tr, transform, out_dir, n_buckets=8)
    direct = transform(tr)
    assert resumed.exceptAll(direct).count() == 0
    assert direct.exceptAll(resumed).count() == 0


def test_checkpoint_skips_completed(spark, events, tmp_path):
    """A second run over a fully-checkpointed dir reads, never recomputes."""
    tr = events_to_transcripts(events)
    calls = {"n": 0}
    transform = _counting(calls)

    out_dir = str(tmp_path / "ck3")
    run_with_checkpoints(spark, tr, transform, out_dir, n_buckets=4)
    assert calls["n"] == 1
    run_with_checkpoints(spark, tr, transform, out_dir, n_buckets=4)
    assert calls["n"] == 1  # not called again


def test_checkpoint_resume_on_file_uri_root(spark, events, tmp_path):
    """A ``file:`` root resumes like a plain path: the rerun returns the
    first run's rows and never calls ``transform``."""
    tr = events_to_transcripts(events)
    calls = {"n": 0}
    transform = _counting(calls)
    root = (tmp_path / "ck-uri").as_uri()
    first = run_with_checkpoints(spark, tr, transform, root, n_buckets=4)
    second = run_with_checkpoints(spark, tr, transform, root, n_buckets=4)
    assert calls["n"] == 1
    assert second.count() == tr.count()
    assert_same_both_ways(first, second)


def test_checkpoint_resume_rejects_other_bucketing(spark, events, tmp_path):
    """Buckets of another key or count are other sets of rows: resuming
    with them would duplicate or drop rows, so it raises."""
    tr = events_to_transcripts(events)
    transform = _counting({"n": 0})
    out_dir = str(tmp_path / "ck4")
    run_with_checkpoints(spark, tr, transform, out_dir, n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets=8"):
        run_with_checkpoints(spark, tr, transform, out_dir, n_buckets=8)
    with pytest.raises(ValueError, match="key='turn_idx'"):
        run_with_checkpoints(spark, tr, transform, out_dir, key="turn_idx", n_buckets=4)


def test_checkpoint_done_rerun_runs_no_job(spark, events, tmp_path):
    """With every bucket committed, building the result frame reads only
    manifests: no Spark job."""
    tr = events_to_transcripts(events)
    transform = _counting({"n": 0})
    out_dir = str(tmp_path / "ck5")
    run_with_checkpoints(spark, tr, transform, out_dir, n_buckets=4)
    sc = spark.sparkContext
    group = f"ck-rerun-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        run_with_checkpoints(spark, tr, transform, out_dir, n_buckets=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0


def test_checkpoint_crashed_run_is_invisible_and_vacuumed(spark, events, tmp_path, monkeypatch):
    """A run killed between its data write and its manifest claim leaves a
    ``commit=`` directory no manifest names: the resumed output never
    sees it, and vacuum removes it."""
    from kgtm import materialize

    tr = events_to_transcripts(events)
    transform = _counting({"n": 0})
    out_dir = str(tmp_path / "ck6")

    def crash(*args, **kwargs):
        raise RuntimeError("killed before the manifest claim")

    with monkeypatch.context() as m:
        m.setattr(materialize, "_commit_manifest", crash)
        with pytest.raises(RuntimeError):
            run_with_checkpoints(spark, tr, transform, out_dir, n_buckets=4)
    (orphan,) = (tmp_path / "ck6" / "checkpoint").iterdir()
    assert completed_buckets(spark, out_dir) == []

    resumed = run_with_checkpoints(spark, tr, transform, out_dir, n_buckets=4)
    direct = transform(tr)
    assert resumed.exceptAll(direct).count() == 0
    assert direct.exceptAll(resumed).count() == 0
    assert vacuum(out_dir, min_age_ms=0, spark=spark) == [
        f"{out_dir}/checkpoint/{orphan.name}"
    ]
    assert not orphan.exists()
    assert resumed.count() == direct.count()


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
