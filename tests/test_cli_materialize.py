"""CLI (spark-submit entry) + materialization contract tests."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kgtm.cli import build_parser, parse_stamp
from kgtm.materialize import read_metrics, read_triples, write_table, write_triples
from kgtm.pipeline import build_triples
from kgtm.synth import SynthConfig, generate
from kgtm.transcripts import (
    events_to_transcripts,
    ontology_index_df,
    ontology_snapshots_df,
)

REPO = Path(__file__).resolve().parent.parent


def test_parse_stamp_formats():
    assert parse_stamp("2024.07.01-123000").year == 2024
    assert parse_stamp("2024-07-01").month == 7
    with pytest.raises(Exception):
        parse_stamp("not-a-date")


def test_parser_requires_timestamp_for_pinned_mode():
    p = build_parser()
    args = p.parse_args(
        ["--transcripts", "t", "--ontology-index", "i", "--snapshots", "s",
         "--out", "o", "--onto-version", "timestampArchived"]
    )
    assert args.timestamp is None  # main() rejects this combination (exit 2)


def test_write_and_read_triples(spark, events, tmp_path):
    tr = events_to_transcripts(events)
    triples = build_triples(tr, ontology_index_df(spark), ontology_snapshots_df(spark))
    commit = write_triples(triples, str(tmp_path / "store"))
    assert commit["commit_id"]
    back = read_triples(spark, str(tmp_path / "store"))
    assert back.count() == triples.count()
    # partition pruning by source actually prunes files
    linked_only = back.filter(F.col("source") == "archivo-latest")
    assert 0 < linked_only.count() < back.count()
    m = read_metrics(spark, str(tmp_path / "store"))
    assert m.filter(F.col("stage") == "materialize").count() == 1


def test_write_table_runs_one_job_per_commit(spark, tmp_path):
    """A parquet commit costs the data write and nothing else: the commit's
    metrics ride in the manifest, so no second job writes a metrics/ tree."""
    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(30)], "x long, source string"
    )
    sc = spark.sparkContext

    def jobs(group, run):
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    store = tmp_path / "store"
    bare = jobs(
        f"bare-write-{tmp_path.name}",
        lambda: df.write.partitionBy("source").parquet(str(tmp_path / "bare")),
    )
    commit = jobs(f"write-table-{tmp_path.name}", lambda: write_table(df, str(store)))
    assert commit == bare
    assert not (store / "metrics").exists()


def test_read_metrics_is_manifest_gated(spark, tmp_path):
    """read_metrics reads committed manifests only: a legacy-layout
    metrics/commit=<id> directory with no manifest (a writer that crashed
    before its rename) stays invisible, and an empty store reads as a typed
    empty frame."""
    from kgtm.schemas import METRICS_SCHEMA

    store = str(tmp_path / "store")
    columns = [*METRICS_SCHEMA.fieldNames(), "commit"]
    c = write_table(spark.range(5).withColumn("source", F.lit("s")), store)
    spark.createDataFrame(
        [(-1, "orphaned", None, None, None, 0.5, None)], METRICS_SCHEMA
    ).write.parquet(f"{store}/metrics/commit=c0ddba11c0de")
    m = read_metrics(spark, store)
    assert m.columns == columns
    assert m.schema["commit"].dataType.simpleString() == "string"
    assert [(r.stage, r.commit) for r in m.collect()] == [
        ("materialize", c["commit_id"])
    ]
    empty = read_metrics(spark, str(tmp_path / "empty"))
    assert empty.schema == m.schema and empty.count() == 0


def test_commit_snapshot_isolation_and_time_travel(spark, events, tmp_path):
    """Manifest-gated reads: a second commit appends; as_of reads the store
    at an earlier seq; an unmanifested (crashed) data dir is invisible."""
    from kgtm.materialize import list_commits

    store = str(tmp_path / "store")
    tr = events_to_transcripts(events)
    triples = build_triples(tr, ontology_index_df(spark), ontology_snapshots_df(spark))
    n = triples.count()

    c1 = write_triples(triples, store)
    c2 = write_triples(triples, store)
    assert [c["seq"] for c in list_commits(store)] == [0, 1]
    assert read_triples(spark, store).count() == 2 * n
    assert read_triples(spark, store, as_of=c1["seq"]).count() == n
    assert read_triples(spark, store, as_of=c2["seq"]).count() == 2 * n

    # a half-written commit (data dir, NO manifest) must stay invisible
    crashed = Path(store) / "triples" / "commit=deadbeef0000"
    crashed.mkdir(parents=True)
    triples.limit(5).write.mode("overwrite").parquet(str(crashed / "source=crashed"))
    assert read_triples(spark, store).count() == 2 * n


def test_manifest_store_on_hadoop_file_scheme(spark, events, tmp_path):
    """The commit protocol must work through the Hadoop FileSystem API (a
    `file:` URI here; same code path as hdfs://, s3a://) — no driver-local
    POSIX assumption."""
    from kgtm.materialize import list_commits

    store = "file://" + str(tmp_path / "store")
    tr = events_to_transcripts(events)
    triples = build_triples(tr, ontology_index_df(spark), ontology_snapshots_df(spark))
    n = triples.count()
    c1 = write_triples(triples, store)
    write_triples(triples, store)
    assert [c["seq"] for c in list_commits(store)] == [0, 1]
    assert read_triples(spark, store).count() == 2 * n
    assert read_triples(spark, store, as_of=c1["seq"]).count() == n


def test_manifest_seq_is_race_and_corruption_safe(spark, events, tmp_path):
    """seq assignment must survive deleted manifests, a concurrent writer
    claiming the next seq, truncated manifests, and leftover temp files —
    the failure modes of the old count-of-*.json scheme."""
    from kgtm.materialize import list_commits

    store = str(tmp_path / "store")
    tr = events_to_transcripts(events)
    triples = build_triples(tr, ontology_index_df(spark), ontology_snapshots_df(spark))

    c1 = write_triples(triples, store)
    c2 = write_triples(triples, store)
    commits_dir = Path(store) / "_commits"

    # delete the FIRST manifest: next commit must take max+1 (=2), never
    # reuse c2's seq the way `count of files` would
    (commits_dir / f"{c1['seq']:010d}.json").unlink()
    c3 = write_triples(triples, store)
    assert c3["seq"] == c2["seq"] + 1
    seqs = [c["seq"] for c in list_commits(store)]
    assert len(seqs) == len(set(seqs)) and seqs == sorted(seqs)

    # a concurrent writer already claimed the next seq — the destination
    # name is the SEQ ALONE, so this writer collides on the same path and
    # must land on the one after
    taken = c3["seq"] + 1
    (commits_dir / f"{taken:010d}.json").write_text(
        '{"commit_id": "cafecafecafe", "seq": %d}' % taken
    )
    c4 = write_triples(triples, store)
    assert c4["seq"] == taken + 1

    # legacy-suffix manifests are still read (old stores stay readable)
    legacy_seq = c4["seq"] + 1
    (commits_dir / f"{legacy_seq:010d}-feedfacebeef.json").write_text(
        '{"commit_id": "feedfacebeef", "seq": %d, "table": "triples"}' % legacy_seq
    )
    assert any(c["commit_id"] == "feedfacebeef" for c in list_commits(store))

    # truncated manifest + leftover temp file: readers skip both
    (commits_dir / f"{legacy_seq + 1:010d}-0123456789ab.json").write_text('{"comm')
    (commits_dir / ".tmp-deadbeef.json").write_text("{}")
    visible = list_commits(store)
    assert {c["commit_id"] for c in visible} >= {c2["commit_id"], c3["commit_id"], c4["commit_id"]}
    assert all(c["commit_id"] != "0123456789ab" for c in visible)
    read_triples(spark, store)  # still readable end-to-end


def test_expire_commits_and_vacuum(spark, events, tmp_path):
    """Snapshot expiry keeps the newest N commits (older as_of reads now
    raise); vacuum removes only STALE orphaned data dirs — manifested commits
    and young (possibly in-flight) orphans survive."""
    from kgtm.materialize import expire_commits, list_commits, vacuum

    from kgtm.materialize import read_table, write_table

    store = str(tmp_path / "store")
    tr = events_to_transcripts(events)
    triples = build_triples(tr, ontology_index_df(spark), ontology_snapshots_df(spark))
    n = triples.count()
    c1 = write_triples(triples, store)
    c2 = write_triples(triples, store)
    c3 = write_triples(triples, store)
    # a second, QUIET table sharing the store: keep_last is per table, so
    # the busy triples table must not expire the ledger's only commit
    lg = write_table(triples.limit(3), store, table="ledger")

    expired = expire_commits(store, keep_last=2)
    assert [c["commit_id"] for c in expired] == [c1["commit_id"]]
    assert [c["seq"] for c in list_commits(store)] == [c2["seq"], c3["seq"], lg["seq"]]
    assert read_table(spark, store, table="ledger").count() == 3
    assert read_triples(spark, store).count() == 2 * n
    with pytest.raises(FileNotFoundError):
        read_triples(spark, store, as_of=c1["seq"])
    assert not (Path(store) / "triples" / f"commit={c1['commit_id']}").exists()

    # orphan: data dir, no manifest (simulated crash before the rename)
    orphan = Path(store) / "triples" / "commit=0ddba11c0de0"
    orphan.mkdir(parents=True)
    (orphan / "part-0.bin").write_bytes(b"x")
    # a YOUNG orphan is protected by the grace period
    assert vacuum(store, min_age_ms=3600 * 1000) == []
    assert orphan.exists()
    # a store written before metrics moved into the manifest kept them under
    # metrics/commit=<id>; once the commit is gone that directory is an
    # orphan of the legacy layout — vacuum sweeps it like a data orphan
    m_orphan = Path(store) / "metrics" / "commit=0ddba11c0de0"
    m_orphan.mkdir(parents=True)
    (m_orphan / "part-0.bin").write_bytes(b"x")
    # past the grace period both go; committed dirs stay
    deleted = vacuum(store, min_age_ms=0)
    assert set(deleted) == {
        f"{store}/triples/commit=0ddba11c0de0",
        f"{store}/metrics/commit=0ddba11c0de0",
    }
    assert not orphan.exists() and not m_orphan.exists()
    assert read_triples(spark, store).count() == 2 * n


def test_truly_concurrent_writers_get_unique_seqs(spark, events, tmp_path):
    """Eight ACTUAL concurrent writers (threads sharing the SparkSession —
    Spark is thread-safe for job submission) race manifest publication on one
    store: every commit must land with a unique seq and all data must be
    readable afterwards."""
    from concurrent.futures import ThreadPoolExecutor

    from kgtm.materialize import list_commits, read_table

    store = str(tmp_path / "store")
    tr = events_to_transcripts(events)
    triples = build_triples(
        tr, ontology_index_df(spark), ontology_snapshots_df(spark)
    ).limit(50).localCheckpoint(eager=True)
    n = triples.count()

    with ThreadPoolExecutor(max_workers=8) as pool:
        commits = list(pool.map(lambda _: write_triples(triples, store), range(8)))

    seqs = sorted(c["seq"] for c in commits)
    assert len(set(seqs)) == 8, seqs  # no duplicate seq under a real race
    assert [c["seq"] for c in list_commits(store)] == seqs
    assert read_table(spark, store).count() == 8 * n


def test_compaction_replaces_and_preserves_time_travel(spark, events, tmp_path):
    """compact_table rewrites N live commits into one: current reads switch
    atomically to the rewrite (same rows, one data dir), as_of OLDER than the
    compaction still sees the originals, and expire_replaced reclaims them."""
    from kgtm.materialize import (
        compact_table,
        expire_replaced,
        list_commits,
        read_table,
    )

    store = str(tmp_path / "store")
    tr = events_to_transcripts(events)
    triples = build_triples(tr, ontology_index_df(spark), ontology_snapshots_df(spark))
    n = triples.count()
    c1 = write_triples(triples, store)
    write_triples(triples, store)
    write_triples(triples, store)

    comp = compact_table(spark, store)
    assert len(comp["replaces"]) == 3
    cur = read_table(spark, store)
    assert cur.count() == 3 * n
    # the current view reads ONLY the compacted commit
    assert cur.select("commit").distinct().collect()[0][0] == comp["commit_id"]
    # pre-compaction as_of still resolves the original commit
    old = read_table(spark, store, as_of=c1["seq"])
    assert old.count() == n
    assert old.select("commit").distinct().collect()[0][0] == c1["commit_id"]

    victims = expire_replaced(store)
    assert {v["commit_id"] for v in victims} == set(comp["replaces"])
    assert read_table(spark, store).count() == 3 * n
    with pytest.raises(FileNotFoundError):
        read_table(spark, store, as_of=c1["seq"])
    assert len(list_commits(store)) == 1

    # nothing left to compact
    with pytest.raises(ValueError, match="nothing to compact"):
        compact_table(spark, store)


def test_compaction_asof_boundary(spark, events, tmp_path):
    """The replaces filter flips exactly AT the compaction seq: as_of one
    before it reads the originals, as_of equal to it reads the rewrite."""
    from kgtm.materialize import compact_table, read_table

    store = str(tmp_path / "store")
    tr = events_to_transcripts(events)
    triples = build_triples(
        tr, ontology_index_df(spark), ontology_snapshots_df(spark)
    ).limit(40).localCheckpoint(eager=True)
    n = triples.count()
    write_triples(triples, store)
    write_triples(triples, store)
    comp = compact_table(spark, store)

    before = read_table(spark, store, as_of=comp["seq"] - 1)
    assert before.count() == 2 * n
    assert before.select("commit").distinct().count() == 2  # the originals
    at = read_table(spark, store, as_of=comp["seq"])
    assert at.count() == 2 * n
    assert at.select("commit").distinct().collect()[0][0] == comp["commit_id"]


def test_read_table_merge_schema(spark, events, tmp_path):
    """Schema evolution across commits: a later commit adds a column; the
    merged read surfaces it with NULLs for older commits."""
    from kgtm.materialize import read_table, write_table

    store = str(tmp_path / "store")
    tr = events_to_transcripts(events)
    triples = build_triples(tr, ontology_index_df(spark), ontology_snapshots_df(spark))
    write_table(triples, store)
    write_table(triples.withColumn("pipeline_ver", F.lit("v2")), store)

    merged = read_table(spark, store, merge_schema=True)
    assert "pipeline_ver" in merged.columns
    counts = {r.pipeline_ver: r["count"] for r in merged.groupBy("pipeline_ver").count().collect()}
    assert counts[None] == counts["v2"] == triples.count()


def test_cli_end_to_end_subprocess(tmp_path):
    """Drive the real CLI as spark-submit would (fresh python == fresh JVM)."""
    corpus = tmp_path / "corpus"
    generate(SynthConfig(seed=11, n_convs=40, n_ontologies=15), out_dir=str(corpus))
    out = subprocess.run(
        [
            sys.executable,
            str(REPO / "kgtm" / "cli.py"),
            "--transcripts", str(corpus / "transcripts.parquet"),
            "--ontology-index", str(corpus / "ontology_index.parquet"),
            "--snapshots", str(corpus / "ontology_snapshots.parquet"),
            "--out", str(tmp_path / "out"),
            "--golden", str(corpus / "golden_triples.parquet"),
            "--onto-version", "latestArchived",
            "--cores", "4",
        ],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    report = json.loads(out.stdout.strip().splitlines()[-1])
    assert report["pr"]["precision"] >= 0.95
    assert report["pr"]["recall"] >= 0.95


def test_cli_rejects_pin_mode_without_timestamp():
    from kgtm.cli import main

    rc = main(
        ["--transcripts", "t", "--ontology-index", "i", "--snapshots", "s",
         "--out", "o", "--onto-version", "timestampArchived"]
    )
    assert rc == 2


def test_bucketed_join_has_no_exchange(spark, events, tmp_path):
    """Two tables bucketed on the same key join WITHOUT a shuffle."""
    import os

    from kgtm.materialize import write_bucketed

    import shutil

    warehouse = Path(spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"))
    for t in ("t_triples", "t_convs"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(warehouse / t, ignore_errors=True)
    tr = events_to_transcripts(events)
    triples = build_triples(tr, ontology_index_df(spark), ontology_snapshots_df(spark))
    conv_meta = tr.groupBy("conv_id").count()

    write_bucketed(triples, "t_triples", "conv_id", n_buckets=8, sort_col="conv_id")
    write_bucketed(conv_meta, "t_convs", "conv_id", n_buckets=8, sort_col="conv_id")

    a = spark.table("t_triples")
    b = spark.table("t_convs")
    # force the merge path (the tiny side would auto-broadcast, which also
    # avoids a shuffle but would not demonstrate bucket co-location)
    joined = a.hint("merge").join(b, "conv_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:1200]
    assert "SortMergeJoin" in plan
    assert joined.count() == triples.count()
    for t in ("t_triples", "t_convs"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(warehouse / t, ignore_errors=True)
