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


class _NonLocalFS:
    """The store's Hadoop filesystem, reporting a scheme other than
    ``file`` so ``_claim`` takes its exists + ``FileSystem.rename`` branch
    (the one HDFS-class stores take); every other call goes to the real
    filesystem. Each rename is counted in ``renames``."""

    def __init__(self, fs, renames):
        self._fs, self._renames = fs, renames

    def getScheme(self):
        return "hdfs"

    def rename(self, src, dst):
        self._renames.append(dst.getName())
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


@pytest.mark.parametrize("coord_name", ["rename", "lock"])
def test_concurrent_writers_through_coordinators(
    spark, documents, tmp_path, monkeypatch, coord_name
):
    """The seq-claim protocol holds through both branches of ``_claim``,
    six unpartitioned ``docs`` commits each.

    ``lock``: the claim a ``file:`` store takes (a hard link, which fails
    atomically when the manifest exists, so it excludes like a lock), under
    six truly concurrent writers. ``rename``: the exists + rename branch,
    forced onto the local store. It is rename-if-absent only on HDFS-class
    filesystems (a POSIX rename overwrites), so that leg runs its six writers
    one after another: it checks the claim and the seq pick, not a race."""
    from concurrent.futures import ThreadPoolExecutor

    from kgtm import materialize as mat
    from kgtm.materialize import list_commits, read_table

    renames = []
    if coord_name == "rename":
        claim = mat._claim
        monkeypatch.setattr(
            mat,
            "_claim",
            lambda fs, jvm, tmp, dst: claim(_NonLocalFS(fs, renames), jvm, tmp, dst),
        )
    store = str(tmp_path / f"store-{coord_name}")
    df = documents.limit(20).localCheckpoint(eager=True)
    n = df.count()

    def commit(_):
        return write_table(df, store, table="docs", partition_by=())

    if coord_name == "lock":
        with ThreadPoolExecutor(max_workers=6) as pool:
            commits = list(pool.map(commit, range(6)))
    else:
        commits = [commit(i) for i in range(6)]
    seqs = sorted(c["seq"] for c in commits)
    assert len(set(seqs)) == 6, seqs
    assert [c["seq"] for c in list_commits(store)] == seqs
    assert read_table(spark, store, table="docs").count() == 6 * n
    if coord_name == "rename":  # every claim went through the rename branch
        assert renames == [f"{seq:010d}.json" for seq in seqs], renames


def test_claim_marker_has_one_winner_under_race(spark, tmp_path):
    """Eight threads, released together by a barrier, claim one marker name
    per round: exactly one claim wins each round, so the rename-if-absent
    under claim_marker is atomic on the store's own (file:) filesystem."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from kgtm.materialize import claim_marker

    store = str(tmp_path / "store")
    writers, rounds = 8, 200
    barrier = threading.Barrier(writers)

    def claim(name):
        barrier.wait(timeout=60)
        return claim_marker(spark, store, name)

    with ThreadPoolExecutor(max_workers=writers) as pool:
        winners = [
            sum(pool.map(claim, [f"race-{r}"] * writers)) for r in range(rounds)
        ]
    bad = {r: w for r, w in enumerate(winners) if w != 1}
    assert not bad, f"rounds without exactly one winner: {bad}"


def test_commit_claims_seq_over_a_stale_checksum_sidecar(spark, tmp_path):
    """A manifest removed outside Hadoop leaves LocalFileSystem's .crc
    sidecar behind; the next commit claiming that seq must not be read
    against the stale checksum, which would hide it from every reader."""
    from kgtm.materialize import _fs, list_commits

    store = tmp_path / "store"
    gone = store / "_commits" / "0000000000.json"
    # written through LocalFileSystem itself, which writes the sidecar
    fs, jvm = _fs(spark, str(gone))
    out = fs.create(jvm.org.apache.hadoop.fs.Path(str(gone)), True)
    out.write(bytearray(b'{"commit_id": "cgone", "seq": 0, "pad": 0}'))
    out.close()
    gone.unlink()
    assert (gone.parent / ".0000000000.json.crc").exists()
    c = write_table(spark.range(3).withColumn("source", F.lit("s")), str(store))
    assert c["seq"] == 0
    assert [m["commit_id"] for m in list_commits(str(store))] == [c["commit_id"]]


def test_manifest_cache_fresh_and_unpoisonable(spark, tmp_path):
    """The parsed-manifest cache (list_commits) must never go stale or get
    poisoned: a new commit is visible on the very next listing, a mutated
    returned dict does not leak into later calls, and an expired manifest
    drops out of the listing."""
    from kgtm.materialize import expire_commits, list_commits, write_table

    store = str(tmp_path / "store")
    df = spark.range(5).selectExpr("id", "'x' as source")
    c1 = write_table(df, store, table="triples")
    first = list_commits(store, spark)
    assert [c["commit_id"] for c in first] == [c1["commit_id"]]

    # visible immediately after the next commit (the listing stays fresh;
    # only unchanged files skip re-parsing)
    c2 = write_table(df, store, table="triples")
    second = list_commits(store, spark)
    assert {c["commit_id"] for c in second} == {c1["commit_id"], c2["commit_id"]}

    # caller mutation cannot poison the cache (deep copies both ways)
    second[0]["seq"] = 99_999
    second[0].setdefault("replaces", []).append("bogus")
    clean = list_commits(store, spark)
    assert sorted(c["seq"] for c in clean) == sorted(c["seq"] for c in first + [c2])
    assert all("bogus" not in c.get("replaces", []) for c in clean)

    # an expired manifest disappears even though its parse is still cached
    expire_commits(store, keep_last=1, spark=spark)
    after = [c["commit_id"] for c in list_commits(store, spark)]
    assert after == [c2["commit_id"]]

    # cached path returns the same content as a cold parse
    from kgtm import materialize as mat

    warm = list_commits(store, spark)
    mat._MANIFEST_CACHE.clear()
    cold = list_commits(store, spark)
    assert warm == cold


def test_list_commits_skips_only_vanished_manifests(spark, tmp_path, monkeypatch):
    """A manifest deleted between listing and open is skipped; any other
    failed read (an I/O or checksum error) raises instead of silently
    dropping the commit from every read."""
    from py4j.protocol import Py4JJavaError

    from kgtm import materialize as mat

    store = str(tmp_path / "store")
    write_table(spark.range(3).selectExpr("id", "'x' as source"), store)
    jvm = spark.sparkContext._jvm

    def failing(exc):
        def read(spark, path):
            raise Py4JJavaError(f"open {path}", exc)

        return read

    mat._MANIFEST_CACHE.clear()
    monkeypatch.setattr(mat, "_read_bytes", failing(jvm.java.io.IOException("disk")))
    with pytest.raises(Py4JJavaError):
        mat.list_commits(store, spark)
    monkeypatch.setattr(
        mat, "_read_bytes", failing(jvm.java.io.FileNotFoundException("gone"))
    )
    assert mat.list_commits(store, spark) == []


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


def test_read_table_unions_commit_schemas(spark, events, tmp_path):
    """Schema evolution across commits: a later commit adds a column; the
    read surfaces it with NULLs for older commits. Two commits that record
    one column with different types cannot be unioned."""
    from kgtm.materialize import read_table, write_table

    store = str(tmp_path / "store")
    tr = events_to_transcripts(events)
    triples = build_triples(tr, ontology_index_df(spark), ontology_snapshots_df(spark))
    write_table(triples, store)
    write_table(triples.withColumn("pipeline_ver", F.lit("v2")), store)

    merged = read_table(spark, store)
    assert "pipeline_ver" in merged.columns
    counts = {r.pipeline_ver: r["count"] for r in merged.groupBy("pipeline_ver").count().collect()}
    assert counts[None] == counts["v2"] == triples.count()

    clash = str(tmp_path / "clash")
    c1 = write_table(spark.range(3).selectExpr("id AS x", "'s' AS source"), clash)
    c2 = write_table(spark.range(3).selectExpr("CAST(id AS STRING) AS x", "'s' AS source"), clash)
    with pytest.raises(ValueError, match="'x'") as err:
        read_table(spark, clash)
    assert c1["commit_id"] in str(err.value) and c2["commit_id"] in str(err.value)


def test_read_table_types_legacy_commit_ids_as_strings(spark, tmp_path):
    """A store written before manifests recorded schemas (plain partitionBy
    writes, manifests without a ``schema`` key) reads ``commit`` as the
    manifest's string ids even when an id looks like a number: partition
    type inference reads 123456789012 alone as bigint, and together with
    20e000000009 as a decimal."""
    from kgtm.materialize import read_table

    store = tmp_path / "store"
    ids = ["123456789012", "20e000000009"]
    df = spark.createDataFrame([(1, "a"), (2, "b")], "x long, source string")
    (store / "_commits").mkdir(parents=True)
    for seq, cid in enumerate(ids):
        df.write.partitionBy("source").parquet(str(store / "triples" / f"commit={cid}"))
        (store / "_commits" / f"{seq:010d}.json").write_text(json.dumps(
            {"commit_id": cid, "seq": seq, "table": "triples", "partition_by": ["source"]}
        ))
    for as_of, want in [(0, ids[:1]), (1, ids), (None, ids)]:
        back = read_table(spark, str(store), as_of=as_of)
        assert back.schema["commit"].dataType.simpleString() == "string"
        assert back.columns == ["x", "commit", "source"]
        assert sorted({r.commit for r in back.collect()}) == sorted(want)


def _drop_recorded_schemas(store):
    """Turn every manifest under ``store`` into a pre-schema one (and drop
    its checksum sidecar, which would no longer match)."""
    for m in (store / "_commits").glob("*.json"):
        manifest = json.loads(m.read_text())
        manifest.pop("schema", None)
        m.write_text(json.dumps(manifest))
        (m.parent / f".{m.name}.crc").unlink(missing_ok=True)


def test_read_table_mixes_pre_schema_and_recorded_commits(spark, tmp_path):
    """A store with commits from before and after manifests recorded
    schemas stays readable. Inference alone types the ledger's kept_part
    directories as string and "0"/"1" directories as int; the recorded
    types (boolean, string) win over those, and Spark casts the values."""
    from kgtm.curation import persist_ledger, read_ledger
    from kgtm.materialize import read_table

    store = tmp_path / "store"
    ledger = spark.createDataFrame([(1, True), (2, False)], "id long, kept boolean")
    old = persist_ledger(ledger, str(store))
    _drop_recorded_schemas(store)
    persist_ledger(ledger.withColumn("id", F.col("id") + 10), str(store))
    assert sorted(r.id for r in read_ledger(spark, str(store)).collect()) == [11, 12]
    assert sorted(r.id for r in read_ledger(spark, str(store), as_of=old["seq"]).collect()) == [1, 2]
    assert read_table(spark, str(store), table="ledger").schema["kept_part"].dataType.simpleString() == "boolean"

    digits = tmp_path / "digits"
    df = spark.createDataFrame([(i, str(i % 3)) for i in range(6)], "x long, bucket string")
    write_table(df, str(digits), partition_by=("bucket",))
    _drop_recorded_schemas(digits)
    write_table(df, str(digits), partition_by=("bucket",))
    back = read_table(spark, str(digits))
    assert back.schema.simpleString() == "struct<x:bigint,commit:string,bucket:string>"
    assert sorted(r.bucket for r in back.collect()) == sorted(2 * [str(i % 3) for i in range(6)])


def test_read_table_widens_pre_schema_partition_types(spark, tmp_path):
    """Pre-schema commits are inferred together, in one Spark job, so their
    partition types widen across commits as one partitioned read widens
    them: int with bigint reads as bigint, int with string as string."""
    from kgtm.materialize import read_table

    for name, values, want in [
        ("wide", [1, 2, 10**10], "bigint"),
        ("mixed", [1, 2, "a"], "string"),
    ]:
        store = tmp_path / name
        for seq, v in enumerate(values):
            spark.createDataFrame([(seq, str(v))], "x long, part string").write.partitionBy(
                "part"
            ).parquet(str(store / "triples" / f"commit=c{seq}"))
        (store / "_commits").mkdir()
        for seq in range(len(values)):
            (store / "_commits" / f"{seq:010d}.json").write_text(json.dumps(
                {"commit_id": f"c{seq}", "seq": seq, "table": "triples", "partition_by": ["part"]}
            ))
        sc = spark.sparkContext
        group = f"legacy-read-{name}-{tmp_path.name}"
        sc.setJobGroup(group, group)
        try:
            back = read_table(spark, str(store))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        assert back.schema.simpleString() == f"struct<x:bigint,commit:string,part:{want}>"
        assert sorted(str(r.part) for r in back.collect()) == sorted(str(v) for v in values)


def test_read_table_keeps_written_partition_types(spark, tmp_path):
    """Partition columns read back with the types the writer wrote, never
    the types their directory names suggest: string values "0", "1", "2"
    stay strings (inference says int) and a boolean stays boolean
    (inference says string)."""
    from kgtm.materialize import read_table, write_table

    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, str(i % 3), i % 2 == 0) for i in range(9)],
        "x long, bucket string, flag boolean",
    )
    write_table(df, store, partition_by=("bucket", "flag"))
    back = read_table(spark, store)
    assert back.schema.simpleString() == (
        "struct<x:bigint,commit:string,bucket:string,flag:boolean>"
    )
    assert sorted((r.x, r.bucket, r.flag) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_read_table_runs_no_job(spark, tmp_path):
    """Building a read costs no Spark job: the schema comes from the
    manifests, not from a footer read of the data files."""
    from kgtm.materialize import read_table, write_table

    store = str(tmp_path / "store")
    df = spark.createDataFrame([(i, f"s{i % 3}") for i in range(30)], "x long, source string")
    write_table(df, store)
    write_table(df, store)
    sc = spark.sparkContext
    group = f"read-table-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        read_table(spark, store)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0


def test_read_table_empty_partitioned_commit(spark, tmp_path):
    """A zero-row partitioned commit leaves only _SUCCESS on disk; it reads
    as a typed empty frame with the layout of a non-empty commit's read."""
    from kgtm.materialize import read_table, write_table

    store = tmp_path / "store"
    df = spark.createDataFrame([(1, 2, "a")], "x long, y int, source string")
    c = write_table(df.limit(0), str(store))
    commit_dir = store / "triples" / f"commit={c['commit_id']}"
    assert {p.name for p in commit_dir.iterdir() if not p.name.startswith(".")} == {"_SUCCESS"}
    empty = read_table(spark, str(store))
    assert empty.count() == 0
    write_table(df, str(store))
    assert empty.schema == read_table(spark, str(store)).schema


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


def test_cli_checkpoint_dir_commits_the_same_triples(spark, tmp_path, monkeypatch):
    """The CLI's ``--checkpoint-dir`` path, run twice over one (``file:``)
    root, commits the same triples as a run without it; the second run
    reads the committed buckets back."""
    from kgtm import session
    from kgtm.cli import main
    from kgtm.materialize import read_triples

    corpus = tmp_path / "corpus"
    generate(SynthConfig(seed=11, n_convs=40, n_ontologies=15), out_dir=str(corpus))
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    base = [
        "--transcripts", str(corpus / "transcripts.parquet"),
        "--ontology-index", str(corpus / "ontology_index.parquet"),
        "--snapshots", str(corpus / "ontology_snapshots.parquet"),
    ]
    ck = (tmp_path / "ck").as_uri()
    for out in ("ck1", "ck2"):
        assert main([*base, "--out", str(tmp_path / out), "--checkpoint-dir", ck, "--n-buckets", "4"]) == 0
    assert main([*base, "--out", str(tmp_path / "plain")]) == 0

    plain = read_triples(spark, str(tmp_path / "plain")).drop("commit")
    assert plain.count() > 0
    for out in ("ck1", "ck2"):
        got = read_triples(spark, str(tmp_path / out)).drop("commit")
        assert got.columns == plain.columns
        assert got.exceptAll(plain).count() == 0
        assert plain.exceptAll(got).count() == 0


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
