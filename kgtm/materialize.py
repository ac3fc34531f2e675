"""Triple-store materialization + per-commit metrics (north_rule).

Writes the final triple table partitioned for consumer access patterns and
records the commit's lineage/metrics rows in the commit's own manifest — the
batch analog of the reference's download_log.json written next to the
downloaded corpus (the reference's experiments/download_ontologies.py:168-172),
laid out like an Iceberg snapshot's ``summary`` map.

Sandbox note (SURVEY §7 hard-part 4): no Iceberg catalog is available here,
so the default format is parquet in an Iceberg-compatible layout (partition
directories + a _commits manifest). ``fmt="iceberg"`` switches to a real
Iceberg catalog when one is configured on the cluster — the contract
(partition spec, metrics in the commit manifest) is identical.
"""

from __future__ import annotations

import copy
import json
import re
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from kgtm.metrics import MetricsCollector
from kgtm.schemas import METRICS_SCHEMA

# Manifest file name: the zero-padded seq IS the whole name, so two writers
# claiming the same seq collide on the SAME destination path and
# rename-if-absent can arbitrate. (An earlier format suffixed the writer's
# commit_id — which made destinations writer-unique, so no two writers ever
# collided and "unique seq" was unenforced; the legacy suffix form is still
# READ for stores written by that version.)
_MANIFEST_RE = re.compile(r"^(\d{10})(-[0-9a-f]+)?\.json$")

#: parsed-manifest cache: uri -> ((mtime, length), manifest dict). Committed
#: manifests are write-once (atomic rename), so a (mtime, length) match from
#: listStatus makes the cached parse authoritative with zero extra reads.
#: Entries are returned as deep copies so callers can never poison the cache.
_MANIFEST_CACHE: dict[str, tuple[tuple[int, int], dict]] = {}
_MANIFEST_CACHE_MAX = 65536


def _manifest_names(c: dict) -> list[str]:
    """Candidate file names for a commit's manifest (canonical + legacy)."""
    return [f"{c['seq']:010d}.json", f"{c['seq']:010d}-{c['commit_id']}.json"]


def _child(base: str, *parts: str) -> str:
    """URI-safe path join (os.path.join breaks on s3a://, hdfs:// bases)."""
    return "/".join([base.rstrip("/"), *parts])


def _fs(spark: SparkSession, path: str):
    """Hadoop FileSystem for `path` — works for file:, hdfs:, s3a:, ... so the
    commit protocol runs on object storage, not just a driver-local POSIX dir."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jvm


def _write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    fs, jvm = _fs(spark, path)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def _read_bytes(spark: SparkSession, path: str) -> bytes:
    fs, jvm = _fs(spark, path)
    ins = fs.open(jvm.org.apache.hadoop.fs.Path(path))
    baos = jvm.java.io.ByteArrayOutputStream()
    # copyBytes(close=True) closes the input stream for us
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(ins, baos, 65536, True)
    return bytes(baos.toByteArray())


def _active_spark(spark: SparkSession | None) -> SparkSession:
    s = spark or SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError("no active SparkSession for manifest-store access")
    return s


class RenameCommitCoordinator:
    """Default seq-claim arbitration: exists-check + rename to the seq-named
    destination. Atomic on HDFS/ABFS (rename-if-absent); on S3A or POSIX
    local filesystems, whose renames overwrite, the exists+rename pair
    narrows but cannot close the race window — pair those stores with a
    coordinating service via a custom coordinator (below)."""

    def claim(self, fs, jvm, tmp: str, dst: str) -> bool:
        hpath = jvm.org.apache.hadoop.fs.Path
        return (not fs.exists(hpath(dst))) and fs.rename(hpath(tmp), hpath(dst))


class LockCommitCoordinator:
    """Coordinated claim: serializes the exists+rename pair under a process-
    wide lock, making the claim atomic even where rename overwrites (POSIX
    local FS, S3A). This is the in-process stand-in for the external
    coordinator an object store needs — a metastore conditional-put
    (S3 If-None-Match / DynamoDB lock table); swap ``_LOCK`` acquisition for
    that service's primitive and the commit protocol is unchanged."""

    _LOCK = threading.Lock()  # process-wide: one claim section per process

    def claim(self, fs, jvm, tmp: str, dst: str) -> bool:
        hpath = jvm.org.apache.hadoop.fs.Path
        with self._LOCK:
            if fs.exists(hpath(dst)):
                return False
            return fs.rename(hpath(tmp), hpath(dst))


#: Store-wide default; replace with LockCommitCoordinator (or a custom
#: conditional-put implementation) when the store lives on a filesystem
#: whose rename overwrites (S3A, POSIX file:).
DEFAULT_COORDINATOR = RenameCommitCoordinator()


def write_triples(
    triples: DataFrame,
    out_dir: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = ("source",),
    metrics: MetricsCollector | None = None,
    n_output_partitions: int | None = None,
) -> dict:
    """Write the triple table + metrics; returns the commit record.

    Partitioning: by `source` (original/archivo-latest/...) — low
    cardinality, prunes the common "only linked triples" consumers. Within
    partitions files are sized by AQE coalesce; pass n_output_partitions to
    force fewer, larger files.
    """
    return write_table(
        triples,
        out_dir,
        table="triples",
        fmt=fmt,
        partition_by=partition_by,
        metrics=metrics,
        n_output_partitions=n_output_partitions,
    )


def write_table(
    df: DataFrame,
    out_dir: str,
    table: str = "triples",
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = ("source",),
    metrics: MetricsCollector | None = None,
    n_output_partitions: int | None = None,
    extra_manifest: dict | None = None,
    coordinator=None,
) -> dict:
    """Generic manifest-gated commit of any table into the store.

    One store holds many named tables (triples, ledger, ...) sharing one
    commit sequence — `read_table(as_of=seq)` time-travels each table to the
    store state at that seq. ``extra_manifest`` entries are recorded verbatim
    in the manifest (used e.g. for streaming epoch ids, enabling idempotent
    re-runs). The commit's ``metrics`` rows (METRICS_SCHEMA fields as plain
    JSON) ride in the same manifest, so a parquet commit is one Spark job.
    """
    spark = df.sparkSession
    # ROUND-7 HANG FIX — the leading letter is load-bearing. Commit ids
    # become partition directory names (table/commit=<id>), and Spark's
    # partition-value TYPE INFERENCE tries to parse each value as a number
    # first. A bare 12-hex id matches `<digits>e<digits>` with p≈0.4%
    # (e.g. the observed commit=20e519984576), which scientific-notation-
    # parses as 20·10^519984576: BigDecimal.setScale then computes a
    # 519-million-digit power of ten and the READER's analysis phase burns
    # driver CPU for hours (jstack: Thread-3 in BigInteger.multiply under
    # PartitioningUtils.inferPartitionColumnValue). An all-digit id
    # (p≈0.3%) is quieter but worse: the commit column silently infers as
    # bigint for that store and the manifest-id string comparisons
    # misbehave. A leading letter makes every commit value
    # unparseable-as-anything-but-string, closing both failure modes.
    commit_id = "c" + uuid.uuid4().hex[:11]
    # Iceberg-style commit protocol on plain parquet: each commit writes into
    # its OWN directory (triples/commit=<id>/...), and the commit becomes
    # visible only when its manifest lands in _commits/. Readers resolve the
    # manifest list first, so (a) a crashed half-written commit is invisible
    # (snapshot isolation — the writeTo/catalog equivalent of Iceberg's
    # atomic metadata swap), and (b) `read_triples(as_of=seq)` time-travels
    # to any earlier commit — the output-store mirror of the reference's
    # versioned-ontology time machine.
    data_path = _child(out_dir, table, f"commit={commit_id}")

    if n_output_partitions:
        df = df.repartition(n_output_partitions, *partition_by)

    mc = metrics or MetricsCollector()
    with mc.stage("materialize"):
        if fmt == "iceberg":
            df.writeTo(f"kgtm.{table}_{commit_id}").partitionedBy(
                *[F.col(c) for c in partition_by]
            ).createOrReplace()
        else:
            df.write.mode("overwrite").partitionBy(*partition_by).parquet(data_path)

    return _commit_manifest(
        spark,
        out_dir,
        {
            "commit_id": commit_id,
            "table": table,
            "format": fmt,
            "partition_by": list(partition_by),
            "metrics": list(mc.rows),
            **(extra_manifest or {}),
        },
        coordinator=coordinator,
    )


def _commit_manifest(
    spark: SparkSession, out_dir: str, commit: dict, coordinator=None
) -> dict:
    """Publish a commit manifest atomically through the Hadoop FileSystem.

    Protocol (the LogStore pattern — works on HDFS/ABFS where rename-if-absent
    is atomic; on S3A or a POSIX local FS, whose renames overwrite, the
    exists+rename pair narrows but cannot close the window — pair those
    filesystems with a coordinating metastore, same as every rename-based
    committer):
      1. write the full manifest JSON to a dot-prefixed temp file (readers
         skip dot/underscore names, so a crash mid-write is invisible),
      2. claim seq = max(committed seq) + 1 by handing the temp file to the
         ``coordinator`` (default: exists+rename), whose destination
         `{seq:010d}.json` is named by the seq ALONE — two writers claiming
         one seq collide on the SAME path and exactly one claim wins; the
         loser re-stamps its manifest with the next seq and retries.
    The commit_id lives in the manifest CONTENT, never in the destination
    name — a writer-unique name would make collisions impossible and the
    uniqueness guarantee vacuous. The coordinator is pluggable so stores on
    overwrite-rename filesystems (S3A) can substitute a conditional-put /
    lock-service claim without touching the rest of the protocol.
    """
    commits_dir = _child(out_dir, "_commits")
    fs, jvm = _fs(spark, commits_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(hpath(commits_dir))
    coordinator = coordinator or DEFAULT_COORDINATOR

    commit_id = commit["commit_id"]
    tmp = _child(commits_dir, f".tmp-{commit_id}.json")
    seq = 1 + max((c["seq"] for c in list_commits(out_dir, spark)), default=-1)
    while True:
        commit["seq"] = seq
        _write_bytes(spark, tmp, json.dumps(commit).encode())
        dst = _child(commits_dir, f"{seq:010d}.json")
        if coordinator.claim(fs, jvm, tmp, dst):
            return commit
        seq += 1  # lost the race for this seq — claim the next one


def claim_marker(
    spark: SparkSession,
    out_dir: str,
    name: str,
    payload: dict | None = None,
    coordinator=None,
) -> bool:
    """Atomically create the claim marker ``_commits/.claim-{name}`` through
    the coordinator's rename-if-absent primitive; True iff THIS caller
    created it.

    The CAS building block for operations that must have at most ONE
    successor per precondition token (e.g. one ledger delta per base commit
    — kgtm.curation.append_curated_batch names the marker by the base
    commit_id, so two appends from the same base collide on the SAME marker
    path and exactly one proceeds). Dot-prefixed, so list_commits never sees
    it. Markers are never deleted on success — a fulfilled claim can block
    nobody (the next claim uses a new token); only a CRASHED winner's marker
    needs reclaiming (age-gated, see the caller's release helper).
    """
    commits_dir = _child(out_dir, "_commits")
    fs, jvm = _fs(spark, commits_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(hpath(commits_dir))
    coordinator = coordinator or DEFAULT_COORDINATOR
    tmp = _child(commits_dir, f".claimtmp-{uuid.uuid4().hex[:12]}.json")
    body = dict(payload or {})
    body["claimed_at_ms"] = int(
        jvm.java.lang.System.currentTimeMillis()
    )
    _write_bytes(spark, tmp, json.dumps(body).encode())
    dst = _child(commits_dir, f".claim-{name}.json")
    if coordinator.claim(fs, jvm, tmp, dst):
        return True
    fs.delete(hpath(tmp), False)
    return False


def list_claim_markers(out_dir: str, spark: SparkSession | None = None) -> dict[str, dict]:
    """{name: payload} for every claim marker in the store (see claim_marker)."""
    from py4j.protocol import Py4JError

    spark = _active_spark(spark)
    commits_dir = _child(out_dir, "_commits")
    fs, jvm = _fs(spark, commits_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(hpath(commits_dir)):
        return {}
    out: dict[str, dict] = {}
    for status in fs.listStatus(hpath(commits_dir)):
        fname = status.getPath().getName()
        if not (fname.startswith(".claim-") and fname.endswith(".json")):
            continue
        name = fname[len(".claim-") : -len(".json")]
        try:
            out[name] = json.loads(_read_bytes(spark, _child(commits_dir, fname)))
        except (ValueError, OSError, Py4JError):
            out[name] = {}
    return out


def delete_claim_marker(out_dir: str, name: str, spark: SparkSession | None = None) -> None:
    spark = _active_spark(spark)
    commits_dir = _child(out_dir, "_commits")
    fs, jvm = _fs(spark, commits_dir)
    fs.delete(
        jvm.org.apache.hadoop.fs.Path(_child(commits_dir, f".claim-{name}.json")),
        False,
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed (+optionally sorted) table.

    Two tables bucketed the same way join WITHOUT an exchange — the classic
    co-located join for repeated joins on the same key (e.g. triples ⋈
    conversation metadata on conv_id at every downstream consumer). Requires
    a table catalog (local Derby warehouse in the sandbox; any metastore on a
    cluster). sort_col additionally orders within buckets for merge-join and
    min/max data skipping.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def list_commits(out_dir: str, spark: SparkSession | None = None) -> list[dict]:
    """Committed manifests, ordered by seq (the visible snapshot history).

    Reads through the Hadoop FileSystem (object-store safe). Dot/underscore
    temp files, unparsable manifests (a writer crashed mid-write before the
    atomic rename, or bitrot), and manifests deleted between listing and
    open (a concurrent expire) are all skipped, so a broken or racing file
    can never take the whole store down for readers.
    """
    from py4j.protocol import Py4JError

    spark = _active_spark(spark)
    commits_dir = _child(out_dir, "_commits")
    fs, jvm = _fs(spark, commits_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(hpath(commits_dir)):
        return []
    commits = []
    for status in fs.listStatus(hpath(commits_dir)):
        name = status.getPath().getName()
        if not _MANIFEST_RE.match(name):
            continue
        # Committed manifests are IMMUTABLE (created by one atomic rename,
        # never rewritten in place), so re-parsing every manifest on every
        # listing is pure py4j round-trip waste — measured at ~100-150 ms
        # per manifest-read chain, which made ledger reads O(total commits)
        # in DRIVER latency (seconds at a 32-delta chain; BENCH/INGEST.md).
        # Cache parsed manifests keyed by (uri, mtime, length) from the
        # SAME listStatus (zero extra calls on a hit); the listing itself
        # stays fresh, so new commits are always seen and expired ones drop
        # out naturally. Caveat: a store whose rename OVERWRITES (POSIX
        # local, S3A) could in principle replace a same-name manifest with
        # different bytes inside one mtime tick — those stores already
        # require LockCommitCoordinator for correctness (see
        # RenameCommitCoordinator's docstring); the cache adds no new
        # failure mode beyond that documented one.
        key = status.getPath().toString()
        stamp = (status.getModificationTime(), status.getLen())
        hit = _MANIFEST_CACHE.get(key)
        if hit is not None and hit[0] == stamp:
            commits.append(copy.deepcopy(hit[1]))
            continue
        try:
            parsed = json.loads(_read_bytes(spark, _child(commits_dir, name)))
        except (ValueError, OSError, Py4JError):
            # truncated/corrupt manifest, or deleted after listStatus by a
            # concurrent expire (surfaces as a JVM FileNotFoundException
            # wrapped in a Py4JError): skip
            continue
        if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
            # drop the oldest-inserted half; plain dicts preserve insertion
            # order, and a long-lived driver touching many stores should
            # not grow this without bound. pop(k, None), not del: in-process
            # concurrent writers (LockCommitCoordinator's supported mode)
            # can both enter this branch over the same key snapshot, and the
            # loser's del would KeyError out of a commit that already landed
            for k in list(_MANIFEST_CACHE)[: _MANIFEST_CACHE_MAX // 2]:
                _MANIFEST_CACHE.pop(k, None)
        _MANIFEST_CACHE[key] = (stamp, copy.deepcopy(parsed))
        commits.append(parsed)
    return sorted(commits, key=lambda c: c.get("seq", 0))


def read_triples(
    spark: SparkSession, out_dir: str, as_of: int | None = None
) -> DataFrame:
    """Manifest-gated read: only COMMITTED data directories are scanned
    (half-written commits without a manifest are invisible); ``as_of`` reads
    the store as of that commit seq — time travel over the triple store.
    """
    return read_table(spark, out_dir, table="triples", as_of=as_of)


def read_table(
    spark: SparkSession,
    out_dir: str,
    table: str = "triples",
    as_of: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Manifest-gated read of one named table from the store; ``as_of`` reads
    it as of that store-wide commit seq (time travel). Manifests written
    before tables were named default to 'triples'.

    A commit whose manifest carries ``replaces: [commit_ids]`` (a compaction)
    HIDES those commits from any read that includes it — but an ``as_of``
    older than the compaction still sees the originals, so time travel is
    preserved across rewrites. ``merge_schema=True`` unions schemas across
    commits (columns added by later writers read as NULL in older commits).
    """
    commits = list_commits(out_dir, spark)
    if as_of is not None:
        commits = [c for c in commits if c.get("seq", 0) <= as_of]
    commits = [c for c in commits if c.get("table", "triples") == table]
    replaced = {cid for c in commits for cid in c.get("replaces", [])}
    commits = [c for c in commits if c["commit_id"] not in replaced]
    paths = [
        _child(out_dir, table, f"commit={c['commit_id']}")
        for c in commits
    ]
    fs, jvm = _fs(spark, out_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    existing = [p for p in paths if fs.exists(hpath(p))]
    if not existing:
        # no committed data → empty frame with the store path's layout is
        # unknowable; raise like a missing-table read would
        raise FileNotFoundError(f"no committed {table} under {out_dir}")
    # basePath keeps partition discovery rooted at the store, so both the
    # commit= and the user partition columns survive into the schema
    reader = spark.read.option("basePath", _child(out_dir, table))
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*existing)


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Metrics rows of every committed manifest: METRICS_SCHEMA plus the
    ``commit`` id (string). Manifest-gated like read_table, so a writer that
    crashed before its manifest rename contributes nothing; a store with no
    commits gives a typed empty frame."""
    fields = METRICS_SCHEMA.fieldNames()
    rows = [
        (*(r[f] for f in fields), c["commit_id"])
        for c in list_commits(out_dir, spark)
        for r in c.get("metrics", [])
    ]
    schema = StructType(
        [*METRICS_SCHEMA.fields, StructField("commit", StringType(), False)]
    )
    return spark.createDataFrame(rows, schema)


def compact_table(
    spark: SparkSession,
    out_dir: str,
    table: str = "triples",
    partition_by: tuple[str, ...] | None = None,
    n_output_partitions: int | None = None,
) -> dict:
    """Rewrite all LIVE commits of ``table`` into one commit (small-files
    compaction — the answer to one-commit-per-epoch streaming sinks).

    The compacted commit's manifest lists the inputs under ``replaces``, and
    read_table hides replaced commits whenever the compaction is in view —
    readers atomically switch from the N inputs to the one rewrite the
    instant the manifest lands (never both, never neither). ``as_of`` reads
    OLDER than the compaction still resolve the original commits, so time
    travel survives the rewrite; the replaced data dirs themselves are
    reclaimed later by expire_replaced/vacuum, not here. ``partition_by``
    defaults to the newest live commit's recorded partition spec.
    """
    commits = [
        c
        for c in list_commits(out_dir, spark)
        if c.get("table", "triples") == table
    ]
    replaced = {cid for c in commits for cid in c.get("replaces", [])}
    live = [c for c in commits if c["commit_id"] not in replaced]
    if len(live) < 2:
        raise ValueError(f"nothing to compact: {len(live)} live commit(s)")
    # Curation-ledger tables are NOT plain append tables: each snapshot commit
    # is a FULL decision set, so unioning N live commits would emit duplicate
    # doc_ids with conflicting kept/drop_reason rows, and the rewritten
    # manifest would drop curation_params (breaking append_curated_batch's
    # threshold resolution). Their commits are marked via ``ledger_kind`` and
    # must go through kgtm.curation.compact_ledger, which understands
    # snapshot/delta resolution and carries the params forward.
    if any(c.get("ledger_kind") for c in live):
        raise ValueError(
            f"table '{table}' carries ledger_kind commits (curation snapshots/"
            "deltas/state) — a blind union-compaction would corrupt its "
            "read resolution; use kgtm.curation.compact_ledger instead"
        )
    if partition_by is None:
        # inherit the table's partition spec from the newest live commit
        partition_by = tuple(live[-1].get("partition_by", ["source"]))
    df = read_table(spark, out_dir, table).drop("commit")
    return write_table(
        df,
        out_dir,
        table=table,
        partition_by=partition_by,
        n_output_partitions=n_output_partitions,
        extra_manifest={"replaces": [c["commit_id"] for c in live]},
    )


def _delete_commit(fs, hpath, out_dir: str, c: dict) -> None:
    """Remove one commit: manifest FIRST (the atomic visibility switch —
    readers lose the commit instantly and never see a half-deleted
    directory), then its data directory. Its metrics go with the manifest."""
    for name in _manifest_names(c):  # canonical + legacy manifest names
        fs.delete(hpath(_child(out_dir, "_commits", name)), False)
    table = c.get("table", "triples")
    fs.delete(hpath(_child(out_dir, table, f"commit={c['commit_id']}")), True)


def expire_replaced(out_dir: str, spark: SparkSession | None = None) -> list[dict]:
    """Reclaim commits that a compaction has replaced (manifest first, then
    data) — after this, ``as_of`` older than the compaction no longer
    resolves them (the storage-for-history trade is explicit)."""
    spark = _active_spark(spark)
    commits = list_commits(out_dir, spark)
    replaced_ids = {cid for c in commits for cid in c.get("replaces", [])}
    victims = [c for c in commits if c["commit_id"] in replaced_ids]
    fs, jvm = _fs(spark, out_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    for c in victims:
        _delete_commit(fs, hpath, out_dir, c)
    return victims


def expire_commits(
    out_dir: str,
    keep_last: int,
    spark: SparkSession | None = None,
) -> list[dict]:
    """Expire all but the newest ``keep_last`` commits PER TABLE.

    Unbounded time travel is unbounded storage: at one commit per streaming
    epoch the store accretes forever. keep_last is enforced per table — the
    store's commit sequence is shared across tables, so a store-wide cut
    could delete every commit of a quiet table just because a busy one kept
    committing. Deletion is manifest-first (see _delete_commit). Reads with
    ``as_of`` older than the expiry horizon raise FileNotFoundError like any
    missing table. Returns the expired manifests.

    APPEND-MODE tables (e.g. the triple table, where the current read is the
    UNION of live commits): expiring a live non-replaced commit removes its
    rows from CURRENT reads, not just from time-travel history — run
    compact_table first so the newest commit holds the full table and expiry
    only drops superseded history. Curation-ledger tables: snapshot commits
    are each self-contained (safe to expire individually), but expiring the
    base snapshot out from under surviving DELTA commits would strand them —
    that case is detected below and refused (compact_ledger first).
    """
    spark = _active_spark(spark)
    commits = list_commits(out_dir, spark)
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (a store needs a live commit)")
    by_table: dict[str, list[dict]] = {}
    for c in commits:  # list_commits is seq-ordered, so groups stay ordered
        by_table.setdefault(c.get("table", "triples"), []).append(c)
    # Ledger-dependency guard: the kept set is a contiguous suffix, so delta
    # resolution survives expiry IFF the suffix still contains the snapshot
    # the deltas fold onto. A suffix of deltas with no snapshot would make
    # read_ledger unreconstructable — refuse rather than corrupt.
    for tbl, cs in by_table.items():
        kept = cs[-keep_last:]
        if len(kept) == len(cs):
            continue  # nothing expires from this table
        kinds = [c.get("ledger_kind") for c in kept]
        if "delta" in kinds and not any(k in (None, "snapshot") for k in kinds):
            raise ValueError(
                f"expiring table '{tbl}' down to {keep_last} commits would "
                "strand delta commits without their base snapshot — run "
                "kgtm.curation.compact_ledger first (or raise keep_last)"
            )
    victims = [c for cs in by_table.values() for c in cs[:-keep_last]]
    # State-table dependency guard: a curation state commit (ledger_kind=
    # 'state', tagged for_ledger_commit=X) that is NOT itself replaced by a
    # compaction is still feeding _read_state whenever X is a live ledger
    # commit. Expiring it (e.g. after upgrade_to_state added extra state
    # commits, pushing older ones past keep_last) would silently demote the
    # store to derive mode — the next old_docs-free append fails. Refuse,
    # mirroring the delta-stranding guard above.
    surviving_ledger = by_table.get("ledger", [])[-keep_last:]
    replaced_any = {cid for c in commits for cid in c.get("replaces", [])}
    live_ledger_ids = {
        c["commit_id"]
        for c in surviving_ledger
        if c["commit_id"] not in replaced_any
    }
    stranded_state = [
        c
        for c in victims
        if c.get("ledger_kind") == "state"
        and c["commit_id"] not in replaced_any
        and c.get("for_ledger_commit") in live_ledger_ids
    ]
    if stranded_state:
        tables = sorted({c.get("table") for c in stranded_state})
        raise ValueError(
            f"expiring down to keep_last={keep_last} would delete live state "
            f"commits {sorted(c['commit_id'] for c in stranded_state)} from "
            f"{tables} while the ledger commits they back are still live — "
            "the store would silently fall back to derive mode; run "
            "kgtm.curation.compact_ledger first (or raise keep_last)"
        )
    fs, jvm = _fs(spark, out_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    for c in victims:
        _delete_commit(fs, hpath, out_dir, c)
    return victims


def vacuum(
    out_dir: str,
    min_age_ms: int = 24 * 3600 * 1000,
    spark: SparkSession | None = None,
) -> list[str]:
    """Delete orphaned directories: commit= dirs with NO manifest, under
    every top-level directory of the store. That covers each table and the
    ``metrics/`` tree of stores written before metrics moved into the
    manifest, whose directories become orphans once their commit expires.

    Orphans come from writers that crashed between the data write and the
    manifest rename — invisible to readers (the manifest gate) but occupying
    storage forever. Only orphans older than ``min_age_ms`` are removed so an
    IN-FLIGHT writer (data written, manifest rename imminent) is never
    vacuumed out from under — the same grace-period contract as Delta/Iceberg
    VACUUM. Returns the deleted paths.
    """
    spark = _active_spark(spark)
    committed = {c["commit_id"] for c in list_commits(out_dir, spark)}
    fs, jvm = _fs(spark, out_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    now_ms = jvm.java.lang.System.currentTimeMillis()
    deleted: list[str] = []
    if not fs.exists(hpath(out_dir)):
        return deleted
    for tbl_status in fs.listStatus(hpath(out_dir)):
        if not tbl_status.isDirectory():
            continue
        tbl = tbl_status.getPath().getName()
        if tbl.startswith(("_", ".")):
            continue
        for status in fs.listStatus(tbl_status.getPath()):
            name = status.getPath().getName()
            if not name.startswith("commit="):
                continue
            commit_id = name.split("=", 1)[1]
            age = now_ms - status.getModificationTime()
            if commit_id not in committed and age >= min_age_ms:
                fs.delete(status.getPath(), True)
                deleted.append(_child(out_dir, tbl, name))
    return deleted
