"""Triple-store materialization + per-commit metrics (north_rule).

Writes the final triple table partitioned for consumer access patterns and
records the commit's lineage/metrics rows in the commit's own manifest — the
batch analog of the reference's download_log.json written next to the
downloaded corpus (the reference's experiments/download_ontologies.py:168-172),
laid out like an Iceberg snapshot's ``summary`` map. The manifest also
records the written frame's schema, the way an Iceberg snapshot's metadata
carries its table schema: ``read_table`` builds its frame from the recorded
schemas and never infers one from the files or the directory names.

Layout: parquet in an Iceberg-compatible shape — partition directories per
commit plus a ``_commits`` manifest log — with no catalog. A commit becomes
visible when its manifest claims the next seq through ``_claim``, a
rename-if-absent that is atomic on the filesystem the store lives on: a hard
link on ``file:``, ``FileSystem.rename`` on HDFS-class stores. Stores whose
rename overwrites (S3A-class object stores) need a single writer.
"""

from __future__ import annotations

import contextlib
import copy
import json
import os
import re
import uuid

from py4j.java_gateway import is_instance_of
from pyspark.sql import DataFrame, SparkSession
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
#: manifests are write-once (one atomic claim), so a (mtime, length) match from
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
    """Write a manifest or claim-marker temp file. On ``file:`` it goes
    through the raw local filesystem: LocalFileSystem would also write a
    ``.crc`` sidecar, a second file on every call. Readers open it through
    LocalFileSystem, which verifies a file only when its sidecar exists,
    and ``_claim`` links it to a name that never carries one."""
    fs, jvm = _fs(spark, path)
    if is_instance_of(spark.sparkContext._gateway, fs, "org.apache.hadoop.fs.LocalFileSystem"):
        fs = fs.getRawFileSystem()
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


def _claim(fs, jvm, tmp: str, dst: str) -> bool:
    """Rename-if-absent of ``tmp`` to ``dst``; True iff THIS call created
    ``dst``. Atomic on the store's own filesystem, so among any number of
    concurrent claims of one ``dst`` exactly one wins.

    A POSIX rename overwrites, so on ``file:`` the claim is a hard link
    (link(2) fails atomically with EEXIST when ``dst`` exists), after which
    ``tmp`` is deleted through ``fs`` (``_write_bytes`` wrote it with no
    ``.crc`` sidecar). ``dst`` carries no sidecar; one left by a
    manifest removed outside Hadoop would fail the checksum of the new
    ``dst``, so it is removed. Any other OSError (say, a filesystem without
    hard links) raises. Elsewhere ``FileSystem.rename`` is the claim: it is
    rename-if-absent on HDFS/ABFS. On the loser ``tmp`` is left in place."""
    hpath = jvm.org.apache.hadoop.fs.Path
    if fs.getScheme() != "file":
        return (not fs.exists(hpath(dst))) and fs.rename(hpath(tmp), hpath(dst))
    local_dst = fs.pathToFile(hpath(dst)).getPath()
    try:
        os.link(fs.pathToFile(hpath(tmp)).getPath(), local_dst)
    except FileExistsError:
        return False
    head, name = os.path.split(local_dst)
    with contextlib.suppress(FileNotFoundError):
        os.unlink(os.path.join(head, f".{name}.crc"))
    fs.delete(hpath(tmp), False)
    return True


def write_triples(
    triples: DataFrame,
    out_dir: str,
    partition_by: tuple[str, ...] = ("source",),
    metrics: MetricsCollector | None = None,
) -> dict:
    """Write the triple table + metrics; returns the commit record.

    Partitioning: by `source` (original/archivo-latest/...) — low
    cardinality, prunes the common "only linked triples" consumers. Within
    partitions files are sized by AQE coalesce.
    """
    return write_table(
        triples, out_dir, table="triples", partition_by=partition_by, metrics=metrics
    )


def write_table(
    df: DataFrame,
    out_dir: str,
    table: str = "triples",
    partition_by: tuple[str, ...] = ("source",),
    metrics: MetricsCollector | None = None,
    extra_manifest: dict | None = None,
) -> dict:
    """Generic manifest-gated commit of any table into the store.

    One store holds many named tables (triples, ledger, ...) sharing one
    commit sequence — `read_table(as_of=seq)` time-travels each table to the
    store state at that seq. ``extra_manifest`` entries are recorded verbatim
    in the manifest (used e.g. for streaming epoch ids, enabling idempotent
    re-runs). The commit's ``metrics`` rows (METRICS_SCHEMA fields as plain
    JSON) ride in the same manifest, so a parquet commit is one Spark job.
    The manifest's ``schema`` is the written frame's schema, which
    ``read_table`` reads instead of inferring one from the files.
    """
    spark = df.sparkSession
    # The leading letter keeps the commit id a non-number. Commit ids become
    # partition directory names (table/commit=<id>). read_table types the
    # commit column from the manifests, but a reader that bypasses it (a
    # bare spark.read with basePath at the table root) runs Spark's
    # partition-value TYPE INFERENCE, which tries each value as a number
    # first. A bare 12-hex id matches `<digits>e<digits>` with p≈0.4% (e.g.
    # commit=20e519984576), which parses as 20·10^519984576: BigDecimal
    # then computes a 519-million-digit power of ten and the reader's
    # analysis burns driver CPU for hours. An all-digit id (p≈0.3%) reads as
    # bigint. With a leading letter every id infers as a string.
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

    mc = metrics or MetricsCollector()
    with mc.stage("materialize"):
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(data_path)

    return _commit_manifest(
        spark,
        out_dir,
        {
            "commit_id": commit_id,
            "table": table,
            "partition_by": list(partition_by),
            "schema": df.schema.json(),
            "metrics": list(mc.rows),
            **(extra_manifest or {}),
        },
    )


def _commit_manifest(spark: SparkSession, out_dir: str, commit: dict) -> dict:
    """Publish a commit manifest atomically through the Hadoop FileSystem.

    Protocol (the LogStore pattern):
      1. write the full manifest JSON to a dot-prefixed temp file (readers
         skip dot/underscore names, so a crash mid-write is invisible),
      2. claim seq = max(committed seq) + 1 by handing the temp file to
         ``_claim`` (rename-if-absent, atomic on the store's filesystem),
         whose destination `{seq:010d}.json` is named by the seq ALONE — two
         writers claiming one seq collide on the SAME path and exactly one
         claim wins; the loser re-stamps its manifest with the next seq and
         retries.
    The commit_id lives in the manifest CONTENT, never in the destination
    name — a writer-unique name would make collisions impossible and the
    uniqueness guarantee vacuous.
    """
    commits_dir = _child(out_dir, "_commits")
    fs, jvm = _fs(spark, commits_dir)
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(commits_dir))

    commit_id = commit["commit_id"]
    tmp = _child(commits_dir, f".tmp-{commit_id}.json")
    seq = 1 + max((c["seq"] for c in list_commits(out_dir, spark)), default=-1)
    while True:
        commit["seq"] = seq
        _write_bytes(spark, tmp, json.dumps(commit).encode())
        if _claim(fs, jvm, tmp, _child(commits_dir, f"{seq:010d}.json")):
            return commit
        seq += 1  # lost the race for this seq — claim the next one


def claim_marker(
    spark: SparkSession, out_dir: str, name: str, payload: dict | None = None
) -> bool:
    """Atomically create the claim marker ``_commits/.claim-{name}`` through
    ``_claim``'s rename-if-absent; True iff THIS caller created it.

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
    tmp = _child(commits_dir, f".claimtmp-{uuid.uuid4().hex[:12]}.json")
    body = dict(payload or {})
    body["claimed_at_ms"] = int(
        jvm.java.lang.System.currentTimeMillis()
    )
    _write_bytes(spark, tmp, json.dumps(body).encode())
    if _claim(fs, jvm, tmp, _child(commits_dir, f".claim-{name}.json")):
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
    temp files, truncated manifests, and manifests deleted between listing
    and open (a concurrent expire) are skipped, so a racing file can never
    take the whole store down for readers. Any other failed read raises:
    skipping it would silently drop a commit from every read.
    """
    from py4j.protocol import Py4JJavaError

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
        # Committed manifests are IMMUTABLE (created by one atomic claim,
        # never rewritten in place), so re-parsing every manifest on every
        # listing is pure py4j round-trip waste — measured at ~100-150 ms
        # per manifest-read chain, which made ledger reads O(total commits)
        # in DRIVER latency (seconds at a 32-delta chain; BENCH/CHAIN.md).
        # Cache parsed manifests keyed by (uri, mtime, length) from the
        # SAME listStatus (zero extra calls on a hit); the listing itself
        # stays fresh, so new commits are always seen and expired ones drop
        # out naturally. Caveat: on a store whose rename OVERWRITES (S3A-
        # class), two writers could replace a same-name manifest inside one
        # mtime tick; such stores need a single writer anyway (see _claim).
        key = status.getPath().toString()
        stamp = (status.getModificationTime(), status.getLen())
        hit = _MANIFEST_CACHE.get(key)
        if hit is not None and hit[0] == stamp:
            commits.append(copy.deepcopy(hit[1]))
            continue
        try:
            parsed = json.loads(_read_bytes(spark, _child(commits_dir, name)))
        except ValueError:
            continue  # truncated manifest
        except Py4JJavaError as e:
            # deleted after listStatus by a concurrent expire; any other
            # failed read (an I/O or checksum error) must not drop a commit
            if not is_instance_of(
                spark.sparkContext._gateway,
                e.java_exception,
                "java.io.FileNotFoundException",
            ):
                raise
            continue
        if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
            # drop the oldest-inserted half; plain dicts preserve insertion
            # order, and a long-lived driver touching many stores should
            # not grow this without bound. pop(k, None), not del: in-process
            # concurrent writers can both enter this branch over the same key snapshot, and the
            # loser's del would KeyError out of a commit that already landed
            for k in list(_MANIFEST_CACHE)[: _MANIFEST_CACHE_MAX // 2]:
                _MANIFEST_CACHE.pop(k, None)
        _MANIFEST_CACHE[key] = (stamp, copy.deepcopy(parsed))
        commits.append(parsed)
    return sorted(commits, key=lambda c: c.get("seq", 0))


def _live_commits(
    commits: list[dict], table: str, as_of: int | None = None
) -> list[dict]:
    """The commits of ``table`` in view at ``as_of`` (every one when None),
    minus those a commit in view ``replaces``: the one rule of which commits
    a read of ``table`` sees. ``commits`` is a ``list_commits`` result, so
    the order stays seq order. Manifests written before tables were named
    belong to 'triples'."""
    commits = [
        c
        for c in commits
        if c.get("table", "triples") == table
        and (as_of is None or c.get("seq", 0) <= as_of)
    ]
    replaced = {cid for c in commits for cid in c.get("replaces", [])}
    return [c for c in commits if c["commit_id"] not in replaced]


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
) -> DataFrame:
    """Manifest-gated read of one named table from the store; ``as_of`` reads
    it as of that store-wide commit seq (time travel). Manifests written
    before tables were named default to 'triples'.

    A commit whose manifest carries ``replaces: [commit_ids]`` (a compaction)
    HIDES those commits from any read that includes it — but an ``as_of``
    older than the compaction still sees the originals, so time travel is
    preserved across rewrites.

    The schema is the union by name of the live commits' recorded schemas
    (a column added later reads as NULL in older commits; a column recorded
    with two types raises ValueError), laid out as data columns, a string
    ``commit``, then the partition columns. Nothing is inferred, and an
    empty commit reads as a typed empty frame. Building the frame runs no
    Spark job up to ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    (32) live commits; above that, Spark lists their paths with one
    distributed job. Commits whose manifests record no schema (older stores) take
    theirs from one footer read of their files, with partition types
    discovered across them and ``commit`` given as a string, so ``commit``
    is never inferred there either.
    """
    commits = _live_commits(list_commits(out_dir, spark), table, as_of)
    fs, jvm = _fs(spark, out_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    paths, parts, schemas, legacy = [], [], [], []
    for c in commits:
        path = _child(out_dir, table, f"commit={c['commit_id']}")
        if not fs.exists(hpath(path)):
            continue
        paths.append(path)
        parts += [p for p in c.get("partition_by", []) if p not in parts]
        if "schema" in c:
            schema = StructType.fromJson(json.loads(c["schema"]))
            schemas.append((f"commit {c['commit_id']}", schema))
        elif _holds_data_files(fs, hpath, path):
            legacy.append((c["commit_id"], path))
    if legacy:
        # pre-schema commits precede every commit that records one
        schemas.insert(
            0, _legacy_schema(spark, _child(out_dir, table), legacy, schemas)
        )
    if not schemas:
        # no committed data (or only pre-schema commits without data files):
        # the table's columns are unknowable; raise like a missing-table read
        raise FileNotFoundError(f"no committed {table} under {out_dir}")
    # basePath keeps partition discovery rooted at the table, so both the
    # commit= and the user partition columns survive into the frame
    return (
        spark.read.schema(_union_schema(schemas, parts))
        .option("basePath", _child(out_dir, table))
        .parquet(*paths)
    )


def _holds_data_files(fs, hpath, path: str) -> bool:
    files = fs.listFiles(hpath(path), True)
    while files.hasNext():
        if not files.next().getPath().getName().startswith(("_", ".")):
            return True
    return False


def _legacy_schema(
    spark: SparkSession,
    root: str,
    legacy: list[tuple[str, str]],
    schemas: list[tuple[str, StructType]],
) -> tuple[str, StructType]:
    """Schema of the commits ``(commit_id, path)`` under the table ``root``
    whose manifests record none, in one Spark job. The partition columns
    come from one discovery over all of them rooted at ``root``, so Spark
    widens their types across commits as a partitioned read does; ``commit``
    is given as a string there, so its values are never parsed as numbers.
    A partition column that a recorded schema types is left out: the
    recorded type wins and Spark casts the directory values to it. The data
    columns come from one footer read that ignores directory names."""
    paths = [path for _, path in legacy]
    found = (
        spark.read.schema("commit string")
        .option("basePath", root)
        .parquet(*paths)
        .schema
    )
    data = (
        spark.read.option("recursiveFileLookup", "true")
        .option("mergeSchema", "true")
        .parquet(*paths)
        .schema
    )
    recorded = {f.name for _, s in schemas for f in s.fields}
    fields = [
        *data.fields,
        *(f for f in found.fields if f.name != "commit" and f.name not in recorded),
    ]
    ids = ", ".join(cid for cid, _ in legacy)
    return f"pre-schema commits {ids}", StructType(fields)


def _union_schema(
    schemas: list[tuple[str, StructType]], parts: list[str]
) -> StructType:
    """Union by name of the ``(source, schema)`` pairs, laid out as a
    partitioned parquet read lays it out: data columns, ``commit``, then the
    partition columns ``parts`` in partition order."""
    seen: dict[str, tuple[StructField, str]] = {}
    for source, schema in schemas:
        for f in schema.fields:
            first, first_source = seen.setdefault(f.name, (f, source))
            # simpleString leaves nullability out: parquet reads every
            # column as nullable, so only the types must agree
            if first.dataType.simpleString() != f.dataType.simpleString():
                raise ValueError(
                    f"column {f.name!r} is {first.dataType.simpleString()} in "
                    f"{first_source} but {f.dataType.simpleString()} in {source}"
                )
    return StructType(
        [
            *(f for name, (f, _) in seen.items() if name not in parts),
            StructField("commit", StringType()),
            *(seen[p][0] for p in parts if p in seen),
        ]
    )


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
) -> dict:
    """Rewrite all LIVE commits of ``table`` into one commit (small-files
    compaction — the answer to one-commit-per-epoch streaming sinks).

    The compacted commit's manifest lists the inputs under ``replaces``, and
    read_table hides replaced commits whenever the compaction is in view —
    readers atomically switch from the N inputs to the one rewrite the
    instant the manifest lands (never both, never neither). ``as_of`` reads
    OLDER than the compaction still resolve the original commits, so time
    travel survives the rewrite; the replaced data dirs themselves are
    reclaimed later by expire_replaced/vacuum, not here. The rewrite keeps
    the newest live commit's recorded partition spec.
    """
    live = _live_commits(list_commits(out_dir, spark), table)
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
    df = read_table(spark, out_dir, table).drop("commit")
    return write_table(
        df,
        out_dir,
        table=table,
        partition_by=tuple(live[-1].get("partition_by", ["source"])),
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
    # commits, pushing older ones past keep_last) would leave the store
    # without complete state — its next append raises, naming
    # upgrade_to_state. Refuse, mirroring the delta-stranding guard above.
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
            "the store's next append would raise until upgrade_to_state "
            "backfills it; run kgtm.curation.compact_ledger first (or raise "
            "keep_last)"
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
