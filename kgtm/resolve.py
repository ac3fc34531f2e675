"""Versioned-snapshot resolution — the "time machine" core.

Policy dispatch over OntoVersion (/root/reference/ontologytimemachine/utils/
config.py:60-65, proxy_logic.py:163-197):

  original                  → identity: keep the surface form, no snapshot
                              (fetch_original, proxy_logic.py:201-205)
  latestArchived            → max(version_ts) per ontology
                              (fetch_latest_archived, proxy_logic.py:242-260)
  timestampArchived         → max(version_ts) ≤ pin per ontology — an AS-OF
                              join (fetch_timestamp_archived,
                              proxy_logic.py:262-273)
  originalFailoverLiveLatest→ prefer the "live" resolution when available,
                              else latest archived (fetch_failover,
                              proxy_logic.py:209-238)

Spark has no native AS-OF join; with a broadcast-sized snapshot table the
right plan is: pre-reduce the snapshot table per ontology (driver/broadcast
side, ~rows = #ontologies) and broadcast-join the reduced dim — the fact side
never shuffles at all. Both resolvers below do that. For a NON-broadcastable
snapshot table the same code works because the pre-reduction is a map-side
combine groupBy on the dim, still far smaller than window-ing the fact table.

Misses behave like the reference: an ontology absent from the snapshot table
(or with no version ≤ pin) resolves to NULL — the 404 analog
(proxy_logic.py:243-247, mock_response_404).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StructField, StructType

ONTO_VERSION_MODES = [
    "original",
    "originalFailoverLiveLatest",
    "latestArchived",
    "timestampArchived",
]


ARCHIVO_API = "https://archivo.dbpedia.org/download"


def archivo_api_url_col(
    ontology_iri: str | Column = "ontology_iri",
    fmt: str | Column = "format",
    version_stamp: str | Column | None = None,
) -> Column:
    """Archivo API URL assembly (C8): f"{api}?o={iri}&f={fmt}[&v={ts}]"
    (proxy_logic.py:251,258,271). NULL format propagates (the 500 analog of
    the early-format gate, proxy_logic.py:173-176)."""
    iri = F.col(ontology_iri) if isinstance(ontology_iri, str) else ontology_iri
    f_ = F.col(fmt) if isinstance(fmt, str) else fmt
    url = F.concat(F.lit(f"{ARCHIVO_API}?o="), iri, F.lit("&f="), f_)
    if version_stamp is not None:
        v = F.col(version_stamp) if isinstance(version_stamp, str) else version_stamp
        url = F.concat(url, F.lit("&v="), v)
    return url


def version_stamp_col(version_ts: str | Column = "version_ts") -> Column:
    """timestamp → Archivo stamp string YYYY.MM.DD-HHMMSS (dependency.ttl:8)."""
    t = F.col(version_ts) if isinstance(version_ts, str) else version_ts
    return F.date_format(t, "yyyy.MM.dd-HHmmss")


def latest_snapshots(snapshots: DataFrame) -> DataFrame:
    """One row per ontology_iri: the max-version snapshot.

    max_by keeps the (snapshot_iri, file_url) of the max version_ts in a
    single partial-aggregatable pass — no window, no second shuffle.
    """
    return snapshots.groupBy("ontology_iri").agg(
        F.max("version_ts").alias("version_ts"),
        F.max_by("snapshot_iri", "version_ts").alias("snapshot_iri"),
        F.max_by("file_url", "version_ts").alias("file_url"),
    )


def asof_snapshots(snapshots: DataFrame, pin_ts: dt.datetime) -> DataFrame:
    """One row per ontology_iri: the max snapshot with version_ts <= pin."""
    return latest_snapshots(snapshots.filter(F.col("version_ts") <= F.lit(pin_ts)))


_SNAPSHOT_COLS = ("version_ts", "snapshot_iri", "file_url")


def _literal_latest_map(snapshots: DataFrame, pin_ts: dt.datetime | None):
    """map<ontology_iri, struct(version_ts, snapshot_iri, file_url)> literal
    of the per-ontology max-version snapshot (<= pin when given) of a
    driver-local small snapshot table (session.local_literal_rows); None
    otherwise — then the caller keeps the broadcast-join dim.

    The reduction mirrors latest_snapshots/asof_snapshots: max version_ts
    per ontology with that row's (snapshot_iri, file_url); rows with a NULL
    ontology_iri (never joined) or version_ts (never a max) drop out. Spark's
    max_by is nondeterministic across equal version_ts; here ties break on
    (snapshot_iri, file_url) — a deterministic pick inside the same
    contract.
    """
    from kgtm.session import local_literal_rows, map_literal

    rows = local_literal_rows(snapshots, ["ontology_iri", *_SNAPSHOT_COLS])
    if rows is None:
        return None
    if pin_ts is not None and pin_ts.tzinfo is not None:
        # collected timestamps are naive local time; compare against the
        # same instant F.lit(pin_ts) denotes on the join path
        pin_ts = pin_ts.astimezone().replace(tzinfo=None)

    def rank(snap: tuple) -> tuple:
        ts, iri, url = snap
        return ts, iri or "", url or ""

    best: dict[str, tuple] = {}
    for onto, ts, iri, url in rows:
        if onto is None or ts is None or (pin_ts is not None and ts > pin_ts):
            continue
        if onto not in best or rank((ts, iri, url)) > rank(best[onto]):
            best[onto] = (ts, iri, url)
    s = snapshots.schema
    return map_literal(
        best,
        MapType(
            s["ontology_iri"].dataType,
            StructType([StructField(c, s[c].dataType) for c in _SNAPSHOT_COLS]),
        ),
    )


def attach_reduced_snapshots(
    linked: DataFrame, snapshots: DataFrame, pin_ts: dt.datetime | None = None
) -> DataFrame:
    """linked + (version_ts, snapshot_iri, file_url) of each row's
    ontology's max-version snapshot (<= pin when given) — the shared dim
    attach of resolve_links and the lifecycle queries.

    Literal fast path: when the snapshot table is a small driver-local
    literal, the per-ontology reduction folds into the plan as a map literal
    and the attach is three GetMapValue fields — zero joins, zero broadcast
    builds, zero dim-side aggregation stages. Other snapshot tables keep the
    reduce-then-broadcast-join plan. Both plans yield the same rows and
    schema.
    """
    hm = _literal_latest_map(snapshots, pin_ts)
    if hm is not None:
        hit = hm[F.col("ontology_iri")]
        return linked.select("*", *[hit[c].alias(c) for c in _SNAPSHOT_COLS])
    dim = (
        latest_snapshots(snapshots)
        if pin_ts is None
        else asof_snapshots(snapshots, pin_ts)
    )
    # the USING join moves ontology_iri first; restore linked's order so
    # both plans yield the same schema
    return linked.join(
        F.broadcast(dim.select("ontology_iri", *_SNAPSHOT_COLS)),
        "ontology_iri",
        "left",
    ).select(*linked.columns, *_SNAPSHOT_COLS)


def _with_source(
    out: DataFrame, archived_tag: str, live_cols: tuple[str, str, str] | None = None
) -> DataFrame:
    """Append ``source``, the response-source taxonomy (SURVEY.md §1.4):
    'unlinked', else 'not-found' without a snapshot, else ``archived_tag``.

    ``live_cols`` (status, content-type, accept) arms the failover gate
    (proxy_logic.py:209-238 + utils.py:18-32): a linked row whose live
    response is acceptable — status in the passthrough whitelist AND
    Content-Type among the Accept header's mimetypes — is 'original', and
    since a live-accepted response IS the original, its snapshot columns
    are nulled (they only carry the archived leg). A NULL gate (no Accept
    header / no live response) falls back, like the reference's empty
    parse.
    """
    source = F.when(~F.col("is_linked"), F.lit("unlinked"))
    if live_cols is not None:
        from kgtm.negotiate import live_acceptable_col

        live_ok = F.coalesce(live_acceptable_col(*live_cols), F.lit(False))
        source = source.when(live_ok, F.lit("original"))
        nulled = ("snapshot_iri", "version_ts", "file_url")
        out = out.select(
            *[c for c in out.columns if c not in nulled],
            *[F.when(~live_ok | ~F.col("is_linked"), F.col(c)).alias(c) for c in nulled],
        )
    return out.withColumn(
        "source",
        source.when(F.col("snapshot_iri").isNull(), F.lit("not-found")).otherwise(
            F.lit(archived_tag)
        ),
    )


def dependency_closure(
    snapshots: DataFrame,
    roots: DataFrame,
    max_iter: int = 20,
    compact_every: int = 8,
) -> DataFrame:
    """Transitive dependency closure of snapshot IRIs.

    The reference designed (but disabled) per-version dependency resolution:
    fetch_dependency_manifest walks ex-version:dependency edges of a pinned
    snapshot (proxy_logic.py:276-307, model at tests/dependency.ttl:1-25).
    Batch translation: iterative self-join over the (snapshot_iri, deps)
    edge list until fixpoint — same loop skeleton as connected components.

    Checkpoint cadence (round 6, the PageRank treatment): each round's
    FRONTIER is eagerly checkpointed (it feeds the next join and the
    anti-join), but the accumulated closure is just a union of those
    already-checkpointed frames — re-checkpointing the union every round
    (the round-5 shape) rewrites the ENTIRE closure once per depth level,
    i.e. O(closure x depth) I/O, which a deep walk turns into the dominant
    cost (A/B measured on a planted 1e6-edge depth-100 graph:
    BENCH/CLOSURE.md). The union is compacted to one checkpointed frame
    only every ``compact_every`` rounds, so plan width stays bounded while
    deep walks stop paying the quadratic rewrite.

    roots: DataFrame with column snapshot_iri. Returns (root_snapshot_iri,
    snapshot_iri, depth) — every snapshot reachable from each root,
    min depth, including the root itself at depth 0.
    """
    edges = snapshots.select(
        F.col("snapshot_iri").alias("parent"), F.explode_outer("deps").alias("child")
    ).filter(F.col("child").isNotNull())

    frontier = roots.select(
        F.col("snapshot_iri").alias("root_snapshot_iri"),
        F.col("snapshot_iri").alias("snapshot_iri"),
        F.lit(0).alias("depth"),
    ).localCheckpoint(eager=True)
    closure = frontier

    for depth in range(1, max_iter + 1):
        nxt = (
            frontier.join(edges, frontier["snapshot_iri"] == edges["parent"], "inner")
            .select(
                "root_snapshot_iri",
                F.col("child").alias("snapshot_iri"),
                F.lit(depth).alias("depth"),
            )
            .join(
                closure.select("root_snapshot_iri", "snapshot_iri"),
                ["root_snapshot_iri", "snapshot_iri"],
                "left_anti",
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        closure = closure.union(nxt)
        if depth % compact_every == 0:
            # bound plan width (<= compact_every union children) without
            # rewriting the closure every round
            closure = closure.localCheckpoint(eager=True)
        frontier = nxt
    return closure


def resolve_links_per_row_pin(
    linked: DataFrame,
    snapshots: DataFrame,
    pin_col: str = "pin_ts",
) -> DataFrame:
    """Heterogeneous as-of resolution: every row carries its OWN pin.

    The mixed-policy case from SURVEY §1.2 (per-request config overlay can
    set a different timestamp per request). A job-level pin pre-reduces the
    dim (asof_snapshots); with per-row pins the reduction key includes the
    pin, so instead: broadcast-join the linked rows to ALL versions of their
    ontology with version_ts <= pin, keep max version per row. Fan-out is
    bounded by versions-per-ontology (≤10 here; Archivo is similar) and the
    snapshot side stays broadcast — the fact side still never shuffles
    except the final max_by aggregation keyed by the row id.
    """
    snaps = F.broadcast(
        snapshots.select(
            "ontology_iri",
            F.col("version_ts").alias("s_version_ts"),
            F.col("snapshot_iri").alias("s_snapshot_iri"),
            F.col("file_url").alias("s_file_url"),
        )
    )
    joined = linked.join(
        snaps,
        (linked["ontology_iri"] == snaps["ontology_iri"])
        & (F.col("s_version_ts") <= F.col(pin_col)),
        "left",
    ).drop(snaps["ontology_iri"])
    best = joined.groupBy("mention_id").agg(
        *[F.first(c).alias(c) for c in linked.columns if c != "mention_id"],
        F.max_by(
            F.struct("s_snapshot_iri", "s_version_ts", "s_file_url"),
            F.col("s_version_ts"),
        ).alias("best"),
    )
    return _with_source(
        best.select(
            *linked.columns,
            F.col("best.s_snapshot_iri").alias("snapshot_iri"),
            F.col("best.s_version_ts").alias("version_ts"),
            F.col("best.s_file_url").alias("file_url"),
        ),
        "archivo-timestamp",
    )


def resolve_links(
    linked: DataFrame,
    snapshots: DataFrame,
    mode: str = "latestArchived",
    pin_ts: dt.datetime | None = None,
    live_status_col: str = "live_status",
    live_content_type_col: str = "live_content_type",
    accept_col: str = "accept_header",
) -> DataFrame:
    """Attach (snapshot_iri, version_ts, file_url, source) to linked mentions.

    source ∈ {original, archivo-latest, archivo-timestamp, not-found,
    unlinked} — the response-source taxonomy from SURVEY.md §1.4.

    ``originalFailoverLiveLatest`` needs three extra columns on ``linked``
    modelling the live leg of each request: the live response's status code
    (int) and Content-Type header (string, nullable), plus the request's
    Accept header — the acceptance gate is the reference's
    (proxy_logic.py:209-238): live wins iff status ∈ passthrough whitelist
    AND content-type ∈ requested mimetypes; otherwise latest-archived.
    """
    if mode not in ONTO_VERSION_MODES:
        raise ValueError(f"unknown ontoVersion mode: {mode}")
    if mode == "originalFailoverLiveLatest":
        missing = {live_status_col, live_content_type_col, accept_col} - set(
            linked.columns
        )
        if missing:
            raise ValueError(
                "originalFailoverLiveLatest needs live-leg columns on the "
                f"input (missing: {sorted(missing)}): the failover gate is "
                "status ∈ PASSTHROUGH_STATUS_CODES ∧ content-type ∈ "
                "requested mimetypes (proxy_logic.py:209-238)"
            )

    if mode == "original":
        return linked.select(
            "*",
            F.lit(None).cast("string").alias("snapshot_iri"),
            F.lit(None).cast("timestamp").alias("version_ts"),
            F.lit(None).cast("string").alias("file_url"),
            F.lit("original").alias("source"),
        )

    if mode == "timestampArchived":
        if pin_ts is None:
            raise ValueError("timestampArchived requires pin_ts")
        out = attach_reduced_snapshots(linked, snapshots, pin_ts)
        return _with_source(out, "archivo-timestamp")
    # latestArchived, and the archived leg of failover
    live = (
        (live_status_col, live_content_type_col, accept_col)
        if mode == "originalFailoverLiveLatest"
        else None
    )
    return _with_source(attach_reduced_snapshots(linked, snapshots), "archivo-latest", live)
