"""Entity linking: first-hit-wins ladder probe against the ontology dictionary.

Set-oriented translation of the reference's first-hit-wins ladder
(ontologytimemachine/utils/proxy_logic.py:88-144): every mention's ≤6
rung-ordered candidate keys (kgtm.normalize.ladder_probe_expr) are probed
against a host → map<path, ontology_iri> dictionary and the FIRST non-null
hit wins and canonicalizes the path — the min-rung proof obligation from
SURVEY.md §7 item (5); tests include cases where multiple rungs match
different dictionary entries.

One probe, two ways to bring the dictionary to it (broadcast_ladder_link):
  * a small driver-local dictionary folds into the plan as ONE map literal
    (session.map_literal) — zero joins, zero dictionary-side stages;
  * any other dictionary is reduced to one row per host and broadcast-joined
    on host — the mention side never shuffles, and plan size is O(1) in
    |dictionary|.
Both are aggregation-free on the mention side, so they run unchanged under
streaming append mode. Hot dictionary hosts (semanticscience.org 265/1,816
entries — BASELINE.md skew row) widen one map row, never a join partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from kgtm.normalize import candidate_paths_col


def link_mentions(
    mentions: DataFrame, index: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """mentions(host, path, ...) × index(host, path, ontology_iri) → links.

    Returns one row per mention: is_linked, ontology_iri, canonical_path,
    rung (the winning ladder rung; NULL when unlinked). ``carry`` names extra
    mention columns to pass through unchanged (between ``path`` and
    ``is_linked`` in the output) — callers that previously joined the linkage
    back to the transcript table just to recover a per-turn column (e.g. the
    failover queries re-deriving ``text``) carry it instead, saving a second
    full scan+window of the source (guide §2.4).

    ROUND-7 SHAPE (guide §2.4 "remove shuffles outright"): this is now a thin
    wrapper over :func:`broadcast_ladder_link` — ONE broadcast hash join on
    host + pure probe expressions, ZERO exchanges and ZERO aggregates on the
    mention side. The previous formulation (explode 6 rung candidates →
    broadcast join → groupBy(mention_id).min_by) paid one full shuffle of the
    6x-exploded candidate rows plus two SortAggregates per query; min-rung
    first-hit-wins is instead computed per row by probing the rung-ordered
    candidate array against the broadcast host→(path→iri) map and taking the
    first non-null hit — semantically identical (same pure spec
    kgtm.normalize.resolve_membership; oracle-gate + fuzz-parity checked),
    and the removal of the aggregation barrier lets Catalyst prune the
    upstream turn-index Window whenever a consumer does not use turn_idx.
    """
    cols = ["mention_id", "conv_id", "turn_idx", "surface", "host", "path", *carry]
    return broadcast_ladder_link(mentions.select(*cols), index)


def host_path_map(index: DataFrame) -> DataFrame:
    """Dictionary side for the stream-static broadcast ladder:
    (d_host, path_map: map<path, ontology_iri>) — one row per host.

    Duplicate (host, path) dictionary rows are resolved deterministically to
    min(ontology_iri) (the batch broadcast-join path is NONdeterministic
    there: min_by over rung-equal hits picks an arbitrary one)."""
    return (
        index.groupBy("host", "path")
        .agg(F.min("ontology_iri").alias("ontology_iri"))
        .groupBy(F.col("host").alias("d_host"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("path", "ontology_iri"))
            ).alias("path_map")
        )
    )


def _literal_host_map(index: DataFrame):
    """map<host, map<path, iri>> literal of a driver-local small dictionary
    (session.local_literal_rows); None otherwise — then the caller keeps
    the broadcast join. Same reduction as host_path_map: duplicate
    (host, path) rows resolve to min(ontology_iri), and a NULL host is
    dropped (it never matches the join's d_host)."""
    from kgtm.session import local_literal_rows, map_literal

    rows = local_literal_rows(index, ["host", "path", "ontology_iri"])
    if rows is None:
        return None
    per_host: dict[str, dict[str, str]] = {}
    for host, path, iri in rows:
        if host is None:
            continue
        pm = per_host.setdefault(host, {})
        if pm.get(path) is None or (iri is not None and iri < pm[path]):
            pm[path] = iri
    s = index.schema
    return map_literal(
        per_host,
        MapType(s["host"].dataType, MapType(s["path"].dataType, s["ontology_iri"].dataType)),
    )


def broadcast_ladder_link(
    df: DataFrame,
    index: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Ladder linking as one map probe per row, against a dictionary that
    is either folded into the plan as a literal or broadcast-joined on host.

    A small driver-local dictionary (session.local_literal_rows) becomes ONE
    map<host, map<path, iri>> literal, so the query runs zero joins. Any
    other dictionary arrives as a broadcast (host → map<path, iri>) table
    (host_path_map), so plan size is O(1) in |dictionary|. Either way the
    rung-ordered candidates are probed against the host's map and the FIRST
    hit wins — the same short-circuit semantics as the reference
    (proxy_logic.py:88-144), with identical rows and schema on both plans.

    Append-safe: the stream side sees a literal lookup or a broadcast join
    plus stateless column
    expressions — no aggregation, so it runs under streaming append mode.
    Path-less mentions link on host membership alone (proxy_logic.py:100-101:
    d_host non-null after the left join), rung 0, no iri/canonical path.

    Adds (is_linked, ontology_iri, canonical_path, rung) to df's columns.

    Round-7 staging notes (measured at sf0.1):

      * The probe is the SCALAR cascade :func:`kgtm.normalize.ladder_probe_expr`
        — six GetMapValue lookups in rung order inside whole-stage codegen.
        The earlier higher-order form (transform + filter over the candidate
        array) is CodegenFallback, i.e. interpreted per row, and measured
        ~0.8 s/query slower on the 100k-mention corpus.
      * The probe feeds FOUR output columns; referencing it directly would
        inline the whole tree into each consumer. The explode(array(probe))
        Generate below is the same staging barrier flat_shingles uses: the
        probe runs exactly ONCE per row inside Generate, and the four
        consumers read its struct fields.
    """
    from kgtm.normalize import ladder_probe_expr

    # The switch derives from the actual plan (LocalRelation + size cap),
    # never from a tuned constant: at production scale the dictionary is not
    # a plan literal and the broadcast join below is the plan.
    hm = _literal_host_map(index)
    if hm is not None:
        joined = df.select(
            "*",
            F.when(F.map_contains_key(hm, F.col(host_col)), F.col(host_col)).alias(
                "d_host"
            ),
            # GetMapValue ([]) like ladder_probe_expr, NOT element_at: the
            # bracket form yields NULL for missing keys under ANSI
            hm[F.col(host_col)].alias("path_map"),
        )
    else:
        dict_side = F.broadcast(host_path_map(index))
        joined = df.join(dict_side, F.col(host_col) == F.col("d_host"), "left")
    first = ladder_probe_expr(F.col("path_map"), path_col)
    staged = joined.select(
        *df.columns,
        F.col("d_host"),
        F.explode(F.array(first)).alias("_hit"),
    )
    hit = F.col("_hit")
    p = F.col(path_col)
    pathless_hit = (p.isNull() | (p == "")) & F.col("d_host").isNotNull()
    return staged.select(
        *df.columns,
        (hit.isNotNull() | pathless_hit).alias("is_linked"),
        hit["ontology_iri"].alias("ontology_iri"),
        hit["cand_path"].alias("canonical_path"),
        F.when(hit.isNotNull(), hit["rung"])
        .when(pathless_hit, F.lit(0))
        .alias("rung"),
    )


def link_surfaces(surfaces: DataFrame, index: DataFrame) -> DataFrame:
    """Ladder-link a DISTINCT surface table: (surface, host, path, ...) →
    + (is_linked, ontology_iri, canonical_path, rung).

    Same ladder as link_mentions but keyed by surface — the right shape when
    the caller has already reduced to distinct surfaces (e.g. triple terms):
    the ladder fan-out and broadcast probe run on |distinct surfaces|, not
    |mentions|.

    ROUND-7 SHAPE: map-probe wrapper over :func:`broadcast_ladder_link`,
    like link_mentions — the previous explode → inner join → groupBy(surface)
    → left join-back needed one exchange and one extra join on the surface
    dim subtree of every flagship build; the probe form needs neither.
    """
    return broadcast_ladder_link(surfaces.select("surface", "host", "path"), index)


def incremental_relink(
    linked: DataFrame,
    old_index: DataFrame,
    new_index: DataFrame,
    max_delta_keys: int = 100_000,
) -> DataFrame:
    """Re-link ONLY the mentions affected by a dictionary change.

    The scale story behind kgtm.graph.index_diff: when the ontology index
    changes (the A1 change-detection semantics, download_archivo_urls.py:
    41-46), the reference reloads everything; at 10^12 mentions a full
    re-link re-scans the world for a dictionary delta of a few rows. Here:

      1. changed keys = symmetric difference of the two index snapshots over
         FULL rows (host, path, ontology_iri) — a re-pointed entry keeps its
         key but changes the linkage target, so it still flags — projected
         to (host, path). A delta is broadcast-sized by definition, so the
         keys fold into the plan as a LITERAL array;
      2. affected = a pure codegen predicate: any of the mention's ≤6 ladder
         candidate keys (or its host, for path-less mentions) is in the
         changed set. The corpus split is a FILTER — zero shuffle, one scan;
      3. the affected slice re-runs the ladder against the NEW index (its
         min-rung groupBy is the only exchange, sized by |affected|);
         everything else passes through untouched.

    Deltas larger than ``max_delta_keys`` raise: at that size the "delta" is
    a reindex and a full re-link is the honest plan. ``linked`` should be a
    materialized table (it IS the existing linkage output) — this operator
    scans it, it does not rebuild it.

    Output schema == link_mentions' output; equality with a full re-link
    against new_index is the correctness contract (oracle-checked).
    """
    # migration guard: v1 linkage tables carry an int64 (xxhash64) mention_id;
    # v2 is string md5 hex (extract.mention_id_col). Mixing them would produce
    # ids that silently never join — fail loudly instead.
    for f in linked.schema.fields:
        if f.name == "mention_id" and f.dataType.simpleString() != "string":
            raise TypeError(
                "linked has a v1 int64 mention_id (pre-md5 id format); "
                "re-materialize it with the current extract_mentions before "
                "running incremental_relink"
            )
    old_rows = old_index.select(
        "host", F.col("path").alias("cand_path"), "ontology_iri"
    )
    new_rows = new_index.select(
        "host", F.col("path").alias("cand_path"), "ontology_iri"
    )
    changed_rows = (
        old_rows.exceptAll(new_rows)
        .unionByName(new_rows.exceptAll(old_rows))
        .select("host", "cand_path")
        .distinct()
        .limit(max_delta_keys + 1)
        .collect()
    )
    if len(changed_rows) > max_delta_keys:
        raise ValueError(
            f"dictionary delta exceeds {max_delta_keys} keys — that is a "
            "reindex, not a delta; run a full link_mentions instead"
        )
    if not changed_rows:
        return linked  # no delta → nothing to do
    changed = F.broadcast(
        linked.sparkSession.createDataFrame(
            [(r.host, r.cand_path) for r in changed_rows],
            "host string, cand_path string",
        )
    )
    changed_hosts = F.broadcast(changed.select("host").distinct())

    # Detection pass: host-gate first (a mention on an unchanged host cannot
    # match a changed key — with real many-host dictionaries this prunes
    # almost everything before any candidate work), then explode each
    # survivor's ≤6 ladder candidates (the Generate barrier evaluates the
    # split ONCE per row — the same Catalyst staging lesson as kgtm.dedup)
    # and broadcast-semi-join the changed keys.
    cands = (
        linked.join(changed_hosts, "host", "left_semi")
        .select(
            "mention_id",
            "host",
            F.explode(candidate_paths_col("path")).alias("cand"),
        )
        .select("mention_id", "host", F.col("cand.cand_path").alias("cand_path"))
    )
    # Path-less mentions match on host alone (proxy_logic.py:100-101): any
    # change within their host can flip the host-only membership.
    pathless_affected = (
        linked.filter(F.col("path").isNull() | (F.col("path") == ""))
        .join(changed_hosts, "host", "left_semi")
        .select("mention_id")
    )
    # Eager checkpoint + EXPLICIT broadcast: the id set feeds both the
    # re-link semi-join and the untouched anti-join; broadcasting it keeps
    # both joins shuffle-free scans of `linked` (an auto-broadcast would bail
    # past the size threshold and silently shuffle the full corpus twice).
    # The set is bounded by the delta's fan-in — for deltas past broadcast
    # scale a full re-link is the honest plan anyway (see max_delta_keys).
    affected_ids = F.broadcast(
        cands.join(changed, ["host", "cand_path"], "left_semi")
        .select("mention_id")
        .unionByName(pathless_affected)
        .distinct()
        .localCheckpoint(eager=True)
    )

    mention_cols = ["mention_id", "conv_id", "turn_idx", "surface", "host", "path"]
    refreshed = link_mentions(
        linked.join(affected_ids, "mention_id", "left_semi").select(*mention_cols),
        new_index,
    )
    untouched = linked.join(affected_ids, "mention_id", "left_anti")
    return untouched.select(*refreshed.columns).unionByName(refreshed)


def deny_unlinked(linked: DataFrame, restricted_access: bool) -> DataFrame:
    """The deny gate (proxy_logic.py:39-44): under restrictedAccess, mentions
    outside the dictionary get outcome 'denied' (403 analog); otherwise they
    pass through as 'unlinked' (original upstream analog)."""
    outcome = (
        F.when(F.col("is_linked"), F.lit("linked"))
        .when(F.lit(restricted_access), F.lit("denied"))
        .otherwise(F.lit("unlinked"))
    )
    return linked.withColumn("outcome", outcome)
