"""Entity linking: first-hit-wins ladder probe against the ontology dictionary.

Set-oriented translation of the reference's first-hit-wins ladder
(ontologytimemachine/utils/proxy_logic.py:88-144): every mention's ≤6
rung-ordered candidate keys (kgtm.normalize._rung_cands) are looked up in
the (host, path) → ontology_iri dictionary and the FIRST non-null hit wins
and canonicalizes the path — the min-rung proof obligation from SURVEY.md §7
item (5); tests include cases where multiple rungs match different
dictionary entries.

One cascade (kgtm.normalize.first_rung_hit), two ways to look a rung up
(broadcast_ladder_link):
  * a small driver-local dictionary folds into the plan as ONE map literal
    (session.map_literal) — zero joins, zero dictionary-side stages;
  * any other dictionary is reduced to one row per (host, path) and each
    rung is a broadcast equi-join on (host, candidate), all six against one
    broadcast build — the mention side never shuffles, and a lookup is one
    hash probe however many paths a host has (BENCH/LADDER.md).
Both are aggregation-free on the mention side, so they run unchanged under
streaming append mode.
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

    A thin wrapper over :func:`broadcast_ladder_link`: per-row lookups and
    a first-non-null cascade, ZERO exchanges and ZERO aggregates on the
    mention side. (The round-6 formulation — explode the 6 rung candidates →
    join → groupBy(mention_id).min_by — paid one full shuffle of the
    6x-exploded rows plus two SortAggregates per query.) Same pure spec,
    kgtm.normalize.resolve_membership (oracle-gate + fuzz-parity checked);
    with no aggregation barrier, Catalyst prunes the upstream turn-index
    Window whenever a consumer does not use turn_idx.
    """
    cols = ["mention_id", "conv_id", "turn_idx", "surface", "host", "path", *carry]
    return broadcast_ladder_link(mentions.select(*cols), index)


def _literal_host_map(index: DataFrame):
    """map<host, map<path, iri>> literal of a driver-local small dictionary
    (session.local_literal_rows); None otherwise — then the caller keeps
    the rung lookups. Same reduction as their dictionary's: duplicate
    (host, path) rows resolve to min(ontology_iri), and a NULL host is
    dropped."""
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


#: The rung lookups of the non-literal plan: one left broadcast equi-join
#: per ladder rung on (host, candidate) against the reduced dictionary
#: ``d``. The candidate key is null-safe (``<=>``): a path-less mention has
#: six NULL candidates and meets its host's (host, NULL) row, so d0's
#: ``d_host`` is the host membership it links on. One statement, so the
#: joins are analyzed once (a chain of DataFrame joins re-analyzes the
#: growing plan at every call).
_RUNG_LOOKUPS = (
    "SELECT /*+ BROADCAST(d0, d1, d2, d3, d4, d5) */ m.*, d0.d_host, "
    + ", ".join(f"d{i}.d_iri AS _li{i}" for i in range(6))
    + " FROM {m} m "
    + " ".join(
        f"LEFT JOIN {{d}} d{i} ON m.host = d{i}.d_host AND m._lc{i} <=> d{i}.d_path"
        for i in range(6)
    )
)


def broadcast_ladder_link(df: DataFrame, index: DataFrame) -> DataFrame:
    """Ladder linking: the six rung candidates of each row are looked up in
    the dictionary and the FIRST hit wins — the reference's short-circuit
    (proxy_logic.py:88-144) — with identical rows and schema on both plans.

    A small driver-local dictionary (session.local_literal_rows) becomes ONE
    map<host, map<path, iri>> literal and each rung is a GetMapValue, so the
    query runs zero joins. Any other dictionary is reduced once to
    (host, path) → min(ontology_iri), plus one (host, NULL) → NULL row per
    host — NULL hosts and paths dropped, so duplicate dictionary rows
    resolve deterministically — and each rung is a left broadcast equi-join
    on (host, candidate) against it (_RUNG_LOOKUPS). The six joins share one
    broadcast build (ReusedExchange). A rung costs one hash probe whatever
    the number of paths per host; the host-keyed map<path, iri> this
    replaced was scanned linearly per rung (BENCH/LADDER.md).

    Append-safe: the stream side sees a literal lookup or broadcast joins
    plus stateless column expressions — no aggregation, so it runs under
    streaming append mode. When ``df`` is a stream, the reduced dictionary
    is materialized once, here, with an eager localCheckpoint: every
    micro-batch then broadcasts it without re-scanning and re-aggregating
    the index, and the stream sees the dictionary as of this call. A local
    checkpoint lives in the executors' block managers, so losing an executor
    mid-stream fails the micro-batch (the trade-off of build_triples'
    surface-dim checkpoint).

    Path-less mentions link on host membership alone (proxy_logic.py:
    100-101), rung 0, no iri/canonical path.

    Adds (is_linked, ontology_iri, canonical_path, rung) to ``df``'s
    columns (it needs ``host`` and ``path``). The four outputs read one hit
    struct, so the cascade runs once per row. The literal plan stages it
    through explode(array(hit)) — the Generate barrier flat_shingles uses —
    so its twelve map lookups are not inlined into each consumer; the join
    plan's cascade only reads columns and needs no barrier (a Generate above
    the six joins cost about 35 ms more analysis per call on kg_build's
    surfaces, 4 vCPUs).
    """
    from kgtm.normalize import _rung_cands, first_rung_hit, ladder_probe_expr

    p = F.col("path")
    # The switch derives from the actual plan (LocalRelation + size cap),
    # never from a tuned constant: at production scale the dictionary is not
    # a plan literal and the rung lookups below are the plan.
    hm = _literal_host_map(index)
    if hm is not None:
        staged = df.select(
            "*",
            F.when(F.map_contains_key(hm, F.col("host")), F.col("host")).alias("d_host"),
            # GetMapValue ([]) like ladder_probe_expr, NOT element_at: the
            # bracket form yields NULL for missing keys under ANSI
            hm[F.col("host")].alias("path_map"),
        ).select(
            *df.columns,
            "d_host",
            F.explode(F.array(ladder_probe_expr(F.col("path_map")))).alias("_hit"),
        )
    else:
        keyed = index.filter(F.col("host").isNotNull() & F.col("path").isNotNull())
        no_path = F.lit(None).cast("string")
        lookup = (
            keyed.select("host", "path", "ontology_iri")
            .unionByName(keyed.select("host", no_path.alias("path"), no_path.alias("ontology_iri")))
            .groupBy(F.col("host").alias("d_host"), F.col("path").alias("d_path"))
            .agg(F.min("ontology_iri").alias("d_iri"))
        )
        if df.isStreaming:
            lookup = lookup.localCheckpoint(eager=True)
        # a path-less row probes no rung, only its host's (host, NULL) row
        cands = [F.when(p != "", c) for c in _rung_cands(p)]
        m = df.select("*", *[c.alias(f"_lc{i}") for i, c in enumerate(cands)])
        first = first_rung_hit(
            [F.col(f"_lc{i}") for i in range(6)], [F.col(f"_li{i}") for i in range(6)]
        )
        staged = df.sparkSession.sql(_RUNG_LOOKUPS, m=m, d=lookup).select(
            *df.columns, "d_host", first.alias("_hit")
        )
    hit = F.col("_hit")
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

    A wrapper over :func:`broadcast_ladder_link`, like link_mentions — the
    round-6 explode → inner join → groupBy(surface) → left join-back needed
    one exchange and one extra join on the surface dim subtree of every
    flagship build; the per-row lookups need neither.
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
