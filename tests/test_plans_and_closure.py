"""Physical-plan shape assertions (the 100 TB contract) + dependency closure."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from kgtm.link import link_mentions
from kgtm.extract import extract_mentions
from kgtm.pipeline import PipelineConfig, build_triples
from kgtm.resolve import dependency_closure
from kgtm.schemas import ONTOLOGY_SNAPSHOTS_SCHEMA
from kgtm.transcripts import (
    events_to_transcripts,
    ontology_index_df,
    ontology_snapshots_df,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_linking_local_dict_is_literal_probe_zero_joins(spark, events):
    """Round 7: a small driver-local dictionary folds into the plan as a map
    LITERAL — the link must run ZERO joins, zero exchanges beyond the
    transcript adapter's own repartition, and no aggregation (guide §2.4:
    remove shuffles outright; the reference's dictionary is an in-memory
    set)."""
    tr = events_to_transcripts(events)
    linked = link_mentions(extract_mentions(tr), ontology_index_df(spark))
    plan = _plan(linked)
    assert "Join" not in plan  # no join of any strategy
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    # exactly the adapter's repartition exchange, nothing dictionary-side
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_linking_nonlocal_dict_uses_broadcast_join(spark, events):
    """A dictionary that is NOT a plan literal (e.g. RDD-parallelized or
    parquet-backed) must keep the broadcast-join ladder: the dictionary side
    broadcasts, the fact side never shuffles for the probe (SURVEY §4)."""
    from kgtm.transcripts import ontology_index_rows
    from kgtm.schemas import ONTOLOGY_INDEX_SCHEMA

    tr = events_to_transcripts(events)
    rdd_index = spark.createDataFrame(ontology_index_rows(), ONTOLOGY_INDEX_SCHEMA)
    linked = link_mentions(extract_mentions(tr), rdd_index)
    plan = _plan(linked)
    assert "BroadcastHashJoin" in plan
    # the ladder probe join must NOT be a sort-merge join
    assert "SortMergeJoin" not in plan.split("BroadcastHashJoin")[0]


def test_broadcast_ladder_plan_is_one_broadcast_join_no_agg(spark, events):
    """The large-dictionary ladder (link.broadcast_ladder_link on a
    NON-literal index) must plan as exactly ONE broadcast hash join on the
    probe side with NO aggregation and NO sort-merge join — the properties
    that make it append-safe in streaming and O(1)-plan-size in |dictionary|
    (the map side aggregates on the STATIC dictionary side only, before the
    broadcast exchange)."""
    from kgtm.link import broadcast_ladder_link
    from kgtm.transcripts import ontology_index_rows
    from kgtm.schemas import ONTOLOGY_INDEX_SCHEMA

    tr = events_to_transcripts(events)
    rdd_index = spark.createDataFrame(ontology_index_rows(), ONTOLOGY_INDEX_SCHEMA)
    linked = broadcast_ladder_link(extract_mentions(tr), rdd_index)
    plan = _plan(linked)
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    # any HashAggregate must sit BELOW the broadcast exchange (dictionary
    # prep), never above the join on the probe side
    probe_side = plan.split("BroadcastExchange")[0]
    assert "HashAggregate" not in probe_side
    # probe side stays whole-stage-codegen (no Python UDF in the ladder)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_literal_probe_matches_broadcast_ladder(spark, events):
    """The literal fast path and the broadcast-join ladder must produce
    identical rows on the same corpus+dictionary (the round-7 rewrite's
    equivalence pin)."""
    from kgtm.transcripts import ontology_index_rows
    from kgtm.schemas import ONTOLOGY_INDEX_SCHEMA

    m = extract_mentions(events_to_transcripts(events))
    lit = link_mentions(m, ontology_index_df(spark))
    rdd_index = spark.createDataFrame(ontology_index_rows(), ONTOLOGY_INDEX_SCHEMA)
    bc = link_mentions(m, rdd_index)
    assert "Join" not in _plan(lit) and "BroadcastHashJoin" in _plan(bc)
    assert lit.schema == bc.schema  # names, order, types and nullability
    assert lit.exceptAll(bc).count() == 0
    assert bc.exceptAll(lit).count() == 0


@pytest.mark.parametrize(
    "mode, pin",
    [
        ("latestArchived", None),
        ("timestampArchived", dt.datetime(2024, 7, 1)),
        ("originalFailoverLiveLatest", None),
    ],
)
def test_literal_snapshots_match_broadcast_resolve(spark, events, mode, pin):
    """resolve_links over a plan-literal snapshot table (map-literal fold)
    and over the same rows as a non-literal frame (broadcast-join dim) must
    give identical rows and an identical schema, in every archived mode."""
    from kgtm.resolve import resolve_links

    linked = link_mentions(
        extract_mentions(events_to_transcripts(events)), ontology_index_df(spark)
    )
    if mode == "originalFailoverLiveLatest":
        # a deterministic mix of no live leg, a bad status, a mime
        # mismatch and an accepted live response
        k = F.abs(F.xxhash64("surface")) % 4
        linked = linked.select(
            "*",
            F.when(k == 1, 500).when(k > 1, 200).cast("int").alias("live_status"),
            F.when(k == 2, "text/html").otherwise("text/turtle").alias("live_content_type"),
            F.lit("text/turtle").alias("accept_header"),
        )
    lit_snaps = ontology_snapshots_df(spark)
    join_snaps = spark.createDataFrame(lit_snaps.collect(), ONTOLOGY_SNAPSHOTS_SCHEMA)
    lit = resolve_links(linked, lit_snaps, mode, pin)
    bc = resolve_links(linked, join_snaps, mode, pin)
    assert "Join" not in _plan(lit) and "BroadcastHashJoin" in _plan(bc)
    assert lit.schema == bc.schema
    assert lit.exceptAll(bc).count() == 0
    assert bc.exceptAll(lit).count() == 0
    sources = {r.source for r in bc.select("source").distinct().collect()}
    archived = "archivo-timestamp" if mode == "timestampArchived" else "archivo-latest"
    assert {"unlinked", archived} <= sources
    if mode == "originalFailoverLiveLatest":
        assert "original" in sources


def test_flagship_resolution_joins_broadcast(spark, events):
    tr = events_to_transcripts(events)
    out = build_triples(
        tr,
        ontology_index_df(spark),
        ontology_snapshots_df(spark),
        PipelineConfig(persist_intermediate=False),
    )
    plan = _plan(out)
    assert plan.count("BroadcastHashJoin") >= 2  # subj + obj dim joins


def test_flagship_dim_broadcast_built_once(spark, events):
    """The subj and obj dim joins probe the SAME broadcast: after execution
    the final adaptive plan must contain a ReusedExchange for the surface
    dim (it is built and shipped once, not per-join)."""
    tr = events_to_transcripts(events)
    out = build_triples(
        tr,
        ontology_index_df(spark),
        ontology_snapshots_df(spark),
        PipelineConfig(persist_intermediate=False),
    )
    out.collect()  # AQE finalizes (and reuses) the broadcast stages
    final = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final


def test_parquet_scan_prunes_columns(spark):
    """Column pruning must reach the scan: a 2-column projection over events
    reads 2 columns (ReadSchema), not 6."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df = ev.select("event_id", "ts").filter(F.col("event_id") > 100)
    plan = _plan(df)
    # projection pruned to the 2 columns at the scan...
    assert "FileScan parquet [event_id#" in plan and ",ts#" in plan
    assert "event_type" not in plan and "props" not in plan
    # ...and the predicate reached the parquet reader
    assert "PushedFilters: [IsNotNull(event_id), GreaterThan(event_id,100)" in plan


def test_dependency_closure(spark):
    import datetime as dt

    ts = dt.datetime(2024, 1, 1)
    rows = [
        # a → b → c, a → d; e isolated; cycle x ↔ y terminates
        ("http://h/a", ts, "snap:a", "f:a", ["snap:b", "snap:d"]),
        ("http://h/b", ts, "snap:b", "f:b", ["snap:c"]),
        ("http://h/c", ts, "snap:c", "f:c", []),
        ("http://h/d", ts, "snap:d", "f:d", []),
        ("http://h/e", ts, "snap:e", "f:e", []),
        ("http://h/x", ts, "snap:x", "f:x", ["snap:y"]),
        ("http://h/y", ts, "snap:y", "f:y", ["snap:x"]),
    ]
    snaps = spark.createDataFrame(rows, ONTOLOGY_SNAPSHOTS_SCHEMA)
    roots = spark.createDataFrame([("snap:a",), ("snap:x",)], "snapshot_iri string")
    out = dependency_closure(snaps, roots)
    got = {(r.root_snapshot_iri, r.snapshot_iri): r.depth for r in out.collect()}
    assert got[("snap:a", "snap:a")] == 0
    assert got[("snap:a", "snap:b")] == 1
    assert got[("snap:a", "snap:d")] == 1
    assert got[("snap:a", "snap:c")] == 2
    assert ("snap:a", "snap:e") not in got
    # cycle: both reachable, no infinite loop
    assert got[("snap:x", "snap:y")] == 1
    assert got[("snap:x", "snap:x")] == 0
    assert len([k for k in got if k[0] == "snap:x"]) == 2


def test_dependency_closure_checkpoint_cut(spark):
    """Plan shape of the checkpoint cadence (BENCH/CLOSURE.md): every
    iteration's join lineage must be cut by a checkpoint — the returned
    plan contains NO Join operators, only checkpoint scans unioned with
    bounded width (<= compact_every frontier frames plus the compacted
    base), so a depth-100 walk cannot accumulate a 100-join lineage."""
    import datetime as dt

    ts = dt.datetime(2024, 1, 1)
    depth = 10
    rows = [
        (
            f"http://h/n{i}",
            ts,
            f"snap:n{i}",
            f"f:n{i}",
            [f"snap:n{i + 1}"] if i < depth - 1 else [],
        )
        for i in range(depth)
    ]
    snaps = spark.createDataFrame(rows, ONTOLOGY_SNAPSHOTS_SCHEMA)
    roots = spark.createDataFrame([("snap:n0",)], "snapshot_iri string")
    out = dependency_closure(snaps, roots, max_iter=depth + 2, compact_every=4)
    assert out.count() == depth
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    # depth 10, compact at rounds 4 and 8 → base(ckpt@8) + frontiers 9,10:
    # union width stays under compact_every even though 10 rounds ran
    assert plan.count("Union") <= 1
    n_scans = plan.count("LogicalRDD") + plan.count("ExistingRDD")
    assert 0 < n_scans <= 4, plan


def test_adjacency_lists_caps_super_nodes(spark):
    from kgtm.graph import adjacency_lists

    rows = [("c", f"hub", "uses", f"obj{i}") for i in range(20)] + [
        ("c", "small", "uses", "x")
    ]
    t = spark.createDataFrame(rows, "conv_id string, subj string, pred string, obj string")
    out = {r.subj: r for r in adjacency_lists(t, max_neighbors=5).collect()}
    assert out["hub"].degree == 20 and out["hub"].truncated
    assert len(out["hub"].neighbors) == 5
    assert out["small"].degree == 1 and not out["small"].truncated


def test_sql_api_flagship_matches_dataframe(spark, events):
    """The pure-SQL flagship statement equals the DataFrame pipeline."""
    from kgtm.sql_api import flagship_sql

    tr = events_to_transcripts(events)
    df_out = build_triples(
        tr,
        ontology_index_df(spark),
        ontology_snapshots_df(spark),
        PipelineConfig(persist_intermediate=False),
    )
    sql_out = flagship_sql(
        spark, tr, ontology_index_df(spark), ontology_snapshots_df(spark)
    ).select(*df_out.columns)
    assert sql_out.exceptAll(df_out).count() == 0
    assert df_out.exceptAll(sql_out).count() == 0


def _final_section(plan: str) -> str:
    """The executed (final) section of an AQE plan string — or the whole
    string when the plan has not been finalized (no duplicate sections)."""
    cut = plan.find("== Initial Plan ==")
    return plan[:cut] if cut != -1 else plan


def test_state_v2_append_plan_flat_scanned_once_no_shuffle(spark, documents, tmp_path):
    """Structural pin of the O(batch) append contract (BENCH/INGEST.md): in
    the state path the stored shingle flat is read by exactly ONE parquet
    scan, column-pruned to (id, shingle), filtered map-side by a broadcast
    semi-join on the batch's shingle set — the flat itself is never shuffled
    or aggregated — and the stored per-shingle df table is probed behind a
    broadcast semi BEFORE its (tiny) per-shingle sum."""
    from kgtm.curation import (
        _read_state,
        _resolve_ledger_commits,
        incremental_curate,
        persist_curated_corpus,
        read_ledger,
    )

    old = documents.filter("doc_id < 400")
    batch = documents.filter("doc_id >= 400 and doc_id < 450")
    store = str(tmp_path / "store")
    persist_curated_corpus(old, store, min_quality=0.45, jaccard_threshold=0.5)
    st = _read_state(spark, store, _resolve_ledger_commits(spark, store))
    assert st is not None  # all five state tables cover the chain
    probes: dict = {}
    incremental_curate(
        None,
        read_ledger(spark, store),
        batch,
        state=st,
        skip_guards=True,
        _plan_probes=probes,
    )

    o_hit = _final_section(_plan(probes["o_hit"]))
    # exactly ONE file scan in the whole subplan: the flat (the batch side
    # is a checkpointed RDD) — and it reads only the two 8-byte columns
    assert o_hit.count("FileScan parquet") == 1, o_hit
    assert "ReadSchema: struct<id:bigint,shingle:bigint>" in o_hit, o_hit
    # the filter is a broadcast LEFT SEMI (map-side) ...
    assert "BroadcastHashJoin" in o_hit and "LeftSemi" in o_hit, o_hit
    # ... and the flat is never hash-shuffled: the scan sits on the streamed
    # side (before the build side's BroadcastExchange in the tree print),
    # and every hashpartitioning exchange is INSIDE the build side (the
    # O(batch) distinct over the batch's shingles)
    build_at = min(
        i
        for i in (o_hit.find("BroadcastExchange"), o_hit.find("BroadcastQueryStage"))
        if i != -1
    )
    assert o_hit.index("FileScan parquet") < build_at, o_hit
    first_exchange = o_hit.find("Exchange hashpartitioning")
    assert first_exchange == -1 or first_exchange > build_at, o_hit

    old_tot = _final_section(_plan(probes["old_tot"]))
    # two file scans: the df contributions + the stored hot set (anti side
    # of the candidate filter); the flat is NOT among them
    assert old_tot.count("FileScan parquet") == 2, old_tot
    assert "ReadSchema: struct<shingle:bigint,df:bigint>" in old_tot, old_tot
    # the broadcast semi restricts the df scan BELOW the partial sum — the
    # aggregation never sees rows outside the batch's candidate shingles
    assert "LeftSemi" in old_tot, old_tot
    assert old_tot.index("partial_sum") < old_tot.index("LeftSemi"), old_tot


def test_state_v2_newly_hot_owner_lookup_prunes_buckets(spark, tmp_path):
    """When a shingle crosses the df cap mid-append, the owner-correction
    lookup must read ONLY the sb= directory buckets the newly-hot shingles
    hash to (partition pruning), not the whole stored flat."""
    import re

    from kgtm.curation import (
        N_SHINGLE_BUCKETS,
        _read_state,
        _resolve_ledger_commits,
        incremental_curate,
        persist_curated_corpus,
        read_ledger,
    )
    from kgtm.dedup import DEFAULT_MAX_SHINGLE_DF

    cap = DEFAULT_MAX_SHINGLE_DF
    n_b_old = cap - 15
    a, b = "alpha beta gamma", "delta epsilon zeta"
    rows = []
    for i in range(cap + 50):
        body = f"{a} {b}" if i < n_b_old else a
        rows.append((i, f"{body} u{i} v{i} w{i} x{i} y{i}"))
    for j in range(30):
        rows.append((10_000 + j, f"{b} bu{j} bv{j} bw{j} bx{j} by{j}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string").localCheckpoint(
        eager=True
    )
    old = docs.filter(F.col("doc_id") < 10_000)
    batch = docs.filter(F.col("doc_id") >= 10_000)
    store = str(tmp_path / "store")
    persist_curated_corpus(old, store, min_quality=0.0, jaccard_threshold=0.5)
    st = _read_state(spark, store, _resolve_ledger_commits(spark, store))
    probes: dict = {}
    incremental_curate(
        None,
        read_ledger(spark, store),
        batch,
        min_quality=0.0,
        state=st,
        skip_guards=True,
        _plan_probes=probes,
    )
    hot_vals = [r[0] for r in probes["newly_hot"].collect()]
    assert hot_vals  # B-phrase shingles cross the cap in this append

    corr = _final_section(_plan(probes["owner_corr"]))
    assert corr.count("FileScan parquet") == 1, corr
    # the scan must carry the sb= bucket column in PartitionFilters
    # (directory pruning) — an empty PartitionFilters would mean the lookup
    # scans all N_SHINGLE_BUCKETS directories
    m = re.search(r"PartitionFilters: \[([^\]]*)", corr)
    assert m and "sb#" in m.group(1), corr
    # and the newly-hot set hits fewer buckets than exist, so pruning is real
    assert len({v % N_SHINGLE_BUCKETS for v in hot_vals}) < N_SHINGLE_BUCKETS
