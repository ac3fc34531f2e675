"""Physical-plan shape assertions (the 100 TB contract) + dependency closure."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from conftest import assert_same_both_ways, forced_both_ways
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


def test_broadcast_ladder_is_rung_lookups_over_one_broadcast(spark, events):
    """The ladder over a NON-literal index (link.broadcast_ladder_link) plans
    as six broadcast hash joins, one per rung on (host, null-safe
    candidate), all sharing ONE broadcast build of the reduced dictionary
    (ReusedExchange in the final adaptive plan); path-less mentions find
    their host through its (host, NULL) row in that build, so there is no
    other join. No aggregation above the broadcasts on the probe side, no
    sort-merge join and no Python eval: the properties that keep it
    append-safe in streaming and one hashed lookup per rung."""
    from kgtm.link import broadcast_ladder_link
    from kgtm.transcripts import ontology_index_rows
    from kgtm.schemas import ONTOLOGY_INDEX_SCHEMA

    tr = events_to_transcripts(events)
    rdd_index = spark.createDataFrame(ontology_index_rows(), ONTOLOGY_INDEX_SCHEMA)
    linked = broadcast_ladder_link(extract_mentions(tr), rdd_index)
    linked.collect()
    plan = _plan(linked)
    final = plan.split("== Initial Plan ==")[0]
    rungs = re.findall(
        r"BroadcastHashJoin \[host#\d+, coalesce\(_lc(\d)#\d+, \), isnull\(_lc\d#\d+\)\], "
        r"\[d_host#\d+, coalesce\(d_path#\d+, \), isnull\(d_path#\d+\)\]",
        final,
    )
    assert sorted(rungs) == [str(i) for i in range(6)], final
    assert final.count("BroadcastHashJoin") == 6
    # one build; the other five rungs reuse it (a ReusedExchange line also
    # names the exchange it reuses)
    assert len(re.findall(r"\+- BroadcastExchange", final)) == 1, final
    assert final.count("ReusedExchange") == 5, final
    assert "SortMergeJoin" not in plan
    # any aggregate must sit BELOW a broadcast exchange (dictionary prep),
    # never above the joins on the probe side
    probe_side = final.split("BroadcastExchange")[0]
    assert "Aggregate" not in probe_side
    # probe side stays whole-stage-codegen (no Python UDF in the ladder)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_literal_probe_matches_broadcast_ladder(spark, events, monkeypatch):
    """session.LITERAL_MAX_ROWS picks the link plan over a plan-literal
    dictionary: forced to each side, the broadcast-join ladder and the
    map-literal probe give identical rows and schema."""
    m = extract_mentions(events_to_transcripts(events))
    index = ontology_index_df(spark)
    bc, lit = forced_both_ways(
        monkeypatch, "LITERAL_MAX_ROWS", lambda: link_mentions(m, index)
    )
    assert "Join" not in _plan(lit) and "BroadcastHashJoin" in _plan(bc)
    assert_same_both_ways(bc, lit)


def _values_index(spark, rows):
    """Index rows (NULLs allowed) as an inline VALUES table: a plan literal,
    so LITERAL_MAX_ROWS can force either link plan."""

    def lit(v):
        return "NULL" if v is None else "'" + v.replace("'", "''") + "'"

    vals = ", ".join("(" + ", ".join(map(lit, r)) + ")" for r in rows)
    return spark.sql(
        f"SELECT * FROM VALUES {vals} AS ontology_index(ontology_iri, host, path, iri_type)"
    )


def test_link_plans_agree_on_hard_dictionaries(spark, monkeypatch):
    """Literal map probe vs broadcast rung lookups, forced both ways, on the
    inputs where they could part: duplicate (host, path) rows with
    different IRIs, a NULL-host row, '//' and multi-trailing-slash paths,
    path-less mentions on known and unknown hosts, and one host with 2,000
    paths."""
    from kgtm.link import broadcast_ladder_link

    rows = [
        ("http://dup.org/a/z", "dup.org", "/a/", "slash"),
        ("http://dup.org/a/b", "dup.org", "/a/", "slash"),
        ("http://dup.org/a/y", "dup.org", "/a/", "slash"),
        ("http://nohost/x", None, "/x", "term"),
        ("http://sl.org/a//b", "sl.org", "/a//b", "term"),
        ("http://sl.org/c", "sl.org", "/c", "term"),
        ("http://sl.org//", "sl.org", "//", "slash"),
        ("http://sl.org/", "sl.org", "/", "slash"),
        *[(f"http://big.org/t{i}", "big.org", f"/t{i}", "term") for i in range(2000)],
        ("http://big.org/ns/", "big.org", "/ns/", "slash"),
    ]
    index = _values_index(spark, rows)
    surfaces = [
        ("dup.org", "/a/"), ("dup.org", "/a/q"), ("dup.org", "/a///"),
        ("nohost.org", "/x"), (None, "/x"), ("", "/x"),
        ("sl.org", "/a//b"), ("sl.org", "/a//b//"), ("sl.org", "/a//b/c"),
        ("sl.org", "//"), ("sl.org", "///"), ("sl.org", "/c///"), ("sl.org", "/c//d"),
        ("sl.org", "/q"), ("sl.org", "/"),
        ("dup.org", ""), ("dup.org", None), ("big.org", ""), ("nowhere.org", ""),
        ("nowhere.org", None),
        ("big.org", "/t0"), ("big.org", "/t1999/"), ("big.org", "/t777/x"),
        ("big.org", "/t5/x/y"), ("big.org", "/ns/q/r/"), ("big.org", "/t2000"),
    ]
    m = spark.createDataFrame(
        [(f"s{i}", h, p) for i, (h, p) in enumerate(surfaces)],
        "surface string, host string, path string",
    )
    bc, lit = forced_both_ways(
        monkeypatch, "LITERAL_MAX_ROWS", lambda: broadcast_ladder_link(m, index)
    )
    assert "Join" not in _plan(lit) and "BroadcastHashJoin" in _plan(bc)
    assert_same_both_ways(bc, lit)
    got = {(r.host, r.path): r for r in bc.collect()}
    assert got[("dup.org", "/a/q")].ontology_iri == "http://dup.org/a/b"
    # rung 1 strips every trailing slash, so "/a///" never reaches "/a/"
    assert not got[("dup.org", "/a///")].is_linked
    assert not got[(None, "/x")].is_linked and not got[("nohost.org", "/x")].is_linked
    assert got[("sl.org", "/a//b/c")].canonical_path == "/a//b"
    assert got[("dup.org", None)].is_linked and got[("dup.org", None)].rung == 0
    assert not got[("nowhere.org", "")].is_linked
    assert got[("big.org", "/t777/x")].ontology_iri == "http://big.org/t777"
    assert got[("big.org", "/ns/q/r/")].rung == 5
    assert not got[("big.org", "/t2000")].is_linked


@pytest.mark.parametrize(
    "mode, pin",
    [
        ("latestArchived", None),
        ("timestampArchived", dt.datetime(2024, 7, 1)),
        ("originalFailoverLiveLatest", None),
    ],
)
def test_literal_snapshots_match_broadcast_resolve(spark, events, monkeypatch, mode, pin):
    """session.LITERAL_MAX_ROWS picks the resolve plan over a plan-literal
    snapshot table: forced to each side, the map-literal fold and the
    broadcast-join dim give identical rows and schema, in every archived
    mode."""
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
    snaps = ontology_snapshots_df(spark)
    bc, lit = forced_both_ways(
        monkeypatch, "LITERAL_MAX_ROWS", lambda: resolve_links(linked, snaps, mode, pin)
    )
    assert "Join" not in _plan(lit) and "BroadcastHashJoin" in _plan(bc)
    assert_same_both_ways(bc, lit)
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


def test_state_append_scans_stored_flat_once_without_shuffle(spark, documents, tmp_path):
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


def test_newly_hot_owner_lookup_prunes_shingle_buckets(spark, tmp_path):
    """When a shingle crosses the df cap mid-append, the owner-correction
    lookup must read ONLY the sb= directory buckets the newly-hot shingles
    hash to (partition pruning), not the whole stored flat."""
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


@pytest.mark.parametrize("wanted", [[-7, 3, 12, 999], []], ids=["hits", "empty"])
def test_pruned_flat_lookup_literal_join_parity(spark, tmp_path, monkeypatch, wanted):
    """session.LITERAL_MAX_ROWS picks the stored-flat lookup's plan: the
    collected shingle set as an sb-pruned isin filter, or a broadcast
    semi-join. Forced to each side, both give the same rows and schema —
    for an empty set too — and each side took its plan."""
    from kgtm.curation import _pruned_flat_lookup

    n_b = 8
    shingle = (F.col("id") % 30) - 10  # duplicates and negative shingles
    spark.range(90).select(
        "id", shingle.alias("shingle"), F.pmod(shingle, F.lit(n_b)).cast("int").alias("sb")
    ).write.partitionBy("sb").parquet(str(tmp_path / "flat"))
    flat = spark.read.parquet(str(tmp_path / "flat"))
    shingles = spark.createDataFrame([(v,) for v in wanted], "shingle bigint")

    join, lit = forced_both_ways(
        monkeypatch, "LITERAL_MAX_ROWS", lambda: _pruned_flat_lookup(flat, shingles, n_b)
    )
    assert "Join" in _plan(join) and "Join" not in _plan(lit)
    if wanted:
        assert re.search(r"PartitionFilters: \[[^\]]*sb#", _final_section(_plan(lit)))
        assert lit.count() == 9  # three live shingles, three ids each
    assert_same_both_ways(join, lit)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_curation_ledger_plans_no_window(spark, documents):
    """Near-dup survivors come from the component label, and the ledger
    reads no cluster_id, so its plan holds no Window (no shuffle over every
    id)."""
    from kgtm.curation import curate_documents

    assert "Window" not in _optimized(curate_documents(documents))


def test_dedup_clusters_prunes_the_cluster_id_window(spark):
    from kgtm.dedup import dedup_clusters

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    clusters = dedup_clusters(pairs, ids)
    assert "Window" in _optimized(clusters)
    assert "Window" not in _optimized(clusters.select("id", "is_survivor"))


def test_curation_runs_the_digest_aggregate_once(spark, documents):
    """One curate_documents(...).collect() runs the exact-dedup digest
    aggregate in exactly one Spark execution: the decision is checkpointed
    once, and the near-dup input, the shingle checkpoint and the ledger all
    read it."""
    from kgtm.curation import curate_documents

    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    seen = {e.executionId() for e in executions()}
    curate_documents(documents).collect()
    digest = re.compile(r"Keys \[\d+\]: \[_dg#")
    plans = [e.physicalPlanDescription() for e in executions() if e.executionId() not in seen]
    assert sum(bool(digest.search(p)) for p in plans) == 1
