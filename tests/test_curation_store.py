"""Corpus curation (kgtm.curation) and its ledger store: drop reasons,
incremental parity with a full run, ledger versions and time travel, delta
appends in derive and state mode, the materialized corpus-state tables and
their upgrade path, compaction, chain-linked resolution, successor claims
and re-curation."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# delta appends and the two corpus modes
# ---------------------------------------------------------------------------


def test_append_is_delta_and_state_backed(spark, documents, tmp_path):
    """The round-3 scale gap, closed: persist_curated_corpus writes the
    snapshot + state once; append_curated_batch then needs NO old_docs, its
    ledger commit holds ONLY the batch's rows (O(batch) write), and the
    resolved read equals a full re-curation."""
    from kgtm.curation import (
        append_curated_batch,
        curate_documents,
        persist_curated_corpus,
        read_ledger,
    )
    from kgtm.materialize import list_commits, read_table

    store = str(tmp_path / "store")
    old = documents.filter(F.col("doc_id") < 200)
    b1 = documents.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 260))
    b2 = documents.filter((F.col("doc_id") >= 260) & (F.col("doc_id") < 300))

    c1 = persist_curated_corpus(old, store, min_quality=0.4, jaccard_threshold=0.5)
    assert c1.get("ledger_kind") == "snapshot"
    # state-backed append: old_docs deliberately omitted
    c2 = append_curated_batch(spark, store, new_docs=b1)
    assert c2["ledger_kind"] == "delta" and c2["base_commit_id"] == c1["commit_id"]
    assert c2["curation_params"] == {"min_quality": 0.4, "jaccard_threshold": 0.5}
    # the delta COMMIT carries only the batch's rows — the O(batch) write
    raw = read_table(spark, store, table="ledger")
    assert raw.filter(F.col("commit") == c2["commit_id"]).count() == 60
    # second chained append, still no old_docs
    c3 = append_curated_batch(spark, store, new_docs=b2)
    assert c3["base_commit_id"] == c2["commit_id"]

    cols = ["doc_id", "quality_score", "kept", "drop_reason"]

    def snap(df):
        return sorted(map(tuple, df.select(*cols).collect()))

    full = curate_documents(
        documents.filter(F.col("doc_id") < 300), min_quality=0.4, jaccard_threshold=0.5
    )
    latest = read_ledger(spark, store)
    assert latest.count() == 300
    # batch decisions equal the full run restricted to the batches (parity
    # contract), old rows immutable
    assert snap(latest.filter(F.col("doc_id") >= 200)) == snap(
        full.filter(F.col("doc_id") >= 200)
    )
    assert snap(read_ledger(spark, store, as_of=c2["seq"])) == snap(
        latest.filter(F.col("doc_id") < 260)
    )
    assert snap(read_ledger(spark, store, as_of=c1["seq"])) == snap(
        latest.filter(F.col("doc_id") < 200)
    )
    # state tables accreted one commit per ledger commit
    st = [c for c in list_commits(store) if c.get("table") == "ledger_digests"]
    assert {c.get("for_ledger_commit") for c in st} == {
        c1["commit_id"],
        c2["commit_id"],
        c3["commit_id"],
    }


def test_append_without_state_needs_old_docs(spark, documents, tmp_path):
    """A plain persist_ledger store has no state: append without old_docs
    raises with the fallback explained; with old_docs it works (derive mode)
    and still commits an O(batch) delta."""
    from kgtm.curation import append_curated_batch, curate_documents, persist_ledger
    from kgtm.materialize import read_table

    store = str(tmp_path / "store")
    old = documents.filter(F.col("doc_id") < 150)
    new = documents.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 190))
    persist_ledger(
        curate_documents(old, min_quality=0.4, jaccard_threshold=0.5),
        store,
        min_quality=0.4,
        jaccard_threshold=0.5,
    )
    with pytest.raises(ValueError, match="no materialized curation state"):
        append_curated_batch(spark, store, new_docs=new)
    c = append_curated_batch(spark, store, old_docs=old, new_docs=new)
    assert c["ledger_kind"] == "delta"
    raw = read_table(spark, store, table="ledger")
    assert raw.filter(F.col("commit") == c["commit_id"]).count() == 40
    # derive-mode single-job guard still enforces the id-set contract
    with pytest.raises(ValueError, match="does not match the base ledger"):
        append_curated_batch(
            spark,
            store,
            old_docs=old.limit(10),
            new_docs=documents.filter(
                (F.col("doc_id") >= 190) & (F.col("doc_id") < 200)
            ),
        )


def test_state_mode_equals_derive_mode_on_planted_corners(spark):
    """incremental_curate(state) == incremental_curate(derive) == full run on
    the corner-case corpus (exact dup of old, transitive near-dup via a
    DROPPED old doc, low quality, new×new exact pair)."""
    from kgtm.curation import (
        CorpusState,
        _state_frames,
        curate_documents,
        incremental_curate,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and the story of the "
        "garden is a long one for all of the people in the world to read"
    )
    g2 = good.replace("fox", "owl").replace("dog", "cat").replace("garden", "harbor")
    planted = spark.createDataFrame(
        [
            (1, good),
            (2, good + " almost"),
            (3, g2),
            (10, good),
            (11, good + " almost ok"),
            (12, g2 + " extra bit"),
            (13, "x!!! ??? ;;; ,,,"),
            (14, good.replace("the", "a certain").replace("people", "birds")),
            (15, good.replace("the", "a certain").replace("people", "birds")),
        ],
        "doc_id long, text string",
    )
    old = planted.filter(F.col("doc_id") < 10)
    new = planted.filter(F.col("doc_id") >= 10)
    old_ledger = curate_documents(old).localCheckpoint(eager=True)
    frames = _state_frames(old, old_ledger, "text", "doc_id")
    corpus = CorpusState(
        digests=frames["ledger_digests"],
        flat=frames["ledger_shingles"],
        shingle_df=frames["ledger_shingle_df"],
        doc_sizes=frames["ledger_doc_sizes"],
        hot=frames["ledger_hot"],
    )

    cols = ["doc_id", "quality_score", "kept", "drop_reason"]

    def snap(df):
        return sorted(map(tuple, df.select(*cols).collect()))

    derive = incremental_curate(old, old_ledger, new)
    # incremental hot set + materialized doc sizes + pruned lookups — the
    # O(batch) read path must not change a decision
    state = incremental_curate(None, old_ledger, new, state=corpus)
    full = curate_documents(planted).filter(F.col("doc_id") >= 10)
    assert snap(derive) == snap(full)
    assert snap(state) == snap(full)
    got = {r[0]: r for r in state.collect()}
    assert got[10][3] == "exact-dup" and got[11][3] == "near-dup"
    assert got[12][3] == "near-dup" and got[13][3] == "low-quality"
    assert got[14][2] and got[15][3] == "exact-dup"


def test_state_v2_hot_crossing_corrections_and_invariant(spark, tmp_path):
    """A shingle crossing the df cap DURING an append exercises the whole v2
    correction machinery: newly-hot detection from stored df contributions,
    owner corrections into ledger_doc_sizes, and the accreting ledger_hot
    set. Three checks: (a) append decisions == full-run parity, (b) the
    stored doc_sizes SUM equals a post-cap recount under the current hot
    set for every participant, (c) the bucketed sb= layout is on disk."""
    import os

    from kgtm.curation import (
        _read_state,
        _resolve_ledger_commits,
        append_curated_batch,
        curate_documents,
        persist_curated_corpus,
        read_ledger,
    )
    from kgtm.dedup import DEFAULT_MAX_SHINGLE_DF

    cap = DEFAULT_MAX_SHINGLE_DF  # 1000
    n_a = cap + 50  # phrase A: hot already at the base snapshot
    n_b_old = cap - 15  # phrase B: 985 old owners ...
    n_batch = 30  # ... + 30 batch owners -> crosses the cap mid-append
    a, b = "alpha beta gamma", "delta epsilon zeta"
    rows = []
    for i in range(n_a):
        has_b = i < n_b_old
        body = f"{a} {b}" if has_b else a
        rows.append((i, f"{body} u{i} v{i} w{i} x{i} y{i}"))
    for j in range(n_batch):
        rows.append((10_000 + j, f"{b} bu{j} bv{j} bw{j} bx{j} by{j}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string").localCheckpoint(
        eager=True
    )
    old = docs.filter(F.col("doc_id") < 10_000)
    batch = docs.filter(F.col("doc_id") >= 10_000)

    store = str(tmp_path / "store")
    persist_curated_corpus(old, store, min_quality=0.0, jaccard_threshold=0.5)
    st0 = _read_state(spark, store, _resolve_ledger_commits(spark, store))
    assert st0.doc_sizes is not None and st0.hot is not None  # v2 tier engaged
    hot0 = st0.hot.count()
    assert hot0 > 0  # phrase-A shingles already hot at the snapshot

    append_curated_batch(spark, store, new_docs=batch)

    # (a) parity with the full run, restricted to the batch
    cols = ["doc_id", "quality_score", "kept", "drop_reason"]
    got = sorted(
        map(tuple, read_ledger(spark, store).filter(F.col("doc_id") >= 10_000)
            .select(*cols).collect())
    )
    want = sorted(
        map(tuple, curate_documents(docs, min_quality=0.0, jaccard_threshold=0.5)
            .filter(F.col("doc_id") >= 10_000).select(*cols).collect())
    )
    assert got == want

    # (b) doc_sizes invariant: SUM of contributions == post-cap recount
    st = _read_state(spark, store, _resolve_ledger_commits(spark, store))
    assert st.hot.count() > hot0  # B-shingles crossed the cap
    sizes = (
        st.doc_sizes.groupBy("id").agg(F.sum("n_sh").alias("stored"))
    )
    recount = (
        st.flat.select("id", "shingle")
        .join(F.broadcast(st.hot.select("shingle").distinct()), "shingle", "left_anti")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("fresh"))
    )
    bad = (
        sizes.join(recount, "id", "full_outer")
        .filter(
            F.coalesce(F.col("stored"), F.lit(0))
            != F.coalesce(F.col("fresh"), F.lit(0))
        )
        .count()
    )
    assert bad == 0

    # (c) bucketed directory layout on disk
    shingle_commits = [
        d for d in os.listdir(f"{store}/ledger_shingles") if d.startswith("commit=")
    ]
    assert shingle_commits
    for d in shingle_commits:
        subdirs = os.listdir(f"{store}/ledger_shingles/{d}")
        assert any(s.startswith("sb=") for s in subdirs), (d, subdirs)


def test_state_refuses_df_cap_drift(spark, documents, tmp_path, monkeypatch):
    """Hot membership and post-cap doc sizes are functions of the df cap the
    writer ran with; a build running a different cap must be refused, not
    silently diverge (the gap shingles would never be re-examined)."""
    import kgtm.dedup as dd
    from kgtm.curation import append_curated_batch, persist_curated_corpus

    store = str(tmp_path / "store")
    persist_curated_corpus(
        documents.filter(F.col("doc_id") < 60), store,
        min_quality=0.4, jaccard_threshold=0.5,
    )
    monkeypatch.setattr(dd, "DEFAULT_MAX_SHINGLE_DF", dd.DEFAULT_MAX_SHINGLE_DF + 1)
    b1 = documents.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 80))
    with pytest.raises(ValueError, match="max_shingle_df"):
        append_curated_batch(spark, store, new_docs=b1)


# ---------------------------------------------------------------------------
# partial state and the upgrade_to_state migration
# ---------------------------------------------------------------------------


def test_upgrade_to_state_backfills_pre_state_store(spark, documents, tmp_path):
    """A store written before state existed (persist_ledger + derive-mode
    delta appends) upgrades via ONE linear derivation pass — no re-curation;
    the chain is compacted first so contributions tag a single snapshot, and
    the next append runs state-backed with no old_docs."""
    from kgtm.curation import (
        append_curated_batch,
        curate_documents,
        persist_ledger,
        read_ledger,
        upgrade_to_state,
    )

    store = str(tmp_path / "store")
    old = documents.filter(F.col("doc_id") < 150)
    b1 = documents.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 180))
    b2 = documents.filter((F.col("doc_id") >= 180) & (F.col("doc_id") < 210))
    persist_ledger(
        curate_documents(old, min_quality=0.4, jaccard_threshold=0.5),
        store,
        min_quality=0.4,
        jaccard_threshold=0.5,
    )
    append_curated_batch(spark, store, old_docs=old, new_docs=b1)  # derive mode

    corpus = documents.filter(F.col("doc_id") < 180)
    with pytest.raises(ValueError, match="ids differ"):
        upgrade_to_state(spark, store, corpus.limit(10))
    target = upgrade_to_state(spark, store, corpus)
    assert target["ledger_kind"] == "snapshot"  # chain was compacted
    # idempotent
    assert upgrade_to_state(spark, store, corpus)["commit_id"] == target["commit_id"]

    c = append_curated_batch(spark, store, new_docs=b2)  # NO old_docs
    assert c["ledger_kind"] == "delta"
    latest = read_ledger(spark, store)
    assert latest.count() == 210
    full = curate_documents(
        documents.filter(F.col("doc_id") < 210), min_quality=0.4, jaccard_threshold=0.5
    )
    cols = ["doc_id", "quality_score", "kept", "drop_reason"]
    got = sorted(map(tuple, latest.filter(F.col("doc_id") >= 180).select(*cols).collect()))
    want = sorted(map(tuple, full.filter(F.col("doc_id") >= 180).select(*cols).collect()))
    assert got == want


def test_v1_store_upgrades_to_v2(spark, documents, tmp_path):
    """A round-4 store (three of the five state tables, unbucketed) reads
    as NO state: an append needs old_docs (derive mode) or raises naming
    upgrade_to_state. upgrade_to_state rewrites all five tables bucketed,
    replacing the unbucketed commits, and the next append runs in state
    mode with full-run parity."""
    from kgtm.curation import (
        STATE_TABLES,
        _live_state_commits,
        _read_state,
        _resolve_ledger_commits,
        _state_frames,
        _write_state,
        append_curated_batch,
        curate_documents,
        persist_ledger,
        read_ledger,
        upgrade_to_state,
    )
    from kgtm.materialize import list_commits

    store = str(tmp_path / "store")
    old = documents.filter(F.col("doc_id") < 120).localCheckpoint(eager=True)
    ledger = curate_documents(old, min_quality=0.4).localCheckpoint(eager=True)
    c = persist_ledger(ledger, store, min_quality=0.4, jaccard_threshold=0.5)
    frames = _state_frames(old, ledger, "text", "doc_id")
    _write_state(
        {t: frames[t] for t in STATE_TABLES[:3]},
        store,
        c["commit_id"],
        n_buckets=None,  # round-4 layout: unbucketed, core tables only
    )

    assert _read_state(spark, store, _resolve_ledger_commits(spark, store)) is None
    b1 = documents.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 140))
    with pytest.raises(ValueError, match="upgrade_to_state"):
        append_curated_batch(spark, store, new_docs=b1)
    append_curated_batch(spark, store, old_docs=old, new_docs=b1)  # derive mode
    assert read_ledger(spark, store).count() == 140
    assert _read_state(spark, store, _resolve_ledger_commits(spark, store)) is None

    all_docs = old.unionByName(b1)
    target = upgrade_to_state(spark, store, all_docs)
    st = _read_state(spark, store, _resolve_ledger_commits(spark, store))
    assert st is not None
    assert st.n_buckets is not None  # bucketed layout after the rewrite
    # every live state commit belongs to the upgraded snapshot: the round-4
    # commits, tagged to a chain the compaction replaced, are replaced too
    live = _live_state_commits(list_commits(store, spark), STATE_TABLES)
    for table, cs in live.items():
        assert {sc["for_ledger_commit"] for sc in cs} == {target["commit_id"]}, table

    b2 = documents.filter((F.col("doc_id") >= 140) & (F.col("doc_id") < 160))
    append_curated_batch(spark, store, new_docs=b2)  # state mode, no old_docs
    assert read_ledger(spark, store).count() == 160
    # parity of the state-mode append against the full run on the combined corpus
    cols = ["doc_id", "quality_score", "kept", "drop_reason"]
    got = sorted(
        map(tuple, read_ledger(spark, store).filter(F.col("doc_id") >= 140)
            .select(*cols).collect())
    )
    want = sorted(
        map(
            tuple,
            curate_documents(
                documents.filter(F.col("doc_id") < 160), min_quality=0.4
            ).filter(F.col("doc_id") >= 140).select(*cols).collect(),
        )
    )
    assert got == want


def test_append_after_crashed_state_write_needs_upgrade(
    spark, documents, tmp_path, monkeypatch
):
    """A writer that crashes part-way through a delta's state write (after
    ledger_shingle_df, before ledger_doc_sizes) leaves the delta committed
    and its state incomplete. The next append without old_docs must raise,
    naming upgrade_to_state, instead of running on the three tables that
    did land; upgrade_to_state then restores state mode with parity."""
    import kgtm.materialize as mat
    from kgtm.curation import (
        append_curated_batch,
        curate_documents,
        persist_curated_corpus,
        read_ledger,
        upgrade_to_state,
    )

    store = str(tmp_path / "store")
    persist_curated_corpus(
        documents.filter(F.col("doc_id") < 120), store,
        min_quality=0.4, jaccard_threshold=0.5,
    )
    real_write = mat.write_table

    class _Crash(Exception):
        pass

    def crashing_write(df, out_dir, table="triples", **kw):
        if table == "ledger_doc_sizes":
            raise _Crash("writer died mid state write")
        return real_write(df, out_dir, table=table, **kw)

    b1 = documents.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 140))
    monkeypatch.setattr(mat, "write_table", crashing_write)
    with pytest.raises(_Crash):
        append_curated_batch(spark, store, new_docs=b1)
    monkeypatch.setattr(mat, "write_table", real_write)
    assert read_ledger(spark, store).count() == 140  # the delta landed

    b2 = documents.filter((F.col("doc_id") >= 140) & (F.col("doc_id") < 160))
    with pytest.raises(ValueError, match="upgrade_to_state"):
        append_curated_batch(spark, store, new_docs=b2)

    upgrade_to_state(spark, store, documents.filter(F.col("doc_id") < 140))
    append_curated_batch(spark, store, new_docs=b2)
    cols = ["doc_id", "quality_score", "kept", "drop_reason"]
    got = sorted(
        map(tuple, read_ledger(spark, store).filter(F.col("doc_id") >= 120)
            .select(*cols).collect())
    )
    want = sorted(
        map(
            tuple,
            curate_documents(
                documents.filter(F.col("doc_id") < 160),
                min_quality=0.4, jaccard_threshold=0.5,
            ).filter(F.col("doc_id") >= 120).select(*cols).collect(),
        )
    )
    assert got == want


# ---------------------------------------------------------------------------
# compaction
# ---------------------------------------------------------------------------


def test_compact_ledger_folds_chain_and_state(spark, documents, tmp_path):
    """compact_ledger folds snapshot+deltas into one snapshot (params carried
    forward), pre-compaction as_of still resolves the chain, appends keep
    working off the compacted base, and expire_replaced reclaims inputs."""
    from kgtm.curation import (
        append_curated_batch,
        compact_ledger,
        persist_curated_corpus,
        read_ledger,
    )
    from kgtm.materialize import expire_replaced, list_commits

    store = str(tmp_path / "store")
    old = documents.filter(F.col("doc_id") < 150)
    b1 = documents.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 200))
    b2 = documents.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 240))
    persist_curated_corpus(old, store, min_quality=0.4, jaccard_threshold=0.5)
    c2 = append_curated_batch(spark, store, new_docs=b1)

    cols = ["doc_id", "quality_score", "kept", "drop_reason"]

    def snap(df):
        return sorted(map(tuple, df.select(*cols).collect()))

    before = snap(read_ledger(spark, store))
    comp = compact_ledger(spark, store)
    assert comp["ledger_kind"] == "snapshot" and len(comp["replaces"]) == 2
    assert comp["curation_params"] == {"min_quality": 0.4, "jaccard_threshold": 0.5}
    assert snap(read_ledger(spark, store)) == before
    # pre-compaction as_of resolves the ORIGINAL chain (time travel survives)
    assert snap(read_ledger(spark, store, as_of=c2["seq"])) == before
    # the compacted snapshot still carries state: next append stays state-backed
    c3 = append_curated_batch(spark, store, new_docs=b2)
    assert c3["base_commit_id"] == comp["commit_id"]
    assert read_ledger(spark, store).count() == 240
    victims = expire_replaced(store)
    assert {v["commit_id"] for v in victims} >= {c2["commit_id"]}
    assert read_ledger(spark, store).count() == 240
    # a single-snapshot store refuses (nothing to fold)
    compact_ledger(spark, store)  # folds comp + c3
    with pytest.raises(ValueError, match="nothing to compact"):
        compact_ledger(spark, store)


def test_compact_ledger_detects_concurrent_append(spark, documents, tmp_path, monkeypatch):
    """A delta landing between compact_ledger's chain resolution and its
    commit would be permanently hidden (seq below the compacted snapshot,
    absent from replaces) — the late re-check must refuse instead. Injected
    via the _read_state seam, which runs after resolution and before the
    commit."""
    import kgtm.curation as cur

    store = str(tmp_path / "store")
    old = documents.filter(F.col("doc_id") < 120)
    b1 = documents.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 140))
    b2 = documents.filter((F.col("doc_id") >= 140) & (F.col("doc_id") < 160))
    cur.persist_curated_corpus(old, store, min_quality=0.4, jaccard_threshold=0.5)
    cur.append_curated_batch(spark, store, new_docs=b1)

    real_read_state = cur._read_state
    fired = {"done": False}

    def sneaky(sp, od, resolved):
        out = real_read_state(sp, od, resolved)
        if not fired["done"]:
            fired["done"] = True
            cur.append_curated_batch(sp, od, new_docs=b2)  # the racing writer
        return out

    monkeypatch.setattr(cur, "_read_state", sneaky)
    with pytest.raises(RuntimeError, match="concurrent ledger commit"):
        cur.compact_ledger(spark, store)
    monkeypatch.setattr(cur, "_read_state", real_read_state)
    # nothing was hidden: all three versions' rows resolve, and the fold
    # now succeeds over the full chain
    assert cur.read_ledger(spark, store).count() == 160
    cur.compact_ledger(spark, store)
    assert cur.read_ledger(spark, store).count() == 160


def test_compact_table_refuses_ledger_tables(spark, documents, tmp_path):
    """The generic union-compaction would duplicate doc_ids across snapshot
    commits and drop curation_params — it must refuse and point at
    compact_ledger (ADVICE round-3 medium)."""
    from kgtm.curation import curate_documents, persist_ledger
    from kgtm.materialize import compact_table

    store = str(tmp_path / "store")
    docs = documents.filter(F.col("doc_id") < 100)
    persist_ledger(curate_documents(docs), store, min_quality=0.45)
    persist_ledger(curate_documents(docs, min_quality=0.99), store, min_quality=0.99)
    with pytest.raises(ValueError, match="compact_ledger"):
        compact_table(spark, store, table="ledger")


def test_append_auto_compacts_at_max_deltas(spark, documents, tmp_path):
    """max_deltas=2: the append that brings the chain to 2 deltas folds it
    back into one snapshot; decisions and threshold resolution survive."""
    from kgtm.curation import (
        _resolve_ledger_commits,
        append_curated_batch,
        persist_curated_corpus,
        read_ledger,
    )

    store = str(tmp_path / "store")
    old = documents.filter(F.col("doc_id") < 100)
    persist_curated_corpus(old, store, min_quality=0.4, jaccard_threshold=0.5)
    b1 = documents.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
    b2 = documents.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 140))
    b3 = documents.filter((F.col("doc_id") >= 140) & (F.col("doc_id") < 160))

    append_curated_batch(spark, store, new_docs=b1, max_deltas=2)
    chain = _resolve_ledger_commits(spark, store)
    assert [c.get("ledger_kind") for c in chain] == ["snapshot", "delta"]

    append_curated_batch(spark, store, new_docs=b2, max_deltas=2)
    chain = _resolve_ledger_commits(spark, store)
    assert [c.get("ledger_kind") for c in chain] == ["snapshot"]  # folded
    assert chain[0].get("curation_params", {}).get("min_quality") == 0.4
    assert read_ledger(spark, store).count() == 140

    # appends keep working from the compacted snapshot (params recorded)
    append_curated_batch(spark, store, new_docs=b3, max_deltas=2)
    assert read_ledger(spark, store).count() == 160


def test_append_auto_compaction_is_best_effort(spark, documents, tmp_path, monkeypatch):
    """Auto-compaction losing its successor claim (or finding nothing to
    compact after a racing writer) must NOT make the caller believe the
    already-committed append failed — a retry would double-ingest."""
    import kgtm.curation as cur

    store = str(tmp_path / "store")
    old = documents.filter(F.col("doc_id") < 100)
    cur.persist_curated_corpus(old, store, min_quality=0.4, jaccard_threshold=0.5)

    class _ExecutorLost(Exception):
        """Stands in for Py4JJavaError/AnalysisException — the catch must be
        Exception-wide, not a curated (RuntimeError, ValueError) subset."""

    def losing_compact(*a, **k):
        raise _ExecutorLost("executor lost during checkpoint")

    monkeypatch.setattr(cur, "compact_ledger", losing_compact)
    b1 = documents.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
    with pytest.warns(RuntimeWarning, match="auto-compaction failed"):
        c = cur.append_curated_batch(spark, store, new_docs=b1, max_deltas=1)
    assert c["seq"]  # the append's own commit is returned, not an exception
    assert cur.read_ledger(spark, store).count() == 120  # and it landed


# ---------------------------------------------------------------------------
# chain resolution, orphans and out-of-band damage
# ---------------------------------------------------------------------------


def test_read_ledger_raises_on_missing_delta_dir(spark, documents, tmp_path):
    """An out-of-band-deleted delta data dir (manifest left behind) must
    raise, not silently drop that batch's rows from read_ledger."""
    from kgtm.curation import (
        append_curated_batch,
        persist_curated_corpus,
        read_ledger,
    )

    store = str(tmp_path / "store")
    old = documents.filter(F.col("doc_id") < 120)
    batch = documents.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 150))
    persist_curated_corpus(old, store, min_quality=0.4, jaccard_threshold=0.5)
    delta = append_curated_batch(spark, store, new_docs=batch)
    assert read_ledger(spark, store).count() == 150

    shutil.rmtree(f"{store}/ledger/commit={delta['commit_id']}")
    with pytest.raises(FileNotFoundError, match="out-of-band"):
        read_ledger(spark, store).count()


def test_orphaned_delta_is_invisible_and_never_a_base(spark, documents, tmp_path):
    """A delta whose base_seq does not link to the chain head (a writer that
    slipped past the claim) is structurally invisible to read_ledger, and
    the next append bases itself on the chain head, not the orphan."""
    from kgtm.curation import (
        _resolve_ledger_commits,
        append_curated_batch,
        curate_documents,
        persist_curated_corpus,
        read_ledger,
    )
    from kgtm.curation import _commit_ledger_rows

    store = str(tmp_path / "store")
    old = documents.filter(F.col("doc_id") < 100)
    persist_curated_corpus(old, store, min_quality=0.4, jaccard_threshold=0.5)
    b1 = documents.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
    d1 = append_curated_batch(spark, store, new_docs=b1)

    # forge an orphan: a delta claiming a base_seq BELOW the chain head
    orphan_rows = curate_documents(
        documents.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 130))
    )
    _commit_ledger_rows(
        orphan_rows,
        store,
        kind="delta",
        curation_params={"min_quality": 0.4, "jaccard_threshold": 0.5},
        extra={"base_seq": d1["base_seq"], "base_commit_id": "stale"},
    )
    assert read_ledger(spark, store).count() == 120  # orphan invisible
    chain = _resolve_ledger_commits(spark, store)
    assert chain[-1]["commit_id"] == d1["commit_id"]

    # next append chains onto d1, not the orphan
    b3 = documents.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 170))
    d3 = append_curated_batch(spark, store, new_docs=b3)
    assert d3["base_commit_id"] == d1["commit_id"]
    assert read_ledger(spark, store).count() == 140


def test_orphaned_ledger_deltas_audit(spark, documents, tmp_path):
    """Chain-linked resolution silently skips a delta whose base_seq no
    longer matches (by design — mis-folding would be worse), so there must
    be an operational audit surface: orphaned_ledger_deltas returns exactly
    the skipped deltas, and an intact chain returns none."""
    import json as _json
    from pathlib import Path as P

    from kgtm.curation import (
        append_curated_batch,
        orphaned_ledger_deltas,
        persist_curated_corpus,
        read_ledger,
    )

    store = str(tmp_path / "store")
    persist_curated_corpus(
        documents.filter(F.col("doc_id") < 80), store,
        min_quality=0.4, jaccard_threshold=0.5,
    )
    d1 = append_curated_batch(
        spark, store,
        new_docs=documents.filter(
            (F.col("doc_id") >= 80) & (F.col("doc_id") < 100)
        ),
    )
    d2 = append_curated_batch(
        spark, store,
        new_docs=documents.filter(
            (F.col("doc_id") >= 100) & (F.col("doc_id") < 120)
        ),
    )
    assert orphaned_ledger_deltas(spark, store) == []
    assert read_ledger(spark, store).count() == 120

    # simulate the overwrite-rename race: d2's recorded base is stale.
    # The rewrite is out-of-band, so Hadoop's checksum sidecar must go too —
    # LocalFileSystem is a ChecksumFileSystem, and a stale .crc makes
    # list_commits treat the manifest as corrupt (skipped entirely), which
    # would test nothing.
    mpath = P(store) / "_commits" / f"{d2['seq']:010d}.json"
    m = _json.loads(mpath.read_text())
    assert m["commit_id"] == d2["commit_id"]
    m["base_seq"] = d1["base_seq"]  # points at the snapshot, not d1
    mpath.write_text(_json.dumps(m))
    (mpath.parent / f".{mpath.name}.crc").unlink(missing_ok=True)

    orphans = orphaned_ledger_deltas(spark, store)
    assert [o["commit_id"] for o in orphans] == [d2["commit_id"]]
    # the read drops exactly the orphan's batch, nothing else
    assert read_ledger(spark, store).count() == 100


def test_expire_refuses_stranding_live_state(spark, documents, tmp_path):
    """A live state commit backing a LIVE ledger commit must not be expired
    (the store would silently demote to derive mode); a state commit backing
    a dead/unknown ledger commit expires fine."""
    from kgtm.materialize import expire_commits, write_table

    store = str(tmp_path / "store")
    df = documents.limit(5)
    led = write_table(
        df.select("doc_id"),
        store,
        table="ledger",
        partition_by=(),
        extra_manifest={"ledger_kind": "snapshot"},
    )
    # two state commits on one table: the OLDER one backs the live ledger
    # commit (would strand), the newer backs an unknown/dead commit id
    write_table(
        df.select("doc_id"),
        store,
        table="ledger_digests",
        partition_by=(),
        extra_manifest={
            "ledger_kind": "state",
            "for_ledger_commit": led["commit_id"],
        },
    )
    write_table(
        df.select("doc_id"),
        store,
        table="ledger_digests",
        partition_by=(),
        extra_manifest={"ledger_kind": "state", "for_ledger_commit": "deadbeef"},
    )
    with pytest.raises(ValueError, match="derive mode"):
        expire_commits(store, keep_last=1)

    # flip the order: now the victim backs the dead commit — expiry proceeds
    store2 = str(tmp_path / "store2")
    led2 = write_table(
        df.select("doc_id"),
        store2,
        table="ledger",
        partition_by=(),
        extra_manifest={"ledger_kind": "snapshot"},
    )
    write_table(
        df.select("doc_id"),
        store2,
        table="ledger_digests",
        partition_by=(),
        extra_manifest={"ledger_kind": "state", "for_ledger_commit": "deadbeef"},
    )
    write_table(
        df.select("doc_id"),
        store2,
        table="ledger_digests",
        partition_by=(),
        extra_manifest={
            "ledger_kind": "state",
            "for_ledger_commit": led2["commit_id"],
        },
    )
    victims = expire_commits(store2, keep_last=1)
    assert any(c.get("for_ledger_commit") == "deadbeef" for c in victims)


# ---------------------------------------------------------------------------
# successor claims and re-curation
# ---------------------------------------------------------------------------


def test_release_stale_ledger_claims(spark, documents, tmp_path):
    """A crashed winner's claim blocks appends from that base until released;
    fulfilled claims are never released."""
    from kgtm.curation import (
        _resolve_ledger_commits,
        append_curated_batch,
        persist_curated_corpus,
        read_ledger,
        release_stale_ledger_claims,
    )
    from kgtm.materialize import claim_marker, list_claim_markers

    store = str(tmp_path / "store")
    old = documents.filter(F.col("doc_id") < 100)
    persist_curated_corpus(old, store, min_quality=0.4, jaccard_threshold=0.5)
    b1 = documents.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
    d1 = append_curated_batch(spark, store, new_docs=b1)
    # d1's claim is fulfilled — never released, even with min_age_ms=0
    assert release_stale_ledger_claims(spark, store, min_age_ms=0) == []

    # simulate a crashed winner: claim the current head's successor marker
    head = _resolve_ledger_commits(spark, store)[-1]
    assert claim_marker(spark, store, f"ledger-succ-{head['commit_id']}", {"op": "append"})
    b2 = documents.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 140))
    with pytest.raises(RuntimeError, match="successor claim"):
        append_curated_batch(spark, store, new_docs=b2)

    # age-gated release: too young → kept; old enough → released
    assert release_stale_ledger_claims(spark, store, min_age_ms=3600 * 1000) == []
    released = release_stale_ledger_claims(spark, store, min_age_ms=0)
    assert released == [f"ledger-succ-{head['commit_id']}"]
    assert f"ledger-succ-{head['commit_id']}" not in list_claim_markers(store, spark)

    append_curated_batch(spark, store, new_docs=b2)
    assert read_ledger(spark, store).count() == 140


def test_release_skips_unreadable_claims(spark, documents, tmp_path):
    """An unreadable/corrupt claim payload must be SKIPPED by the stale-claim
    sweep, never treated as infinitely old — releasing a fresh claim held by
    a live writer re-opens the double-append race the CAS closes."""
    from pathlib import Path as P

    from kgtm.curation import persist_curated_corpus, release_stale_ledger_claims
    from kgtm.materialize import list_claim_markers

    store = str(tmp_path / "store")
    persist_curated_corpus(
        documents.filter(F.col("doc_id") < 60), store,
        min_quality=0.4, jaccard_threshold=0.5,
    )
    corrupt = P(store) / "_commits" / ".claim-ledger-succ-deadbeef.json"
    corrupt.write_bytes(b"{not json")
    # unfulfilled base + min_age_ms=0 would release any readable stale claim;
    # the unreadable one must survive every sweep
    assert release_stale_ledger_claims(spark, store, min_age_ms=0) == []
    assert corrupt.exists()
    assert list_claim_markers(store, spark).get("ledger-succ-deadbeef") == {}


def test_recuration_snapshot_serializes_with_appends(spark, documents, tmp_path):
    """A full RE-curation snapshot on a chained store competes for the same
    ``ledger-succ-{head}`` claim as appends/compactions: it refuses while an
    in-flight append holds the head's claim (no silently orphaned delta),
    lands with ``base_commit_id`` once the claim is free (so the claim reads
    as fulfilled and is never stale-released), and supersedes the old chain.
    The FIRST snapshot into an empty store takes no claim."""
    from kgtm.curation import (
        _resolve_ledger_commits,
        append_curated_batch,
        curate_documents,
        persist_curated_corpus,
        persist_ledger,
        read_ledger,
        release_stale_ledger_claims,
    )
    from kgtm.materialize import (
        claim_marker,
        delete_claim_marker,
        list_claim_markers,
    )

    store = str(tmp_path / "store")
    old = documents.filter(F.col("doc_id") < 100)
    persist_curated_corpus(old, store, min_quality=0.4, jaccard_threshold=0.5)
    # first snapshot: empty store at commit time → no successor claim taken
    assert list_claim_markers(store, spark) == {}

    b1 = documents.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
    append_curated_batch(spark, store, new_docs=b1)
    head = _resolve_ledger_commits(spark, store)[-1]

    # an in-flight append holds the head's successor claim: the re-curation
    # must refuse instead of landing a snapshot that orphans the delta
    assert claim_marker(
        spark, store, f"ledger-succ-{head['commit_id']}", {"op": "append"}
    )
    full = documents.filter(F.col("doc_id") < 120)
    releg = curate_documents(full, min_quality=0.99).localCheckpoint(eager=True)
    with pytest.raises(RuntimeError, match="successor claim"):
        persist_ledger(releg, store, min_quality=0.99, jaccard_threshold=0.5)
    delete_claim_marker(store, f"ledger-succ-{head['commit_id']}", spark)

    # claim free → the re-curation lands as the head's sole successor
    # (persist_curated_corpus = the full re-curation path: ledger snapshot
    # through the SAME persist_ledger claim + fresh state tables, so later
    # appends keep running in state mode)
    c = persist_curated_corpus(
        full, store, min_quality=0.99, jaccard_threshold=0.5
    )
    chain = _resolve_ledger_commits(spark, store)
    assert [x["commit_id"] for x in chain] == [c["commit_id"]]
    assert c["base_commit_id"] == head["commit_id"]
    # fulfilled claim: never stale-released, and a THIRD writer from the old
    # head loses the CAS outright
    assert release_stale_ledger_claims(spark, store, min_age_ms=0) == []
    assert not claim_marker(
        spark, store, f"ledger-succ-{head['commit_id']}", {"op": "append"}
    )

    # the snapshot is the full decision set under its own params
    led = read_ledger(spark, store)
    assert led.count() == 120
    twin = curate_documents(full, min_quality=0.99)
    cols = sorted(twin.columns)
    led, twin = led.select(*cols), twin.select(*cols)
    assert (
        led.exceptAll(twin).count() == 0 and twin.exceptAll(led).count() == 0
    )

    # life goes on: the next append bases on the re-curation snapshot
    b2 = documents.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 140))
    d2 = append_curated_batch(spark, store, new_docs=b2, min_quality=0.99)
    assert d2["base_commit_id"] == c["commit_id"]
    assert read_ledger(spark, store).count() == 140


def test_recuration_over_unbucketed_store_replaces_state(spark, documents, tmp_path):
    """RE-curation over a pre-round-5 store (unbucketed v1 state) must mark
    the old state commits replaced: read_table passes every live commit dir
    of a table to ONE parquet() call, and partition discovery refuses mixed
    sb=/flat layouts — without the replaces, the next append hard-fails on
    an AnalysisException instead of reading state."""
    from kgtm.curation import (
        STATE_TABLES,
        _read_state,
        _resolve_ledger_commits,
        _state_frames,
        _write_state,
        append_curated_batch,
        curate_documents,
        persist_curated_corpus,
        persist_ledger,
        read_ledger,
    )

    store = str(tmp_path / "store")
    old = documents.filter(F.col("doc_id") < 120).localCheckpoint(eager=True)
    ledger = curate_documents(old, min_quality=0.4).localCheckpoint(eager=True)
    c = persist_ledger(ledger, store, min_quality=0.4, jaccard_threshold=0.5)
    frames = _state_frames(old, ledger, "text", "doc_id")
    _write_state(
        {t: frames[t] for t in STATE_TABLES[:3]},
        store,
        c["commit_id"],
        n_buckets=None,  # round-4 layout: unbucketed, core tables only
    )

    # re-curation writes the round-5 bucketed layout beside the old dirs
    persist_curated_corpus(old, store, min_quality=0.4, jaccard_threshold=0.5)

    # the state read must see ONLY the new commits (old ones replaced),
    # and the subsequent append must run the state path, not crash
    st = _read_state(spark, store, _resolve_ledger_commits(spark, store))
    assert st is not None and st.n_buckets is not None and st.doc_sizes is not None

    b1 = documents.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 140))
    append_curated_batch(spark, store, new_docs=b1)
    assert read_ledger(spark, store).count() == 140


def test_recuration_replaces_state_landed_during_curation(
    spark, documents, tmp_path, monkeypatch
):
    """An append landing INSIDE the re-curation's (potentially hours-long)
    curate_documents window must still get its now-superseded state commits
    marked replaced — the replaces map is derived from a post-commit listing
    keyed off the live chain, not a pre-curation snapshot of the listing
    (which would miss the racing append's commits forever)."""
    import kgtm.curation as cur
    from kgtm.materialize import list_commits

    store = str(tmp_path / "store")
    cur.persist_curated_corpus(
        documents.filter(F.col("doc_id") < 100), store,
        min_quality=0.4, jaccard_threshold=0.5,
    )

    real = cur.curate_documents
    b1 = (
        documents.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
        .localCheckpoint(eager=True)
    )
    fired = []

    def racing(docs_arg, **kw):
        if not fired:
            fired.append(True)
            # lands a delta + its state contributions mid-curation
            cur.append_curated_batch(spark, store, new_docs=b1)
        return real(docs_arg, **kw)

    monkeypatch.setattr(cur, "curate_documents", racing)
    full = documents.filter(F.col("doc_id") < 120)
    c2 = cur.persist_curated_corpus(
        full, store, min_quality=0.4, jaccard_threshold=0.5
    )
    assert fired  # the race actually happened

    # every live state commit is tagged to the re-curation snapshot — the
    # racing delta's contributions (and the old snapshot's) are replaced
    live = cur._live_state_commits(list_commits(store, spark), cur.STATE_TABLES)
    for table, cs in live.items():
        assert {sc["for_ledger_commit"] for sc in cs} == {c2["commit_id"]}, table

    # and the store keeps working on the state path
    b2 = documents.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 140))
    cur.append_curated_batch(spark, store, new_docs=b2)
    assert cur.read_ledger(spark, store).count() == 140


# ---------------------------------------------------------------------------
# curation decisions, incremental parity and ledger versions
# ---------------------------------------------------------------------------


def test_corpus_curation_all_drop_reasons(spark):
    """Every document lands in exactly one bucket; all three drop reasons
    fire; survivor picks are min-doc_id at both dedup stages."""
    from kgtm.curation import curate_documents

    good = (
        "the quick brown fox jumps over the lazy dog and the story of the "
        "garden is a long one for all of the people in the world to read"
    )
    docs = spark.createDataFrame(
        [
            (1, good),                      # kept (cluster survivor)
            (2, good),                      # exact dup of 1 → exact-dup
            (3, good + " almost"),          # near-dup of 1 → near-dup
            (4, "x!!! ??? ;;; ,,,"),        # punctuation soup → low-quality
            (5, good.replace("fox", "owl").replace("dog", "cat").replace("garden", "harbor").replace("story", "report").replace("read", "hear")),  # kept
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in curate_documents(docs, min_quality=0.45, jaccard_threshold=0.5).collect()}
    assert len(out) == 5
    assert out[1].kept and out[1].drop_reason is None
    assert not out[2].kept and out[2].drop_reason == "exact-dup"
    assert not out[3].kept and out[3].drop_reason == "near-dup"
    assert not out[4].kept and out[4].drop_reason == "low-quality"
    assert out[5].kept


def test_incremental_curate_equals_full_run(spark, documents):
    """Append-only batch curation: new-doc decisions from incremental_curate
    must equal a full curate_documents over old∪new, row for row — on the
    real sf corpus split at an id boundary, and including exact-dup-vs-old,
    near-dup-vs-old, transitive-via-dropped-old, and all-new-cluster cases."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from kgtm.curation import curate_documents, incremental_curate

    cols = ["doc_id", "quality_score", "kept", "drop_reason"]

    def check(all_docs, split):
        old = all_docs.filter(F.col("doc_id") < split)
        new = all_docs.filter(F.col("doc_id") >= split)
        old_ledger = curate_documents(old, min_quality=0.45, jaccard_threshold=0.5)
        inc = incremental_curate(old, old_ledger, new)
        full = curate_documents(all_docs, min_quality=0.45, jaccard_threshold=0.5)
        got = sorted(map(tuple, inc.select(*cols).collect()))
        want = sorted(
            map(tuple, full.filter(F.col("doc_id") >= split).select(*cols).collect())
        )
        assert got == want
        return {r[0]: r for r in got}

    # real corpus, split at the 60% boundary (id filter, not limit(): an
    # unordered limit can pick different rows in each of the four plans)
    docs = documents.filter(F.col("doc_id") < 300)
    check(docs, 180)

    # planted corner cases
    good = (
        "the quick brown fox jumps over the lazy dog and the story of the "
        "garden is a long one for all of the people in the world to read"
    )
    g2 = good.replace("fox", "owl").replace("dog", "cat").replace("garden", "harbor")
    planted = spark.createDataFrame(
        [
            (1, good),                 # old survivor
            (2, good + " almost"),     # old near-dup of 1 (dropped)
            (3, g2),                   # old survivor, distinct cluster
            (10, good),                # new: exact dup of old survivor
            (11, good + " almost ok"), # new: near-dup ONLY of dropped old 2
                                       #      (transitive into 1's cluster)
            (12, g2 + " extra bit"),   # new: near-dup of old survivor 3
            (13, "x!!! ??? ;;; ,,,"),  # new: low quality
            (14, good.replace("the", "a certain").replace("people", "birds")),
            (15, good.replace("the", "a certain").replace("people", "birds")),
                                       # new×new exact pair: 14 keeps, 15 drops
        ],
        "doc_id long, text string",
    )
    got = check(planted, 10)
    assert not got[10][2] and got[10][3] == "exact-dup"
    assert not got[11][2] and got[11][3] == "near-dup"
    assert not got[12][2] and got[12][3] == "near-dup"
    assert not got[13][2] and got[13][3] == "low-quality"
    assert got[14][2] and not got[15][2] and got[15][3] == "exact-dup"

    # the monotone-id guard (the parity proof's precondition) fires loudly
    old = planted.filter(F.col("doc_id") >= 10)
    new = planted.filter(F.col("doc_id") < 10)
    with _pytest.raises(ValueError, match="monotone"):
        incremental_curate(old, curate_documents(old), new)

    # parameter-drift guard: a ledger built under a different min_quality
    # disagrees with the new threshold on its own recorded scores → raises
    old2 = planted.filter(F.col("doc_id") < 10)
    stale = curate_documents(old2, min_quality=0.45)
    with _pytest.raises(ValueError, match="different threshold"):
        incremental_curate(
            old2, stale, planted.filter(F.col("doc_id") >= 10), min_quality=0.99
        )


def test_append_curated_batch_versions_the_corpus(spark, documents, tmp_path):
    """Store-integrated incremental ingest: batch 2 appends a new ledger
    version whose decisions equal a full re-curation for the batch rows and
    keep the old rows immutable; thresholds come from the previous commit's
    manifest (no drift), and as_of still reads version 1."""
    from kgtm.curation import (
        append_curated_batch,
        curate_documents,
        persist_ledger,
        read_ledger,
    )

    store = str(tmp_path / "store")
    old = documents.filter(F.col("doc_id") < 200)
    new = documents.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 260))
    c1 = persist_ledger(
        curate_documents(old, min_quality=0.4, jaccard_threshold=0.5),
        store,
        min_quality=0.4,
        jaccard_threshold=0.5,
    )
    # NOTE: no thresholds passed — they must be read from c1's manifest
    c2 = append_curated_batch(spark, store, old, new)
    assert c2["curation_params"] == {"min_quality": 0.4, "jaccard_threshold": 0.5}

    cols = ["doc_id", "quality_score", "kept", "drop_reason"]
    latest = read_ledger(spark, store)
    assert latest.count() == 260
    full = curate_documents(
        documents.filter(F.col("doc_id") < 260), min_quality=0.4, jaccard_threshold=0.5
    )
    got_new = sorted(
        map(tuple, latest.filter(F.col("doc_id") >= 200).select(*cols).collect())
    )
    want_new = sorted(
        map(tuple, full.filter(F.col("doc_id") >= 200).select(*cols).collect())
    )
    assert got_new == want_new
    # old rows immutable; version 1 still readable as-of
    v1 = sorted(map(tuple, read_ledger(spark, store, as_of=c1["seq"]).select(*cols).collect()))
    assert v1 == sorted(
        map(tuple, latest.filter(F.col("doc_id") < 200).select(*cols).collect())
    )

    # guard: old_docs must be exactly the base corpus (a shrunken corpus
    # would silently keep batch docs duplicating the missing ones)
    more = documents.filter((F.col("doc_id") >= 260) & (F.col("doc_id") < 280))
    with pytest.raises(ValueError, match="does not match the base ledger"):
        append_curated_batch(spark, store, old.limit(10), more)

    # guard: unrecorded thresholds refuse to guess defaults
    store2 = str(tmp_path / "store2")
    persist_ledger(curate_documents(old), store2)  # no params recorded
    with pytest.raises(ValueError, match="refusing to guess"):
        append_curated_batch(spark, store2, old, new)


def test_curation_ledger_time_travel(spark, documents, tmp_path):
    """Corpus versions time-travel through the commit store: each curation
    run is one snapshot commit; read_ledger(as_of=seq) reproduces that run's
    decision set exactly, and the latest read returns the newest run."""
    from kgtm.curation import curate_documents, persist_ledger, read_ledger

    docs = documents.filter(F.col("doc_id") < 200)
    store = str(tmp_path / "store")
    l1 = curate_documents(docs, min_quality=0.45, jaccard_threshold=0.5)
    c1 = persist_ledger(l1, store, min_quality=0.45, jaccard_threshold=0.5)
    l2 = curate_documents(docs, min_quality=0.99)  # stricter: everything drops
    c2 = persist_ledger(l2, store, min_quality=0.99)
    assert c2["seq"] > c1["seq"]
    assert c2["curation_params"]["min_quality"] == 0.99

    cols = ["doc_id", "quality_score", "kept", "drop_reason"]

    def snap(df):
        return sorted(map(tuple, df.select(*cols).collect()))

    assert snap(read_ledger(spark, store, as_of=c1["seq"])) == snap(l1)
    assert snap(read_ledger(spark, store)) == snap(l2)
    # the two versions genuinely differ (else time travel proves nothing)
    assert snap(l1) != snap(l2)
    # ledger commits are invisible to the triples table and vice versa
    import pytest as _pytest

    from kgtm.materialize import read_table

    with _pytest.raises(FileNotFoundError):
        read_table(spark, store, table="triples")
