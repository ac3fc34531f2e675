"""Round-5 coverage: concurrent CAS-guarded appends, decontamination
strategy parity, positional winnowing, the manifest cache and shingle-hash
chunking. The ledger/state store tests live in
tests/test_curation_store.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# CAS successor claim: one delta per base
# ---------------------------------------------------------------------------


def _mini_store(spark, documents, root, n_old=100):
    from kgtm.curation import persist_curated_corpus

    old = documents.filter(F.col("doc_id") < n_old)
    persist_curated_corpus(old, str(root), min_quality=0.4, jaccard_threshold=0.5)
    return old


def test_concurrent_appends_same_base_exactly_one_wins(spark, documents, tmp_path):
    """Two truly concurrent appends from the same base through
    LockCommitCoordinator (atomic claim): exactly one lands, the loser gets
    the recompute error, and the store resolves old + winner only."""
    from concurrent.futures import ThreadPoolExecutor

    from kgtm.curation import append_curated_batch, read_ledger
    from kgtm.materialize import LockCommitCoordinator

    store = str(tmp_path / "store")
    _mini_store(spark, documents, store)
    b1 = documents.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
    b2 = documents.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 140))
    coord = LockCommitCoordinator()

    def run(batch):
        try:
            return ("ok", append_curated_batch(
                spark, store, new_docs=batch, coordinator=coord
            ))
        except RuntimeError as e:
            return ("err", str(e))

    with ThreadPoolExecutor(max_workers=2) as pool:
        results = list(pool.map(run, [b1, b2]))
    outcomes = sorted(r[0] for r in results)
    assert outcomes == ["err", "ok"], results
    err_msg = next(r[1] for r in results if r[0] == "err")
    assert "concurrent ledger commit" in err_msg
    n = read_ledger(spark, store).count()
    assert n == 120  # 100 old + exactly one 20-doc batch

    # the loser recomputes from the new head and lands cleanly
    loser_batch = b1 if results[0][0] == "err" else b2
    # ids must stay monotone: only the higher-id batch can follow the winner
    if results[1][0] == "err":  # b2 lost: b2's ids > b1's — fine to re-append
        append_curated_batch(spark, store, new_docs=b2, coordinator=coord)
        assert read_ledger(spark, store).count() == 140
    else:
        # b1 lost to b2; b1's ids are below b2's, monotone guard refuses —
        # exactly the contract (recompute means re-batching upstream)
        with pytest.raises(ValueError, match="monotone"):
            append_curated_batch(spark, store, new_docs=loser_batch, coordinator=coord)


# ---------------------------------------------------------------------------
# decontamination: broadcast vs shuffle strategy parity
# ---------------------------------------------------------------------------


def test_contamination_broadcast_shuffle_parity(spark, documents):
    """With no df cap both strategies are exact and must emit identical
    (doc, bench, containment) rows; 'auto' with a tiny threshold routes to
    shuffle (degrades gracefully instead of broadcasting a huge side)."""
    from kgtm.dedup import contamination_pairs

    docs = documents.filter(F.col("doc_id") < 200)
    # benchmark = substrings of real docs → guaranteed containment hits
    bench = (
        documents.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40))
        .select(
            (F.col("doc_id") - 20).alias("bench_id"),
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 12), " ").alias(
                "text"
            ),
        )
    )

    def snap(df):
        return sorted(map(tuple, df.collect()))

    bc = contamination_pairs(docs, bench, strategy="broadcast", threshold=0.5)
    sh = contamination_pairs(docs, bench, strategy="shuffle", threshold=0.5)
    auto_sh = contamination_pairs(
        docs, bench, strategy="auto", broadcast_max_flat_rows=1, threshold=0.5
    )
    got = snap(bc)
    assert len(got) > 0  # the planted substrings must actually hit
    assert snap(sh) == got
    assert snap(auto_sh) == got

    # capped run stays consistent across strategies too (approximation is
    # strategy-independent: the cap is computed over the combined space)
    bc_cap = contamination_pairs(
        docs, bench, strategy="broadcast", threshold=0.5, max_shingle_df=50
    )
    sh_cap = contamination_pairs(
        docs, bench, strategy="shuffle", threshold=0.5, max_shingle_df=50
    )
    assert snap(bc_cap) == snap(sh_cap)


# ---------------------------------------------------------------------------
# positional winnowing fingerprints
# ---------------------------------------------------------------------------


def test_winnow_positions_matches_duckdb_twin(spark):
    """The exploded (doc_id, pos, fp) positional winnowing table must equal
    the DuckDB robust-winnowing twin row for row on the sf0.001 corpus
    (pytest-gated value check, same pattern as simhash_wide_hamming — the
    driver gate is capped at 50 queries)."""
    import duckdb

    from kgtm import oracles
    from kgtm.textstats import winnow_positions

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = sorted(
        (r.doc_id, r.pos, r.fp) for r in winnow_positions(docs).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    want = sorted(
        (int(d), int(p), int(f))
        for d, p, f in con.execute(oracles.q_winnow_positions()).fetchall()
    )
    assert len(got) > 0
    assert got == want


def test_winnow_positions_localize_planted_overlap(spark):
    """The standard winnowing guarantee: two documents sharing a passage of
    at least window+k-1 chars share at least one selected fingerprint, and
    the matched positions land INSIDE the shared passage on both sides;
    unrelated documents share (essentially) none."""
    from kgtm.textstats import winnow_positions

    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    pre_a, pre_b = "alpha beta gamma delta " , "one two three four five six "
    doc_a = pre_a + shared + " and then some trailing words here"
    doc_b = pre_b + shared + " with a different continuation text"
    # junk tokens sharing no 5-gram with doc_a/doc_b (any real English words
    # risk a legitimately-shared-and-selected 5-gram like ' cont')
    doc_c = "zzzzq qqzzx xxqqy yyxxw wwyyv vvwwu uuvvt ttuus ssttr rrssp"
    df = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c)], "doc_id long, text string"
    )
    rows = winnow_positions(df).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.pos, r.fp))

    fps = lambda d: {f for _, f in by_doc[d]}  # noqa: E731
    common_ab = fps(1) & fps(2)
    assert common_ab, "shared passage must produce shared fingerprints"
    assert not (fps(1) & fps(3)) and not (fps(2) & fps(3))

    # the winnowing guarantee is EXISTENCE: at least one shared fingerprint
    # is picked INSIDE the shared span on both sides (a shared 5-gram can
    # also legitimately repeat outside it — universality would overclaim)
    k = 5
    in_span = {}
    for doc_id, pre in ((1, pre_a), (2, pre_b)):
        lo, hi = len(pre), len(pre) + len(shared) - k
        in_span[doc_id] = {
            fp for pos, fp in by_doc[doc_id] if fp in common_ab and lo <= pos <= hi
        }
    assert in_span[1] & in_span[2], "no shared pick localized the overlap"


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


# ---------------------------------------------------------------------------
# round-5 review fixes
# ---------------------------------------------------------------------------


def test_shingle_hash_chunking_is_invariant():
    """Round 6 replaced the md5+memo hasher with the vectorized polynomial:
    its row-chunking and length-sorted routing are internal — hashes must be
    identical however the batch is chunked, including across the 256-row
    chunk floor and the heterogeneous-length sort branch."""
    import numpy as np

    import kgtm.dedup as dd

    # >256 rows with wildly mixed lengths forces multiple chunks + sorting
    sh = [f"s{i} " * ((i % 7) + 1) for i in range(600)] + ["x" * 5000, ""]
    whole = dd._hash_shingles64(sh)
    ref = np.array([dd.hash64_py(s) for s in sh], dtype=np.uint64)
    assert np.array_equal(whole, ref)
    # any split of the batch yields the same values (chunking invisibility)
    parts = np.concatenate(
        [dd._hash_shingles64(sh[:100]), dd._hash_shingles64(sh[100:])]
    )
    assert np.array_equal(parts, ref)
