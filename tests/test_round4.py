"""Round-4 surface: expire_commits vs ledger delta chains, the pluggable
commit coordinator, and the derandomized dedup twins. The ledger/state
store tests live in tests/test_curation_store.py."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# housekeeping safety: expire_commits vs ledger delta chains
# ---------------------------------------------------------------------------


def test_expire_refuses_stranding_deltas(spark, documents, tmp_path):
    """expire_commits must not delete the base snapshot out from under live
    delta commits (the kept suffix would become unreconstructable); once the
    suffix contains a snapshot again, expiry proceeds."""
    from kgtm.curation import (
        append_curated_batch,
        compact_ledger,
        persist_curated_corpus,
        read_ledger,
    )
    from kgtm.materialize import expire_commits

    store = str(tmp_path / "store")
    old = documents.filter(F.col("doc_id") < 120)
    b1 = documents.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 150))
    b2 = documents.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 170))
    persist_curated_corpus(old, store, min_quality=0.4, jaccard_threshold=0.5)
    append_curated_batch(spark, store, new_docs=b1)
    append_curated_batch(spark, store, new_docs=b2)
    # keep_last=2 would keep only the two deltas — stranded
    with pytest.raises(ValueError, match="strand delta commits"):
        expire_commits(store, keep_last=2)
    assert read_ledger(spark, store).count() == 170
    # after compaction the newest commit is a self-contained snapshot
    compact_ledger(spark, store)
    expire_commits(store, keep_last=1)
    assert read_ledger(spark, store).count() == 170


# ---------------------------------------------------------------------------
# pluggable commit coordinator
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("coord_name", ["rename", "lock"])
def test_concurrent_writers_through_coordinators(spark, documents, tmp_path, coord_name):
    """The seq-claim protocol holds through BOTH coordinator implementations.

    True 6-way concurrency runs ONLY through LockCommitCoordinator — its
    claim is atomic by construction. RenameCommitCoordinator's own docstring
    says the exists+rename pair 'narrows but cannot close' the race window on
    a POSIX local FS (rename overwrites), so asserting unique seqs under real
    concurrency there is asserting a property the implementation explicitly
    does not guarantee — that leg runs the same 6 writers sequentially
    (exercising claim/retry mechanics, not the un-guaranteed race)."""
    from concurrent.futures import ThreadPoolExecutor

    from kgtm.materialize import (
        LockCommitCoordinator,
        RenameCommitCoordinator,
        list_commits,
        read_table,
        write_table,
    )

    coord = {"rename": RenameCommitCoordinator, "lock": LockCommitCoordinator}[
        coord_name
    ]()
    store = str(tmp_path / f"store-{coord_name}")
    df = documents.limit(20).localCheckpoint(eager=True)
    n = df.count()

    def commit(_):
        return write_table(
            df, store, table="docs", partition_by=(), coordinator=coord
        )

    if coord_name == "lock":
        with ThreadPoolExecutor(max_workers=6) as pool:
            commits = list(pool.map(commit, range(6)))
    else:
        commits = [commit(i) for i in range(6)]
    seqs = sorted(c["seq"] for c in commits)
    assert len(set(seqs)) == 6, seqs
    assert [c["seq"] for c in list_commits(store)] == seqs
    assert read_table(spark, store, table="docs").count() == 6 * n


# ---------------------------------------------------------------------------
# bounded-error contract for the approx percentile sketch
# ---------------------------------------------------------------------------


def test_value_percentiles_approx_within_rank_error(spark, events):
    """percentile_approx(accuracy=A) guarantees rank error <= 1/A: for every
    (event_type, percentile) the approx value's rank among the group's exact
    values must land inside [(p - eps) * N, (p + eps) * N] (+-1 for ties /
    integer rank edges). This quantifies the last sketch-valued gate query
    (value_percentiles_approx has no hash oracle by nature)."""
    from kgtm.sessions import value_percentiles_approx

    accuracy = 10000
    eps = 1.0 / accuracy
    approx = {
        r.event_type: r
        for r in value_percentiles_approx(events, accuracy=accuracy).collect()
    }
    groups = (
        events.groupBy("event_type")
        .agg(F.sort_array(F.collect_list("value")).alias("vals"))
        .collect()
    )
    assert len(groups) == len(approx) > 0
    for g in groups:
        vals, n = g.vals, len(g.vals)
        row = approx[g.event_type]
        for p, got in ((0.5, row.p50), (0.95, row.p95), (0.99, row.p99)):
            # rank of the approx value = number of exact values <= it
            import bisect

            rank = bisect.bisect_right(vals, got)
            lo = (p - eps) * n - 1
            hi = (p + eps) * n + 1
            assert lo <= rank <= hi, (
                f"{g.event_type} p{int(p*100)}: approx {got} has rank {rank}"
                f"/{n}, outside [{lo:.1f}, {hi:.1f}]"
            )
            # and the approx value is an actual member of the group (the
            # sketch returns observed values, never interpolations)
            assert got in vals


def test_corpus_is_ascii_for_winnow_oracle(spark):
    """The winnow DuckDB twin (oracles.q_winnow_fingerprints) compares
    ord()-code-points against the UDF's UTF-8 bytes — identical iff the
    corpus is ASCII. Assert that precondition at EVERY scale factor the
    gate/bench touch (the driver gate runs at sf0.01, bench at sf0.1), so a
    non-ASCII regeneration fails loudly here instead of as a silent oracle
    mismatch."""
    import os

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        n = (
            spark.read.parquet(path)
            .filter(F.col("text").rlike("[^\\x00-\\x7F]"))
            .count()
        )
        assert n == 0, f"{sf} contains non-ASCII documents"
