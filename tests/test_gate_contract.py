"""Driver-gate contract: the correctness report caps at 50 queries.

CORRECTNESS_r04 contained exactly the FIRST 50 of the entry's 52 dict
entries (in dict order) while r01–r03, all <= 48 entries, reported every
query — so the driver truncates the gate at 50. These tests pin the
contract (queries() stays <= 50 so nothing falls off the report) and keep
the value checks of the two entries rotated OUT of the gate alive as
pytests: simhash_wide_hamming's DuckDB all-pairs twin runs here;
value_percentiles_approx's bounded-rank-error check lives in
tests/test_dataops.py.
"""

import duckdb

import __spark_entry__ as se

SF_DIR = "/root/testdata/sf0.001"


def test_gate_stays_under_driver_cap():
    qs = se.queries()
    assert len(qs) <= 50, (
        f"queries() has {len(qs)} entries — the driver's correctness report "
        "truncates at 50, so later entries silently lose their gate rows "
        "(this is how media_meta/frame_samples vanished from r04)"
    )
    # the two multimodal queries must sit INSIDE the reported window
    assert "media_meta" in qs and "frame_samples" in qs
    # every oracle has a query (a dangling oracle is dead weight the driver
    # never runs)
    assert set(se.oracle_sql()) <= set(qs)


def test_incremental_curation_matches_twin(spark):
    """The store-less incremental-curation variant stays value-checked after
    rotating out of the driver gate in round 6 (it made room for lsh_recall;
    the stored variant still holds a gate row against the SAME oracle)."""
    from kgtm import oracles

    got = sorted(
        map(tuple, se._q_incremental_curation(spark, SF_DIR).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                f"SELECT * FROM ({oracles.q_corpus_curation()}) WHERE doc_id >= "
                "(SELECT (9*(max(doc_id)+1))//10 FROM documents)"
            ).fetchall(),
        )
    )
    assert len(got) == len(want) > 0
    assert got == want


def test_accessibility_matrix_matches_twin(spark):
    """The single-source accessibility matrix stays value-checked after
    rotating out of the driver gate in round 6 (it made room for
    substring_dedup; the dual variant keeps a gate row pivoting the SAME
    15-category taxonomy over both run modes — its proxy leg is exactly
    this matrix)."""
    from kgtm import oracles

    got = sorted(
        map(tuple, se._q_accessibility_matrix(spark, SF_DIR).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    want = sorted(
        map(tuple, con.execute(oracles.q_accessibility_matrix()).fetchall())
    )
    assert len(got) == len(want) > 0
    assert got == want


def test_lsh_recall_values_are_sane(spark):
    """The recall gate row's VALUES must be meaningful, not vacuous: every
    method finds a nonempty truth set and recovers a sane fraction of it."""
    rows = {r.method: r for r in se._q_lsh_recall(spark, SF_DIR).collect()}
    assert set(rows) == {"minhash_lsh", "ann_lsh_topk", "ann_ivf_topk"}
    for m, r in rows.items():
        assert r.n_truth > 0, m
        assert 0 <= r.n_hit <= r.n_truth, m
        assert r.recall >= 0.5, (m, r.recall)


def test_simhash_wide_hamming_matches_duckdb_twin(spark):
    """The non-divisor chunking form (max_hamming=16 → 3-bit chunks + 13
    uncovered bits) stays value-checked after rotating out of the driver
    gate: banded Spark output == DuckDB all-pairs simhash at the same
    budget, row for row."""
    from kgtm import oracles

    got = sorted(
        (r.id_a, r.id_b, int(r.hamming))
        for r in se._q_simhash_wide(spark, SF_DIR).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = sorted(
        (int(a), int(b), int(h))
        for a, b, h in con.execute(oracles.q_simhash_exhaustive(16)).fetchall()
    )
    assert got == want and len(got) > 0
