"""Exact substring-span dedup (kgtm/spandedup.py): planted corners against
hand-computed truth, full corpus parity against the DuckDB twin, and the
plan-shape invariant (no UDF — the keep/cut is pure array expressions)."""

from __future__ import annotations

import pandas as pd
import pytest

from kgtm import oracles
from kgtm.spandedup import dup_spans, substring_dedup
from tests.conftest import (
    SF_DIR,
    assert_same_both_ways,
    duck_docs,
    forced_both_ways,
    plan_without_auto_broadcast,
)

L = 10  # planted cases use a 10-word resolution for readability


def _run(spark, rows, min_words=L):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        r["doc_id"]: r.asDict()
        for r in substring_dedup(df, min_words=min_words).collect()
    }


SPAN = "a b c d e f g h i j"  # the 10-word duplicated span


def test_planted_corners(spark):
    out = _run(
        spark,
        [
            (1, SPAN),  # corpus-global first occurrence
            (2, f"x y {SPAN} z"),  # infix copy -> cut
            (3, SPAN),  # whole-doc duplicate -> ''
            (4, "short doc"),  # < L words: untouched
            (5, None),  # NULL text: untouched
            (6, "  "),  # blank: untouched
            (7, f"p q r s t u v w x1 y1 {SPAN} t1 t2"),  # head+tail kept
        ],
    )
    assert out[1] == {
        "doc_id": 1, "text": SPAN, "n_words": 10,
        "n_words_removed": 0, "n_spans": 0,
    }
    assert out[2]["text"] == "x y z" and out[2]["n_words_removed"] == 10
    assert out[3]["text"] == "" and out[3]["n_words_removed"] == 10
    assert out[4]["text"] == "short doc" and out[4]["n_spans"] == 0
    assert out[5]["text"] is None and out[5]["n_words"] == 0
    assert out[6]["text"] == "  "  # untouched docs keep bytes (even blanks)
    assert out[7]["text"] == "p q r s t u v w x1 y1 t1 t2"
    assert out[7]["n_spans"] == 1


def test_long_span_merges_overlapping_grams(spark):
    """A 15-word duplicated run is covered by 6 overlapping 10-grams that
    must merge into ONE maximal span of 15 removed words."""
    long_span = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15"
    out = _run(spark, [(1, long_span), (2, f"pre {long_span} post")])
    assert out[2]["text"] == "pre post"
    assert out[2]["n_words_removed"] == 15
    assert out[2]["n_spans"] == 1


def test_two_disjoint_spans_stay_separate(spark):
    sp2 = "k l m n o p q r s t"
    filler = "f1 f2 f3 f4 f5"
    out = _run(
        spark,
        [(1, SPAN), (2, sp2), (3, f"{SPAN} {filler} {sp2}")],
    )
    assert out[3]["text"] == filler
    assert out[3]["n_spans"] == 2
    assert out[3]["n_words_removed"] == 20


def test_within_doc_repeat_keeps_first(spark):
    out = _run(spark, [(1, f"{SPAN} mid1 mid2 {SPAN}")])
    assert out[1]["text"] == f"{SPAN} mid1 mid2"
    assert out[1]["n_words_removed"] == 10


def test_case_insensitive_signal_original_case_kept(spark):
    """The dup signal lowers; the SURVIVING copy keeps its original case
    and the removed copy's kept words keep theirs."""
    upper = SPAN.upper()
    out = _run(spark, [(1, upper), (2, f"Xx {SPAN} Yy")])
    assert out[1]["text"] == upper and out[1]["n_words_removed"] == 0
    assert out[2]["text"] == "Xx Yy" and out[2]["n_words_removed"] == 10


def test_first_occurrence_order_is_doc_then_pos(spark):
    """Ties break by (doc_id, pos): doc 1 keeps, doc 2 loses — and swapping
    ids swaps the survivor."""
    out = _run(spark, [(1, SPAN), (2, SPAN)])
    assert out[1]["n_words_removed"] == 0 and out[2]["n_words_removed"] == 10
    out = _run(spark, [(2, SPAN), (1, SPAN)])
    assert out[1]["n_words_removed"] == 0 and out[2]["n_words_removed"] == 10


def test_dup_free_corpus_roundtrips_byte_identically(spark):
    rows = [(1, "one  two\tthree "), (2, "totally different words here")]
    out = _run(spark, rows)
    assert out[1]["text"] == "one  two\tthree "
    assert out[2]["text"] == "totally different words here"
    assert all(o["n_words_removed"] == 0 for o in out.values())


def test_dup_spans_intermediate(spark):
    df = spark.createDataFrame(
        [(1, SPAN), (2, f"x y {SPAN} z")], "doc_id long, text string"
    )
    spans = {(r.id, r.s, r.e) for r in dup_spans(df, min_words=L).collect()}
    assert spans == {(2, 2, 11)}


def test_min_words_validation(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        substring_dedup(df, min_words=1)


def test_corpus_matches_duckdb_twin(spark, documents):
    got = (
        substring_dedup(documents, min_words=20)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duck_docs(parquet_docs=SF_DIR)
    want = (
        con.execute(oracles.q_substring_dedup(20))
        .fetchdf()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    got, want = got[sorted(got.columns)], want[sorted(want.columns)]
    pd.testing.assert_frame_equal(got, want)
    # the corpus' planted near-dups guarantee the operator does real work
    assert (got.n_words_removed > 0).sum() >= 10


def test_plan_has_no_python_udf(spark, documents):
    """The whole operator is codegen/array expressions — a Python eval node
    in this plan would be a 100-TB regression."""
    plan = substring_dedup(documents)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_plan_shuffle_shape(spark, documents):
    """Scale contract: exactly TWO keyed shuffles (the gram-digest
    aggregate and the per-doc interval merge/reassembly), both windows
    partitioned by doc — never a global sort, a single-partition exchange,
    or a cartesian product."""
    plan = substring_dedup(documents)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort
    # every window spec is keyed on the doc id (per-doc, bounded work)
    import re

    for spec in re.findall(r"windowspecdefinition\((\w+#\d+L?)", plan):
        assert spec.startswith("id#"), spec


# ---------------------------------------------------------------------------
# incremental (O(batch)) dedup against stored gram state
# ---------------------------------------------------------------------------


def test_incremental_state_hit_cuts_batch_first_instance(spark):
    """A batch doc matching a STORED gram loses it even as the batch's own
    first instance — the stored occurrence is earlier by contract."""
    from kgtm.spandedup import incremental_substring_dedup, span_gram_state

    old = spark.createDataFrame([(1, SPAN)], "doc_id long, text string")
    state = span_gram_state(old, min_words=L)
    batch = spark.createDataFrame(
        [(10, f"pre {SPAN} post"), (11, "totally fresh words here")],
        "doc_id long, text string",
    )
    deduped, new_state = incremental_substring_dedup(batch, state, min_words=L)
    out = {r.doc_id: r for r in deduped.collect()}
    assert out[10].text == "pre post" and out[10].n_words_removed == 10
    assert out[11].text == "totally fresh words here"
    # new state rows = exactly the gram values the batch introduces
    from kgtm.spandedup import span_gram_state as sgs

    want_new = {
        r.gh
        for r in sgs(batch, min_words=L)
        .join(state.select("gh"), "gh", "anti")
        .collect()
    }
    assert {r.gh for r in new_state.collect()} == want_new


def test_incremental_equals_full_run_on_corpus(spark, documents):
    """90/10 monotone split of the real corpus: the incremental batch
    result must equal the full run over old ∪ batch restricted to batch
    ids — checked against Spark's own full run AND the DuckDB twin."""
    from kgtm import oracles
    from kgtm.spandedup import incremental_substring_dedup, span_gram_state

    cut = documents.selectExpr("(9*(max(doc_id)+1)) div 10 AS c").collect()[0].c
    old = documents.where(f"doc_id < {cut}")
    batch = documents.where(f"doc_id >= {cut}")
    assert batch.count() > 0
    state = span_gram_state(old, min_words=20)
    deduped, new_state = incremental_substring_dedup(batch, state, min_words=20)
    got = sorted(map(tuple, deduped.collect()))

    full = substring_dedup(documents, min_words=20).where(f"doc_id >= {cut}")
    assert got == sorted(map(tuple, full.collect()))

    con = duck_docs(parquet_docs=SF_DIR)
    want = sorted(
        map(
            tuple,
            con.execute(
                f"SELECT * FROM ({oracles.q_substring_dedup(20)}) "
                f"WHERE doc_id >= {cut}"
            ).fetchall(),
        )
    )
    assert len(got) == len(want) > 0
    assert got == want

    # appended state == state derived from the union
    merged = sorted(
        r.gh for r in state.select("gh").union(new_state.select("gh")).collect()
    )
    want_state = sorted(
        r.gh for r in span_gram_state(documents, min_words=20).collect()
    )
    assert merged == want_state


def test_incremental_chained_appends_stay_exact(spark, documents):
    """Three monotone slices appended in sequence: every batch's output
    equals the full run over everything-so-far restricted to that batch."""
    from kgtm.spandedup import incremental_substring_dedup, span_gram_state

    ids = sorted(r.doc_id for r in documents.select("doc_id").collect())
    c1, c2 = ids[len(ids) // 2], ids[3 * len(ids) // 4]
    s0 = documents.where(f"doc_id < {c1}")
    b1 = documents.where(f"doc_id >= {c1} AND doc_id < {c2}")
    b2 = documents.where(f"doc_id >= {c2}")
    state = span_gram_state(s0, min_words=20)
    d1, ns1 = incremental_substring_dedup(b1, state, min_words=20)
    state1 = state.select("gh", "sb").union(ns1)
    d2, _ = incremental_substring_dedup(b2, state1, min_words=20)

    full = substring_dedup(documents, min_words=20)
    assert sorted(map(tuple, d1.collect())) == sorted(
        map(tuple, full.where(f"doc_id >= {c1} AND doc_id < {c2}").collect())
    )
    assert sorted(map(tuple, d2.collect())) == sorted(
        map(tuple, full.where(f"doc_id >= {c2}").collect())
    )


def test_incremental_broadcast_shuffle_parity_and_validation(
    spark, documents, tmp_path, monkeypatch
):
    """session.BROADCAST_MAX_ROWS picks the state-join plan: forced to each
    side, both give the identical deduped batch and new state rows and
    schema, and the broadcast side's plan really is broadcast-shaped —
    strictly fewer shuffles than the shuffle side (dropping the broadcast
    hints would equalize the counts and fail here), with the state lookups
    as BroadcastHashJoins."""
    from kgtm.spandedup import incremental_substring_dedup, span_gram_state

    cut = documents.selectExpr("(9*(max(doc_id)+1)) div 10 AS c").collect()[0].c
    old = documents.where(f"doc_id < {cut}")
    batch = documents.where(f"doc_id >= {cut}")
    # parquet-backed state: its scan has no lineage of its own, so every
    # exchange in the plans below belongs to the operator under test
    span_gram_state(old, min_words=20).write.parquet(str(tmp_path / "state"))
    state = spark.read.parquet(str(tmp_path / "state"))

    # plan shape with checkpoint=False (full lineage visible) and
    # stats-based auto-broadcast OFF, so ONLY the operator's explicit
    # broadcast hints can produce a BroadcastHashJoin — dropping the hints
    # turns the state lookups into shuffle joins and the exchange-count
    # comparison below fails even though tiny test tables would otherwise
    # auto-broadcast
    def shape(df):
        plan = plan_without_auto_broadcast(df)
        return plan.count("Exchange hashpartitioning"), plan.count("BroadcastHashJoin")

    (sd, sn), (bd, bn) = forced_both_ways(
        monkeypatch,
        "BROADCAST_MAX_ROWS",
        lambda: incremental_substring_dedup(batch, state, min_words=20, checkpoint=False),
    )
    (x_s, bhj_s), (x_b, bhj_b) = shape(sd), shape(bd)
    assert bhj_b >= 2, x_b  # state semi-filter + dup-marking broadcast
    assert x_b < x_s, (x_b, x_s)  # the state side never shuffles
    assert bhj_s == 0  # the fallback really is the shuffle shape
    # new-state path: both its joins must be hint-broadcast; the raw
    # exchange counts tie here because checkpoint=False recomputes
    # batch_ghs inside hits, so the BHJ count is the guard
    assert shape(bn)[1] >= 2
    assert shape(sn)[1] == 0
    assert_same_both_ways(sd, bd)
    assert_same_both_ways(sn, bn)

    # the checkpointed production path picks the same plans and rows
    (sd_c, _), (bd_c, _) = forced_both_ways(
        monkeypatch,
        "BROADCAST_MAX_ROWS",
        lambda: incremental_substring_dedup(batch, state, min_words=20),
    )
    assert_same_both_ways(sd_c, bd_c)
    assert_same_both_ways(bd, bd_c)
