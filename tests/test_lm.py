"""Unigram LM quality scoring — DuckDB twin + planted hand-computation."""

from __future__ import annotations

import math

import pandas as pd

from conftest import duck_docs as _duck

SF = "/root/testdata/sf0.001"


LM_COLS = ["doc_id", "n_tokens", "n_oov", "nll_bits"]


def _lm_rows(df, **kw):
    from kgtm.lm import unigram_nll

    out = unigram_nll(df, **kw)
    assert out.columns == LM_COLS
    return sorted(tuple(r[c] for c in LM_COLS) for r in out.collect())


def _lm_oracle_rows(con, **kw):
    from kgtm import oracles

    return sorted(
        (int(d), int(nt), int(no), float(nb))
        for d, nt, no, nb in con.execute(oracles.q_unigram_nll(**kw)).fetchall()
    )


def test_unigram_nll_matches_duckdb_twin_corpus(spark, documents):
    got = _lm_rows(documents)
    want = _lm_oracle_rows(_duck(parquet_docs=SF))
    assert got == want
    assert len(got) == documents.count()
    # self-scoring uncapped: no OOV anywhere
    assert all(no == 0 for _, _, no, _ in got)


def test_unigram_nll_capped_matches_twin_and_floors_oov(spark, documents):
    got = _lm_rows(documents, top_v=20)
    want = _lm_oracle_rows(_duck(parquet_docs=SF), top_v=20)
    assert got == want
    # a 20-word vocab over this corpus must leave some tokens OOV
    assert any(no > 0 for _, _, no, _ in got)


def test_unigram_nll_planted_hand_computed(spark):
    rows = [(1, "a a b"), (2, "a c"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = _lm_rows(df)
    # counts: a=3 b=1 c=1, N=5
    n = 5.0
    exp1 = round(-(2 * math.log2(3 / n) + math.log2(1 / n)) / 3, 6)
    exp2 = round(-(math.log2(3 / n) + math.log2(1 / n)) / 2, 6)
    assert got == [(1, 3, 0, exp1), (2, 2, 0, exp2)]  # doc 3: zero tokens, omitted
    planted = pd.DataFrame(rows, columns=["doc_id", "text"])
    assert got == _lm_oracle_rows(_duck(planted=planted))


def test_unigram_nll_cross_corpus_oov(spark):
    model = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
    score = spark.createDataFrame([(9, "a z")], "doc_id long, text string")
    got = _lm_rows(score, model_df=model)
    # model: a=2 b=1, N=3; z is OOV at floor 1/3
    exp = round(-(math.log2(2 / 3) + math.log2(1 / 3)) / 2, 6)
    assert got == [(9, 2, 1, exp)]


def test_unigram_nll_cap_at_full_vocab_is_identity(spark, documents):
    # top_v >= |vocab| must equal the uncapped run exactly
    from kgtm.lm import unigram_counts

    v = unigram_counts(documents).count()
    assert _lm_rows(documents, top_v=v) == _lm_rows(documents)


def test_unigram_nll_capped_plan_broadcasts_vocab(spark, documents):
    from kgtm.lm import unigram_nll

    plan = (
        unigram_nll(documents, top_v=100)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # top-k is distributed, never a one-partition window
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_unigram_nll_whitespace_docs_no_phantom_tokens(spark):
    """Leading/trailing tab-or-newline text must not emit '' phantom tokens
    (they would hand whitespace-padded junk a near-free high-frequency
    token); whitespace-only docs drop out entirely. Twin agrees."""
    rows = [(1, "\thello world"), (2, "\t"), (3, "hello\n")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = _lm_rows(df)
    # counts: hello=2 world=1, N=3; doc 2 omitted (zero real tokens)
    exp1 = round(-(math.log2(2 / 3) + math.log2(1 / 3)) / 2, 6)
    exp3 = round(-math.log2(2 / 3), 6)
    assert got == [(1, 2, 0, exp1), (3, 1, 0, exp3)]
    planted = pd.DataFrame(rows, columns=["doc_id", "text"])
    assert got == _lm_oracle_rows(_duck(planted=planted))


def test_bucket_by_nll_planted_semantics(spark):
    """Six docs with distinct scores split 2/2/2 into head/middle/tail;
    thresholds and tie rule hand-checked (boundary ties go LOW)."""
    from kgtm.lm import bucket_by_nll

    pdf = pd.DataFrame(
        {"doc_id": range(1, 7), "nll_bits": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]}
    )
    scored = spark.createDataFrame(pdf)
    out = {r.doc_id: r for r in bucket_by_nll(scored).collect()}
    # tertile boundaries of [1..6]: t1 = 1 + 5/3 = 2.666667, t2 = 4.333333
    assert [out[i].bucket_label for i in range(1, 7)] == [
        "head", "head", "middle", "middle", "tail", "tail",
    ]
    # a score exactly ON a boundary goes to the lower bucket
    pdf2 = pd.DataFrame({"doc_id": [1, 2, 3, 4], "nll_bits": [0.0, 1.0, 2.0, 3.0]})
    out2 = {
        r.doc_id: r.nll_bucket
        for r in bucket_by_nll(spark.createDataFrame(pdf2)).collect()
    }
    assert out2 == {1: 0, 2: 0, 3: 1, 4: 2}  # t = [1.0, 2.0]: ties stay low


def test_bucket_by_nll_matches_duckdb_twin_corpus(spark, documents):
    from kgtm import oracles
    from kgtm.lm import bucket_by_nll, unigram_nll

    got = sorted(
        (r.doc_id, r.n_tokens, r.n_oov, r.nll_bits, r.nll_bucket, r.bucket_label)
        for r in bucket_by_nll(unigram_nll(documents)).collect()
    )
    want = sorted(
        (int(d), int(nt), int(no), float(nb), int(b), lbl)
        for d, nt, no, nb, b, lbl in _duck(parquet_docs=SF)
        .execute(oracles.q_nll_buckets())
        .fetchall()
    )
    assert got == want
    # tertiles over a 500-doc corpus: every bucket is populated
    counts = pd.Series([lbl for *_, lbl in got]).value_counts()
    assert set(counts.index) == {"head", "middle", "tail"}
    assert counts.min() >= 100


def test_bucket_by_nll_external_thresholds_and_validation(spark):
    """CCNet's actual setup: boundaries from a TRUSTED corpus, assignment
    on another — plus arg validation."""
    import pytest

    from kgtm.lm import bucket_by_nll, nll_bucket_thresholds

    trusted = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "nll_bits": [1.0, 2.0, 3.0]})
    )
    th = nll_bucket_thresholds(trusted)  # t = [1.666667, 2.333333]
    target = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10, 11, 12], "nll_bits": [0.5, 2.0, 9.9]})
    )
    out = {r.doc_id: r.bucket_label for r in bucket_by_nll(target, thresholds=th).collect()}
    assert out == {10: "head", 11: "middle", 12: "tail"}
    with pytest.raises(ValueError):
        nll_bucket_thresholds(trusted, n_buckets=1)
    with pytest.raises(ValueError):
        bucket_by_nll(target, labels=("a", "b"))  # 2 labels, 3 buckets
    # round-6 ADVICE: an external frame with the wrong boundary count must
    # be rejected before the crossJoin (it would index past the labels)...
    with pytest.raises(ValueError):
        bucket_by_nll(target, thresholds=nll_bucket_thresholds(trusted, 5), n_buckets=3)
    # ...and so must a multi-row frame (it would multiply every scored row)
    with pytest.raises(ValueError):
        bucket_by_nll(target, thresholds=th.unionByName(th))


def test_bucket_by_nll_null_score_parity(spark):
    """Round-6 ADVICE low: a NULL score must yield a NULL bucket/label in
    BOTH engines (the twin's list_filter used to drop the NULL predicate
    and assign 'head'). Unreachable via unigram_nll, but the public API
    accepts arbitrary scored frames."""
    import duckdb

    from kgtm import oracles
    from kgtm.lm import bucket_by_nll

    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4], "nll_bits": [1.0, None, 3.0, 5.0]}
    )
    out = {r.doc_id: r for r in bucket_by_nll(spark.createDataFrame(pdf)).collect()}
    assert out[2].nll_bucket is None and out[2].bucket_label is None
    # twin parity on the same planted frame (thresholds over non-NULL rows
    # match quantile_cont semantics; the NULL row must come back NULL)
    con = duckdb.connect()
    con.register("scored_planted", pdf)
    twin = con.execute(
        """
        WITH scored AS (SELECT doc_id, nll_bits FROM scored_planted),
        th AS (
          SELECT list_transform(
                   [quantile_cont(nll_bits, 1.0/3), quantile_cont(nll_bits, 2.0/3)],
                   x -> round(x, 6)) AS t
          FROM scored)
        SELECT s.doc_id,
               CASE WHEN s.nll_bits IS NULL THEN NULL
                    ELSE CAST(len(list_filter(th.t, x -> s.nll_bits > x)) AS INT)
               END AS nll_bucket
        FROM scored s, th
        """
    ).fetchall()
    twin_buckets = {int(d): b for d, b in twin}
    assert twin_buckets[2] is None
    spark_buckets = {
        d: (None if out[d].nll_bucket is None else int(out[d].nll_bucket))
        for d in out
    }
    # Spark computes boundaries over the SAME frame; percentile ignores
    # NULLs like quantile_cont, so the non-NULL assignments agree too
    assert spark_buckets == twin_buckets


def test_bucket_by_nll_plan_shape(spark, documents):
    """The bucketing adds NO shuffle of the scored corpus: thresholds fold
    in as a one-row broadcast, assignment is a per-row array fold."""
    from kgtm.lm import bucket_by_nll, unigram_nll

    plan = (
        bucket_by_nll(unigram_nll(documents))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan  # the one-row scalar fold
    # no window operator anywhere (an ntile() formulation would plan a
    # single-partition Window over the whole corpus)
    assert "Window" not in plan


def test_bucket_by_nll_external_thresholds_read_once(spark, tmp_path):
    """An external thresholds frame is validated with one bounded collect;
    the crossJoin must use that collected row rather than run the source a
    second time — the output plan holds no scan of the thresholds file."""
    from kgtm.lm import bucket_by_nll, nll_bucket_thresholds

    trusted = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "nll_bits": [1.0, 2.0, 3.0]})
    )
    path = str(tmp_path / "trusted_bounds")
    nll_bucket_thresholds(trusted).write.parquet(path)
    target = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10, 11, 12], "nll_bits": [0.5, 2.0, 9.9]})
    )
    out = bucket_by_nll(target, thresholds=spark.read.parquet(path))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "trusted_bounds" not in plan and "FileScan" not in plan, plan
    got = {r.doc_id: r.bucket_label for r in out.collect()}
    assert got == {10: "head", 11: "middle", 12: "tail"}
