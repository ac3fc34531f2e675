"""Connected-components / canonicalization tests."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from kgtm import canonicalize, session
from kgtm.canonicalize import canonical_entities, connected_components
from kgtm.dedup import dedup_clusters, ngram_jaccard_pairs
from kgtm.extract import extract_mentions
from kgtm.link import link_mentions
from kgtm.transcripts import events_to_transcripts, ontology_index_df


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("z", "z")],
        "src string, dst string",
    )
    labels, _ = connected_components(edges)
    out = {r.node: r.component for r in labels.collect()}
    assert out["a"] == out["b"] == out["c"] == "a"
    assert out["x"] == out["y"] == "x"
    assert "z" not in out  # a self-loop-only node is no node of the graph


def test_connected_components_chain_converges(spark):
    n = 24
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n)], "src string, dst string"
    )
    labels, _ = connected_components(edges)
    out = {r.node: r.component for r in labels.collect()}
    assert set(out.values()) == {"n000"}
    assert len(out) == n + 1


def test_canonical_entities_collapses_variants(spark, events):
    tr = events_to_transcripts(events)
    linked = link_mentions(extract_mentions(tr), ontology_index_df(spark))
    ents = canonical_entities(linked)
    # every variant surface of /view maps to one canonical id
    view_surfaces = [
        r.canonical_id
        for r in ents.filter(
            F.col("surface").contains("onto.example.org/view")
        ).collect()
    ]
    assert len(set(view_surfaces)) == 1
    # unlinked surfaces stay themselves
    unk = ents.filter(F.col("surface").contains("unknown.example.net")).collect()
    assert all(r.canonical_id == r.surface for r in unk)


# ---------------------------------------------------------------------------
# driver union-find vs large-star/small-star: forced both ways
# ---------------------------------------------------------------------------


def _both_ways(monkeypatch, run):
    """``run()`` with the literal row cap forced below every edge count (the
    star plan — -1, since the empty edge set is within a cap of 0) and far
    above it (the driver plan) → {plan: (frame, rounds of each
    connected_components call)}."""
    real = canonicalize.connected_components
    rounds: list[int] = []

    def spy(*a, **kw):
        labels, r = real(*a, **kw)
        rounds.append(r)
        return labels, r

    monkeypatch.setattr(canonicalize, "connected_components", spy)
    out = {}
    for plan, cap in (("star", -1), ("driver", 1 << 20)):
        monkeypatch.setattr(session, "LITERAL_MAX_ROWS", cap)
        rounds.clear()
        out[plan] = (run(), list(rounds))
    return out


def _assert_same_both_ways(out):
    (star, star_rounds), (drv, drv_rounds) = out["star"], out["driver"]
    assert star.schema == drv.schema  # names, types and nullability
    assert star.exceptAll(drv).count() == 0 and drv.exceptAll(star).count() == 0
    assert drv_rounds == [0]
    assert len(star_rounds) == 1 and star_rounds[0] > 0
    return star_rounds[0]


def _closure(edges):
    """Reference: min label of every node's component, by repeated merging."""
    comp = {v: v for e in edges if e[0] != e[1] for v in e}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            if a != b and comp[a] != comp[b]:
                comp[a] = comp[b] = min(comp[a], comp[b])
                changed = True
    return comp


_rng = random.Random(11)
CC_CASES = {
    "chain64": [(f"n{i:03d}", f"n{i+1:03d}") for i in range(63)],
    "star": [("v50", f"v{i:02d}") for i in range(20)],
    "cycle": [(f"c{i:02d}", f"c{(i + 1) % 12:02d}") for i in range(12)],
    "dup_and_reversed": [("b", "a"), ("a", "b"), ("a", "b"), ("c", "b"), ("b", "c")],
    "self_loop_only_node": [("a", "b"), ("z", "z")],
    "empty": [],
    # UTF-8 byte order = code point order (≠ UTF-16 order past U+FFFF)
    "non_ascii": [("ß", "é"), ("é", "日本"), ("Ω", "ß"), ("\U0001d518", "\uffee")],
    "random": [
        (f"v{_rng.randrange(30):02d}", f"v{_rng.randrange(30):02d}") for _ in range(25)
    ],
}


@pytest.mark.parametrize("case", list(CC_CASES))
def test_connected_components_forced_both_ways(spark, monkeypatch, case):
    edges = spark.createDataFrame(CC_CASES[case], "src string, dst string")
    out = _both_ways(monkeypatch, lambda: canonicalize.connected_components(edges)[0])
    star_rounds = _assert_same_both_ways(out)
    got = {r.node: r.component for r in out["driver"][0].collect()}
    assert got == _closure(CC_CASES[case])
    if case == "chain64":
        assert star_rounds <= 10  # O(log n), vs 63 min-label propagation rounds


def test_connected_components_carries_edge_type(spark, monkeypatch):
    edges = spark.createDataFrame([(10, 9), (3, 2), (2, 4)], "src bigint, dst bigint")
    out = _both_ways(monkeypatch, lambda: canonicalize.connected_components(edges)[0])
    _assert_same_both_ways(out)
    assert [f.dataType.simpleString() for f in out["driver"][0].schema] == ["bigint"] * 2
    assert {r.node: r.component for r in out["driver"][0].collect()} == {
        9: 9, 10: 9, 2: 2, 3: 2, 4: 2
    }


def test_dedup_clusters_forced_both_ways_string_order(spark, monkeypatch):
    # as strings "10" < "9": the cluster label is "10", the survivor is 9
    pairs = spark.createDataFrame([(9, 10)], "id_a long, id_b long")
    ids = spark.createDataFrame([(9,), (10,), (11,)], "doc_id long")
    out = _both_ways(monkeypatch, lambda: dedup_clusters(pairs, ids))
    _assert_same_both_ways(out)
    got = {r.id: (r.cluster_id, r.is_survivor) for r in out["driver"][0].collect()}
    assert got == {9: ("10", True), 10: ("10", False), 11: ("11", True)}


def test_dedup_clusters_forced_both_ways_gate_input(spark, monkeypatch, documents):
    pairs = ngram_jaccard_pairs(documents, threshold=0.5)
    _assert_same_both_ways(_both_ways(monkeypatch, lambda: dedup_clusters(pairs, documents)))


def test_canonical_entities_forced_both_ways_gate_input(spark, monkeypatch, events):
    linked = link_mentions(
        extract_mentions(events_to_transcripts(events)), ontology_index_df(spark)
    )
    _assert_same_both_ways(_both_ways(monkeypatch, lambda: canonical_entities(linked)))


def test_star_plan_raises_on_nonconvergence(spark, monkeypatch):
    monkeypatch.setattr(session, "LITERAL_MAX_ROWS", 0)
    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(63)], "src string, dst string"
    )
    with pytest.raises(RuntimeError, match="did not converge after 1 star round"):
        connected_components(chain, max_iter=1)
