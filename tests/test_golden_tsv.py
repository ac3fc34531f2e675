"""Golden TSV corpus for ladder linking — mirrors the reference's TSV-driven
test style (tests/archivo_test_IRIs.tsv, FIXTURES.md §4). Each case runs
through BOTH the pure spec and the Spark broadcast-join path."""

from __future__ import annotations

import csv
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kgtm.normalize import parse_iri_cols, resolve_membership, split_iri
from kgtm.schemas import ONTOLOGY_INDEX_SCHEMA

TSV = Path(__file__).parent / "golden" / "link_cases.tsv"

# dictionary matching the TSV cases
DICT_ROWS = [
    ("http://dict.org/vocab/", "dict.org", "/vocab/", "slash"),
    ("http://dict.org/term", "dict.org", "/term", "term"),
    ("http://dict.org/hash", "dict.org", "/hash", "hash"),
    ("http://dict.org/ambig/", "dict.org", "/ambig/", "slash"),
    ("http://dict.org/ambig/Term0", "dict.org", "/ambig/Term0", "term"),
]
DICT_SET = {(h, p) for _, h, p, _ in DICT_ROWS}


# path-less and 1-segment-miss surfaces (proxy_logic.py:100-101)
PATHLESS = ["http://dict.org", "https://dict.org", "http://nodict.org", "http://dict.org/zzz"]


def _mentions(spark, surfaces):
    return spark.createDataFrame([(s,) for s in surfaces], "surface string").select(
        F.lit("c").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.xxhash64("surface").alias("mention_id"),
        "surface",
        *parse_iri_cols("surface"),
    )


def load_cases():
    with open(TSV) as f:
        rows = list(csv.DictReader(f, delimiter="\t"))
    return [r for r in rows if r["enabled"] == "true"]


CASES = load_cases()


def test_tsv_has_disabled_row_filtering():
    with open(TSV) as f:
        total = len(list(csv.DictReader(f, delimiter="\t")))
    assert len(CASES) == total - 1


@pytest.mark.parametrize("case", CASES, ids=[c["surface_iri"] for c in CASES])
def test_pure_spec_matches_golden(case):
    _, host, path, _frag = split_iri(case["surface_iri"])
    ok, canonical, rung = resolve_membership(host, path, DICT_SET)
    assert ok == (case["expected_in_dict"] == "true"), case["comment"]
    if ok:
        assert canonical == case["expected_canonical_path"], case["comment"]
        assert rung == int(case["expected_rung"]), case["comment"]


def test_spark_path_matches_golden(spark):
    from kgtm.link import link_mentions

    index = spark.createDataFrame(DICT_ROWS, ONTOLOGY_INDEX_SCHEMA)
    mentions = _mentions(spark, [c["surface_iri"] for c in CASES])
    got = {r.surface: r for r in link_mentions(mentions, index).collect()}
    for c in CASES:
        r = got[c["surface_iri"]]
        assert r.is_linked == (c["expected_in_dict"] == "true"), c["comment"]
        if r.is_linked:
            assert r.canonical_path == c["expected_canonical_path"], c["comment"]
            assert r.rung == int(c["expected_rung"]), c["comment"]


def test_broadcast_ladder_matches_golden(spark):
    """link.broadcast_ladder_link over a non-literal dictionary — six
    rung-keyed broadcast lookups plus a host join, the large-dictionary and
    streaming path — must agree with the golden corpus and with
    link_mentions row-for-row, including path-less host-only matches."""
    from kgtm.link import broadcast_ladder_link, link_mentions

    index = spark.createDataFrame(DICT_ROWS, ONTOLOGY_INDEX_SCHEMA)
    mentions = _mentions(spark, [c["surface_iri"] for c in CASES] + PATHLESS)
    cols = ["surface", "is_linked", "ontology_iri", "canonical_path", "rung"]
    got = {r.surface: r for r in broadcast_ladder_link(mentions, index).select(*cols).collect()}
    for c in CASES:
        r = got[c["surface_iri"]]
        assert r.is_linked == (c["expected_in_dict"] == "true"), c["comment"]
        if r.is_linked:
            assert r.canonical_path == c["expected_canonical_path"], c["comment"]
            assert r.rung == int(c["expected_rung"]), c["comment"]
    assert got["http://dict.org"].is_linked and got["http://dict.org"].rung == 0
    assert got["http://dict.org"].ontology_iri is None
    assert not got["http://nodict.org"].is_linked
    assert not got["http://dict.org/zzz"].is_linked
    # full-row agreement with the min-rung groupBy formulation
    want = sorted(map(tuple, link_mentions(mentions, index).select(*cols).collect()))
    assert sorted(map(tuple, (r for r in got.values()))) == want


def test_pathless_host_only_match(spark):
    """proxy_logic.py:100-101: a path-less request matches on host alone
    (membership true, no canonical write-back, no specific ontology)."""
    from kgtm.link import link_mentions
    from kgtm.transcripts import local_index_df

    assert resolve_membership("dict.org", "", DICT_SET) == (True, None, 0)
    assert resolve_membership("nodict.org", "", DICT_SET)[0] is False

    index = spark.createDataFrame(DICT_ROWS, ONTOLOGY_INDEX_SCHEMA)
    mentions = _mentions(spark, PATHLESS)
    got = {r.surface: r for r in link_mentions(mentions, index).collect()}
    assert got["http://dict.org"].is_linked and got["http://dict.org"].rung == 0
    assert got["http://dict.org"].ontology_iri is None
    assert got["https://dict.org"].is_linked
    assert not got["http://nodict.org"].is_linked
    assert not got["http://dict.org/zzz"].is_linked  # "" rung never host-matches

    # the literal-fold plan (a plan-literal dictionary) agrees with the
    # broadcast-join plan on every golden and path-less case
    mentions = _mentions(spark, [c["surface_iri"] for c in CASES] + PATHLESS)
    lit = link_mentions(mentions, local_index_df(spark, DICT_ROWS))
    bc = link_mentions(mentions, index)
    assert lit.schema == bc.schema
    assert lit.exceptAll(bc).count() == 0
    assert bc.exceptAll(lit).count() == 0
