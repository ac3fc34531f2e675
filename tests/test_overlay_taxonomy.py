"""Config overlay (B6/B7), effective-accept rewrite (C6), taxonomy (F4-F6)."""

from __future__ import annotations

import base64

from pyspark.sql import functions as F

from kgtm.config_overlay import (
    DEFAULTS,
    auth_config_col,
    overlay_mode_col,
    parse_auth_config,
)
from kgtm.negotiate import effective_accept, effective_accept_col
from kgtm.oracles import AUTH_CASES, EFFECTIVE_ACCEPT_CASES
from kgtm.taxonomy import (
    accessibility_matrix,
    category_col,
    fully_linked_conversations,
    is_rdf_mimetype_col,
)


def _b(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def test_parse_auth_config_pure():
    got = parse_auth_config("basic " + _b("--ontoVersion latestArchived:pw"))
    assert got["onto_version"] == "latestArchived"
    assert got["format"] == DEFAULTS["format"]
    assert parse_auth_config("bearer xyz") is None
    assert parse_auth_config(None) is None
    assert parse_auth_config("basic !!!notb64!!!") is None
    # valid base64, invalid UTF-8; and non-ASCII text where base64 belongs
    assert parse_auth_config("basic " + base64.b64encode(b"\xff\xfe").decode()) is None
    assert parse_auth_config("basic ñ") is None
    got2 = parse_auth_config("basic " + _b("--restrictedAccess:pw"))
    assert got2["restricted"] is True


def test_auth_config_col_matches_golden(spark):
    df = spark.createDataFrame(
        [(cid, hdr) for cid, hdr, *_ in AUTH_CASES], "case_id int, auth_header string"
    )
    cfg = auth_config_col("auth_header")
    rows = {
        r.case_id: r
        for r in df.select(
            "case_id",
            cfg["onto_version"].alias("ov"),
            cfg["format"].alias("fmt"),
            cfg["precedence"].alias("prec"),
            cfg["restricted"].alias("res"),
        ).collect()
    }
    for cid, _hdr, ov, fmt, prec, res in AUTH_CASES:
        r = rows[cid]
        assert (r.ov, r.fmt, r.prec, r.res) == (ov, fmt, prec, res), cid


def test_overlay_mode_col(spark):
    df = spark.createDataFrame(
        [("basic " + _b("--ontoVersion timestampArchived:pw"),), (None,)],
        "auth_header string",
    )
    out = df.select(
        overlay_mode_col(auth_config_col("auth_header"), "latestArchived").alias("m")
    ).collect()
    assert [r.m for r in out] == ["timestampArchived", "latestArchived"]


def test_effective_accept_col_matches_golden(spark):
    df = spark.createDataFrame(
        [(cid, hdr) for cid, hdr, *_ in EFFECTIVE_ACCEPT_CASES],
        "case_id int, accept_header string",
    )
    rows = {
        r.case_id: r
        for r in df.select(
            "case_id",
            effective_accept_col("accept_header", "turtle", "enforcedPriority").alias("e"),
            effective_accept_col("accept_header", "turtle", "always").alias("a"),
        ).collect()
    }
    for cid, hdr, enf, alw in EFFECTIVE_ACCEPT_CASES:
        assert rows[cid].e == enf, (cid, "enforced")
        assert rows[cid].a == alw, (cid, "always")
        # pure spec agrees
        assert effective_accept(hdr, "turtle", "enforcedPriority") == enf or hdr is None
        assert effective_accept(hdr, "turtle", "always") == alw


def test_effective_accept_col_original_no_patch(spark):
    df = spark.createDataFrame([("text/html",)], "accept_header string")
    out = df.select(
        effective_accept_col(
            "accept_header", "turtle", "always", patch_accept_upstream=False,
            onto_version="original",
        ).alias("e")
    ).collect()
    assert out[0].e == "text/html"  # skip branch (utils.py:66-70)


def test_category_and_matrix(spark):
    rows = [
        ("c1", 0, "user", True, 0, "archivo-latest"),
        ("c1", 1, "user", True, 2, "archivo-latest"),
        ("c2", 0, "tool", False, None, "unlinked"),
        ("c2", 1, "tool", True, 0, "not-found"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, is_linked boolean, rung int, source string"
    )
    cats = {(r.conv_id, r.turn_idx): r.cat for r in df.select("conv_id", "turn_idx", category_col().alias("cat")).collect()}
    assert cats[("c1", 0)] == "exact-linked"
    assert cats[("c1", 1)] == "normalized-linked"
    assert cats[("c2", 0)] == "unlinked"
    assert cats[("c2", 1)] == "linked-no-snapshot"

    m = accessibility_matrix(df, pivot_values=["user", "tool"])
    got = {r.category: (r.user, r.tool) for r in m.collect()}
    assert got["exact-linked"] == (1, 0)
    assert got["unlinked"] == (0, 1)

    fl = {r.conv_id: r for r in fully_linked_conversations(df).collect()}
    assert fl["c1"].fully_linked is True
    assert fl["c2"].fully_linked is False


def test_dual_accessibility_matrix(spark):
    """Direct-vs-proxy comparison (aggregate_results.py:154-166): the same
    links resolved without the proxy are all pass-through originals; through
    it they split into the versioned-outcome taxonomy — both visible in one
    pivoted frame with identical per-mode totals."""
    from kgtm.taxonomy import dual_accessibility_matrix

    schema = "is_linked boolean, rung int, source string"
    direct = spark.createDataFrame(
        [(True, 0, "original"), (True, 2, "original"),
         (False, None, "original"), (True, 0, "original")],
        schema,
    )
    proxied = spark.createDataFrame(
        [(True, 0, "archivo-latest"), (True, 2, "archivo-latest"),
         (False, None, "unlinked"), (True, 0, "not-found")],
        schema,
    )
    m = dual_accessibility_matrix(direct, proxied)
    got = {(r.category, r.source): (r.direct, r.proxy) for r in m.collect()}
    assert got[("exact-linked", "original")] == (2, 0)
    assert got[("exact-linked", "archivo-latest")] == (0, 1)
    assert got[("linked-no-snapshot", "not-found")] == (0, 1)
    assert got[("unlinked", "original")] == (1, 0)
    assert got[("unlinked", "unlinked")] == (0, 1)
    assert sum(d for d, _ in got.values()) == sum(p for _, p in got.values()) == 4


def test_is_rdf_mimetype(spark):
    df = spark.createDataFrame([("text/turtle",), ("image/png",)], "mime string")
    out = [r.ok for r in df.select(is_rdf_mimetype_col("mime").alias("ok")).collect()]
    assert out == [True, False]
