"""Extraction, linking (first-hit-wins at scale), version resolution, the
restricted-access deny gate, failover and incremental re-linking."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgtm.extract import (
    extract_mentions,
    extract_triples,
    make_gazetteer_matcher,
)
from kgtm.link import deny_unlinked, link_mentions
from kgtm.oracles import MENTION_LINK_CTES
from kgtm.pipeline import PipelineConfig, build_triples
from kgtm.resolve import asof_snapshots, latest_snapshots, resolve_links
from kgtm.schemas import (
    ONTOLOGY_INDEX_SCHEMA,
    ONTOLOGY_SNAPSHOTS_SCHEMA,
    TRANSCRIPTS_SCHEMA,
)
from kgtm.transcripts import events_to_transcripts, ontology_index_df, ontology_snapshots_df


# ---------------------------------------------------------------------------
# extraction: codegen SVO triples, and the gazetteer's pure UDF body
# ---------------------------------------------------------------------------


def test_extract_triples_svo_cases(spark):
    texts = [
        "Alice uses http://ex.org/onto today",
        "foo imports Bar and baz extends http://ex.org/b",
        "nothing here",
        None,
    ]
    turns = spark.createDataFrame(
        [("c0", i, t) for i, t in enumerate(texts)],
        "conv_id string, turn_idx int, text string",
    )
    out = {}
    for r in extract_triples(turns).collect():
        out.setdefault(r.turn_idx, []).append((r.subj, r.pred, r.obj, r.conf))
    assert out[0] == [("Alice", "uses", "http://ex.org/onto", 1.0)]
    assert sorted(out[1]) == [
        ("baz", "extends", "http://ex.org/b", 1.0),
        ("foo", "imports", "Bar", 1.0),
    ]
    assert 2 not in out and 3 not in out  # no match, NULL text: no rows


def test_gazetteer_matcher_pure():
    m = make_gazetteer_matcher(["FOAF", "Dublin Core"])
    out = m(pd.Series(["I like FOAF and Dublin Core", "foafish none"])).tolist()
    assert out[0] == ["FOAF", "Dublin Core"]
    assert out[1] == []  # whole-word boundary


# ---------------------------------------------------------------------------
# linking: set-oriented first-hit-wins
# ---------------------------------------------------------------------------


def _mentions_df(spark, iris):
    rows = [(f"c0", 0, i) for i in iris]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, surface string")
    from kgtm.normalize import parse_iri_cols

    return df.select(
        "conv_id",
        "turn_idx",
        F.xxhash64("surface").alias("mention_id"),
        "surface",
        *parse_iri_cols("surface"),
    )


def test_link_first_hit_wins_multi_rung_conflict(spark):
    """Two dictionary entries match different rungs → min rung must win
    (the SURVEY §7 proof obligation)."""
    index = spark.createDataFrame(
        [
            ("http://h/onto/Term", "h", "/onto/Term", "term"),
            ("http://h/onto", "h", "/onto", "slash"),
        ],
        ONTOLOGY_INDEX_SCHEMA,
    )
    m = _mentions_df(spark, ["http://h/onto/Term"])
    out = link_mentions(m, index).collect()[0]
    assert out.is_linked and out.rung == 0
    assert out.ontology_iri == "http://h/onto/Term"
    assert out.canonical_path == "/onto/Term"

    # remove the exact entry → rung 2 parent should win and canonicalize
    index2 = index.filter(F.col("path") != "/onto/Term")
    out2 = link_mentions(m, index2).collect()[0]
    assert out2.is_linked and out2.rung == 2
    assert out2.canonical_path == "/onto"


def test_link_unlinked_and_deny(spark):
    index = ontology_index_df(spark)
    m = _mentions_df(spark, ["http://nowhere.net/x", "http://onto.example.org/view"])
    linked = link_mentions(m, index)
    out = {r.surface: r for r in deny_unlinked(linked, True).collect()}
    assert out["http://nowhere.net/x"].outcome == "denied"
    assert out["http://onto.example.org/view"].outcome == "linked"
    out2 = {r.surface: r for r in deny_unlinked(linked, False).collect()}
    assert out2["http://nowhere.net/x"].outcome == "unlinked"


# ---------------------------------------------------------------------------
# version resolution
# ---------------------------------------------------------------------------


def _snaps(spark):
    def ts(s):
        return dt.datetime.strptime(s, "%Y.%m.%d-%H%M%S")

    rows = [
        ("http://h/a", ts("2024.01.24-215415"), "snap:a:1", "f:a:1", []),
        ("http://h/a", ts("2024.06.01-120000"), "snap:a:2", "f:a:2", []),
        ("http://h/a", ts("2024.12.31-233000"), "snap:a:3", "f:a:3", []),
        ("http://h/b", ts("2024.03.01-000000"), "snap:b:1", "f:b:1", []),
    ]
    return spark.createDataFrame(rows, ONTOLOGY_SNAPSHOTS_SCHEMA)


def test_latest_snapshots(spark):
    out = {r.ontology_iri: r for r in latest_snapshots(_snaps(spark)).collect()}
    assert out["http://h/a"].snapshot_iri == "snap:a:3"
    assert out["http://h/b"].snapshot_iri == "snap:b:1"


@pytest.mark.parametrize(
    "pin,expect_a",
    [
        (dt.datetime(2024, 7, 1), "snap:a:2"),      # between snapshots
        (dt.datetime(2024, 1, 24, 21, 54, 15), "snap:a:1"),  # exact match
        (dt.datetime(2023, 1, 1), None),             # before first → miss
        (dt.datetime(2025, 1, 1), "snap:a:3"),       # after last → latest
    ],
)
def test_asof_snapshots(spark, pin, expect_a):
    out = {r.ontology_iri: r.snapshot_iri for r in asof_snapshots(_snaps(spark), pin).collect()}
    assert out.get("http://h/a") == expect_a


def test_resolve_modes(spark):
    index = spark.createDataFrame(
        [("http://h/a", "h", "/a", "slash"), ("http://h/c", "h", "/c", "slash")],
        ONTOLOGY_INDEX_SCHEMA,
    )
    m = _mentions_df(spark, ["http://h/a", "http://h/a/", "http://h/c", "http://h/zz"])
    linked = link_mentions(m, index)
    snaps = _snaps(spark)

    latest = {r.surface: r for r in resolve_links(linked, snaps, "latestArchived").collect()}
    assert latest["http://h/a"].source == "archivo-latest"
    assert latest["http://h/a"].snapshot_iri == "snap:a:3"
    assert latest["http://h/c"].source == "not-found"  # in dict, no snapshots → 404 analog
    assert latest["http://h/zz"].source == "unlinked"

    pinned = {
        r.surface: r
        for r in resolve_links(
            linked, snaps, "timestampArchived", dt.datetime(2024, 7, 1)
        ).collect()
    }
    assert pinned["http://h/a"].snapshot_iri == "snap:a:2"
    assert pinned["http://h/a"].source == "archivo-timestamp"

    orig = {r.surface: r for r in resolve_links(linked, snaps, "original").collect()}
    assert orig["http://h/a"].source == "original"
    assert orig["http://h/a"].snapshot_iri is None

    # failover needs the live-leg columns — faithful gate (proxy_logic.py:
    # 209-238): status ∈ passthrough whitelist ∧ content-type ∈ Accept mimes
    with pytest.raises(ValueError, match="live-leg columns"):
        resolve_links(linked, snaps, "originalFailoverLiveLatest")

    live = {
        # surface → (status, content_type, accept)
        "http://h/a": (200, "text/turtle; charset=utf-8", "text/turtle"),  # live ok
        "http://h/a/": (500, "text/turtle", "text/turtle"),  # bad status → archived
        "http://h/c": (200, "application/json", "text/turtle"),  # mime mismatch; no snaps → not-found
        "http://h/zz": (200, "text/turtle", "text/turtle"),  # unlinked stays unlinked
    }
    rows = [(s, *live[s]) for s in live]
    live_df = spark.createDataFrame(
        rows, "surface string, live_status int, live_content_type string, accept_header string"
    )
    fo = {
        r.surface: r
        for r in resolve_links(
            linked.join(live_df, "surface"), snaps, "originalFailoverLiveLatest"
        ).collect()
    }
    assert fo["http://h/a"].source == "original"
    assert fo["http://h/a"].snapshot_iri is None  # live response carries no snapshot
    assert fo["http://h/a/"].source == "archivo-latest"
    assert fo["http://h/a/"].snapshot_iri == "snap:a:3"
    assert fo["http://h/c"].source == "not-found"
    assert fo["http://h/zz"].source == "unlinked"

    # status passes but Content-Type is not among the requested mimetypes
    mismatch = spark.createDataFrame(
        [("http://h/a", 200, "text/html", "text/turtle,application/n-triples;q=0.5")],
        "surface string, live_status int, live_content_type string, accept_header string",
    )
    fo2 = resolve_links(
        linked.join(mismatch, "surface"), snaps, "originalFailoverLiveLatest"
    ).collect()
    assert fo2[0].source == "archivo-latest" and fo2[0].snapshot_iri == "snap:a:3"

    with pytest.raises(ValueError):
        resolve_links(linked, snaps, "bogus")
    with pytest.raises(ValueError):
        resolve_links(linked, snaps, "timestampArchived", None)


# ---------------------------------------------------------------------------
# end-to-end on driver testdata
# ---------------------------------------------------------------------------


def test_extract_mentions_on_events(spark, events):
    tr = events_to_transcripts(events)
    m = extract_mentions(tr)
    assert m.count() == events.count()  # exactly one planted IRI per turn
    # deterministic mention ids (stable across partitionings)
    a = sorted(r.mention_id for r in m.collect())
    b = sorted(r.mention_id for r in extract_mentions(tr.repartition(7)).collect())
    assert a == b


def test_extract_triples_on_events(spark, events):
    tr = events_to_transcripts(events)
    t = extract_triples(tr)
    rows = t.collect()
    assert len(rows) == events.count()
    assert all(r.subj == "agent" and r.pred == "uses" for r in rows)


def test_archivo_api_url_assembly(spark):
    """C8: f"{archivo_api}?o={iri}&f={fmt}[&v={ts}]" (proxy_logic.py:251,271)."""
    import datetime as dt

    from kgtm.resolve import archivo_api_url_col, version_stamp_col

    df = spark.createDataFrame(
        [("http://h/a", "ttl", dt.datetime(2024, 1, 24, 21, 54, 15))],
        "ontology_iri string, format string, version_ts timestamp",
    )
    row = df.select(
        archivo_api_url_col().alias("latest_url"),
        archivo_api_url_col(version_stamp=version_stamp_col()).alias("pinned_url"),
    ).collect()[0]
    assert row.latest_url == "https://archivo.dbpedia.org/download?o=http://h/a&f=ttl"
    assert (
        row.pinned_url
        == "https://archivo.dbpedia.org/download?o=http://h/a&f=ttl&v=2024.01.24-215415"
    )
    # NULL format propagates (early-format-gate 500 analog)
    df2 = spark.createDataFrame([("http://h/a", None)], "ontology_iri string, format string")
    assert df2.select(archivo_api_url_col().alias("u")).collect()[0].u is None


# ---------------------------------------------------------------------------
# restrictedAccess deny gate: membership, not snapshot presence
# ---------------------------------------------------------------------------


def _mini_world(spark):
    import datetime as dt

    tr = spark.createDataFrame(
        [
            ("c1", 0, "user", "agent uses http://h/a now", None, dt.datetime(2024, 1, 1)),
            ("c1", 1, "user", "agent uses http://h/nosnap now", None, dt.datetime(2024, 1, 1)),
            ("c1", 2, "user", "agent uses http://evil.example/x now", None, dt.datetime(2024, 1, 1)),
        ],
        TRANSCRIPTS_SCHEMA,
    )
    idx = spark.createDataFrame(
        [("http://h/a", "h", "/a", "slash"), ("http://h/nosnap", "h", "/nosnap", "slash")],
        ONTOLOGY_INDEX_SCHEMA,
    )
    snaps = spark.createDataFrame(
        [("http://h/a", dt.datetime(2024, 6, 1), "snap:a", "url:a", [])],
        ONTOLOGY_SNAPSHOTS_SCHEMA,
    )
    return tr, idx, snaps


def test_restricted_access_denies_on_membership_only(spark):
    """The reference denies on dictionary membership (proxy_logic.py:39-44):
    a linked ontology with NO archived snapshot is a 404 analog, not a 403 —
    it must survive the deny gate."""
    tr, idx, snaps = _mini_world(spark)
    out = build_triples(
        tr, idx, snaps,
        PipelineConfig(restricted_access=True, persist_intermediate=False),
    ).collect()
    objs = {r.obj for r in out}
    assert "http://h/a" in objs  # linked + snapshot
    assert "http://h/nosnap" in objs  # linked, snapshotless → kept (404, not 403)
    assert not any("evil.example" in o for o in objs)  # non-member → denied


def test_restricted_access_keeps_linked_under_original_mode(spark):
    """onto_version='original' has snapshot_iri NULL for EVERY row by design;
    the old snapshot-presence filter dropped all http objects here."""
    tr, idx, snaps = _mini_world(spark)
    out = build_triples(
        tr, idx, snaps,
        PipelineConfig(
            onto_version="original", restricted_access=True,
            persist_intermediate=False,
        ),
    ).collect()
    objs = {r.obj for r in out}
    assert {"http://h/a", "http://h/nosnap"} <= objs
    assert not any("evil.example" in o for o in objs)


def test_build_triples_failover_with_live_legs(spark):
    """End-to-end failover through the flagship: live-accepted objects keep
    their ORIGINAL surface and no snapshot; rejected live legs fall back to
    the latest archived snapshot."""
    from kgtm.pipeline import PipelineConfig, build_triples

    tr, idx, snaps = _mini_world(spark)
    with pytest.raises(ValueError, match="live_legs"):
        build_triples(
            tr, idx, snaps,
            PipelineConfig(
                onto_version="originalFailoverLiveLatest",
                persist_intermediate=False,
            ),
        )

    live = spark.createDataFrame(
        [
            ("http://h/a", 200, "text/turtle", "text/turtle"),  # live accepted
            ("http://h/nosnap", 500, "text/turtle", "text/turtle"),  # archived; none → not-found
        ],
        "surface string, live_status int, live_content_type string, accept_header string",
    )
    out = build_triples(
        tr, idx, snaps,
        PipelineConfig(
            onto_version="originalFailoverLiveLatest",
            live_legs=live,
            persist_intermediate=False,
        ),
    ).collect()
    by_obj = {r.obj: r for r in out}
    assert by_obj["http://h/a"].source == "original"
    assert by_obj["http://h/a"].obj_snapshot_iri is None
    # linked but live-rejected and snapshotless → not-found outcome
    assert by_obj["http://h/nosnap"].source == "not-found"
    # outside the dictionary entirely → unlinked passthrough
    assert by_obj["http://evil.example/x"].source == "unlinked"


# ---------------------------------------------------------------------------
# multi-IRI-per-turn: engine vs DuckDB mention CTE parity; mention id width
# ---------------------------------------------------------------------------


def test_multi_iri_oracle_parity(spark):
    """The DuckDB mention CTE must extract ALL IRIs per turn (the engine
    does); parity on a turn with 3 IRIs, one of them repeated."""
    import duckdb

    from kgtm.extract import extract_mentions
    from kgtm.link import link_mentions
    from kgtm.transcripts import ontology_index_df

    texts = [
        ("c1", 0, "see http://onto.example.org/view and http://onto.example.org/click/ plus http://unknown.example.net/z"),
        ("c1", 1, "dup http://onto.example.org/view then http://onto.example.org/view again"),
        ("c2", 0, "none here"),
    ]
    tr = spark.createDataFrame(texts, "conv_id string, turn_idx int, text string")
    linked = link_mentions(extract_mentions(tr), ontology_index_df(spark))
    got = sorted(
        (r.conv_id, r.turn_idx, r.surface, r.is_linked, r.ontology_iri)
        for r in linked.collect()
    )

    tr_vals = ",\n".join(
        f"('{c}', {t}, '{x}')" for c, t, x in texts
    )
    # MENTION_LINK_CTES is already rendered (inline dictionary VALUES); only
    # the transcripts CTE is swapped for the literal multi-IRI rows.
    want = sorted(
        tuple(r) for r in duckdb.sql(
            f"""WITH transcripts AS (
                  SELECT * FROM (VALUES {tr_vals}) AS t(conv_id, turn_idx, text)
                ), {MENTION_LINK_CTES}
                SELECT conv_id, turn_idx, surface, is_linked, ontology_iri FROM links
            """
        ).fetchall()
    )
    assert got == want
    # 3 + 2 mentions from the IRI turns (dup IRIs are separate mentions)
    assert len(got) == 5


def test_mention_id_is_128_bit_and_distinct_per_pos(spark):
    from kgtm.extract import extract_mentions

    tr = spark.createDataFrame(
        [("c1", 0, "x http://h/a y http://h/a z")],
        "conv_id string, turn_idx int, text string",
    )
    rows = extract_mentions(tr).collect()
    assert len(rows) == 2
    ids = {r.mention_id for r in rows}
    assert len(ids) == 2  # same surface, different pos → distinct ids
    assert all(isinstance(i, str) and len(i) == 32 for i in ids)


# ---------------------------------------------------------------------------
# incremental re-link (dictionary-delta)
# ---------------------------------------------------------------------------


def test_incremental_relink_equals_full(spark, events):
    from kgtm.extract import extract_mentions
    from kgtm.link import incremental_relink, link_mentions
    from kgtm.transcripts import (
        events_to_transcripts,
        mutated_index_rows,
        ontology_index_df,
    )

    m = extract_mentions(events_to_transcripts(events))
    old = ontology_index_df(spark)
    new = spark.createDataFrame(mutated_index_rows(), old.schema)
    linked_old = link_mentions(m, old)

    inc = incremental_relink(linked_old, old, new)
    full = link_mentions(m, new)
    cols = ["mention_id", "surface", "is_linked", "rung", "ontology_iri", "canonical_path"]
    got = sorted(map(tuple, inc.select(*cols).collect()))
    want = sorted(map(tuple, full.select(*cols).collect()))
    assert got == want

    # the delta actually flipped something: /click mentions lost their link
    by_surface = {r.surface: r for r in inc.collect()}
    clicks = [r for s, r in by_surface.items() if "/click" in s]
    assert clicks and all(not r.is_linked for r in clicks)
    views = [
        r for s, r in by_surface.items() if s.endswith("onto.example.org/view")
    ]
    assert views and all(r.is_linked for r in views)


def test_incremental_relink_rejects_v1_int64_mention_id(spark, events):
    """A linkage table materialized under the old int64 mention_id format
    must fail loudly (re-materialize message), not silently produce ids that
    never join the new string md5 ids."""
    import pytest
    from pyspark.sql import functions as F

    from kgtm.extract import extract_mentions
    from kgtm.link import incremental_relink, link_mentions
    from kgtm.transcripts import (
        events_to_transcripts,
        mutated_index_rows,
        ontology_index_df,
    )

    m = extract_mentions(events_to_transcripts(events))
    old = ontology_index_df(spark)
    new = spark.createDataFrame(mutated_index_rows(), old.schema)
    v1_linked = link_mentions(m, old).withColumn(
        "mention_id", F.xxhash64("conv_id", "turn_idx", "surface")
    )
    with pytest.raises(TypeError, match="re-materialize"):
        incremental_relink(v1_linked, old, new)


def test_incremental_relink_detects_repointed_entry(spark, events):
    """An index entry re-pointed to a DIFFERENT ontology IRI keeps its
    (host, path) key — the delta detection must still flag it."""
    from kgtm.extract import extract_mentions
    from kgtm.link import incremental_relink, link_mentions
    from kgtm.transcripts import events_to_transcripts, ontology_index_df

    m = extract_mentions(events_to_transcripts(events))
    old = ontology_index_df(spark)
    new = old.withColumn(
        "ontology_iri",
        F.when(
            F.col("path") == "/view", F.lit("http://onto.example.org/view-v2")
        ).otherwise(F.col("ontology_iri")),
    )
    linked_old = link_mentions(m, old).localCheckpoint(eager=True)
    inc = incremental_relink(linked_old, old, new)
    full = link_mentions(m, new)
    cols = ["mention_id", "is_linked", "ontology_iri"]
    assert sorted(map(tuple, inc.select(*cols).collect())) == sorted(
        map(tuple, full.select(*cols).collect())
    )
    assert (
        inc.filter(F.col("ontology_iri") == "http://onto.example.org/view-v2").count()
        > 0
    )
