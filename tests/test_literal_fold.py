"""The small-dim literal fold (session.local_literal_rows + map_literal):
inputs the public API accepts must give the same rows and schema on the
literal plan as on the broadcast-join plan, or fail the same way."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.errors import AnalysisException

from kgtm.link import link_mentions
from kgtm.resolve import attach_reduced_snapshots, resolve_links
from kgtm.schemas import ONTOLOGY_INDEX_SCHEMA
from kgtm.session import local_literal_rows
from kgtm.transcripts import local_index_df, ontology_snapshot_rows, ontology_snapshots_df

SNAP_SCHEMA = "ontology_iri string, version_ts timestamp, snapshot_iri string, file_url string"


def _linked(spark):
    iri = ontology_snapshot_rows()[0][0]
    return spark.createDataFrame(
        [("m1", True, iri), ("m2", False, None), ("m3", True, "http://nope")],
        "mention_id string, is_linked boolean, ontology_iri string",
    )


def _both_ways(a, b):
    assert a.schema == b.schema  # names, order, types and nullability
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_all_null_literal_snapshots_keep_their_types(spark):
    """A plan-literal snapshot table whose snapshot_iri/file_url are all
    NULL attaches string columns, as the join path does — not void."""
    iri = ontology_snapshot_rows()[0][0]
    lit = spark.sql(
        f"SELECT * FROM (VALUES ('{iri}', TIMESTAMP '2024-01-15 08:30:00', "
        "CAST(NULL AS STRING), CAST(NULL AS STRING))) "
        "AS s(ontology_iri, version_ts, snapshot_iri, file_url)"
    )
    join = spark.createDataFrame(lit.collect(), SNAP_SCHEMA)
    got = attach_reduced_snapshots(_linked(spark), lit)
    assert dict(got.dtypes)["snapshot_iri"] == "string"
    _both_ways(got, attach_reduced_snapshots(_linked(spark), join))


def test_tz_aware_pin_matches_join_path(spark):
    """A tz-aware timestampArchived pin means the same instant on both
    plans. The pin is one second before a snapshot, written in UTC+5: read
    as a naive wall time it would wrongly admit that snapshot."""
    snap_ts = ontology_snapshot_rows()[0][1]  # naive; the session reads it as UTC
    pin = (snap_ts.replace(tzinfo=dt.timezone.utc) - dt.timedelta(seconds=1)).astimezone(
        dt.timezone(dt.timedelta(hours=5))
    )
    lit_snaps = ontology_snapshots_df(spark)
    join_snaps = spark.createDataFrame(lit_snaps.collect(), lit_snaps.schema)
    got = resolve_links(_linked(spark), lit_snaps, "timestampArchived", pin)
    _both_ways(got, resolve_links(_linked(spark), join_snaps, "timestampArchived", pin))
    assert got.filter("mention_id = 'm1'").first().source == "not-found"


def test_local_index_df_round_trips_backslashes_and_quotes(spark):
    rows = [("http://h/a\\b", "h\\x", "/a\\b'c", "term\\"), ("http://h/d", "h", "/\\\\", "t")]
    assert [tuple(r) for r in local_index_df(spark, rows).collect()] == rows


def test_literal_index_missing_column_raises_like_join_path(spark):
    """A dictionary without ontology_iri is rejected on both plans; the
    literal guard does not quietly fall back."""
    mentions = spark.createDataFrame(
        [("m", "c", 0, "http://h/a", "h", "/a")],
        "mention_id string, conv_id string, turn_idx int, surface string, host string, path string",
    )
    rows = [("http://h/a", "h", "/a", "term")]
    lit = local_index_df(spark, rows).drop("ontology_iri")
    join = spark.createDataFrame(rows, ONTOLOGY_INDEX_SCHEMA).drop("ontology_iri")
    with pytest.raises(AnalysisException):
        local_literal_rows(lit, ["host", "path", "ontology_iri"])
    for index in (lit, join):
        with pytest.raises(AnalysisException):
            link_mentions(mentions, index)
