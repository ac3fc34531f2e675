"""Transcript sources.

Two ways to get a transcripts table of the canonical shape
(conv_id, turn_idx, role, text, tool, ts — BASELINE.json input_hint):

1. ``events_to_transcripts`` — deterministic adapter over the driver's
   ``events`` parquet (event_id, ts, user_id, event_type, value, props),
   per FIXTURES.md §"Driver testdata mapping". It also *plants* surface-IRI
   mentions in the text deterministically (variant chosen by the numeric
   payload in props), so the full KG pipeline has linkable mentions whose
   expected behavior is oracle-checkable in ANSI SQL. The SQL fragments used
   by __spark_entry__.oracle_sql() live here too (DUCKDB_* constants) so the
   two stay in lockstep.

2. ``kgtm.synth.generate_transcripts`` — the seeded synthetic corpus with
   golden triples (P/R gate).

The planted-variant scheme mirrors the reference's test IRI shapes
(/root/reference/tests/archivo_test_IRIs.tsv: iri_type ∈ {hash, slash, term})
and exercises ladder rungs 0/1/2 plus scheme-flip:

  k % 4 == 0 → exact dictionary IRI             (rung 0)
  k % 4 == 1 → trailing slash                    (rung 1)
  k % 4 == 2 → term under the ontology path      (rung 2, "slash" iri_type)
  k % 4 == 3 → https scheme flip of the exact IRI (scheme-agnostic key)
  k % 10 == 9 → additionally an UNKNOWN host     (deny/unlinked path,
                proxy_logic.py:39-44)
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DICT_HOST = "onto.example.org"
UNKNOWN_HOST = "unknown.example.net"
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# ---------------------------------------------------------------------------
# events → transcripts (the planted-mention adapter)
# ---------------------------------------------------------------------------

# Shared text template — the Spark and DuckDB forms MUST stay equivalent.
#   k      = first integer in props
#   variant= k % 4 ; unknown host when k % 10 = 9
# text = 'the agent uses <iri> while discussing <event_type> k=<k>'


def events_to_transcripts(
    events: DataFrame, key_by_conv: bool = False
) -> DataFrame:
    """Deterministic transcripts view over the events table.

    turn_idx is a dense 0-based row_number per user ordered by (ts, event_id):
    one shuffle on user_id, which is also the partitioning the downstream
    turn-assembly wants — the exchange is reused, not repeated.

    Round-7 plan shape (guide §2.3/§2.4, measured 3.98 s → 2.30 s on the
    x30-amplified sf0.1 corpus):

      * PROJECT BEFORE THE EXCHANGE: only the five narrow columns the
        output derives from cross the wire — the source parquet is a single
        row group, so the map side of this exchange is ONE task and every
        byte it serializes is serial wall-clock (dropping ``value`` + the
        rest ≈ halves the payload). ``props`` itself ships (avg 9 chars)
        and the ``k`` regexp runs ONCE per row on the parallel reduce side:
        extracting k below the exchange was measured 0.55 s SLOWER at
        amplify=30 because the regex then executes inside the serial map
        task (1.92 s vs 1.37 s for the narrow+repartition stage).
      * EXPLICIT ``repartition("user_id")`` instead of relying on the
        window's implicit exchange: the window's requirement (hash on
        user_id) is satisfied by it, so the plan cost is identical when
        turn_idx is consumed — but when a downstream plan PRUNES turn_idx
        (build_triples persists only conv_id/subj/pred/obj), Catalyst
        removes the Window AND its exchange, and without this explicit
        repartition the whole text build + SVO regex ran single-task in
        the scan stage (measured: the persist-free flagship count was 18 s
        serial vs ~1 s parallel at amplify=30).
    """
    k = F.coalesce(
        F.regexp_extract("props", r"([0-9]+)", 1).try_cast("long"), F.lit(0)
    )
    # ``key_by_conv``: exchange + window keyed by the conv_id STRING instead
    # of user_id. conv_id is an injective function of user_id, so the
    # partitions (and thus turn_idx) are identical — but a downstream
    # groupBy("conv_id") (turn assembly) then REUSES this exchange instead
    # of re-shuffling (guide §2.4; measured 0.38 -> 0.27 s, plan 2
    # exchanges -> 1, outputs identical). Off by default: the string key
    # costs ~5 extra serialized bytes/row on the map side, which the
    # amplified flagship's single-task exchange measurably pays.
    key = (
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id")
        if key_by_conv
        else F.col("user_id")
    )
    key_name = "conv_id" if key_by_conv else "user_id"
    narrow = (
        events.select(key, "ts", "event_id", "event_type", "props")
        .repartition(key_name)
        .select(key_name, "ts", "event_id", "event_type", k.alias("k"))
    )
    kk = F.col("k")
    host = F.when(kk % 10 == 9, F.lit(UNKNOWN_HOST)).otherwise(F.lit(DICT_HOST))
    base = F.concat(F.lit("http://"), host, F.lit("/"), F.col("event_type"))
    variant = kk % 4
    iri = (
        F.when(variant == 1, F.concat(base, F.lit("/")))
        .when(variant == 2, F.concat(base, F.lit("/Term"), (kk % 7).cast("string")))
        .when(variant == 3, F.concat(F.lit("https://"), host, F.lit("/"), F.col("event_type")))
        .otherwise(base)
    )
    w = Window.partitionBy(key_name).orderBy("ts", "event_id")
    conv_out = (
        F.col("conv_id")
        if key_by_conv
        else F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias(
            "conv_id"
        )
    )
    return narrow.select(
        conv_out,
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.concat(
            F.lit("the agent uses "),
            iri,
            F.lit(" while discussing "),
            F.col("event_type"),
            F.lit(" k="),
            kk.cast("string"),
        ).alias("text"),
        F.when(F.col("event_type") == "error", F.lit("debugger")).alias("tool"),
        F.col("ts"),
    )


# DuckDB twin of events_to_transcripts (a CTE body; expects view `events`).
DUCKDB_TRANSCRIPTS_CTE = """
  transcripts AS (
    SELECT
      'conv-' || CAST(user_id AS VARCHAR) AS conv_id,
      CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
      event_type AS role,
      'the agent uses '
        || CASE (k % 4)
             WHEN 1 THEN 'http://' || host || '/' || event_type || '/'
             WHEN 2 THEN 'http://' || host || '/' || event_type || '/Term' || CAST(k % 7 AS VARCHAR)
             WHEN 3 THEN 'https://' || host || '/' || event_type
             ELSE 'http://' || host || '/' || event_type
           END
        || ' while discussing ' || event_type || ' k=' || CAST(k AS VARCHAR) AS text,
      CASE WHEN event_type = 'error' THEN 'debugger' END AS tool,
      ts
    FROM (
      SELECT *,
        COALESCE(TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT), 0) AS k,
        CASE WHEN COALESCE(TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT), 0) % 10 = 9
             THEN 'unknown.example.net' ELSE 'onto.example.org' END AS host
      FROM events
    )
  )
"""

# ---------------------------------------------------------------------------
# Inline ontology dictionary + snapshots (deterministic constants)
# ---------------------------------------------------------------------------

_SNAPSHOT_STAMPS = ["2024.01.15-083000", "2024.06.01-120000", "2024.12.31-233000"]


def _stamp_to_ts(stamp: str) -> dt.datetime:
    return dt.datetime.strptime(stamp, "%Y.%m.%d-%H%M%S")


def ontology_index_rows() -> list[tuple[str, str, str, str]]:
    return [
        (f"http://{DICT_HOST}/{et}", DICT_HOST, f"/{et}", "slash")
        for et in EVENT_TYPES
    ]


def _snapshot_iri(et: str, stamp: str) -> str:
    return f"https://databus.example.org/ontologies/{DICT_HOST}/{et}/{stamp}"


def _n_versions(et: str) -> int:
    # Deterministic per-ontology version count: 'click' 1, 'error' 2, rest 3
    return {"click": 1, "error": 2}.get(et, 3)


def ontology_snapshot_rows() -> list[tuple]:
    rows = []
    for i, et in enumerate(EVENT_TYPES):
        iri = f"http://{DICT_HOST}/{et}"
        for stamp in _SNAPSHOT_STAMPS[: _n_versions(et)]:
            # dependency chain: each snapshot depends on the SAME-stamp
            # snapshot of the previous event-type ontology, when it exists
            # (models tests/dependency.ttl's versioned dep edges)
            deps = []
            if i > 0:
                prev = EVENT_TYPES[i - 1]
                if stamp in _SNAPSHOT_STAMPS[: _n_versions(prev)]:
                    deps.append(_snapshot_iri(prev, stamp))
            rows.append(
                (
                    iri,
                    _stamp_to_ts(stamp),
                    _snapshot_iri(et, stamp),
                    f"https://archivo.example.org/download?o={iri}&f=ttl&v={stamp}",
                    deps,
                )
            )
    return rows


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal. The parser reads a backslash as
    an escape, so backslashes are doubled, as are single quotes."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def local_index_df(spark: SparkSession, rows: list[tuple[str, str, str, str]]) -> DataFrame:
    """Ontology-index rows as a driver-local plan LITERAL (LocalRelation).

    Round 7 (guide §1 measured): ``spark.createDataFrame(rows, schema)``
    parallelizes even 5 literal rows into defaultParallelism Python tasks,
    so every dim build ran a 32-task Python-runner job (~0.3 s per query —
    and do NOT coalesce(1) it either: a no-shuffle coalesce makes ONE task
    pull all 32 parent partitions sequentially, ~3.3 s, measured). An inline
    ``VALUES`` table resolves to a LocalRelation — no RDD, no Python tasks,
    no scan stage at all (measured 0.32 s → 0.05 s per dim build) — and it
    is what arms the literal-probe fast paths in kgtm.link / kgtm.resolve
    (session.local_literal_rows).
    """
    vals = ",\n".join(
        f"({_sql_str(iri)}, {_sql_str(h)}, {_sql_str(p)}, {_sql_str(t)})"
        for iri, h, p, t in rows
    )
    return spark.sql(
        f"SELECT * FROM (VALUES\n{vals}) AS ontology_index(ontology_iri, host, path, iri_type)"
    )


def ontology_index_df(spark: SparkSession) -> DataFrame:
    return local_index_df(spark, ontology_index_rows())


def ontology_snapshots_df(spark: SparkSession) -> DataFrame:
    # Same LocalRelation rationale as local_index_df. deps arrays are
    # foldable array(...) expressions, so the inline table still resolves
    # to a LocalRelation (empty deps need an explicit element type).
    def deps_sql(deps: list[str]) -> str:
        if not deps:
            return "CAST(array() AS ARRAY<STRING>)"
        return "array(" + ", ".join(_sql_str(d) for d in deps) + ")"

    vals = ",\n".join(
        f"({_sql_str(iri)}, TIMESTAMP '{ts.isoformat(sep=' ')}', "
        f"{_sql_str(snap)}, {_sql_str(url)}, {deps_sql(deps)})"
        for iri, ts, snap, url, deps in ontology_snapshot_rows()
    )
    return spark.sql(
        "SELECT * FROM (VALUES\n"
        f"{vals}) AS snapshots(ontology_iri, version_ts, snapshot_iri, file_url, deps)"
    )


def mutated_index_rows() -> list[tuple[str, str, str, str]]:
    """The canonical dictionary-change scenario shared by the index_diff and
    incremental_relink gate queries: /click removed, /newone added."""
    rows = [r for r in ontology_index_rows() if not r[0].endswith("/click")]
    rows.append((f"http://{DICT_HOST}/newone", DICT_HOST, "/newone", "term"))
    return rows


def duckdb_index_values(
    rows: list[tuple[str, str, str, str]] | None = None,
) -> str:
    """(VALUES ...) AS ontology_index(ontology_iri, host, path, iri_type)."""
    vals = ",\n      ".join(
        f"('{iri}', '{h}', '{p}', '{t}')"
        for iri, h, p, t in (rows if rows is not None else ontology_index_rows())
    )
    return f"(VALUES\n      {vals}) AS ontology_index(ontology_iri, host, path, iri_type)"


def duckdb_snapshots_values() -> str:
    """(VALUES ...) AS snapshots(ontology_iri, version_ts, snapshot_iri, file_url)."""
    vals = ",\n      ".join(
        f"('{iri}', TIMESTAMP '{ts.isoformat(sep=' ')}', '{snap}', '{url}')"
        for iri, ts, snap, url, _deps in ontology_snapshot_rows()
    )
    return (
        f"(VALUES\n      {vals}) AS snapshots(ontology_iri, version_ts, snapshot_iri, file_url)"
    )
