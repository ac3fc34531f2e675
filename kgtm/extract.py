"""Mention detection + OpenIE-style triple extraction.

The reference's extraction ancestor is the experiments harness: shell out to
``rapper`` per file, parse to N-Triples, count triples, check the requested
IRI appears in subject position (/root/reference/experiments/
parse_ontologies.py:13-92). Here the unit is a transcript turn instead of an
ontology file, and extraction is:

  * mention detection — IRIs in text. Hot path is a pure column expression
    (regexp_extract_all stays inside codegen); there is also a vectorized
    pandas-UDF gazetteer matcher for non-IRI surface forms.
  * triple extraction — rule-based SVO over sentences, also a pure column
    expression (one regexp_extract_all span capture, split into subj/pred/
    obj), so the whole scan stays in codegen.

UDF *bodies* are pure pd.Series → pd.Series functions, importable and
unit-testable without Spark (SURVEY.md §5).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from kgtm.normalize import parse_iri_cols

IRI_REGEX = r"https?://[A-Za-z0-9.\-]+(?:/[A-Za-z0-9./#_\-]*)?"

# Possessive twin of IRI_REGEX for the JVM codegen hot paths (round 7):
# ++/*+/?+ pin each quantifier to its maximal run, eliminating backtracking
# state. EQUIVALENT here, not just similar: every possessive class is
# disjoint from the character the pattern requires next (host/path classes
# exclude whitespace and '/', \s excludes letters), so no shorter run can
# ever succeed where the maximal one fails — verified output-identical on
# the sf0.1 corpus and pinned by the SVO extraction tests.
# Measured: amplified span extraction 1.91 s -> 1.74 s.
IRI_REGEX_P = r"https?://[A-Za-z0-9.\-]++(?:/[A-Za-z0-9./#_\-]*+)?+"

# Verb lexicon for the rule-based SVO extractor (co-designed with kgtm.synth's
# planted relation sentences but a separate code path — the golden triples are
# planted at generation time, never derived from this extractor).
SVO_VERBS = [
    "uses",
    "imports",
    "extends",
    "references",
    "defines",
    "deprecates",
    "replaces",
]

# ---------------------------------------------------------------------------
# Mention detection — column-expression hot path
# ---------------------------------------------------------------------------


def iri_mentions_col(text: str | Column = "text") -> Column:
    """array<string> of IRIs found in a text column (pure codegen expr)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(t, F.lit(f"({IRI_REGEX_P})"), 1)


def mention_id_col() -> Column:
    """128-bit deterministic mention id over the natural provenance key
    (conv_id, turn_idx, pos, surface) — collision-safe at 10^12 mentions.
    \\x1f separators make the concat injective for these columns.

    ID-FORMAT v2 (BREAKING vs v1): string md5 hex, not the v1 int64
    xxhash64 — v1 ids had ~10^4 expected birthday collisions at 10^12
    mentions. Tables materialized under v1 neither join nor schema-match v2
    output; re-materialize them (incremental_relink detects the old int64
    column and fails with that instruction rather than silently mismatching).
    """
    return F.md5(
        F.concat_ws(
            "\x1f",
            F.col("conv_id"),
            F.col("turn_idx").cast("string"),
            F.col("pos").cast("string"),
            F.col("surface"),
        )
    )


def extract_mentions(
    transcripts: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """One row per detected IRI mention with parsed (scheme, host, path, frag).

    mention_id is deterministic (no monotonically_increasing_id — that value
    changes with partitioning and would break resume/idempotence): a 128-bit
    hash of the provenance key (conv_id, turn_idx, position, surface). 128
    bits, not xxhash64: at the advertised 10^12-mention scale a 64-bit id has
    ~10^4 expected birthday collisions, which would silently merge distinct
    mentions in downstream groupBy(mention_id).

    ``carry`` names extra transcript columns to pass through (appended after
    the parsed IRI columns). Round 7: queries that need a per-turn column on
    the mention rows (text/role for the lifecycle/failover/taxonomy paths)
    previously joined the linkage back to the transcript table on
    (conv_id, turn_idx) — since the transcript adapter derives from a window
    over the source events, that join re-ran the full scan+exchange+window a
    SECOND time per query. Carrying the column through the explode costs a
    few extra bytes per mention row and removes the whole second subtree
    (guide §2.4: remove shuffles outright).
    """
    exploded = transcripts.select(
        "conv_id",
        "turn_idx",
        *carry,
        F.posexplode(iri_mentions_col("text")).alias("pos", "surface"),
    )
    return exploded.select(
        "conv_id",
        "turn_idx",
        mention_id_col().alias("mention_id"),
        "surface",
        *parse_iri_cols("surface"),
        *carry,
    )


# ---------------------------------------------------------------------------
# SVO triple extraction — codegen column expressions
# ---------------------------------------------------------------------------

# One capture of the whole "subj pred obj" span: a subject word or IRI, a
# verb from SVO_VERBS, then an IRI or a capitalised word. Subjects/verbs/IRIs
# are space-free tokens, so split-by-space recovers the three groups without
# sub-captures (regexp_extract_all yields one group). Possessive quantifiers
# per IRI_REGEX_P's equivalence note (word classes exclude \s, \s excludes
# verb letters — no backtrack can change a match).
_SVO_SPAN_REGEX = (
    r"((?:[A-Za-z][\w.\-]*+|" + IRI_REGEX_P + r")\s++"
    r"(?:" + "|".join(SVO_VERBS) + r")\s++"
    r"(?:" + IRI_REGEX_P + r"|[A-Z][\w.\-]*+))"
)


def svo_spans_col(text: str | Column = "text") -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(t, F.lit(_SVO_SPAN_REGEX), 1)


def extract_triples(transcripts: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, subj, pred, obj, conf) from per-turn text.

    Pure codegen (regexp_extract_all + explode + split) — zero Python in
    the 100 TB scan. A NULL or match-free text yields no rows.
    """
    spans = transcripts.select(
        "conv_id", "turn_idx", F.explode_outer(svo_spans_col("text")).alias("span")
    ).filter(F.col("span").isNotNull())
    toks = F.split(F.regexp_replace("span", r"\s+", " "), " ")
    return spans.select(
        "conv_id",
        "turn_idx",
        F.get(toks, 0).alias("subj"),
        F.get(toks, 1).alias("pred"),
        F.get(toks, 2).alias("obj"),
        F.lit(1.0).alias("conf"),
    )


# ---------------------------------------------------------------------------
# Gazetteer mention matcher (non-IRI surface forms) — vectorized pandas UDF
# ---------------------------------------------------------------------------


def make_gazetteer_matcher(labels: list[str]):
    """Build a pure UDF body matching any of `labels` as whole words.

    The gazetteer is broadcast-sized (the ontology dictionary is ≤ a few MB —
    download_archivo_urls.py:13); the union regex is compiled once per
    executor, applied per Arrow batch.
    """
    if not labels:
        return lambda texts: pd.Series([[] for _ in range(len(texts))])
    pattern = re.compile(
        r"\b(" + "|".join(sorted(map(re.escape, labels), key=len, reverse=True)) + r")\b"
    )

    def match_series(texts: pd.Series) -> pd.Series:
        return texts.fillna("").str.findall(pattern)

    return match_series


def gazetteer_mentions(
    transcripts: DataFrame, labels: list[str]
) -> DataFrame:
    matcher = make_gazetteer_matcher(labels)
    udf = F.pandas_udf(matcher, ArrayType(StringType()))
    return transcripts.select(
        "conv_id", "turn_idx", F.posexplode(udf(F.col("text"))).alias("pos", "surface")
    ).withColumn("mention_id", mention_id_col())
