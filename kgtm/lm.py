"""Unigram language-model quality scoring (CCNet-style perplexity filter).

Reference scope note: the reference engine (dbpedia/ontology-time-machine)
has no corpus-prep tier; this module extends the LLM-training-data suite.
CCNet/RedPajama-class pipelines score every document against a language
model trained on a trusted corpus and filter (or bucket) by perplexity; a
full KenLM is out of scope for a Spark-native engine with no native deps,
so this is the honest unigram member of that family — deterministic,
cross-engine reproducible, and labeled as exactly what it is. Scores are
mean negative log2 probability per token (``nll_bits`` — bits/token;
perplexity = 2^nll_bits).

Model: p(w) = cnt(w) / N over the model corpus's whitespace tokens
(kgtm.textstats.words_col_guarded — the one tokenization contract shared
with packing/repetition and every DuckDB twin). With a ``top_v`` vocabulary
cap, out-of-vocabulary tokens score at the floor p = 1/N (one pseudo-count
against the full corpus mass); N stays the UNCAPPED total so capping never
rescales in-vocabulary probabilities.

Scale shape (100 TB):

  - model counts: one explode → groupBy(word) shuffle with map-side
    combine (hot stopwords arrive pre-combined);
  - the corpus-total N is a one-row aggregate joined in as a broadcast
    scalar (never a driver collect);
  - ``top_v`` selection is a distributed TakeOrderedAndProject
    (orderBy+limit — NOT a single-partition window), deterministic via the
    (cnt desc, word asc) tie-break;
  - scoring: explode → LEFT JOIN the vocabulary. With ``top_v`` the vocab
    is bounded by construction and EXPLICITLY broadcast — the 10^12-token
    scoring side never shuffles for the lookup; uncapped (oracle mode) it
    is a plain shuffle join, AQE-safe because the vocab side holds one row
    per word. One final groupBy(doc_id) folds the per-token bits.

Docs with zero tokens have no rows to score and are omitted (same GROUP BY
semantics in the DuckDB twin, kgtm.oracles.q_unigram_nll). Tokens are the
shared whitespace contract minus empty strings — see _lm_tokens for why
the phantom-''-token quirk of space-only trimming must not reach a
perplexity filter (whitespace-only docs therefore also drop out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kgtm.textstats import words_col_guarded


def _lm_tokens(text_col: str) -> "F.Column":
    """LM tokens = the shared whitespace contract MINUS empty strings: the
    space-only trim in words_col_guarded lets text with leading/trailing
    \\t or \\n emit '' phantom tokens, which would hand every
    whitespace-padded document a near-free high-frequency token and skew
    the perplexity filter toward exactly the junk it exists to catch.
    Filtered here (and in the twin's flat CTE) rather than in the shared
    contract, whose quirk the other operators' DuckDB twins mirror."""
    return F.filter(words_col_guarded(F.col(text_col)), lambda w: w != "")


def _cap_vocab(cnts: DataFrame, top_v: int) -> DataFrame:
    """The one definition of the top-v cut: (cnt desc, word asc) tie-break
    via distributed top-k (orderBy+limit), never a one-partition window."""
    if top_v <= 0:
        raise ValueError(f"top_v must be positive: {top_v}")
    return cnts.orderBy(F.desc("cnt"), F.asc("word")).limit(top_v)


def unigram_counts(
    df: DataFrame, text_col: str = "text", top_v: int | None = None
) -> DataFrame:
    """(word, cnt) over the corpus's non-empty whitespace tokens; ``top_v``
    keeps the most frequent words (_cap_vocab's deterministic tie-break)."""
    flat = df.select(F.explode(_lm_tokens(text_col)).alias("word"))
    cnts = flat.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    return _cap_vocab(cnts, top_v) if top_v is not None else cnts


def unigram_nll(
    df: DataFrame,
    model_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_v: int | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, n_oov, nll_bits): mean -log2 p(token) per doc
    under the unigram model of ``model_df`` (defaults to ``df`` itself —
    self-scoring, where uncapped runs have no OOV by construction).
    ``nll_bits`` rounds to 6 dp; perplexity = 2^nll_bits."""
    model = df if model_df is None else model_df
    full = unigram_counts(model, text_col=text_col)
    # N = total UNCAPPED token mass, folded in as a broadcast one-row scalar
    total = full.agg(F.sum("cnt").cast("double").alias("_n"))
    vocab = F.broadcast(_cap_vocab(full, top_v)) if top_v is not None else full
    return score_unigram_nll(df, vocab, total, text_col=text_col, id_col=id_col)


def score_unigram_nll(
    df: DataFrame,
    vocab: DataFrame,
    total: "DataFrame | float",
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The scoring half of unigram_nll against a PRE-BUILT (word, cnt)
    vocabulary — the piece an ingest pipeline runs on a STREAM against a
    frozen corpus model. ``total`` is the uncapped token mass N: a one-row
    aggregate DataFrame (batch path — folded in as a broadcast scalar) or
    a plain float (streaming path — a literal, so the plan stays a pure
    stream-static left join + windowed aggregation; Structured Streaming
    callers pass their watermark/window column via ``extra_group_cols`` to
    satisfy append-mode's event-time-in-grouping rule)."""
    per_token = df.select(
        F.col(id_col).alias("doc_id"),
        *extra_group_cols,
        F.explode(_lm_tokens(text_col)).alias("word"),
    ).join(vocab, "word", "left")
    if isinstance(total, DataFrame):
        per_token = per_token.crossJoin(F.broadcast(total))
        n_expr = F.col("_n")
    else:
        n_expr = F.lit(float(total))
    scored = per_token.select(
        "doc_id",
        *extra_group_cols,
        F.col("cnt").isNull().cast("int").alias("is_oov"),
        # OOV floor: one pseudo-count against the full corpus mass
        (-F.log2(F.coalesce(F.col("cnt").cast("double"), F.lit(1.0)) / n_expr)).alias(
            "bits"
        ),
    )
    return scored.groupBy("doc_id", *extra_group_cols).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("is_oov").cast("bigint").alias("n_oov"),
        F.round(F.avg("bits"), 6).alias("nll_bits"),
    )


DEFAULT_BUCKET_LABELS = ("head", "middle", "tail")


def nll_bucket_thresholds(
    scored: DataFrame, n_buckets: int = 3, score_col: str = "nll_bits"
) -> DataFrame:
    """One-row DataFrame with `_thresholds`: the (n_buckets-1) exact
    linear-interpolation percentile boundaries of ``score_col`` at
    fractions 1/n .. (n-1)/n, each rounded to 6 dp (the library's float
    contract — DuckDB's quantile_cont interpolates identically, so the
    rounded boundaries match cross-engine). Computed as ONE distributed
    aggregate; the result is a broadcast scalar, never a global sort of
    the corpus."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    fracs = F.array(*[F.lit(i / n_buckets) for i in range(1, n_buckets)])
    return scored.agg(
        F.transform(
            F.percentile(F.col(score_col), fracs), lambda x: F.round(x, 6)
        ).alias("_thresholds")
    )


def bucket_by_nll(
    scored: DataFrame,
    thresholds: DataFrame | None = None,
    n_buckets: int = 3,
    labels: tuple[str, ...] | None = DEFAULT_BUCKET_LABELS,
    score_col: str = "nll_bits",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.4): every
    scored document tagged head/middle/tail (or n custom buckets) by where
    its ``score_col`` falls among the corpus percentile boundaries —
    CCNet trains on "head", the lowest-perplexity slice.

    Bucket index = number of boundaries STRICTLY below the score (a score
    exactly on a boundary goes to the LOWER bucket — deterministic tie
    rule, twin-pinned). A NULL score yields a NULL nll_bucket/bucket_label
    (pinned in both engines since round 7 — unreachable via unigram_nll,
    but the public API accepts arbitrary scored frames). Pass a precomputed ``thresholds`` frame (e.g. from
    a trusted reference corpus, CCNet's actual setup) to decouple boundary
    estimation from assignment; by default boundaries come from ``scored``
    itself.

    Scale shape: one aggregate for the boundaries, then a one-row
    broadcast crossJoin + an O(n_buckets) fold per row — the corpus is
    never globally sorted and never shuffles (contrast ntile(), which
    would plan a single-partition window over 10^12 rows)."""
    if labels is not None and len(labels) != n_buckets:
        raise ValueError(
            f"labels has {len(labels)} entries for n_buckets={n_buckets}"
        )
    if thresholds is None:
        thresholds = nll_bucket_thresholds(scored, n_buckets, score_col)
    else:
        # round-6 ADVICE: an externally supplied frame with a different
        # bucket count would index past the label array (ANSI error), and
        # a multi-row frame silently multiplies every scored row through
        # the crossJoin — validate both with one bounded collect (the
        # frame is one row by contract). The join then uses the collected
        # row itself, so the source runs once and the boundaries applied
        # are exactly the ones validated.
        rows = thresholds.limit(2).collect()
        if len(rows) != 1:
            raise ValueError(
                f"thresholds must have exactly one row, got {len(rows)} "
                "(a multi-row frame would multiply every scored row "
                "through the crossJoin)"
            )
        arr = rows[0]["_thresholds"]
        if arr is None or len(arr) != n_buckets - 1:
            raise ValueError(
                f"thresholds._thresholds has {None if arr is None else len(arr)} "
                f"boundaries; n_buckets={n_buckets} needs {n_buckets - 1}"
            )
        thresholds = scored.sparkSession.createDataFrame(
            [(arr,)], StructType([thresholds.schema["_thresholds"]])
        )
    idx = F.aggregate(
        "_thresholds",
        F.lit(0),
        lambda acc, t: acc + (F.col(score_col) > t).cast("int"),
    )
    cols = [c for c in scored.columns]
    out = scored.crossJoin(F.broadcast(thresholds)).select(
        *cols, idx.alias("nll_bucket")
    )
    if labels is not None:
        # explicit NULL pin (round-6 ADVICE): without the guard a NULL
        # bucket index reached element_at with a NULL position, whose
        # result is engine-quirky — the label must be NULL exactly when
        # the score is (twin-pinned, test_bucket_by_nll_null_score_parity)
        out = out.select(
            *cols,
            "nll_bucket",
            F.when(
                F.col("nll_bucket").isNotNull(),
                F.element_at(
                    F.array(*[F.lit(x) for x in labels]), F.col("nll_bucket") + 1
                ),
            ).alias("bucket_label"),
        )
    return out
