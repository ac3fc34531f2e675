"""Exact substring-span deduplication (ExactSubstr, Lee et al. 2022 style).

Reference scope note: the reference engine (dbpedia/ontology-time-machine,
a ~1.4k-LoC ontology-resolution proxy) has no corpus-prep tier; this module
extends the engine's LLM-training-data suite with the third member of the
exact-dedup family — document-level (kgtm/dedup.py), paragraph-level
(kgtm/paragraphs.py), and now SPAN-level: any run of >= ``min_words``
consecutive words that occurs more than once in the corpus is removed
everywhere except its first occurrence, cutting the repeated license
blocks / quoted replies / templated boilerplate that survive both
document- and paragraph-resolution dedup ("Deduplicating Training Data
Makes Language Models Better", Lee et al. 2022, operates at 50-token
resolution on suffix arrays; this is the distributed gram-cover
formulation of the same contract).

Semantics (word-resolution, first-occurrence-wins, corpus-global):

  - a document's words are ``split(trim(text), '\\s+')`` — ORIGINAL case
    preserved for reconstruction; the blank/NULL guard yields an empty
    array (same guard as kgtm.textstats.words_col_guarded);
  - the duplicate SIGNAL is case-insensitive: the key of the L-gram at
    word position p is ``md5(lower(concat_ws(' ', words[p..p+L-1])))``
    (lower of the joined gram == joining lowered words, so the key matches
    the library-wide lowered tokenization contract while reconstruction
    keeps original bytes);
  - an L-gram INSTANCE (doc, p) is a duplicate iff the same gram value has
    an earlier instance under (id, pos) lexicographic order — the
    corpus-global first instance of every gram value is never removed;
  - the word indices covered by duplicate instances ([p, p+L-1] each) are
    unioned into maximal spans per document and those words are dropped;
  - a document that lost at least one word is reassembled from its kept
    words joined with a single space (word bytes exact; whitespace RUNS
    normalize — word resolution, not byte resolution); a document that
    lost nothing keeps its original text byte-identically, so a corpus
    with no >= L-word repeats round-trips byte-for-byte;
  - documents whose every word is covered come out with text '' (kept as
    rows — unlike paragraph_dedup, no document vanishes: n_words_removed
    is the downstream drop signal);
  - docs with < L words carry no grams and always pass through untouched.

Known gram-cover nuance (deterministic, twin-pinned): the "first"
occurrence of a long duplicated span can itself lose a PREFIX/INFIX if one
of its constituent L-grams already occurred in an earlier document — the
keep-set is defined per gram value, not per maximal span. This is the
standard cover approximation of suffix-array ExactSubstr and is exactly
reproducible in SQL, which is what makes the operator value-checkable.

Scale shape (100 TB): three shuffles, all keyed and combine-friendly.

  1. L-gram first-instance aggregation keyed on the 128-bit gram digest —
     map-side partial min-struct + count, so a boilerplate gram repeated a
     billion times reaches its reducer pre-combined per upstream
     partition. Only the (id, pos) pair shuffles per instance, never the
     gram text (the digest is computed before the exchange).
  2. One join of gram instances against the duplicated digests (inner,
     on the digest) to mark non-first instances. Both sides are already
     partitioned by the digest from shuffle 1's output, so AQE plans this
     as a co-partitioned join; hot digests are bounded because the
     aggregate side carries ONE row per gram value.
  3. One doc_id-keyed window + aggregation to merge covered intervals into
     maximal spans and attach them as a (small, <= n_words/L entries)
     array to each touched document. The final keep/cut is pure array
     expressions (filter + exists) — zero UDF, whole-stage codegen, and
     only TOUCHED documents join (untouched docs stream through the left
     join unmodified).

The per-instance explode is L-independent (one row per word position, the
same cardinality every words-based operator here already shuffles);
nothing in the plan is quadratic in document length or corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_MIN_WORDS = 20


def _words_orig_case(text_col: str) -> "F.Column":
    """Original-case words: the library's one tokenization guard
    (kgtm.textstats.words_col_guarded) with lowering off — reconstruction
    must keep word bytes while the gram KEY lowers separately."""
    from kgtm.textstats import words_col_guarded

    return words_col_guarded(F.col(text_col), lower=False)


def gram_instances(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = DEFAULT_MIN_WORDS,
) -> DataFrame:
    """(id, pos, gh): one row per L-gram instance; gh is the 128-bit
    case-insensitive gram digest. Docs with < L words produce no rows
    (filtered BEFORE the sequence: Spark's sequence(0, -1) would count
    DOWN, not return empty)."""
    L = int(min_words)
    if L < 2:
        raise ValueError(f"min_words must be >= 2, got {min_words}")
    from kgtm.session import ensure_min_parallelism

    # fan the narrow (id, text) projection out BEFORE the per-position gram
    # digests (round 7, guide §2.5): an under-parallel input runs the whole
    # explode+md5 pipeline in one task otherwise; no-op when already parallel
    base = ensure_min_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    )
    return (
        base.select("id", _words_orig_case("_t").alias("w"))
        .filter(F.size("w") >= L)
        .select(
            "id", "w", F.explode(F.sequence(F.lit(0), F.size("w") - L)).alias("pos")
        )
        .select(
            "id",
            "pos",
            F.md5(
                F.lower(F.concat_ws(" ", F.slice("w", F.col("pos") + 1, L)))
            ).alias("gh"),
        )
    )


def _non_first_instances(grams: DataFrame) -> DataFrame:
    """(id, pos): every gram instance that is NOT the first instance of its
    gram value under (id, pos) order.

    The first instance per gram value is the min (id, pos) struct —
    map-side combinable, one row per gram value out; (id, pos) is unique
    per instance, so the struct min is a total order. Only values seen more
    than once join back."""
    per_gram = grams.groupBy("gh").agg(
        F.min(F.struct("id", "pos")).alias("first"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        grams.join(per_gram.filter(F.col("cnt") > 1), "gh")
        .filter(
            (F.col("id") != F.col("first.id")) | (F.col("pos") != F.col("first.pos"))
        )
        .select("id", "pos")
    )


def _with_end(dups: DataFrame, min_words: int) -> DataFrame:
    """(id, pos, e): a duplicate instance at ``pos`` covers words
    [pos, pos + L - 1]."""
    return dups.select("id", "pos", (F.col("pos") + int(min_words) - 1).alias("e"))


def _merged_span_arrays(dups: DataFrame) -> DataFrame:
    """(id, spans: array<struct<s,e>>) — maximal merged intervals per doc,
    sorted by start, in ONE aggregation.

    Round 7 (guide §2.4): the previous gaps-and-islands chain — two
    windows over (id, pos), a groupBy(id, isl) re-keyed aggregation (its
    own exchange: (id, isl) hashes differently than id) and a final
    groupBy(id) collect — is replaced by sort_array(collect_list) + an
    expression fold that merges an interval into the last span when it
    overlaps or touches it (instances arrive pos-sorted and all spans have
    equal length, so e is nondecreasing — the fold's last-span check
    equals the old running-max test). One exchange on id, no window sort,
    two fewer aggregates. The fold is an interpreted higher-order
    aggregate, but it runs only over span-touched docs on <= n_words/L
    elements each. Equivalence is pinned by the substring_dedup oracle row
    and tests/test_spandedup.py.

    The NULL-guard shape: F.get returns NULL on an empty accumulator (the
    ANSI-safe accessor — the verify-skill gotcha), a NULL comparison makes
    the when() fall through, and the first interval is pushed whole.
    """
    inst = F.array_sort(F.collect_list(F.struct("pos", "e")))

    def step(acc, x):
        last = F.get(acc, F.size(acc) - 1)
        merged = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(
                F.struct(
                    last["s"].alias("s"),
                    F.greatest(last["e"], x["e"]).alias("e"),
                )
            ),
        )
        grown = F.concat(
            acc, F.array(F.struct(x["pos"].alias("s"), x["e"].alias("e")))
        )
        return F.when(x["pos"] <= last["e"] + 1, merged).otherwise(grown)

    empty = F.expr("CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>)")
    return dups.groupBy("id").agg(
        F.aggregate(inst, empty, step).alias("spans")
    )


def _merge_intervals(dups: DataFrame) -> DataFrame:
    """(id, s, e) row form of :func:`_merged_span_arrays` (public
    dup_spans contract / tests); internal callers consume the array form
    directly and skip this explode."""
    return _merged_span_arrays(dups).select(
        "id", F.explode("spans").alias("sp")
    ).select("id", F.col("sp.s").alias("s"), F.col("sp.e").alias("e"))


def dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = DEFAULT_MIN_WORDS,
) -> DataFrame:
    """(id, s, e): maximal merged word-index intervals (inclusive) covered
    by non-first duplicate gram instances, per document."""
    grams = gram_instances(df, text_col, id_col, min_words)
    return _merge_intervals(_with_end(_non_first_instances(grams), min_words))


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = DEFAULT_MIN_WORDS,
) -> DataFrame:
    """(id_col, text, n_words, n_words_removed, n_spans): the corpus with
    every duplicated >= min_words-word span removed except its first
    occurrence (module docstring has the full contract). Untouched
    documents keep their text byte-identically."""
    grams = gram_instances(df, text_col, id_col, min_words)
    dups = _with_end(_non_first_instances(grams), min_words)
    return _apply_span_arrays(df, _merged_span_arrays(dups), text_col, id_col)


def _apply_span_arrays(
    df: DataFrame,
    spans_arr: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut the merged (id, spans-array) rows out of each document's words
    and emit the (id_col, text, n_words, n_words_removed, n_spans) result
    frame — the cut tail shared by the full and incremental runs."""
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text")).join(
        spans_arr, "id", "left"
    )
    w = _words_orig_case("_text")
    # keep word i iff no span covers it; pure array exprs (codegen), the
    # inner exists captures the outer filter's index variable.
    kept = F.filter(
        w,
        lambda x, i: ~F.exists(
            F.col("spans"), lambda sp: (sp["s"] <= i) & (i <= sp["e"])
        ),
    )
    n_words = F.size(w)
    out = base.select(
        "id",
        n_words.alias("n_words"),
        F.when(F.col("spans").isNull(), F.lit(0))
        .otherwise(n_words - F.size(kept))
        .alias("n_words_removed"),
        F.coalesce(F.size("spans"), F.lit(0)).alias("n_spans"),
        F.when(F.col("spans").isNull(), F.col("_text"))
        .otherwise(F.concat_ws(" ", kept))
        .alias("text"),
    )
    return out.select(
        F.col("id").alias(id_col),
        "text",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_words_removed").cast("long").alias("n_words_removed"),
        F.col("n_spans").cast("long").alias("n_spans"),
    )


N_GRAM_BUCKETS = 64


def span_gram_state(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = DEFAULT_MIN_WORDS,
) -> DataFrame:
    """(gh, sb): the DISTINCT gram values of a corpus — the whole state an
    O(batch) append needs. Under the monotone-id append contract a batch
    instance can never precede a stored one, so the state never has to
    carry (id, pos) firsts: membership alone decides. ``sb`` is the
    pmod-64 directory bucket (`partitionBy("sb")` at write time), the same
    layout the curation ledger uses so bucket-pruned lookups work when the
    state is persisted."""
    return (
        gram_instances(df, text_col, id_col, min_words)
        .select("gh")
        .distinct()
        .select("gh", F.pmod(F.xxhash64("gh"), F.lit(N_GRAM_BUCKETS)).alias("sb"))
    )


def incremental_substring_dedup(
    batch: DataFrame,
    state: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = DEFAULT_MIN_WORDS,
    checkpoint: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """O(batch) span dedup of an APPENDED batch against stored gram state:
    returns (deduped_batch, new_state_rows). ``checkpoint=False`` skips the
    internal lineage cuts (same knob as kgtm.dedup's flats) — for plan
    inspection in tests; production callers leave it on.

    Contract (mirrors kgtm.curation.incremental_curate): batch ids are
    MONOTONE — strictly greater than every id the state was built from —
    so a batch gram instance whose value exists in the state is a
    duplicate unconditionally (the stored occurrence is earlier), and
    intra-batch instances rank among themselves exactly as the full run
    would. Under that contract `deduped_batch` equals
    ``substring_dedup(old UNION batch)`` restricted to the batch ids, and
    appending ``new_state_rows`` (the gram values the batch introduces)
    reproduces ``span_gram_state(old UNION batch)`` — chained appends stay
    exact (pytest-pinned, including a DuckDB full-run twin comparison).

    Scale shape: nothing in the plan touches the old corpus — the state
    table IS the old corpus's footprint, one row per distinct gram value.
    The plan is picked from the data: the batch's distinct gram values are
    counted once and compared with ``session.BROADCAST_MAX_ROWS`` (the same
    decision as kgtm.dedup.contamination_pairs).
      - At or under the cap the state NEVER SHUFFLES: the batch's
        gram-value set broadcasts onto a map-side semi-filtered scan of the
        state (the curation ledger's one-flat-scan pattern; a persisted
        state partitioned by sb additionally prunes buckets), the surviving
        intersection — bounded by the batch — flows back as a broadcast,
        and the new-state anti join runs against that same intersection, so
        the ONLY state cost per append is one columnar scan.
      - Above it, plain gh-keyed shuffle joins against the state.
    Plus the batch-sized intra-batch aggregate and the shared per-doc
    interval merge + cut tail.
    """
    from kgtm import session

    # checkpoint the batch's gram lineage ONCE: it feeds the plan-choice
    # count, the intra-batch aggregate, both state joins, and (through the
    # two returned frames) two separate caller actions — without the cut,
    # the tokenize+md5 scan re-executes for each (the contamination_pairs
    # lesson, kgtm/dedup.py)
    grams = gram_instances(batch, text_col, id_col, min_words)
    if checkpoint:
        grams = grams.localCheckpoint(eager=False)
    intra_dups = _non_first_instances(grams)
    # checkpointed for the same reason: feeds the count, a broadcast, and
    # the new-state anti join
    batch_ghs = grams.select("gh").distinct()
    if checkpoint:
        batch_ghs = batch_ghs.localCheckpoint(eager=False)
    # every batch instance of a stored gram value is a duplicate — the
    # stored occurrence precedes the whole batch under monotone ids
    if batch_ghs.count() <= session.BROADCAST_MAX_ROWS:
        # intersection via a map-side-filtered state scan; bounded by batch.
        # Checkpointed: used by BOTH the dup marking and the new-state anti
        # join — without the cut each action re-scans the state table.
        hits = state.select("gh").join(F.broadcast(batch_ghs), "gh", "semi")
        if checkpoint:
            hits = hits.localCheckpoint(eager=False)
        state_hits = grams.join(F.broadcast(hits), "gh", "semi").select("id", "pos")
        new_ghs = batch_ghs.join(F.broadcast(hits), "gh", "anti")
    else:
        state_hits = grams.join(state.select("gh"), "gh", "semi").select("id", "pos")
        new_ghs = batch_ghs.join(state.select("gh"), "gh", "anti")
    dups = _with_end(intra_dups.unionByName(state_hits).distinct(), min_words)
    deduped = _apply_span_arrays(
        batch, _merged_span_arrays(dups), text_col, id_col
    )
    new_state = new_ghs.select(
        "gh", F.pmod(F.xxhash64("gh"), F.lit(N_GRAM_BUCKETS)).alias("sb")
    )
    return deduped, new_state
