"""Regenerate PLANS.md: formatted physical plans of the headline operators
with the scale-relevant features called out. Run after plan-affecting changes.
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from kgtm.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark(app_name="kgtm-plans", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as se
    from kgtm.pipeline import PipelineConfig, build_triples
    from kgtm.transcripts import (
        events_to_transcripts,
        ontology_index_df,
        ontology_snapshots_df,
    )

    sections: list[tuple[str, str, str]] = []

    tr = events_to_transcripts(spark.read.parquet(f"{SF}/events.parquet"))
    flagship = build_triples(
        tr,
        ontology_index_df(spark),
        ontology_snapshots_df(spark),
        PipelineConfig(persist_intermediate=False),
    )
    sections.append(
        (
            "Flagship build_triples (persist disabled to show the full tree)",
            "What to check: every dictionary/snapshot join is a "
            "BroadcastHashJoin (the 10^12-row fact side never shuffles for "
            "linking/resolution); the only wide exchanges are the distinct "
            "over triple terms and the min-rung aggregation — both over the "
            "tiny surface set; the SVO extraction is regexp inside "
            "WholeStageCodegen, no Python in the scan path.",
            formatted(flagship),
        )
    )

    qs = se.queries()
    for name, note in [
        (
            "ladder_linking",
            "Candidate fan-out (posexplode of the 6-rung array) → broadcast "
            "probe → ONE partial-aggregatable min_by groupBy. No sort-merge "
            "join anywhere.",
        ),
        (
            "ngram_jaccard",
            "Shingles staged as separate projections (grams_expr perf "
            "contract), explode_outer to dodge InferFiltersFromGenerate, "
            "self-join keyed on xxhash64(shingle).",
        ),
        (
            "turn_assembly",
            "ONE shuffle (groupBy conv_id with map-side partial "
            "collect_list); ordering via array_sort inside the aggregate — "
            "no global sort.",
        ),
        (
            "failover_resolution",
            "The live-acceptance gate (passthrough whitelist ∧ Accept-mime "
            "membership) is a pure codegen CASE over the joined live-leg "
            "columns — no UDF, no extra exchange beyond the lifecycle "
            "joins.",
        ),
        (
            "incremental_relink",
            "The delta detection is a host-gated candidate explode + "
            "broadcast semi-join; the corpus split is two broadcast "
            "(semi/anti) probes of the checkpointed affected-id set — "
            "NEITHER side of the linkage table shuffles.",
        ),
        (
            "decontamination",
            "The benchmark shingle flat and its per-item sizes are EXPLICIT "
            "broadcasts (eval suites are small by nature); the corpus is "
            "shingled in one scan and never self-joins — the only wide "
            "exchange is the per-(doc, bench) intersection count over rows "
            "that actually collide.",
        ),
        (
            "simhash_neardup",
            "Round-4 shape: full-64-bit md5-derived hashes make every "
            "Hamming chunk informative (the old 31-bit hasher left chunks "
            "over bits 31..63 constant-zero — one universal bucket, silent "
            "all-pairs). Candidates come from the chunk equi-join; the "
            "verify is codegen bit_count(xor).",
        ),
    ]:
        sections.append((name, note, formatted(qs[name](spark, SF))))

    # state-backed incremental curation: the decisive pair stage, built from
    # materialized corpus state exactly as append_curated_batch consumes it
    from kgtm.curation import (
        CorpusState,
        _state_frames,
        curate_documents,
        incremental_curate,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    old_docs = docs.filter("doc_id < 450")
    new_docs = docs.filter("doc_id >= 450")
    led = curate_documents(old_docs).localCheckpoint(eager=True)
    frames = _state_frames(old_docs, led, "text", "doc_id")
    state = CorpusState(
        digests=frames["ledger_digests"],
        flat=frames["ledger_shingles"],
        shingle_df=frames["ledger_shingle_df"],
        doc_sizes=frames["ledger_doc_sizes"],
        hot=frames["ledger_hot"],
    )
    inc = incremental_curate(None, led, new_docs, state=state, skip_guards=True)
    sections.append(
        (
            "incremental_curate (state mode, the O(batch) append path)",
            "What to check: NO groupBy and NO counting pass over the corpus "
            "shingle flat at all — the hot set is INCREMENTAL (stored hot "
            "union newly-hot from the batch's own counts + a map-side-"
            "filtered lookup of the stored df contributions), participant "
            "sizes come from the materialized ledger_doc_sizes sum plus "
            "newly-hot owner corrections (bucket-pruned lookup), and the "
            "corpus flat appears exactly ONCE: the broadcast-semi-filtered "
            "o_hit scan feeding the pair join. Only the BATCH's text is "
            "ever shingled.",
            formatted(inc),
        )
    )

    from kgtm.extract import extract_mentions
    from kgtm.link import broadcast_ladder_link

    bl = broadcast_ladder_link(extract_mentions(tr), ontology_index_df(spark))
    sections.append(
        (
            "broadcast_ladder_link (large-dictionary streaming ladder)",
            "Exactly ONE BroadcastHashJoin on host against the "
            "(host → map<path,iri>) dictionary; the rung probe is a pure "
            "expression over the joined map column, so plan size is O(1) in "
            "|dictionary| and the probe side has no aggregation — the "
            "properties that make it append-safe under streaming.",
            formatted(bl),
        )
    )

    from kgtm.packing import chunk_token_windows
    from kgtm.repetition import repetition_signals

    rep = repetition_signals(docs)
    sections.append(
        (
            "repetition_signals (Gopher repetition filters)",
            "What to check: the exploded gram STRINGS shuffle exactly once "
            "— the window count keyed (doc_id, n, gram), computed inside "
            "the lazy checkpoint and shared by both consumers. The "
            "top-gram argmax reduces straight to doc-cardinality; the "
            "coverage branch's distinct + word-length join still move up "
            "to word-cardinality rows, but as fixed-width int triples — "
            "strictly narrower than the gram shuffle before them. Line "
            "signals are per-row array expressions in the first "
            "projection; no UDF in the plan.",
            formatted(rep),
        )
    )
    sections.append(
        (
            "chunk_token_windows (token-window chunking)",
            "What to check: a single Generate (posexplode of the window "
            "index array) over a pure projection — zero exchanges, zero "
            "UDF; the chunk slice/concat is codegen, so the operator fuses "
            "into whatever scan precedes it.",
            formatted(chunk_token_windows(docs, window=64)),
        )
    )

    from kgtm.paragraphs import paragraph_dedup

    sections.append(
        (
            "paragraph_dedup (C4-style corpus-global paragraph dedup)",
            "What to check: exactly TWO hashpartitioning exchanges — the "
            "digest aggregate (partial_min below the exchange: a paragraph "
            "duplicated a billion times reaches its reducer pre-combined, "
            "one row per upstream partition) and the per-doc reassembly. "
            "No Window over the hot digest key, no join back (the "
            "aggregate output IS the survivor set), no UDF.",
            formatted(paragraph_dedup(docs)),
        )
    )

    from kgtm.lm import unigram_nll

    sections.append(
        (
            "unigram_nll top_v=65536 (CCNet-style perplexity filter, production shape)",
            "What to check: the vocabulary side ends in an explicit "
            "BroadcastExchange below a single BroadcastHashJoin — the "
            "scoring (10^12-token) side never shuffles for the lookup; the "
            "top-v cut is a distributed TakeOrderedAndProject, never a "
            "one-partition Window; N and the token counts reduce through "
            "partial HashAggregates (map-side combine on hot stopwords).",
            formatted(unigram_nll(docs, top_v=65536)),
        )
    )

    out = ["# PLANS — physical plans of the headline operators\n"]
    out.append(
        "Generated by `python scripts/dump_plans.py` (sf0.01 input; plan\n"
        "shape is scale-invariant). The plan-shape invariants are also\n"
        "asserted by tests/test_plans_and_closure.py.\n"
    )
    for title, note, plan in sections:
        out.append(f"\n## {title}\n\n{note}\n\n```\n{plan}```\n")
    (REPO / "PLANS.md").write_text("".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
