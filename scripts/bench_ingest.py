"""Corpus-size sweep for incremental curation ingest: is a batch append
O(batch) or O(corpus)?

The round-3 verdict's top item: every append used to rewrite the full ledger
snapshot AND re-shingle the whole prior corpus. Round 4 made appends delta
commits over materialized corpus state. This script measures the claim the
design makes — per-batch append wall time should stay (near-)flat as the
corpus grows — and contrasts it with the store-less incremental_curate
over the corpus text, whose cost is expected to grow linearly with it.

Protocol: amplify the sf documents deterministically (every word gets a
rep-specific suffix, so copies are DISTINCT docs, not near-dups, and ids
stay monotone per rep block). For each corpus size: persist the curated
corpus + state once (untimed setup), then time
  state     = append_curated_batch(new_docs=batch)        (state-backed delta)
  storeless = incremental_curate(old_docs, ledger, batch)  (corpus from text)
with the SAME fixed-size batch. Writes BENCH/INGEST.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from kgtm.curation import (  # noqa: E402
    append_curated_batch,
    incremental_curate,
    persist_curated_corpus,
    read_ledger,
)
from kgtm.session import get_spark  # noqa: E402

BATCH_DOCS = int(os.environ.get("KGTM_INGEST_BATCH", "500"))
FACTORS = [int(x) for x in os.environ.get("KGTM_INGEST_FACTORS", "1,2,4,8").split(",")]


def amplified_docs(spark, sf_dir: str, factor: int):
    """documents × factor DISTINCT copies: every word in copy k>0 gets the
    suffix _k, so copies share no shingles with each other or the original
    (distinct corpus growth, not a pile of near-dups); doc_ids are offset per
    rep block so monotonicity holds for any id-ordered batch split."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # block stride = max id + 1 (NOT count): sparse ids would otherwise make
    # rep blocks overlap and corrupt the sweep with duplicate doc_ids
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    amp = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * F.lit(n)).alias("doc_id"),
        F.when(F.col("rep") == 0, F.col("text"))
        .otherwise(
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda w: F.concat(w, F.lit("_"), F.col("rep").cast("string")),
                ),
                " ",
            )
        )
        .alias("text"),
    )
    return amp, factor * n


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="kgtm-ingest", cores=32, shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).select(F.sum("id")).collect()

    max_factor = max(FACTORS)
    # +4 blocks beyond the largest corpus: the 3-append median protocol
    # consumes up to 3×BATCH_DOCS docs PAST the biggest corpus_n (one block
    # holds one corpus-copy's worth of docs, which can be as small as
    # BATCH_DOCS at tiny scale factors)
    n_blocks = max_factor + 4
    pool, pool_n = amplified_docs(spark, sf_dir, n_blocks)
    pool = pool.repartition(64).localCheckpoint(eager=True)

    rows = []
    for factor in FACTORS:
        corpus_n = (pool_n // n_blocks) * factor
        old = pool.filter(F.col("doc_id") < corpus_n)
        # batches = the first 3×BATCH_DOCS docs (id order) of the NEXT rep
        # block, split into three successive appends — id slicing by
        # [corpus_n, corpus_n+BATCH_DOCS) assumed dense ids; a regenerated
        # documents.parquet with sparse ids would silently shrink the batch
        # and corrupt the sweep. The box swings ±30% on single runs (see
        # bench.py's protocol), so each point reports the MEDIAN of the 3
        # appends; the corpus grows by BATCH_DOCS between them, negligible
        # at the factors that matter.
        ids = [
            r[0]
            for r in pool.filter(
                (F.col("doc_id") >= corpus_n) & (F.col("doc_id") < corpus_n + pool_n)
            )
            .select("doc_id")
            .orderBy("doc_id")
            .limit(3 * BATCH_DOCS)
            .collect()
        ]
        assert len(ids) == 3 * BATCH_DOCS, len(ids)
        batches = [
            pool.filter(
                F.col("doc_id").isin(ids[k * BATCH_DOCS : (k + 1) * BATCH_DOCS])
            ).localCheckpoint(eager=True)
            for k in range(3)
        ]
        old_n = old.count()
        store = tempfile.mkdtemp(prefix=f"kgtm-ingest-{factor}-")
        try:
            t0 = time.perf_counter()
            persist_curated_corpus(old, store, min_quality=0.45, jaccard_threshold=0.5)
            setup_sec = round(time.perf_counter() - t0, 2)

            state_times = []
            for batch in batches:
                t0 = time.perf_counter()
                append_curated_batch(spark, store, new_docs=batch)
                state_times.append(time.perf_counter() - t0)
            state_sec = round(sorted(state_times)[1], 2)  # median of 3
            n_after = read_ledger(spark, store).count()
            assert n_after == old_n + 3 * BATCH_DOCS, (n_after, old_n)

            # store-less contrast: same decisions, corpus read from text
            ledger = read_ledger(spark, store).filter(
                F.col("doc_id") < corpus_n
            ).localCheckpoint(eager=True)
            t0 = time.perf_counter()
            incremental_curate(old, ledger, batches[0]).write.format("noop").mode(
                "overwrite"
            ).save()
            storeless_sec = round(time.perf_counter() - t0, 2)
        finally:
            shutil.rmtree(store, ignore_errors=True)
        rows.append(
            {
                "corpus_docs": old_n,  # measured row count, not the id stride
                "setup_sec": setup_sec,
                "state_append_sec": state_sec,
                "storeless_sec": storeless_sec,
            }
        )
        print(json.dumps(rows[-1]), flush=True)

    first, last = rows[0], rows[-1]
    growth = round(last["state_append_sec"] / first["state_append_sec"], 2)
    s_growth = round(last["storeless_sec"] / first["storeless_sec"], 2)
    table = "\n".join(
        f"| {r['corpus_docs']:,} | {r['setup_sec']} s | {r['state_append_sec']} s | {r['storeless_sec']} s |"
        for r in rows
    )
    (REPO / "BENCH" / "INGEST.md").write_text(
        f"""# BENCH/INGEST — batch append cost vs corpus size

Round 3's weakest scale path: every `append_curated_batch` rewrote the full
ledger snapshot and re-shingled the whole prior corpus — O(corpus) reads AND
writes per batch. Round 4 made appends DELTA commits computed from
materialized corpus state; round 5 (state v2) removed the remaining
corpus-proportional passes from that state path:

- hot-shingle set is INCREMENTAL (`ledger_hot` accretes; only the batch's
  shingles can cross the cap, their stored totals come from a map-side-
  filtered lookup of `ledger_shingle_df`) — no df-table-wide groupBy,
- participant sizes come from the materialized `ledger_doc_sizes`
  contribution sums (negative correction rows keep them exact when
  shingles cross the cap later) — no counting pass over the flat,
- the stored shingle flat is touched exactly ONCE: a broadcast-semi
  (batch shingle set) map-side-filtered columnar scan feeding the pair
  join; newly-hot owner lookups prune to the sb= directory buckets they
  hit (`N_SHINGLE_BUCKETS`, recorded per commit).

Sweep: fixed {BATCH_DOCS}-doc batches appended to corpora of growing size
(amplified {sf_dir} documents, copies made distinct by word-suffixing so the
corpus genuinely grows; local[32]); each point is the MEDIAN of 3
successive appends (this box swings ±30% on single runs). Setup = full
curate + snapshot + state write (once per corpus version, amortized over
all subsequent appends).

| corpus docs | setup (full curate + state, untimed path) | state-backed append (median of 3) | store-less `incremental_curate` (corpus text) |
|---|---|---|---|
{table}

State-backed append grew {growth}x across a {last['corpus_docs'] // first['corpus_docs']}x
corpus growth (store-less: {s_growth}x). The remaining corpus-proportional
term is the single 16-byte-row columnar scan of the stored flat (filtered
map-side before any shuffle); everything else an append reads —
digest lookups, df lookups, size lookups — is probe-restricted.

Reproduce: `python scripts/bench_ingest.py` (rewrites this file;
env: SPARK_GRAFT_SF_DIR, KGTM_INGEST_BATCH, KGTM_INGEST_FACTORS). The
read-latency-vs-chain-length sweep is in BENCH/CHAIN.md.
"""
    )
    print(json.dumps({"rows": rows, "state_growth": growth, "storeless_growth": s_growth}))
    spark.stop()


if __name__ == "__main__":
    main()
