"""Read-latency vs delta-chain-length sweep (round-4 verdict item 4).

read_ledger unions newest-snapshot + every chain-linked delta; a year of
daily appends would put 365 commit dirs in every read plan. This measures
that cost directly — read_ledger().count() wall time at growing chain
lengths — then compacts and measures once more, quantifying what
append_curated_batch(max_deltas=N) buys. Appends run with max_deltas=None
so the sweep can observe arbitrarily long chains.

Appends at sf0.001-sized batches keep the sweep fast; the READ cost under
test is dominated by per-commit planning/IO fan-in (manifest resolution +
one parquet dir per commit), which scales with chain length, not batch
size. Writes BENCH/CHAIN.md.
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
    compact_ledger,
    persist_curated_corpus,
    read_ledger,
)
from kgtm.session import get_spark  # noqa: E402

CHAIN_POINTS = [int(x) for x in os.environ.get("KGTM_CHAIN_POINTS", "1,2,4,8,16,32").split(",")]
BATCH_DOCS = int(os.environ.get("KGTM_CHAIN_BATCH", "50"))


def timed_read(spark, store, reps=3):
    """Median of `reps` full read_ledger().count() calls (plan + scan)."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        read_ledger(spark, store).count()
        times.append(time.perf_counter() - t0)
    return round(sorted(times)[len(times) // 2], 3)


def main() -> None:
    sf_dir = os.environ.get("KGTM_CHAIN_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark(app_name="kgtm-chain", cores=8, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").localCheckpoint(eager=True)
    max_id = docs.agg(F.max("doc_id")).first()[0]
    n_appends = max(CHAIN_POINTS)

    store = tempfile.mkdtemp(prefix="kgtm-chain-")
    rows = []
    try:
        persist_curated_corpus(docs, store, min_quality=0.45, jaccard_threshold=0.5)
        base_n = read_ledger(spark, store).count()
        rows.append({"deltas": 0, "read_sec": timed_read(spark, store)})
        print(json.dumps(rows[-1]), flush=True)
        for k in range(1, n_appends + 1):
            # deterministic fresh batch: shift ids into the next block and
            # suffix every word so batches are distinct docs, not near-dups
            batch = docs.orderBy("doc_id").limit(BATCH_DOCS).select(
                (F.col("doc_id") + F.lit(k * (max_id + 1))).alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.concat(w, F.lit(f"_c{k}")),
                    ),
                    " ",
                ).alias("text"),
            )
            append_curated_batch(spark, store, new_docs=batch, max_deltas=None)
            if k in CHAIN_POINTS:
                rows.append({"deltas": k, "read_sec": timed_read(spark, store)})
                print(json.dumps(rows[-1]), flush=True)
        n_before = read_ledger(spark, store).count()
        assert n_before == base_n + n_appends * BATCH_DOCS, (n_before, base_n)
        t0 = time.perf_counter()
        compact_ledger(spark, store)
        compact_sec = round(time.perf_counter() - t0, 2)
        after = {"deltas": "0 (compacted)", "read_sec": timed_read(spark, store)}
        rows.append(after)
        print(json.dumps(after), flush=True)
        assert read_ledger(spark, store).count() == n_before
    finally:
        shutil.rmtree(store, ignore_errors=True)

    table = "\n".join(f"| {r['deltas']} | {r['read_sec']} s |" for r in rows)
    chain_md = f"""# BENCH/CHAIN — read latency vs delta-chain length

`read_ledger` resolves newest-snapshot + chain-linked deltas — one commit
dir per chain element in every read plan. Sweep: {BATCH_DOCS}-doc appends
(`max_deltas=None`) on the {Path(os.environ.get("KGTM_CHAIN_SF_DIR", "/root/testdata/sf0.001")).name}
corpus, median of 3 `read_ledger().count()` calls per point; then one
`compact_ledger` ({compact_sec} s) and a final read.

| chain deltas | read_ledger (median) |
|---|---|
{table}

The slope is planning + per-commit IO fan-in, the cost
`append_curated_batch(max_deltas=N)` (default N=64) bounds: the append that
reaches N deltas folds the chain back into one snapshot in the same call,
so read fan-in never exceeds N+1 commits and time-travel history survives
via `replaces`.

Reproduce: `python scripts/bench_chain.py` (rewrites this file;
env: KGTM_CHAIN_SF_DIR, KGTM_CHAIN_POINTS, KGTM_CHAIN_BATCH).
"""
    (REPO / "BENCH" / "CHAIN.md").write_text(chain_md)
    print(json.dumps({"compact_sec": compact_sec, "points": len(rows)}))


if __name__ == "__main__":
    main()
