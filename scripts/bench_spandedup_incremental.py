"""Incremental span-dedup append cost vs stored-state size: append the SAME
500-doc batch to gram state built from x1 / x4 / x16 corpus copies and time
the full append (dedup decisions + new-state rows, noop-forced). The
O(batch) claim passes if cost stays ~flat while the state grows 16x — the
state's only contribution is one map-side-filtered columnar scan (the
broadcast plan, which the operator picks while the batch's distinct gram
count holds under ``session.BROADCAST_MAX_ROWS``).

Appends BENCH/SPANDEDUP.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from kgtm.session import get_spark
from kgtm.spandedup import incremental_substring_dedup, span_gram_state

REPO = Path(__file__).resolve().parent.parent
REPS = 3


def timed(fn):
    fn()
    ts = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return sorted(ts)[len(ts) // 2], (max(ts) - min(ts)) / sorted(ts)[len(ts) // 2]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    work = Path(os.environ.get("KGTM_SPAN_BENCH_DIR", "/tmp/kgtm_span_state"))
    spark = get_spark(
        app_name="kgtm-spandedup-incr-bench",
        cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        shuffle_partitions=64,
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_base = docs.count()
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]

    # the appended batch: the same 500 docs, ids above every state corpus
    batch = docs.limit(500).select(
        (F.col("doc_id") + 100 * (max_id + 1)).alias("doc_id"), "text"
    ).localCheckpoint()

    points = []
    for a in (1, 4, 16):
        reps = spark.range(a).select(F.col("id").alias("rep"))
        # copies must contribute DISTINCT gram values or the (distinct-
        # valued) state doesn't grow: prefix every word of copy r>0 with
        # its rep id (copy 0 stays the raw corpus)
        mutated = F.when(F.col("rep") == 0, F.col("text")).otherwise(
            F.concat_ws(
                " ",
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda w: F.concat(
                        F.lit("r"), F.col("rep").cast("string"), F.lit("_"), w
                    ),
                ),
            )
        )
        old = docs.crossJoin(reps).select(
            (F.col("doc_id") * a + F.col("rep")).alias("doc_id"),
            mutated.alias("text"),
        )
        # round-6 ADVICE: key the cached state by CORPUS identity too, not
        # just the amplification factor — a changed SPARK_GRAFT_SF_DIR must
        # not silently reuse another corpus's state (the bench_scaling
        # _AMPLIFY-marker lesson)
        import hashlib

        corpus_key = hashlib.md5(
            str(Path(sf_dir).resolve()).encode()
        ).hexdigest()[:10]
        state_path = work / f"state_{corpus_key}_x{a}"
        if not (state_path / "_SUCCESS").exists():
            span_gram_state(old, min_words=20).write.mode("overwrite").partitionBy(
                "sb"
            ).parquet(str(state_path))
        state = spark.read.parquet(str(state_path))
        n_state = state.count()

        def run(state=state):
            deduped, new_state = incremental_substring_dedup(
                batch, state, min_words=20
            )
            deduped.write.format("noop").mode("overwrite").save()
            new_state.write.format("noop").mode("overwrite").save()

        sec, spread = timed(run)
        points.append(
            {"state_x": a, "n_state_grams": n_state,
             "sec": round(sec, 3), "spread": round(spread, 3)}
        )
        print(json.dumps(points[-1]), file=sys.stderr)

    growth = round(points[-1]["sec"] / points[0]["sec"], 2)
    result = {"sf_dir": sf_dir, "batch_docs": 500, "points": points,
              "cost_x1_to_x16": growth}
    print(json.dumps(result))

    rows = "\n".join(
        f"| x{p['state_x']} | {p['n_state_grams']:,} | {p['sec']} | {p['spread']} |"
        for p in points
    )
    with open(REPO / "BENCH" / "SPANDEDUP.md", "a") as f:
        f.write(
            f"""
## Incremental append cost vs stored-state size

The SAME 500-doc batch appended (dedup decisions + new-state rows, both
noop-forced, median of {REPS}) to sb-partitioned parquet gram state built
from x1 / x4 / x16 copies of the corpus ({n_base:,} docs base):

| state | stored grams | append sec | spread |
|---|---|---|---|
{rows}

x1 -> x16 state growth costs **{growth}x** — the state's only contribution
to the append is one map-side-filtered columnar scan (broadcast plan;
the batch's gram set broadcasts onto it), so the append is O(batch), not
O(corpus).

Reproduce: `python scripts/bench_spandedup_incremental.py`
(env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, KGTM_SPAN_BENCH_DIR).
"""
        )


if __name__ == "__main__":
    main()
