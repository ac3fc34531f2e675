"""Ladder probe crossover: host-keyed map probe vs rung-keyed hashed lookups.

Both plans link the same mentions against the same parquet dictionary
(never a plan literal, so kgtm.link takes its broadcast plan):

  map     one broadcast join on host against (host → map<path, iri>), then
          six GetMapValue lookups (kgtm.normalize.ladder_probe_expr) — a
          linear scan of the host's map per rung; the plan kgtm.link ran
          for non-literal dictionaries before the rung lookups
  hashed  kgtm.link.broadcast_ladder_link: six broadcast equi-joins on
          (host, rung candidate) sharing one build

The grid is paths per host × mentions, over 16 dictionary hosts. Half of
the mentions hit (at rung 0 or 2), half probe all six rungs and miss. Each
cell times a noop write of the linked frame: one warm-up run per plan, then
``--reps`` alternating runs per plan; the median and every run are printed
as one JSON line per cell.

Run: python scripts/bench_ladder.py [--reps 4] [--cores 4]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from kgtm.link import broadcast_ladder_link  # noqa: E402
from kgtm.normalize import ladder_probe_expr  # noqa: E402
from kgtm.session import get_spark  # noqa: E402

HOSTS = 16


def map_probe(df, index):
    """The host-keyed map probe, as kgtm.link ran it for a non-literal
    dictionary: duplicate (host, path) rows resolve to min(ontology_iri)."""
    dim = (
        index.groupBy("host", "path")
        .agg(F.min("ontology_iri").alias("ontology_iri"))
        .groupBy(F.col("host").alias("d_host"))
        .agg(F.map_from_entries(F.collect_list(F.struct("path", "ontology_iri"))).alias("path_map"))
    )
    joined = df.join(F.broadcast(dim), F.col("host") == F.col("d_host"), "left")
    probe = ladder_probe_expr(F.col("path_map"))
    staged = joined.select(*df.columns, "d_host", F.explode(F.array(probe)).alias("_hit"))
    hit, p = F.col("_hit"), F.col("path")
    pathless = (p.isNull() | (p == "")) & F.col("d_host").isNotNull()
    return staged.select(
        *df.columns,
        (hit.isNotNull() | pathless).alias("is_linked"),
        hit["ontology_iri"].alias("ontology_iri"),
        hit["cand_path"].alias("canonical_path"),
        F.when(hit.isNotNull(), hit["rung"]).when(pathless, F.lit(0)).alias("rung"),
    )


def write_inputs(spark, root: str, paths_per_host: int, mentions: int) -> tuple[str, str]:
    idx_dir = f"{root}/index_{paths_per_host}"
    m_dir = f"{root}/mentions_{paths_per_host}_{mentions}"
    host = F.concat(F.lit("h"), (F.col("id") % HOSTS).cast("string"), F.lit(".org"))
    # every host holds the terms /t0 ... /t<paths_per_host - 1>
    path = F.concat(F.lit("/t"), (F.col("id") / HOSTS).cast("long").cast("string"))
    (
        spark.range(HOSTS * paths_per_host)
        .select(
            F.concat(F.lit("http://"), host, path).alias("ontology_iri"),
            host.alias("host"),
            path.alias("path"),
            F.lit("term").alias("iri_type"),
        )
        .write.mode("overwrite")
        .parquet(idx_dir)
    )
    # term j < paths_per_host exists on every host; j >= it misses on all six rungs
    j = (F.xxhash64("id") % (2 * paths_per_host)).cast("long")
    j = F.when(j < 0, -j).otherwise(j)
    (
        spark.range(mentions)
        .select(
            F.col("id").cast("string").alias("mention_id"),
            host.alias("host"),
            F.when(F.col("id") % 2 == 0, F.concat(F.lit("/t"), j.cast("string")))
            .otherwise(F.concat(F.lit("/t"), j.cast("string"), F.lit("/x")))
            .alias("path"),
        )
        .repartition(4)
        .write.mode("overwrite")
        .parquet(m_dir)
    )
    return idx_dir, m_dir


def timed(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--paths", default="1,8,64,128,1024")
    ap.add_argument("--mentions", default="8000,80000")
    args = ap.parse_args()
    spark = get_spark(app_name="bench-ladder", cores=args.cores, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    plans = {"map": map_probe, "hashed": broadcast_ladder_link}
    with tempfile.TemporaryDirectory() as root:
        for n in map(int, args.mentions.split(",")):
            for pph in map(int, args.paths.split(",")):
                idx_dir, m_dir = write_inputs(spark, root, pph, n)

                def run(name: str) -> float:
                    index, m = spark.read.parquet(idx_dir), spark.read.parquet(m_dir)
                    return timed(plans[name](m, index))

                runs: dict[str, list[float]] = {k: [] for k in plans}
                for name in plans:
                    run(name)  # warm-up
                for _ in range(args.reps):
                    for name in plans:
                        runs[name].append(round(run(name), 3))
                m, index = spark.read.parquet(m_dir), spark.read.parquet(idx_dir)
                old, new = map_probe(m, index), broadcast_ladder_link(m, index)
                same = old.exceptAll(new).count() == 0 and new.exceptAll(old).count() == 0
                cell = {"mentions": n, "paths_per_host": pph, "hosts": HOSTS, "same_rows": same}
                for k, v in runs.items():
                    cell[f"{k}_median_s"] = round(statistics.median(v), 3)
                for k, v in runs.items():
                    cell[f"{k}_runs_s"] = v
                print(json.dumps(cell), flush=True)


if __name__ == "__main__":
    main()
