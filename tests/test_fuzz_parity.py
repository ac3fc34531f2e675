"""Seeded fuzz parity: the Spark column-expression implementations must agree
with the pure-Python specs on randomized inputs (these nets caught the
host-only gap that golden cases missed)."""

from __future__ import annotations

import random
import string

from pyspark.sql import functions as F

from conftest import forced_both_ways
from kgtm.link import link_mentions
from kgtm.negotiate import format_from_accept_col, get_format_from_accept_header
from kgtm.normalize import parse_iri_cols, resolve_membership, split_iri
from kgtm.schemas import ONTOLOGY_INDEX_SCHEMA
from kgtm.transcripts import local_index_df


def test_fuzz_ladder_spark_vs_pure(spark, monkeypatch):
    """Both link plans (literal map probe and broadcast rung lookups,
    forced through LITERAL_MAX_ROWS) agree with the pure spec."""
    rng = random.Random(424242)

    def rand_seg():
        return "".join(
            rng.choice(string.ascii_lowercase + string.digits + "_-")
            for _ in range(rng.randint(1, 6))
        )

    def rand_path():
        n = rng.randint(0, 4)
        p = "/" + "/".join(rand_seg() for _ in range(n)) if n else ""
        if p and rng.random() < 0.4:
            p += "/"
        return p

    hosts = [f"h{i}.org" for i in range(6)]
    dict_rows, dict_set = [], set()
    for _ in range(80):
        h, p = rng.choice(hosts), rand_path() or "/x"
        if (h, p) in dict_set:
            continue
        dict_set.add((h, p))
        dict_rows.append((f"http://{h}{p}", h, p, "term"))

    iris = set()
    for i in range(200):
        h = rng.choice(hosts)
        if rng.random() < 0.5:
            base = rng.choice(dict_rows)
            h = base[1]
            p = base[2] + rng.choice(
                ["", "/", f"/{rand_seg()}", f"/{rand_seg()}/{rand_seg()}", f"#f{i}"]
            )
        else:
            p = rand_path()
        iris.add(f"{rng.choice(['http', 'https'])}://{h}{p}")
    iris = sorted(iris)

    index = local_index_df(spark, dict_rows)
    m = spark.createDataFrame([(i,) for i in iris], "surface string").select(
        F.lit("c").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.xxhash64("surface").alias("mention_id"),
        "surface",
        *parse_iri_cols("surface"),
    )
    want = {}
    for iri in iris:
        _, h, p, _ = split_iri(iri)
        ok, canon, rung = resolve_membership(h, p, dict_set)
        want[iri] = (ok, canon if ok else None, rung if ok else None)

    def run():
        return {
            r.surface: (r.is_linked, r.canonical_path, r.rung)
            for r in link_mentions(m, index).collect()
        }

    for got in forced_both_ways(monkeypatch, "LITERAL_MAX_ROWS", run):
        assert got == want


def test_fuzz_incremental_relink_equals_full(spark):
    """Random dictionaries + random deltas (adds, removes, re-points):
    incremental_relink over the old linkage must equal a full re-link
    against the new dictionary, row for row."""
    from kgtm.link import incremental_relink

    rng = random.Random(90909)

    def rand_seg():
        return "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(1, 4)))

    hosts = [f"h{i}.org" for i in range(4)]
    for trial in range(3):
        dict_rows = {}
        for _ in range(25):
            h = rng.choice(hosts)
            p = "/" + "/".join(rand_seg() for _ in range(rng.randint(1, 3)))
            if rng.random() < 0.3:
                p += "/"
            dict_rows[(h, p)] = f"http://{h}{p}"
        old_rows = [(iri, h, p, "term") for (h, p), iri in dict_rows.items()]

        # mutate: drop some, add some, re-point some
        new_map = dict(dict_rows)
        keys = sorted(new_map)
        for k in rng.sample(keys, k=min(4, len(keys))):
            op = rng.random()
            if op < 0.4:
                del new_map[k]
            elif op < 0.7:
                new_map[k] = new_map[k] + "-v2"  # re-point, same key
        for _ in range(3):
            h = rng.choice(hosts)
            p = "/" + rand_seg() + "/" + rand_seg()
            new_map[(h, p)] = f"http://{h}{p}"
        new_rows = [(iri, h, p, "term") for (h, p), iri in new_map.items()]

        iris = set()
        for i in range(120):
            h, p = rng.choice(sorted(set(dict_rows) | set(new_map)))
            p = p + rng.choice(["", "/", f"/{rand_seg()}", f"#f{i}"])
            iris.add(f"{rng.choice(['http', 'https'])}://{h}{p}")
        m = spark.createDataFrame(
            [(i,) for i in sorted(iris)], "surface string"
        ).select(
            F.lit("c").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            # md5, not xxhash64: ids must be the v2 string format or the
            # incremental_relink migration guard (rightly) rejects the table
            F.md5("surface").alias("mention_id"),
            "surface",
            *parse_iri_cols("surface"),
        )

        old = spark.createDataFrame(old_rows, ONTOLOGY_INDEX_SCHEMA)
        new = spark.createDataFrame(new_rows, ONTOLOGY_INDEX_SCHEMA)
        linked_old = link_mentions(m, old).localCheckpoint(eager=True)
        cols = ["mention_id", "is_linked", "ontology_iri", "canonical_path", "rung"]
        inc = sorted(map(tuple, incremental_relink(linked_old, old, new).select(*cols).collect()))
        full = sorted(map(tuple, link_mentions(m, new).select(*cols).collect()))
        assert inc == full, f"trial {trial}"


def test_fuzz_negotiation_spark_vs_pure(spark):
    rng = random.Random(777)
    mimes = [
        "application/rdf+xml", "application/owl+xml", "text/turtle",
        "application/n-triples", "text/html", "application/json", "*/*",
        "image/png", "text/plain", "application/xml",
    ]
    qs = ["", ";q=0", ";q=0.1", ";q=0.5", ";q=0.9", ";q=1.0", ";q=1",
          ";q=abc", "; q=0.5", ";level=1;q=0.7"]
    headers = set()
    for _ in range(250):
        n = rng.randint(0, 5)
        parts = [rng.choice(mimes) + rng.choice(qs) for _ in range(n)]
        headers.add(rng.choice([",", ", ", " ,"]).join(parts))
    headers = sorted(headers)

    df = spark.createDataFrame([(h,) for h in headers], "accept_header string")
    got = {
        r.accept_header: r.fmt
        for r in df.select(
            "accept_header", format_from_accept_col("accept_header").alias("fmt")
        ).collect()
    }
    for h in headers:
        assert got[h] == get_format_from_accept_header(h), repr(h)


def test_fuzz_substring_dedup_spark_vs_duckdb(spark):
    """Randomized corpora from a tiny vocabulary (forcing accidental shared
    grams) plus injected boilerplate phrases at random positions: the Spark
    plan and the DuckDB twin must agree row for row — text bytes, removed
    counts, and span counts — across seeds."""
    import duckdb
    import pandas as pd

    from kgtm import oracles
    from kgtm.spandedup import substring_dedup

    L = 5
    for seed in (7, 99, 2026):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]
        boiler = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(L, 2 * L)))
            for _ in range(3)
        ]
        rows = []
        for d in range(60):
            words = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
            if rng.random() < 0.6:
                ins = rng.choice(boiler).split()
                at = rng.randint(0, len(words))
                words[at:at] = ins
            text = " ".join(words)
            if rng.random() < 0.05:
                text = None
            elif rng.random() < 0.05:
                text = "   "
            rows.append((d, text))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(map(tuple, substring_dedup(df, min_words=L).collect()))
        con = duckdb.connect()
        pdf = pd.DataFrame(rows, columns=["doc_id", "text"]).astype(
            {"doc_id": "Int64"}
        )
        con.register("documents", pdf)
        want = sorted(
            map(tuple, con.execute(oracles.q_substring_dedup(L)).fetchall())
        )
        assert len(got) == 60 == len(want), seed
        assert got == want, seed
