"""The three workloads: one op each, untraced and traced, with per-op checks.

An untraced op calls kgtm's public entry points exactly as ``kgtm/cli.py``
does (parquet in, manifest-gated commit store out). A traced op calls the
same entry points with benchmark-side wrappers substituted, for the length
of the op, for the layer functions those entry points look up when they run
(see :func:`substituted`). Each wrapper opens a span around the real
function and, where the result is a batch DataFrame, persists and counts it
before handing it back, so each layer's work runs inside its own span and
spans do not overlap. The traced op's output must pass the same check as
the untraced op's.
"""

from __future__ import annotations

import glob
import os
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field, replace

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import kgtm.curation
import kgtm.link
import kgtm.materialize
import kgtm.pipeline
import kgtm.streaming
from kgtm.curation import curate_documents
from kgtm.dedup import ngram_jaccard_pairs
from kgtm.extract import extract_mentions, extract_triples
from kgtm.link import link_mentions
from kgtm.materialize import list_commits, read_table, read_triples, write_table, write_triples
from kgtm.pipeline import PipelineConfig, build_triples
from kgtm.quality import triple_pr
from kgtm.resolve import resolve_links
from kgtm.schemas import TRANSCRIPTS_SCHEMA
from kgtm.spandedup import substring_dedup
from kgtm.streaming import (
    read_transcript_stream,
    run_stream_to_commit_store,
    streaming_resolution,
)

from perfbench.trace import Stopwatch

#: P/R floor of the planted-gold check (the project's correctness gate).
MIN_PR = 0.95
MIN_QUALITY = 0.45
JACCARD = 0.5


@dataclass
class OpResult:
    job_s: float
    rows: int
    ok: bool
    why: str = ""
    extra: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)
    cpu_s: float = 0.0
    stolen_s: float = 0.0
    probe_s: float = 0.0


class _Cache:
    """Persist-and-count helper of the traced ops; releases all at the end."""

    def __init__(self) -> None:
        self.frames = []

    def keep(self, df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        n = df.count()
        self.frames.append(df)
        return df, n

    def release(self) -> None:
        for df in self.frames:
            df.unpersist()
        self.frames.clear()


@contextmanager
def substituted(*subs):
    """For the length of the block, replace ``module.name`` with
    ``make(original)`` for each ``(module, name, make)``; restore after.

    kgtm's entry points look these names up when they run, so the real
    entry point runs unchanged and calls the benchmark's wrapper, which
    calls the original function."""
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in subs]
    try:
        for mod, name, make in subs:
            setattr(mod, name, make(getattr(mod, name)))
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def _kept_layer(tracer, cache: _Cache, module: str, part: str = "", seen=None, key=None):
    """Wrapper maker: span the real call, then persist and count its result
    inside the same span (``seen[key]`` gets the count, ``seen[key + "_df"]``
    the persisted frame)."""

    def make(real):
        def run(*a, **kw):
            with tracer.span(module, part) as s:
                out = real(*a, **kw)
                s.planned()
                out, n = cache.keep(out)
            if seen is not None:
                seen[key], seen[key + "_df"] = n, out
            return out

        return run

    return make


def _spanned(tracer, module: str, part: str = "", lazy: bool = False):
    """Wrapper maker: span the real call only, for calls whose result is a
    streaming plan (``lazy``: the whole call is planning) or that run their
    own jobs."""

    def make(real):
        def run(*a, **kw):
            with tracer.span(module, part) as s:
                out = real(*a, **kw)
                if lazy:
                    s.planned()
            return out

        return run

    return make


def store_files(store: str, table: str) -> tuple[int, int, int]:
    """(rows, files, bytes) of a table's committed parquet data files, read
    from the file footers — independent of the kgtm read path."""
    import pyarrow.parquet as pq

    paths = glob.glob(os.path.join(store, table, "commit=*", "**", "*.parquet"), recursive=True)
    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    return rows, len(paths), sum(os.path.getsize(p) for p in paths)


def _span(tracer, module: str, part: str = ""):
    return tracer.span(module, part) if tracer else nullcontext()


def _ok_result(res: OpResult, clock_read) -> OpResult:
    _, cpu, stolen = clock_read
    return replace(res, cpu_s=cpu, stolen_s=stolen)


# --------------------------------------------------------------------------
# kg_build
# --------------------------------------------------------------------------


class KgBuild:
    """Batch build: build_triples (latestArchived) → write_triples → read_triples."""

    TABLE = "triples"
    CONFIG = PipelineConfig(onto_version="latestArchived")

    def __init__(self, spark, data: dict) -> None:
        self.spark, self.p, self.facts = spark, data["paths"], dict(data["facts"])

    def _read(self):
        r = self.spark.read
        return r.parquet(self.p["transcripts"]), r.parquet(self.p["index"]), r.parquet(self.p["snapshots"])

    def setup(self) -> dict:
        tr, _, _ = self._read()
        self.expected_rows = extract_triples(tr).count()
        m = extract_mentions(tr).agg(F.count("*").alias("n"), F.countDistinct("surface").alias("d")).first()
        self.gold = self.spark.read.parquet(self.p["gold"])
        self.facts.update(
            triples=self.expected_rows,
            mentions=m.n,
            distinct_surfaces=m.d,
            surfaces_per_mention=round(m.d / max(1, m.n), 4),
        )
        return self.facts

    def op(self, store: str, verify: bool = True) -> OpResult:
        clock = Stopwatch()
        tr, idx, snaps = self._read()
        triples = build_triples(tr, idx, snaps, self.CONFIG)
        write_triples(triples, store)
        n_read = read_triples(self.spark, store).count()
        read = clock.read()
        self.spark.catalog.clearCache()
        if not verify:
            return _ok_result(OpResult(read[0], n_read, True), read)
        return _ok_result(self.check(store, n_read, read[0]), read)

    def check(self, store: str, n_read: int, job: float, tracer=None) -> OpResult:
        written, files, nbytes = store_files(store, "triples")
        with _span(tracer, "quality"):
            pr = triple_pr(read_triples(self.spark, store), self.gold)
        why = []
        if not n_read == written == self.expected_rows:
            why.append(f"rows read {n_read} written {written} expected {self.expected_rows}")
        if pr["precision"] < MIN_PR or pr["recall"] < MIN_PR:
            why.append(f"P/R {pr['precision']:.4f}/{pr['recall']:.4f} below {MIN_PR}")
        return OpResult(
            job,
            n_read,
            not why,
            "; ".join(why),
            extra={"precision": pr["precision"], "recall": pr["recall"]},
            counts={
                "materialize.files": files,
                "materialize.bytes_per_row": nbytes / max(1, written),
            },
        )

    def traced_op(self, store: str, tracer) -> OpResult:
        """The real pipeline.build_triples, with its extract_triples,
        link_surfaces and resolve_links calls wrapped. The link wrapper
        first materializes its input (build_triples' distinct, parsed
        surfaces) as the normalize layer. What build_triples does besides
        those calls — planning and the surface-dim checkpoint — is the
        pipeline span's self time; its lazy fact join is materialized in a
        second pipeline span before the write."""
        c, n = _Cache(), {}
        link_layer = _kept_layer(tracer, c, "link", "", n, "linked")

        def link(real):
            def run(surfaces, index):
                with tracer.span("normalize") as s:
                    s.planned()
                    surfaces, n["surfaces"] = c.keep(surfaces)
                return link_layer(real)(surfaces, index)

            return run

        with tracer.span("op"):
            clock = Stopwatch()
            tr, idx, snaps = self._read()
            with substituted(
                (kgtm.pipeline, "extract_triples", _kept_layer(tracer, c, "extract", "", n, "triples")),
                (kgtm.link, "link_surfaces", link),
                (kgtm.pipeline, "resolve_links", _kept_layer(tracer, c, "resolve", "", n, "resolved")),
            ):
                with tracer.span("pipeline", "eager"):
                    out = build_triples(tr, idx, snaps, self.CONFIG)
            with tracer.span("pipeline", "fact_join") as s:
                s.planned()
                out, _ = c.keep(out)
            with tracer.span("materialize", "write"):
                write_triples(out, store)
            with tracer.span("materialize", "read") as s:
                got = read_triples(self.spark, store)
                s.planned()
                n_read = got.count()
            with tracer.span("materialize", "list_commits"):
                commits = list_commits(store, self.spark)
            job = clock.read()[0]
        lk = n["linked_df"].agg(F.count(F.when(F.col("is_linked"), 1)).alias("n")).first().n
        sn = n["resolved_df"].agg(F.count(F.when(F.col("snapshot_iri").isNotNull(), 1)).alias("n")).first().n
        c.release()
        self.spark.catalog.clearCache()
        res = self.check(store, n_read, job, tracer)
        res.counts.update(
            {
                "extract.rows_out": n["triples"],
                "normalize.rows_out": n["surfaces"],
                "link.rows_in": n["surfaces"],
                "link.linked_ratio": lk / max(1, n["surfaces"]),
                "resolve.snapshot_ratio": sn / max(1, lk),
                "materialize.commits": len(commits),
            }
        )
        return res


# --------------------------------------------------------------------------
# kg_stream
# --------------------------------------------------------------------------


class KgStream:
    """Closed-loop streaming drain: read_transcript_stream → streaming_resolution
    → run_stream_to_commit_store (availableNow), one commit per epoch."""

    TABLE = "triples"

    def __init__(self, spark, data: dict, listener) -> None:
        self.spark, self.p, self.facts = spark, data["paths"], dict(data["facts"])
        self.listener = listener

    def _dims(self):
        r = self.spark.read
        return r.parquet(self.p["index"]), r.parquet(self.p["snapshots"])

    def setup(self) -> dict:
        """Reference pass: one batch link_mentions + resolve_links over the
        same files gives the expected row count and surface mapping."""
        idx, snaps = self._dims()
        tr = self.spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(self.p["transcripts"])
        res = resolve_links(link_mentions(extract_mentions(tr), idx), snaps, "latestArchived")
        rows = res.groupBy("surface", "ontology_iri", "snapshot_iri", "is_linked").count().collect()
        self.ref_rows = sum(r["count"] for r in rows)
        self.ref_map = {r.surface: (r.ontology_iri, r.snapshot_iri) for r in rows}
        n_linked = sum(r["count"] for r in rows if r.is_linked)
        self.facts.update(
            mentions=self.ref_rows,
            distinct_surfaces=len(self.ref_map),
            surfaces_per_mention=round(len(self.ref_map) / max(1, self.ref_rows), 4),
            linked_share=round(n_linked / max(1, self.ref_rows), 4),
        )
        return self.facts

    def _drain(self, store: str) -> None:
        idx, snaps = self._dims()
        resolved = streaming_resolution(read_transcript_stream(self.spark, self.p["transcripts"]), idx, snaps)
        run_stream_to_commit_store(resolved, store, store + "_ckpt")

    def op(self, store: str, verify: bool = True) -> OpResult:
        mark = self.listener.mark()
        clock = Stopwatch()
        self._drain(store)
        read = clock.read()
        # wait for this query's end event even when not verifying, so the
        # next op's mark cannot pick it up
        epochs = self.listener.epochs_after(mark)
        if not verify:
            return _ok_result(OpResult(read[0], 0, True), read)
        return _ok_result(self.check(store, read[0], epochs), read)

    def check(self, store: str, job: float, epochs: list[dict], tracer=None) -> OpResult:
        commits = list_commits(store, self.spark)
        with _span(tracer, "materialize", "read") as s:
            got = read_table(self.spark, store, "triples")
            if s:
                s.planned()
            n = got.count()
        rows = got.select("surface", "ontology_iri", "snapshot_iri").distinct().collect()
        mapping = {r.surface: (r.ontology_iri, r.snapshot_iri) for r in rows}
        written, files, nbytes = store_files(store, "triples")
        why = []
        if not n == written == self.ref_rows:
            why.append(f"rows committed {n} written {written} expected {self.ref_rows}")
        if len(mapping) != len(rows) or mapping != self.ref_map:
            why.append("surface mapping differs from the batch reference")
        if len(commits) != len(epochs):
            why.append(f"{len(commits)} commits for {len(epochs)} epochs")
        return OpResult(
            job,
            n,
            not why,
            "; ".join(why),
            extra={"epochs": epochs},
            counts={
                "materialize.files": files,
                "materialize.bytes_per_row": nbytes / max(1, written),
                "materialize.commits": len(commits),
            },
        )

    def traced_op(self, store: str, tracer) -> OpResult:
        """The real streaming_resolution and run_stream_to_commit_store,
        with the write_table and list_commits calls of the commit sink and
        the broadcast_ladder_link and latest_snapshots calls of the plan
        wrapped. A streaming plan cannot be materialized layer by layer:
        each epoch's extraction, normalization, link probe, snapshot join
        and data write run as one fused job inside the materialize write
        span, and the link and resolve spans record planning only."""
        mark = self.listener.mark()
        with tracer.span("op"):
            clock = Stopwatch()
            with substituted(
                (kgtm.streaming, "broadcast_ladder_link", _spanned(tracer, "link", lazy=True)),
                (kgtm.streaming, "latest_snapshots", _spanned(tracer, "resolve", lazy=True)),
                (kgtm.materialize, "write_table", _spanned(tracer, "materialize", "write")),
                (kgtm.materialize, "list_commits", _spanned(tracer, "materialize", "list_commits")),
            ):
                with tracer.span("streaming"):
                    self._drain(store)
            job = clock.read()[0]
        res = self.check(store, job, self.listener.epochs_after(mark), tracer)
        k = (
            read_table(self.spark, store, "triples")
            .agg(
                F.count(F.when(F.col("is_linked"), 1)).alias("linked"),
                F.count(F.when(F.col("snapshot_iri").isNotNull(), 1)).alias("snap"),
            )
            .first()
        )
        res.counts.update(
            {
                "extract.rows_out": res.rows,
                "normalize.rows_out": res.rows,
                "link.rows_in": res.rows,
                "link.linked_ratio": k.linked / max(1, res.rows),
                "resolve.snapshot_ratio": k.snap / max(1, k.linked),
            }
        )
        return res


# --------------------------------------------------------------------------
# doc_dedup
# --------------------------------------------------------------------------


class DocDedup:
    """Data prep: curate_documents and substring_dedup over the kept
    documents, each committed with write_table."""

    TABLE = "ledger"

    def __init__(self, spark, data: dict) -> None:
        self.spark, self.p, self.facts = spark, data["paths"], dict(data["facts"])
        self.truth = data["truth"]

    def setup(self) -> dict:
        self.n_docs = self.spark.read.parquet(self.p["documents"]).count()
        return self.facts

    def _docs(self):
        return self.spark.read.parquet(self.p["documents"])

    def _kept(self, docs, store: str):
        ledger = read_table(self.spark, store, "ledger")
        return docs.join(ledger.filter("kept").select("doc_id"), "doc_id", "left_semi")

    def op(self, store: str, verify: bool = True) -> OpResult:
        clock = Stopwatch()
        docs = self._docs()
        write_table(curate_documents(docs, MIN_QUALITY, JACCARD), store, table="ledger", partition_by=())
        write_table(substring_dedup(self._kept(docs, store)), store, table="spans", partition_by=())
        read = clock.read()
        if not verify:
            return _ok_result(OpResult(read[0], self.n_docs, True), read)
        return _ok_result(self.check(store, read[0]), read)

    def check(self, store: str, job: float) -> OpResult:
        ledger = read_table(self.spark, store, "ledger").select("doc_id", "kept", "drop_reason").collect()
        spans = read_table(self.spark, store, "spans").select("doc_id", "n_words_removed").collect()
        want = self.truth["reason"]
        why = []
        if len(ledger) != self.n_docs:
            why.append(f"ledger has {len(ledger)} rows for {self.n_docs} docs")
        bad = [r.doc_id for r in ledger if r.drop_reason != want.get(r.doc_id) or r.kept != (r.doc_id not in want)]
        if bad:
            why.append(f"{len(bad)} ledger decisions differ from the planted truth")
        n_kept = sum(r.kept for r in ledger)
        if len(spans) != n_kept:
            why.append(f"span dedup returned {len(spans)} rows for {n_kept} kept docs")
        cut = {r.doc_id: r.n_words_removed for r in spans if r.n_words_removed}
        if cut != self.truth["cut"]:
            why.append(f"{len(set(cut.items()) ^ set(self.truth['cut'].items()))} span cuts differ")
        files = [store_files(store, t) for t in ("ledger", "spans")]
        return OpResult(
            job,
            self.n_docs,
            not why,
            "; ".join(why),
            counts={
                "curation.kept_ratio": n_kept / max(1, self.n_docs),
                "spandedup.words_removed": sum(cut.values()),
                "materialize.files": sum(f[1] for f in files),
                "materialize.bytes_per_row": sum(f[2] for f in files) / max(1, sum(f[0] for f in files)),
            },
        )

    def traced_op(self, store: str, tracer) -> OpResult:
        """The real curation.curate_documents, with its quality_features,
        ngram_jaccard_pairs and dedup_clusters calls wrapped. The pairs
        wrapper first materializes its input (the exact-dedup survivors
        curate_documents built) as the curation exact stage. What
        curate_documents does besides those calls is the curation span's
        self time; its lazy ledger is materialized in a second curation
        span before the write. substring_dedup is a public call of its own."""
        c, n = _Cache(), {}
        pairs_layer = _kept_layer(tracer, c, "dedup", "pairs", n, "verified")

        def pairs(real):
            def run(hq2, *a, **kw):
                with tracer.span("curation", "exact") as s:
                    s.planned()
                    n["hq2_df"], _ = c.keep(hq2)
                return pairs_layer(real)(n["hq2_df"], *a, **kw)

            return run

        with tracer.span("op"):
            clock = Stopwatch()
            docs = self._docs()
            with substituted(
                (kgtm.curation, "quality_features", _kept_layer(tracer, c, "textstats")),
                (kgtm.curation, "ngram_jaccard_pairs", pairs),
                (kgtm.curation, "dedup_clusters", _kept_layer(tracer, c, "dedup", "clusters")),
            ):
                with tracer.span("curation", "plan"):
                    ledger = curate_documents(docs, MIN_QUALITY, JACCARD)
            with tracer.span("curation", "ledger") as s:
                s.planned()
                ledger, _ = c.keep(ledger)
            with tracer.span("materialize", "write"):
                write_table(ledger, store, table="ledger", partition_by=())
            with tracer.span("materialize", "read") as s:
                kept = self._kept(docs, store)
                s.planned()
                kept, _ = c.keep(kept)
            with tracer.span("spandedup") as s:
                spans = substring_dedup(kept)
                s.planned()
                spans, _ = c.keep(spans)
            with tracer.span("materialize", "write"):
                write_table(spans, store, table="spans", partition_by=())
            with tracer.span("materialize", "list_commits"):
                commits = list_commits(store, self.spark)
            job = clock.read()[0]
        # outside the op: every pair sharing a sub-cap shingle, at any Jaccard
        n_cand = ngram_jaccard_pairs(n["hq2_df"], threshold=0.0).count()
        n_hq = ledger.filter(F.col("quality_score") >= MIN_QUALITY).count()
        c.release()
        self.spark.catalog.clearCache()
        res = self.check(store, job)
        res.counts.update(
            {
                "textstats.kept_ratio": n_hq / max(1, self.n_docs),
                "dedup.candidate_pairs": n_cand,
                "dedup.verified_pairs": n["verified"],
                "dedup.pair_yield": n["verified"] / max(1, n_cand),
                "materialize.commits": len(commits),
            }
        )
        return res
