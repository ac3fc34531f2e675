"""The flagship end-to-end pipeline.

transcripts → mention detection → SVO triple extraction → ladder linking →
versioned-snapshot resolution → final triples, with per-stage metrics.

This is the batch lift of the reference's request lifecycle (SURVEY.md §3.1):
parse → deny-gate → membership ladder → negotiation → version dispatch →
response, re-planned as one declarative DataFrame DAG so Catalyst handles
filter ordering and the dictionary/snapshot joins broadcast.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgtm.extract import extract_triples
from kgtm.resolve import attach_live_legs, resolve_links


@dataclass
class PipelineConfig:
    """Job config — the batch analog of the reference Config dataclass
    (/root/reference/ontologytimemachine/utils/config.py:88-101).

    ``live_legs``: required for onto_version='originalFailoverLiveLatest' —
    a broadcast-sized DataFrame (surface, live_status, live_content_type,
    accept_header) recording each surface's live-fetch outcome; the failover
    gate (proxy_logic.py:209-238) decides live-vs-archived per surface from
    it. Batch jobs have no live network leg, so this table is an input, not
    something the pipeline can invent.
    """

    onto_version: str = "latestArchived"
    pin_ts: dt.datetime | None = None
    restricted_access: bool = False
    persist_intermediate: bool = True
    live_legs: DataFrame | None = None


def build_triples(
    transcripts: DataFrame,
    ontology_index: DataFrame,
    ontology_snapshots: DataFrame,
    config: PipelineConfig | None = None,
) -> DataFrame:
    """Emit canonicalized (conv_id, subj, pred, obj, *_snapshot_iri, source).

    Plan shape (one scan of transcripts feeds both extractors; the linking
    side joins are broadcast; the only wide exchanges are the min-rung
    aggregation and the final subj/obj re-joins on mention surface):

      transcripts ──┬─ extract_mentions ─ link ─ resolve ─┐ (dim, broadcast)
                    └─ extract_triples ───────────────────┴─ left joins on
                                                             subj/obj surface
    """
    config = config or PipelineConfig()

    # ONE extraction scan feeds everything. The linking side works on the
    # DISTINCT triple terms (|surfaces| ≈ dictionary size × variant forms —
    # tiny next to the fact table), so the ladder fan-out, broadcast probe,
    # and snapshot join never touch the 10^12-row side.
    # Project to the four columns the rest of the pipeline consumes BEFORE
    # any materialization (guide §2.3): turn_idx/conf never appear in the
    # output, and dropping them here lets Catalyst prune the transcript
    # adapter's row_number Window (and its sort) out of the flagship plan
    # entirely — parallelism is preserved by the adapter's own explicit
    # repartition (kgtm.transcripts.events_to_transcripts), which is exactly
    # the exchange extraction needs anyway.
    triples = extract_triples(transcripts).select("conv_id", "subj", "pred", "obj")
    if config.persist_intermediate:
        from pyspark.storagelevel import StorageLevel

        # The cache is populated by the FIRST action over `triples`, which is
        # the dim branch's eager checkpoint below — build_triples runs its
        # jobs strictly sequentially, so extraction still executes exactly
        # once (the 100 TB contract: scan cost x1). The previous shape ran a
        # dedicated `triples.count()` first, which paid one full extra cache
        # scan per build for nothing (round-7 measurement: 2.3 s at
        # amplify=30) — populate-on-first-use removes that pass.
        triples = triples.persist(StorageLevel.MEMORY_AND_DISK)

    from kgtm.link import link_surfaces
    from kgtm.normalize import parse_iri_cols

    # Filter BEFORE the explode (round 7, guide §3.3 "explode multiplies"):
    # non-IRI terms (most subjects) never become generated rows, halving the
    # explode output feeding the distinct. when+concat of arrays, not a
    # higher-order filter() — lambdas are CodegenFallback (the ladder-probe
    # lesson). Measured 2.42 s -> 2.15 s on the surfaces subtree at
    # amplify=30; output identical (exceptAll both ways empty).
    _empty = F.array().cast("array<string>")
    surf_arr = F.concat(
        F.when(F.col("subj").startswith("http"), F.array("subj")).otherwise(_empty),
        F.when(F.col("obj").startswith("http"), F.array("obj")).otherwise(_empty),
    )
    surfaces = (
        triples.select(F.explode(surf_arr).alias("surface"))
        .distinct()
        .select("surface", *parse_iri_cols("surface"))
    )
    linked = attach_live_legs(
        link_surfaces(surfaces, ontology_index), config.onto_version, config.live_legs
    )
    resolved = resolve_links(
        linked, ontology_snapshots, config.onto_version, config.pin_ts
    )
    surface_dim = resolved.filter(F.col("is_linked")).select(
        "surface", "ontology_iri", "snapshot_iri", "source"
    )
    # Materialize the dim ONCE: it feeds TWO broadcast joins (subj + obj) and
    # Spark does not reuse the exchanges (the subtrees differ by aliases), so
    # without this the whole extract→distinct→link→resolve subtree — scan
    # included — would execute twice more. The dim is broadcast-sized by
    # design, so the checkpoint is a tiny job.
    surface_dim = surface_dim.localCheckpoint(eager=True)

    # ONE broadcast for BOTH the subj and obj joins: the two join subtrees
    # are DataFrame aliases over the SAME checkpointed dim with the SAME join
    # key (surface), so they canonicalize identically and the second
    # BroadcastExchange plans as ReusedExchange — the dim is built and
    # shipped once, not twice (asserted by tests/test_plans_and_closure).
    dim = F.broadcast(surface_dim)

    out = (
        triples.alias("t")
        .join(
            dim.alias("d_subj"),
            F.col("t.subj") == F.col("d_subj.surface"),
            "left",
        )
        .join(
            dim.alias("d_obj"),
            F.col("t.obj") == F.col("d_obj.surface"),
            "left",
        )
    )
    if config.restricted_access:
        # Deny gate (proxy_logic.py:39-44): the reference denies on DICTIONARY
        # MEMBERSHIP only — linkage, not snapshot presence (a linked ontology
        # with no archived snapshot is a 404, not a 403, and under
        # onto_version='original' snapshot_iri is always NULL by design).
        # obj-side source IS NULL ⇔ the http object never linked (surface_dim
        # is filtered to is_linked rows).
        out = out.filter(
            ~(F.col("t.obj").startswith("http") & F.col("d_obj.source").isNull())
        )
    return out.select(
        "conv_id",
        F.coalesce(F.col("d_subj.ontology_iri"), F.col("t.subj")).alias("subj"),
        "pred",
        F.coalesce(F.col("d_obj.ontology_iri"), F.col("t.obj")).alias("obj"),
        F.col("d_subj.snapshot_iri").alias("subj_snapshot_iri"),
        F.col("d_obj.snapshot_iri").alias("obj_snapshot_iri"),
        F.coalesce(
            F.col("d_obj.source"), F.col("d_subj.source"), F.lit("unlinked")
        ).alias("source"),
    )
