"""Corpus curation: the composed training-data filtering pipeline.

What a 100 TB pre-training data pipeline actually ships is not one dedup
operator but a LEDGER: every document with a keep/drop decision and the
reason, so downstream audits can reproduce the corpus. This module composes
the tested pieces (kgtm.textstats quality scoring → exact dedup → n-gram
near-dup clustering over kgtm.dedup + star connected components) into that
ledger, with deterministic survivor picks at every stage.

Stage order matters and is part of the contract:
  1. low-quality drops first (cheap codegen-only scan; no point paying
     shingle/dedup cost for junk),
  2. exact dedup among the survivors (digest groupBy, min doc_id survives),
  3. near-dup clustering among what remains (shared-shingle exact Jaccard →
     O(log n) star components, min doc_id per cluster survives).

Reference lineage: the quality/aggregate side descends from the experiment
harness's per-file accessibility accounting (aggregate_results.py:92-151 —
every URL ends in exactly one category); the drop-reason CASE is the same
idea over documents.

A curation store keeps the ledger as versioned commits
(persist_curated_corpus → snapshot, append_curated_batch → O(batch)
deltas) beside five materialized corpus-state tables (STATE_TABLES), so an
append reads compact state instead of the corpus text. Every append is
state-backed; a store without complete state is refused until
upgrade_to_state backfills it. incremental_curate also takes the prior
corpus documents directly, for a caller with no store.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgtm import session
from kgtm.dedup import dedup_clusters, ngram_jaccard_pairs
from kgtm.textstats import quality_features

DROP_REASONS = ["low-quality", "exact-dup", "near-dup"]


def curate_documents(
    docs: DataFrame,
    min_quality: float = 0.45,
    jaccard_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per input document: (doc_id, quality_score, kept, drop_reason).

    drop_reason ∈ {low-quality, exact-dup, near-dup, NULL(kept)} — exactly
    one bucket per document, first applicable stage wins. All survivor picks
    are min-doc_id (deterministic, partitioning-independent).
    """
    # The threshold compares the ROUNDED score (6 decimals) so the decision
    # is reproducible from the published quality_stats numbers themselves.
    #
    # Round-7 shape (guide §8 "decide with small rows"): ONE pass over the
    # text computes everything any decision needs — the rounded quality score
    # and the exact-dup digest — into a NARROW (id, digest, score) frame that
    # is lazily checkpointed. The previous formulation re-derived `scored`
    # (split/regex-heavy quality expressions over full text) in every
    # consuming subtree: 12 parquet scans / ~5 quality recomputes per run at
    # sf0.1 (plans/r07/corpus_curation_before.txt). Text is re-read from the
    # source only where text is genuinely needed (shingling the near-dup
    # survivors), so the checkpoint stays ~50 bytes/doc at any corpus size.
    meta = (
        quality_features(docs.select(id_col, text_col))
        .select(
            id_col,
            F.md5(F.col(text_col)).alias("_dg"),
            F.round("quality_score", 6).alias("quality_score"),
        )
        .localCheckpoint(eager=False)
    )
    hq = meta.filter(F.col("quality_score") >= min_quality)

    # stage 2: exact dedup among high-quality docs (digest groupBy; the
    # min-id keeper joins back broadcast — one digest shuffle total). The
    # narrow decision is checkpointed EAGERLY: hq2's semi-join, the fan-out
    # check and the shingle flat's checkpoint in ngram_jaccard_pairs, and
    # the ledger all read it, and built lazily each of those three Spark
    # executions re-ran the digest aggregate and its join.
    keepers = hq.groupBy("_dg").agg(F.min(id_col).alias("_keep"))
    exact_kept = hq.join(keepers, "_dg").select(
        id_col, (F.col(id_col) == F.col("_keep")).alias("_exact_keep")
    ).localCheckpoint(eager=True)

    # stage 3: near-dup clustering among exact survivors (the only consumers
    # of text besides the scoring pass above)
    hq2 = docs.select(id_col, text_col).join(
        exact_kept.filter("_exact_keep").select(id_col), id_col, "left_semi"
    )
    pairs = ngram_jaccard_pairs(
        hq2, text_col=text_col, id_col=id_col, threshold=jaccard_threshold
    )
    clusters = dedup_clusters(pairs, hq2.select(id_col), id_col=id_col)

    ledger = (
        meta.select(id_col, "quality_score")
        .join(exact_kept, id_col, "left")
        .join(
            clusters.select(F.col("id").alias(id_col), "is_survivor"),
            id_col,
            "left",
        )
    )
    return _assemble_ledger(ledger, id_col, min_quality)


def _assemble_ledger(joined: DataFrame, id_col: str, min_quality: float) -> DataFrame:
    """Shared drop-reason precedence (first applicable stage wins) — the ONE
    place the ledger contract lives, for both full and incremental curation."""
    reason = (
        F.when(F.col("quality_score") < min_quality, F.lit("low-quality"))
        .when(~F.col("_exact_keep"), F.lit("exact-dup"))
        .when(~F.col("is_survivor"), F.lit("near-dup"))
    )
    return joined.select(
        id_col,
        "quality_score",
        reason.isNull().alias("kept"),
        reason.alias("drop_reason"),
    )


def _pruned_flat_lookup(
    flat: DataFrame,
    shingles: DataFrame,
    n_buckets: int | None,
) -> DataFrame:
    """Rows of a (bucketed) stored shingle flat whose shingle is in the
    SMALL set ``shingles`` — the read path where directory bucketing
    actually prunes: the set is collected (capped at
    ``session.LITERAL_MAX_ROWS``; the newly-hot set is typically 0-10
    shingles per append), its bucket ids
    computed driver-side, and the scan filtered to sb ∈ those buckets
    (partition pruning skips every other directory) plus shingle ∈ values.
    Falls back to the broadcast semi-join (full map-side-filtered scan —
    always correct, just unpruned) when the set is larger than the cap or
    the store predates bucketing. ``n_buckets`` must be the value recorded
    in the store's state manifests — a drifted constant would mis-prune."""
    cap = session.LITERAL_MAX_ROWS
    rows = shingles.limit(cap + 1).collect()
    if len(rows) <= cap:
        vals = [r[0] for r in rows]
        if not vals:
            return flat.filter(F.lit(False))
        out = flat
        if n_buckets and "sb" in flat.columns:
            buckets = sorted({v % n_buckets for v in vals})
            out = out.filter(F.col("sb").isin(buckets))
        return out.filter(F.col("shingle").isin(vals))
    # a USING join puts the key first: keep the flat's column order
    return flat.join(F.broadcast(shingles), "shingle", "left_semi").select(*flat.columns)


def incremental_curate(
    old_docs: DataFrame | None,
    old_ledger: DataFrame,
    new_docs: DataFrame,
    min_quality: float = 0.45,
    jaccard_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    state: CorpusState | None = None,
    _state_out: dict | None = None,
    _plan_probes: dict | None = None,
) -> DataFrame:
    """Curate ONLY a newly-arrived batch against an already-curated corpus:
    ledger rows for the new docs, with EXACT full-run parity.

    The append-only production shape: prior decisions are immutable (the
    ledger is the audit log); a new batch must not re-curate the world. The
    QUADRATIC work scales with the batch — the near-dup candidate join is
    probe-driven (dedup.probe_pairs_with_sizes: pairs touching new docs
    only, never the old×old self-join) and exact dedup is a digest join of
    the batch against prior digests.

    The LINEAR corpus-side inputs come from one of two places:
      - ``old_docs`` (a caller with no store): the prior corpus is scanned
        and shingled from text on each call — O(corpus text) per batch.
      - ``state`` (a curation store; append_curated_batch passes it): the
        five materialized corpus tables (CorpusState — digests, shingle
        flat, df contributions, post-cap doc sizes, hot set) that the store
        keeps current with one contribution per commit, so a batch reads
        compact int/hash tables instead of text and ``old_docs`` is not
        needed. The stored flat is scanned once, filtered map-side to the
        batch's shingles. When ``state`` is given, ``old_docs`` is unused.
    Decisions are identical from either input (pytest-asserted parity).

    PRECONDITIONS: (a) monotone ids — checked below; (b) the SAME
    min_quality / jaccard_threshold / shingle settings as the run that
    produced ``old_ledger``. min_quality drift is detected from the ledger
    itself (quality_score vs drop_reason disagree) and raises; a
    jaccard_threshold drift is NOT detectable from the ledger and silently
    voids the parity contract — record thresholds beside the ledger
    (persist_ledger stores them in the commit manifest) and pass them back.

    Parity contract (provable given monotone ids, enforced below): for every
    NEW doc, (kept, drop_reason, quality_score) equal what a full
    curate_documents over old∪new would produce. Old×old near-dup edges can
    only merge components that each already contain an old doc — and ANY
    old member (id < every new id) drops a new doc — so omitting them never
    flips a new doc's decision. Old docs' rows are NOT recomputed: a new
    bridge that would merge two old clusters in a full re-run leaves both
    old survivors standing here (ledger immutability, by design).
    """
    from kgtm.dedup import (
        DEFAULT_MAX_SHINGLE_DF,
        _capped_flat,
        dedup_clusters,
        flat_shingles,
        probe_pairs_with_sizes,
    )

    if state is None and old_docs is None:
        raise ValueError("incremental_curate needs either old_docs or state")
    # ONE Spark job for every precondition: max old id + threshold-drift
    # count come from a single scan of the ledger (which covers every old
    # doc, scored), crossed with the batch's min id. min_quality drift:
    # under the ledger's own min_quality, a row is low-quality IFF its
    # recorded score is below the threshold — any disagreement means
    # old_ledger was built with different settings and the parity contract
    # is void.
    drift = (
        (F.col("quality_score") < min_quality)
        & (F.col("drop_reason").isNull() | (F.col("drop_reason") != "low-quality"))
    ) | ((F.col("quality_score") >= min_quality) & (F.col("drop_reason") == "low-quality"))
    row = (
        old_ledger.agg(
            F.max(id_col).alias("mx"),
            F.sum(drift.cast("long")).alias("n_drift"),
        )
        .crossJoin(new_docs.agg(F.min(id_col).alias("mn")))
        .first()
    )
    if row.mx is not None and row.mn is not None and row.mx >= row.mn:
        raise ValueError(
            "incremental_curate requires monotone ids: every new doc_id must "
            f"exceed all old ones (old max {row.mx} >= new min {row.mn})"
            " — the exact-parity proof leans on old ids always winning the "
            "min-id survivor pick"
        )
    if row.n_drift:
        raise ValueError(
            f"old_ledger disagrees with min_quality={min_quality} on "
            f"{row.n_drift} rows — it was built with a different threshold; "
            "re-curate or pass the original parameters (recorded in the "
            "ledger's commit manifest by persist_ledger)"
        )

    # the batch-derived intermediates are consumed 2-3x each downstream
    # (digest stage, graph union, probe ids, node set, final ledger joins);
    # lazy localCheckpoints materialize each ONCE instead of re-running the
    # quality/digest chains per consumer — same pattern as the shingle flat
    # in ngram_jaccard_pairs
    scored_new = (
        quality_features(new_docs.select(id_col, text_col))
        .select(id_col, text_col, F.round("quality_score", 6).alias("quality_score"))
        .localCheckpoint(eager=False)
    )
    hq_new = scored_new.filter(F.col("quality_score") >= min_quality)

    # exact stage: the batch's digests vs prior HIGH-QUALITY digests (old
    # exact- and near-dup-dropped docs still occupy their digest groups in a
    # full run; only quality-dropped old docs never entered the groupBy).
    # From state, the prior digest set IS the materialized table — the exact
    # keepers own one distinct digest each, and every old HQ doc's digest is
    # owned by some keeper, so keepers' digests == distinct HQ digests.
    if state is not None:
        old_digests = state.digests.select(F.col("dg").alias("_dg"))
    else:
        old_hq = old_docs.join(
            old_ledger.filter(
                F.col("drop_reason").isNull() | (F.col("drop_reason") != "low-quality")
            ).select(id_col),
            id_col,
            "left_semi",
        )
        old_digests = old_hq.select(F.md5(F.col(text_col)).alias("_dg")).distinct()
    new_digests = hq_new.select(id_col, F.md5(F.col(text_col)).alias("_dg"))
    grp = new_digests.groupBy("_dg").agg(F.min(id_col).alias("_keep"))
    # keeper = min new id of the digest group AND the digest is unseen in the
    # corpus (a digest already in old always wins: old ids are smaller)
    exact_kept = (
        new_digests.join(grp, "_dg")
        .join(old_digests.withColumn("_in_old", F.lit(True)), "_dg", "left")
        .select(
            id_col,
            (
                F.col("_in_old").isNull() & (F.col(id_col) == F.col("_keep"))
            ).alias("_exact_keep"),
        )
        .localCheckpoint(eager=False)
    )
    new_survived_exact = exact_kept.filter("_exact_keep").select(id_col)

    # near-dup stage: graph participants of the full run = exact-survivors
    # on both sides (old side: ledger kept + near-dup-dropped — both passed
    # the exact stage and sit in the full run's pair graph)
    if state is not None:
        # state.flat already holds the old participants' (id, shingle) rows;
        # only the batch is shingled from text. The df cap runs over the
        # COMBINED shingle space — same as a full run, so a shingle pushed
        # over the cap by the batch is dropped on both sides exactly as
        # curate_documents would.
        new_flat = flat_shingles(
            hq_new.join(new_survived_exact, id_col, "left_semi").select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            ),
            text_col="text",
            id_col="doc_id",
        )
        # NO consumer below touches the full corpus flat more than the ONE
        # map-side-filtered columnar scan (o_hit) plus the bucket-pruned
        # newly-hot owner lookup. Hot set is INCREMENTAL: hot_now =
        # stored_hot ∪ {batch shingles whose stored_total + batch_count
        # crosses the cap} — df only grows and only batch shingles' totals
        # change, so this equals the full recompute over the combined
        # corpus. Participant sizes come from the materialized
        # ledger_doc_sizes sum (post-cap under stored_hot) corrected by the
        # newly-hot ownership counts.
        batch_df = new_flat.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        hot_old = state.hot.select("shingle").distinct()
        cand = batch_df.join(hot_old, "shingle", "left_anti")
        # stored totals for the batch's (not-yet-hot) shingles only —
        # a map-side-filtered scan of the df table, never a full groupBy
        old_tot = (
            state.shingle_df.select("shingle", "df")
            .join(F.broadcast(cand.select("shingle")), "shingle", "left_semi")
            .groupBy("shingle")
            .agg(F.sum("df").alias("old_df"))
        )
        newly_hot = (
            cand.join(old_tot, "shingle", "left")
            .filter(
                F.coalesce(F.col("old_df"), F.lit(0)) + F.col("df")
                > DEFAULT_MAX_SHINGLE_DF
            )
            .select("shingle")
            .localCheckpoint(eager=False)
        )
        hot_now = hot_old.unionByName(newly_hot).localCheckpoint(eager=False)
        p = new_flat.join(
            F.broadcast(hot_now), "shingle", "left_anti"
        ).localCheckpoint(eager=False)
        # ONE scan of the stored flat: broadcast-semi on the batch's
        # post-cap shingle set filters map-side, so only rows that can
        # pair with the batch are ever shuffled (hot rows self-exclude:
        # p's shingles are post-cap)
        probe_sh = p.select("shingle").distinct()
        o_hit_raw = state.flat.select("id", "shingle").join(
            F.broadcast(probe_sh), "shingle", "left_semi"
        )
        o_hit = o_hit_raw.localCheckpoint(eager=False)
        # owner corrections: stored docs owning a newly-hot shingle have
        # their stored post-cap size overcounted by exactly that many
        # rows. |newly-hot| is tiny (shingles cross the cap once), so
        # the lookup collects it and prunes to the buckets it hits.
        owner_corr_raw = (
            _pruned_flat_lookup(state.flat, newly_hot, state.n_buckets)
            .groupBy("id")
            .agg((-F.count(F.lit(1))).alias("corr"))
        )
        owner_corr = owner_corr_raw.localCheckpoint(eager=False)
        if _plan_probes is not None:
            # pre-checkpoint frames (checkpoints erase lineage from the
            # final plan) so plan-shape tests can pin the O(batch)
            # contract structurally — never consumed on the hot path
            _plan_probes.update(
                {
                    "o_hit": o_hit_raw,
                    "old_tot": old_tot,
                    "owner_corr": owner_corr_raw,
                    "newly_hot": newly_hot,
                }
            )
        batch_sizes = p.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
        old_ids = o_hit.select("id").distinct()
        old_sizes = (
            state.doc_sizes.select("id", "n_sh")
            .join(old_ids, "id", "left_semi")
            .groupBy("id")
            .agg(F.sum("n_sh").alias("n_sh"))
            .join(owner_corr, "id", "left")
            .select(
                "id",
                (F.col("n_sh") + F.coalesce(F.col("corr"), F.lit(0))).alias("n_sh"),
            )
        )
        pairs = probe_pairs_with_sizes(
            p, o_hit, batch_sizes.unionByName(old_sizes), jaccard_threshold
        )
        if _state_out is not None:
            # the O(batch) state contributions the committing append
            # writes — computed HERE once (all lazily checkpointed above,
            # so the post-commit state write reuses materialized RDDs)
            _state_out.update(
                {
                    "ledger_digests": new_digests.join(
                        new_survived_exact, id_col, "left_semi"
                    ).select(F.col("_dg").alias("dg")),
                    "ledger_shingles": new_flat,
                    "ledger_shingle_df": batch_df,
                    "ledger_doc_sizes": batch_sizes.unionByName(
                        owner_corr.select("id", F.col("corr").alias("n_sh"))
                    ),
                    "ledger_hot": newly_hot,
                }
            )
    else:
        old_participants = old_docs.join(
            old_ledger.filter(
                F.col("kept") | (F.col("drop_reason") == "near-dup")
            ).select(id_col),
            id_col,
            "left_semi",
        )
        graph_docs = old_participants.select(id_col, text_col).unionByName(
            hq_new.join(new_survived_exact, id_col, "left_semi").select(id_col, text_col)
        )
        # the df cap runs over the whole graph (old ∪ batch participants),
        # as in a full run; the probe side is the batch's exact survivors
        pair_side, sizes = _capped_flat(
            graph_docs, text_col, id_col, 3, DEFAULT_MAX_SHINGLE_DF
        )
        probe = new_survived_exact.select(F.col(id_col).alias("id"))
        pairs = probe_pairs_with_sizes(
            pair_side.join(probe, "id", "left_semi"),
            pair_side.join(probe, "id", "left_anti"),
            sizes,
            jaccard_threshold,
        )
    # node universe: new exact-survivors + only the OLD docs that appear in
    # a pair (an old doc in no probe pair cannot affect any new decision)
    pair_nodes = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    nodes = new_survived_exact.unionByName(pair_nodes).distinct()
    clusters = dedup_clusters(pairs, nodes, id_col=id_col)

    ledger = (
        scored_new.select(id_col, "quality_score")
        .join(exact_kept, id_col, "left")
        .join(
            clusters.select(F.col("id").alias(id_col), "is_survivor"),
            id_col,
            "left",
        )
    )
    return _assemble_ledger(ledger, id_col, min_quality)


def persist_ledger(
    ledger: DataFrame, out_dir: str, **curation_params
) -> dict:
    """Commit a curation ledger SNAPSHOT into the manifest store
    (table='ledger', manifest ledger_kind='snapshot').

    Corpus versions then time-travel exactly like the triple store: each
    curation run is one commit, `read_ledger(as_of=seq)` reproduces the
    corpus decision set as of that commit — the output-store mirror of the
    reference's hash-versioned dictionary snapshots
    (download_archivo_urls.py:41-46: a new version only when content
    changed). ``curation_params`` (thresholds etc.) are recorded in the
    manifest so every corpus version is reproducible from its commit record.

    A snapshot is the FULL decision set; incremental appends
    (append_curated_batch) then land as O(batch) DELTA commits on top of it,
    and compact_ledger periodically folds snapshot+deltas back into one
    snapshot. The ledger_kind marker is what lets read_ledger resolve
    (newest snapshot + its deltas) and what makes the generic compact_table
    refuse to blind-union these commits.

    Concurrency: a RE-curation snapshot (the store already has a ledger
    chain) competes for the SAME successor claim as appends and compactions
    (``ledger-succ-{head_commit_id}``), so a snapshot cannot slip into an
    in-flight append's claim→commit window and silently orphan its delta —
    the slower writer gets the recompute error instead of a lost batch. The
    manifest records ``base_commit_id`` so release_stale_ledger_claims sees
    the claim as fulfilled. The FIRST snapshot into an empty store has no
    predecessor and takes no claim; two racing first snapshots both land and
    the newer seq wins deterministically — safe because each snapshot is a
    complete decision set, unlike a delta, which is meaningless off its base.
    """
    from kgtm.materialize import claim_marker

    spark = ledger.sparkSession
    extra = None
    try:
        head = _resolve_ledger_commits(spark, out_dir)[-1]
    except FileNotFoundError:
        head = None  # first snapshot: nothing to serialize with
    if head is not None:
        if not claim_marker(
            spark,
            out_dir,
            f"ledger-succ-{head['commit_id']}",
            {"op": "snapshot", "base_seq": head["seq"]},
        ):
            raise RuntimeError(
                f"concurrent ledger commit: another writer holds the "
                f"successor claim for chain head {head['commit_id']} — an "
                "in-flight append/compaction/re-curation has landed or is "
                "about to; re-run this snapshot afterwards, or run "
                "release_stale_ledger_claims if the claimant crashed"
            )
        extra = {"base_commit_id": head["commit_id"]}
    return _commit_ledger_rows(
        ledger,
        out_dir,
        kind="snapshot",
        curation_params=curation_params,
        extra=extra,
    )


def _commit_ledger_rows(
    rows: DataFrame,
    out_dir: str,
    kind: str,
    curation_params: dict | None,
    extra: dict | None = None,
) -> dict:
    from kgtm.materialize import write_table

    manifest: dict = {"ledger_kind": kind}
    if curation_params:
        manifest["curation_params"] = curation_params
    if extra:
        manifest.update(extra)
    return write_table(
        rows.withColumn("kept_part", F.col("kept")),
        out_dir,
        table="ledger",
        partition_by=("kept_part",),
        extra_manifest=manifest,
    )


# ---------------------------------------------------------------------------
# materialized corpus-side curation state (the five STATE_TABLES)
# ---------------------------------------------------------------------------

#: The five state tables: digest set, participant shingle flat, df
#: contributions, per-doc post-cap shingle counts and the accreted
#: hot-shingle set — together they let an append skip every counting pass
#: over the corpus flat (see incremental_curate's ``state``). A store is
#: state-backed only when ALL five cover its resolved ledger chain.
STATE_TABLES = (
    "ledger_digests",
    "ledger_shingles",
    "ledger_shingle_df",
    "ledger_doc_sizes",
    "ledger_hot",
)

#: Directory-bucket count for the shingle-keyed state tables
#: (ledger_shingles / ledger_shingle_df are partitioned by
#: sb = pmod(shingle, N)). Pruning wins come from SMALL probe sets — the
#: newly-hot owner lookup touches a handful of shingles per append, so it
#: reads a handful of directories instead of the whole flat; a batch's full
#: shingle set is hash-uniform and hits every bucket, which is why the
#: batch-side join relies on the broadcast map-side filter instead. The
#: value is recorded per state commit (manifest key shingle_buckets) and
#: read back from there, so changing this constant never mis-prunes an
#: existing store; at real cluster scale pick O(thousands).
N_SHINGLE_BUCKETS = 64


class CorpusState:
    """Materialized corpus-side curation state, as read for one resolved
    ledger chain: one frame per STATE_TABLES entry, all required — the
    ``state`` input of incremental_curate. ``n_buckets`` is the sb=
    directory-bucket count recorded in the flat's manifests (None when the
    flat is unbucketed; lookups then skip partition pruning)."""

    def __init__(self, digests, flat, shingle_df, doc_sizes, hot, n_buckets=None):
        self.digests = digests
        self.flat = flat
        self.shingle_df = shingle_df
        self.doc_sizes = doc_sizes
        self.hot = hot
        self.n_buckets = n_buckets


def _state_frames(
    docs: DataFrame, ledger_rows: DataFrame, text_col: str, id_col: str
) -> dict[str, DataFrame]:
    """The corpus-side state a ledger SNAPSHOT commit contributes, derived
    from the committed rows themselves (keyed by state-table name):

      ledger_digests (dg)    — content digests of the commit's EXACT KEEPERS
                               (rows kept or near-dup-dropped). Keepers own
                               one distinct digest each and every HQ doc's
                               digest is owned by some keeper, so the union
                               across commits == distinct digests of all HQ
                               docs — exactly incremental_curate's exact-
                               stage input.
      ledger_shingles (id, shingle) — PRE-CAP flat shingle-hash rows of the
                               same ids, which are precisely the near-dup
                               graph participants (exact survivors) —
                               exactly the corpus side of the probe pair
                               join (the df cap is applied at read time).
      ledger_shingle_df (shingle, df) — the commit's per-shingle document-
                               frequency CONTRIBUTION. Summed across commits
                               (+ the incoming batch) it reproduces the
                               global df, so the hot-shingle cap is decided
                               from a compact pre-aggregated table instead
                               of a full groupBy over the corpus flat.
      ledger_doc_sizes (id, n_sh) — per-participant POST-CAP shingle count
                               under the hot set AS OF this commit; later
                               appends write negative CORRECTION rows when
                               further shingles cross the cap, so the
                               contribution SUM always equals the count
                               under the CURRENT hot set — the pair
                               operators' |A| without any counting pass
                               over the corpus flat.
      ledger_hot (shingle)   — shingles over the df cap as of this commit;
                               accretes append-only (df never decreases), so
                               union(contributions) == the current hot set
                               and an append derives the post-batch hot set
                               from it + the batch's own counts alone.

    All contributions are O(commit) — a snapshot writes its corpus once, a
    delta writes only its batch (+ the owner corrections of its newly-hot
    shingles, bounded by cap×|newly-hot|) — and additive across commits, so
    the state tables accrete append-only with no read-side dedup.
    """
    from kgtm.dedup import DEFAULT_MAX_SHINGLE_DF, flat_shingles

    participants = docs.join(
        ledger_rows.filter(
            F.col("kept") | (F.col("drop_reason") == "near-dup")
        ).select(id_col),
        id_col,
        "left_semi",
    ).select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    digests = participants.select(F.md5("text").alias("dg"))
    flat = flat_shingles(participants, text_col="text", id_col="doc_id")
    sh_df = flat.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    hot = sh_df.filter(F.col("df") > DEFAULT_MAX_SHINGLE_DF).select("shingle")
    doc_sizes = (
        flat.join(F.broadcast(hot), "shingle", "left_anti")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    return {
        "ledger_digests": digests,
        "ledger_shingles": flat,
        "ledger_shingle_df": sh_df,
        "ledger_doc_sizes": doc_sizes,
        "ledger_hot": hot,
    }


#: shingle-keyed state tables get the directory-bucket layout
_BUCKETED_STATE = ("ledger_shingles", "ledger_shingle_df")


def _write_state(
    frames: dict[str, DataFrame],
    out_dir: str,
    for_ledger_commit: str,
    replaces: dict[str, list[str]] | None = None,
    n_buckets: int | None = N_SHINGLE_BUCKETS,
) -> None:
    """Commit the state contributions, each tagged with the ledger commit
    it belongs to (``for_ledger_commit``) — state reads resolve by mapping
    the resolved ledger commits to their state commits, so a re-curated
    snapshot automatically orphans the previous corpus state. Shingle-keyed
    tables are directory-bucketed by sb = pmod(shingle, N_SHINGLE_BUCKETS)
    (one file per bucket via the pre-write repartition) so small-shingle-set
    lookups (_pruned_flat_lookup) prune to the buckets they hit."""
    from kgtm.dedup import DEFAULT_MAX_SHINGLE_DF
    from kgtm.materialize import write_table

    for table in STATE_TABLES:
        if table not in frames:
            continue
        df = frames[table]
        manifest: dict = {
            "ledger_kind": "state",
            "for_ledger_commit": for_ledger_commit,
            # The df cap is baked into these tables' VALUES (hot membership,
            # post-cap doc sizes), not just the code path: a build running
            # with a different cap cannot consume them (accretion invariant
            # breaks both ways). Stamp it so _read_state can refuse on
            # drift, the same treatment shingle_buckets gets for pruning.
            "max_shingle_df": DEFAULT_MAX_SHINGLE_DF,
        }
        if replaces and replaces.get(table):
            manifest["replaces"] = replaces[table]
        partition_by: tuple[str, ...] = ()
        if table in _BUCKETED_STATE and n_buckets:
            # n_buckets=None → unbucketed (a delta landing in a pre-round-5
            # table must match its live layout: parquet partition discovery
            # refuses mixed sb=/flat directory structures)
            df = df.withColumn(
                "sb", F.pmod(F.col("shingle"), F.lit(n_buckets)).cast("int")
            ).repartition(n_buckets, "sb")
            partition_by = ("sb",)
            manifest["shingle_buckets"] = n_buckets
        write_table(
            df,
            out_dir,
            table=table,
            partition_by=partition_by,
            extra_manifest=manifest,
        )


def _live_state_commits(
    commits: list[dict],
    tables,
    want: set[str] | None = None,
) -> dict[str, list[dict]]:
    """Live (unreplaced) state-commit MANIFESTS per table, optionally
    restricted to contributions tagged to ledger commits in ``want``. The
    ONE definition of which state commits count, shared by _read_state /
    _covering_state (selection) and upgrade_to_state / compact_ledger /
    persist_curated_corpus (the ``replaces`` maps their rewrites pass to
    _write_state) — so the rule cannot drift between readers and rewriters."""
    from kgtm.materialize import _live_commits

    return {
        table: [
            c
            for c in _live_commits(commits, table)
            if want is None or c.get("for_ledger_commit") in want
        ]
        for table in tables
    }


def _state_replaces(
    commits: list[dict], tables, want: set[str] | None = None
) -> dict[str, list[str]]:
    """_live_state_commits projected to the commit-id lists _write_state's
    ``replaces`` parameter takes."""
    return {
        t: [c["commit_id"] for c in cs]
        for t, cs in _live_state_commits(commits, tables, want).items()
    }


def _covering_state(
    commits: list[dict], resolved: list[dict]
) -> dict[str, list[dict]] | None:
    """Live state-commit manifests per table tagged to the resolved ledger
    chain, or None unless EVERY state table covers EVERY resolved commit —
    the manifest-only test (no data read) that decides whether a store is
    state-backed."""
    want = {c["commit_id"] for c in resolved}
    live = _live_state_commits(commits, STATE_TABLES, want)
    if any({c["for_ledger_commit"] for c in cs} != want for cs in live.values()):
        return None
    return live


def _read_state(spark, out_dir: str, resolved: list[dict]) -> CorpusState | None:
    """State covering EXACTLY the resolved ledger commits, or None when any
    of the five tables lacks a commit for some resolved ledger commit (state
    was never written, a writer crashed between the ledger commit and its
    state commits, or a round-4 store holds only three tables). Coverage is
    decided from manifests before any table is read, so an incomplete
    store's directories never reach partition discovery. On None,
    append_curated_batch raises, pointing at upgrade_to_state."""
    from kgtm.materialize import list_commits, read_table

    from kgtm.dedup import DEFAULT_MAX_SHINGLE_DF

    want = {c["commit_id"] for c in resolved}
    commits = list_commits(out_dir, spark)
    # df-cap drift guard: hot membership and post-cap doc sizes are FUNCTIONS
    # of the cap the writer ran with; consuming them under a different cap
    # silently diverges decisions from a full re-run (shingles in the gap
    # between the two caps are never re-examined). Commits from before the
    # stamp existed carry no key and are accepted (they were all written at
    # the current default). Raise rather than return None: this is a
    # configuration error, and upgrade_to_state would not repair it.
    stamped = {
        c["max_shingle_df"]
        for cs in _live_state_commits(commits, STATE_TABLES, want).values()
        for c in cs
        if "max_shingle_df" in c
    }
    if stamped - {DEFAULT_MAX_SHINGLE_DF}:
        raise ValueError(
            f"store state was materialized with max_shingle_df="
            f"{sorted(stamped)} but this build runs "
            f"{DEFAULT_MAX_SHINGLE_DF} — hot-set/doc-size contributions are "
            "not reusable across cap changes; re-curate the corpus "
            "(persist_curated_corpus) under the new cap"
        )
    live = _covering_state(commits, resolved)
    if live is None:
        return None
    frames: dict[str, DataFrame] = {}
    for table in STATE_TABLES:
        try:
            df = read_table(spark, out_dir, table=table)
        except FileNotFoundError:
            # manifests exist but every data dir is gone (out-of-band
            # deletion), or every live commit predates recorded schemas and
            # holds no data files — treat as no state rather than failing
            # the append
            return None
        frames[table] = df.filter(
            F.col("commit").isin([c["commit_id"] for c in live[table]])
        ).drop("commit")
    n_buckets = {c.get("shingle_buckets") for c in live["ledger_shingles"]}
    return CorpusState(
        digests=frames["ledger_digests"],
        flat=frames["ledger_shingles"],
        shingle_df=frames["ledger_shingle_df"],
        doc_sizes=frames["ledger_doc_sizes"],
        hot=frames["ledger_hot"],
        n_buckets=n_buckets.pop() if len(n_buckets) == 1 else None,
    )


def persist_curated_corpus(
    docs: DataFrame,
    out_dir: str,
    min_quality: float = 0.45,
    jaccard_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Curate ``docs`` and commit the full result: ledger snapshot + the
    materialized corpus-side state (all five STATE_TABLES). Subsequent
    append_curated_batch calls then run entirely from the store — O(batch)
    compute AND O(batch) reads. On a store that already has a ledger chain
    this is a RE-curation and serializes with in-flight appends/compactions
    via the successor claim (persist_ledger)."""
    from kgtm.materialize import list_commits

    ledger = curate_documents(
        docs,
        min_quality=min_quality,
        jaccard_threshold=jaccard_threshold,
        text_col=text_col,
        id_col=id_col,
    ).localCheckpoint(eager=True)
    c = persist_ledger(
        ledger,
        out_dir,
        min_quality=min_quality,
        jaccard_threshold=jaccard_threshold,
    )
    # The new state must mark the superseded chain's state commits
    # ``replaces``. Two reasons: (1) a pre-round-5 store's unbucketed
    # ledger_shingles dirs cannot coexist with the new sb= layout under one
    # table root (read_table passes every live commit dir to one parquet()
    # call, and partition discovery refuses mixed structures — the
    # re-curated store's next append would hard-fail instead of reading
    # state); (2) dead contributions from the old chain would otherwise be
    # scanned-and-filtered by every future _read_state forever.
    #
    # List AFTER the ledger commit and key off the LIVE chain, not a
    # pre-curation snapshot of the listing: curate_documents can run for
    # hours, and an append landing inside that window would be absent from
    # a pre listing — its state commits would stay live-but-unreplaced
    # forever (exactly the leak / mixed-layout hard-fail this map exists to
    # prevent). Post-commit the rule is exact: a live state commit tagged
    # to a ledger commit OUTSIDE the now-resolved chain belongs to a
    # superseded (or orphaned) chain and is replaced; a concurrent append
    # that bases on OUR new snapshot is IN the resolved chain, so its state
    # is never touched.
    spark = docs.sparkSession
    live_chain = {x["commit_id"] for x in _resolve_ledger_commits(spark, out_dir)}
    stale = {
        t: [
            sc["commit_id"]
            for sc in cs
            if sc.get("for_ledger_commit") not in live_chain
        ]
        for t, cs in _live_state_commits(
            list_commits(out_dir, spark), STATE_TABLES
        ).items()
    }
    _write_state(
        _state_frames(docs, ledger, text_col, id_col),
        out_dir,
        c["commit_id"],
        replaces=stale,
    )
    return c


def upgrade_to_state(spark, out_dir: str, docs: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id") -> dict:
    """Backfill materialized curation state for a store that is not fully
    state-backed — written before state existed (a plain persist_ledger
    snapshot, maybe with delta commits on it), a round-4 store holding only
    three of the five tables, or a store whose writer crashed part-way
    through a state write — WITHOUT re-curating: one linear derivation pass
    over ``docs`` (which must be the corpus the newest ledger version
    covers — verified against the ledger's id set) writes all five tables
    for the resolved snapshot. append_curated_batch refuses every such
    store until this has run; it is the only migration path, and appends
    never repair partial state themselves.

    Contribution tagging requires one state commit per resolved ledger
    commit, so a multi-commit chain is first folded by compact_ledger (a
    metadata+rewrite operation, no re-curation); the state is then derived
    once for the single resolved snapshot. Returns that snapshot's manifest.
    """
    from kgtm.materialize import list_commits

    resolved = _resolve_ledger_commits(spark, out_dir)
    if len(resolved) > 1:
        compact_ledger(spark, out_dir)
        resolved = _resolve_ledger_commits(spark, out_dir)
    target = resolved[0]
    commits = list_commits(out_dir, spark)
    if _covering_state(commits, resolved) is not None:
        return target  # already fully state-backed
    ledger = _read_resolved_ledger(spark, out_dir, resolved)
    mismatch = (
        ledger.select(F.col(id_col).alias("id")).withColumn("_l", F.lit(True))
        .join(
            docs.select(F.col(id_col).alias("id")).withColumn("_d", F.lit(True)),
            "id",
            "full_outer",
        )
        .filter(F.col("_l").isNull() | F.col("_d").isNull())
        .count()
    )
    if mismatch:
        raise ValueError(
            f"docs does not match the newest ledger version's corpus "
            f"({mismatch} ids differ) — pass the exact document set the "
            "ledger covers"
        )
    # The rewrite replaces EVERY live state commit, not only those tagged to
    # the resolved chain — the same rule persist_curated_corpus applies to
    # its ``stale`` map. A compaction that found incomplete state orphans
    # the old chain's partial contributions (tagged to commits it replaced);
    # left live, a round-4 store's unbucketed ledger_shingles dirs would sit
    # beside the new sb= dirs, and parquet partition discovery refuses mixed
    # layouts under one table root. `replaces` also keeps the additive
    # contribution sums correct (replaced commits drop out of state reads).
    stale = _state_replaces(commits, STATE_TABLES)
    frames = _state_frames(docs, ledger, text_col, id_col)
    _write_state(frames, out_dir, target["commit_id"], replaces=stale)
    return target


def append_curated_batch(
    spark,
    out_dir: str,
    new_docs: DataFrame,
    min_quality: float | None = None,
    jaccard_threshold: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_deltas: int | None = 64,
) -> dict:
    """Incrementally curate a new batch against the store's LATEST ledger
    version and commit the batch's decisions as an O(batch) DELTA commit.

    The scale contract (the round-3 gap this closes): an append writes ONLY
    the batch's rows — the manifest records ledger_kind='delta' and the base
    seq — and READS only the store's materialized corpus state
    (persist_curated_corpus / prior appends / upgrade_to_state) + the batch,
    so per-batch cost is independent of corpus size. The append then writes
    the batch's own state contribution. read_ledger resolves newest-snapshot
    + deltas, and compact_ledger folds them back into one snapshot when the
    delta chain grows long.

    The append needs all five state tables to cover the resolved chain. A
    store where they do not (a plain persist_ledger store, a round-4 store
    with three tables, or a writer that crashed between the ledger commit
    and the end of its state write) raises a ValueError naming
    upgrade_to_state — partial state is never used.

    Thresholds default to the values RECORDED in the base ledger commit's
    manifest (explicit arguments override, at the caller's own risk — the
    incremental parity contract needs unchanged settings); a threshold that
    is neither recorded nor passed raises rather than silently guessing.

    Concurrency (CAS): two concurrent appends from the same base would each
    write a delta claiming the same base. Before publishing, the append
    CLAIMS the marker ``ledger-succ-{base_commit_id}`` (claim_marker: a
    rename-if-absent that is atomic on the store's own filesystem) — the
    marker path is named by the base alone, so the two writers collide on
    the SAME path and exactly one proceeds; the loser gets a recompute
    error. Every commit of the append (the ledger delta and its five state
    tables) lands through the same atomic seq claim. Defense in depth: even
    a delta that slips past the claim (a store whose rename overwrites, or
    a plain snapshot landing in the claim→commit window) is structurally
    orphaned by chain-linked resolution
    (_resolve_ledger_commits matches each delta's base_seq to the chain
    head), so readers never see an inconsistent fold. A claim whose winner
    crashed before committing blocks later appends from that base — see
    release_stale_ledger_claims.

    ``max_deltas`` (default 64): when the resolved chain after this append
    carries at least this many delta commits, compact_ledger folds it back
    into one snapshot in the same call — bounding read fan-in (read_ledger
    unions snapshot+deltas; a year of daily appends must not mean 365 commit
    dirs in every read plan). Pass None to manage compaction manually.
    """
    from kgtm.materialize import claim_marker

    # base = the RESOLVED chain head (never a raw newest-by-seq commit: an
    # orphaned delta must not become anyone's base)
    resolved = _resolve_ledger_commits(spark, out_dir)
    base = resolved[-1]
    recorded = base.get("curation_params", {})

    def _resolve(name: str, passed: float | None) -> float:
        if passed is not None:
            return passed
        if name in recorded:
            return recorded[name]
        raise ValueError(
            f"{name} is neither recorded in the base ledger commit "
            f"{base['commit_id']} nor passed explicitly — refusing to guess: "
            "a threshold mismatch silently voids the incremental parity "
            "contract (persist the ledger with its thresholds, or pass them)"
        )

    mq = _resolve("min_quality", min_quality)
    jt = _resolve("jaccard_threshold", jaccard_threshold)
    # `resolved` was listed with base as its head, so params and rows come
    # from the SAME snapshot even if a concurrent writer lands from here on
    old_ledger = _read_resolved_ledger(spark, out_dir, resolved)

    state = _read_state(spark, out_dir, resolved)
    if state is None:
        raise ValueError(
            f"store {out_dir} has no materialized curation state for the "
            "base ledger version (none of the five state tables, or not all "
            "of them, cover it) — backfill it once with upgrade_to_state"
        )
    state_out: dict = {}
    # preconditions (monotone ids + threshold drift) run INSIDE
    # incremental_curate — its single-job guard reads them from the ledger,
    # which is exactly the right source here
    new_rows = incremental_curate(
        None,
        old_ledger,
        new_docs,
        min_quality=mq,
        jaccard_threshold=jt,
        text_col=text_col,
        id_col=id_col,
        state=state,
        _state_out=state_out,
    )
    new_rows = new_rows.localCheckpoint(eager=True)
    # optimistic re-check as late as possible (cheap manifest listing), then
    # the CAS claim: exactly one successor per base can pass it
    current = _resolve_ledger_commits(spark, out_dir)[-1]
    if current["commit_id"] != base["commit_id"]:
        raise RuntimeError(
            f"concurrent ledger commit {current['commit_id']} landed after "
            f"base {base['commit_id']} — recompute the append from the new "
            "base (publishing now would conflict with the other batch)"
        )
    if not claim_marker(
        spark,
        out_dir,
        f"ledger-succ-{base['commit_id']}",
        {"op": "append", "base_seq": base["seq"]},
    ):
        raise RuntimeError(
            f"concurrent ledger commit: another writer holds the successor "
            f"claim for base {base['commit_id']} — its delta has landed or is "
            "about to (recompute this append from the new chain head), or it "
            "crashed mid-append (run release_stale_ledger_claims after "
            "verifying no writer is active)"
        )
    c = _commit_ledger_rows(
        new_rows,
        out_dir,
        kind="delta",
        curation_params={"min_quality": mq, "jaccard_threshold": jt},
        extra={"base_seq": base["seq"], "base_commit_id": base["commit_id"]},
    )
    # keep the materialized state current: the delta's own O(batch)
    # contribution, tagged to the delta commit, stashed by the curate
    # (including the newly-hot set and owner corrections — NOT derivable
    # from new_docs alone). Written AFTER the ledger commit — a crash in
    # between (or part-way through the five table commits) leaves the ledger
    # authoritative and the state incomplete, so the next append raises
    # instead of reading half-state.
    _write_state(state_out, out_dir, c["commit_id"], n_buckets=state.n_buckets)
    if max_deltas is not None:
        chain = _resolve_ledger_commits(spark, out_dir)
        if len(chain) - 1 >= max_deltas and chain[-1]["commit_id"] == c["commit_id"]:
            # best-effort: THE APPEND ALREADY COMMITTED. Whatever fails in
            # the compaction — a concurrent writer winning the successor
            # claim first (RuntimeError), a racing compaction/re-snapshot
            # (ValueError: nothing to compact), an executor lost mid-
            # checkpoint (Py4JJavaError), a read hiccup — must not make the
            # caller believe the landed append failed: a retry would
            # double-ingest the batch (or trip the monotone-id guard), so
            # catch Exception, not a curated subset. The chain stays a
            # little long until the next append crosses the threshold (or
            # an operator runs compact_ledger directly, where failures DO
            # propagate).
            try:
                compact_ledger(spark, out_dir)
            except Exception as e:
                warnings.warn(
                    f"post-append auto-compaction failed ({type(e).__name__}: "
                    f"{e}); the append itself committed, and the chain stays "
                    "above max_deltas until a later append or an explicit "
                    "compact_ledger succeeds",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return c


def compact_ledger(spark, out_dir: str) -> dict:
    """Fold the newest snapshot + its delta chain into ONE snapshot commit
    (and likewise fold the state tables), marking the inputs ``replaces``.

    The delta design trades read fan-in for O(batch) appends; this is the
    periodic rebalance — after it, read_ledger resolves a single commit
    again, as_of reads OLDER than the compaction still see the original
    chain (replaces semantics), and expire_replaced/vacuum reclaim the
    replaced data. curation_params carry forward from the newest input
    commit, so threshold resolution for future appends is unchanged (the
    generic compact_table would have dropped them — and double-read every
    doc_id; it refuses ledger tables for exactly that reason).
    append_curated_batch(max_deltas=N) invokes this automatically once the
    chain carries N deltas, bounding read fan-in.

    Concurrency: the fold competes for the SAME successor claim as an
    append from the chain head (``ledger-succ-{head_commit_id}``), so a
    delta racing the compaction loses the CAS instead of being permanently
    hidden (its seq would fall below the compacted snapshot's and
    ``replaces`` would not list it). RE-curation snapshots compete for the
    same claim too (persist_ledger claims the head's successor whenever a
    chain already exists), so all three writer kinds — append, compaction,
    re-curation — serialize on one token per chain head.
    """
    from kgtm.materialize import claim_marker, list_commits

    resolved = _resolve_ledger_commits(spark, out_dir)
    if len(resolved) < 2:
        raise ValueError(
            "nothing to compact: the newest ledger version is already a "
            "single snapshot commit"
        )
    full = _read_resolved_ledger(spark, out_dir, resolved).localCheckpoint(eager=True)
    params = resolved[-1].get("curation_params", {})
    state = _read_state(spark, out_dir, resolved)
    head = _resolve_ledger_commits(spark, out_dir)[-1]
    if head["commit_id"] != resolved[-1]["commit_id"]:
        raise RuntimeError(
            f"concurrent ledger commit {head['commit_id']} landed after "
            f"the resolved chain head {resolved[-1]['commit_id']} — re-run "
            "the compaction (folding now would hide the newer commit: its "
            "seq would fall below the compacted snapshot's and it is not in "
            "the replaces list)"
        )
    if not claim_marker(
        spark,
        out_dir,
        f"ledger-succ-{resolved[-1]['commit_id']}",
        {"op": "compact", "base_seq": resolved[-1]["seq"]},
    ):
        raise RuntimeError(
            f"concurrent ledger commit: another writer holds the successor "
            f"claim for chain head {resolved[-1]['commit_id']} (an in-flight "
            "append) — re-run the compaction once it lands, or run "
            "release_stale_ledger_claims if it crashed"
        )
    c = _commit_ledger_rows(
        full,
        out_dir,
        kind="snapshot",
        curation_params=params,
        extra={"replaces": [rc["commit_id"] for rc in resolved]},
    )
    if state is not None:
        want = {rc["commit_id"] for rc in resolved}
        all_commits = list_commits(out_dir, spark)  # ONE manifest scan
        # fold the per-commit contributions into canonical form — consumers
        # sum them anyway, but compaction is the moment to collapse
        # duplicates: df totals per shingle, owner corrections into the
        # post-cap sizes, and a deduped hot set (contributions are disjoint
        # in a healthy store)
        frames: dict[str, DataFrame] = {
            "ledger_digests": state.digests.localCheckpoint(eager=True),
            "ledger_shingles": state.flat.localCheckpoint(eager=True),
            "ledger_shingle_df": state.shingle_df.groupBy("shingle")
            .agg(F.sum("df").alias("df"))
            .localCheckpoint(eager=True),
            "ledger_doc_sizes": state.doc_sizes.groupBy("id")
            .agg(F.sum("n_sh").alias("n_sh"))
            .localCheckpoint(eager=True),
            "ledger_hot": state.hot.select("shingle")
            .distinct()
            .localCheckpoint(eager=True),
        }
        old_state = _state_replaces(all_commits, STATE_TABLES, want)
        _write_state(frames, out_dir, c["commit_id"], replaces=old_state)
    return c


def release_stale_ledger_claims(
    spark, out_dir: str, min_age_ms: int = 3600 * 1000
) -> list[str]:
    """Reclaim successor claims whose winner CRASHED before committing.

    A fulfilled claim (its delta landed with ``base_commit_id`` matching, or
    a compaction landed with the base in ``replaces``) blocks nobody — later
    writers claim a different name — and is left alone as the audit trail.
    An UNFULFILLED claim older than ``min_age_ms`` is a writer that died
    between claiming and committing; it blocks every future append from
    that base forever, so it is deleted here. The age gate is the same
    in-flight-writer grace contract as vacuum's: run with min_age_ms longer
    than any real append could take. Returns the released claim names.
    """
    from kgtm.materialize import (
        delete_claim_marker,
        list_claim_markers,
        list_commits,
    )

    ledgers = [
        c for c in list_commits(out_dir, spark) if c.get("table") == "ledger"
    ]
    fulfilled = {c.get("base_commit_id") for c in ledgers} | {
        cid for c in ledgers for cid in c.get("replaces", [])
    }
    now_ms = int(
        spark.sparkContext._jvm.java.lang.System.currentTimeMillis()
    )
    released = []
    for name, payload in list_claim_markers(out_dir, spark).items():
        if not name.startswith("ledger-succ-"):
            continue
        base_cid = name[len("ledger-succ-") :]
        claimed_at = payload.get("claimed_at_ms")
        if claimed_at is None:
            # unreadable/unparseable payload (list_claim_markers maps
            # transient read errors to {}): SKIP, never release — treating
            # it as infinitely old would break a seconds-old claim held by
            # a live writer and re-open the double-append race this CAS
            # exists to close. A truly corrupt marker stays for the
            # operator; a transient error reads fine on the next sweep.
            continue
        age = now_ms - claimed_at
        if base_cid not in fulfilled and age >= min_age_ms:
            delete_claim_marker(out_dir, name, spark)
            released.append(name)
    return released


def _resolve_ledger_commits(
    spark, out_dir: str, as_of: int | None = None
) -> list[dict]:
    """The ledger commits visible at ``as_of``: [newest live snapshot] + its
    CHAIN-LINKED live delta commits in seq order. Compactions hide what they
    replaced (but only when the compaction itself is in view, so older as_of
    reads still resolve the original chain). Raises like a missing-table
    read when the store has no ledger.

    Chain linking (round-5 hardening): a delta is included only when its
    recorded ``base_seq`` equals the seq of the current chain head (the
    snapshot, or the previously linked delta). A delta whose base was
    superseded before it landed — e.g. a full re-curation snapshot slipping
    in between an append's pre-commit check and its manifest rename — is
    therefore STRUCTURALLY invisible rather than silently folded onto the
    wrong base: readers stay consistent even in the window the successor
    claim (append_curated_batch's CAS marker) cannot cover. An orphaned
    delta's batch must be re-appended from the new base.
    """
    from kgtm.materialize import _live_commits, list_commits

    live = _live_commits(list_commits(out_dir, spark), "ledger", as_of)
    snaps = [c for c in live if c.get("ledger_kind", "snapshot") != "delta"]
    if not snaps:
        raise FileNotFoundError(f"no committed ledger under {out_dir}")
    newest_snap = snaps[-1]  # list_commits is seq-ordered
    chain = [newest_snap]
    head_seq = newest_snap["seq"]
    for c in live:
        if c.get("ledger_kind") == "delta" and c["seq"] > newest_snap["seq"]:
            if c.get("base_seq") == head_seq:
                chain.append(c)
                head_seq = c["seq"]
            # else: orphaned delta (stale base) — skipped by design;
            # orphaned_ledger_deltas() is the audit surface for these
    return chain


def orphaned_ledger_deltas(
    spark, out_dir: str, as_of: int | None = None
) -> list[dict]:
    """Audit surface for chain-linked resolution: live DELTA commits newer
    than the resolved snapshot that are NOT in the resolved chain — batches
    whose append returned success but whose rows are invisible to
    read_ledger because their recorded ``base_seq`` no longer matches the
    chain (a re-curation snapshot or racing writer slipped into the
    claim→commit window the successor CAS cannot cover on overwrite-rename
    filesystems). Silent-by-design in the read path (a mis-folded read
    would be worse); NOT silent operationally: run this after any suspected
    race — each returned manifest carries the delta's ``commit_id`` /
    ``base_seq`` / ``n_rows``, and the recovery is to re-append the batch
    from the current base. Deltas OLDER than the resolved snapshot are not
    orphans (a re-curation supersedes them on purpose) and are excluded."""
    from kgtm.materialize import _live_commits, list_commits

    chain = _resolve_ledger_commits(spark, out_dir, as_of)
    in_chain = {c["commit_id"] for c in chain}
    snap_seq = chain[0]["seq"]
    return [
        c
        for c in _live_commits(list_commits(out_dir, spark), "ledger", as_of)
        if c.get("ledger_kind") == "delta"
        and c["seq"] > snap_seq
        and c["commit_id"] not in in_chain
    ]


def _read_resolved_ledger(spark, out_dir: str, resolved: list[dict]) -> DataFrame:
    from kgtm.materialize import _child, _fs, read_table

    # Verify every resolved commit's data dir actually exists BEFORE reading:
    # read_table silently skips missing commit dirs (right for append tables,
    # where a vanished commit just loses its rows), but a resolved ledger
    # chain is a DECISION SET — an out-of-band-deleted delta dir would
    # silently drop that batch's rows from read_ledger (silent corpus
    # shrinkage). Raise like _read_state's FileNotFoundError handling does.
    fs, jvm = _fs(spark, out_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    missing = [
        c["commit_id"]
        for c in resolved
        if not fs.exists(hpath(_child(out_dir, "ledger", f"commit={c['commit_id']}")))
    ]
    if missing:
        raise FileNotFoundError(
            f"resolved ledger commit(s) {missing} have no data directory under "
            f"{out_dir}/ledger — the store was modified out-of-band (a delta's "
            "data deleted without expiring its manifest); refusing to return a "
            "silently shrunken ledger"
        )
    df = read_table(spark, out_dir, table="ledger", as_of=resolved[-1]["seq"])
    return df.filter(
        F.col("commit").isin([c["commit_id"] for c in resolved])
    ).drop("kept_part", "commit")


def read_ledger(spark, out_dir: str, as_of: int | None = None) -> DataFrame:
    """Manifest-gated ledger read; ``as_of`` = corpus-version time travel.

    Resolution: the newest SNAPSHOT commit visible at ``as_of`` plus every
    later DELTA commit (incremental appends) — a newer snapshot supersedes
    any older delta chain (a full re-curation replaces the decision set),
    and compactions swap a chain for its folded snapshot atomically via
    ``replaces``. For a store of plain snapshots this reads exactly one
    commit, as before.
    """
    resolved = _resolve_ledger_commits(spark, out_dir, as_of)
    return _read_resolved_ledger(spark, out_dir, resolved)
