"""Structured Streaming ingest variant.

The reference is request-at-a-time dispatch (a stream of HTTP requests
through proxy.py's event loop — SURVEY §3.1); this module runs batch's
resolution plan, one composition of the batch functions, over a
transcript *stream*:

  readStream (file source, transcripts schema) →
  extract.extract_mentions (stateless codegen exprs) →
  link.broadcast_ladder_link (a map-literal probe for a small plan-literal
  dictionary, else stream-static broadcast rung lookups) →
  resolve.attach_live_legs (failover only) →
  resolve.resolve_links over latest_snapshots (stream-static broadcast
  join; all four ontoVersion modes) →
  append sink, exactly-once per file via checkpointLocation.

Stream and batch give the same rows and schema in every mode; the stream
has no resolution logic of its own.

Also: watermarked per-conversation windowed counts (late-data handling) —
the streaming twin of turn assembly's groupBy. Full ordered assembly needs
all turns of a conversation and is inherently batch; the streaming side
maintains incremental per-conv counters instead.

Tested with trigger(availableNow=True): processes everything present, then
stops — deterministic in CI.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgtm.extract import extract_mentions
from kgtm.link import broadcast_ladder_link
from kgtm.resolve import attach_live_legs, latest_snapshots, resolve_links
from kgtm.schemas import TRANSCRIPTS_SCHEMA


def read_transcript_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )


def streaming_resolution(
    stream: DataFrame,
    ontology_index: DataFrame,
    snapshots: DataFrame,
    mode: str = "latestArchived",
    pin_ts: dt.datetime | None = None,
    live_legs: DataFrame | None = None,
) -> DataFrame:
    """Stream of resolved mention rows: batch's plan composed over the
    stream — extract_mentions (carrying ``ts``) → broadcast_ladder_link →
    attach_live_legs → resolve_links — so all four ontoVersion modes, with
    batch's rows, column order and source taxonomy. ``pin_ts`` and
    ``live_legs`` are resolve_links' and attach_live_legs' inputs.

    Append-safe: no step aggregates the stream; the dictionary, snapshot
    and live-leg dims are plan literals or stream-static broadcast joins.
    The reduced dictionary and the reduced snapshot dim are built once, by
    this call (eager local checkpoints), not per micro-batch: the stream
    sees the dims as of this call.

    broadcast_ladder_link and latest_snapshots are called through this
    module's names (not link_mentions or resolve_links' own reduction), so
    timing ``kgtm.streaming.<name>`` covers the link and the snapshot dim.
    """
    mentions = extract_mentions(stream, carry=("ts",))
    linked = attach_live_legs(
        broadcast_ladder_link(mentions, ontology_index), mode, live_legs
    )
    if mode == "timestampArchived":
        snapshots = snapshots.filter(F.col("version_ts") <= F.lit(pin_ts))
    # resolve_links reduces this dim again (a table already reduced to one
    # row per ontology reduces to the same rows), once per query: it
    # checkpoints the reduced dim of a stream, so no epoch re-reduces it
    return resolve_links(linked, latest_snapshots(snapshots), mode, pin_ts)


def run_stream_to_parquet(
    resolved: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Drain everything currently available, exactly-once, then stop."""
    q = (
        resolved.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_to_commit_store(
    resolved: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    table: str = "triples",
    partition_by: tuple[str, ...] = ("source",),
) -> None:
    """Drain the stream into the manifest-gated commit store, exactly-once
    PER CHECKPOINT LINEAGE.

    foreachBatch → one manifest commit per epoch id. foreachBatch is
    at-least-once (a batch is REPLAYED after a crash between the write and
    the checkpoint advance), so exactly-once is recovered by idempotence:
    each manifest records (table, sink_id, batch_id) where sink_id is
    derived from the checkpoint location — the stable identity of one
    logical stream across restarts. A replayed epoch of the SAME lineage is
    skipped; a DIFFERENT stream (different checkpoint) writing the same
    store/table gets its own sink_id and commits normally — keying on the
    bare epoch number would silently drop a second stream's (or a
    fresh-checkpoint reprocess's differently-sliced) epochs as "already
    done". The batch analog writes the same manifests, so batch and
    streaming land in ONE time-travelable store; duplicate data from an
    intentional reprocess is reconciled by compact_table/expire, not by
    guessing at the sink.
    """
    import hashlib

    from kgtm.materialize import list_commits, write_table

    sink_id = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]
    # Only THIS lineage appends (sink_id, batch_id) pairs between its own
    # epochs, so the done-set is read once at query start and maintained
    # locally — not re-listed per epoch (O(epochs^2) manifest reads).
    done: set[int] = set()
    primed = False

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal primed
        if not primed:
            done.update(
                c["batch_id"]
                for c in list_commits(out_dir, batch_df.sparkSession)
                if c.get("table", "triples") == table
                and c.get("sink_id") == sink_id
                and "batch_id" in c
            )
            primed = True
        if batch_id in done:
            return  # replayed epoch of this lineage: exactly-once holds
        write_table(
            batch_df,
            out_dir,
            table=table,
            partition_by=partition_by,
            extra_manifest={"batch_id": batch_id, "sink_id": sink_id},
        )
        done.add(batch_id)

    q = (
        resolved.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stateful_conv_progress(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: per-conversation incremental progress.

    applyInPandasWithState keeps (n_turns, max_turn_idx, n_mentions) per
    conv_id across micro-batches — the streaming analog of the proxy's
    connection-state stash (custom_proxy.py:69-77,190-195: state carried
    across requests of one connection). Emits one updated row per
    conversation per micro-batch that touched it.
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "conv_id string, n_turns bigint, max_turn_idx int, n_mentions bigint"
    state_schema = "n_turns bigint, max_turn_idx int, n_mentions bigint"

    def update(key, pdfs, state):
        n, mx, nm = state.get if state.exists else (0, -1, 0)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, int(pdf["turn_idx"].max()))
                nm += int(
                    pdf["text"].fillna("").str.count(r"https?://").sum()
                )
        state.update((n, mx, nm))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [n],
                "max_turn_idx": [mx],
                "n_mentions": [nm],
            }
        )

    return stream.groupBy("conv_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def run_stateful_progress(
    stream: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Drain with foreachBatch (update-mode output needs an upsert-capable
    sink; per-batch parquet parts keep the latest row per conv per batch)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        stateful_conv_progress(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_exact_dedup(
    stream: DataFrame,
    digest_cols: tuple[str, ...] = ("text",),
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state (the ingest-side twin of
    dedup.exact_dedup).

    dropDuplicatesWithinWatermark keys on the content digest and evicts
    digest state once the watermark passes — a plain dropDuplicates would
    hold every digest ever seen, which at a 100 TB/day ingest is an
    unbounded state store. The trade is explicit and the same one every
    streaming deduper makes: a duplicate arriving later than the watermark
    delay after its first occurrence is re-emitted (batch exact_dedup over
    the materialized table catches stragglers).

    NULL and '' must hash differently (batch exact_dedup's md5(text) keeps a
    NULL digest group distinct from md5('')): each column is encoded with a
    length prefix, so NULL ('n'), '' ('s0:'), and any value collision-freely
    disagree — plain coalesce-to-'' would dedup a NULL row against an
    empty-string row that has different content.
    """
    digest = F.md5(
        F.concat(
            *[
                F.when(F.col(c).isNull(), F.lit("n\x1f")).otherwise(
                    F.concat(
                        F.lit("s"),
                        F.length(F.col(c).cast("string")).cast("string"),
                        F.lit(":"),
                        F.col(c).cast("string"),
                        F.lit("\x1f"),
                    )
                )
                for c in digest_cols
            ]
        )
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .withColumn("_digest", digest)
        .dropDuplicatesWithinWatermark(["_digest"])
        .drop("_digest")
    )


def streaming_minhash_dedup(
    stream: DataFrame,
    text_col: str = "text",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    n: int = 3,
    rows_per_band: int = 8,
) -> DataFrame:
    """Bounded-state streaming NEAR-dup dedup — the ingest-side complement of
    streaming_exact_dedup (which only catches byte-identical content).

    Key = xxhash64 of ONE MinHash band (``rows_per_band`` minhashes of the
    doc's word n-gram shingles); dropDuplicatesWithinWatermark evicts band
    keys once the watermark passes, so state stays bounded exactly as in the
    exact variant.

    The trade, explicitly: a later doc is dropped iff its band key collides
    with an earlier in-watermark doc.
      - RECALL on true near-dups is probabilistic: P(band match | Jaccard J)
        = J^rows_per_band (J=1 → always, J=0.9 @ 8 rows → ~0.43); shrink
        rows_per_band for more aggressive dedup. Survivor near-dups are
        caught by the batch pass over the materialized table
        (dedup.minhash_lsh_pairs), same straggler contract as the exact
        variant's late-duplicate window.
      - FALSE DROPS of genuinely dissimilar docs require either a low-J
        band agreement (J^rows_per_band ≈ 0 for small J) or a raw 64-bit
        band-hash collision (~2^-64/pair) — negligible by construction,
        which is why a single band with no verify stage is acceptable here
        while batch LSH verifies candidates.
    Docs too short to shingle (< n words, incl. NULL/'' text) fall back to
    an exact length-prefixed content digest key — only byte-identical short
    docs dedup, never "all short docs into one bucket" (the NULL-signature
    hot-bucket hazard documented on minhash_lsh_pairs).
    """
    keyed = with_minhash_band_key(
        stream.withWatermark(ts_col, watermark), text_col, n, rows_per_band
    )
    return keyed.dropDuplicatesWithinWatermark(["_nd_key"]).drop("_nd_key")


def with_minhash_band_key(
    df: DataFrame, text_col: str = "text", n: int = 3, rows_per_band: int = 8
) -> DataFrame:
    """Append the near-dup band key column ``_nd_key`` (see
    streaming_minhash_dedup for its semantics). Works on batch frames too —
    the stream==batch parity tests build their batch twin with the SAME
    expression, so the two paths cannot drift."""
    from pyspark.sql.types import ArrayType, LongType

    from kgtm.dedup import grams_expr, minhash_signature_series

    sig_udf = F.pandas_udf(
        lambda s: minhash_signature_series(s, rows_per_band), ArrayType(LongType())
    )
    staged = (
        # staged projections: the split materializes once per row before the
        # gram transform (the grams_expr perf contract)
        df.withColumn("_w", F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        .withColumn("_sh", grams_expr("_w", n))
        .withColumn("_sig", sig_udf(F.col("_sh")))
    )
    # fallback digest uses the SAME length-prefix encoding as
    # streaming_exact_dedup: NULL ('n'), '' ('s0:'), and any literal text
    # (including one that happens to spell a sentinel) hash distinctly —
    # the exact-fallback path must never false-drop
    short_digest = F.md5(
        F.when(F.col(text_col).isNull(), F.lit("n")).otherwise(
            F.concat(
                F.lit("s"),
                F.length(F.col(text_col)).cast("string"),
                F.lit(":"),
                F.col(text_col),
            )
        )
    )
    key = F.when(
        F.col("_sig").isNotNull(),
        F.concat(F.lit("band:"), F.xxhash64("_sig").cast("string")),
    ).otherwise(F.concat(F.lit("short:"), short_digest))
    return staged.withColumn("_nd_key", key).drop("_w", "_sh", "_sig")


def windowed_conv_counts(
    stream: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked per-conversation windowed turn counts (late-data safe)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.max("turn_idx").alias("max_turn_idx"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "conv_id",
            "n_turns",
            "max_turn_idx",
        )
    )


def run_windowed_counts(
    stream: DataFrame, out_dir: str, checkpoint_dir: str, **kw
) -> None:
    q = (
        windowed_conv_counts(stream, **kw)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def reconcile_neardup_survivors(
    survivors: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    n: int = 3,
    n_hashes: int = 128,
    n_bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Batch completeness backstop for streaming_minhash_dedup — the
    "stragglers are caught by the batch pass" promise in that docstring,
    made an actual operator instead of advice.

    The stream's single-band key trades recall for bounded state: a true
    near-dup pair survives ingestion whenever its one band disagrees
    (P(miss | Jaccard J) = 1 - J^rows_per_band) or the two docs arrive
    farther apart than the watermark. This job closes the gap offline: run
    the FULL multi-band LSH with exact Jaccard verification
    (dedup.minhash_lsh_pairs, verify="exact") over the materialized
    survivor table, cluster transitively (dedup.dedup_clusters'
    large-star/small-star components), and emit one decision row per doc.

    Survivor pick = earliest (ts, id) per cluster — the same first-arrival-
    wins contract the stream applies within a band key, extended across the
    pairs it missed (min-id alone would be wrong here: ingest ids need not
    be arrival-ordered). ``ts_col`` must be non-NULL — it is the stream's
    watermark column, which Structured Streaming already requires.

    verify="exact" means the backstop can never false-drop: banding only
    risks recall, and every candidate pair is re-checked against true
    n-gram Jaccard before it can merge clusters — so applying the emitted
    deletes is safe, and re-running the job after applying them is a no-op
    (each cluster keeps exactly its earliest row).

    Returns one row per input doc:
      (id_col, ts_col, cluster_id, keep_id, keep) — ``keep=false`` rows are
    the retro-deletes; ``keep_id`` names the cluster representative kept.

    100 TB shape: inherits minhash_lsh_pairs' candidate-generation bounds
    (O(rows x bands) band rows, hot-bucket guard on NULL signatures) and
    the O(log n)-round component algorithm; the only addition is one
    cluster-keyed aggregation to pick winners. Run it per ingest epoch over
    the epoch's survivor partition plus the in-watermark tail of the prior
    epoch — pairs wholly inside an already-reconciled prefix are rediscovered
    but resolve to the same winner (idempotence above).
    """
    from pyspark.sql.window import Window

    from kgtm.dedup import dedup_clusters, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        survivors,
        text_col=text_col,
        id_col=id_col,
        n=n,
        n_hashes=n_hashes,
        n_bands=n_bands,
        threshold=threshold,
        verify="exact",
    )
    clusters = dedup_clusters(pairs, survivors.select(id_col), id_col=id_col)
    arrivals = survivors.select(F.col(id_col).alias("id"), F.col(ts_col).alias("_ts"))
    j = clusters.select("id", "cluster_id").join(arrivals, "id")
    w = Window.partitionBy("cluster_id")
    winner = F.min(F.struct(F.col("_ts"), F.col("id"))).over(w)
    return j.select(
        F.col("id").alias(id_col),
        F.col("_ts").alias(ts_col),
        "cluster_id",
        winner["id"].alias("keep_id"),
        (F.col("id") == winner["id"]).alias("keep"),
    )


def streaming_paragraph_dedup(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    sep: str = "\n",
    min_chars: int = 20,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Bounded-state streaming PARAGRAPH dedup — the ingest-side analog of
    kgtm.paragraphs.paragraph_dedup (C4-style boilerplate removal).

    Emits the kept paragraph rows (doc_id, ts, n_paras, pos, para): every
    sub-``min_chars`` paragraph in place, plus the first in-watermark
    arrival of each candidate paragraph digest
    (dropDuplicatesWithinWatermark on md5(para) — state evicts with the
    watermark, exactly the bound of the exact/minhash doc-level variants).

    Deliberate contract differences vs the batch operator, stated plainly:
      - SURVIVOR PICK: batch keeps the corpus-global min (doc_id, pos);
        the stream keeps the first ARRIVAL (within a micro-batch the pick
        is engine-arbitrary — assert key sets, never which copy).
      - LATE DUPLICATES: a copy arriving after its digest's state evicted
        is kept; the batch pass over the materialized kept-paragraph table
        is the completeness backstop (same straggler contract as
        streaming_exact_dedup).
      - REASSEMBLY is not part of the streaming query (chaining a second
        stateful aggregation after dropDuplicatesWithinWatermark is where
        streaming multi-statefulness gets restriction-prone): fold the
        materialized kept rows with kgtm.paragraphs.reassemble_paragraphs
        downstream — documents whose paragraphs were all dropped vanish
        there, as in batch.

    State is keyed by the 128-bit digest, never the paragraph text; the
    explode multiplies rows but every post-explode column is fixed-width
    except the kept paragraph itself.
    """
    from kgtm.paragraphs import candidate_cond, exploded_paragraphs

    ex = exploded_paragraphs(
        stream.withWatermark(ts_col, watermark),
        text_col=text_col,
        id_col=id_col,
        sep=sep,
        extra_cols=(ts_col,),
    )
    is_cand = candidate_cond(min_chars)
    kept_cand = (
        ex.filter(is_cand)
        .withColumn("_pd_key", F.md5("para"))
        .dropDuplicatesWithinWatermark(["_pd_key"])
        .drop("_pd_key")
    )
    return kept_cand.unionByName(ex.filter(~is_cand))
