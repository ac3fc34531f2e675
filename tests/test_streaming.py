"""Structured Streaming: availableNow drains, exactly-once resume, watermarked
windowed counts, stream-batch parity."""

from __future__ import annotations

import datetime as dt
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from conftest import forced_both_ways
from kgtm.extract import extract_mentions
from kgtm.link import broadcast_ladder_link, link_mentions
from kgtm.resolve import ONTO_VERSION_MODES, attach_live_legs, resolve_links
from kgtm.schemas import TRANSCRIPTS_SCHEMA
from kgtm.streaming import (
    read_transcript_stream,
    run_stream_to_parquet,
    run_windowed_counts,
    streaming_resolution,
)
from kgtm.transcripts import (
    events_to_transcripts,
    ontology_index_df,
    ontology_snapshots_df,
)

#: picks an older snapshot than the latest for 3 of the 5 ontologies
PIN = dt.datetime(2024, 7, 1)


@pytest.fixture()
def stream_dirs(spark, events, tmp_path):
    in_dir = str(tmp_path / "in")
    tr = events_to_transcripts(events)
    tr.write.parquet(in_dir)
    return in_dir, str(tmp_path / "out"), str(tmp_path / "ck")


def batch_twin(spark, in_dir, idx, snaps, mode="latestArchived", pin_ts=None,
               live_legs=None):
    """The batch resolution of the stream's input: the same composition
    over a batch read typed like the stream (a bare spark.read.parquet
    would type ts as timestamp_ntz)."""
    tr = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(in_dir)
    linked = broadcast_ladder_link(extract_mentions(tr, carry=("ts",)), idx)
    return resolve_links(attach_live_legs(linked, mode, live_legs), snaps, mode, pin_ts)


def drain_equals_batch(spark, resolved, batch, out_dir, ck_dir):
    """Drain ``resolved`` and assert its schema and rows (both ways, as
    multisets) equal ``batch``'s; returns the drained rows."""
    assert resolved.isStreaming
    assert resolved.schema == batch.schema
    run_stream_to_parquet(resolved, out_dir, ck_dir)
    got = spark.read.parquet(out_dir)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    return got


def live_legs_of(spark, in_dir):
    """/view surfaces get an acceptable live leg; everything else fails over."""
    surfaces = extract_mentions(spark.read.parquet(in_dir)).select("surface").distinct()
    return surfaces.select(
        "surface",
        F.when(F.col("surface").contains("/view"), F.lit(200))
        .otherwise(F.lit(500))
        .alias("live_status"),
        F.lit("text/turtle; charset=utf-8").alias("live_content_type"),
        F.lit("text/turtle").alias("accept_header"),
    ).localCheckpoint(eager=True)


def test_stream_matches_batch_resolution(spark, events, stream_dirs):
    in_dir, out_dir, ck_dir = stream_dirs
    idx, snaps = ontology_index_df(spark), ontology_snapshots_df(spark)

    resolved = streaming_resolution(read_transcript_stream(spark, in_dir), idx, snaps)
    got = drain_equals_batch(
        spark, resolved, batch_twin(spark, in_dir, idx, snaps), out_dir, ck_dir
    )
    assert got.filter(F.col("source") == "archivo-latest").count() > 0


@pytest.mark.parametrize("mode", ONTO_VERSION_MODES)
def test_stream_matches_batch_every_mode(spark, events, stream_dirs, monkeypatch, mode):
    """Every ontoVersion mode resolves on the stream with batch's rows and
    schema, under both LITERAL_MAX_ROWS settings (small dims folded into
    the plan as literals, or broadcast-joined)."""
    in_dir, out_dir, ck_dir = stream_dirs
    idx, snaps = ontology_index_df(spark), ontology_snapshots_df(spark)
    pin = PIN if mode == "timestampArchived" else None
    live = live_legs_of(spark, in_dir) if mode == "originalFailoverLiveLatest" else None
    runs = iter(range(2))

    def run():
        i = next(runs)
        resolved = streaming_resolution(
            read_transcript_stream(spark, in_dir), idx, snaps,
            mode=mode, pin_ts=pin, live_legs=live,
        )
        batch = batch_twin(spark, in_dir, idx, snaps, mode, pin, live)
        got = drain_equals_batch(spark, resolved, batch, f"{out_dir}{i}", f"{ck_dir}{i}")
        return {(r.source, r["count"]) for r in got.groupBy("source").count().collect()}

    joined, literal = forced_both_ways(monkeypatch, "LITERAL_MAX_ROWS", run)
    assert joined == literal


def test_streaming_exact_dedup_matches_batch(spark, events, stream_dirs, tmp_path):
    """Streaming dedup on the content digest equals batch dropDuplicates over
    the same (in-watermark) input: one survivor per distinct text, duplicates
    planted across separate input files (i.e. across micro-batches)."""
    from kgtm.streaming import streaming_exact_dedup

    in_dir = str(tmp_path / "dedup_in")
    # plant duplicates: the same transcript rows written TWICE as separate
    # files so the duplicate arrives in a later micro-batch
    base = events_to_transcripts(events).limit(300).localCheckpoint(eager=True)
    base.write.mode("overwrite").parquet(in_dir)
    base.write.mode("append").parquet(in_dir)

    out_dir, ck = str(tmp_path / "dedup_out"), str(tmp_path / "dedup_ck")
    deduped = streaming_exact_dedup(read_transcript_stream(spark, in_dir))
    run_stream_to_parquet(deduped, out_dir, ck)
    got = spark.read.parquet(out_dir)

    want = spark.read.parquet(in_dir).dropDuplicates(["text"])
    assert got.count() == want.count()
    g = sorted(r.text for r in got.select("text").distinct().collect())
    w = sorted(r.text for r in want.select("text").distinct().collect())
    assert g == w

    # NULL and '' are DIFFERENT contents and must both survive (the digest
    # length-prefix encoding; a coalesce-to-'' digest would drop one)
    import datetime as dt

    null_in = str(tmp_path / "null_in")
    spark.createDataFrame(
        [("c", 0, "user", None, None, dt.datetime(2024, 7, 1)),
         ("c", 1, "user", "", None, dt.datetime(2024, 7, 1))],
        TRANSCRIPTS_SCHEMA,
    ).write.parquet(null_in)
    out2, ck2 = str(tmp_path / "null_out"), str(tmp_path / "null_ck")
    run_stream_to_parquet(
        streaming_exact_dedup(read_transcript_stream(spark, null_in)), out2, ck2
    )
    assert spark.read.parquet(out2).count() == 2


def test_stream_commit_store_exactly_once(spark, events, stream_dirs, tmp_path):
    """foreachBatch → manifest commit per epoch, exactly-once PER CHECKPOINT
    LINEAGE: a rerun on the same checkpoint (the rerun-after-kill shape)
    adds no commits; a DIFFERENT lineage targeting the same store/table is
    NOT silently dropped — its epochs commit under its own sink_id."""
    from kgtm.materialize import list_commits, read_table
    from kgtm.streaming import run_stream_to_commit_store

    in_dir, _, ck_dir = stream_dirs
    idx, snaps = ontology_index_df(spark), ontology_snapshots_df(spark)
    store = str(tmp_path / "store")

    resolved = streaming_resolution(read_transcript_stream(spark, in_dir), idx, snaps)
    run_stream_to_commit_store(resolved, store, ck_dir)
    commits1 = list_commits(store)
    assert commits1 and all("batch_id" in c and "sink_id" in c for c in commits1)
    n1 = read_table(spark, store).count()

    # batch twin: the store holds exactly the batch resolution's rows
    tr = spark.read.parquet(in_dir)
    batch = resolve_links(
        link_mentions(extract_mentions(tr), idx), snaps, "latestArchived"
    )
    assert n1 == batch.count()

    # rerun with the SAME checkpoint (same lineage): no new input → the
    # replayable epochs are all recorded under this sink_id → no new commits
    resolved2 = streaming_resolution(read_transcript_stream(spark, in_dir), idx, snaps)
    run_stream_to_commit_store(resolved2, store, ck_dir)
    assert len(list_commits(store)) == len(commits1)

    # a SECOND lineage (fresh checkpoint) over the same input: its epoch 0
    # must NOT be mistaken for lineage 1's epoch 0 — data lands (duplicated
    # content is an intentional reprocess, reconciled by compaction/expire,
    # never by silently dropping a different stream's epochs)
    resolved3 = streaming_resolution(read_transcript_stream(spark, in_dir), idx, snaps)
    run_stream_to_commit_store(resolved3, store, str(tmp_path / "ck2"))
    commits3 = list_commits(store)
    assert len({c["sink_id"] for c in commits3}) == 2
    assert read_table(spark, store).count() == 2 * n1


def test_stream_broadcast_ladder_large_dictionary(spark, events, stream_dirs):
    """The large-dictionary scale path: streaming with a
    10^5-entry dictionary must (a) plan as broadcast rung lookups, not a
    10^5-entry map literal, and (b) give the batch resolution's rows and schema over the
    same input. The plan is read from the started query: a streaming frame
    has no executed plan of its own."""
    in_dir, out_dir, ck_dir = stream_dirs
    from kgtm.schemas import ONTOLOGY_INDEX_SCHEMA
    from kgtm.transcripts import ontology_index_rows

    # real dictionary + 10^5 synthetic filler entries (distinct hosts)
    filler = spark.range(100_000).select(
        F.concat(F.lit("http://filler"), "id", F.lit(".example.net/v/")).alias(
            "ontology_iri"
        ),
        F.concat(F.lit("filler"), "id", F.lit(".example.net")).alias("host"),
        F.lit("/v/").alias("path"),
        F.lit("slash").alias("iri_type"),
    )
    real = spark.createDataFrame(ontology_index_rows(), ONTOLOGY_INDEX_SCHEMA)
    idx = real.select(*ONTOLOGY_INDEX_SCHEMA.fieldNames()).unionByName(
        filler.select(*ONTOLOGY_INDEX_SCHEMA.fieldNames())
    )
    snaps = ontology_snapshots_df(spark)

    resolved = streaming_resolution(read_transcript_stream(spark, in_dir), idx, snaps)
    batch = batch_twin(spark, in_dir, idx, snaps)
    assert resolved.schema == batch.schema
    # run_stream_to_parquet's query, kept to read its last execution's plan
    q = (
        resolved.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    plan = q._jsq.explainInternal(False)
    # the dictionary is the build side of the rung-lookup broadcast joins ...
    assert re.search(
        r"BroadcastHashJoin \[host#\d+, coalesce\(_lc0#\d+, \), isnull\(_lc0#\d+\)\], "
        r"\[d_host#\d+, coalesce\(d_path#\d+, \), isnull\(d_path#\d+\)\]",
        plan,
    ), plan
    # ... and none of its entries is folded into the plan as a literal
    assert "filler99999.example.net" not in plan, plan[:2000]
    assert len(plan) < 100_000, len(plan)

    got = spark.read.parquet(out_dir)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    assert got.filter(F.col("source") == "archivo-latest").count() > 0


def test_stream_static_dims_built_once(spark, events, stream_dirs, tmp_path):
    """Over parquet dims, the stream reduces the dictionary and the snapshot
    dim once per query, not once per micro-batch: after a drain of three or
    more epochs, the last epoch's executed plan scans neither dim's files
    and holds no aggregation or shuffle exchange (the transcript side has
    none of either)."""
    in_dir, out_dir, ck_dir = stream_dirs
    many = str(tmp_path / "in_many")
    spark.read.parquet(in_dir).repartition(24).write.parquet(many)
    idx_dir, snaps_dir = str(tmp_path / "index"), str(tmp_path / "snaps")
    ontology_index_df(spark).write.parquet(idx_dir)
    ontology_snapshots_df(spark).write.parquet(snaps_dir)
    idx, snaps = spark.read.parquet(idx_dir), spark.read.parquet(snaps_dir)

    resolved = streaming_resolution(read_transcript_stream(spark, many), idx, snaps)
    q = (
        resolved.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(1 for p in q.recentProgress if p["numInputRows"] > 0) >= 3
    plan = q._jsq.explainInternal(False)
    assert "BroadcastHashJoin" in plan, plan
    assert "Aggregate" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert idx_dir not in plan and snaps_dir not in plan, plan

    got = spark.read.parquet(out_dir)
    batch = batch_twin(spark, many, idx, snaps)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


@pytest.mark.parametrize("mode", ["latest", "bogus"])
def test_stream_rejects_modes_it_does_not_implement(spark, stream_dirs, mode):
    """A mode that is not one of the four ontoVersion modes raises (it is
    resolve_links' own check) instead of quietly resolving as
    archivo-latest."""
    in_dir, _, _ = stream_dirs
    idx, snaps = ontology_index_df(spark), ontology_snapshots_df(spark)
    with pytest.raises(ValueError, match=mode):
        streaming_resolution(read_transcript_stream(spark, in_dir), idx, snaps, mode=mode)


def test_stream_timestamp_archived_requires_pin(spark, stream_dirs):
    in_dir, _, _ = stream_dirs
    idx, snaps = ontology_index_df(spark), ontology_snapshots_df(spark)
    with pytest.raises(ValueError, match="pin_ts"):
        streaming_resolution(
            read_transcript_stream(spark, in_dir), idx, snaps, mode="timestampArchived"
        )


def test_stream_failover_matches_batch(spark, events, stream_dirs):
    """Failover in streaming: the live-legs static table gates live-vs-
    archived per surface, with the batch failover resolution's rows and
    schema over the same input."""
    in_dir, out_dir, ck_dir = stream_dirs
    idx, snaps = ontology_index_df(spark), ontology_snapshots_df(spark)
    live = live_legs_of(spark, in_dir)

    with pytest.raises(ValueError, match="live_legs"):
        streaming_resolution(
            read_transcript_stream(spark, in_dir), idx, snaps,
            mode="originalFailoverLiveLatest",
        )

    resolved = streaming_resolution(
        read_transcript_stream(spark, in_dir), idx, snaps,
        mode="originalFailoverLiveLatest", live_legs=live,
    )
    batch = batch_twin(spark, in_dir, idx, snaps, "originalFailoverLiveLatest", live_legs=live)
    got = drain_equals_batch(spark, resolved, batch, out_dir, ck_dir)
    # live-accepted rows exist and carry NO snapshot: all archived-leg
    # columns are null
    live_rows = got.filter(F.col("source") == "original")
    assert live_rows.count() > 0
    assert live_rows.filter(
        F.col("snapshot_iri").isNotNull()
        | F.col("version_ts").isNotNull()
        | F.col("file_url").isNotNull()
    ).count() == 0
    # fallback rows exist and carry all three
    assert got.filter(
        (F.col("source") == "archivo-latest") & F.col("version_ts").isNotNull()
        & F.col("file_url").isNotNull()
    ).count() > 0


def test_stream_exactly_once_on_rerun(spark, events, stream_dirs):
    in_dir, out_dir, ck_dir = stream_dirs
    idx, snaps = ontology_index_df(spark), ontology_snapshots_df(spark)
    for _ in range(2):  # second drain with same checkpoint must add nothing
        resolved = streaming_resolution(read_transcript_stream(spark, in_dir), idx, snaps)
        run_stream_to_parquet(resolved, out_dir, ck_dir)
    n = spark.read.parquet(out_dir).count()
    assert n == events.count()  # one planted IRI per turn, no duplicates


def test_stateful_conv_progress(spark, events, stream_dirs):
    """applyInPandasWithState accumulates across micro-batches: the FINAL
    emitted row per conversation equals the batch ground truth."""
    from kgtm.streaming import run_stateful_progress

    in_dir, out_dir, ck_dir = stream_dirs
    # many small files → several micro-batches (maxFilesPerTrigger=8)
    tr = spark.read.parquet(in_dir)
    multi = str(Path(in_dir).parent / "in_many")
    tr.repartition(24).write.parquet(multi)

    stream = read_transcript_stream(spark, multi)
    run_stateful_progress(stream, out_dir, ck_dir)

    got = spark.read.parquet(out_dir)
    # keep the last (max n_turns) emission per conv
    final = got.groupBy("conv_id").agg(
        F.max("n_turns").alias("n_turns"),
        F.max("max_turn_idx").alias("max_turn_idx"),
        F.max("n_mentions").alias("n_mentions"),
    )
    truth = tr.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("t_n"),
        F.max("turn_idx").alias("t_max"),
    )
    j = final.join(truth, "conv_id")
    assert j.filter(
        (F.col("n_turns") != F.col("t_n")) | (F.col("max_turn_idx") != F.col("t_max"))
    ).count() == 0
    # one planted IRI per turn → n_mentions == n_turns
    assert j.filter(F.col("n_mentions") != F.col("n_turns")).count() == 0


def test_windowed_counts_with_watermark(spark, events, stream_dirs):
    in_dir, out_dir, ck_dir = stream_dirs
    run_windowed_counts(
        read_transcript_stream(spark, in_dir),
        out_dir,
        ck_dir,
        window="1 hour",
        watermark="2 hours",
    )
    got = spark.read.parquet(out_dir)
    # append mode emits only windows closed by the watermark — a suffix of
    # open windows is withheld at stream end (correct late-data semantics)
    total = got.agg(F.sum("n_turns")).collect()[0][0]
    assert 0 < total <= events.count()
    # window bounds are aligned hours
    assert got.filter(F.minute("window_start") != 0).count() == 0
    # every emitted (window, conv) count matches a batch recomputation
    tr = spark.read.parquet(in_dir)
    batch = (
        tr.groupBy(F.window("ts", "1 hour").alias("win"), "conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("win.start").alias("window_start"),
            "conv_id",
            F.col("n_turns").alias("batch_n"),
        )
    )
    j = got.join(batch, ["window_start", "conv_id"], "left")
    assert j.filter(F.col("n_turns") != F.col("batch_n")).count() == 0


def test_streaming_minhash_dedup_stream_equals_batch(spark, tmp_path):
    """Bounded-state streaming NEAR-dup dedup: stream output == batch
    dropDuplicates on the SAME band key (built by the shared
    with_minhash_band_key, so the paths cannot drift). Planted cases: an
    exact dup in a later micro-batch, a whitespace-variant near-dup whose
    shingle set is identical (deterministic band match — exactly what the
    exact-digest dedup misses), a distinct doc, identical short docs, and
    the NULL-vs-'' pair (both must survive via the exact fallback key)."""
    import datetime as dt

    from kgtm.schemas import TRANSCRIPTS_SCHEMA
    from kgtm.streaming import (
        read_transcript_stream,
        run_stream_to_parquet,
        streaming_minhash_dedup,
        with_minhash_band_key,
    )

    t0 = dt.datetime(2024, 7, 1)
    base = (
        "the quick brown fox jumps over the lazy dog near the old harbor "
        "while the people of the town watch the long story unfold slowly"
    )
    ws_variant = base.replace("fox jumps", "fox  jumps")  # same word sequence
    distinct = (
        "completely different content about spark shuffle partitioning and "
        "broadcast joins in a large distributed aggregation pipeline today"
    )
    rows1 = [
        ("c1", 0, "user", base, None, t0),
        ("c1", 1, "user", distinct, None, t0),
        ("c1", 2, "user", "hi", None, t0),
        ("c1", 3, "user", None, None, t0),
        ("c1", 4, "user", "", None, t0),
        ("c1", 5, "user", "n", None, t0),  # literal 'n' ≠ the NULL encoding
    ]
    rows2 = [
        ("c2", 0, "user", base, None, t0),        # exact dup → drop
        ("c2", 1, "user", ws_variant, None, t0),  # near-dup (same shingles) → drop
        ("c2", 2, "user", "hi", None, t0),        # identical short → drop
        ("c2", 3, "user", "yo", None, t0),        # distinct short → keep
    ]
    in_dir = str(tmp_path / "nd_in")
    spark.createDataFrame(rows1, TRANSCRIPTS_SCHEMA).write.mode("overwrite").parquet(in_dir)
    spark.createDataFrame(rows2, TRANSCRIPTS_SCHEMA).write.mode("append").parquet(in_dir)

    out_dir, ck = str(tmp_path / "nd_out"), str(tmp_path / "nd_ck")
    run_stream_to_parquet(
        streaming_minhash_dedup(read_transcript_stream(spark, in_dir)), out_dir, ck
    )
    got = spark.read.parquet(out_dir)

    batch = with_minhash_band_key(spark.read.parquet(in_dir)).dropDuplicates(["_nd_key"])
    # base, distinct, hi, NULL, '', 'n', yo
    assert got.count() == batch.count() == 7
    g_keys = {r._nd_key for r in with_minhash_band_key(got).select("_nd_key").collect()}
    b_keys = {r._nd_key for r in batch.select("_nd_key").collect()}
    assert g_keys == b_keys
    kept_texts = {r.text for r in got.select("text").collect()}
    # exactly ONE of the near-dup pair survives (which one is arbitrary: the
    # file source may fold both input files into a single micro-batch)
    assert len({base, ws_variant} & kept_texts) == 1
    assert None in kept_texts and "" in kept_texts and "yo" in kept_texts
    assert "n" in kept_texts  # length-prefixed fallback: no sentinel collision


def test_reconcile_neardup_backstop(spark):
    """The batch completeness backstop catches BOTH ways a true near-dup
    pair survives streaming_minhash_dedup, deterministically:

      * band miss: (a1, a2) are a one-word-edit pair with true 3-gram
        Jaccard ≥ 0.8 whose single-band stream keys DIFFER (asserted below —
        the planted property, not a probabilistic hope), so the stream keeps
        both even when they arrive within the watermark;
      * watermark expiry: (c1, c2) are byte-identical but 2 days apart, so
        the stream's band-key state for c1 is long evicted when c2 arrives.

    Reconcile must cluster each pair, keep the EARLIEST ts (not the min id —
    a2 gets the smaller id on purpose to catch a min-id survivor pick), and
    leave the distinct doc and sub-n short docs as keep=true singletons
    (byte-identical short stragglers are batch exact_dedup's contract, not
    this operator's — they have no shingles to band).

    Idempotence: re-running reconcile over the kept rows is a no-op.
    """
    import datetime as dt

    from kgtm.streaming import reconcile_neardup_survivors, with_minhash_band_key

    t0 = dt.datetime(2024, 7, 1)
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliett "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four "
        "five six seven eight nine ten eleven twelve thirteen fourteen"
    )
    # one middle word of 40 ('three' collided under the round-6 splitmix64
    # minhash family — the planted property below checks the choice)
    variant = base.replace("seven", "SEVEN9")
    distinct = (
        "completely different content about spark shuffle partitioning and "
        "broadcast joins in a large distributed aggregation pipeline today "
        "with adaptive execution and skew handling across many executors "
        "reading columnar files from object storage at petabyte scale now"
    )
    exact = "repeated straggler content that comes back two days later " * 3

    rows = [
        (10, base, t0),                                  # a1: earliest of pair A
        (2, variant, t0 + dt.timedelta(minutes=1)),      # a2: SMALLER id, later ts
        (3, exact, t0),                                  # c1
        (4, exact, t0 + dt.timedelta(days=2)),           # c2: watermark straggler
        (5, distinct, t0),                               # singleton
        (6, "hi", t0),                                   # short: no shingles
        (7, "hi", t0 + dt.timedelta(days=2)),            # short straggler (exact
        #   dedup's job, NOT reconcile's: stays keep=true here)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")

    # planted property: the pair's single-band STREAM keys differ (this is
    # the deterministic stand-in for "the stream missed them")
    keys = {
        r.doc_id: r._nd_key
        for r in with_minhash_band_key(docs, "text").select("doc_id", "_nd_key").collect()
    }
    assert keys[10] != keys[2], "pick a different edit word: band key collided"
    assert keys[3] == keys[4]  # exact pair shares the key; watermark is the miss

    out = reconcile_neardup_survivors(docs).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(by_id) == 7

    # pair A: earliest ts wins even though the other id is smaller
    assert by_id[10].keep and by_id[10].keep_id == 10
    assert not by_id[2].keep and by_id[2].keep_id == 10
    assert by_id[2].cluster_id == by_id[10].cluster_id
    # pair C: watermark straggler retro-deleted
    assert by_id[3].keep and not by_id[4].keep and by_id[4].keep_id == 3
    # singletons (incl. both short docs) all keep
    for i in (5, 6, 7):
        assert by_id[i].keep and by_id[i].keep_id == i

    # idempotence: reconcile over the kept rows deletes nothing
    kept_ids = [r.doc_id for r in out if r.keep]
    again = reconcile_neardup_survivors(
        docs.filter(F.col("doc_id").isin(kept_ids))
    ).collect()
    assert all(r.keep for r in again)
    assert {r.doc_id for r in again} == set(kept_ids)


def test_streaming_paragraph_dedup_keeps_one_per_digest(spark, tmp_path):
    """Streaming paragraph dedup: exactly one kept copy per candidate
    digest across micro-batches, non-candidates always kept in place, and
    the kept digest set equals the batch kept_paragraphs digest set on the
    same corpus (survivor IDENTITY may differ — arrival vs min-(doc,pos) —
    so only key sets are asserted, per the file-folding gotcha)."""
    import datetime as dt

    from kgtm.paragraphs import kept_paragraphs
    from kgtm.streaming import run_stream_to_parquet, streaming_paragraph_dedup

    t0 = dt.datetime(2024, 7, 1)
    boiler = "accept all cookies to continue browsing this site"
    rows1 = [
        (1, boiler + "\nunique first document body paragraph", t0),
        (2, "another wholly unique paragraph body\n##", t0),
    ]
    rows2 = [
        (3, boiler + "\nthird document unique paragraph text", t0),
        (4, "##\n" + boiler, t0),  # short dup "##" must survive; boiler must not
    ]
    schema = "doc_id long, text string, ts timestamp"
    in_dir = str(tmp_path / "pd_in")
    spark.createDataFrame(rows1, schema).write.mode("overwrite").parquet(in_dir)
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema(schema).parquet(in_dir)
    out_dir, ck = str(tmp_path / "pd_out"), str(tmp_path / "pd_ck")
    run_stream_to_parquet(streaming_paragraph_dedup(stream), out_dir, ck)
    got = spark.read.parquet(out_dir)

    assert set(got.columns) == {"doc_id", "ts", "n_paras", "pos", "para"}
    kept = [(r["doc_id"], r["pos"], r["para"]) for r in got.collect()]
    # exactly one boilerplate copy survived (it appeared in docs 1, 3, 4)
    assert sum(1 for _, _, p in kept if p == boiler) == 1
    # both '##' non-candidates survive in place
    assert sorted((d, pos) for d, pos, p in kept if p == "##") == [(2, 1), (4, 0)]
    # kept paragraph SET == batch operator's kept set on the union corpus
    batch_df = spark.createDataFrame(rows1 + rows2, schema)
    batch_kept = {
        r["para"] for r in kept_paragraphs(batch_df.select("doc_id", "text")).collect()
    }
    assert {p for _, _, p in kept} == batch_kept


def test_streaming_unigram_scoring_against_frozen_vocab(spark, tmp_path):
    """Stream-side LM quality scoring: score_unigram_nll over readStream
    against a frozen (static) vocabulary — stream-static left join +
    watermarked windowed aggregation, per-doc nll_bits identical to the
    batch path with the same model."""
    import datetime as dt

    from pyspark.sql import functions as F

    from kgtm.lm import score_unigram_nll, unigram_counts, unigram_nll
    from kgtm.streaming import run_stream_to_parquet

    t0 = dt.datetime(2024, 7, 1, 12, 0)
    model_rows = [(100, "a a b c"), (101, "a b d")]
    schema = "doc_id long, text string, ts timestamp"
    model = spark.createDataFrame(
        [(d, t, t0) for d, t in model_rows], schema
    ).select("doc_id", "text")
    vocab = unigram_counts(model).localCheckpoint(eager=True)
    n_total = float(vocab.agg(F.sum("cnt")).collect()[0][0])

    # docs 1-3 in the noon window; the straggler file's ts sits far enough
    # ahead that its arrival pushes the watermark past that window's end,
    # flushing docs 1-3 under append mode (the straggler's own window stays
    # open and is NOT emitted — asserted below). maxFilesPerTrigger=1 keeps
    # the files in separate micro-batches so the watermark actually advances
    # between them (availableNow folds them into one batch otherwise).
    late = t0 + dt.timedelta(hours=6)
    score_rows = [(1, "a b z", t0), (2, "c c d", t0), (3, "zz", t0)]
    in_dir = str(tmp_path / "lm_in")
    spark.createDataFrame(score_rows, schema).write.mode("overwrite").parquet(in_dir)
    spark.createDataFrame([(9, "a", late)], schema).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .withWatermark("ts", "1 hour")
        .withColumn("win", F.window("ts", "1 hour"))
    )
    out_dir, ck = str(tmp_path / "lm_out"), str(tmp_path / "lm_ck")
    run_stream_to_parquet(
        score_unigram_nll(stream, vocab, n_total, extra_group_cols=("win",)),
        out_dir, ck,
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_oov"], r["nll_bits"])
        for r in spark.read.parquet(out_dir).collect()
    }

    batch_df = spark.createDataFrame(score_rows, schema).select("doc_id", "text")
    want = {
        r["doc_id"]: (r["n_tokens"], r["n_oov"], r["nll_bits"])
        for r in unigram_nll(batch_df, model_df=model).collect()
    }
    assert got == want  # straggler doc 9's window never flushed, by design
    assert got[1][1] == 1  # 'z' is OOV against the frozen model
    assert got[3] == (1, 1, round(-__import__("math").log2(1.0 / n_total), 6))
