"""Deduplication operators over document/text tables.

Large-scale training-data dedup suite, each as a DataFrame plan:

  exact_dedup          — hash-groupBy (one shuffle on the digest)
  ngram_jaccard_pairs  — exact n-gram Jaccard via shared-shingle self-join
                         (the verify stage of MinHash-LSH; also correct
                         standalone because a pair with J>0 MUST share >=1
                         shingle — the join is lossless, not approximate)
  minhash_lsh_pairs    — MinHash signatures (vectorized numpy pandas UDF)
                         → banding → bucket self-join → exact-Jaccard verify;
                         the 100 TB path: candidate generation touches only
                         (band, hash) keys, never text×text
  simhash64            — 64-bit SimHash + Hamming-banded near-dup pairs
  embedding_neardup_pairs — cosine >= tau over an embedding column

Scale notes: every pair generator keys the shuffle on a SMALL derived token
(shingle hash / band hash / sign-bucket), never on raw text; hot shingles
(stop-phrases) are capped via a document-frequency filter before the
self-join — the classic skew guard for shingle joins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

#: Default hot-shingle document-frequency cap. kgtm.curation's state-backed
#: incremental path reuses this value so a materialized corpus flat and a
#: fresh derivation always agree on the capped shingle space.
DEFAULT_MAX_SHINGLE_DF = 1000

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: (digest, keep_<id>, n_dupes).

    Keeps the minimum id per content digest — deterministic survivor pick.
    Single shuffle on the 128-bit digest; partial agg does the heavy lifting.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(
            F.min(id_col).alias(f"keep_{id_col}"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram shingles + exact Jaccard
# ---------------------------------------------------------------------------


def grams_expr(words: str | Column, n: int = 3) -> Column:
    """array<string> of distinct word n-grams from a words-array column.

    IMPORTANT perf contract: pass a MATERIALIZED words column (a previous
    projection step), not the split() expression itself — Catalyst inlines a
    split passed directly into every element access inside the transform
    lambda (measured 20x slower at sf0.1).
    """
    w = F.col(words) if isinstance(words, str) else words
    idx = F.sequence(F.lit(0), F.size(w) - F.lit(n))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.get(w, i + F.lit(k)) for k in range(n)]
    )
    # Spark's sequence(0, stop) counts DOWN when stop < 0 — guard short texts.
    return F.when(F.size(w) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(F.transform(idx, gram))
    )


def with_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    out: str = "sh",
) -> DataFrame:
    """(id, sh) with the words split staged as its own projection.

    The narrow (id, text) projection is fanned out to the session's
    parallelism BEFORE the split/gram work (round 7, guide §2.5): an
    under-parallel input (one-row-group fixture, a coalesced upstream)
    would otherwise run the whole shingling — and any downstream
    AQE-broadcast probe pipelined onto it — in a single task. No-op when
    the input is already parallel."""
    from kgtm.session import ensure_min_parallelism

    base = ensure_min_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    )
    return base.select(
        "id",
        F.split(F.trim(F.lower(F.col("_t"))), r"\s+").alias("_w"),
    ).select("id", grams_expr("_w", n).alias(out))


def shingles_col(text: str | Column = "text", n: int = 3) -> Column:
    """Single-expression form (tests/small data). For hot paths use
    with_shingles — see grams_expr's perf contract."""
    t = F.col(text) if isinstance(text, str) else text
    return grams_expr(F.split(F.trim(F.lower(t)), r"\s+"), n)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    log_dropped: bool = False,
) -> DataFrame:
    """All (id_a, id_b, jaccard) pairs with J >= threshold, id_a < id_b.

    APPROXIMATE BY DEFAULT: ``max_shingle_df=1000`` drops near-universal
    (hot) shingles before pairing, so (a) a pair whose ONLY shared shingles
    are hot is never emitted, and (b) Jaccard is computed over the capped
    shingle space. Pass ``max_shingle_df=None`` for the exact all-pairs
    semantics (safe only on corpora with no near-universal shingle — the
    hot-shingle self-join explodes quadratically otherwise).

    Within the capped space the computation IS exact: |A∩B| from the
    shared-shingle join, |A∪B| = |A|+|B|-|∩|, consistently over post-cap
    shingle sets on BOTH sides of the ratio, and exactness holds for every
    pair that shares at least one sub-cap shingle (a stop-phrase that 10^8
    docs share carries no dedup signal). ``log_dropped=True`` counts and
    prints the dropped hot shingles (one extra small job).
    """
    pair_side, sizes = _capped_flat(df, text_col, id_col, n, max_shingle_df, log_dropped)
    a = pair_side.select(F.col("id").alias("id_a"), "shingle")
    b = pair_side.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard_from_inter(inter, sizes, threshold)


def flat_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """Flat (id, shingle-hash) rows — the shared shingle derivation of every
    exact-Jaccard operator, and the schema of the materialized
    ``ledger_shingles`` store table (kgtm.curation), so an incrementally
    maintained corpus flat is byte-compatible with a freshly derived one.

    explode FIRST (grams evaluated once inside Generate); join on a 64-bit
    shingle hash, not the string — smaller shuffle keys. |A| is recovered
    as a per-id count over flat (sh is already distinct), avoiding the
    size()+explode() double evaluation of the gram array.
    explode_OUTER, not explode: InferFiltersFromGenerate would otherwise
    push a `size(<full gram expr>) > 0` filter below the staged projection,
    re-inlining the split into every element access (measured 30x slower).
    """
    sh = with_shingles(df, text_col, id_col, n)
    flat = (
        sh.select("id", F.explode_outer("sh").alias("sh_str"))
        .filter(F.col("sh_str").isNotNull())
        .select("id", F.xxhash64("sh_str").alias("shingle"))
    )
    # (id, shingle-hash) is consumed up to four times by the pair operators
    # (hot-shingle DF, per-doc sizes, BOTH sides of the self-join); without a
    # checkpoint each consumer re-runs the split→grams→explode→hash pipeline
    # over the full text corpus. Lazy: materializes on first use, then every
    # consumer scans 16 bytes/row instead of re-deriving. Single-consumer
    # callers (contamination_pairs' corpus side) pass checkpoint=False —
    # materializing the whole corpus flat with zero reuse is pure cost.
    return flat.localCheckpoint(eager=False) if checkpoint else flat


def _apply_cap(flat, max_shingle_df, log_dropped=False):
    """Hot-shingle document-frequency cap over a flat (id, shingle) frame: a
    stop-phrase shared by 10^8 docs carries no dedup signal and quadratically
    explodes the join."""
    if max_shingle_df is None:
        return flat
    hot = (
        flat.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_"))
        .filter(F.col("df_") > max_shingle_df)
        .select("shingle")
    )
    if log_dropped:
        n_hot = hot.count()
        print(
            f"[ngram_jaccard_pairs] skew guard: dropped {n_hot} shingles "
            f"with document frequency > {max_shingle_df}"
        )
    return flat.join(F.broadcast(hot), "shingle", "left_anti")


def _capped_flat(df, text_col, id_col, n, max_shingle_df, log_dropped=False):
    """(pair_side, sizes): df-capped flat (id, shingle-hash) rows + per-id
    post-cap shingle counts — the shared front half of the exact-Jaccard
    operators."""
    pair_side = _apply_cap(
        flat_shingles(df, text_col, id_col, n), max_shingle_df, log_dropped
    )
    # |A| over the SAME (post-cap) shingle space as |A∩B|, so the capped
    # result is the exact Jaccard of the stop-shingle-removed sets — not a
    # mixed-denominator underestimate.
    sizes = pair_side.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    return pair_side, sizes


def _jaccard_from_inter(inter, sizes, threshold):
    # No broadcast hint: sizes is one row per doc — AQE broadcasts while it
    # fits and falls back to shuffle join at corpus scale.
    sz = sizes
    inter = inter.join(
        sz.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a"
    ).join(sz.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
    jac = inter.withColumn(
        "jaccard",
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def probe_pairs_with_sizes(
    p: DataFrame, o: DataFrame, sizes: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Probe-driven exact Jaccard: all (id_a < id_b, jaccard >= threshold)
    pairs with AT LEAST ONE side on the probe side — never the rest×rest
    self-join. ``p`` = probe-side (id, shingle) rows, ``o`` = the rest, both
    already df-capped; ``sizes`` (id, n_sh) holds post-cap shingle counts
    and may cover a superset of the pair participants — the inner size join
    keeps only what pairs need.

    The incremental-ingest shape (kgtm.curation.incremental_curate): when a
    batch lands in a curated corpus, only pairs touching the batch can
    change a decision, so the candidate join is probe-flat ⋈ corpus-flat —
    cost scales with the batch's shingle fan-out, not |corpus|². In state
    mode ``o`` arrives pre-restricted to rows sharing a probe shingle and
    the old sizes come from the materialized ``ledger_doc_sizes``, so NO
    consumer here touches the full corpus."""
    # probe×probe + probe×rest shared-shingle counts; the two joins are
    # disjoint by construction, so no pair double-counts
    pp = (
        p.select(F.col("id").alias("id_a"), "shingle")
        .join(p.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
    )
    po = (
        p.select(F.col("id").alias("pid"), "shingle")
        .join(o.select(F.col("id").alias("oid"), "shingle"), "shingle")
        .select(
            F.least("pid", "oid").alias("id_a"),
            F.greatest("pid", "oid").alias("id_b"),
            "shingle",
        )
    )
    inter = (
        pp.select("id_a", "id_b", "shingle")
        .unionByName(po)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard_from_inter(inter, sizes, threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _hash_shingles(sh) -> np.ndarray:
    """Stable 31-bit shingle hashes: the top 31 bits of the vectorized
    64-bit polynomial+splitmix64 hash (no Python hash() — seed-varying;
    no crc32 — that was a per-string Python loop AND had no SQL twin).

    31-bit range keeps a*x+b inside uint64 for the universal-hash family
    below — the whole signature stays in vectorized native arithmetic —
    and DuckDB reproduces x exactly (hash64 chain >> 33), which is what
    makes the minhash_lsh driver-gate oracle possible (kgtm.oracles
    q_minhash_lsh)."""
    return _hash_shingles64(sh) >> np.uint64(33)


#: the splitmix64 stream increment (golden-ratio constant): hash function i
#: of the minhash family is mix64(x + (i+1) * GOLDEN) — i.e. the i-th output
#: of a splitmix64 generator seeded at the shingle hash
_GOLDEN64 = 0x9E3779B97F4A7C15


def minhash_signature_series(
    shingle_lists: pd.Series, n_hashes: int = 128, seed: int = 42
) -> pd.Series:
    """Pure UDF body: list[str] shingles → list[int] minhash signature.

    Hash family (round 6): h_i(x) = mix64(x + (i+1)*GOLDEN) >> 1 over the
    full 64-bit shingle hash x — the i-th splitmix64 stream output seeded at
    x. Each h_i is a bijection of x composed with a strong avalanche, the
    standard k-mins construction. (The previous (a*x+b) mod 2^61-1 family
    with a, x < 2^31 was subtly BROKEN: products never exceed 2^62 < 2p, so
    outputs grow nearly monotonically in x and the minimum is dominated by
    the smallest shingle hash — measured agreement 7/64 on a J=0.75 pair
    where theory demands ~48/64.) The final >> 1 keeps values in signed
    int64 range for Spark's array<long> while preserving unsigned order.

    DuckDB reproduces the family exactly (kgtm.oracles.q_minhash_lsh:
    the same HUGEINT mix chain per (shingle, i)), which is what makes
    minhash_lsh a value-checked driver-gate row.

    The string hashing itself runs ONCE per distinct shingle across the
    whole Arrow batch (pd.factorize + the vectorized 64-bit hasher — same
    pattern as simhash_series); per-doc work is a pure numpy broadcast add
    + mix + min. ``seed`` participates as an additive offset (seed * GOLDEN)
    so distinct seeds give independent families.

    Empty shingles → NULL (not a constant signature): a constant would
    falsely band every empty doc together, and NULL lets callers drop
    them with a cheap column filter instead of re-evaluating the gram
    expression (see ngram pitfalls above).
    """
    offs = (
        np.arange(1, n_hashes + 1, dtype=np.uint64) + np.uint64(seed)
    ) * np.uint64(_GOLDEN64)

    counts = np.fromiter(
        ((len(t) if t is not None else 0) for t in shingle_lists),
        dtype=np.int64,
        count=len(shingle_lists),
    )
    total = int(counts.sum())
    if total:
        flat = np.empty(total, dtype=object)
        pos = 0
        for t in shingle_lists:
            if t is not None and len(t):
                flat[pos : pos + len(t)] = t
                pos += len(t)
        codes, uniques = pd.factorize(flat)
        xf = _hash_shingles64(list(uniques))[codes]
    offsets = np.zeros(len(shingle_lists) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])

    out: list[list[int] | None] = []
    for i, c in enumerate(counts):
        # Arrow delivers list columns as numpy arrays — no bool() on them.
        if c == 0:
            out.append(None)
            continue
        x = xf[offsets[i] : offsets[i + 1]]
        m = _splitmix64_np(x[None, :] + offs[:, None]) >> np.uint64(1)
        out.append(m.min(axis=1).view(np.int64).tolist())
    return pd.Series(out, index=shingle_lists.index)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 128,
    n_bands: int = 16,
    threshold: float = 0.8,
    rows_per_band: int | None = None,
    verify: str = "estimate",
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified per candidate pair.

    Candidate generation cost ~ O(rows × bands); only candidate pairs ever
    get verified. ``verify``:
      - "estimate" (default): estimated Jaccard = fraction of equal
        minhashes; pairs kept when est_jaccard >= threshold. Cheapest — the
        signatures are already in hand.
      - "exact": candidates are re-checked against the TRUE n-gram Jaccard
        (array_intersect over the shingle sets, JVM-side); pairs kept when
        jaccard >= threshold. The classic LSH-then-verify production shape:
        banding only risks RECALL, never emits a false positive.

    ``rows_per_band`` defaults to n_hashes // n_bands. Setting it to 0 makes
    every band slice empty, so every doc hashes to ONE universal bucket and
    the candidate set is the full pair space — the derandomization hook: with
    ``verify="exact"`` the output must equal ngram_jaccard_pairs with no df
    cap (hash-checked by the minhash_exhaustive driver-gate query), proving
    the whole signature→band→bucket-join→verify machinery lossless. The
    approximate default then only risks recall, not correctness (same
    pattern as ann_lsh_exhaustive / ann_ivf_exhaustive).
    """
    if verify not in ("estimate", "exact"):
        raise ValueError(f"verify must be 'estimate' or 'exact', got {verify!r}")
    if rows_per_band is None:
        rows_per_band = n_hashes // n_bands
    sig_udf = F.pandas_udf(
        lambda s: minhash_signature_series(s, n_hashes), ArrayType(LongType())
    )
    # Empty-shingle docs get a NULL signature and must not reach banding:
    # xxhash64 over a NULL slice is a constant (seed hash), so they would all
    # collide into one quadratic hot bucket (their pairs are later killed by
    # the NULL est filter, but the candidate blow-up is the real damage).
    # The isNotNull filter sits AFTER the checkpoint on purpose: placed
    # before it, Catalyst evaluates the Python UDF twice (filter + project),
    # and filtering on size(sh) instead re-inlines the gram expression —
    # both measured 3-5x slower at sf0.1.
    shfr = with_shingles(df, text_col, id_col, n)
    if verify == "exact":
        # only the exact-verify path reads the shingle arrays AGAIN (the two
        # verify joins) — checkpoint them for that reuse; in estimate mode
        # shfr feeds exactly one projection and materializing the shingled
        # corpus would be pure memory cost on the hot path
        shfr = shfr.localCheckpoint(eager=False)
    sigs = shfr.select(
        "id", sig_udf(F.col("sh")).alias("sig")
    ).localCheckpoint(eager=False).filter(F.col("sig").isNotNull())

    bands = sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda bnd: F.xxhash64(
                    F.slice(F.col("sig"), bnd * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band", "bucket"),
    )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    if verify == "exact":
        # per-candidate TRUE Jaccard over the (distinct) shingle arrays —
        # pure JVM set ops, same |∩|/(|A|+|B|-|∩|) form as the pair-join
        # operators so rounding agrees with ngram_jaccard_pairs exactly
        ex = cand.join(
            shfr.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        ).join(
            shfr.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
        )
        ni = F.size(F.array_intersect("sh_a", "sh_b"))
        jac = ni / (F.size("sh_a") + F.size("sh_b") - ni)
        return (
            ex.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )
    est = (
        cand.join(sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        .withColumn(
            "est_jaccard",
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda p, q: p == q), lambda v: v))
            / F.lit(n_hashes),
        )
    )
    return est.filter(F.col("est_jaccard") >= threshold).select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def dedup_clusters(pairs: DataFrame, all_ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs → clusters → survivor pick.

    Composition: connected components over the pair graph (transitive
    closure — A~B, B~C ⇒ one cluster even if A,C never compared), labelled
    by the lexicographic min of the ids as strings; survivor = numeric min
    id per cluster. Returns (id, cluster_id, is_survivor) covering EVERY id
    in ``all_ids`` (singletons are their own cluster).

    A pair graph within the literal row cap is closed by union-find on the
    driver; a larger one by the O(log n)-round star plan, since near-dup
    clusters are often CHAINS (A~B~C~…~Z under a sliding edit).
    """
    from kgtm.canonicalize import connected_components

    edges = pairs.select(
        F.col("id_a").cast("string").alias("src"),
        F.col("id_b").cast("string").alias("dst"),
    )
    comps, _ = connected_components(edges)
    ids = all_ids.select(F.col(id_col).cast("string").alias("id_str"), F.col(id_col).alias("id"))
    out = ids.join(comps, ids["id_str"] == comps["node"], "left").select(
        "id",
        F.coalesce(F.col("component"), F.col("id_str")).alias("cluster_id"),
    )
    # survivor = min id within cluster (deterministic, matches exact_dedup)
    from pyspark.sql.window import Window

    w = Window.partitionBy("cluster_id")
    return out.withColumn(
        "is_survivor", F.col("id") == F.min("id").over(w)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


#: multiplier of the codepoint polynomial — the 64-bit FNV prime. Small
#: enough (2^40) that the DuckDB twin's fold `acc * P + c` stays < 2^104,
#: inside HUGEINT; big enough that long shingles keep accumulating entropy
#: across the full word before the finalizer mixes it.
_POLY_P = 1099511628211
_MOD64 = 1 << 64
#: modular inverse of the multiplier (P odd => invertible mod 2^64): used to
#: cancel the right-padding shift of numpy's fixed-width UCS4 matrices
_POLY_PINV = pow(_POLY_P, -1, _MOD64)
#: strings longer than this skip the padded-matrix Horner loop (which costs
#: max_len numpy calls for the WHOLE chunk) and hash via a per-string
#: vectorized dot instead
_LONG_CUTOFF = 4096
#: splitmix64 finalizer constants (Steele/Lea/Flood, public-domain PRNG —
#: the standard 64-bit avalanche used by SplittableRandom)
_SM64_C1 = 0xBF58476D1CE4E5B9
_SM64_C2 = 0x94D049BB133111EB


def _splitmix64_np(z: np.ndarray) -> np.ndarray:
    """splitmix64 avalanche over a uint64 vector (wrapping arithmetic)."""
    z = z.astype(np.uint64, copy=True)
    z ^= z >> np.uint64(30)
    z *= np.uint64(_SM64_C1)
    z ^= z >> np.uint64(27)
    z *= np.uint64(_SM64_C2)
    z ^= z >> np.uint64(31)
    return z


def _hash_shingles64(sh) -> np.ndarray:
    """Full-width 64-bit shingle hashes, fully vectorized: a codepoint
    polynomial h = sum_i (cp_i + 1) * P^(L-1-i) mod 2^64 (P = the FNV
    prime) followed by a splitmix64 finalizer. Every one of the 64 SimHash
    bit positions gets real entropy — the finalizer matters: without it the
    polynomial alone leaves the trailing characters visible only in the low
    ~40 bits (two shingles differing only in the last word would agree on
    bits 40..63, biasing SimHash similarity upward on shared prefixes).

    Why not the 31-bit crc32 family used for MinHash (_hash_shingles): a
    31-bit hash leaves SimHash bits 31..63 at constant 0 for EVERY document,
    so the Hamming-band chunks covering those bits become one universal
    bucket and candidate generation silently degenerates to the full
    quadratic pair space — the exact blow-up banding exists to prevent.
    (MinHash keeps crc32: its universal-hash arithmetic needs x < 2^31.)

    Why not md5 (rounds 4-5): per-string hashlib calls were the last
    row-at-a-time-Python hot path in a scale operator. Here the batch goes
    through ``np.array(batch, dtype=str)`` — one C pass producing a
    fixed-width UCS4 codepoint matrix — then an in-place Horner column loop
    h = h*P + cp + 1[real]. The matrix is RIGHT-padded by numpy, which
    multiplies each true hash by P^(pad); P is odd hence invertible mod
    2^64, so one vectorized gather-multiply by P^-(pad) cancels the shift
    exactly. DuckDB reproduces the whole thing in HUGEINT SQL arithmetic
    (list_reduce fold + split-multiply finalizer: kgtm.oracles.hash64_sql),
    which is what keeps the simhash gate oracles value-checkable.

    Unicode: the polynomial runs over CODEPOINTS (UCS4 view on the numpy
    side == DuckDB unicode() per split character), so both engines agree
    beyond ASCII without byte-encoding games. The +1 keeps U+0000 distinct
    from padding cells — but numpy U-arrays silently DROP trailing NULs on
    store, so the rare string containing one is routed to the scalar
    reference instead (hash64_py, identical values).

    Two slow-tail routes keep the fast path honest:
    - strings longer than _LONG_CUTOFF go per-string through a vectorized
      dot against a power table (the column loop would otherwise execute
      max_len tiny numpy calls for the whole chunk);
    - heterogeneous batches are length-sorted and chunked so each chunk
      pads only to its OWN max, not the batch max.
    """
    n = len(sh)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out
    lens = np.fromiter((len(s) for s in sh), dtype=np.int64, count=n)
    P = np.uint64(_POLY_P)

    long_or_nul: list[int] = [
        i for i in range(n) if lens[i] > _LONG_CUTOFF or "\0" in sh[i]
    ]
    if long_or_nul:
        skip = set(long_or_nul)
        pows_desc_src = None
        for i in long_or_nul:
            s = sh[i]
            if "\0" in s:
                out[i] = hash64_py(s)
                continue
            if pows_desc_src is None or len(pows_desc_src) < len(s):
                pows_desc_src = np.ones(len(s), dtype=np.uint64)
                pows_desc_src[1:] = P
                np.multiply.accumulate(pows_desc_src, out=pows_desc_src)
            cp = np.frombuffer(s.encode("utf-32-le"), dtype="<u4").astype(
                np.uint64
            )
            cp += np.uint64(1)
            cp *= pows_desc_src[len(s) - 1 :: -1]
            out[i] = _splitmix64_np(cp.sum(dtype=np.uint64, keepdims=True))[0]
        idx_rest = np.array(
            [i for i in range(n) if i not in skip], dtype=np.int64
        )
    else:
        idx_rest = np.arange(n)
    if len(idx_rest) == 0:
        return out

    rest_lens = lens[idx_rest]
    if len(idx_rest) > 1 and int(rest_lens.max()) > 4 * max(
        int(rest_lens.min()), 1
    ):
        # heterogeneous: sort by length so each chunk pads to its own max
        idx_rest = idx_rest[np.argsort(rest_lens, kind="stable")]
    m = len(idx_rest)
    pos = 0
    budget = 16 << 20  # uint32 cells per chunk (~64 MB)
    while pos < m:
        take = 256
        while pos + take < m:
            grown = min(2 * take, m - pos)
            if grown * max(int(lens[idx_rest[pos + grown - 1]]), 1) > budget:
                break
            take = grown
            if grown == m - pos:
                break
        idx = idx_rest[pos : pos + take]
        pos += take
        sub_lens = lens[idx]
        arr = np.array([sh[i] for i in idx], dtype=np.str_)
        L = max(arr.dtype.itemsize // 4, 1)
        cps = arr.view(np.uint32).reshape(len(idx), L)
        # in-place Horner (scalar multiplier): ~30x faster than the
        # matrix x power-vector form, which drowns in uint64 broadcast
        # temporaries (and on this kernel, in first-touch page faults)
        h = np.zeros(len(idx), dtype=np.uint64)
        for j in range(L):
            h *= P
            h += cps[:, j]
            h += j < sub_lens  # +1 on real positions only
        # cancel the right-padding shift: h_true = h * P^-(L - len)
        ipows = np.ones(L + 1, dtype=np.uint64)
        if L >= 1:
            ipows[1:] = np.uint64(_POLY_PINV)
            np.multiply.accumulate(ipows, out=ipows)
        h *= ipows[L - sub_lens]
        out[idx] = _splitmix64_np(h)
    return out


def hash64_py(s: str) -> int:
    """Scalar reference of _hash_shingles64 (tests / documentation): the
    same codepoint fold + splitmix64 in plain Python integers."""
    h = 0
    for ch in s:
        h = (h * _POLY_P + ord(ch) + 1) % _MOD64
    h ^= h >> 30
    h = (h * _SM64_C1) % _MOD64
    h ^= h >> 27
    h = (h * _SM64_C2) % _MOD64
    return h ^ (h >> 31)


def simhash_series(shingle_lists: pd.Series, bits: int = 64) -> pd.Series:
    """Pure UDF body: shingles → 64-bit SimHash (as signed int64).

    Whole-batch vectorized: flatten every document's shingles into one
    array, pd.factorize so each DISTINCT shingle is hashed once (stop-phrase
    n-grams repeat across most documents of a partition — the round-5 memo
    cache's win, without the dict or its size cap), hash the uniques in one
    vectorized pass, then per-bit segment sums (np.add.reduceat over the
    flattened doc boundaries) give every document's majority vote with no
    per-document Python at all."""
    n_docs = len(shingle_lists)
    counts = np.fromiter(
        ((len(t) if t is not None else 0) for t in shingle_lists),
        dtype=np.int64,
        count=n_docs,
    )
    total = int(counts.sum())
    out = np.empty(n_docs, dtype=object)
    out[:] = None  # empty → NULL, same contract as minhash_signature_series
    if total == 0:
        return pd.Series(out, index=shingle_lists.index)
    flat = np.empty(total, dtype=object)
    pos = 0
    for t in shingle_lists:
        if t is not None and len(t):
            flat[pos : pos + len(t)] = t
            pos += len(t)
    codes, uniques = pd.factorize(flat)
    h = _hash_shingles64(list(uniques))[codes]
    nonempty = counts > 0
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    seg_starts = starts[nonempty]
    n_sh = counts[nonempty]
    uv = np.zeros(len(seg_starts), dtype=np.uint64)
    for b in range(bits):
        bit = ((h >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
        votes = np.add.reduceat(bit, seg_starts)
        uv |= (2 * votes >= n_sh).astype(np.uint64) << np.uint64(b)
    sv = uv.view(np.int64)  # two's-complement reinterpret
    out[nonempty] = [int(x) for x in sv]
    return pd.Series(out, index=shingle_lists.index)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Banding: split the 64 bits into (max_hamming+1) disjoint chunks — a pair
    within the Hamming budget has at most max_hamming differing bits, so at
    least one chunk contains none of them and matches exactly (pigeonhole);
    the bucket join loses nothing. When (max_hamming+1) does not divide 64
    the trailing bits are covered by no chunk — the argument still holds
    (differing bits OUTSIDE the chunks never break a chunk match), so the
    banding stays lossless for any max_hamming <= 63.
    """
    if not 0 <= max_hamming <= 63:
        raise ValueError("max_hamming must be in [0, 63] (64-bit simhash)")
    n_chunks = max_hamming + 1
    chunk_bits = 64 // n_chunks
    # max_hamming=0 → ONE 64-bit chunk: the mask literal (1<<64)-1 would
    # overflow a Java long, and no masking is needed anyway — the chunk IS
    # the whole simhash (exact-simhash-equality dedup).
    full_chunk = chunk_bits == 64
    udf = F.pandas_udf(lambda s: simhash_series(s), LongType())
    # Empty-shingle docs get a NULL simhash; their chunk values are NULL and
    # an equi-join key of NULL matches nothing, so they self-eliminate from
    # candidate generation. The post-checkpoint isNotNull filter just drops
    # their 16 dead explode rows up front (same filter-placement lesson as
    # minhash_lsh_pairs: before the checkpoint it double-evaluates the UDF).
    hashed = (
        with_shingles(df, text_col, id_col, n)
        .select("id", udf(F.col("sh")).alias("sim"))
        .localCheckpoint(eager=False)
        .filter(F.col("sim").isNotNull())
    )

    chunks = hashed.select(
        "id",
        "sim",
        F.posexplode(
            F.array(
                *[
                    F.col("sim")
                    if full_chunk
                    else F.shiftright(F.col("sim"), i * chunk_bits).bitwiseAND(
                        F.lit((1 << chunk_bits) - 1)
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk_idx", "chunk_val"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.sim").alias("sim_a"),
            F.col("y.sim").alias("sim_b"),
        )
        .distinct()
    )
    ham = cand.withColumn(
        "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    )
    return ham.filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_blocked(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via BLOCKED matrix multiply.

    The naive crossJoin ships O(N^2) vector-carrying pair rows; here each
    vector is replicated to its n_blocks block-pair tasks (O(N x B) movement)
    and each task runs ONE BLAS matmul over its two blocks — the standard
    out-of-core GEMM decomposition, expressed as groupBy(block-pair) +
    applyInPandas. Pick n_blocks so a block pair (2N/B vectors x dim floats)
    fits executor memory; results are exact and identical to
    embedding_neardup_pairs.
    """
    # Ship RAW vectors and normalize with numpy inside the task: evaluating a
    # higher-order normalize expression on every replica costs more than the
    # matmul itself (measured).
    from kgtm.session import ensure_min_parallelism

    # fan an under-parallel input out BEFORE the n_blocks replica explode
    # (round 7, guide §2.5): a one-row-group scan would otherwise build and
    # serialize every replica row in a single map task
    raw = ensure_min_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("u"))
    ).select(
        "id",
        "u",
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    js = F.sequence(F.lit(0), F.lit(n_blocks - 1))
    tasks = raw.select("id", "u", "blk", F.explode(js).alias("other")).select(
        "id",
        "u",
        "blk",
        F.least("blk", "other").alias("bi"),
        F.greatest("blk", "other").alias("bj"),
    )

    def compute(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(key[0]), int(key[1])
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
             "cos": pd.Series(dtype="float64")}
        )

        def unit(rows: pd.Series) -> np.ndarray:
            M = np.stack(rows.to_numpy()).astype(np.float64)
            return M / np.linalg.norm(M, axis=1, keepdims=True)

        a = pdf[pdf["blk"] == bi]
        # A task can hold rows from only one of its two blocks (N < n_blocks
        # or hash skew) — np.stack on an empty selection raises, so bail out.
        if len(a) == 0:
            return empty
        ids_a = a["id"].to_numpy()
        A = unit(a["u"])
        if bi == bj:
            M = A @ A.T
            ia, ib = np.nonzero(M >= threshold)
            keep = ids_a[ia] < ids_a[ib]
            id_a, id_b, cos = ids_a[ia][keep], ids_a[ib][keep], M[ia, ib][keep]
        else:
            b = pdf[pdf["blk"] == bj]
            if len(b) == 0:
                return empty
            ids_b = b["id"].to_numpy()
            B = unit(b["u"])
            M = A @ B.T
            ia, ib = np.nonzero(M >= threshold)
            lo = np.minimum(ids_a[ia], ids_b[ib])
            hi = np.maximum(ids_a[ia], ids_b[ib])
            id_a, id_b, cos = lo, hi, M[ia, ib]
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cos": np.round(cos, 6)})

    return tasks.groupBy("bi", "bj").applyInPandas(
        compute, "id_a long, id_b long, cos double"
    )


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity of two array<float/double> columns — JVM expr."""
    return F.expr(
        f"""
        aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS double) * cast(y AS double)),
                  0D, (acc, v) -> acc + v)
        / (sqrt(aggregate({a}, 0D, (acc, v) -> acc + cast(v AS double) * cast(v AS double)))
         * sqrt(aggregate({b}, 0D, (acc, v) -> acc + cast(v AS double) * cast(v AS double))))
        """
    )


def unit_vector_expr(vec: str) -> Column:
    """array<double> = vec / ||vec|| (computed once, reused across pairs)."""
    return F.expr(
        f"""
        transform({vec}, x -> cast(x AS double)
          / sqrt(aggregate({vec}, 0D, (acc, v) -> acc + cast(v AS double) * cast(v AS double))))
        """
    )


def dot_expr(a: str, b: str) -> Column:
    """Dot product of two array<double> columns."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
) -> DataFrame:
    """(id_a, id_b, cos) pairs with cosine >= threshold.

    Brute-force O(n²) formulation — correct baseline; the scale path buckets
    by random-hyperplane signs first (kgtm.similarity.lsh_topk).
    """
    # Pre-normalize each vector ONCE (cast + norm divide), so the quadratic
    # stage computes only a dot product per pair — ~3x fewer flops and no
    # per-pair norm recomputation.
    normed = df.select(
        F.col(id_col).alias("id"), unit_vector_expr(vec_col).alias("u")
    )
    a = normed.select(F.col("id").alias("id_a"), F.col("u").alias("ua"))
    b = normed.select(F.col("id").alias("id_b"), F.col("u").alias("ub"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cos", dot_expr("ua", "ub"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def contamination_pairs(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
    n: int = 5,
    threshold: float = 0.6,
    strategy: str = "auto",
    broadcast_max_flat_rows: int = 8_000_000,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Training-data decontamination: (doc_id, bench_id, containment) for
    every corpus document whose word n-gram overlap COVERS a benchmark item
    — containment = |shingles(doc) ∩ shingles(bench)| / |shingles(bench)|,
    kept when >= threshold. The asymmetric denominator is the point: a long
    document that embeds a short benchmark question verbatim scores 1.0
    regardless of how much other text surrounds it (plain Jaccard would
    dilute it toward 0), which is the standard eval-leakage test for
    pre-training corpora.

    100 TB shape, ``strategy``:
      - "broadcast": the benchmark side is SMALL by nature (eval suites are
        10^4-10^6 items vs 10^9+ docs), so its shingle flat and sizes
        broadcast; the corpus is shingled in one scan and never self-joins —
        the only shuffle is the per-(doc, bench) intersection count over
        rows that actually collide.
      - "shuffle": no size assumption — a plain shuffle join on the shingle
        hash, for the day someone passes a held-out SHARD as "benchmark"
        (round-4 verdict item 5: the broadcast assumption must degrade
        gracefully, not OOM the executors). Pair it with ``max_shingle_df``
        (the hot-shingle cap from the Jaccard operators, applied to BOTH
        flats so numerator and denominator stay consistent): stop-phrase
        shingles shared by both huge sides are exactly the skew that
        explodes a shuffle join. With the cap, containment is computed over
        the capped shingle space (documented approximation — same contract
        as ngram_jaccard_pairs); with ``max_shingle_df=None`` both
        strategies are EXACT and provably identical (parity pytest).
      - "auto" (default): count the benchmark's SHINGLE FLAT once (one
        cheap job on the already-checkpointed small-by-assumption side) and
        pick broadcast when it holds under ``broadcast_max_flat_rows``,
        else shuffle. The gauge is flat rows, not benchmark items: what is
        broadcast is items × n-grams-per-item (bench_id, shingle) rows, so
        an item count would let a million long documents pass the gate and
        OOM the executors — the exact ungraceful failure this parameter
        exists to prevent. 8M flat rows ≈ 128 MB of key data, comfortably
        under executor broadcast budgets.

    Shingles are n-gram DISTINCT sets (flat_shingles), so repeated phrases
    inside one doc count once.
    """
    if strategy not in ("auto", "broadcast", "shuffle"):
        raise ValueError(f"strategy must be auto|broadcast|shuffle, got {strategy!r}")
    # corpus side: ONE consumer (the intersection join) — no checkpoint, the
    # scan stays streaming; benchmark side is consumed twice (join + sizes),
    # so it keeps the default checkpoint
    d_flat = flat_shingles(docs, text_col, id_col, n, checkpoint=False)
    b_flat = flat_shingles(benchmark, bench_text_col, bench_id_col, n).select(
        F.col("id").alias("bench_id"), "shingle"
    )
    if strategy == "auto":
        # b_flat is checkpointed by flat_shingles, so this count runs over
        # materialized rows the join reuses — no duplicated shingling work
        n_flat = b_flat.count()
        strategy = (
            "broadcast" if n_flat <= broadcast_max_flat_rows else "shuffle"
        )
    if max_shingle_df is not None:
        # cap over the COMBINED shingle space so a shingle dropped on one
        # side is dropped on both — |∩| and |shingles(bench)| stay consistent
        combined = d_flat.select("shingle").unionByName(b_flat.select("shingle"))
        hot = (
            combined.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_shingle_df)
            .select("shingle")
        )
        d_flat = d_flat.join(F.broadcast(hot), "shingle", "left_anti")
        b_flat = b_flat.join(F.broadcast(hot), "shingle", "left_anti")
    b_sizes = b_flat.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_b"))
    if strategy == "broadcast":
        b_join, s_join = F.broadcast(b_flat), F.broadcast(b_sizes)
    else:
        b_join, s_join = b_flat, b_sizes
    inter = (
        d_flat.join(b_join, "shingle")
        .groupBy("id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(s_join, "bench_id")
        .withColumn("containment", F.col("n_inter") / F.col("n_b"))
        .filter(F.col("containment") >= threshold)
        .select(
            F.col("id").alias(id_col),
            "bench_id",
            F.round("containment", 6).alias("containment"),
        )
    )
