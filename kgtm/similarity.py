"""Similarity search over embedding columns (array<float>).

  brute_topk — exact cosine top-k: broadcast the (small) query set against
               the corpus; one shuffle for the per-query top-k aggregation.
  lsh_topk   — random-hyperplane LSH buckets (vectorized numpy pandas UDF)
               with multi-probe: exact search within matching buckets only.
               The 100 TB path: the corpus side is hashed once, the join key
               is the bucket code, and no query ever scans the full corpus.

Determinism: hyperplanes come from a seeded numpy Generator; ranking ties
break on neighbor id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType
from pyspark.sql.window import Window

from kgtm.dedup import dot_expr, unit_vector_expr


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(query_id, neighbor_id, cos, rank) — exact top-k by cosine.

    Query side is broadcast (ANN query batches are small relative to the
    corpus); both sides pre-normalized once so the quadratic stage is a pure
    dot product; rank via per-query window with deterministic tie-break.
    """
    q = F.broadcast(
        _compact_query_side(queries).select(
            F.col(id_col).alias("query_id"), unit_vector_expr(vec_col).alias("qv")
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), unit_vector_expr(vec_col).alias("cv")
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", dot_expr("qv", "cv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


#: fixed-point grid for the LSH sign computation: embeddings are quantized
#: to 1e-6 before the plane dot product, so the sign is a pure INTEGER
#: comparison — bitwise identical regardless of summation order, partition
#: layout, or engine (the DuckDB twin replays it exactly). Quantization
#: noise of 5e-7 per coordinate is far below embedding noise; bucketing is
#: approximate by construction.
_LSH_QUANT = 1_000_000


def _rademacher_planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """Deterministic ±1 hyperplanes: component (p, d) takes the sign of the
    top bit of mix64(((seed << 32) + p*dim + d + 1) * GOLDEN) — the same
    splitmix64 stream the minhash family uses, so the DuckDB twin
    (kgtm.oracles.q_ann_lsh_topk) regenerates the identical planes in SQL.
    Rademacher planes are a standard substitute for Gaussian ones in
    sign-LSH (Achlioptas-style sparse/binary projections): the sign of
    <v, r> over ±1 components preserves the cosine-LSH collision geometry.
    """
    from kgtm.dedup import _GOLDEN64, _splitmix64_np

    idx = (
        np.arange(n_planes * dim, dtype=np.uint64)
        + np.uint64(1)
        + (np.uint64(seed) << np.uint64(32))
    )
    z = _splitmix64_np(idx * np.uint64(_GOLDEN64))
    r = np.where((z >> np.uint64(63)) == 1, 1, -1).astype(np.int64)
    return r.reshape(n_planes, dim)


def bucket_codes_series_factory(
    dim: int,
    n_tables: int = 8,
    planes_per_table: int = 6,
    seed: int = 42,
    multiprobe: bool = False,
):
    """Pure UDF body factory: embedding → list of bucket keys.

    Standard multi-table sign-LSH: L independent tables of b hyperplanes.
    Corpus rows get L keys (one per table); query rows with multiprobe get
    L*(b+1) keys (primary + every 1-bit flip per table). Keys are
    (table << b) | code so tables never collide.
    """
    H = _rademacher_planes(dim, n_tables * planes_per_table, seed)
    b = planes_per_table

    def codes(embs: pd.Series) -> pd.Series:
        M = np.stack(embs.to_numpy()).astype(np.float64)  # (rows, dim)
        Q = np.floor(M * _LSH_QUANT + 0.5).astype(np.int64)  # fixed-point
        signs = (Q @ H.T) >= 0  # (rows, L*b) — exact integer signs
        weights = (1 << np.arange(b)).astype(np.int64)
        out_rows = []
        for t in range(n_tables):
            code = signs[:, t * b : (t + 1) * b].astype(np.int64) @ weights
            tagged = (t << (b + 1)) | code
            cols = [tagged[:, None]]
            if multiprobe:
                cols.append(((t << (b + 1)) | (code[:, None] ^ weights[None, :])))
            out_rows.append(np.concatenate(cols, axis=1))
        full = np.concatenate(out_rows, axis=1)
        return pd.Series(list(full.astype(np.int32)))

    return codes


def _compact_query_side(queries: DataFrame) -> DataFrame:
    """coalesce(1) a provably tiny query frame (plan estimate <= 1 MiB).

    Round 7 (guide §4.1, minimize boundary crossings): ANN query batches
    are small by contract, but a query frame sliced from a fanned-out
    corpus inherits its ~12-way partitioning, so every pandas-UDF over it
    pays one Python-worker round-trip per near-empty partition. A
    no-shuffle coalesce of a tiny frame is one cheap task; frames that are
    not provably small pass through untouched (the decision reads the
    plan's byte estimate, not a sandbox constant; an unknown estimate reads
    as Long.MaxValue, which passes the frame through)."""
    size = int(str(queries._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    if size > (1 << 20):
        return queries
    return queries.coalesce(1)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_tables: int = 8,
    planes_per_table: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: exact cosine within LSH bucket candidates only."""
    queries = _compact_query_side(queries)
    dim = len(corpus.select(vec_col).first()[0])
    c_udf = F.pandas_udf(
        bucket_codes_series_factory(dim, n_tables, planes_per_table, seed, False),
        ArrayType(IntegerType()),
    )
    q_udf = F.pandas_udf(
        bucket_codes_series_factory(dim, n_tables, planes_per_table, seed, True),
        ArrayType(IntegerType()),
    )

    # SCALAR-KEY-FIRST shape (measured 5.8x over vector-carrying joins):
    # 1. the bucket join moves only (id, bucket) ints,
    # 2. candidate pairs dedupe as scalars,
    # 3. vectors attach once per surviving pair (queries broadcast; corpus
    #    vector join keyed by neighbor_id).
    c_keys = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(c_udf(F.col(vec_col))).alias("bucket"),
    )
    q_keys = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(q_udf(F.col(vec_col))).alias("bucket"),
    )
    pairs = (
        q_keys.join(c_keys, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), unit_vector_expr(vec_col).alias("qv")
        )
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), unit_vector_expr(vec_col).alias("cv")
    )
    scored = pairs.join(qv, "query_id").join(cv, "neighbor_id").withColumn(
        "cos", dot_expr("qv", "cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


def _quantize_np(M: np.ndarray) -> np.ndarray:
    """Embeddings → the shared 1e-6 fixed-point grid (same contract as the
    LSH sign computation; DuckDB: floor(e::DOUBLE * 1e6 + 0.5))."""
    return np.floor(M.astype(np.float64) * _LSH_QUANT + 0.5).astype(np.int64)


def _unit_fixed(s: np.ndarray) -> np.ndarray:
    """Integer vector(s) → unit vector(s) re-quantized onto the 1e-6 grid.

    Every step is either exact integer arithmetic or a deterministic
    ELEMENTWISE IEEE double op on exactly-agreed integers — no
    order-dependent float accumulation anywhere — so numpy and DuckDB
    produce bit-identical centroids: n2 = sum(s_d^2) exactly in int64,
    nrm = sqrt(double(n2)) (one deterministic int→double rounding), then
    floor(double(s_d)/nrm * 1e6 + 0.5) per component (s_d <= ~3e8 < 2^53,
    so double(s_d) is exact)."""
    s = np.atleast_2d(s)
    n2 = (s * s).sum(axis=1, keepdims=True)  # exact int64
    out = np.zeros_like(s)
    nz = n2[:, 0] > 0
    nrm = np.sqrt(n2[nz].astype(np.float64))
    out[nz] = np.floor(
        s[nz].astype(np.float64) / nrm * _LSH_QUANT + 0.5
    ).astype(np.int64)
    return out


def kmeans_fit(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    max_iter: int = 8,
) -> np.ndarray:
    """Deterministic FIXED-POINT Lloyd's k-means over unit vectors (the IVF
    coarse quantizer). Returns int64 centroids on the 1e-6 grid.

    Round-6 determinism contract: init = the k rows with the smallest
    splitmix64((id+1)*GOLDEN) (SQL-reproducible, unlike xxhash64; ties by
    id), assignment = argmax of the INTEGER dot <quantized vec, quantized
    unit centroid> (ties to the smallest centroid index), update = integer
    member-sums re-unitized via _unit_fixed. Because every accumulation is
    integer (order-free) and every float op is elementwise-deterministic,
    the whole quantizer is bitwise-reproducible across partitionings,
    cluster sizes, AND engines — the DuckDB twin (kgtm.oracles
    q_ann_ivf_topk) replays all iterations exactly. Cells that lose all
    members (or sum to zero) keep their previous centroid.

    Per iteration: ONE pass assigning + partial-summing per (cluster, dim) —
    the driver only ever holds k x dim ints. Same driver-loop skeleton as
    connected components.
    """
    from kgtm.dedup import _GOLDEN64, _splitmix64_np

    @F.pandas_udf("long")
    def _mix_id(ids: pd.Series) -> pd.Series:
        z = _splitmix64_np(
            (ids.to_numpy().astype(np.uint64) + np.uint64(1))
            * np.uint64(_GOLDEN64)
        )
        return pd.Series((z >> np.uint64(1)).view(np.int64))

    init_rows = (
        corpus.select(
            F.col(vec_col).alias("v"),
            F.col(id_col).alias("i"),
            _mix_id(F.col(id_col)).alias("h"),
        )
        .orderBy("h", "i")
        .limit(k)
        .collect()
    )
    C = _unit_fixed(
        _quantize_np(np.stack([np.array(r.v, dtype=np.float64) for r in init_rows]))
    )

    from pyspark.sql.types import IntegerType

    for _ in range(max_iter):
        Cb = C  # captured by the UDF closure (broadcast via task serialization)

        @F.pandas_udf(IntegerType())
        def assign(vs: pd.Series) -> pd.Series:
            Q = _quantize_np(np.stack(vs.to_numpy()))
            # int64 matmul: exact; np.argmax ties to the smallest index
            return pd.Series(np.argmax(Q @ Cb.T, axis=1).astype(np.int32))

        @F.pandas_udf(ArrayType(LongType()))
        def quant(vs: pd.Series) -> pd.Series:
            return pd.Series(list(_quantize_np(np.stack(vs.to_numpy()))))

        sums = (
            corpus.select(
                assign(F.col(vec_col)).alias("c"), quant(F.col(vec_col)).alias("q")
            )
            .select("c", F.posexplode("q").alias("dim", "x"))
            .groupBy("c", "dim")
            .agg(F.sum("x").alias("s"))
            .collect()
        )
        newC = C.copy()
        by_c: dict[int, dict[int, int]] = {}
        for r in sums:
            by_c.setdefault(r.c, {})[r.dim] = r.s
        for c, dims in by_c.items():
            vec = np.array([dims[d] for d in sorted(dims)], dtype=np.int64)
            u = _unit_fixed(vec)[0]
            if u.any():
                newC[c] = u
        C = newC
    return C


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer, queries probe their
    nprobe nearest centroid cells, exact cosine within the probed cells only.

    The 100 TB shape: corpus is assigned once (a write-time partitioning in
    production), each query touches nprobe/n_centroids of the corpus.
    """
    queries = _compact_query_side(queries)
    C = kmeans_fit(corpus, vec_col, id_col, k=n_centroids)

    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(IntegerType())
    def assign1(vs: pd.Series) -> pd.Series:
        # integer dot against the fixed-point unit centroids — exact, so the
        # cell partitioning is bitwise-reproducible (and SQL-replayable)
        Q = _quantize_np(np.stack(vs.to_numpy()))
        return pd.Series(np.argmax(Q @ C.T, axis=1).astype(np.int32))

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe(vs: pd.Series) -> pd.Series:
        Q = _quantize_np(np.stack(vs.to_numpy()))
        # stable argsort: ties probe the smaller cell index first, matching
        # the SQL twin's ORDER BY dot DESC, cell ASC
        order = np.argsort(-(Q @ C.T), axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    # Same scalar-key-first shape as lsh_topk: the cell join carries ints
    # only; vectors attach once per surviving candidate pair.
    c_keys = corpus.select(
        F.col(id_col).alias("neighbor_id"), assign1(F.col(vec_col)).alias("cell")
    )
    q_keys = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(probe(F.col(vec_col))).alias("cell"),
    )
    pairs = (
        q_keys.join(c_keys, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), unit_vector_expr(vec_col).alias("qv")
        )
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), unit_vector_expr(vec_col).alias("cv")
    )
    scored = pairs.join(qv, "query_id").join(cv, "neighbor_id").withColumn(
        "cos", dot_expr("qv", "cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


def recall_at_k(approx: DataFrame, exact: DataFrame) -> float:
    """Fraction of exact top-k pairs recovered by the approximate search."""
    hit = approx.select("query_id", "neighbor_id").intersect(
        exact.select("query_id", "neighbor_id")
    )
    total = exact.count()
    return hit.count() / total if total else 1.0
