"""Graph-shaped materializations over the triple store.

The north_rule's "graph materialize" leg beyond the flat triple table:
adjacency/degree views (what a KG consumer actually queries), dictionary
snapshot diffs (the A1 change-detection semantics lifted from file hash to
row set), and mention context windows (the provenance slice a KG curator
reads when auditing a triple).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def entity_degrees(triples: DataFrame) -> DataFrame:
    """Per-entity degree view: in/out degree, distinct out-predicates, and
    distinct conversations the entity appears in (EITHER role — a true
    distinct over the union, not a per-direction max).

    One exploded-role pass → ONE shuffle on entity (count_distinct runs as a
    partial-aggregatable expand under the same exchange).
    """
    roles = triples.select(
        F.col("subj").alias("entity"),
        F.lit(True).alias("is_out"),
        "pred",
        "conv_id",
    ).unionByName(
        triples.select(
            F.col("obj").alias("entity"),
            F.lit(False).alias("is_out"),
            "pred",
            "conv_id",
        )
    )
    return roles.groupBy("entity").agg(
        F.count(F.when(F.col("is_out"), 1)).alias("out_degree"),
        F.count(F.when(~F.col("is_out"), 1)).alias("in_degree"),
        F.count_distinct(F.when(F.col("is_out"), F.col("pred"))).alias("n_preds_out"),
        F.count_distinct("conv_id").alias("n_convs"),
    )


def adjacency_lists(triples: DataFrame, max_neighbors: int = 1000) -> DataFrame:
    """Per-subject sorted adjacency (pred, obj) list, capped and logged.

    The cap bounds row width for super-nodes (a hot entity with 10^8
    neighbors would otherwise build an unmanageable array state); truncation
    is recorded so consumers can tell capped rows apart.
    """
    return triples.groupBy("subj").agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("pred", "obj"))), 1, max_neighbors
        ).alias("neighbors"),
        F.count(F.lit(1)).alias("degree"),
        (F.count(F.lit(1)) > max_neighbors).alias("truncated"),
    )


def index_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Dictionary snapshot diff: (change ∈ {added, removed}, ontology_iri).

    The row-set lift of the reference's SHA-256 file change detection
    (download_archivo_urls.py:41-46,65-74): instead of "something changed,
    reload everything", emit exactly what changed — the input to an
    incremental re-link of only affected mentions.
    """
    o = old.select("ontology_iri", "host", "path")
    n = new.select("ontology_iri", "host", "path")
    added = n.exceptAll(o).select(F.lit("added").alias("change"), "ontology_iri")
    removed = o.exceptAll(n).select(F.lit("removed").alias("change"), "ontology_iri")
    return added.unionByName(removed)


def mention_contexts(
    transcripts: DataFrame, linked: DataFrame, n_before: int = 1, n_after: int = 1
) -> DataFrame:
    """Provenance slice per linked mention: the turn text ± its neighbors.

    lag/lead over the conversation window — ONE shuffle on conv_id; the
    mention join is on (conv_id, turn_idx) and stays co-partitioned with it.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ctx = transcripts.select(
        "conv_id",
        "turn_idx",
        F.lag("text", n_before).over(w).alias("prev_text"),
        F.col("text").alias("turn_text"),
        F.lead("text", n_after).over(w).alias("next_text"),
    )
    return (
        linked.filter(F.col("is_linked"))
        .select("conv_id", "turn_idx", "surface", "ontology_iri")
        .join(ctx, ["conv_id", "turn_idx"])
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "subj",
    dst_col: str = "obj",
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """(node, rank): entity salience over the triple graph — power-iteration
    PageRank with parallel edges as weight (an entity asserted about twice
    pulls twice the mass) and full dangling-mass redistribution, so ranks
    sum to 1 every iteration.

    The salience ranking a KG consumer sorts entities by; no native Spark
    equivalent (GraphX is RDD/Scala-only), so this is the DataFrame-native
    formulation:

      rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)/outdeg(u) + dangling/N)

    Scale shape (per iteration): ONE shuffle join of the edge table with the
    current rank vector on src (both sides re-partition on the same key, AQE
    splits skewed hot-source partitions) + ONE groupBy(dst) with map-side
    combine — a super-node receiving 10^8 edges arrives pre-summed per
    upstream partition. The dangling mass and N are one-row aggregates
    folded in as broadcast scalars (never a driver collect); each iteration
    ends in an EAGER localCheckpoint (same lineage-cut discipline as the
    star rounds of canonicalize.connected_components — 10 iterations would
    otherwise stack a 10-deep join lineage into one giant plan).

    Determinism note: float summation order varies with partitioning, so
    ranks are reproducible to ~1e-12 relative, not bit-for-bit — the pytest
    twin (numpy power iteration on the same edge list) compares at 1e-9.
    """
    if not (0.0 <= damping <= 1.0):
        raise ValueError(f"damping must be in [0, 1]: {damping}")
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0: {n_iter}")
    # NULL endpoints would leak rank mass every iteration (non-null-safe
    # joins route their share to a phantom node that never joins back), so
    # they are excluded up front; eager checkpoint so the upstream plan
    # (e.g. the full triple pipeline) runs ONCE, not once per iteration.
    e = (
        edges.select(
            F.col(src_col).cast("string").alias("src"),
            F.col(dst_col).cast("string").alias("dst"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_total = nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    outw = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("_outw")
    )
    # rank vector carries its out-weight (NULL for dangling nodes) so the
    # per-iteration join count stays at one
    ranks = (
        nodes.join(outw, "node", "left")
        .crossJoin(F.broadcast(n_total))
        .select("node", (F.lit(1.0) / F.col("_n")).alias("rank"), "_outw")
        .localCheckpoint(eager=True)
    )
    for _ in range(n_iter):
        in_mass = (
            e.join(ranks, e["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("_outw")).alias("m"))
            .groupBy("dst")
            .agg(F.sum("m").alias("_in"))
        )
        dangling = ranks.filter(F.col("_outw").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling")
        )
        ranks = (
            ranks.join(in_mass, ranks["node"] == in_mass["dst"], "left")
            .crossJoin(F.broadcast(n_total))
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    (F.lit(1.0) - F.lit(damping)) / F.col("_n")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_in"), F.lit(0.0))
                        + F.col("_dangling") / F.col("_n")
                    )
                ).alias("rank"),
                "_outw",
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", "rank")


def negative_samples(
    triples: DataFrame,
    k: int = 4,
    pool_size: int = 65536,
    salt: str = "negsamp",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Deterministic FILTERED negative sampling for KG-embedding training
    (TransE-family: Bordes et al. 2013): for every complete (subj, pred,
    obj) triple, up to ``k`` corrupted copies — head or tail replaced by a
    pool entity — with any corruption that collides with a TRUE triple
    dropped (Bernoulli-side filtered sampling, the standard training-set
    recipe). Everything is a pure hash function of (triple, draw index,
    salt), so the sample is reproducible across runs, partitionings, and
    engines (the DuckDB twin replays it bit-for-bit).

    Draw contract (shared 32-bit md5 idiom, kgtm.mixture.hash32_col):
    draw = first 32 bits of md5(subj\\x1fpred\\x1fobj\\x1f{i}:{salt});
    parity picks the corrupted side (even → subj, odd → obj); draw >> 1
    mod pool-count picks the replacement from the entity pool. The pool is
    the ``pool_size`` entities with the smallest (md5(entity), entity) —
    a distributed TakeOrderedAndProject (never a global sort of the
    entity set); its dense index is a row_number window over the LIMITed
    frame, bounded by pool_size rows (the k-means-centroid-table pattern —
    a deliberate small-side sort, broadcast afterwards).

    Scale shape (10^12 triples): the positives explode x k and everything
    per-row is codegen; the pool joins in as a BROADCAST hash join on the
    dense index; the one real shuffle is the final left_anti join against
    the true-triple set on (neg_subj, pred, neg_obj). Triples with a NULL
    endpoint (the extraction layer emits them; pagerank excludes them too)
    carry no corruption signal and are filtered out up front.
    """
    from kgtm.mixture import hash32_col

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if pool_size < 2:
        raise ValueError(f"pool_size must be >= 2, got {pool_size}")
    t = triples.select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("pred"),
        F.col(obj_col).alias("obj"),
    ).filter(
        F.col("subj").isNotNull()
        & F.col("pred").isNotNull()
        & F.col("obj").isNotNull()
    )
    ents = (
        t.select(F.col("subj").alias("entity"))
        .unionByName(t.select(F.col("obj").alias("entity")))
        .distinct()
    )
    limited = ents.orderBy(F.md5("entity"), "entity").limit(pool_size)
    pool = limited.select(
        "entity",
        (
            F.row_number().over(
                Window.orderBy(F.md5("entity"), "entity")
            )
            - 1
        ).alias("pool_idx"),
    )
    n_pool = pool.agg(F.count(F.lit(1)).alias("_n_pool"))

    key = F.concat_ws(
        "\x1f", "subj", "pred", "obj", F.col("sample_idx").cast("string")
    )
    drawn = (
        t.select(
            "subj",
            "pred",
            "obj",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("sample_idx"),
        )
        .select("*", hash32_col(key, salt).alias("_draw"))
        .crossJoin(F.broadcast(n_pool))
        .select(
            "subj",
            "pred",
            "obj",
            "sample_idx",
            F.when(F.pmod("_draw", F.lit(2)) == 0, F.lit("subj"))
            .otherwise(F.lit("obj"))
            .alias("side"),
            F.pmod(F.shiftright("_draw", 1), F.col("_n_pool")).alias("pool_idx"),
        )
    )
    neg = (
        drawn.join(F.broadcast(pool), "pool_idx")
        .select(
            "subj",
            "pred",
            "obj",
            "sample_idx",
            "side",
            F.when(F.col("side") == "subj", F.col("entity"))
            .otherwise(F.col("subj"))
            .alias("neg_subj"),
            F.when(F.col("side") == "obj", F.col("entity"))
            .otherwise(F.col("obj"))
            .alias("neg_obj"),
        )
    )
    return neg.join(
        t.select(
            F.col("subj").alias("neg_subj"),
            "pred",
            F.col("obj").alias("neg_obj"),
        ),
        ["neg_subj", "pred", "neg_obj"],
        "left_anti",
    ).select("subj", "pred", "obj", "sample_idx", "side", "neg_subj", "neg_obj")
