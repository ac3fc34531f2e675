"""Canonicalization: connected components, labelled by component minimum.

Generalizes the reference's "first ladder hit canonicalizes the path"
write-back (/root/reference/ontologytimemachine/utils/proxy_logic.py:111-141)
to a transitive closure: surface forms that link to the same ontology — or to
each other through shared mentions — collapse to one canonical id (the
component's minimum label).

One operator, two plans, chosen on the size of the edge set:

  * **small graph** (at most ``session.LITERAL_MAX_ROWS`` distinct edges —
    the near-dup pair graphs and entity-link graphs kgtm builds): the edges
    are collected and closed by union-find on the driver, the smaller root
    always winning, so every root is its set's minimum. The labels come back
    as a typed plan literal (LocalRelation), the same row cap as the dim
    literal fold, and no shuffle round runs at all.
  * **large graph**: two-phase large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"), O(log n) rounds
    regardless of component diameter — near-dup clusters are often chains.

Both plans start from ONE eager ``localCheckpoint`` of the loop-free,
deduplicated edges, so the caller's edge plan (a pair join) runs exactly
once; the driver plan decides on the checkpoint's exact row count (a byte
estimate of a join's output says little about its rows).

Scale notes for the star plan (SURVEY.md §4 item 2):
  * ``localCheckpoint`` every round truncates lineage — without it the plan
    doubles per round and the driver OOMs planning round ~15.
  * convergence is one job per round: a symmetric-difference probe of the
    old and new (distinct) edge sets, not a collect of labels.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from kgtm import session


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> tuple[DataFrame, int]:
    """edges(src, dst) → ((node, component), rounds), component = min node.

    Node ids must be orderable (string or numeric); both columns share the
    edge columns' type. Every node of a non-self-loop edge appears once;
    self-loops and duplicate or reversed edges change nothing. ``rounds`` is
    0 when the graph was closed on the driver, else the number of star
    rounds. Raises RuntimeError when the star plan has not converged after
    ``max_iter`` rounds (a silent return would split components).

    large-star: per node u, attach every LARGER neighbor to
        m = min(Γ(u) ∪ {u});
    small-star: per node u, attach every neighbor ≤ u (and u) to m.
    Fixpoint: the edge set is a star forest rooted at component minima.
    """
    cur = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = cur.select(F.col("a").alias("node")).union(cur.select(F.col("b").alias("node")))
    node = nodes.schema["node"]

    cap = session.LITERAL_MAX_ROWS
    rows = cur.limit(cap + 1).collect()
    if len(rows) <= cap:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in rows:
            ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        labels = [(n, find(n)) for n in parent]
        schema = StructType(
            [StructField(c, node.dataType, node.nullable) for c in ("node", "component")]
        )
        table = pa.table(
            {"node": [n for n, _ in labels], "component": [c for _, c in labels]}
        )
        return cur.sparkSession.createDataFrame(table, schema=schema), 0

    # keep every node visible even if its edges become self-loops later
    all_nodes = nodes.distinct().localCheckpoint(eager=True)

    def neighborhood_min(und: DataFrame) -> DataFrame:
        return und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))

    for rounds in range(1, max_iter + 1):
        # ---- large-star ----
        und = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        large = (
            und.join(neighborhood_min(und), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # ---- small-star ----
        und2 = large.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        ).filter(F.col("u") != F.col("v"))
        mins2 = neighborhood_min(und2)
        small = (
            und2.join(mins2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mins2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # both are distinct edge sets: an edge in exactly one of them is the
        # symmetric difference
        changed = (
            cur.unionByName(small)
            .groupBy("a", "b")
            .count()
            .filter(F.col("count") == 1)
            .limit(1)
            .count()
        )
        cur = small
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge after {max_iter} star "
            "round(s); raise max_iter"
        )

    # star forest → labels; isolated-after-contraction nodes label themselves
    labels = cur.select(F.col("a").alias("node"), F.col("b").alias("component"))
    return (
        all_nodes.join(labels, "node", "left").select(
            "node", F.coalesce("component", "node").alias("component")
        ),
        rounds,
    )


def canonical_entities(linked: DataFrame) -> DataFrame:
    """Collapse surface forms via shared ontology links.

    Edges: surface ↔ ontology_iri for linked mentions. Two different surface
    forms of the same ontology end up in one component whose canonical id is
    the min label; by construction ontology IRIs sort deterministically, and
    the component label for a linked cluster is stable across runs.

    Returns (surface, canonical_id).
    """
    edges = (
        linked.filter(F.col("is_linked"))
        .select(F.col("surface").alias("src"), F.col("ontology_iri").alias("dst"))
        .distinct()
    )
    comps, _ = connected_components(edges)
    return (
        linked.select("surface")
        .distinct()
        .join(comps, F.col("surface") == F.col("node"), "left")
        .select(
            "surface",
            F.coalesce(F.col("component"), F.col("surface")).alias("canonical_id"),
        )
    )
