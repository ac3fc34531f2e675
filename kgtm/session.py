"""SparkSession factory tuned for the KG-construction pipeline.

Defaults are chosen for the sandbox (single JVM, local[N]) but every knob is the
one you would also set on a real multi-executor cluster: AQE on (runtime
re-planning + skew-join splitting), Arrow enabled for pandas UDFs, a broadcast
threshold large enough that the compact ontology-snapshot dictionary always
broadcasts, and shuffle partitions sized to the core count rather than the 200
default (at 100 TB you would size this to ~2-3x total cores and let AQE
coalesce).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "kgtm",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores``: explicit local[N] parallelism (used by the two-cluster-size
    scaling bench, local[8] vs local[32]); default honours
    ``$SPARK_GRAFT_CPUS`` then falls back to ``local[*]``.
    """
    if cores is None:
        env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env_cpus}]" if env_cpus else "local[*]"
    else:
        master = f"local[{cores}]"

    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
        # this is what turns a skewed 1000-way shuffle into a balanced one.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Round 7 (guide §2.2/§2.5): AQE's parallelism-first coalescing
        # floors post-shuffle partitions at minPartitionSize (default 1 MB).
        # For expression-heavy stages after a SMALL shuffle that floor
        # serializes the work onto 2-5 tasks (a 3 MB exchange -> 3 tasks for
        # the window/text/probe pipeline above it); 256 KB keeps those
        # stages parallel while still amortizing task launch thousands of
        # times over. The knob only binds when coalescing would otherwise
        # create sub-256 KB partitions — i.e. small shuffles, where finer
        # partitions ARE the parallelismFirst intent; at production scale
        # partitions are advisory-sized (MBs-GBs) and this has no effect.
        # Measured (5-rep medians, sf0.1): resolution_outcomes 0.91->0.49,
        # flagship_triples 0.77->0.33, failover 1.04->0.63, relink
        # 0.65->0.48, turn_assembly 0.59->0.47.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("KGTM_AQE_MIN_PARTITION", "256k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas UDF / mapInPandas stage (zero per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # The ontology dictionary/snapshot tables are ≤ a few MB even at 10^6
        # ontologies — always broadcast them instead of shuffling the fact side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("KGTM_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: Row cap of the literal fold: a dim with more rows than this keeps its
#: broadcast-join plan (a map literal that size bloats the plan; Archivo
#: itself is 1,816 entries).
LITERAL_MAX_ROWS = 4096


def local_literal_rows(df, cols: list[str], max_rows: int = LITERAL_MAX_ROWS):
    """The rows of ``df.select(*cols)`` when its optimized plan is a
    driver-local literal (LocalRelation) of at most ``max_rows`` rows; None
    otherwise.

    This is the only guard of the literal fold (kgtm.link / kgtm.resolve): a
    dim that is ALREADY a plan literal can be folded into consumer plans as
    a :func:`map_literal` — zero joins, zero broadcast builds, zero dim-side
    stages. Anything that is not provably local and small (a parquet-backed
    dictionary, an RDD-parallelized frame, a big inline table) returns None
    and the caller keeps its broadcast-join plan, so at production
    dictionary scale the decision flips automatically (derived from the
    actual plan, never a constant tuned to one machine). A missing column
    raises, exactly as it would on the join path.
    """
    proj = df.select(*cols)
    plan = proj._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation":
        return None
    if plan.data().size() > max_rows:
        return None
    return proj.collect()  # LocalTableScan: driver-side, no tasks


def map_literal(d: dict, dtype: MapType) -> Column:
    """``d`` as ONE map literal of type ``dtype``: nested dicts become maps,
    tuples become structs (fields by position).

    The cast pins the type the broadcast path's dim column has, so the
    literal and join plans agree by construction: an all-NULL field stays
    typed (a bare ``F.lit(None)`` is void) and an empty dict is a typed
    empty map. The whole tree is foldable, so the optimizer collapses it to
    a single Literal."""

    def lit(v) -> Column:
        if isinstance(v, dict):
            return F.create_map(*[x for k, w in v.items() for x in (lit(k), lit(w))])
        if isinstance(v, tuple):
            return F.struct(*map(lit, v))
        return F.lit(v)

    return lit(d).cast(dtype)


#: ensure_min_parallelism sizing: one task per this many input bytes for
#: expression-heavy text work (shingling/gram digests process ~1-2 MB/s/core,
#: so 64 KB ≈ tens of ms per task — big enough to amortize task launch,
#: small enough that a 600 KB fixture still gets ~9-way parallelism).
#: Only relevant in the under-parallel regime: any input whose scan already
#: carries >= the session's parallelism is returned unchanged.
_BYTES_PER_TEXT_TASK = 64 * 1024


def ensure_min_parallelism(df):
    """Round-robin repartition an under-parallel ``df`` to a size-derived
    task count; unchanged when the plan already has enough partitions (then
    NO extra exchange exists at production scale — the decision derives
    from the actual plan).

    Round 7 (guide §2.5 input skew, measured): a one-row-group parquet
    fixture scans as ONE task, and everything pipelined into that stage —
    shingling, gram digests, signature UDFs, and even the PROBE side of a
    downstream AQE-broadcast join — runs serially on one core (event-log
    stage profile: 0.47 s + 0.89 s single-task stages inside a 1.4 s
    ngram_jaccard run). The target is sized from the plan's byte estimate,
    NOT blindly to the core count: a measured sweep at sf0.1 gave 1.21 s
    (8-way) vs 2.08 s (serial) vs 3.60 s (64-way — per-task scheduling
    overhead dominates tiny partitions). An unknown size estimate reads as
    Long.MaxValue, which gives the session's parallelism. Callers
    repartition the narrow (id, text) projection so only needed columns
    cross the exchange (guide §2.3)."""
    para = df.sparkSession.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    if n >= para:
        return df
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    target = max(1, min(para, -(-size // _BYTES_PER_TEXT_TASK)))
    if n >= target:
        return df
    return df.repartition(target)


def fan_out_small_scan(df):
    """ensure_min_parallelism for a scan consumed by several subtrees: the
    same size-derived fan-out, plus a lazy localCheckpoint when it
    repartitions; NO-OP when the scan is already parallel.

    Why (round 7, guide §2.5 input skew): a one-row-group parquet file scans
    as ONE task no matter the split config, so every expression pipelined
    into the scan stage — shingling, quality regexes, digesting — runs
    serially on one core. The size-derived task count (not the core count)
    keeps downstream pandas-UDF stages off near-empty partitions (measured:
    32-way fan-out of the 2,000-row embedding fixture costs ~0.33 s per UDF
    stage in 32 worker round-trips; the 64 KB/task sizing gives ~12
    partitions and the same serial-escape).
    """
    out = ensure_min_parallelism(df)
    if out is df:
        return df
    # lazy checkpoint: operators consume their input table from several
    # subtrees (curation: scoring + digesting + shingling); without it every
    # consumption re-runs the scan+repartition exchange as its own AQE query
    # stage (~0.2 s of scheduling each at this scale). Materializes on first
    # use — inside any timed region, per the bench protocol.
    return out.localCheckpoint(eager=False)
