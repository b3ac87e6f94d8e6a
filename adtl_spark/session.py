"""SparkSession factory tuned for the adtl_spark engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions sized to cores (not the 200 default), AQE enabled for runtime
coalescing/skew handling, Arrow enabled for the (rare) pandas-UDF paths.

On a real cluster the same builder works unchanged — only ``master`` and the
memory settings come from the environment instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "adtl_spark", cpus: int | None = None) -> SparkSession:
    """Return (or create) a SparkSession with engine-appropriate defaults.

    ANSI mode is disabled: the adtl data model is permissive — a failed cast
    yields null/passthrough, never a job abort (reference behaviour:
    src/adtl/get_value.py:163-170, src/adtl/util.py:29-40).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescer picks max(shuffle_bytes/parallelism, minPartitionSize)
        # as the target partition size.  The 1 MiB default collapses small
        # shuffles to 1-2 partitions, serializing every post-shuffle compute
        # stage; 16 KiB keeps those stages on all cores.  At scale
        # bytes/parallelism dominates the max() and this setting is inert.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # delete a reliable checkpoint's files once its RDD is garbage
        # (see cut); without it they stay for the life of the checkpoint dir
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # generated classes are cached JVM-wide, 100 by default; a cache
        # smaller than a workload's working set recompiles every class on
        # every pass.  Measured cold compiles: ~231 classes per
        # registry_ops pass, ~81 per study pass, ~3,490 for one pass over
        # all 259 registry queries at sf0.001.  8192 holds twice that
        # sweep, so bench.py's untimed warm phase stays cached for its
        # timed phase.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def scan_parallel(df, factor: int = 2, by=None, barrier: bool = False):
    """Spread a low-split source across every core.

    Parquet assigns each row group to one input split, so a file with a
    single row group — every local test file — scans on ONE task, and every
    narrow operator fused onto the scan (the engine's regex-heavy row stage,
    shingling, tokenization) runs single-threaded no matter how many cores
    the session has.  When the scan's split count is under half the default
    parallelism, insert one repartition (a cheap exchange of the scan
    output) so downstream per-row compute uses the whole machine.

    On a many-file / many-row-group dataset — the 100 TB case — the scan
    already has thousands of splits, the condition is false, and this is a
    no-op: no extra exchange ever appears in an at-scale plan.

    Round-robin repartition pays a defensive per-partition sort
    (sortBeforeRepartition, for deterministic retries); passing a unique
    ``by`` column switches to hash partitioning, which is retry-stable by
    construction and skips that sort.

    ``barrier=True`` additionally ``persist()``s the repartitioned scan,
    making it an optimizer barrier (predicates are planned on top of the
    InMemoryRelation, never through it).  Needed when the CONSUMER will
    *filter on a computed column*: ``PushDownPredicates`` moves
    deterministic filters straight through a repartition exchange, so
    e.g. a quality-score filter would execute inside the single-split
    scan stage on ONE task — measured 30x slower than the post-exchange
    stage it was meant to run in.  The cache costs one materialization of
    the scan (~1 s on local test data), so it is opt-in rather than
    default; pure-projection consumers never need it (projections do not
    sink through the exchange).  The CALLER owns the release —
    ``unpersist()`` the returned frame once its consumers have
    materialized, or the cache leaks across queries in a long-lived
    session.  At scale the split-count condition is false, nothing
    happens, and filter pushdown into the scan stays — there it is the
    RIGHT behaviour (early skipping in a thousand-split scan).
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    # File count is the split estimate: cheap (logical-plan file listing,
    # no RDD conversion — df.rdd would build and analyze the physical plan
    # on every table load, a real cost against a 100 TB catalog).  It
    # lower-bounds the true split count (maxPartitionBytes may split large
    # files further), so the only error direction is an occasional
    # harmless repartition of an already-parallel few-big-files scan; the
    # many-file at-scale case stays a guaranteed no-op.  Non-file sources
    # (local/in-memory relations) report no files and keep whatever
    # parallelism their source gave them.
    n_files = len(df.inputFiles())
    if n_files == 0:
        return df
    if n_files * factor <= target:
        rep = df.repartition(target, by) if by is not None else df.repartition(target)
        return rep.persist() if barrier else rep
    return df


# Lineage-cut strategy for every materialization point in the engine.
# cut() is the one place a cut is made.  Default "false" uses
# localCheckpoint: blocks live on executors only — fastest, but not
# fault-tolerant; on a real cluster one lost executor makes every
# truncated lineage unrecoverable and fails the job.  That suits local
# mode and rerun-on-loss batch jobs, not multi-hour 100 TB runs: set
# spark.adtl.reliableCheckpoint=true and give the context a durable
# checkpoint dir (spark.sparkContext.setCheckpointDir on HDFS/object
# store), and every cut writes a reliable checkpoint() instead, so each
# cut survives executor loss.
RELIABLE_CKPT_CONF = "spark.adtl.reliableCheckpoint"


class CheckpointDirNotSetError(RuntimeError):
    """Reliable cuts are on but the context has no checkpoint directory."""


def cut(df):
    """Cut ``df``'s lineage eagerly: ``localCheckpoint()`` by default,
    reliable ``checkpoint()`` when RELIABLE_CKPT_CONF is true (see the
    conf comment above for the fault-tolerance trade)."""
    session = df.sparkSession
    if session.conf.get(RELIABLE_CKPT_CONF, "false").lower() == "true":
        if session.sparkContext.getCheckpointDir() is None:
            raise CheckpointDirNotSetError(
                f"{RELIABLE_CKPT_CONF}=true needs a checkpoint directory: "
                "call spark.sparkContext.setCheckpointDir(<durable path>) "
                f"first, or unset {RELIABLE_CKPT_CONF}"
            )
        return df.checkpoint()
    return df.localCheckpoint()


def cut_and_release(result, caches):
    """``cut(result)``, then ``unpersist()`` every frame in ``caches``.

    persist() without a matching unpersist leaks executor memory across
    queries in a long-lived session, but a cache can only go once nothing
    will recompute through it: the cut materializes ``result`` off the
    cached intermediates first.  Callers pass a result much smaller than
    the inputs (a pair list, a summary, a top-k), so the cut is cheap.
    The caches are released even when the cut fails."""
    try:
        return cut(result)
    finally:
        for c in caches:
            c.unpersist()


def configure_for_engine(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine semantics to an externally-owned session.

    Used when the driver hands us its own SparkSession (the __spark_entry__
    contract): permissive casts + UTC rendering are required for adtl
    semantics; both are runtime-mutable SQL confs.

    ``spark.cleaner.referenceTracking.cleanCheckpoints``, which
    ``get_spark`` sets so that reliable cuts delete their files once
    unreferenced, is a static conf: it cannot be set here, and an
    externally-owned session keeps whatever its owner chose.  So is
    ``spark.sql.codegen.cache.maxEntries``, which ``get_spark`` raises to
    8192 so that warm passes reuse their generated classes: such a
    session keeps its owner's cap (Spark's default is 100), and a working
    set larger than the cap recompiles its classes on every pass.
    """
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # keep post-shuffle stages parallel on small data (see get_spark)
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k"
    )
    return spark
