"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same configs are the
ones we would ship to a 1000-executor cluster (AQE on, skew-join handling,
sane shuffle partitioning, Arrow for the few Pandas-UDF paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Largest default driver heap; a bigger one is set explicitly.
_MAX_DRIVER_HEAP = 16 << 30
# cgroup v2 and v1 memory limits; "max" (v2) or a huge number (v1) means none.
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def usable_memory_bytes(cgroup_files=_CGROUP_MEMORY_LIMITS) -> int:
    """Memory this process may use: physical RAM, lowered by any numeric
    cgroup memory limit."""
    usable = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in cgroup_files:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            usable = min(usable, int(limit))
    return usable


def driver_memory(env=os.environ, usable_bytes: int | None = None) -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM`` when set, else
    min(16g, half the memory this process may use)."""
    explicit = env.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit
    if usable_bytes is None:
        usable_bytes = usable_memory_bytes()
    heap = usable_bytes // 2
    if heap >= _MAX_DRIVER_HEAP:
        return f"{_MAX_DRIVER_HEAP >> 30}g"
    return f"{heap >> 20}m"


def get_spark(app_name: str = "biodiversity-graph-db-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # UTC so timestamp semantics match the DuckDB oracle (UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # ~1 shuffle partition per core locally; on a real cluster this is
        # sized by AQE's advisory target instead of a static number.
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # AQE sort-merge -> shuffled-hash rewrite (guide §3.1, r13):
        # convert ONLY when every post-shuffle map partition is below
        # this threshold, i.e. the per-partition hash build is bounded
        # at the advisory partition size — the size guard, not a blind
        # preferSortMergeJoin flip, so a skewed or huge join keeps the
        # spill-safe SMJ.  Static plans (and their pins) are unchanged;
        # the rewrite happens at runtime.  Measured on the SMJ-bearing
        # bench queries (same-session alternating A/B, outputs
        # identical): Q5 1.18x, V20 1.22x, G17 1.23x, D10 1.13x,
        # SD2 1.12x, rest flat within noise.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", "64m"),
        )
        # Arrow transfer for pandas_udf / applyInPandas / toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast anything under 64 MB — dims here (region, nation,
        # supplier, part, the 14k-row time index) are all far below this.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Heap sized to the host: min(16g, half the usable memory).  The
        # other half is headroom for the JVM's off-heap memory (~1.7 GB in
        # the test session), the PySpark/Arrow Python workers and the
        # calling Python process; a heap as large as the host lets the JVM
        # grow until the kernel OOM-kills it.  On a cluster the deployment
        # sets it through SPARK_GRAFT_DRIVER_MEM.
        .config("spark.driver.memory", driver_memory())
        # localCheckpoint blocks are only unpersisted when the JVM GC
        # collects their weak references (ContextCleaner); a multi-GB heap
        # can go minutes without a full GC, so long multi-query sessions
        # accumulate dead checkpoint/broadcast blocks until storage
        # eviction churn stalls live jobs.  Force the cleaner's periodic
        # GC often enough that dead blocks drain between queries.
        .config("spark.cleaner.periodicGC.interval", "1min")
        # Reliable-mode cuts (spark.graft.cuts.reliable=true routes
        # operators/_util.cut through .checkpoint()) write to the
        # checkpoint dir and are NEVER removed unless this cleaner flag
        # is on (Spark default: false).  A long-lived session running
        # corpus-proportional cuts would otherwise accumulate unbounded
        # checkpoint disk (ADVICE r9).  Must be set before the context
        # starts — it cannot be flipped at runtime, which is why it
        # lives here and not in cut() itself.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # InferFiltersFromGenerate rewrites explode(e) into
        # Filter(size(e) > 0 AND isnotnull(e)) + explode(e).  When e is a
        # COMPUTED expression — this engine's n-gram/shingle/tokenize
        # pipelines, where e is an md5-per-gram transform over the whole
        # corpus — the inferred filter re-evaluates e twice more per row,
        # tripling the dominant map stage (measured 3.0x on the T8
        # contamination pass at sf0.1).  The rule only pays off when the
        # filter can prune BELOW the generate against a cheap stored
        # column, which never outweighs a 3x hot-path tax here; inner
        # explode drops empty/null rows itself, so excluding the rule is
        # semantics-neutral.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    return builder.getOrCreate()
