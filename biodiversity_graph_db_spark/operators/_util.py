"""Shared helpers for oracle-checkable numeric output.

Floating-point sums are order-dependent, and double→DECIMAL casts tie-round
differently across engines (Spark HALF_UP on the exact binary expansion vs
DuckDB's float-scaled rounding) — both break the driver's value-hash.

Convention: quantize each addend deterministically (``FLOOR(x * 10^s)`` —
IEEE multiply and floor are bit-identical in any engine), sum exactly as
BIGINT (order-independent), and divide back to double.  Every step is
deterministic in both engines, so the hashes match; no ROUND, no DECIMAL.

Scale note: BIGINT holds the scaled sums comfortably at bench scale
(values ~1e5 scaled by 1e4 over 1e9 rows ≈ 1e18); a 100 TB production run
would widen the accumulator to DECIMAL(38,0) — same shape, wider type.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import Column
from pyspark.sql import functions as F

SCALE = 10_000  # 4 fractional digits

_SCOPE_LOCK = threading.RLock()  # serializes partition_scope bodies


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str) -> Column:
    """Order-independent, engine-exact sum of a double column (4 dp)."""
    return (F.sum(F.floor(_c(col) * SCALE)) / F.lit(float(SCALE))).alias("dsum")


def davg(col: Column | str) -> Column:
    """Deterministic average: exact scaled-int sum / count / scale."""
    c = _c(col)
    return F.sum(F.floor(c * SCALE)) / F.count(c) / F.lit(float(SCALE))


def dquant(col: Column | str) -> Column:
    """Per-row deterministic 4-dp quantization (for non-aggregated output)."""
    return F.floor(_c(col) * SCALE) / F.lit(float(SCALE))


def sql_dsum(expr: str) -> str:
    return f"SUM(CAST(FLOOR(({expr}) * 10000) AS BIGINT)) / 10000.0"


def sql_davg(expr: str) -> str:
    return f"SUM(CAST(FLOOR(({expr}) * 10000) AS BIGINT)) / COUNT({expr}) / 10000.0"


def sql_dquant(expr: str) -> str:
    return f"FLOOR(({expr}) * 10000) / 10000.0"


def spread(df, probe=None):
    """Small-source parallelism guard for EXPENSIVE map stages (the
    md5-n-gram / shingle / tokenize family): a parquet source smaller
    than one split scans as a single partition, which serializes the
    downstream per-row compute on ONE core no matter how wide the
    session is.  When the source has fewer partitions than the
    session's parallelism, round-robin repartition it — by
    construction the data is tiny (under one split), so the shuffle
    costs milliseconds while the map gains the full core count
    (measured at sf0.1: the T8 gram pass 4.2 s -> 0.65 s on
    local[32]).  When the source already has enough splits — any real
    at-scale layout, where this guard must NOT fire — it is a no-op
    and adds no Exchange.

    SECOND guard (VERDICT r11 item 7, the reader side of SCALE §40):
    a byte-range split only reads row groups whose MIDPOINT it
    contains, so externally-written parquet with FAT row groups can
    present plenty of splits while almost all of them read nothing —
    the §40 generator fix can't help with files the engine merely
    RECEIVES.  When the partition count looks healthy, probe the
    source files' parquet footers (driver-side metadata read, one
    ``num_row_groups`` per file, stopping as soon as enough groups are
    found): fewer row groups than cores means the scan is
    row-group-starved no matter what the split count says, and the
    same cheap repartition restores the map parallelism.  Probing is
    best-effort — non-file sources, remote schemes pyarrow can't reach
    here, or any footer error skip the guard rather than fail the
    query.

    Apply AFTER source-level filters (so pushdown is preserved) and
    only in front of compute-bound maps; scan-bound queries would pay
    the Exchange for nothing.

    ``probe``: optionally inspect THIS frame's partitioning/row groups
    instead of ``df``'s.  The ``df.rdd`` probe compiles the whole plan
    to an RDD DAG — cheap on a bare scan, but a measurable driver cost
    on a deep computed frame.  When ``df`` derives from ``probe`` by
    narrow transformations only (select/filter/withColumn — anything
    that preserves the scan's partitioning), probing the source scan
    answers the same question for a one-node plan compile."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    src = probe if probe is not None else df
    if src.rdd.getNumPartitions() < par:
        return df.repartition(par)
    if _row_group_starved(src, par):
        return df.repartition(par)
    return df


def _row_group_starved(df, par: int) -> bool:
    """True when the DataFrame's source files hold fewer parquet row
    groups than ``par`` — the many-splits-few-groups layout where most
    byte-range splits decode nothing."""
    try:
        files = df.inputFiles()
    except Exception:
        return False
    if not files:
        return False
    import pyarrow.parquet as pq

    groups = 0
    for uri in files:
        if uri.startswith("file:"):
            path = uri[len("file:"):]
            while path.startswith("//"):
                path = path[1:]
        elif uri.startswith("/"):
            path = uri
        else:
            return False  # remote scheme: leave it to the writer's layout
        try:
            groups += pq.ParquetFile(path).metadata.num_row_groups
        except Exception:
            return False
        if groups >= par:
            return False
    return groups < par


def cut(df):
    """Lineage cut + eager materialization — the package's only one.
    Every iterative loop's per-round truncation, every multi-consumer
    intermediate (the E2/E3 discipline: materialize the expensive part
    once so downstream consumers re-read instead of recomputing), every
    scratch-store result that must outlive its directory, and every
    streaming store overwrite goes through here.

    Storage mode is a config switch, plan shape is identical in both
    (downstream consumes a ``Scan ExistingRDD`` either way — tested):

    - default: ``localCheckpoint`` — executor-local, non-replicated
      blocks, no extra I/O path, right for single-process/bench runs.
      A lost block is NOT recomputed: the lineage is gone, so losing
      an executor that holds one fails the job;
    - ``spark.graft.cuts.reliable=true``: reliable ``.checkpoint()``
      to the SparkContext checkpoint dir (set it via
      ``spark.graft.cuts.dir`` or ``setCheckpointDir``) — the
      production deployment choice, where every cut survives the loss
      of the executor that computed it (SCALE §19's documented trade).

    Cleanup contract (ADVICE r9): reliable checkpoint files are only
    ever removed by the ContextCleaner, and only when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (a
    context-startup conf; ``session.get_spark`` sets it).  A session
    built elsewhere that enables reliable cuts without that flag
    accumulates unbounded checkpoint-dir disk — either set the flag
    before the context starts or prune the dir periodically."""
    spark = df.sparkSession
    if spark.conf.get("spark.graft.cuts.reliable", "false") != "true":
        return df.localCheckpoint()
    sc = spark.sparkContext
    jdir = sc._jsc.sc().getCheckpointDir()
    if not jdir.isDefined():
        conf_dir = spark.conf.get("spark.graft.cuts.dir", None)
        if not conf_dir:
            raise ValueError(
                "spark.graft.cuts.reliable=true needs a checkpoint dir: "
                "set spark.graft.cuts.dir or call "
                "sparkContext.setCheckpointDir first"
            )
        sc.setCheckpointDir(conf_dir)
    return df.checkpoint(eager=True)


def shuffle_ceiling(spark) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as an int — the
    ceiling every derived partition count is clamped to.  Managed
    platforms ship non-numeric values (e.g. 'auto'); fall back to the
    context's parallelism (ADVICE r12)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


@contextmanager
def partition_scope(spark, n: int):
    """Scope ``spark.sql.shuffle.partitions`` to ``n`` for the body,
    restoring the caller's value on exit (exception-safe).

    The conf is read at PLAN time, i.e. at the first action, so callers
    must materialize (``cut``/count, or start the stream) inside the
    scope.  Two users:

    - iterative graph loops (guide §2.4): the loop's cached sides are
      hash-partitioned on the join key at the DERIVED count, but every
      per-iteration groupBy/join otherwise plans its Exchange at the
      SESSION count — EnsureRequirements then re-shuffles the cached
      side (or the aggregation output) every round to reconcile the
      two.  Planning the whole loop at one count makes each iteration
      run exactly ONE Exchange (the inherent message shuffle);
    - canned streaming drains: the state partition count is locked in
      at stream start.

    Scopes are serialized by one re-entrant lock: a thread entering a
    scope waits until another thread's scope has restored its value
    (nested scopes in one thread are fine).  Unlocked, two threads'
    interleaved save/set/restore would leave the session at the wrong
    count for good.  A query planned by a thread that holds no scope still
    picks up a scoped value while one is open."""
    with _SCOPE_LOCK:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


def plan_bytes(df) -> int:
    """Catalyst's size estimate for ``df`` (``sizeInBytes`` of its
    optimized plan) — what the planner compares against the broadcast
    threshold."""
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


def _sql_conf(spark):
    """The session's JVM ``SQLConf``: its typed getters return sizes
    already parsed the way the planner reads them."""
    return spark._jsparkSession.sessionState().conf()


def unsized(df) -> bool:
    """True when Spark cannot size ``df``'s plan: a source without
    statistics (``spark.createDataFrame`` over local rows or an RDD
    plans as ``Scan ExistingRDD``) estimates at
    ``spark.sql.defaultSizeInBytes`` (8 EiB), and so does every union
    or checkpoint over it — every join it feeds then plans as a
    sort-merge join."""
    return plan_bytes(df) >= _sql_conf(df.sparkSession).defaultSizeInBytes()


def measured_cut(df):
    """``cut`` whose output carries MEASURED statistics — the write
    path's materialization (graph mutations and versioned-log commits).

    A checkpoint keeps its parent's size estimate, so ``cut`` of an
    unsized plan is unsized too.  Here ``df`` is persisted first: the
    cut's action fills the cache on its way to the checkpoint, the
    cache's size accumulators give the checkpoint exact statistics, and
    the cache is dropped once the checkpoint is taken.  Downstream joins
    against the result plan as broadcasts when it is small, instead of
    32-partition sort-merge joins whose every Exchange AQE runs as its
    own job before re-planning.  For a caller batch or a broadcast-only
    mutation chain, filling the cache and checkpointing are one job.

    The result is coalesced to one partition per
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` of measured
    data — without that, union chains (head ∪ batch ∪ batch …) grow
    the partition count of every version.  A frame the caller already
    persisted is cut as is and left persisted."""
    owned = not df.is_cached
    if owned:
        df.persist()
    try:
        # cut a fresh Dataset: df's own query plan may predate the cache
        # (a plan_bytes probe optimizes it), and would neither read nor
        # fill it
        out = cut(df.select("*"))
    finally:
        if owned:
            df.unpersist()
    spark = out.sparkSession
    target = _sql_conf(spark).getConf(
        spark._jvm.org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES()
    )
    n = max(1, -(-plan_bytes(out) // target))
    return out.coalesce(n) if n < out.rdd.getNumPartitions() else out
