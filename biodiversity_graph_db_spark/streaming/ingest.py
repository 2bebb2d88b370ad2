"""Structured Streaming ingestion (SURVEY §2.10, build plan M6).

The reference has no streaming — its incremental patterns (append-only
source import S9/S13, idempotent upsert U2, monotone index merge A3) map
here to:

- file-source ``readStream`` over the events directory
- watermark + ``dropDuplicates`` on the natural key (U2-streaming)
- tumbling / sliding / session windowed aggregation with late-data
  handling
- ``foreachBatch`` upsert into the graph tables (the MERGE path)

Scale notes: watermark state is bounded by (watermark horizon ×
arrival rate); dropDuplicates keys state by event_id only within the
horizon.  Windowed aggs shuffle once on (window, key); session windows
use Spark's native session_window (state-store backed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from biodiversity_graph_db_spark.operators._util import (
    cut,
    partition_scope,
    shuffle_ceiling,
)

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over an events directory (new files appear →
    new micro-batches; maxFilesPerTrigger bounds batch size)."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """U2 as a stream: idempotent insert = watermark +
    ``dropDuplicatesWithinWatermark`` on the natural key.  State is
    bounded by the watermark horizon: a key's state row is DROPPED once
    the watermark passes its event time + delay, which matches the
    retry/replay duplicate model (duplicates arrive close together).

    The earlier ``dropDuplicates(["event_id"])`` spelling looked
    watermark-bounded but was NOT: Spark only evicts dedup state when
    the event-time column is part of the dedup KEYS, so state grew with
    stream length — measured at exactly |stream| rows (280 MB at
    gen_sf1, SCALE §18) before the fix; with the within-watermark
    operator the same run holds only the horizon's keys.  A true
    duplicate arriving later than the horizon re-emits — the documented
    (and only state-bounded) contract, same trade Kafka/Flink
    exactly-once dedup windows make."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window aggregate with late-data tolerance."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 10000)).alias("value_scaled"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            (F.col("value_scaled") / 10000.0).alias("total_value"),
        )
    )


def sliding_avg(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window average value per user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "user_id")
        .agg(F.count("*").alias("n"), F.avg("value").alias("avg_value"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n", "avg_value")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows (gap-based) per user — the streaming form of
    W4_sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def merge_events_into_graph(
    events: DataFrame,
    nodes_path: str,
    checkpoint: str,
    fail_once_marker: str | None = None,
):
    """foreachBatch upsert (the Delta-MERGE shape on plain parquet):
    each micro-batch becomes idempotent node rows keyed by event_id —
    duplicates across batches are dropped by the anti-join, mirroring
    GraphStore.add_nodes(on_conflict='skip').

    Exactly-once story: the file source + checkpoint give replay of the
    failed epoch, and the key anti-join makes the sink write idempotent,
    so a batch that crashes AFTER appending (the worst failure point —
    sink committed, checkpoint not) re-runs with no duplicate keys.
    ``fail_once_marker`` injects exactly that crash for the restart test:
    if the marker file exists, the first committed batch deletes it and
    raises after its append."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        new_nodes = batch.select(
            F.concat(F.lit("eventnode_"), F.col("event_id")).alias("key"),
            F.lit("EventNode").alias("node_type"),
            F.col("event_type").alias("pretty_name"),
            F.to_json(F.struct("ts", "user_id", "value")).alias("payload"),
        ).dropDuplicates(["key"])
        # explicit sink-existence check: only the first-batch/path-missing
        # case may skip the anti-join; any real read failure (corrupt
        # file, FS error, permissions) must propagate or replay would
        # silently duplicate keys (cf. pipeline._path_exists)
        from biodiversity_graph_db_spark.streaming.pipeline import (
            _path_exists,
        )

        if _path_exists(spark, nodes_path):
            existing = spark.read.parquet(nodes_path).select("key")
            fresh = new_nodes.join(existing, "key", "left_anti")
        else:
            fresh = new_nodes
        fresh.write.mode("append").parquet(nodes_path)
        if fail_once_marker is not None:
            import os

            if os.path.exists(fail_once_marker):
                os.remove(fail_once_marker)
                raise RuntimeError(
                    "injected crash after sink append (exactly-once test)"
                )

    return (
        events.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def running_user_totals(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): a running
    per-user ledger — event count, scaled-int value total, last-seen
    event time — updated each micro-batch and emitted on every change.

    This is the pattern the built-in windowed aggregates can't express:
    arbitrary per-key state with user-defined merge logic.  State is one
    tiny tuple per user (bounded by |users|, not by stream length); rows
    arrive Arrow-batched per key group.  Value totals accumulate as
    floor(value·10⁴) integers so the running sum is order-insensitive
    and replay-stable (same convention as the batch oracle queries).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, n_events long, total_value double, last_ts timestamp"
    )
    state_schema = "n long, total_scaled long, last_us long"

    def update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        n, total_scaled, last_us = (
            state.get if state.exists else (0, 0, None)
        )
        import math

        for pdf in pdf_iter:
            n += len(pdf)
            total_scaled += int(
                sum(math.floor(v * 10000) for v in pdf["value"])
            )
            batch_max = pdf["ts"].max()
            batch_us = int(batch_max.value // 1000)
            last_us = batch_us if last_us is None else max(last_us, batch_us)
        state.update((n, total_scaled, last_us))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [total_scaled / 10000.0],
                "last_ts": [pd.Timestamp(last_us * 1000)],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def closed_sessions(
    events: DataFrame, gap_seconds: int = 1800, watermark: str = "2 hours"
) -> DataFrame:
    """Timeout-based sessionization with custom session payloads — the
    stateful-operator shape ``session_window`` can't express: arbitrary
    per-session accumulators (here: scaled-int value total, but the same
    state walk carries event-sequence fingerprints, funnels, etc.) and
    explicit emit-on-close semantics.

    Per user, state is the ONE open session (start/last event time,
    count, floor(value·10⁴) running total).  Each micro-batch walks the
    user's events in event-time order: a gap > ``gap_seconds`` closes
    the open session (emitted downstream, state replaced); otherwise the
    accumulators extend.  A session whose user goes quiet is closed by
    an **event-time timeout** set ``gap_seconds`` past its last event —
    when the watermark passes that point the state times out, the
    session is emitted and the state removed, so state size stays
    bounded by |active users|, never stream length.

    Ordering contract (standard for stateful session stores): events
    arrive batch-monotone in event time per key — late data beyond the
    watermark is dropped by the watermark filter upstream.  Rows with
    ``event_type='__flush__'`` act as pure gap-triggers (close anything
    older than the gap, never open/extend a session) — a test/drain
    hook mirroring Kafka tombstone heartbeats.

    Output mode: append (closed sessions only — each exactly once)."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp,"
        " n_events long, total_value double"
    )
    state_schema = "start_us long, last_us long, n long, total_scaled long"
    gap_us = gap_seconds * 1_000_000

    def update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        closed: list[tuple] = []
        if state.hasTimedOut:
            # quiet user: watermark passed last_event + gap — the open
            # session is definitively closed (no on-time event can
            # extend it any more)
            if state.exists:
                closed.append(tuple(state.get))
                state.remove()
        else:
            cur = tuple(state.get) if state.exists else None
            # tiny per-group frames: numpy column pulls + one Python
            # tuple sort replace concat/sort_values/itertuples (the
            # asof_enrich rationale — pandas fixed cost per group
            # dominated the walk; guide §4.2)
            rows: list[tuple] = []
            for pdf in pdf_iter:
                us_arr = pdf["ts"].to_numpy().astype("int64") // 1000
                rows.extend(
                    zip(
                        us_arr.tolist(),
                        pdf["event_id"].to_numpy().tolist(),
                        pdf["event_type"].to_numpy().tolist(),
                        pdf["value"].to_numpy().tolist(),
                    )
                )
            rows.sort(key=lambda r: r[:2])
            for us, _eid, kind, value in rows:
                if cur is not None and us - cur[1] > gap_us:
                    closed.append(cur)
                    cur = None
                if kind == "__flush__":
                    continue
                if cur is None:
                    cur = (us, us, 0, 0)
                cur = (
                    cur[0],
                    us,
                    cur[2] + 1,
                    cur[3] + math.floor(value * 10000),
                )
            if cur is not None:
                state.update(cur)
                # event-time timeout at last_event + gap; must sit
                # strictly past the current watermark or Spark rejects it
                wm_ms = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(
                    max(cur[1] // 1000 + gap_seconds * 1000, wm_ms + 1)
                )
            elif state.exists:
                state.remove()
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [
                        pd.Timestamp(c[0] * 1000) for c in closed
                    ],
                    "session_end": [
                        pd.Timestamp(c[1] * 1000) for c in closed
                    ],
                    "n_events": [c[2] for c in closed],
                    "total_value": [c[3] / 10000.0 for c in closed],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def closed_sessions_batch(ev: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Batch twin of ``closed_sessions`` (all sessions close in batch):
    the W4 lag-gap + running-sum shape, with the same µs gap rule and
    scaled-int totals, emitting one row per session."""
    from pyspark.sql import Window

    ev = ev.where(F.col("event_type") != "__flush__")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col("ts"))
    flagged = ev.withColumn(
        "is_new",
        F.when(
            (us - F.lag(us).over(w) > gap_seconds * 1_000_000)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    ).withColumn("session_no", F.sum("is_new").over(wrun))
    return flagged.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        (F.sum(F.floor(F.col("value") * 10000)) / 10000.0).alias(
            "total_value"
        ),
    )


def run_kmv_sketch(
    events: DataFrame, out_path: str, checkpoint: str, k: int = 64
):
    """Streaming distinct-count maintenance: a per-event-type KMV
    sketch (extensions/sketches.py) kept current across micro-batches —
    the MERGEABILITY of the synopsis doing real work: each batch's
    distinct (group, hash) set unions into the stored k-smallest ledger
    and re-truncates to k rows per group, so state is O(groups · k)
    forever while the estimate tracks the full stream's distinct count.
    This is how a 100 TB ingest keeps live cardinality dashboards
    without ever running COUNT(DISTINCT) over the corpus; the batch
    operator (T20) over the same data is the equivalence oracle
    (tested: final stream sketch == batch sketch, bit-for-bit)."""
    from pyspark.sql import Window

    from biodiversity_graph_db_spark.extensions.sketches import (
        portable_hash,
    )
    from biodiversity_graph_db_spark.streaming.pipeline import _path_exists

    def upsert(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fresh = batch.select(
            F.col("event_type"),
            portable_hash(F.col("user_id")).alias("h"),
        ).distinct()
        if _path_exists(spark, out_path):
            fresh = fresh.unionByName(
                spark.read.parquet(out_path)
            ).distinct()
        w = Window.partitionBy("event_type").orderBy("h")
        kept = (
            fresh.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .drop("rk")
        )
        # overwrite via staging: the ledger is tiny (groups × k rows)
        _overwrite(kept, out_path)

    return (
        events.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def asof_enrich(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming point-in-time enrichment — the J9 AS-OF join as a
    stateful stream: every click is emitted with the user's most recent
    purchase at-or-before it.  State per user is ONE tuple (last
    purchase id + event time), updated as purchases flow and read as
    clicks flow — the online form of the batch union-trick window,
    with the same ordering contract as ``closed_sessions`` (batch-
    monotone event time per key; ties resolve purchase-before-click,
    then max event id).  This is how a feature store serves
    "latest-value-as-of" lookups during ingest without re-running the
    batch join; state size is O(|users|), never stream length."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "click_id long, user_id long, ts timestamp,"
        " prior_purchase_id long"
    )
    state_schema = "last_pid long, last_us long"

    def update(key, pdf_iter, state: GroupState):
        # Per-group frames are a handful of rows; plain-Python tuple
        # sort over extracted numpy columns replaces the former
        # pd.concat + assign + sort_values + itertuples chain, whose
        # fixed pandas overhead dominated the walk at ~1-4 rows/group
        # (guide §4.2; measured r12: the ST4 drain's addBatch is
        # |users| update() calls, not data).
        import numpy as np

        (user_id,) = key
        last_pid, last_us = state.get if state.exists else (None, None)
        out: list[tuple] = []
        rows: list[tuple] = []
        for pdf in pdf_iter:
            us_arr = pdf["ts"].to_numpy().astype("int64") // 1000
            kinds = pdf["event_type"].to_numpy()
            # purchase-before-click at equal ts (side 0 < 1), then id
            side = (kinds != "purchase").astype(int)
            rows.extend(
                zip(
                    us_arr.tolist(),
                    side.tolist(),
                    pdf["event_id"].to_numpy().tolist(),
                    kinds.tolist(),
                )
            )
        rows.sort(key=lambda r: r[:3])
        for us, _side, eid, kind in rows:
            if kind == "purchase":
                # monotone arrival ⇒ us >= last_us; max-id tie-break
                if (
                    last_us is None
                    or us > last_us
                    or (us == last_us and eid > last_pid)
                ):
                    last_pid, last_us = int(eid), us
            elif kind == "click":
                out.append((int(eid), us, last_pid))
        if last_pid is not None:
            state.update((last_pid, last_us))
        if out:
            yield pd.DataFrame(
                {
                    "click_id": [o[0] for o in out],
                    "user_id": [user_id] * len(out),
                    "ts": np.array(
                        [o[1] for o in out], dtype="datetime64[us]"
                    ),
                    "prior_purchase_id": [o[2] for o in out],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _replayed(
    stored: DataFrame, batch_id: int, app_id: str | None
) -> bool:
    """Is this (app_id, batch_id) a post-crash REPLAY of work already
    merged into the sketch store?  The guard is the Delta
    txnAppId/txnVersion pattern (round-5 ADVICE #2): batch ids only
    mean "already applied" within ONE checkpoint lineage — a NEW
    streaming query restarts ids at 0, and a bare ``batch_id <=
    last_batch`` check would silently drop all its real batches.  So
    skip only when the stored lineage matches the caller's.  Stores
    written before either column existed (or callers passing
    ``app_id=None``, e.g. direct unit use) fall back to the batch-id
    check alone, preserving their old single-lineage contract."""
    applied = (
        stored.agg(F.max("last_batch")).first()[0]
        if "last_batch" in stored.columns
        else None
    )
    if applied is None or applied < batch_id:
        return False
    stored_app = (
        stored.agg(F.max("last_app")).first()[0]
        if "last_app" in stored.columns
        else None
    )
    return stored_app is None or app_id is None or stored_app == app_id


def _stamp(df: DataFrame, batch_id: int, app_id: str | None) -> DataFrame:
    return df.withColumn(
        "last_batch", F.lit(batch_id).cast("long")
    ).withColumn("last_app", F.lit(app_id).cast("string"))


def _overwrite(df: DataFrame, path: str) -> None:
    """Replace the parquet store at ``path`` with ``df``.  ``df``'s plan
    reads ``path`` itself (the store merged with the micro-batch), and
    an overwrite deletes the files before the write job reads them —
    so ``df`` is cut first and the write reads the cut."""
    cut(df).write.mode("overwrite").parquet(path)


def cm_sketch_upsert(
    batch: DataFrame,
    batch_id: int,
    out_path: str,
    app_id: str | None = None,
) -> None:
    """One micro-batch's count-min merge — module-level so the replay
    path is directly testable.  Skips a ``batch_id`` at or below the
    store's recorded ``last_batch`` only when the recorded stream
    lineage (``last_app``) matches: that batch's counts are already in
    the parquet store, and re-adding them (crash between the store
    overwrite and the streaming checkpoint commit) would double-count;
    a DIFFERENT lineage restarting at batch 0 is new work, not a
    replay (``_replayed``)."""
    from biodiversity_graph_db_spark.extensions.sketches import cm_counters
    from biodiversity_graph_db_spark.streaming.pipeline import _path_exists

    spark = batch.sparkSession
    fresh = cm_counters(batch, "user_id")
    if _path_exists(spark, out_path):
        stored = spark.read.parquet(out_path)
        if _replayed(stored, batch_id, app_id):
            return  # replayed batch — its counts are already in
        fresh = (
            fresh.unionByName(stored.drop("last_batch", "last_app"))
            .groupBy("j", "pos")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
    _overwrite(_stamp(fresh, batch_id, app_id), out_path)


def run_cm_sketch(events: DataFrame, out_path: str, checkpoint: str):
    """Streaming count-min maintenance: the frequency synopsis kept
    current across micro-batches.  Even simpler than the KMV ledger —
    CM counters ADD under union, so each batch's (j, pos, cnt) cells
    merge into the store by grouped sum; state stays exactly
    depth × width rows forever.  Equivalence oracle: the batch
    ``cm_counters`` over the same data (tested bit-for-bit).

    Replay safety: unlike KMV (distinct-union, naturally idempotent) and
    the exact-dedup merge (anti-join), CM counters DOUBLE-count a
    replayed batch.  The store therefore carries the last-applied
    ``batch_id`` AND the stream's checkpoint identity on every row; a
    foreachBatch invocation whose (lineage, batch_id) is ≤ the stored
    one is a post-crash replay of work already committed to the parquet
    store and is skipped, while a NEW query (fresh checkpoint, ids
    restarting at 0) pointed at the same store keeps merging
    (crash-replay + new-lineage tests: tests/test_streaming.py)."""
    def upsert(batch: DataFrame, batch_id: int) -> None:
        cm_sketch_upsert(batch, batch_id, out_path, app_id=checkpoint)

    return (
        events.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def merge_events_into_versioned_graph(
    events: DataFrame,
    log_path: str,
    checkpoint: str,
    compact_every: int | None = None,
    retain: int = 2,
):
    """Streaming ingest INTO THE VERSIONED GRAPH (SD4 online): every
    micro-batch commits one version to the graph's delta log, so the
    stream produces not just the current graph but its full history —
    ``read_version(v)`` reproduces the graph as of any batch, the
    in-engine form of the reference's git-commit-per-edit lifecycle
    (Storage.fs:239-275) driven by a live source.

    Exactly-once story: the batch's nodes anti-join the head state (the
    merge_events_into_graph shape), so a REPLAYED batch contributes an
    EMPTY delta — the replay commits a contentless version and every
    ``read_version`` answer is unchanged (tested).  Per-commit cost is
    one hash-diff against the head ∝ graph size; the head store is
    cached between batches (the ``_head_store`` fast path).

    ONLINE COMPACTION (round-6): with ``compact_every=k``, every k-th
    committed version triggers ``compact_graph_log`` up to
    ``head - retain`` — the stream trims its own history as it runs
    instead of relying on an offline maintenance job, so a long-lived
    ingest replays a bounded number of deltas per head resolution.
    Safe in-stream because foreachBatch serializes the compaction with
    this stream's commits (the single-compactor contract), and the
    compaction swap itself is crash-safe (finish_compaction self-heals
    on the next open).  Reads ≥ the retention horizon are unchanged —
    stream-with-periodic-compaction == plain-stream head equality is
    tested (tests/test_streaming.py)."""
    from biodiversity_graph_db_spark.graph.store import GraphStore
    from biodiversity_graph_db_spark.graph.versioned import (
        compact_graph_log,
        open_log,
    )

    state: dict = {}  # the opened log, cached across micro-batches

    def upsert(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # open the log ONCE per query (not per batch): a fresh open_log
        # every batch would replay the whole latest-per-key log per
        # commit — O(V^2) over V batches; head_store() (the log's own
        # fast path) makes each commit one delta diff, including the
        # resume batch.  On ANY failure the cached log is dropped so
        # the retry reopens from the real on-disk head — a concurrent
        # writer advancing the log must not wedge the stream in a
        # VersionConflictError loop.
        log = state.get("log")
        if log is None:
            log = state["log"] = open_log(spark, log_path)
        prev = log.head_store()
        new_nodes = batch.select(
            F.concat(F.lit("eventnode_"), F.col("event_id")).alias("key"),
            F.lit("EventNode").alias("node_type"),
            F.col("event_type").alias("pretty_name"),
            F.to_json(F.struct("ts", "user_id", "value")).alias("payload"),
        ).dropDuplicates(["key"])
        fresh = new_nodes.join(prev.nodes.select("key"), "key", "left_anti")
        merged = GraphStore(
            spark,
            prev.nodes.unionByName(prev._conform(fresh)),
            prev.edges,
        )
        try:
            log.commit(merged)
            if (
                compact_every
                and log.head > retain
                and log.head % compact_every == 0
            ):
                compact_graph_log(log, log.head - retain)
        except Exception:
            state.pop("log", None)  # reopen from disk on the retry
            raise

    return (
        events.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def run_bloom_sketch(events: DataFrame, out_path: str, checkpoint: str):
    """Streaming Bloom maintenance: each micro-batch's set-bit
    positions union-distinct into the stored filter.  Like the KMV
    ledger — and unlike count-min — the merge is idempotent under
    replay (set union), so no batch-id guard is needed; state is
    bounded by BLOOM_WIDTH rows forever.  Stream == batch bit-equality
    tested."""
    from biodiversity_graph_db_spark.extensions.sketches import (
        bloom_build,
    )
    from biodiversity_graph_db_spark.streaming.pipeline import _path_exists

    def upsert(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fresh = bloom_build(batch.select(F.col("user_id").alias("k")), "k")
        if _path_exists(spark, out_path):
            fresh = fresh.unionByName(
                spark.read.parquet(out_path)
            ).distinct()
        _overwrite(fresh, out_path)

    return (
        events.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def hist_sketch_upsert(
    batch: DataFrame,
    batch_id: int,
    out_path: str,
    app_id: str | None = None,
) -> None:
    """One micro-batch's histogram merge — bin counts ADD (the
    count-min failure mode), so the store carries the last-applied
    (lineage, batch_id) and same-lineage replays are skipped, exactly
    the cm_sketch_upsert contract (``_replayed``)."""
    from biodiversity_graph_db_spark.extensions.sketches import (
        histogram_bins,
    )
    from biodiversity_graph_db_spark.streaming.pipeline import _path_exists

    spark = batch.sparkSession
    fresh = histogram_bins(batch, "value")
    if _path_exists(spark, out_path):
        stored = spark.read.parquet(out_path)
        if _replayed(stored, batch_id, app_id):
            return
        fresh = (
            fresh.unionByName(stored.drop("last_batch", "last_app"))
            .groupBy("bin")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
    _overwrite(_stamp(fresh, batch_id, app_id), out_path)


def run_hist_sketch(events: DataFrame, out_path: str, checkpoint: str):
    """Streaming histogram-quantile maintenance over ``value`` — live
    percentile dashboards with O(bins) state; read any quantile from
    the store with ``histogram_quantiles``."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        hist_sketch_upsert(batch, batch_id, out_path, app_id=checkpoint)

    return (
        events.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def multires_rollup_upsert(
    batch: DataFrame,
    batch_id: int,
    out_path: str,
    app_id: str | None = None,
) -> None:
    """One micro-batch's continuous-aggregate merge (the W9 hypertable
    rollup kept current): the batch's ROLLUP(day, hour) cells are
    additive (count + scaled-int sum), so they fold into the stored
    cells by grouped sum — state stays |buckets| rows no matter how
    much history has streamed through.  Same lineage-bound replay
    guard as the count-min store: rollup cells double-count a replayed
    batch, so a (lineage, batch_id) at or below the stored stamp is
    skipped; a NEW stream lineage restarting at 0 keeps merging."""
    from biodiversity_graph_db_spark.operators.windows import multires_cells
    from biodiversity_graph_db_spark.streaming.pipeline import _path_exists

    spark = batch.sparkSession
    fresh = multires_cells(batch)
    if _path_exists(spark, out_path):
        stored = spark.read.parquet(out_path)
        if _replayed(stored, batch_id, app_id):
            return  # replayed batch — its cells are already in
        fresh = (
            fresh.unionByName(stored.drop("last_batch", "last_app"))
            .groupBy("bucket_day", "bucket_hour")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.sum("value_x10000").cast("long").alias("value_x10000"),
            )
        )
    _overwrite(_stamp(fresh, batch_id, app_id), out_path)


def run_multires_rollup(events: DataFrame, out_path: str, checkpoint: str):
    """Streaming continuous-aggregate maintenance — the refresh loop
    that makes W9 a TimescaleDB-style hypertable rollup instead of a
    batch report: each micro-batch folds its hourly/daily/total cells
    into the store by grouped sum.  Equivalence oracle: the batch
    ``multires_cells`` over the same data (tested bit-for-bit);
    replay safety mirrors the count-min store (cells add, so the
    store carries (lineage, batch_id) and skips replays)."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        multires_rollup_upsert(batch, batch_id, out_path, app_id=checkpoint)

    return (
        events.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def ivf_append_upsert(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    app_id: str | None = None,
) -> None:
    """One micro-batch of IVF index maintenance: assign the batch's
    vectors against the STORED centroids (the V6 incremental contract —
    per-vector assignment depends only on (vector, centroids), so
    stream-built and batch-built indexes answer identically; tested)
    and write them as the batch's OWN delta dataset
    ``assigned_delta/app=<lineage>/batch=<id>/cent_id=*``.

    Exactly-once comes from the directory being the transaction: a
    replayed batch overwrites ITS OWN directory (idempotent by
    construction — no read-modify-write, no stamp table to race), and a
    new lineage writes under its own ``app=`` dir and simply merges.
    ``cent_id`` stays the leaf partition key, so probed-cluster pruning
    works in deltas exactly as in the base."""
    import hashlib

    import numpy as np

    from biodiversity_graph_db_spark.extensions.similarity import ivf_assign

    spark = batch.sparkSession
    cents = spark.read.parquet(f"{index_path}/centroids").collect()
    cent_ids = np.array([r.cent_id for r in cents], dtype=np.int64)
    cmat = np.array([r.cent_emb for r in cents], dtype=np.float64)
    cnorm = np.array([r.cent_norm for r in cents], dtype=np.float64)
    tag = hashlib.md5((app_id or "default").encode()).hexdigest()[:12]
    out = f"{index_path}/assigned_delta/app={tag}/batch={batch_id}"
    ivf_assign(batch, cent_ids, cmat, cnorm, n_probe=1).write.mode(
        "overwrite"
    ).partitionBy("cent_id").parquet(out)


def run_ivf_append(emb_stream: DataFrame, index_path: str, checkpoint: str):
    """Streaming ANN index maintenance — the ingest loop that keeps the
    persisted IVF index current as new embeddings arrive: each
    micro-batch lands as an idempotent per-batch delta under the index;
    ``compact_ivf_deltas`` folds them into the base out-of-band and
    ``recluster_if_drifted`` (V6b) remains the recall governor.
    Equivalence oracle: a batch ``append_ivf_index`` of the same rows
    (tested query-for-query)."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        ivf_append_upsert(batch, batch_id, index_path, app_id=checkpoint)

    return (
        emb_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def lsh_band_upsert(
    batch: DataFrame,
    batch_id: int,
    store_path: str,
    app_id: str | None = None,
) -> None:
    """One micro-batch of LSH band-store maintenance (dedup-at-ingest):
    shingle → minhash → band the batch's documents (the E2/D1 kernel,
    extensions/dedup.py) and write the (doc_id, band, band_key) rows as
    the batch's OWN delta dataset
    ``delta/app=<lineage>/batch=<id>/band=*``.

    Band rows are a PER-DOCUMENT deterministic function, so the merge
    is plain union — but a bounded-store rewrite (the KMV/CM pattern)
    would be O(corpus) per batch here, because the band table GROWS
    with the corpus.  Exactly-once therefore comes from the
    ``ivf_append_upsert`` discipline instead: the directory is the
    transaction — a replayed batch overwrites its own dir, a new
    lineage writes under its own ``app=``.  ``band`` stays the leaf
    partition key so the downstream band-bucket join prunes deltas
    exactly as it prunes a batch-built table.  This is how a 100 TB
    ingest keeps the near-dup index current: new documents band as they
    arrive, and membership/dup checks are equi-joins against the
    maintained store — never a corpus re-shingle.  A long-lived stream
    folds its accumulated deltas into ``base/`` with
    ``compact_lsh_bands`` (VERDICT r10 item 3); ``read_lsh_bands`` is
    the reader that merges both halves."""
    import hashlib

    from biodiversity_graph_db_spark.extensions.dedup import (
        minhash_bands,
        unigram_shingles,
    )

    tag = hashlib.md5((app_id or "default").encode()).hexdigest()[:12]
    out = f"{store_path}/delta/app={tag}/batch={batch_id}"
    bands = minhash_bands(
        batch.select(
            "doc_id", unigram_shingles(F.col("text")).alias("shingles")
        )
    )
    bands.write.mode("overwrite").partitionBy("band").parquet(out)


def read_lsh_bands(spark: SparkSession, store_path: str) -> DataFrame:
    """The dedup-facing view of the maintained band store: the
    compacted ``base`` (ONE dataset, partitioned by band) plus any
    per-batch deltas written since, columns
    ``(doc_id, band_key, app, batch, band)``.

    DELTA SHADOWS BASE on ``(app, batch)`` — the
    ``read_shard_manifest`` rule (streaming/pipeline.py): a batch
    present in both (a post-compaction checkpoint replay reborn its
    delta dir, or a crash between the compaction swap and the delta
    sweep left both copies) is read from the delta only.  The two
    copies are identical by the idempotent-directory contract, so
    shadowing makes both races invisible rather than double-counted.

    Scale shape: ``band`` is the storage partition key on BOTH halves
    (leaf key in the delta tree, partitionBy key in the base), so a
    band-bucket dup probe prunes to one bucket per half regardless of
    how the rows are split between them."""
    from biodiversity_graph_db_spark.streaming.pipeline import _path_exists

    finish_lsh_band_compaction(spark, store_path)
    base_dir = f"{store_path}/base"
    delta_dir = f"{store_path}/delta"
    cols = [
        F.col("doc_id"),
        F.col("band_key"),
        F.col("app").cast("string").alias("app"),
        F.col("batch").cast("long").alias("batch"),
        F.col("band").cast("long").alias("band"),
    ]
    has_base = _path_exists(spark, base_dir)
    has_delta = _path_exists(spark, delta_dir)
    if not has_base and not has_delta:
        # a reader pointed at a store no upsert has touched yet: an
        # empty band table, not an opaque path-not-found AnalysisException
        # (ADVICE r11) — same five-column schema as the populated reads.
        return spark.createDataFrame(
            [],
            "doc_id long, band_key string, app string,"
            " batch long, band long",
        )
    if not has_base:
        return spark.read.parquet(delta_dir).select(*cols)
    base = spark.read.parquet(base_dir).select(*cols)
    if not has_delta:
        return base
    delta = spark.read.parquet(delta_dir).select(*cols)
    replayed = delta.select("app", "batch").distinct()
    return base.join(replayed, ["app", "batch"], "left_anti").unionByName(
        delta.select(*base.columns)
    )


#: Sidecar (inside the merged base) naming the delta dirs a compaction
#: actually folded — the sweep's scope.  Underscore-prefixed, so parquet
#: readers of ``base/`` treat it as hidden metadata.
_FOLDED_SIDECAR = "_folded_dirs.txt"


def _sweep_folded_deltas(spark: SparkSession, store_path: str) -> None:
    """Delete exactly the delta dirs named by the promoted base's
    sidecar, then the sidecar itself.  No sidecar → sweep nothing
    (strictly safe: un-swept folded deltas are shadowed by the reader's
    delta-over-base rule and re-folded by the next compaction)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(store_path).getFileSystem(spark._jsc.hadoopConfiguration())
    side = hpath(f"{store_path}/base/{_FOLDED_SIDECAR}")
    if not fs.exists(side):
        return
    stream = fs.open(side)
    try:
        listing = jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    for rel in listing.splitlines():
        rel = rel.strip()
        if rel:
            fs.delete(hpath(f"{store_path}/delta/{rel}"), True)
    # prune now-empty app=/delta dirs so discovery cost doesn't creep
    delta = hpath(f"{store_path}/delta")
    if fs.exists(delta):
        for app_st in fs.listStatus(delta):
            if app_st.isDirectory() and not fs.listStatus(app_st.getPath()):
                fs.delete(app_st.getPath(), True)
        if not fs.listStatus(delta):
            fs.delete(delta, True)
    fs.delete(side, False)


def finish_lsh_band_compaction(spark: SparkSession, store_path: str) -> None:
    """Roll the band-store compaction swap forward from ANY crash point
    (the ``finish_manifest_compaction`` protocol): a complete merged
    base (``_SUCCESS`` present) under ``__compact_tmp`` is promoted —
    delete old base, rename tmp, sweep the folded deltas; an incomplete
    tmp is discarded (the live store was never touched).  Run by every
    read and every compaction, so no crash strands the store.

    The sweep deletes ONLY the (app, batch) dirs the compaction's
    sidecar records as actually folded (ADVICE r11): a genuinely NEW
    batch upserted between the merge-read and the sweep survives to the
    next compaction instead of being deleted unfolded.  The sidecar
    rides inside the promoted base, so a crash between rename and sweep
    resumes here on the next read."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(store_path).getFileSystem(spark._jsc.hadoopConfiguration())
    tmp = f"{store_path}/base__compact_tmp"
    if fs.exists(hpath(tmp)):
        if not fs.exists(hpath(f"{tmp}/_SUCCESS")):
            fs.delete(hpath(tmp), True)  # merge died mid-write; store intact
        else:
            dst = hpath(f"{store_path}/base")
            fs.delete(dst, True)
            if not fs.rename(hpath(tmp), dst) and not fs.exists(dst):
                raise RuntimeError(
                    "lsh band compaction recovery rename failed"
                )
    _sweep_folded_deltas(spark, store_path)


def compact_lsh_bands(spark: SparkSession, store_path: str) -> None:
    """Fold the per-batch band deltas into ``base`` — the band-store
    twin of ``compact_shard_manifests`` / ``compact_ivf_deltas``
    (VERDICT r10 item 3): ``read_lsh_bands`` answers identically before
    and after (tested), but partition discovery goes back to ONE
    dataset listing instead of one directory per micro-batch forever —
    a long-lived ingest stream's listing cost otherwise grows linearly
    with batch count, the exact degradation mode those two compactors
    closed in r5/r8.

    Unlike the manifest (driver-scale, coalesce(1)), the band table is
    CORPUS-PROPORTIONAL — the merged base is written as a normal
    distributed parquet dataset partitioned by ``band``, preserving the
    bucket-prune property of the delta layout.  ``app``/``batch`` ride
    along as data columns so the reader's delta-shadows-base rule keeps
    absorbing post-compaction checkpoint replays.

    CRASH-SAFE: merged base fully written (+``_SUCCESS``) under
    ``__compact_tmp`` before the live store is touched;
    ``finish_lsh_band_compaction`` completes the swap from any crash
    point.  Single-maintainer contract (don't run concurrently with an
    active stream's upserts); a replay AFTER compaction re-creates its
    delta dir, which the reader shadows and the NEXT compaction folds."""
    from biodiversity_graph_db_spark.streaming.pipeline import _path_exists

    finish_lsh_band_compaction(spark, store_path)  # complete stranded swap
    if not _path_exists(spark, f"{store_path}/delta"):
        return
    # Record the (app, batch) dirs this compaction is about to fold —
    # the sweep deletes exactly these, so a NEW batch upserted after
    # this listing (single-maintainer contract notwithstanding) is
    # never deleted unfolded (ADVICE r11).
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(store_path).getFileSystem(spark._jsc.hadoopConfiguration())
    folded = [
        f"{app.getPath().getName()}/{b.getPath().getName()}"
        for app in fs.globStatus(hpath(f"{store_path}/delta/app=*"))
        for b in fs.listStatus(app.getPath())
        if b.isDirectory()
    ]
    # no localCheckpoint: the merge is CORPUS-proportional, and the tmp
    # write completes (action) before the swap deletes base/delta — the
    # read never races its own inputs
    merged = read_lsh_bands(spark, store_path)
    tmp = f"{store_path}/base__compact_tmp"
    merged.write.mode("overwrite").partitionBy("band").parquet(tmp)
    # sidecar AFTER the parquet job: a crash in between promotes a base
    # with no sidecar, which sweeps nothing — safe (shadowed), unclean
    out = fs.create(hpath(f"{tmp}/{_FOLDED_SIDECAR}"), True)
    try:
        out.write(bytearray("\n".join(folded).encode("utf-8")))
    finally:
        out.close()
    finish_lsh_band_compaction(spark, store_path)


def run_lsh_bands(doc_stream: DataFrame, store_path: str, checkpoint: str):
    """Streaming near-dup index maintenance — keeps the MinHash/LSH
    band table current as documents arrive; each micro-batch lands as
    an idempotent per-batch delta.  Equivalence oracle: the one-shot
    batch ``minhash_bands`` of the same rows (the D15 driver row grades
    the maintained STORE CELLS against it)."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        lsh_band_upsert(batch, batch_id, store_path, app_id=checkpoint)

    return (
        doc_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def attributed_purchases(
    clicks: DataFrame,
    purchases: DataFrame,
    window_seconds: int = 600,
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """STREAM-STREAM interval join — the attribution query (every
    purchase joined to the same user's clicks in the preceding
    ``window_seconds``) as a watermarked two-stream join, the
    Structured Streaming capability the rest of this module's
    single-stream operators don't exercise.

    Both sides carry event-time watermarks and the join condition
    bounds purchase_ts − click_ts to [0, window], so the state store
    can EXPIRE a click once the purchase-side watermark passes
    click_ts + window — state is O(events inside one window per user),
    never stream-length; this is exactly the condition Spark requires
    to run a stream-stream inner join without unbounded buffering.
    When both sides come from the SAME physical stream, derive them
    from ONE readStream (a self-join): two independent sources progress
    unevenly and the global watermark can evict one side's state before
    the other side's matching rows arrive — with synchronized batches
    and watermark ≥ the join window, no boundary match can be evicted
    early.
    Batch twin (tested bit-for-bit): the same interval equi-join on the
    static frames."""
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    # ``how="left_outer"``: purchases with NO qualifying click emit a
    # null-click row once the CLICK-side watermark passes their join
    # window (Spark holds the outer row until no future click can
    # match) — the unattributed-conversion report.  Same state-expiry
    # bound as the inner join; under availableNow the trailing
    # purchases whose window the final watermark never closes stay in
    # state (emitted = a correct prefix; tested against the batch
    # twin's subset/superset contract).
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {window_seconds} SECONDS")
        ),
        how,
    )
    return joined.select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        F.unix_timestamp("purchase_ts").alias("purchase_s"),
        F.unix_timestamp("click_ts").alias("click_s"),
        F.floor(F.col("purchase_value") * 10000)
        .cast("long")
        .alias("value_x10000"),
    )


def nb_model_upsert(
    batch: DataFrame,
    batch_id: int,
    out_path: str,
    app_id: str | None = None,
) -> None:
    """One micro-batch's Naive-Bayes model merge: the (word, class)
    unigram counts and the per-class doc-count priors both ADD under
    union (the CM-sketch property), so each batch folds in by grouped
    sum.  Each of the two state tables carries its own replay stamp
    and is guarded INDEPENDENTLY — a crash between the two overwrites
    replays the batch, and the already-committed table skips while the
    missing one merges, restoring exactly-once for both."""
    from biodiversity_graph_db_spark.extensions.textstats import (
        nb_doc_counts,
        nb_token_counts,
    )
    from biodiversity_graph_db_spark.streaming.pipeline import _path_exists

    spark = batch.sparkSession
    for sub, fresh, keys in (
        ("wc", nb_token_counts(batch), ["w", "c"]),
        ("prior", nb_doc_counts(batch), ["c"]),
    ):
        path = f"{out_path}/{sub}"
        merged = fresh
        if _path_exists(spark, path):
            stored = spark.read.parquet(path)
            if _replayed(stored, batch_id, app_id):
                continue  # this table already holds the batch
            val = "cnt" if sub == "wc" else "n_docs"
            merged = (
                fresh.unionByName(stored.drop("last_batch", "last_app"))
                .groupBy(*keys)
                .agg(F.sum(val).cast("long").alias(val))
            )
        _overwrite(_stamp(merged, batch_id, app_id), path)


def run_nb_model(docs: DataFrame, out_path: str, checkpoint: str):
    """Streaming Naive-Bayes model maintenance: the learned-filter
    family's (T37) fit state kept current as labelled documents
    arrive — `{out}/wc` is the (word, class) count table and
    `{out}/prior` the per-class doc counts, both add-mergeable and
    bounded by vocab × classes (never corpus-sized), so a 100 TB
    stream maintains a broadcast-scale model.  Stream-built ≡
    batch-fit is pinned bit-for-bit in tests (the run_cm_sketch
    discipline); scoring reads the store exactly as T37 reads its
    in-session fit."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        nb_model_upsert(batch, batch_id, out_path, app_id=checkpoint)

    return (
        docs.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


#: Default per-partition feed-byte target for a canned drain: JVM-side
#: stateful operators (joins, dedup, window aggs) are commit-bound at
#: drain scale, so partitions follow AQE's ~64 MB advisory size.
_DRAIN_PARTITION_BYTES = 64 * 1024 * 1024

#: Byte target for PYTHON-stateful drains (applyInPandasWithState walks:
#: ST3 sessions / ST4 as-of): per-row work crosses the JVM↔Python
#: boundary and dominates the state commit, so partitions are sized
#: ~128 KB of feed each.  U-curve measured on the ST4 drain at sf0.1
#: (2.5 MB feed): 1 partition = 39-44 s (serialized walk, r12),
#: 8 = 5.0-5.4 s, **16 = 4.1-4.3 s (this rule)**, 32 = 4.4-4.9 s
#: (state-commit fsyncs take over) — r13 re-sweep after the r12 numpy
#: state-walk fix moved the optimum one notch wider.  Both rules hit
#: the session ceiling long before 100 TB.
_DRAIN_PARTITION_BYTES_PY = 128 * 1024

#: Public aliases (ADVICE r12: temporal.py imported the underscore
#: name; the sizing rules are part of the drain harness's contract).
DRAIN_PARTITION_BYTES = _DRAIN_PARTITION_BYTES
DRAIN_PARTITION_BYTES_PY = _DRAIN_PARTITION_BYTES_PY


def _drain_shuffle_partitions(
    spark, src: str, partition_bytes: int = _DRAIN_PARTITION_BYTES
) -> int:
    """Scale-adaptive shuffle/state partition count for a canned drain:
    size by the feed's on-disk bytes (~64 MB per partition, AQE's
    advisory target) and clamp to the session's configured shuffle
    partitions — the production parallelism knob stays the ceiling.

    Rationale (optimization guide §2.2/§2.5, measured r12): every
    stateful streaming operator creates one state-store instance PER
    shuffle partition PER micro-batch, and each instance's commit is a
    separate delta file + fsync.  At the grading SFs a drain feeds a
    few MB through 32 partitions × up to 4 join stores × 4 batches —
    hundreds of near-empty state files whose fsyncs dominated the
    drain (ST2 streaming progress: addBatch ≈ state commitTimeMs, 31 s
    of a 64 s drain on one batch).  Sizing partitions by data keeps
    the local drain at 1-2 stores while a 100 TB feed (TBs per batch)
    saturates the session ceiling — the same derive-from-input rule
    the batch operators use (hits()'s rows-based partitioning).
    Partitioning never changes emitted rows (hash-pinned by the
    parity gate; verified explicitly at 32/8/2 partitions r12)."""
    import os

    total = 0
    for root, _dirs, files in os.walk(src):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    ceiling = shuffle_ceiling(spark)
    if total == 0:
        # byte probe found no local parquet (non-local src, empty dir):
        # never under-partition a real deployment's drain — keep the
        # session ceiling rather than collapsing to 1 (VERDICT r12
        # item 4)
        return max(1, ceiling)
    return max(1, min(ceiling, total // partition_bytes + 1))


def write_feed_batches(
    df: DataFrame, key_col: str, tmp: str, n_batches: int = 3
) -> str:
    """Write ``df`` as ``n_batches`` one-file parquet batches under
    ``{tmp}/src`` in a SINGLE pass (r13, guide §6/§2.4): the former
    one-filtered-write-per-batch loop computed ``df`` n_batches times
    (each pass re-scanning the source and re-running the feed's mint/
    union); now the batch id is a partition column written once
    (``repartition(n, __b)`` sends every batch value to exactly one
    task, so each ``__b=i`` dir holds exactly one file carrying
    ``df``'s own columns), and the files move into ``src`` with PINNED
    ascending mtimes — the batch order the sequential writes used to
    imply (FileStreamSource orders pending files by modification
    time).  Split semantics are unchanged: batch i = rows with
    ``key_col % n_batches == i``; rows whose key is NULL or negative
    stay out of the feed exactly as the old ``WHERE`` dropped them."""
    import glob
    import os
    import shutil
    import time as _time

    src = f"{tmp}/src"
    staged = f"{tmp}/_staged"
    (
        df.withColumn("__b", F.col(key_col) % n_batches)
        .repartition(n_batches, "__b")
        .write.partitionBy("__b")
        .mode("overwrite")
        .parquet(staged)
    )
    os.makedirs(src, exist_ok=True)
    for i in range(n_batches):
        parts = sorted(glob.glob(f"{staged}/__b={i}/part-*.parquet"))
        if not parts:
            # empty slice: the old per-slice writer still emitted one
            # empty (schema-only) file — preserve the batch count
            df.where(F.lit(False)).coalesce(1).write.mode(
                "append"
            ).parquet(f"{staged}/__b={i}")
            parts = sorted(glob.glob(f"{staged}/__b={i}/part-*.parquet"))
        for j, p in enumerate(parts):
            shutil.move(p, f"{src}/part-{i:05d}-{j:05d}.parquet")
    shutil.rmtree(staged, ignore_errors=True)
    now = _time.time()
    for i, p in enumerate(sorted(glob.glob(f"{src}/part-*.parquet"))):
        os.utime(p, (now + i, now + i))
    return src


def drain_parquet_batches(
    df: DataFrame,
    key_col: str,
    run,
    tmp: str,
    n_batches: int = 3,
    timeout_s: int = 600,
) -> None:
    """Canned-drain harness behind the maintainer DRIVER rows
    (T41/T42/W16): write ``df`` as ``n_batches`` one-file parquet
    batches (deterministic ``key_col % n`` split), build a rate-limited
    file stream (``maxFilesPerTrigger=1`` → one foreachBatch call per
    file), hand it to the maintainer's ``run`` factory and block until
    the availableNow drain finishes.  The maintained store then holds
    the n-way MERGED state, which each driver row's oracle compares to
    the one-shot batch computation — the add-mergeability equivalence
    graded by the driver instead of only by tests.

    Feed write is SINGLE-PASS (r13, guide §6/§2.4): see
    ``write_feed_batches``."""
    spark = df.sparkSession
    src = f"{tmp}/src"
    write_feed_batches(df, key_col, tmp, n_batches)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with partition_scope(spark, _drain_shuffle_partitions(spark, src)):
        q = run(stream).start()
        try:
            ok = q.awaitTermination(timeout_s)
        finally:
            # stop a timed-out/raising query INSIDE the conf scope, so
            # cleanup happens before the session partitioning is
            # restored (ADVICE r12)
            if q.isActive:
                q.stop()
    if not ok:
        raise RuntimeError(f"canned drain did not finish in {timeout_s} s")


def drain_parquet_batches_ordered(
    df: DataFrame,
    order_cols: list[str],
    run,
    tmp: str,
    n_batches: int = 3,
    last_batch: DataFrame | None = None,
    timeout_s: int = 600,
    partition_bytes: int = _DRAIN_PARTITION_BYTES,
) -> None:
    """Event-time-ORDERED canned drain — the harness behind the
    stateful-operator driver rows (ST3/ST4), whose operators carry the
    batch-monotone-arrival ordering contract ``drain_parquet_batches``'
    modulo split can't honor: range-split ``df`` on ``order_cols`` into
    ``n_batches`` files and PIN ascending mtimes (FileStreamSource
    orders pending files by modification time, the property the
    streaming test fixtures already rely on), so batch i holds the i-th
    time slice and every key's events arrive in event-time order across
    micro-batches — exactly how a production ingest delivers them.

    ``last_batch`` (e.g. per-key ``__flush__`` heartbeats, or a
    watermark-advancing sentinel) lands as the FINAL file, after all
    data batches.  Local-filesystem harness by design (the driver rows
    and tests drain from tempdirs); production streams read Kafka/object
    storage where arrival order is the broker's."""
    import glob
    import os
    import shutil
    import time

    spark = df.sparkSession
    src = f"{tmp}/src"
    (
        df.repartitionByRange(n_batches, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .parquet(src)
    )
    if last_batch is not None:
        last_batch.coalesce(1).write.mode("overwrite").parquet(
            f"{tmp}/_last"
        )
        lp = glob.glob(f"{tmp}/_last/part-*.parquet")[0]
        shutil.copy(lp, f"{src}/part-zz-last.parquet")
    now = time.time()
    for i, p in enumerate(sorted(glob.glob(f"{src}/part-*.parquet"))):
        os.utime(p, (now + i, now + i))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with partition_scope(
        spark, _drain_shuffle_partitions(spark, src, partition_bytes)
    ):
        q = run(stream).start()
        try:
            ok = q.awaitTermination(timeout_s)
        finally:
            # stop a timed-out/raising query INSIDE the conf scope
            # (ADVICE r12)
            if q.isActive:
                q.stop()
    if not ok:
        raise RuntimeError(f"ordered drain did not finish in {timeout_s} s")


def grid_density_upsert(
    batch: DataFrame,
    batch_id: int,
    out_path: str,
    app_id: str | None = None,
) -> None:
    """One micro-batch's density-grid merge (the GEO5 map synopsis
    maintained at ingest): roll the batch's point contexts up to the
    fixed lon/lat grid and fold into the store by grouped sum — counts
    and floor-scaled coordinate sums ADD under union (the davg identity
    is per-row floors, so stream-merged means equal batch means
    bit-for-bit) and the sample site merges by MIN.  The store stays
    <= (360/G)x(180/G) rows forever; replay safety is the CM/KMV
    (lineage, batch_id) stamp — grouped sums double-count a replay, so
    an already-applied batch is skipped (``_replayed``)."""
    from biodiversity_graph_db_spark.operators.spatial import GRID_DEG
    from biodiversity_graph_db_spark.streaming.pipeline import _path_exists

    spark = batch.sparkSession
    pts = batch.where(F.col("kind").isin("Site", "SiteDMS"))
    fresh = pts.groupBy(
        F.floor(F.col("pt_lon") / GRID_DEG).cast("long").alias("cx"),
        F.floor(F.col("pt_lat") / GRID_DEG).cast("long").alias("cy"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_sites"),
        F.sum(F.floor(F.col("pt_lat") * 10000)).cast("long").alias("lat_ssum"),
        F.sum(F.floor(F.col("pt_lon") * 10000)).cast("long").alias("lon_ssum"),
        F.min(
            F.regexp_extract(F.col("key"), "([0-9]+)$", 1).cast("long")
        ).alias("min_site"),
    )
    if _path_exists(spark, out_path):
        stored = spark.read.parquet(out_path)
        if _replayed(stored, batch_id, app_id):
            return  # replayed batch — its counts are already in
        fresh = (
            fresh.unionByName(stored.drop("last_batch", "last_app"))
            .groupBy("cx", "cy")
            .agg(
                F.sum("n_sites").cast("long").alias("n_sites"),
                F.sum("lat_ssum").cast("long").alias("lat_ssum"),
                F.sum("lon_ssum").cast("long").alias("lon_ssum"),
                F.min("min_site").alias("min_site"),
            )
        )
    _overwrite(_stamp(fresh, batch_id, app_id), out_path)


def run_grid_density(ctx_stream: DataFrame, out_path: str, checkpoint: str):
    """Streaming density-map maintenance — the SPATIAL member of the
    synopsis-store family (NB/CM/KMV/rollup/IVF/LSH-band all have
    maintainers; the map view GEO5 serves did not): each micro-batch of
    promoted context rows folds into the bounded per-cell store, so the
    "where is the evidence concentrated" overview is always current
    without ever rescanning the context table.  Equivalence oracle: the
    one-shot batch GEO5 rollup of the same rows (the GEO9 driver row
    grades the maintained STORE CELLS against it)."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        grid_density_upsert(batch, batch_id, out_path, app_id=checkpoint)

    return (
        ctx_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
