"""Joins / traversals (SURVEY §2.3).

The reference's "queries" are 1-hop edge traversals and chained hops
(Graph.fs:744-764; Library.fs:842-902).  On Spark these are equi-joins;
dimension sides are broadcast, fact-fact joins shuffle on their keys and
AQE handles skew.  The range join (J8) uses the bucketize-then-equi-join
strategy so it stays O(n) at 100 TB instead of a nested-loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from biodiversity_graph_db_spark.operators._util import (
    cut,
    davg,
    dquant,
    dsum,
    sql_davg,
    sql_dquant,
    sql_dsum,
)
from biodiversity_graph_db_spark.registry import query
from biodiversity_graph_db_spark.tables import table


@query(
    "J1_one_hop_traversal",
    oracle="""
    SELECT o.o_orderkey AS sink_key, o.o_totalprice, o.o_orderstatus
    FROM orders o
    WHERE o.o_custkey = 419
    ORDER BY o.o_orderkey
    """,
)
def j1_one_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The core traversal (Relations.nodeIdsByRelation, Graph.fs:744-764):
    from one node, follow out-edges of one relation to sink ids.  The
    customer→orders FK is the edge table; filter on source key + relation,
    project sinks."""
    return (
        table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") == 419)
        .select(
            F.col("o_orderkey").alias("sink_key"),
            "o_totalprice",
            "o_orderstatus",
        )
        .orderBy("sink_key")
    )


@query(
    "J2_multihop_extract",
    oracle=f"""
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(DISTINCT c.c_custkey) AS n_customers,
           COUNT(DISTINCT o.o_orderkey) AS n_orders,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY r.r_name, n.n_name
    ORDER BY region, nation
    """,
)
def j2_multihop_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop view traversal (Library.fs:842-902: source→timeline→
    context/dates/years chains): a 4-hop chain rolled up.  region/nation
    are broadcast; customer⋈orders⋈lineitem shuffle on their join keys
    once each and AQE coalesces."""
    r = F.broadcast(table(spark, sf_dir, "region"))
    n = F.broadcast(table(spark, sf_dir, "nation"))
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    # Pre-aggregate revenue to one row per order BEFORE the distinct
    # aggregation: two countDistincts over raw lineitem would Expand the
    # fact 3x; after this rollup the only distinct left is c_custkey and
    # n_orders is a plain count.  The scaled-long sum is associative, so
    # splitting it across two groupBys is exact (same value as dsum).
    li_rev = li.groupBy("l_orderkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
        ).alias("rev_scaled")
    )
    return (
        li_rev.join(o, li_rev.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
            (F.sum("rev_scaled") / 10000.0).alias("revenue"),
        )
        .orderBy("region", "nation")
    )


@query(
    "J3_reverse_membership",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)
    ORDER BY s.s_suppkey
    """,
)
def j3_reverse_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pointsTo (Graph.fs:108-111): does any edge point at this node?
    → left-semi join on the sink key (no row duplication, map-side
    prunable)."""
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 49)
    return (
        s.join(li, s.s_suppkey == li.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "J4_fk_violation_check",
    oracle="""
    SELECT COUNT(*) AS n_bad_source, (
      SELECT COUNT(*) FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    ) AS n_bad_sink
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
)
def j4_fk_violation_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Endpoint validation on edge insert (Graph.fs:136-152): both ends
    must exist → anti-join the proposed edges against nodes and count
    violations (0 on clean data, but the operator is the check itself)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    bad_src = o.join(c, o.o_custkey == c.c_custkey, "left_anti").count()
    bad_sink = li.join(p, li.l_partkey == p.p_partkey, "left_anti").count()
    return spark.createDataFrame(
        [(bad_src, bad_sink)], "n_bad_source long, n_bad_sink long"
    )


@query(
    "J5_signature_check",
    oracle="""
    WITH sigs(status, priority) AS (
      VALUES ('F','1-URGENT'), ('F','2-HIGH'), ('F','3-MEDIUM'),
             ('F','4-NOT SPECIFIED'), ('F','5-LOW'),
             ('O','1-URGENT'), ('O','2-HIGH'), ('O','3-MEDIUM'),
             ('O','4-NOT SPECIFIED'), ('O','5-LOW')
    )
    SELECT o.o_orderstatus AS status, o.o_orderpriority AS priority,
           COUNT(*) AS n_violations
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM sigs s
                      WHERE s.status = o.o_orderstatus
                        AND s.priority = o.o_orderpriority)
    GROUP BY o.o_orderstatus, o.o_orderpriority
    ORDER BY status, priority
    """,
)
def j5_signature_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation-signature validation (makeRelation, Graph.fs:617-712 — the
    reference's reflection check is disabled; here it's a static signature
    dim + broadcast anti-join, grouped into a violation report)."""
    sigs = spark.createDataFrame(
        [(s, p) for s in ["F", "O"]
         for p in ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]],
        "status string, priority string",
    )
    o = table(spark, sf_dir, "orders")
    return (
        o.join(
            F.broadcast(sigs),
            (o.o_orderstatus == sigs.status) & (o.o_orderpriority == sigs.priority),
            "left_anti",
        )
        .groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").alias("n_violations"))
        .orderBy("status", "priority")
    )


@query(
    "J6_hyperedge_star",
    oracle=f"""
    SELECT l.l_orderkey, l.l_linenumber,
           o.o_orderstatus, p.p_brand, s.s_name,
           {sql_dquant('l.l_extendedprice * (1 - l.l_discount)')} AS net_price
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE l.l_quantity = 50 AND l.l_discount >= 0.09
    ORDER BY l.l_orderkey, l.l_linenumber
    """,
)
def j6_hyperedge_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperedge star expansion (addProxiedTaxon'/commitProxiedTaxon,
    Storage.fs:396-423; the proxy⇄method⇄taxon⇄outcome hub): the lineitem
    row is the hyperedge, its FKs are the InferredFrom/Using/As spokes.
    part/supplier joins are hint-free (they grow with SF — the planner
    broadcasts them at bench scale, shuffles at 100 TB; ADVICE r8);
    orders joins on the already-partitioned key."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") == 50) & (F.col("l_discount") >= 0.09)
    )
    o = table(spark, sf_dir, "orders")
    p = table(spark, sf_dir, "part")
    s = table(spark, sf_dir, "supplier")
    net = dquant(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_orderstatus",
            "p_brand",
            "s_name",
            net.alias("net_price"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


def bucketed_range_join(
    facts: DataFrame,
    fact_ts: Column,
    periods: DataFrame,
    start: Column,
    end: Column,
    bucket_seconds: int,
) -> DataFrame:
    """Range join via bucketization (J8; guide 'as-of/range join' pattern).

    Explode each period into the epoch buckets it overlaps, equi-join facts
    on their bucket, then apply the exact BETWEEN filter.  Turns an
    O(n x m) nested loop into a shuffle-free broadcast equi-join when the
    period side is small, and a plain hash join otherwise — this is the
    100 TB-safe plan; Spark's default for a non-equi join is a nested loop.
    """
    b_us = F.lit(bucket_seconds * 1_000_000)
    # Normalize every bound to epoch microseconds (handles TIMESTAMP_NTZ,
    # which Spark 4 won't cast straight to long; the session runs in UTC so
    # NTZ and instant timestamps agree) — full precision, exact BETWEEN.
    s_us = F.unix_micros(start.cast("timestamp"))
    e_us = F.unix_micros(end.cast("timestamp"))
    f_us = F.unix_micros(fact_ts.cast("timestamp"))
    periods_b = periods.withColumn(
        "__bucket", F.explode(F.sequence(F.floor(s_us / b_us), F.floor(e_us / b_us)))
    )
    facts_b = facts.withColumn("__bucket", F.floor(f_us / b_us))
    joined = facts_b.join(F.broadcast(periods_b), "__bucket").where(
        f_us.between(s_us, e_us)
    )
    return joined.drop("__bucket")


@query(
    "J8_interval_containment",
    oracle=f"""
    WITH periods AS (
      SELECT event_type AS period,
             MIN(ts) AS p_start,
             MIN(ts) + INTERVAL 2 DAY AS p_end
      FROM events GROUP BY event_type
    )
    SELECT p.period,
           COUNT(*) AS n_events,
           {sql_dsum('e.value')} AS total_value
    FROM events e
    JOIN periods p ON e.ts BETWEEN p.p_start AND p.p_end
    GROUP BY p.period
    ORDER BY p.period
    """,
)
def j8_interval_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment (J8: period↔years via Contains/EarliestTime/
    LatestTime edges, Exposure.fs:125-127) — the reference materializes
    membership as edges; at scale we range-join facts to period bounds
    via bucketization instead.  Periods are two-day windows anchored at
    each event type's first event, so every period genuinely contains
    events from all types (a prior form derived periods from order dates,
    which never overlap the events stream — the join was vacuously
    empty)."""
    ev = table(spark, sf_dir, "events")
    periods = ev.groupBy(F.col("event_type").alias("period")).agg(
        F.min("ts").alias("p_start"),
        (F.min("ts") + F.expr("INTERVAL 2 DAYS")).alias("p_end"),
    )
    joined = bucketed_range_join(
        ev,
        F.col("ts"),
        periods,
        F.col("p_start"),
        F.col("p_end"),
        bucket_seconds=7 * 24 * 3600,
    )
    return (
        joined.groupBy("period")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .orderBy("period")
    )


@query(
    "J9_asof_join",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, MAX(event_id) AS prior_purchase_id
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    ),
    c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id AS click_id,
           c.user_id,
           c.ts AS click_ts,
           p.prior_purchase_id,
           CASE WHEN p.prior_purchase_id IS NULL THEN NULL
                ELSE date_diff('second', p.ts, c.ts) END AS gap_seconds
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    ORDER BY click_id
    """,
)
def j9_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join — for every click, the user's most recent purchase at
    or before it (the point-in-time join behind feature backfills,
    price-as-of lookups, and the reference's nearest-year selection F9
    generalized to two event streams).

    Spark has no ASOF JOIN operator; the naive encodings are a range
    join (nested-loop explosion) or a per-left-row aggregation over all
    earlier rights (quadratic).  The scale-safe encoding used here is
    the **union trick**: tag both sides, union into one frame, and take
    ``last(right_attrs, ignorenulls=True)`` over a window partitioned
    by the join key and ordered by (ts, side) — right rows sort before
    left rows at equal timestamps, so the inclusive `ts >= ts` bound
    holds.  ONE shuffle on user_id, O(1) window state per row, no
    range explosion; at 100 TB the window partitions by the join key
    across executors exactly like W4's sessionization.  Tie resolution
    for same-timestamp purchases lives in the window ORDER (event_id
    ascending ⇒ ``last`` keeps the max id) instead of a pre-dedup
    groupBy — which would cost a second shuffle on (user_id, ts); the
    plan test pins exactly ONE hashpartitioning.  DuckDB's native ASOF
    JOIN (+ explicit MAX dedup) is the oracle."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("prior_purchase_id"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(0).alias("side"),  # right rows first at equal ts
    )
    c = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("prior_purchase_id"),
        F.col("event_id").alias("click_id"),
        F.lit(1).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "prior_purchase_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = p.unionByName(c).select(
        "*",
        F.last("prior_purchase_id", ignorenulls=True)
        .over(w)
        .alias("asof_id"),
        F.last(
            F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True
        )
        .over(w)
        .alias("asof_ts"),
    )
    gap = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(F.col("asof_ts"))
    return (
        tagged.where(F.col("side") == 1)
        .select(
            "click_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("asof_id").alias("prior_purchase_id"),
            F.when(F.col("asof_id").isNotNull(), gap).alias("gap_seconds"),
        )
        .orderBy("click_id")
    )


@query(
    "J10_bloom_semijoin",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           COUNT(*) AS n_lineitems,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 400000
    GROUP BY o.o_orderpriority
    ORDER BY priority
    """,
)
def j10_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-runtime-filter join — the semi-join reduction every
    distributed engine applies before shuffling a fact table against a
    selective dimension: the qualifying order keys' Bloom filter (T23's
    sparse set-bit sketch, bounded at 64Ki rows regardless of input
    size) is broadcast and probed map-side, so only lineitem rows that
    MIGHT join ever enter the shuffle; the exact join afterwards
    removes the false positives, making the result provably identical
    to the plain join (no false negatives — the Bloom guarantee,
    invariant-tested in test_extensions).

    The probe is K chained LEFT-SEMI joins against the broadcast
    set-bit table (a row survives iff every one of its K positions is
    set) — each is a map-side BroadcastHashJoin that preserves rows and
    never shuffles the fact side; a distinct-then-join-back probe would
    broadcast the fact table's key set, unbounded at 100 TB.

    Spark's own `spark.sql.optimizer.runtimeFilter.bloomFilter` does
    this transparently when statistics justify it; spelling it as an
    operator makes the reduction available where the optimizer can't
    see the selectivity (a filter the dimension acquires at runtime, a
    key list from another system) and keeps the sketch cross-engine
    verifiable.  At 100 TB the win is the shuffle: ~1.5% of orders
    qualify here, so ~98% of the fact rows drop before the exchange."""
    from biodiversity_graph_db_spark.extensions.sketches import (
        BLOOM_K,
        bloom_build,
        bloom_pos,
    )

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    qual = o.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 400000)
    ).select("o_orderkey", "o_orderpriority")
    bloom = bloom_build(
        qual.select(F.col("o_orderkey").alias("k")), "k"
    ).transform(cut)  # bounded (<= BLOOM_WIDTH rows); feeds K probes
    pruned = li
    for j in range(BLOOM_K):
        pruned = pruned.join(
            F.broadcast(bloom),
            bloom_pos(F.col("l_orderkey"), j) == F.col("pos"),
            "left_semi",
        )
    return (
        pruned.join(qual, pruned.l_orderkey == qual.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_lineitems"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("priority")
    )


@query(
    "J11_band_join",
    oracle="""
    WITH a AS (
      SELECT event_id AS a_id, value AS va FROM events
      WHERE event_type = 'click' AND event_id % 7 = 0
    ),
    b AS (
      SELECT event_id AS b_id, value AS vb FROM events
      WHERE event_type = 'purchase' AND event_id % 11 = 0
    ),
    prs AS (
      SELECT a_id, b_id, va, vb FROM a JOIN b
        ON abs(va - vb) <= 0.25
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT a_id) AS BIGINT) AS n_a_matched,
           CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_b_matched,
           CAST(COALESCE(SUM(CAST(FLOOR(va * 100) AS BIGINT)
                             + CAST(FLOOR(vb * 100) AS BIGINT)), 0)
                AS BIGINT) AS value_checksum
    FROM prs
    """,
)
def j11_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAND (epsilon-range) join — pairs of click/purchase events whose
    values lie within ±0.25 of each other, the non-equi join class
    (price matching, sensor alignment, tolerance reconciliation) that a
    naive engine executes as a cartesian product with a filter.

    BINNING spelling: each row maps to the ``floor(value/eps)`` integer
    bucket; a qualifying pair differs by at most one bucket, so probing
    the three adjacent buckets (a 3x bounded explode on the smaller
    side) turns the inequality into an EQUI-join on the bucket id, then
    an exact |va−vb| <= eps refine — the grid-index filter-refine
    pattern spatial.py's GEO3 uses in 2D, here in 1D (cf. DuckDB's IEJoin
    and Spark's own range-join hints for the same class).  Each pair
    survives in exactly ONE probe bucket (the one equal to b's bucket),
    so no dedup pass is needed.  Plan-tested: no CartesianProduct, no
    BroadcastNestedLoopJoin.  Scale: shuffle keyed by bucket id; fan-out
    fixed at 3; skewed value clusters surface as bucket skew, the
    PR2->A11 salting recipe applies unchanged."""
    ev = table(spark, sf_dir, "events")
    eps = 0.25
    a = ev.where(
        (F.col("event_type") == "click") & (F.col("event_id") % 7 == 0)
    ).select(
        F.col("event_id").alias("a_id"),
        F.col("value").alias("va"),
        F.floor(F.col("value") / eps).cast("long").alias("a_bucket"),
    )
    b = ev.where(
        (F.col("event_type") == "purchase") & (F.col("event_id") % 11 == 0)
    ).select(
        F.col("event_id").alias("b_id"),
        F.col("value").alias("vb"),
        F.floor(F.col("value") / eps).cast("long").alias("b_bucket"),
    )
    probes = a.select(
        "a_id",
        "va",
        F.explode(
            F.array(
                F.col("a_bucket") - 1, F.col("a_bucket"), F.col("a_bucket") + 1
            )
        ).alias("bucket"),
    )
    pairs = probes.join(
        b, probes["bucket"] == b["b_bucket"]
    ).where(F.abs(F.col("va") - F.col("vb")) <= eps)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("a_id").cast("long").alias("n_a_matched"),
        F.countDistinct("b_id").cast("long").alias("n_b_matched"),
        F.coalesce(
            F.sum(
                F.floor(F.col("va") * 100).cast("long")
                + F.floor(F.col("vb") * 100).cast("long")
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("value_checksum"),
    )


# --- Q3/Q5: the classic multiway star-join shapes ---------------------------
# Q1 (aggregations.py) covers the fact-table scan+agg shape; these two
# cover the join-PLANNING shapes a warehouse engine is judged on — Q3 =
# selective dimension filter driving a 3-way join into a grouped top-k,
# Q5 = a 6-table star where three bounded dimensions must broadcast
# while the two fact tables shuffle on their keys.


@query(
    "Q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority top-10 (TPC-H Q3 shape): a selective dimension
    predicate (one market segment) drives a customer⋈orders⋈lineitem
    pipeline into a per-order revenue rollup and a top-10.

    Scale shape: the segment filter lands IN the customer scan
    (pushed-down predicate); the customer⋈orders join carries NO
    broadcast hint — customer grows with scale factor, so the planner
    (size estimate + AQE) broadcasts it at bench SFs and shuffles both
    sides on the customer key at 100 TB; the orders⋈lineitem join
    shuffles on the order key with both date filters pushed into their
    scans; and the top-10 is a TakeOrderedAndProject over the grouped
    rollup — never a full sort.  The projection sits BEFORE the
    orderBy/limit so the ordered top-10 is the terminal operator (a
    trailing select could let a plan change reorder the rows).
    Revenue is the scaled-integer sum, so the top-10 cutoff is
    order-insensitive (ties broken by date then key)."""
    c = table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            o.join(c.select("c_custkey"),
                   F.col("o_custkey") == F.col("c_custkey"))
            .select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(rev).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "Q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume (TPC-H Q5 shape): six tables — two facts
    (orders, lineitem) and four bounded dimensions — rolled up to
    per-nation revenue where customer and supplier share a nation
    inside one region.

    Scale shape: region (5 rows) and the region-pruned nation (≤25
    rows) are FIXED-cardinality dimensions — those two carry explicit
    broadcast hints because they are bounded at any scale.  Supplier
    and customer grow with scale factor, so their joins carry NO hint:
    the planner (size estimate + AQE) broadcasts them at bench SFs and
    falls back to key-shuffles at 100 TB.  The orders⋈lineitem
    fact-fact join shuffles on the order key with the date window
    pushed into the orders scan."""
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r.select("r_regionkey")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            c.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            s.select("s_suppkey", "s_nationkey", "n_name"),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(rev).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "Q17_small_quantity_revenue",
    oracle=f"""
    WITH avgq AS (
      SELECT l_partkey,
             {sql_davg('l_quantity')} AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l.l_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_small_lines,
           {sql_dsum('l.l_extendedprice')} AS small_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#1'
    JOIN avgq a ON a.l_partkey = l.l_partkey
    WHERE l.l_quantity < {sql_dquant('0.2 * avg_qty')}
    GROUP BY l.l_partkey
    ORDER BY l.l_partkey
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape): lineitems whose
    quantity is below 20% of their part's average — the CORRELATED
    scalar-subquery shape, written in its decorrelated form (the
    rewrite every optimizer performs): aggregate the fact once per
    part key, broadcast the bounded per-part average back onto the
    same fact, filter, roll up.

    Scale shape: the per-part average is a map-side-combinable
    aggregate (one fact shuffle down to |parts| rows); its rejoin onto
    the fact carries NO broadcast hint — |parts| grows with scale
    factor, so the planner's size estimate broadcasts it at bench SFs
    while at 100 TB the rejoin becomes a partkey-co-partitioned
    shuffle join (both sides hash on l_partkey; the aggregate side
    arrives pre-partitioned from its own groupBy).  The brand filter
    is pushed into the part scan; that dimension join is also left to
    the planner.  Nothing row-expands.  The threshold comparison
    quantizes the average to the 4-dp grid (sql_dquant) so the <
    cutoff binds identically in both engines."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    avgq = li.groupBy("l_partkey").agg(davg("l_quantity").alias("avg_qty"))
    return (
        li.join(p.select("p_partkey"),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(avgq, "l_partkey")
        .where(F.col("l_quantity") < dquant(0.2 * F.col("avg_qty")))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_small_lines"),
            dsum("l_extendedprice").alias("small_revenue"),
        )
        .orderBy("l_partkey")
    )


@query(
    "Q4_priority_exists",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority counts for orders with at least one large
    lineitem (TPC-H Q4 shape): the EXISTS correlated subquery, written
    as its decorrelated LEFT SEMI join — the rewrite that matters at
    scale because EXISTS must never duplicate the outer row no matter
    how many inner matches there are (a plain inner join + distinct
    re-aggregates the fact twice; the semi join short-circuits per
    key).

    Scale shape: both predicates push into their scans (date window on
    orders, quantity on lineitem); the semi join shuffles each side
    once on the order key and emits each qualifying order exactly
    once; the rollup is a 5-row combinable aggregate."""
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= 45)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        o.join(li, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# --- Round 9: TPC-H completion wave ------------------------------------------
# The remaining classic join-planning shapes expressible over the synthetic
# schema (no partsupp table exists, so Q2/Q9/Q11/Q16/Q20 are out of scope;
# Q12/Q21/Q22 substitute an existing fact attribute for the missing
# shipmode/commit-receipt/phone columns while keeping the SHAPE — the
# conditional two-way count, the exists/not-exists self-join, the
# scalar-subquery + anti-join — which is what the planner is graded on).


@query(
    "Q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue change (TPC-H Q6 shape): the pure filter-and-
    aggregate query — no join at all, the canonical predicate-pushdown
    probe.

    Scale shape: all three predicates land in the parquet scan
    (PushedFilters: shipdate range, discount range, quantity bound —
    plan-tested), the projection prunes to the three referenced
    columns, and the whole query is one map-side-combinable global
    aggregate: at 100 TB it reads only row groups whose min/max
    straddle the window and moves ONE partial row per partition."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue")
    )


@query(
    "Q7_volume_shipping",
    oracle=f"""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY sn.n_name, cn.n_name, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping between two nations (TPC-H Q7 shape): the
    two-role dimension pattern — nation joins BOTH fact sides
    (supplier's and customer's), with a disjunctive cross-side
    predicate that no single scan can absorb.

    Scale shape: the two nation joins broadcast (≤25 rows each, fixed
    at any scale — explicit hints are earned here, unlike customer/
    supplier); the date window pushes into the lineitem scan; the
    nation-pair disjunction evaluates right after the last dimension
    join, BEFORE the rollup, so only qualifying rows shuffle into the
    4-group aggregate.  Year extraction is a scan-side expression, not
    a join."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    cn = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("cn_key"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_1")
        & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2")
        & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .join(cn, F.col("c_nationkey") == F.col("cn_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dsum(rev).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "Q8_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000)
                  AS BIGINT) AS v,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = cn.n_regionkey
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA'
        AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN v ELSE 0 END)
                AS BIGINT) AS nation_vol_x10000,
           CAST(SUM(v) AS BIGINT) AS total_vol_x10000,
           FLOOR(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN v
                          ELSE 0 END) AS BIGINT)
                 / CAST(SUM(v) AS BIGINT) * 10000) / 10000 AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape): one supplier nation's
    fraction of a region's revenue in one part type, per year — the
    eight-table star with a conditional-over-total ratio.

    Scale shape: region and both nation roles broadcast (bounded);
    part's type filter pushes into its scan and that join is left to
    the planner (part grows with SF); the order-date window pushes
    into orders; the two fact joins shuffle on their keys.  The ratio
    is exact-integer numerator/denominator (scaled BIGINT sums) so no
    float summation order can move it; the division is one double op
    on identical operands in both engines, floor-quantized for the
    hash gate."""
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    n = table(spark, sf_dir, "nation")
    cn = n.join(
        F.broadcast(r.select("r_regionkey")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("cn_key"))
    sn = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    p = table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = table(spark, sf_dir, "lineitem")
    v = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", v).otherwise(F.lit(0))
    ).cast("long")
    den = F.sum(v).cast("long")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(p.select("p_partkey"), F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            num.alias("nation_vol_x10000"),
            den.alias("total_vol_x10000"),
        )
        .withColumn(
            "mkt_share",
            F.floor(
                F.col("nation_vol_x10000")
                / F.col("total_vol_x10000")
                * 10000
            )
            / 10000,
        )
        .orderBy("o_year")
    )


@query(
    "Q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           {sql_dquant('MAX(c.c_acctbal)')} AS c_acctbal
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting (TPC-H Q10 shape): the top-20 customers
    by revenue LOST to returns in one quarter — a selective fact
    predicate (returnflag), a date-windowed fact-fact join, a grouped
    rollup keyed by a DIMENSION composite, and a top-k.

    Scale shape: returnflag and the date window push into their scans;
    orders⋈lineitem shuffles on the order key; the customer join is
    left to the planner (grows with SF) while nation broadcasts
    (bounded); the top-20 is TakeOrderedAndProject over the grouped
    rollup, never a full sort.  The rollup key includes the customer
    attributes so no second join is needed after aggregation —
    group-by-then-join-back would shuffle twice for the same answer.
    The final select precedes the orderBy/limit (the Q3 ordering
    rule)."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    n = F.broadcast(
        table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            o.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(rev).alias("revenue"),
            dquant(F.max("c_acctbal")).alias("c_acctbal"),
        )
        .select("c_custkey", "c_name", "n_name", "revenue", "c_acctbal")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "Q12_priority_line_counts",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
)
def q12_priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority line counts per line status (TPC-H Q12 shape: the
    synthetic schema has no l_shipmode/commit/receipt dates, so the
    grouping key is l_linestatus and the window is the ship year —
    the SHAPE is Q12's conditional two-way count over one fact-fact
    join, which is what the plan is graded on).

    Scale shape: the date window pushes into the lineitem scan; ONE
    order-key shuffle join; both counts are conditional aggregates in
    the SAME map-side-combinable pass (two stacked filtered
    aggregations would scan and shuffle twice); the result is
    |linestatus| rows."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "Q13_customer_order_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_order_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape; the
    synthetic orders have no o_comment, so the excluded class is the
    '5-LOW' priority — the point is the JOIN-side predicate, which
    must live in the join/inner scan, NOT a post-join filter, or the
    zero-order customers vanish).

    Scale shape: a LEFT outer join that PRESERVES zero-match customers
    (an inner join + count would silently drop the empty bucket — the
    exact bug Q13 exists to catch), then two stacked aggregations:
    per-customer count (shuffles on the customer key the join already
    produced) and the |distinct counts|-row distribution.  COUNT of a
    nullable key counts matches only — no null-handling case needed."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "5-LOW")
        .select("o_custkey", "o_orderkey")
    )
    return (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "Q14_promo_revenue",
    oracle="""
    WITH v AS (
      SELECT CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000)
                  AS BIGINT) AS rv,
             p.p_type
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
    )
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rv ELSE 0 END)
                AS BIGINT) AS promo_vol_x10000,
           CAST(SUM(rv) AS BIGINT) AS total_vol_x10000,
           FLOOR(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rv ELSE 0 END)
                      AS BIGINT)
                 / CAST(SUM(rv) AS BIGINT) * 10000) / 10000 AS promo_frac
    FROM v
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue fraction (TPC-H Q14 shape): the share of one
    month's revenue carried by promotional parts — one fact⋈dimension
    join feeding a conditional-over-total global ratio.

    Scale shape: the one-month window pushes into the lineitem scan
    (at 100 TB this is the partition-pruning predicate); the part join
    is left to the planner; numerator and denominator are exact scaled
    BIGINTs accumulated in ONE pass — Q8's ratio discipline — and the
    single-row division is quantized for the hash gate."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01 00:00:00").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rv = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rv).otherwise(F.lit(0)))
            .cast("long")
            .alias("promo_vol_x10000"),
            F.sum(rv).cast("long").alias("total_vol_x10000"),
        )
        .withColumn(
            "promo_frac",
            F.floor(
                F.col("promo_vol_x10000") / F.col("total_vol_x10000") * 10000
            )
            / 10000,
        )
    )


@query(
    "Q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM rev r
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier by quarter revenue (TPC-H Q15 shape): the
    view-then-scalar-max pattern — a grouped revenue view consumed
    twice, once for the global max and once for the equality filter.

    Scale shape: the quarter window pushes into the scan; ONE suppkey
    shuffle builds the |suppliers|-row revenue view; the max is a
    1-row aggregate of that view broadcast back (never a re-scan of
    the fact — the classic Q15 trap is computing the view twice), and
    the supplier dimension join is left to the planner.  Revenue is
    the scaled-integer sum, so the max-equality binds identically in
    both engines — with floats, `= MAX()` is exactly the comparison
    that silently diverges."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
        .transform(cut)  # consumed twice: max subquery + filter
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "Q18_large_volume_customer",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 250
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           CAST(FLOOR(o.o_totalprice * 10000) AS BIGINT)
             AS o_totalprice_x10000,
           b.sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o_totalprice_x10000 DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (TPC-H Q18 shape): orders whose total
    quantity exceeds a threshold, with their customers — the
    HAVING-driven semi-reduction: the fact aggregates FIRST, and only
    the surviving ~1% of order keys join the dimensions.

    Scale shape: one order-key shuffle aggregates the fact to
    |orders| rows; the HAVING filter drops 99% of them BEFORE any
    join (aggregate-then-join, never join-then-aggregate — joining
    raw lineitem to customer first would shuffle the wide row 4×);
    the two dimension joins are left to the planner; the top-100 is
    TakeOrderedAndProject.  Quantities are integral in this corpus
    (checked), so SUM is exact in any order; the threshold binds
    identically in both engines."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qsum"))
        .where(F.col("qsum") > 250)
        .select("l_orderkey", F.col("qsum").cast("long").alias("sum_qty"))
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.floor(F.col("o_totalprice") * 10000)
            .cast("long")
            .alias("o_totalprice_x10000"),
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice_x10000"), "o_orderkey")
        .limit(100)
    )


@query(
    "Q19_discounted_revenue",
    oracle=f"""
    SELECT {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue under disjunctive terms (TPC-H Q19 shape):
    an OR of three brand/size/quantity conjunctions spanning BOTH join
    sides — the disjunctive-predicate planning probe.

    Scale shape: the per-side implications of the disjunction ARE
    derivable (quantity ∈ [1,30] on the fact, size ∈ [1,50] + brand ∈
    {1,2,3} on the dimension) and Spark pushes those weakened
    single-side filters into both scans while the full cross-side OR
    evaluates after the join — the standard disjunction factoring; the
    join itself is a plain partkey equi-join (never a per-term union
    of three joins, which would scan the fact three times)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    term = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= smax)
        & (F.col("l_quantity") >= qlo)
        & (F.col("l_quantity") <= qhi)
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .where(
            term("Brand#1", 15, 1, 11)
            | term("Brand#2", 25, 10, 20)
            | term("Brand#3", 50, 20, 30)
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@query(
    "Q21_sole_blame_supplier",
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey AND s.s_nationkey = 1
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_sole_blame_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers solely to blame on multi-supplier orders (TPC-H Q21
    shape; the synthetic lineitem has no commit/receipt dates, so
    "kept waiting" is proxied by l_returnflag='R' — the SHAPE is
    Q21's signature: one nation-filtered fact side, an EXISTS
    self-join and a NOT-EXISTS self-join on the same fact, then a
    grouped top-k).

    Scale shape: the returnflag + nation filters reduce the outer side
    before either self-join; both the semi and the anti join shuffle
    on the SAME order key (one exchange reused across both joins in
    the executed plan), each with the supplier-inequality as a join
    residual — never a row-expanding inner join + distinct; the
    rollup is |suppliers|-bounded and the top-20 is
    TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier").where(F.col("s_nationkey") == 1)
    l1 = (
        li.where(F.col("l_returnflag") == "R")
        .join(
            s.select("s_suppkey", "s_name"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("l_orderkey", "l_suppkey", "s_name")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("sk2")
    )
    l3 = (
        li.where(F.col("l_returnflag") == "R")
        .select(
            F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("sk3")
        )
    )
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2"))
            & (F.col("l_suppkey") != F.col("sk2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("sk3")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "Q22_dormant_balance",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {sql_davg('c_acctbal')} AS ab
      FROM customer WHERE c_acctbal > 0
    )
    SELECT CAST(c.c_nationkey % 5 AS BIGINT) AS cntry,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {sql_dsum('c.c_acctbal')} AS totacctbal
    FROM customer c, avg_bal a
    WHERE c.c_acctbal > a.ab
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00'
      )
    GROUP BY cntry
    ORDER BY cntry
    """,
)
def q22_dormant_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormant high-balance customers (TPC-H Q22 shape; the synthetic
    customer has no phone, so the country bucket is nationkey mod 5,
    and "no orders" is scoped to the trailing window because every
    synthetic customer has SOME order — the SHAPE is Q22's signature:
    a scalar-average subquery gating the dimension, an anti join
    against the fact, and a small rollup).

    Scale shape: the positive-balance average is a 1-row broadcast
    (never a driver collect); the balance comparison uses the davg
    quantized spelling so the > threshold binds identically in both
    engines; the anti join pushes its date window into the orders scan
    and shuffles on the customer key; the rollup is 5 rows."""
    c = table(spark, sf_dir, "customer")
    avg_bal = F.broadcast(
        c.where(F.col("c_acctbal") > 0).agg(davg("c_acctbal").alias("ab"))
    )
    o = (
        table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate")
            >= F.lit("2000-06-01 00:00:00").cast("timestamp")
        )
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        c.crossJoin(avg_bal)
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(o, "c_custkey", "left_anti")
        .groupBy((F.col("c_nationkey") % 5).cast("long").alias("cntry"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("cntry")
    )


# --- Q2/Q9/Q11/Q16/Q20: the partsupp join shapes (VERDICT r9 item 3) --------
# The driver's synthetic schema ships no partsupp table, so the five
# TPC-H queries that need one could not be registered (COVERAGE.md r9).
# Instead of skipping the join SHAPES they exercise — the correlated
# min-cost subquery (Q2), the three-fact profit rollup (Q9), the
# grouped-having-over-scalar (Q11), the distinct-count anti-join (Q16)
# and the nested semi-chain (Q20) — partsupp is DERIVED, deterministically,
# from the keys both engines already share:
#
#   for i in 0..3:  ps_suppkey(p, i) = (p_partkey + i * (S DIV 4)) % S
#
# where S = |supplier|.  The four suppkeys are distinct for any S >= 4:
# 0 < d * (S DIV 4) < S for d in 1..3 (since S DIV 4 >= 1 and
# 3 * (S DIV 4) <= 3S/4 < S), so the four residues never collide —
# the same per-part-4-suppliers cardinality contract as TPC-H's
# spec §4.2.3 supplier(i) generator, in a spelling both engines replay
# exactly.  Quantity and cost come from key-mixed integer formulas
# (availqty 1..9999; cost 100..100000 integer CENTS so money math
# stays in BIGINT until the output boundary):
#
#   ps_availqty   = (p * 47  + s * 31)   % 9999  + 1
#   ps_cost_cents = (p * 131 + s * 2971) % 99901 + 100
#
# Scale shape: partsupp is GENERATED, never stored — a 4-way explode
# over a two-column part scan (narrow projection, no shuffle, no join
# against supplier rows; only supplier's COUNT, a parquet-metadata
# scalar).  At 100 TB it pipelines into whichever join consumes it,
# costing 4 rows per part and nothing else.

_PS_ARITY = 4


def partsupp_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived partsupp relation (see block comment above)."""
    s_cnt = table(spark, sf_dir, "supplier").count()
    if s_cnt < _PS_ARITY:
        # The distinctness proof above requires S >= 4 (S DIV 4 >= 1);
        # below that, step = 0 collapses the four suppkeys (and S = 0
        # makes `% s_cnt` a modulo-by-zero).  Fail loudly rather than
        # silently violating the 4-distinct-suppkeys-per-part contract
        # Q9/Q16 rely on.  (ADVICE r10.)
        raise ValueError(
            f"partsupp_df requires |supplier| >= {_PS_ARITY}, got {s_cnt}"
        )
    step = s_cnt // _PS_ARITY
    p = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("ps_partkey")
    )
    sk = (F.col("ps_partkey") + F.col("i") * step) % s_cnt
    return (
        p.select(
            "ps_partkey",
            F.explode(
                F.array(*[F.lit(i) for i in range(_PS_ARITY)])
            ).alias("i"),
        )
        .select("ps_partkey", sk.cast("long").alias("ps_suppkey"))
        .select(
            "ps_partkey",
            "ps_suppkey",
            (
                (F.col("ps_partkey") * 47 + F.col("ps_suppkey") * 31) % 9999
                + 1
            )
            .cast("long")
            .alias("ps_availqty"),
            (
                (F.col("ps_partkey") * 131 + F.col("ps_suppkey") * 2971)
                % 99901
                + 100
            )
            .cast("long")
            .alias("ps_cost_cents"),
        )
    )


# The DuckDB spelling of the same relation, shared by the five oracles.
_PARTSUPP_CTE = """
    ps0 AS (
      SELECT p.p_partkey AS ps_partkey,
             CAST((p.p_partkey + t.i * (sc.cnt // 4)) % sc.cnt AS BIGINT)
               AS ps_suppkey
      FROM part p
      CROSS JOIN (SELECT unnest(range(4)) AS i) t
      CROSS JOIN (SELECT COUNT(*) AS cnt FROM supplier) sc
    ),
    partsupp AS (
      SELECT ps_partkey, ps_suppkey,
             CAST((ps_partkey * 47 + ps_suppkey * 31) % 9999 + 1 AS BIGINT)
               AS ps_availqty,
             CAST((ps_partkey * 131 + ps_suppkey * 2971) % 99901 + 100
                  AS BIGINT) AS ps_cost_cents
      FROM ps0
    )
"""


@query(
    "Q2_min_cost_supplier",
    oracle=f"""
    WITH {_PARTSUPP_CTE.strip()},
    elig AS (
      SELECT ps.ps_partkey, ps.ps_cost_cents,
             s.s_name, s.s_acctbal, n.n_name
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    cand AS (
      SELECT e.*, p.p_brand FROM elig e
      JOIN part p ON p.p_partkey = e.ps_partkey
      WHERE p.p_type = 'PROMO' AND p.p_size < 10
    ),
    mc AS (
      SELECT ps_partkey, MIN(ps_cost_cents) AS min_cents
      FROM cand GROUP BY ps_partkey
    )
    SELECT {sql_dquant('c.s_acctbal')} AS s_acctbal, c.s_name, c.n_name,
           c.ps_partkey AS p_partkey, c.p_brand, c.ps_cost_cents
    FROM cand c
    JOIN mc ON mc.ps_partkey = c.ps_partkey
           AND c.ps_cost_cents = mc.min_cents
    ORDER BY s_acctbal DESC, c.n_name, c.s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier (TPC-H Q2 shape, spec §B.2: the correlated
    min-cost subquery): for each qualifying part, the European
    supplier(s) offering it at the region-wide minimum cost.

    Scale shape: the correlated subquery is DECORRELATED the way a
    warehouse engine should — a per-part MIN WINDOW over the
    already-filtered candidate set, then one filter — never a per-part
    re-scan.  The window spelling (vs grouped-MIN + join-back) costs
    ONE partkey shuffle and reads the candidate subtree ONCE; the
    join-back spelling either re-runs the whole 4-join subtree per
    consumer (the Q15 double-compute trap — the r10 funnel sweep
    caught exactly that as a 10-scan plan) or needs a checkpoint.
    Region (5 rows) and the region-pruned nation broadcast explicitly
    (bounded at any scale); supplier and part grow with SF so their
    joins carry NO hint (AQE broadcasts at bench SFs, shuffles at
    100 TB).  partsupp is the generated relation (see block comment
    above): 4 rows per part, pipelined, never stored.  The part
    predicates land in the part scan (plan-pinned — visible because
    nothing is checkpointed); the top-100 is TakeOrderedAndProject
    over the quantized-acctbal sort key, total order guaranteed by
    (s_name, p_partkey) tiebreak."""
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r.select("r_regionkey")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    p = (
        table(spark, sf_dir, "part")
        .where((F.col("p_type") == "PROMO") & (F.col("p_size") < 10))
        .select("p_partkey", "p_brand")
    )
    cand = (
        partsupp_df(spark, sf_dir)
        .join(
            s.select("s_suppkey", "s_name", "s_acctbal", "n_name"),
            F.col("ps_suppkey") == F.col("s_suppkey"),
        )
        .join(p, F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            "ps_partkey", "ps_cost_cents", "s_name", "s_acctbal",
            "n_name", "p_brand",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("ps_partkey")
    return (
        cand.withColumn("min_cents", F.min("ps_cost_cents").over(w))
        .where(F.col("ps_cost_cents") == F.col("min_cents"))
        .select(
            dquant("s_acctbal").alias("s_acctbal"),
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_brand",
            "ps_cost_cents",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "Q9_product_profit",
    oracle=f"""
    WITH {_PARTSUPP_CTE.strip()}
    SELECT n.n_name AS nation,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           {sql_dsum(
               "l.l_extendedprice * (1 - l.l_discount)"
               " - (ps.ps_cost_cents / 100.0) * l.l_quantity"
           )} AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN partsupp ps ON ps.ps_partkey = l.l_partkey
                    AND ps.ps_suppkey = l.l_suppkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit rollup (TPC-H Q9 shape): profit =
    revenue minus supply cost, per supplier nation per order year, for
    one part family — the widest join tree in the suite (lineitem ⋈
    part ⋈ partsupp ⋈ supplier ⋈ orders ⋈ nation).

    Scale shape: the name filter prunes part BEFORE any join; the
    partsupp composite-key join ((partkey, suppkey) — the Q9
    signature) rides the generated relation, 4 rows per part, and
    shuffles on the same partkey the part join already used; supplier
    and orders joins shuffle on their own keys (no hints — both grow
    with SF); nation broadcasts (25 rows).  Supply cost stays in
    integer cents inside the profit expression; the rollup is
    |nations| x |years| rows, map-side combinable via dsum's
    scaled-integer partial."""
    p = (
        table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%bolt%"))
        .select("p_partkey")
    )
    ps = partsupp_df(spark, sf_dir)
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li = table(spark, sf_dir, "lineitem")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - (F.col("ps_cost_cents") / 100.0) * F.col("l_quantity")
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            ps,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(profit).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "Q11_important_stock",
    oracle=f"""
    WITH {_PARTSUPP_CTE.strip()},
    filt AS (
      SELECT ps.ps_partkey,
             ps.ps_availqty * ps.ps_cost_cents AS v
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      WHERE s.s_nationkey % 5 = 1
    ),
    grouped AS (
      SELECT ps_partkey, CAST(SUM(v) AS BIGINT) AS value_cents
      FROM filt GROUP BY ps_partkey
    ),
    scal AS (
      SELECT CAST(SUM(value_cents) AS BIGINT) AS tot,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM grouped
    )
    SELECT g.ps_partkey, g.value_cents
    FROM grouped g, scal
    WHERE g.value_cents * scal.n > 2 * scal.tot
    ORDER BY g.value_cents DESC, g.ps_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock identification (TPC-H Q11 shape: the
    grouped-HAVING over a scalar subquery): per-part stock value for
    one supplier country group, keeping parts whose value exceeds
    twice the mean per-part value.

    Scale shape: stock value is PURE INTEGER (cents x qty), so the
    scalar threshold compares exactly in both engines with no float
    epsilon (value*n > 2*tot — the cross-multiplied spelling of
    value > 2*tot/n).  The scalar (tot, n) is a 1-row broadcast over
    the grouped table (the Q22 avg-balance discipline — never a
    driver collect); the supplier country filter prunes the generated
    partsupp before grouping; the rollup shuffles once on partkey.
    TPC-H's fixed FRACTION/SF threshold is replaced by the
    data-derived 2x-mean so the query returns a stable head at every
    SF (a fixed fraction empties at 100x and floods at 0.01x)."""
    s = (
        table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") % 5 == 1)
        .select("s_suppkey")
    )
    # grouped feeds TWO consumers (the scalar and the HAVING filter) —
    # cut it once or the partsupp join+rollup re-runs per consumer
    # (caught by the r10 funnel sweep as a doubled scan set)
    grouped = cut(
        partsupp_df(spark, sf_dir)
        .join(s, F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(F.col("ps_availqty") * F.col("ps_cost_cents"))
            .cast("long")
            .alias("value_cents")
        )
    )
    scal = F.broadcast(
        grouped.agg(
            F.sum("value_cents").cast("long").alias("tot"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    return (
        grouped.crossJoin(scal)
        .where(F.col("value_cents") * F.col("n") > 2 * F.col("tot"))
        .select("ps_partkey", "value_cents")
        .orderBy(F.desc("value_cents"), "ps_partkey")
    )


@query(
    "Q16_supplier_relationship",
    oracle=f"""
    WITH {_PARTSUPP_CTE.strip()}
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND ps.ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 3
      )
    GROUP BY p.p_brand, p.p_type, p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p_size
    """,
)
def q16_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts/supplier relationship (TPC-H Q16 shape: the
    distinct-count anti-join): how many distinct suppliers can supply
    each (brand, type, size) bucket, excluding a blacklisted supplier
    set (the synthetic supplier has no comment column, so TPC-H's
    '%Customer%Complaints%' predicate becomes the deterministic
    key-residue s_suppkey % 7 = 3 — same shape, scale-stable
    selectivity).

    Scale shape: the blacklist is a LEFT ANTI join against a
    key-filtered supplier projection (never NOT IN's
    null-propagating semantics — keys are non-null by construction,
    so anti-join and NOT IN agree); part predicates prune in the part
    scan; the distinct count shuffles once on the group key with
    partial aggregation below it."""
    bad = (
        table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") % 7 == 3)
        .select(F.col("s_suppkey").alias("bk"))
    )
    p = (
        table(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#13")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        partsupp_df(spark, sf_dir)
        .join(bad, F.col("ps_suppkey") == F.col("bk"), "left_anti")
        .join(p, F.col("ps_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(
            F.countDistinct("ps_suppkey").cast("long").alias("supplier_cnt")
        )
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "Q20_excess_stock",
    oracle=f"""
    WITH {_PARTSUPP_CTE.strip()},
    shipped AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(FLOOR(l_quantity * 10000) AS BIGINT)) AS qty_scaled
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey
    ),
    excess AS (
      SELECT DISTINCT ps.ps_suppkey
      FROM partsupp ps
      JOIN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%') p
        ON p.p_partkey = ps.ps_partkey
      LEFT JOIN shipped sh ON sh.l_partkey = ps.ps_partkey
                          AND sh.l_suppkey = ps.ps_suppkey
      WHERE ps.ps_availqty * 20000 > COALESCE(sh.qty_scaled, 0)
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN excess e ON e.ps_suppkey = s.s_suppkey
    WHERE s.s_nationkey % 5 = 1
    ORDER BY s.s_suppkey
    """,
)
def q20_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excess-stock suppliers (TPC-H Q20 shape: the nested semi-join
    chain): suppliers in one country group holding more than half a
    year's shipments of any 'small%' part they stock.

    Scale shape: the correlated half-of-shipments subquery is
    decorrelated into ONE grouped rollup over the date-pruned lineitem
    scan (shuffle on (partkey, suppkey)), LEFT-joined so a
    never-shipped (part, supplier) counts as excess stock (both
    engines spell the same COALESCE(qty, 0), so the NULL semantics
    TPC-H leaves engine-ambiguous are pinned); the part-name filter
    enters as a LEFT SEMI join (never an inner join + distinct — the
    semi keeps partsupp's row bound); quantity crosses engines in
    floor-scaled integer units (availqty*20000 vs per-row-floored
    sum).  The final supplier filter is a semi join against the
    distinct excess-supplier set, |suppliers|-bounded."""
    li = table(spark, sf_dir, "lineitem").where(
        (
            F.col("l_shipdate")
            >= F.lit("1997-01-01 00:00:00").cast("timestamp")
        )
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.floor(F.col("l_quantity") * 10000).cast("long"))
        .cast("long")
        .alias("qty_scaled")
    )
    small = (
        table(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    excess = (
        partsupp_df(spark, sf_dir)
        .join(small, F.col("ps_partkey") == F.col("p_partkey"), "left_semi")
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
            "left",
        )
        .where(
            F.col("ps_availqty") * 20000
            > F.coalesce(F.col("qty_scaled"), F.lit(0))
        )
        .select("ps_suppkey")
        .distinct()
    )
    return (
        table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") % 5 == 1)
        .join(excess, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )
