"""Data profiling — the look-before-you-ingest pass: per-column row /
null / distinct counts and deterministic min/max, in ONE scan.

Every pipeline stage in this engine assumes schema discipline the
reference enforces by construction (typed DUs); profiling is how the
same discipline is checked on ARRIVING data — the S9/S13 connectors'
untyped CSV/BibTeX rows, a vendor parquet drop, a backfill.  At 100 TB
the operative constraint is one pass: the profile below compiles to a
single aggregation over the scan (Spark plans the multi-distinct as an
Expand + two-phase aggregate — still one read of the data), never one
job per column.

Determinism rules (the oracle-hash discipline): min/max render through
type-specific deterministic forms — integers/strings verbatim,
doubles through the scaled-int floor, timestamps through
``unix_timestamp`` second truncation — so DuckDB computes the
identical strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biodiversity_graph_db_spark.operators._util import cut, dquant, sql_dquant
from biodiversity_graph_db_spark.registry import query
from biodiversity_graph_db_spark.tables import table


def _col_profile(df: DataFrame, name: str, min_s, max_s) -> DataFrame:
    c = F.col(name)
    return df.agg(
        F.lit(name).alias("column_name"),
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count(c)).cast("long").alias("n_nulls"),
        F.count_distinct(c).alias("n_distinct"),
        min_s.alias("min_s"),
        max_s.alias("max_s"),
    )


def profile_events(df: DataFrame) -> DataFrame:
    """One profile row per column of the events table.  Implemented as
    a union of per-column single-row aggregates; the plan has one scan
    PER BRANCH (Catalyst does not dedupe union subtrees — round-8 plan
    sweep), but each branch's scan is COLUMN-PRUNED to exactly its one
    column, so total bytes read equal ONE scan of all profiled columns
    — the columnar-format property this spelling leans on.  Each
    aggregate is map-side-combinable and its count-distinct shuffles
    only that column's values.  A generic-schema version would instead
    unpivot to (column, value) and group once — one scan pass but one
    fused shuffle; same I/O, fewer jobs, used when the column list is
    wide/unknown."""
    s = F.col

    def istr(name: str, fn) -> F.Column:  # integer/string: verbatim
        return fn(s(name)).cast("string")

    def dstr(name: str, fn) -> F.Column:  # double: scaled-int floor
        return F.floor(fn(s(name)) * 10000).cast("long").cast("string")

    def tstr(name: str, fn) -> F.Column:  # timestamp: epoch seconds
        return fn(F.unix_timestamp(s(name))).cast("string")

    parts = [
        _col_profile(
            df, "event_id", istr("event_id", F.min), istr("event_id", F.max)
        ),
        _col_profile(
            df, "user_id", istr("user_id", F.min), istr("user_id", F.max)
        ),
        _col_profile(
            df,
            "event_type",
            istr("event_type", F.min),
            istr("event_type", F.max),
        ),
        _col_profile(df, "value", dstr("value", F.min), dstr("value", F.max)),
        _col_profile(df, "ts", tstr("ts", F.min), tstr("ts", F.max)),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column_name")


@query(
    "PR1_profile_events",
    oracle="""
    SELECT 'event_id' AS column_name, COUNT(*) AS n_rows,
           CAST(COUNT(*) - COUNT(event_id) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(MIN(event_id) AS VARCHAR) AS min_s,
           CAST(MAX(event_id) AS VARCHAR) AS max_s
    FROM events
    UNION ALL
    SELECT 'user_id', COUNT(*),
           CAST(COUNT(*) - COUNT(user_id) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'event_type', COUNT(*),
           CAST(COUNT(*) - COUNT(event_type) AS BIGINT),
           CAST(COUNT(DISTINCT event_type) AS BIGINT),
           MIN(event_type), MAX(event_type)
    FROM events
    UNION ALL
    SELECT 'value', COUNT(*),
           CAST(COUNT(*) - COUNT(value) AS BIGINT),
           CAST(COUNT(DISTINCT value) AS BIGINT),
           CAST(CAST(FLOOR(MIN(value) * 10000) AS BIGINT) AS VARCHAR),
           CAST(CAST(FLOOR(MAX(value) * 10000) AS BIGINT) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'ts', COUNT(*),
           CAST(COUNT(*) - COUNT(ts) AS BIGINT),
           CAST(COUNT(DISTINCT ts) AS BIGINT),
           CAST(CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS VARCHAR),
           CAST(CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS VARCHAR)
    FROM events
    ORDER BY column_name
    """,
)
def pr1_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the events table — see module docstring."""
    return profile_events(table(spark, sf_dir, "events"))


# --- PR2: join-key skew profile -------------------------------------------

SHARE_UNIT = 1_000_000  # per-key share in parts-per-million
SKEW_UNIT = 10_000  # skew factor at 4 fractional digits


def key_skew_profile(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """Join-key skew profile: per-key counts -> the ``top`` heaviest
    keys, each annotated with its row share, its skew factor vs the
    uniform expectation, and the SALT BUCKET COUNT a skew-mitigating
    repartition of that key would need — the look-before-you-join pass
    that decides, at 100 TB, whether a shuffle join needs salting or
    AQE skew splitting before the job is submitted (a single hot key
    that owns 5% of a 100 TB fact table is a 5 TB straggler task).

    All-integer arithmetic (shares in ppm, skew at 4dp via DIV,
    ceiling as ``(a + b - 1) DIV b``) so a SQL oracle reproduces every
    row exactly.  Returns (rank, key, cnt, share_ppm, n_keys, n_rows,
    skew_x10000, salt_buckets).

    Scale shape: ONE combinable count shuffle on the key (the same
    shuffle the join under study would do, at count-row cost); the
    global totals are a 1-row aggregate broadcast back; the top-k is
    TakeOrderedAndProject (per-partition heaps, never a global sort),
    and the rank window runs over the ``top`` surviving rows only.
    """
    c = F.col
    counts = (
        df.groupBy(c(key).alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
    )
    topk = counts.orderBy(c("cnt").desc(), "key").limit(top)
    w = Window.orderBy(c("cnt").desc(), "key")
    return (
        topk.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            "key",
            c("cnt").cast("long").alias("cnt"),
            F.expr(f"cnt * {SHARE_UNIT} DIV n_rows")
            .cast("long")
            .alias("share_ppm"),
            c("n_keys").cast("long").alias("n_keys"),
            c("n_rows").cast("long").alias("n_rows"),
            F.expr(f"cnt * n_keys * {SKEW_UNIT} DIV n_rows")
            .cast("long")
            .alias("skew_x10000"),
            F.expr("(cnt * n_keys + n_rows - 1) DIV n_rows")
            .cast("long")
            .alias("salt_buckets"),
        )
        .orderBy("rank")
    )


@query(
    "PR2_key_skew",
    oracle=f"""
    WITH c AS (
      SELECT l_suppkey AS key, COUNT(*) AS cnt
      FROM lineitem GROUP BY l_suppkey
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS n_rows
      FROM c
    ),
    topk AS (
      SELECT key, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rank
      FROM c ORDER BY cnt DESC, key LIMIT 10
    )
    SELECT topk.rank, topk.key, CAST(topk.cnt AS BIGINT) AS cnt,
           CAST(topk.cnt * {SHARE_UNIT} // t.n_rows AS BIGINT) AS share_ppm,
           t.n_keys, t.n_rows,
           CAST(topk.cnt * t.n_keys * {SKEW_UNIT} // t.n_rows AS BIGINT)
             AS skew_x10000,
           CAST((topk.cnt * t.n_keys + t.n_rows - 1) // t.n_rows AS BIGINT)
             AS salt_buckets
    FROM topk, t ORDER BY rank
    """,
)
def pr2_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew profile of lineitem's supplier FK — the fact-table join key
    every supplier-side join shuffles on; see key_skew_profile."""
    return key_skew_profile(table(spark, sf_dir, "lineitem"), "l_suppkey")


_PSI_BUCKETS = 6  # fixed-width 100-char bins over the 44..577 domain


@query(
    "PR3_psi_drift",
    oracle=f"""
    WITH d AS (
      SELECT source, LEAST(n_chars // 100, {_PSI_BUCKETS - 1}) AS bucket
      FROM documents
    ),
    g AS (SELECT bucket, COUNT(*) AS gc FROM d GROUP BY bucket),
    gn AS (SELECT SUM(gc) AS gt FROM g),
    s AS (SELECT source, bucket, COUNT(*) AS sc FROM d GROUP BY source, bucket),
    sn AS (SELECT source, SUM(sc) AS st FROM s GROUP BY source),
    full_grid AS (
      SELECT sn.source, g.bucket, g.gc, gn.gt, sn.st,
             COALESCE(s.sc, 0) AS sc
      FROM sn CROSS JOIN g CROSS JOIN gn
      LEFT JOIN s ON s.source = sn.source AND s.bucket = g.bucket
    ),
    terms AS (
      SELECT source, bucket,
             CAST(FLOOR(((sc + 1.0) / (st + {_PSI_BUCKETS})
                        - (gc + 1.0) / (gt + {_PSI_BUCKETS})) * 1e8)
                  AS BIGINT)
             * CAST(FLOOR(ln(
                   ((sc + 1.0) * (gt + {_PSI_BUCKETS}))
                   / ((st + {_PSI_BUCKETS}) * (gc + 1.0))
                 ) * 1e6) AS BIGINT) AS term_q
      FROM full_grid
    )
    SELECT source,
           CAST(SUM(term_q) AS BIGINT) AS psi_x1e14,
           CAST(SUM(term_q) AS BIGINT) / 1e14 AS psi
    FROM terms GROUP BY source ORDER BY source
    """,
)
def pr3_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per document source against the
    whole-corpus reference — the distribution-drift score a training
    pipeline runs when a new crawl / vendor drop lands: PSI over the
    length histogram flags a source whose documents are
    distributionally unlike the corpus (truncation, boilerplate,
    format change) before they enter the mix.  PSI(source) =
    SUM_b (p_b - q_b) * ln(p_b / q_b), add-one smoothed.

    Scale shape: ONE map-side-combinable (source, bucket) count over
    ONE corpus scan, localCheckpoint-ed; the per-bucket REFERENCE
    histogram is DERIVED from that bounded cut (gc = sum of sc over
    sources — the T36 derive-don't-rescan rule; the round-8 plan sweep
    found the old spelling re-ran the corpus scan 4x), as are the
    per-source totals.  The bucket reference table is BUCKETS rows and
    the per-source grid |sources| x BUCKETS — bounded dimensions joined
    without touching the corpus again.  The
    one transcendental (ln) takes an exact-integer rational and is
    floor-quantized to the 1e-6 grid (the T26 idiom), the share
    difference to 1e-8; each term is then an exact BIGINT product, so
    the per-source sum is order-independent and DuckDB reproduces the
    hash bit-for-bit."""
    b = F.least(F.floor(F.col("n_chars") / 100), F.lit(_PSI_BUCKETS - 1))
    d = table(spark, sf_dir, "documents").select(
        "source", b.cast("bigint").alias("bucket")
    )
    s = (
        d.groupBy("source", "bucket")
        .agg(F.count("*").alias("sc"))
        .transform(cut)
    )
    g = s.groupBy("bucket").agg(F.sum("sc").alias("gc"))
    gn = g.agg(F.sum("gc").alias("gt"))
    sn = s.groupBy("source").agg(F.sum("sc").alias("st"))
    grid = (
        sn.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(gn))
        .join(s, ["source", "bucket"], "left")
        .withColumn("sc", F.coalesce(F.col("sc"), F.lit(0)))
    )
    nb = F.lit(float(_PSI_BUCKETS))
    p = (F.col("sc") + 1.0) / (F.col("st") + nb)
    q = (F.col("gc") + 1.0) / (F.col("gt") + nb)
    ratio = ((F.col("sc") + 1.0) * (F.col("gt") + nb)) / (
        (F.col("st") + nb) * (F.col("gc") + 1.0)
    )
    term = F.floor((p - q) * 1e8).cast("bigint") * F.floor(
        F.log(ratio) * 1e6
    ).cast("bigint")
    return (
        grid.select("source", term.alias("term_q"))
        .groupBy("source")
        .agg(
            F.sum("term_q").cast("long").alias("psi_x1e14"),
            (F.sum("term_q").cast("long") / F.lit(1e14)).alias("psi"),
        )
        .orderBy("source")
    )


@query(
    "PR5_numeric_corr",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(FLOOR(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS sy,
             CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)
                      * CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT)
               AS sxx,
             CAST(SUM(CAST(FLOOR(l_discount * 100) AS BIGINT)
                      * CAST(FLOOR(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS syy,
             CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)
                      * CAST(FLOOR(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           {sql_dquant(
               'CAST(n * sxy - sx * sy AS DOUBLE)'
               ' / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)'
               '        * CAST(n * syy - sy * sy AS DOUBLE))'
           )} AS corr_qty_disc
    FROM m
    ORDER BY l_returnflag
    """,
)
def pr5_numeric_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation between numeric columns (quantity
    vs discount per return flag) — the relationship profile beside
    PR1's univariate stats: the look-before-you-model pass that flags
    confounded features, and the drift companion to PR3 (a correlation
    SIGN flip between crawls is a pipeline bug even when both marginals
    pass PSI).

    Exactness discipline: values are scaled to small integers at the
    scan (quantity units, discount cents — both bounded by TPC-H
    domain, so every moment product stays far inside BIGINT at any row
    count); the five moments are ONE map-side-combinable aggregate
    pass; the final ratio is two exact-BIGINT differences combined in
    IEEE double + sqrt, floor-quantized — deterministic cross-engine.
    ``F.corr`` computes a streaming double covariance whose value
    depends on partition merge order; the moment spelling is
    order-independent by construction.  Wide-value columns (prices)
    would overflow the n·Sxx product at extreme row counts — route
    those through DECIMAL(38) moments, the house money rule."""
    li = table(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_quantity")).cast("long")
    y = F.floor(F.col("l_discount") * 100).cast("long")
    m = (
        li.select(F.col("l_returnflag"), x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return m.select(
        "l_returnflag", "n", dquant(num / den).alias("corr_qty_disc")
    ).orderBy("l_returnflag")
