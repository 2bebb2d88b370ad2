"""Physical-layout utilities for 100 TB discipline.

Two levers that matter at cluster scale and cost nothing to adopt in the
table design:

- **Bucketing** — pre-shuffle both sides of a recurring join into the
  same bucket layout so the join is Exchange-free at read time.  The
  graph tables join on ``key``/``source_key`` constantly (every J2/J6
  view); bucketed by key, a 1000-executor join needs zero network.
- **Salted join** — manual skew mitigation for the pathological key
  (e.g. the Life taxon ancestor, a viral document cluster): spread the
  hot key across N sub-partitions by salting the fact side and
  exploding the dim side.  AQE's skew-join handles sort-merge cases
  automatically; salting covers aggregations and the joins AQE can't
  split (e.g. after a user-forced repartition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biodiversity_graph_db_spark import storage


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    n_buckets: int = 32,
) -> None:
    """Persist as a bucketed+sorted catalog table.  Both sides of a
    co-located join must use the same key and bucket count."""
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(name)
    )


def bucketed_join(
    spark, left_name: str, right_name: str, key: str, how: str = "inner"
) -> DataFrame:
    """Join two identically-bucketed tables — Catalyst reads the bucket
    spec and elides both Exchanges (verified in tests/test_plans.py)."""
    return spark.table(left_name).join(spark.table(right_name), key, how)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: fact rows get a deterministic salt in
    [0, n_salt); every dim row is replicated once per salt value; the
    join key becomes (key, salt) so one hot key spreads over n_salt
    reducers.  Dim grows n_salt× — use for genuinely small/medium dims
    (the usual shape: huge skewed fact × modest dim)."""
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(*fact.columns), F.lit(n_salt)).cast("int")
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return salted_fact.join(salted_dim, [key, "_salt"], how).drop("_salt")


def compact_partitioned(
    spark,
    src_path: str,
    dst_path: str,
    partition_cols: list[str],
    max_records_per_file: int = 1_000_000,
) -> dict[str, int]:
    """Small-file compaction for a partitioned parquet store — the
    maintenance pass every streaming sink needs: ``foreachBatch``
    appends one-plus files per micro-batch per partition, and a month
    of 1-minute batches turns a 100 TB table into tens of millions of
    KB-sized files whose open/footer cost dominates every scan.

    Shape: ONE distributed job — ``repartition(partition_cols)``
    clusters each Hive partition's rows into a single task (so each
    partition directory is rewritten by one writer, no tiny-file
    re-fragmentation), and ``maxRecordsPerFile`` re-splits only where a
    partition genuinely exceeds the target.  Writes to ``dst_path``
    (atomic swap is the caller's move — a metastore/Delta layer does it
    transactionally; plain dirs rename); never mutates ``src_path`` in
    place, so a crashed compaction loses nothing.

    Returns {"files_before", "files_after", "rows"} for the ops log.

    Skew note: one writer per partition is the right default for
    many-small-partitions stores (split=…, lon_band=…); a single
    jumbo partition would instead salt the repartition key — same
    call shape, documented here rather than auto-guessed."""
    def _count_files(p: str) -> int:
        # Hadoop FileSystem API (storage), not glob/os.path: correct on
        # HDFS and object stores — exactly where small-file compaction
        # matters
        return sum(n.endswith(".parquet") for n in storage.files(spark, p))

    df = spark.read.parquet(src_path)
    rows = df.count()
    before = _count_files(src_path)
    (
        df.repartition(*partition_cols)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(dst_path)
    )
    return {
        "files_before": before,
        "files_after": _count_files(dst_path),
        "rows": rows,
    }


def morton_code(x: "F.Column", y: "F.Column", bits: int = 16) -> "F.Column":
    """Interleave the low ``bits`` of two non-negative ints into a
    Morton (Z-order) key — pure shift/mask column expressions, codegen
    end to end."""
    one = F.lit(1).cast("long")
    code = F.lit(0).cast("long")
    for i in range(bits):
        # Column.bitwiseOR/bitwiseAND — python & | on Columns are LOGICAL
        code = code.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(x, i).bitwiseAND(one), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(y, i).bitwiseAND(one), 2 * i + 1)
        )
    return code


def zorder_write(
    df,
    path: str,
    lon_col: str,
    lat_col: str,
    bits: int = 16,
    max_records_per_file: int = 1_000_000,
) -> None:
    """Write a table CLUSTERED on the Z-order curve of (lon, lat) — the
    space-filling-curve layout (Morton 1966; the technique behind
    Delta/Iceberg ``ZORDER BY``) that makes 2-D range predicates prune
    on 1-D parquet row-group min/max stats: nearby points land in the
    same files, so a bbox viewport query (GEO1's shape) skips most of
    a 100 TB store instead of scanning it.  Locality is tested as a
    measured number (per-file bbox area ≪ global area,
    tests/test_plans.py), not asserted folklore.

    Shape: quantize both axes to ``bits`` each, interleave
    (``morton_code``), ONE range repartition on the key (the same
    shuffle any sorted write pays) + in-partition sort, drop the key,
    write.  Degrees-space quantization matches the GEO grid
    convention; production swaps in any monotone CRS transform."""
    qx = F.floor(
        (F.col(lon_col) + 180.0) / 360.0 * ((1 << bits) - 1)
    ).cast("long")
    qy = F.floor(
        (F.col(lat_col) + 90.0) / 180.0 * ((1 << bits) - 1)
    ).cast("long")
    (
        df.withColumn("_z", morton_code(qx, qy, bits))
        .repartitionByRange(F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )
