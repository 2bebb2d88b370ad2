"""Round-13 streaming decomposition profiler (guide §1): split each ST
driver row's wall time into (feed write, drain, readback) so the
optimization targets the real cost, not the query total.

Usage: python scripts/st_profile.py [ST1|ST2|ST2b|ST3|ST4 ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from biodiversity_graph_db_spark.operators._util import (  # noqa: E402
    partition_scope,
)


def _timed(label, fn, acc):
    t0 = time.perf_counter()
    out = fn()
    acc[label] = round(time.perf_counter() - t0, 3)
    return out


def profile_st1(spark, sf_dir):
    from biodiversity_graph_db_spark.streaming.ingest import (
        dedup_stream,
        drain_parquet_batches,
    )
    from biodiversity_graph_db_spark.tables import table

    acc = {}
    ev = table(spark, sf_dir, "events")
    base = ev.withColumn("copy", F.lit(0))
    dups = ev.where(F.col("event_id") % 7 == 0).withColumn("copy", F.lit(1))
    feed = base.unionByName(dups).withColumn(
        "bkey", F.col("event_id") + F.col("copy")
    )
    tmp = tempfile.mkdtemp(prefix="st1_prof_")
    try:
        out, ckpt = f"{tmp}/out", f"{tmp}/ckpt"

        def run(stream):
            return (
                dedup_stream(stream, watermark="35 days")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
            )

        # reproduce drain_parquet_batches's phases with separate timers
        from biodiversity_graph_db_spark.streaming import ingest as ing

        src = f"{tmp}/src"

        def write_feed():
            ing.write_feed_batches(feed, "bkey", tmp)

        _timed("feed_write", write_feed, acc)

        def drain():
            stream = (
                spark.readStream.schema(feed.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            with partition_scope(
                spark, ing._drain_shuffle_partitions(spark, src)
            ):
                q = run(stream).start()
                ok = q.awaitTermination(600)
            assert ok

        _timed("drain", drain, acc)
        _timed(
            "readback",
            lambda: spark.read.parquet(out)
            .select(
                F.col("event_id").cast("long").alias("event_id"),
                F.col("user_id").cast("long").alias("user_id"),
                "event_type",
                F.unix_timestamp("ts").alias("ts_s"),
                (F.floor(F.col("value") * 10000) / 10000.0).alias("value_q"),
            )
            .orderBy("event_id")
            .localCheckpoint()
            .count(),
            acc,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return acc


def profile_st2(spark, sf_dir):
    from biodiversity_graph_db_spark.operators.temporal import _st2_feed
    from biodiversity_graph_db_spark.streaming import ingest as ing
    from biodiversity_graph_db_spark.streaming.ingest import (
        attributed_purchases,
    )
    from biodiversity_graph_db_spark.tables import table

    acc = {}
    ev = _st2_feed(
        table(spark, sf_dir, "events").where(
            F.col("event_type").isin("click", "purchase")
        )
    )
    tmp = tempfile.mkdtemp(prefix="st2_prof_")
    try:
        out, ckpt = f"{tmp}/out", f"{tmp}/ckpt"
        src = f"{tmp}/src"

        def write_feed():
            ing.write_feed_batches(ev, "event_id", tmp)

        _timed("feed_write", write_feed, acc)

        def drain():
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            cs = stream.where(F.col("event_type") == "click")
            ps = stream.where(F.col("event_type") == "purchase")
            with partition_scope(
                spark, ing._drain_shuffle_partitions(spark, src)
            ):
                q = (
                    attributed_purchases(cs, ps, watermark="35 days")
                    .writeStream.format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                ok = q.awaitTermination(600)
            assert ok

        _timed("drain", drain, acc)
        _timed(
            "readback",
            lambda: spark.read.parquet(out)
            .orderBy("purchase_id", "click_id")
            .localCheckpoint()
            .count(),
            acc,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return acc


def profile_st4(spark, sf_dir):
    from biodiversity_graph_db_spark.streaming import ingest as ing
    from biodiversity_graph_db_spark.streaming.ingest import (
        DRAIN_PARTITION_BYTES_PY,
        asof_enrich,
    )
    from biodiversity_graph_db_spark.tables import table

    acc = {}
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    tmp = tempfile.mkdtemp(prefix="st4_prof_")
    try:
        out, ckpt = f"{tmp}/out", f"{tmp}/ckpt"
        src = f"{tmp}/src"

        def write_feed():
            (
                ev.repartitionByRange(3, F.col("ts"), F.col("event_id"))
                .sortWithinPartitions("ts", "event_id")
                .write.mode("overwrite")
                .parquet(src)
            )

        _timed("feed_write", write_feed, acc)
        import glob

        now = time.time()
        for i, p in enumerate(sorted(glob.glob(f"{src}/part-*.parquet"))):
            os.utime(p, (now + i, now + i))

        def drain():
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            with partition_scope(
                spark,
                ing._drain_shuffle_partitions(
                    spark, src, DRAIN_PARTITION_BYTES_PY
                ),
            ):
                q = (
                    asof_enrich(stream, watermark="40 days")
                    .writeStream.format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                ok = q.awaitTermination(600)
            assert ok

        _timed("drain", drain, acc)
        _timed(
            "readback",
            lambda: spark.read.parquet(out)
            .orderBy("click_id")
            .localCheckpoint()
            .count(),
            acc,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return acc


PROFILES = {"ST1": profile_st1, "ST2": profile_st2, "ST4": profile_st4}


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or list(PROFILES)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))

    from biodiversity_graph_db_spark import registry
    from biodiversity_graph_db_spark.session import get_spark

    registry.load_all()
    spark = get_spark("st_profile")
    spark.sparkContext.setLogLevel("ERROR")
    from biodiversity_graph_db_spark.tables import TABLES, table

    for t in TABLES:
        table(spark, sf_dir, t).count()

    for name in names:
        for r in range(runs):
            acc = PROFILES[name](spark, sf_dir)
            acc["total"] = round(sum(acc.values()), 3)
            print(json.dumps({"query": name, "run": r, **acc}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
