"""Streaming pretraining-data ingest (SURVEY §2.10 × the extension set).

The composed pipeline a training-data platform runs continuously as new
corpus files land, built entirely from the batch-verified operators:

    readStream(documents) → scrub_pii → quality gate → exact dedup
      (fingerprint anti-join vs everything already ingested)
      → deterministic split assignment → parquet append partitioned by split

Every stage is a pure column expression (T9/T2/T3/T11 semantics — each
oracle-verified in batch form), so the streaming plan is the same
codegen'd map work; the only stateful piece is the dedup anti-join inside
``foreachBatch``, which makes the sink idempotent under epoch replay
(same exactly-once story as ingest.merge_events_into_graph, tested with
crash injection there).  At 100 TB the fingerprint anti-join is the one
join per micro-batch; the sink's ``split`` partitioning keeps train/val/
test physically separated for downstream readers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from biodiversity_graph_db_spark.extensions.textstats import (
    fingerprint,
    quality_score,
    scrub_pii,
    split_name,
    token_count,
)
from biodiversity_graph_db_spark.operators._util import cut

DOCUMENTS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Backend-agnostic existence check via the Hadoop FileSystem API —
    correct for local paths, HDFS, and object stores alike (a plain
    os.path.exists would only cover file://)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def refresh_bench_grams(bench_docs: DataFrame, path: str) -> None:
    """Rewrite the benchmark gram table a running decontamination
    stream purges against — the REFRESH path for when the benchmark
    suite itself versions (new eval sets ship; their grams must start
    being purged without re-deploying the stream).

    Contract: ``run_pretraining_ingest`` re-reads ``bench_grams_path``
    at the top of EVERY micro-batch (the gram set is fixed-size, so
    this is one broadcast-sized parquet read per batch), so a swap
    takes effect on the next batch with NO stream restart.  The swap
    itself is the IVF index's directory-swap: the new gram set is fully
    written to ``{path}__refresh`` first, then moved into place via
    delete + atomic rename, so a concurrent batch reads either the old
    complete set or the new complete set.  Single-maintainer, like
    every directory-swap in this engine (a metastore/Delta layer is
    what upgrades it to a real transaction).  Replay idempotence is
    untouched: decontamination is stateless per batch, and the sink's
    fingerprint anti-join — not the gram set — is what dedups a
    replayed batch."""
    from biodiversity_graph_db_spark.extensions.textstats import (
        bench_gram_set,
    )

    spark = bench_docs.sparkSession
    tmp = f"{path}__refresh"
    bench_gram_set(bench_docs).write.mode("overwrite").parquet(tmp)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath(path), True)
    if not fs.rename(hpath(tmp), hpath(path)):
        raise RuntimeError(f"bench gram swap rename failed for {path}")


def read_documents_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )


def prepare_documents(docs: DataFrame, min_quality: float = 0.5) -> DataFrame:
    """The stateless stages, usable identically in batch and streaming:
    PII scrub, quality gate, fingerprint, split + token count."""
    # recompute n_chars post-scrub so the stored length, the stored text,
    # and the quality score are mutually consistent (matches batch T2,
    # where n_chars always describes the scored text)
    scrubbed = docs.withColumn("text", scrub_pii(F.col("text"))).withColumn(
        "n_chars", F.length(F.col("text")).cast("long")
    )
    scored = scrubbed.withColumn(
        "quality", quality_score(F.col("text"), F.col("n_chars"))
    )
    kept = scored.where(F.col("quality") >= min_quality)
    return kept.select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        (F.floor(F.col("quality") * 10000) / 10000.0).alias("quality"),
        fingerprint(F.col("text")).alias("fingerprint"),
        token_count(F.col("text")).alias("n_tokens"),
        split_name(F.col("doc_id")).alias("split"),
    )


def run_pretraining_ingest(
    docs_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    min_quality: float = 0.5,
    bench_grams_path: str | None = None,
    contam_threshold: float | None = None,
):
    """foreachBatch driver: stateless prep + cross-batch exact dedup
    (keep the first arrival of each fingerprint), append partitioned by
    split.  Idempotent under replay: a re-run batch's survivors are
    anti-joined away by the rows it already wrote.

    ``bench_grams_path`` (a parquet written by
    ``textstats.bench_gram_set`` — the benchmark suite's distinct
    k-grams, fixed-size by nature) switches on STREAMING
    DECONTAMINATION: each micro-batch drops documents whose overlap
    with the benchmark reaches the threshold, through the exact
    ``purge_against`` code path the batch D5 oracle verifies.  The gram
    table is broadcast per batch; the stage is stateless, so replay
    idempotence is untouched."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        prepared = prepare_documents(batch, min_quality)
        if bench_grams_path is not None:
            from biodiversity_graph_db_spark.extensions.textstats import (
                PURGE_FRAC,
                purge_against,
            )

            prepared = purge_against(
                prepared,
                spark.read.parquet(bench_grams_path),
                threshold=(
                    PURGE_FRAC
                    if contam_threshold is None
                    else contam_threshold
                ),
            ).drop("contaminated_frac")
        # within-batch dedup first (deterministic keeper = min doc_id) …
        from pyspark.sql import Window

        w = Window.partitionBy("fingerprint").orderBy("doc_id")
        fresh = (
            prepared.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .drop("rk")
        )
        # … then against everything already ingested.  The sink's
        # existence is checked explicitly (Hadoop FS, so it works on any
        # backend): ONLY the first-batch/path-missing case skips the
        # anti-join — a corrupt file, transient FS error, or permission
        # failure must propagate, or replay would silently append
        # duplicates while claiming idempotence.
        if _path_exists(spark, out_path):
            seen = spark.read.parquet(out_path).select("fingerprint")
            fresh = fresh.join(seen, "fingerprint", "left_anti")
        fresh.write.mode("append").partitionBy("split").parquet(out_path)

    return (
        docs_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


# --- cross-batch NEAR-dup (MinHash band ledger) ----------------------------


def doc_bands(prepared: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) LSH rows for a prepared micro-batch —
    the same fused single-shuffle banding as batch E2
    (dedup.minhash_bands over unigram shingles)."""
    from biodiversity_graph_db_spark.extensions.dedup import (
        minhash_bands,
        unigram_shingles,
    )

    return minhash_bands(
        prepared.select(
            "doc_id", unigram_shingles(F.col("text")).alias("shingles")
        )
    )


def run_pretraining_ingest_neardup(
    docs_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    min_quality: float = 0.5,
    fail_once_marker: str | None = None,
):
    """Pretraining ingest with cross-batch NEAR-duplicate suppression —
    the fingerprint-ledger pattern generalized to MinHash LSH.

    Keeper rule (order-independent given doc_id-monotone arrival, which
    makes the stream equal its batch twin): a document is kept iff NO
    STRICTLY-SMALLER doc_id ever seen shares any LSH band bucket with
    it — evaluated as ONE rule against (ledger ∪ own batch's bands), so
    within-batch and cross-batch conflicts need no separate logic.  The
    band ledger at ``{out}/_bands`` records every seen document's bands —
    kept AND dropped — because a rejected document must not launder later
    near-copies of itself into the corpus.

    Crash-replay safety hangs on the STRICT inequality: the replayed
    batch's own bands may already sit in the ledger (crash after the
    ledger append) without self-conflicting, and the survivor set is
    recomputed from the same deterministic inputs regardless of which
    append committed — a crash between sink and ledger appends replays
    to the identical survivor set, which the exact fingerprint anti-join
    then removes (no duplicates), after which the ledger converges.  A
    bucket-keeper rule (min doc_id per bucket among the batch) would NOT
    be replay-safe: after a crash-between, the already-written keepers
    are anti-joined out of the batch and the rule would promote the
    next-smallest near-dup to keeper.

    Per micro-batch cost at 100 TB: one banding groupBy over the batch,
    one equi-join batch-bands → (band, band_key)-bucketed ledger with a
    doc_id inequality post-filter, one ledger append — state grows with
    corpus bands (≈4 rows/doc), never rescanned wholesale when stored
    bucketed.  Exact-dup suppression (the fingerprint anti-join) still
    runs on the sink side: it is what makes replayed appends idempotent."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        prepared = prepare_documents(batch, min_quality)
        from pyspark.sql import Window

        w = Window.partitionBy("fingerprint").orderBy("doc_id")
        fresh = (
            prepared.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .drop("rk")
        )

        bands = cut(doc_bands(fresh))
        ledger_path = f"{out_path}/_bands"
        all_bands = bands
        if _path_exists(spark, ledger_path):
            # explicit schema: a survivor-free batch appends zero rows,
            # and schema inference on a part-file-less dir would throw
            all_bands = all_bands.unionByName(
                spark.read.schema(
                    "doc_id long, band int, band_key string"
                ).parquet(ledger_path)
            )
        conflicted = (
            bands.alias("b")
            .join(
                all_bands.alias("l"),
                (F.col("b.band") == F.col("l.band"))
                & (F.col("b.band_key") == F.col("l.band_key"))
                & (F.col("l.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("b.doc_id").alias("doc_id"))
            .distinct()
        )
        fresh = fresh.join(conflicted, "doc_id", "left_anti")
        if _path_exists(spark, out_path):
            seen = spark.read.parquet(out_path).select("fingerprint")
            fresh = fresh.join(seen, "fingerprint", "left_anti")
        fresh.write.mode("append").partitionBy("split").parquet(out_path)
        if fail_once_marker is not None:
            # crash injection for the replay test: die in the exact
            # window the docstring reasons about — sink committed,
            # ledger (and checkpoint) not
            import os

            if os.path.exists(fail_once_marker):
                os.remove(fail_once_marker)
                raise RuntimeError(
                    "injected crash between sink and ledger appends"
                )
        bands.write.mode("append").parquet(ledger_path)

    return (
        docs_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def neardup_batch_twin(prepared: DataFrame) -> DataFrame:
    """The batch-mode twin of the streaming keeper rule, for the
    stream==batch equivalence test: keep a doc iff no lower doc_id
    shares its fingerprint, and no lower doc_id (anywhere in the corpus)
    shares any LSH band bucket."""
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    exact_kept = (
        prepared.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    bands = doc_bands(exact_kept)
    bucket_min = bands.groupBy("band", "band_key").agg(
        F.min("doc_id").alias("min_doc")
    )
    conflicted = (
        bands.join(bucket_min, ["band", "band_key"])
        .where(F.col("doc_id") > F.col("min_doc"))
        .select("doc_id")
        .distinct()
    )
    return exact_kept.join(conflicted, "doc_id", "left_anti")


def shard_export_upsert(
    batch: DataFrame,
    batch_id: int,
    out_dir: str,
    app_id: str | None = None,
) -> None:
    """One micro-batch of streaming training-shard export: the batch's
    documents are token-budget-packed by the BATCH shard assignment
    (EX2's ``shard_assign`` — identical math to the batch writer) and
    land as the batch's OWN delta dataset
    ``shards_delta/app=<lineage>/batch=<id>/lang=*/shard_id=*`` plus a
    matching manifest delta.  The directory is the transaction (the
    IVF-delta contract): a replayed batch overwrites itself, a new
    lineage merges under its own ``app=`` dir.

    Shards are batch-scoped on purpose: a GLOBAL running token offset
    across micro-batches would serialize the stream through one
    cumulative counter; dataloaders consume (app, batch, lang, shard)
    — same equal-work contract, no cross-batch coupling."""
    import hashlib

    from biodiversity_graph_db_spark.extensions.export import (
        shard_assign,
        shard_manifest,
    )

    tag = hashlib.md5((app_id or "default").encode()).hexdigest()[:12]
    dest = f"{out_dir}/shards_delta/app={tag}/batch={batch_id}"
    assigned = cut(shard_assign(batch))
    (
        assigned.repartition("lang", "shard_id")
        .sortWithinPartitions("doc_id")
        .select("lang", "shard_id", "doc_id", "text", "n_tokens")
        .write.mode("overwrite")
        .partitionBy("lang", "shard_id")
        .json(dest)
    )
    shard_manifest(batch).write.mode("overwrite").parquet(
        f"{out_dir}/manifest_delta/app={tag}/batch={batch_id}"
    )


def run_shard_export(docs_stream: DataFrame, out_dir: str, checkpoint: str):
    """Streaming training-shard export — the sink side of the streaming
    pretraining pipeline: cleaned documents leave as token-budgeted
    JSONL shard deltas with manifests, exactly-once by idempotent
    per-batch directories.  Equivalence oracle: each batch's shards ==
    the batch ``shard_assign`` of the same rows (tested)."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        shard_export_upsert(batch, batch_id, out_dir, app_id=checkpoint)

    return (
        docs_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def read_shard_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The dataloader-facing manifest across every lineage and batch:
    the compacted base (``manifest_base``, one dataset listing) plus any
    per-batch deltas written since (columns app, batch, lang, shard_id,
    n_docs, n_tokens, n_bytes, ...).

    DELTA SHADOWS BASE on (app, batch): a batch present in both — a
    post-compaction checkpoint replay rewrites its delta dir, or a crash
    between the compaction swap and the delta sweep leaves both copies —
    is read from the delta only.  The two copies are identical by the
    idempotent-directory contract, so shadowing makes BOTH races
    invisible rather than double-counted; this is the replay guard the
    per-batch layout had, preserved across compaction."""
    finish_manifest_compaction(spark, out_dir)
    base_dir = f"{out_dir}/manifest_base"
    delta_dir = f"{out_dir}/manifest_delta"
    has_base = _path_exists(spark, base_dir)
    has_delta = _path_exists(spark, delta_dir)
    if not has_base:
        return spark.read.parquet(delta_dir)
    base = spark.read.parquet(base_dir)
    if not has_delta:
        return base
    delta = spark.read.parquet(delta_dir).select(*base.columns)
    replayed = delta.select("app", "batch").distinct()
    return base.join(replayed, ["app", "batch"], "left_anti").unionByName(
        delta
    )


def finish_manifest_compaction(spark: SparkSession, out_dir: str) -> None:
    """Roll the manifest-compaction swap forward from ANY crash point
    (the versioned-log / ``finish_ivf_compaction`` protocol): a complete
    merged base (``_SUCCESS`` present) under ``__compact_tmp`` is
    promoted — delete old base, rename tmp, sweep the folded deltas; an
    incomplete tmp is discarded (the live manifest was never touched).
    Run by every read and every compaction, so no crash strands the
    manifest."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(out_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    tmp = f"{out_dir}/manifest_base__compact_tmp"
    if not fs.exists(hpath(tmp)):
        return
    if not fs.exists(hpath(f"{tmp}/_SUCCESS")):
        fs.delete(hpath(tmp), True)  # merge died mid-write; manifest intact
        return
    dst = hpath(f"{out_dir}/manifest_base")
    fs.delete(dst, True)
    if not fs.rename(hpath(tmp), dst) and not fs.exists(dst):
        raise RuntimeError("manifest compaction recovery rename failed")
    fs.delete(hpath(f"{out_dir}/manifest_delta"), True)


def compact_shard_manifests(spark: SparkSession, out_dir: str) -> None:
    """Fold the per-batch manifest deltas into ``manifest_base`` — the
    manifest twin of ``compact_ivf_deltas``: ``read_shard_manifest``
    answers identically before and after (tested), but partition
    discovery goes back to ONE dataset listing instead of one directory
    per micro-batch forever (a long-lived stream's listing cost grew
    linearly with batch count — the real degradation mode, VERDICT r7
    item 7).  The shard DATA dirs are untouched: dataloaders locate them
    through this manifest (app/batch/lang/shard_id name the delta path),
    never by listing ``shards_delta``, so manifest compaction alone
    restores O(1) discovery.

    CRASH-SAFE: merged base fully written (+``_SUCCESS``) under
    ``__compact_tmp`` before the live manifest is touched;
    ``finish_manifest_compaction`` completes the swap from any crash
    point.  Single-maintainer contract as the IVF twin (don't run
    concurrently with an active stream's upserts); a checkpoint replay
    AFTER compaction re-creates its delta dir, which the reader's
    delta-shadows-base rule absorbs and the NEXT compaction folds."""
    finish_manifest_compaction(spark, out_dir)  # complete any stranded swap
    if not _path_exists(spark, f"{out_dir}/manifest_delta"):
        return
    merged = cut(read_shard_manifest(spark, out_dir))
    tmp = f"{out_dir}/manifest_base__compact_tmp"
    # one row per (app, batch, lang, shard): driver/broadcast-scale by
    # construction, so a single output file is the right layout
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    finish_manifest_compaction(spark, out_dir)
