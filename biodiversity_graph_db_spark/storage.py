"""Directory protocols over the Hadoop FileSystem — the only module in
the package that touches it.

The reference keeps its graph as one JSON file per atom, and every
change is a copy-on-write file replace (Storage.fs:239-275).  This
engine keeps plain-parquet directories instead and swaps them in place,
the core of what Delta Lake wraps in a transaction log.  Every swap,
publish, marker and sidecar goes through the primitives here, on any
backend (local, HDFS, object store):

- ``exists`` / ``delete`` / ``children`` / ``numbered`` / ``files``:
  path probes through one ``(Path, FileSystem)`` handle (``_hfs``);
- ``read_text`` / ``write_text``: small marker and sidecar files,
  streams closed on every path.  ``write_text(overwrite=False)`` is the
  create-exclusive primitive the versioned log's commit CAS stands on;
- ``rename``: move a directory into place, done if the destination is
  already there (a concurrent helper or an earlier run moved it);
- ``complete`` / ``promote``: the ``_SUCCESS``-gated roll-forward.  No
  tmp: nothing to do.  A tmp without its marker is a torn write that
  never touched the live data: it is dropped.  A complete tmp is
  swapped in for the live directory from any crash point;
- ``read_shadowed`` / ``compact_shadowed`` / ``finish_shadowed``: a
  ``base/`` + ``delta/app=*/batch=*`` store whose deltas shadow the
  base on ``(app, batch)`` (the LSH band store and the shard manifest).

Concurrency contract: one maintainer per directory.  Appends, upserts
AND READS must not overlap a compaction or other swap.  ``replace``
deletes the live directory before it renames the new one in, so a read
in that window fails with path-not-found; and a reader whose heal saw
a complete tmp before a compactor's rename can then delete the base the
compactor has just promoted.  A metastore or Delta layer is what
upgrades these swaps to transactions.
"""

from __future__ import annotations

from collections.abc import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession


def _hfs(spark: SparkSession, path: str):
    """(PathClass, FileSystem) for ``path`` via the JVM Hadoop FS API."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    return hpath, hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())


def exists(spark: SparkSession, path: str) -> bool:
    hpath, fs = _hfs(spark, path)
    return bool(fs.exists(hpath(path)))


def delete(spark: SparkSession, path: str, recursive: bool = True) -> None:
    """Delete ``path`` if present."""
    hpath, fs = _hfs(spark, path)
    fs.delete(hpath(path), recursive)


def children(spark: SparkSession, path: str) -> list[str]:
    """Names of the entries directly under ``path`` (empty if absent)."""
    hpath, fs = _hfs(spark, path)
    p = hpath(path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def numbered(
    spark: SparkSession, path: str, prefix: str = "", suffix: str = ""
) -> set[int]:
    """Every N named ``{prefix}N{suffix}`` directly under ``path``:
    ``version=N`` partition dirs, ``N.commit`` markers."""
    return {
        int(name[len(prefix) : len(name) - len(suffix)])
        for name in children(spark, path)
        if name.startswith(prefix) and name.endswith(suffix)
    }


def files(spark: SparkSession, path: str) -> list[str]:
    """Names of the files at any depth under ``path`` (empty if absent)."""
    hpath, fs = _hfs(spark, path)
    p = hpath(path)
    if not fs.exists(p):
        return []
    it = fs.listFiles(p, True)
    out = []
    while it.hasNext():
        out.append(it.next().getPath().getName())
    return out


def read_text(spark: SparkSession, path: str) -> str | None:
    """A small UTF-8 file's content, or None if it is absent."""
    hpath, fs = _hfs(spark, path)
    p = hpath(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8", "replace")
    finally:
        stream.close()


def write_text(
    spark: SparkSession, path: str, text: str, overwrite: bool = True
) -> bool:
    """Write ``text`` to ``path`` as UTF-8; returns True.

    ``overwrite=False`` is the atomic create-exclusive (atomic on HDFS
    and local; object stores need a coordination layer, the caveat
    Delta's LogStore documents): when ``path`` already exists it writes
    nothing and returns False.  Any other failure raises."""
    hpath, fs = _hfs(spark, path)
    p = hpath(path)
    try:
        out = fs.create(p, overwrite)
    except Py4JJavaError:  # FileAlreadyExists arrives wrapped in an IOException
        if overwrite or not fs.exists(p):
            raise  # a real IO error, not a lost create
        return False
    try:
        out.write(bytearray(text, "utf-8"))
    finally:
        out.close()
    return True


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Move ``src`` to ``dst``, creating ``dst``'s parent.  Done if
    ``dst`` already exists: a concurrent helper or an earlier run moved
    it, so a lost rename is success.  Only a rename that leaves no
    ``dst`` raises."""
    hpath, fs = _hfs(spark, dst)
    d = hpath(dst)
    if fs.exists(d):
        return
    fs.mkdirs(d.getParent())
    if not fs.rename(hpath(src), d) and not fs.exists(d):
        raise RuntimeError(f"rename failed: {src} -> {dst}")


def replace(spark: SparkSession, src: str, dst: str) -> None:
    """Swap ``src`` in for ``dst``: delete ``dst``, then ``rename``.
    Between the two steps ``dst`` does not exist."""
    delete(spark, dst)
    rename(spark, src, dst)


def complete(spark: SparkSession, tmp: str, marker: str = "_SUCCESS") -> bool:
    """The roll-forward gate: True when ``tmp`` holds a complete write
    (``marker`` present).  A ``tmp`` without it is a torn write that
    never touched the live data, and is dropped."""
    hpath, fs = _hfs(spark, tmp)
    t = hpath(tmp)
    if not fs.exists(t):
        return False
    if fs.exists(hpath(f"{tmp}/{marker}")):
        return True
    fs.delete(t, True)
    return False


def promote(spark: SparkSession, tmp: str, dst: str) -> bool:
    """Roll a directory swap forward from any crash point: a complete
    ``tmp`` replaces ``dst``.  Returns whether it did, so the caller can
    sweep what the new ``dst`` subsumes."""
    if not complete(spark, tmp):
        return False
    replace(spark, tmp, dst)
    return True


# --- the shadowed delta store: base/ + delta/app=*/batch=* ----------------

#: Sidecar (inside a compacted base) naming the delta dirs the compaction
#: folded — the sweep's scope.  Underscore-prefixed, so parquet readers
#: of the base treat it as hidden metadata.
_FOLDED = "_folded_dirs.txt"


def read_shadowed(
    spark: SparkSession, base: str, delta: str, schema: str
) -> DataFrame:
    """The store's total reader: ``base`` plus every per-batch dataset
    under ``delta/app=*/batch=*``, typed by the DDL ``schema``
    (partition columns included).  An untouched store reads as zero
    rows, not as a path-not-found error.

    DELTA SHADOWS BASE on ``(app, batch)``: a batch present in both (a
    checkpoint replay after compaction rewrote its delta dir, or a crash
    between the compaction swap and the sweep left both copies) is read
    from the delta only.  The copies are identical by the idempotent-
    directory contract, so shadowing makes both races invisible rather
    than double-counted."""
    finish_shadowed(spark, base, delta)
    has_base, has_delta = exists(spark, base), exists(spark, delta)
    if not has_base and not has_delta:
        return spark.createDataFrame([], schema)
    reader = spark.read.schema(schema)
    if not has_delta:
        return reader.parquet(base)
    d = reader.parquet(delta)
    if not has_base:
        return d
    replayed = d.select("app", "batch").distinct()
    return (
        reader.parquet(base)
        .join(replayed, ["app", "batch"], "left_anti")
        .unionByName(d)
    )


def compact_shadowed(
    spark: SparkSession,
    base: str,
    delta: str,
    schema: str,
    layout: Callable[[DataFrame], DataFrameWriter],
) -> None:
    """Fold every delta into a new ``base``; ``layout`` turns the merged
    frame into its writer (partitioning, file count).  ``read_shadowed``
    answers the same before and after.

    Crash-safe: the merged base is fully written (``_SUCCESS``) under
    ``{base}__compact_tmp`` before the live store is touched, and
    ``finish_shadowed`` completes the swap from any crash point.  The
    sidecar names the ``(app, batch)`` dirs listed BEFORE the merge
    read, so a batch upserted after that listing is never swept
    unfolded.  It is written after the parquet job: a crash in between
    promotes a base that sweeps nothing, which is safe (shadowed)."""
    finish_shadowed(spark, base, delta)
    if not exists(spark, delta):
        return
    folded = [
        f"{app}/{batch}"
        for app in children(spark, delta)
        if app.startswith("app=")
        for batch in children(spark, f"{delta}/{app}")
        if batch.startswith("batch=")
    ]
    tmp = f"{base}__compact_tmp"
    merged = read_shadowed(spark, base, delta, schema)
    layout(merged).mode("overwrite").parquet(tmp)
    write_text(spark, f"{tmp}/{_FOLDED}", "\n".join(folded))
    finish_shadowed(spark, base, delta)


def finish_shadowed(spark: SparkSession, base: str, delta: str) -> None:
    """Roll a stranded store compaction forward (``promote``), then
    sweep exactly the delta dirs the base's sidecar names, the
    now-empty ``app=`` dirs and the sidecar.  No sidecar: sweep nothing.
    The sidecar rides inside the promoted base, so a crash between the
    rename and the sweep resumes here.  Run by every read and every
    compaction, so no crash strands the store."""
    promote(spark, f"{base}__compact_tmp", base)
    sidecar = f"{base}/{_FOLDED}"
    listing = read_text(spark, sidecar)
    if listing is None:
        return
    for rel in listing.splitlines():
        if rel.strip():
            delete(spark, f"{delta}/{rel.strip()}")
    for app in children(spark, delta):
        if not children(spark, f"{delta}/{app}"):
            delete(spark, f"{delta}/{app}")
    if not children(spark, delta):
        delete(spark, delta)
    delete(spark, sidecar, recursive=False)
