"""Table maintenance for 100 TB operations: small-file compaction and
a checksum-manifest publish/verify pair.

No counterpart in the reference (single-process pandas, one file in /
one file out); this is the operational tier a production lakehouse
needs: crawl increments and streaming sinks accrete thousands of tiny
part files (every scan then pays per-file open/footer costs and loses
row-group pruning), and multi-writer object stores need a way to tell
a COMPLETE table from a partially-written one.

Scale design:

- ``compact_files`` reads total bytes from the file listing (driver
  metadata only), computes the partition count that hits
  ``target_file_bytes``, and rewrites via ``coalesce`` — NO shuffle
  when shrinking file count (the common case; each output task
  concatenates whole input splits). Pass ``sort_by`` to instead
  ``repartitionByRange + sortWithinPartitions`` (one shuffle) when the
  rewrite should also restore clustering (e.g. after many unsorted
  appends to a z-ordered table — re-run ``partitioning.zorder_write``
  for full multi-dim clustering).
- ``write_with_manifest`` / ``verify_manifest`` publish a
  ``_manifest.json`` naming every part file with its byte size and md5
  — a reader (or the next pipeline stage) verifies the table is
  exactly the set of files one successful job wrote: no missing parts
  (failed tasks), no orphans (a concurrent/zombie writer's output
  would otherwise be silently read as table data).
- Listing and sizing go through the Hadoop ``FileSystem`` API for any
  non-local scheme (s3a://, hdfs://, gs://, abfs://, …) — driver
  metadata calls only, one ``listStatus`` per table. Local paths take
  the plain ``os`` path (no JVM round-trips). Hashing streams
  file-by-file on the driver for local paths; for remote tables (or
  whenever a ``SparkSession`` is supplied) it rides an
  executor-parallel ``binaryFile`` job, so the verify cost is one
  distributed read of the table's bytes.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_NAME = "_manifest.json"


def _strip_scheme(uri: str) -> str:
    return uri[7:] if uri.startswith("file://") else uri


def _is_local(uri: str) -> bool:
    """Local filesystem path? (no scheme, or file://)"""
    if uri.startswith("file://"):
        return True
    # "s3a://bucket/k" has "://"; a bare "/tmp/t" or "rel/t" does not
    return "://" not in uri


def _hadoop_fs(spark: SparkSession, uri: str):
    """(FileSystem, Path) for ``uri`` via the JVM gateway — works for
    every scheme the cluster's Hadoop conf knows (s3a, hdfs, gs, …)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(uri)
    conf = spark._jsc.hadoopConfiguration()
    return jpath.getFileSystem(conf), jpath


def _is_data_file(name: str) -> bool:
    """Data part file? (underscore/dot files — _SUCCESS,
    _manifest.json, .crc — are metadata, not data)."""
    return not name.startswith(("_", "."))


def _list_files(
    path: str, spark: SparkSession | None = None
) -> list[tuple[str, int]]:
    """Sorted ``(name, bytes)`` of the table's data part files. Local
    paths use ``os``; any other scheme goes through the Hadoop
    ``FileSystem`` API (requires ``spark``)."""
    if _is_local(path):
        base = _strip_scheme(path)
        return sorted(
            (f, os.path.getsize(os.path.join(base, f)))
            for f in os.listdir(base)
            if _is_data_file(f) and os.path.isfile(os.path.join(base, f))
        )
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise ValueError(
            f"listing {path!r} needs a SparkSession (Hadoop FileSystem "
            "API) — pass spark= or start a session"
        )
    fs, jpath = _hadoop_fs(spark, path)
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isFile() and _is_data_file(name):
            out.append((name, int(st.getLen())))
    return sorted(out)


def table_file_stats(
    path: str,
    small_file_bytes: int = 32 * 1024 * 1024,
    spark: SparkSession | None = None,
) -> dict:
    """Driver-side listing stats: the numbers that decide whether a
    table needs compaction. Metadata only — no data is read. Remote
    schemes list via the Hadoop FileSystem API."""
    sizes = [s for _, s in _list_files(path, spark)]
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "min_bytes": min(sizes, default=0),
        "max_bytes": max(sizes, default=0),
        "mean_bytes": (sum(sizes) // len(sizes)) if sizes else 0,
        "n_small_files": sum(1 for s in sizes if s < small_file_bytes),
    }


def compact_files(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
) -> dict:
    """Rewrite the parquet table at ``path`` into ``out_path`` with
    file sizes near ``target_file_bytes``. Never rewrites in place —
    swapping the compacted table in is the caller's (atomic-rename or
    metastore) operation, because a non-atomic in-place rewrite is a
    read-torn table at 100 TB.

    Without ``sort_by``: ``coalesce`` (shuffle-free concatenation of
    input splits). With ``sort_by``: ``repartitionByRange`` +
    ``sortWithinPartitions`` so every output file is also a tight
    range of the sort key (restores footer min/max pruning).
    """
    if target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    before = table_file_stats(path, spark=spark)
    n_parts = max(1, math.ceil(before["total_bytes"] / target_file_bytes))
    df = spark.read.parquet(path)
    if sort_by:
        out = df.repartitionByRange(n_parts, *sort_by).sortWithinPartitions(
            *sort_by
        )
    else:
        out = df.coalesce(n_parts)
    out.write.mode("errorifexists").parquet(out_path)
    after = table_file_stats(out_path, spark=spark)
    return {"before": before, "after": after, "target_partitions": n_parts}


def _md5_of(fpath: str) -> str:
    h = hashlib.md5()
    with open(fpath, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _md5_spark(
    spark: SparkSession, path: str, names: list[str]
) -> dict[str, str]:
    """md5 per file via an executor-parallel binaryFile job (the only
    hashing path that works for remote stores, and the fast one for
    large local tables)."""
    sep = "" if path.endswith("/") else "/"
    rows = (
        spark.read.format("binaryFile")
        .load([f"{path}{sep}{n}" for n in names])
        .select(
            F.element_at(F.split("path", "/"), -1).alias("name"),
            F.md5("content").alias("md5"),
        )
        .collect()
    )
    return {r["name"]: r["md5"] for r in rows}


def write_with_manifest(
    df: DataFrame, path: str, format: str = "parquet"
) -> dict:
    """Write ``df`` and publish ``_manifest.json`` beside the parts:
    ``{"format", "files": [{"name", "bytes", "md5"}], "n_files",
    "total_bytes"}``. The manifest is written LAST, so its presence
    certifies a complete table (readers that require it get
    all-or-nothing semantics on stores without atomic directory
    commit). Local tables hash on the driver; remote tables hash via a
    ``binaryFile`` Spark job and write the manifest through the Hadoop
    ``FileSystem`` API."""
    if format == "parquet":
        df.write.mode("errorifexists").parquet(path)
    elif format == "orc":
        df.write.mode("errorifexists").orc(path)
    else:
        raise ValueError(f"unsupported manifest format: {format!r}")
    spark = df.sparkSession
    listing = _list_files(path, spark)
    names = [n for n, _ in listing]
    if _is_local(path):
        base = _strip_scheme(path)
        md5s = {n: _md5_of(os.path.join(base, n)) for n in names}
    else:
        md5s = _md5_spark(spark, path, names)
    files = [{"name": n, "bytes": b, "md5": md5s[n]} for n, b in listing]
    manifest = {
        "format": format,
        "files": files,
        "n_files": len(files),
        "total_bytes": sum(f["bytes"] for f in files),
    }
    payload = json.dumps(manifest, indent=1, sort_keys=True)
    if _is_local(path):
        base = _strip_scheme(path)
        with open(os.path.join(base, MANIFEST_NAME), "w") as fh:
            fh.write(payload)
    else:
        fs, jpath = _hadoop_fs(spark, path)
        mpath = spark._jvm.org.apache.hadoop.fs.Path(jpath, MANIFEST_NAME)
        stream = fs.create(mpath, True)
        try:
            stream.write(payload.encode("utf-8"))
        finally:
            stream.close()
    return manifest


def _read_manifest(path: str, spark: SparkSession | None) -> dict:
    if _is_local(path):
        base = _strip_scheme(path)
        with open(os.path.join(base, MANIFEST_NAME)) as fh:
            return json.load(fh)
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise ValueError(
            f"reading the manifest at {path!r} needs a SparkSession"
        )
    fs, jpath = _hadoop_fs(spark, path)
    mpath = spark._jvm.org.apache.hadoop.fs.Path(jpath, MANIFEST_NAME)
    stream = fs.open(mpath)
    try:
        util = spark._jvm.org.apache.commons.io.IOUtils
        text = util.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def verify_manifest(
    spark: SparkSession | None, path: str, check_hashes: bool = True
) -> dict:
    """Check the table against its manifest. Returns ``{"ok", "missing",
    "orphans", "size_mismatch", "hash_mismatch"}`` — ``ok`` iff every
    manifest file is present with the recorded size (and md5 when
    ``check_hashes``) and no unlisted data files exist.

    Listing/size checks are driver metadata calls (Hadoop FileSystem
    API for remote schemes). Hashing: with a session (explicit or the
    active one) → an executor-parallel ``binaryFile`` job; no session
    (local paths only) hashes driver-side, which is fine for the
    listing/size checks that dominate routine verification. A file
    whose hash job fails (corruption can abort the read before the md5
    runs) is retried one-file-at-a-time so the bad file is LOCALIZED:
    it lands in ``hash_mismatch`` with its error under
    ``hash_errors[name]`` instead of aborting the whole verification.
    """
    # one resolution for all three phases (ADVICE r12): _read_manifest /
    # _list_files already fall back to the active session — resolving
    # here keeps the hashing branch consistent with them instead of
    # raising on spark=None while a usable session exists
    spark = spark or SparkSession.getActiveSession()
    manifest = _read_manifest(path, spark)
    listing = dict(_list_files(path, spark))
    listed = {f["name"]: f for f in manifest["files"]}
    present = set(listing)
    missing = sorted(set(listed) - present)
    orphans = sorted(present - set(listed))
    size_mismatch = sorted(
        n
        for n in set(listed) & present
        if listing[n] != listed[n]["bytes"]
    )
    hash_mismatch: list[str] = []
    hash_errors: dict[str, str] = {}
    if check_hashes:
        candidates = sorted((set(listed) & present) - set(size_mismatch))
        got: dict = {}
        if spark is not None and candidates:
            try:
                got = _md5_spark(spark, path, candidates)
            except Exception:
                # a corrupted file can abort the whole multi-file read
                # (the local-FS .crc layer / a remote stream error
                # raises before our md5 runs) — retry one file per job
                # so the BAD file is localized instead of the batch
                # failing with no per-file information (ADVICE r12)
                for n in candidates:
                    try:
                        got.update(_md5_spark(spark, path, [n]))
                    except Exception as exc:
                        hash_errors[n] = str(exc).splitlines()[0][:200]
        if len(got) < len(candidates) and _is_local(path):
            base = _strip_scheme(path)
            for n in candidates:
                if n in got:
                    continue
                try:
                    got[n] = _md5_of(os.path.join(base, n))
                    hash_errors.pop(n, None)
                except OSError as exc:
                    hash_errors[n] = str(exc)[:200]
        if spark is None and not _is_local(path) and candidates:
            # no session at all (explicit OR active) for a remote table:
            # surface per-file instead of raising — the listing/size
            # phases already ran, and the caller sees exactly which
            # files went unverified and why
            for n in candidates:
                hash_errors.setdefault(
                    n,
                    "not hashed: remote files need a SparkSession "
                    "(binaryFile job) and none was given or active",
                )
        # a file whose hash could not be produced counts as a mismatch
        # (possible corruption), with the reason in hash_errors
        hash_mismatch = sorted(
            n for n in candidates if got.get(n) != listed[n]["md5"]
        )
    ok = not (missing or orphans or size_mismatch or hash_mismatch)
    return {
        "ok": ok,
        "missing": missing,
        "orphans": orphans,
        "size_mismatch": size_mismatch,
        "hash_mismatch": hash_mismatch,
        "hash_errors": hash_errors,
    }
