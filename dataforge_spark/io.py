"""Sources and sinks (SURVEY §2.1 S1/S2).

The reference loads one CSV into pandas (`/root/reference/pipeline.py:131`)
and writes it back (`:210-211`). Row order is load-bearing there (ffill,
keep-first dedup), so the Spark scan materializes an explicit ``_row_id``
order column at ingest; order-sensitive operators consume it and the sink
drops it.

Scale note: ``monotonically_increasing_id`` encodes (partition_id, offset)
with partitions numbered in input-split order, so it is a valid *order key*
(monotone w.r.t. file position) without any shuffle or driver round-trip —
unlike ``zipWithIndex`` which needs an extra job to count partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROW_ID = "_row_id"


def with_row_id(df: DataFrame) -> DataFrame:
    """Attach a monotone order key reflecting input order (no shuffle)."""
    if ROW_ID in df.columns:
        return df
    return df.withColumn(ROW_ID, F.monotonically_increasing_id())


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    infer_schema: bool = True,
    row_id: bool = True,
) -> DataFrame:
    """CSV scan with type inference (S1, /root/reference/pipeline.py:131)."""
    df = (
        spark.read.option("header", header)
        .option("inferSchema", infer_schema)
        .option("nullValue", "")
        .csv(path)
    )
    return with_row_id(df) if row_id else df


def read_parquet(spark: SparkSession, path: str, row_id: bool = False) -> DataFrame:
    df = spark.read.parquet(path)
    return with_row_id(df) if row_id else df


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV sink (S2, /root/reference/pipeline.py:210-211).

    ``single_file=True`` honors the reference's one-file download contract
    (`/root/reference/main.py:190-202`) via coalesce(1) — fine for the
    service layer, never for 100 TB output where the default multi-part
    write is the only sane path.
    """
    out = df.drop(ROW_ID) if ROW_ID in df.columns else df
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").option("header", True).csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    row_id: bool = False,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """JSON-Lines scan — the de-facto interchange format for LLM
    training corpora (one document object per line; gzip/zstd parts
    decompress transparently by extension). Extension beyond the
    CSV-only reference (S1 class).

    - ``schema``: DDL string; omit to infer (an extra pass — always pass
      the schema at 100 TB so the scan is single-pass and the reader
      can prune columns).
    - ``mode``: PERMISSIVE (default) | DROPMALFORMED | FAILFAST — the
      standard Spark JSON contract; with ``corrupt_col`` set, malformed
      lines land whole in that column instead of vanishing (quarantine
      pattern: filter them to a reject sink, fail the batch on a ratio
      threshold, or repair downstream).
    """
    r = spark.read.option("mode", mode)
    if corrupt_col:
        r = r.option("columnNameOfCorruptRecord", corrupt_col)
        if schema:
            schema = f"{schema}, {corrupt_col} string"
    if schema:
        r = r.schema(schema)
    df = r.json(path)
    return with_row_id(df) if row_id else df


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str | None = "gzip",
    partition_by: list[str] | None = None,
) -> None:
    """JSON-Lines sink (one object per line, multi-part — compressed by
    default: corpus JSONL is ~4-6× smaller gzipped and every consumer
    decompresses it transparently). ``compression=None`` writes plain
    text; ``partition_by`` lays out hive-style subdirectories (e.g. by
    language or source shard) so downstream scans partition-prune."""
    out = df.drop(ROW_ID) if ROW_ID in df.columns else df
    writer = out.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    out = df.drop(ROW_ID) if ROW_ID in df.columns else df
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_orc(spark: SparkSession, path: str, row_id: bool = False) -> DataFrame:
    """ORC scan (S1 class). Columnar like parquet — predicate pushdown,
    column pruning and vectorized reads all apply, so a warehouse whose
    lake is ORC (the Hive-ecosystem default) ingests at full scan speed
    with no conversion step."""
    df = spark.read.orc(path)
    return with_row_id(df) if row_id else df


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    compression: str = "zstd",
) -> None:
    """ORC sink, multi-part, zstd by default (best ratio/speed of the
    codecs Spark ships; pass ``snappy`` for Hive-2.x readers that lack
    zstd). ``partition_by`` lays out hive-style subdirectories for
    downstream partition pruning, mirroring the parquet/JSONL sinks."""
    out = df.drop(ROW_ID) if ROW_ID in df.columns else df
    writer = out.write.mode("overwrite").option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)

def qcol(name: str):
    """``F.col`` with the name backtick-quoted. Plain ``F.col("a.b")``
    parses the dot as struct access and backticks as quoting, so USER
    column names (CSV headers can contain anything) must go through this
    everywhere the engine touches them."""
    from pyspark.sql import functions as F

    return F.col("`" + name.replace("`", "``") + "`")
