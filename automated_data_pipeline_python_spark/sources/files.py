"""File format readers/writers with engine conventions baked in.

Conventions (each is a 100 TB lesson, enforced here so callers can't
forget):
- explicit schema always (inference scans data twice and drifts);
- writes are directory datasets, optionally partitioned;
- CSV with header + explicit null token; JSON as JSONL (splittable).

The bronze zone uses JSONL (append-friendly, schema-on-read), silver
and beyond use parquet (columnar, predicate pushdown) — mirroring the
reference's raw-API-JSON → parquet flow (reference
pipeline/load/store.py) with a durable layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

NULL_TOKEN = "\\N"


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def write_parquet(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("nullValue", NULL_TOKEN)
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
    )


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    (
        df.write.mode(mode)
        .option("header", True)
        .option("nullValue", NULL_TOKEN)
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSONL reader (one object per line — splittable at scale)."""
    return spark.read.schema(schema).json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """ORC reader — same columnar/pushdown class as parquet (Hive-side
    interop; Spark pushes predicates and prunes columns identically)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: T.StructType | None = None,
) -> DataFrame:
    """XML reader (built into Spark 4 — SPARK-44265, no external jar).

    ``rowTag`` selects the repeating element that becomes one row;
    attributes surface as ``_attr`` columns. XML files are NOT
    splittable at the row level (the parser must see matching tags), so
    at 100 TB the parallel unit is the FILE — many medium files beat
    one giant document. Schema inference scans the data; pass an
    explicit schema in production to avoid the extra pass.
    """
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """Write rows as XML elements (interop/export surface, not a
    performance format — no pushdown, no column pruning on re-read)."""
    (
        df.write.mode(mode)
        .format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .save(path)
    )


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text reader: one `value` string row per line.

    The raw-corpus entry point (e.g. one document per line before
    parsing) — splittable, so a 100 TB corpus parallelizes by block.
    """
    return spark.read.text(path)


def write_text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write a single string column as line-oriented text."""
    df.write.mode(mode).text(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Whole-file binary reader: (path, modificationTime, length, content).

    The ingest edge for multimodal columns — media files land as opaque
    ``binary`` content plus metadata, ready for a codec stage. Files are
    NOT splittable (one row per file), so at 100 TB the parallelism unit
    is the file: shard media into object-store prefixes and let the file
    listing distribute.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_csv_permissive(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """CSV reader that quarantines malformed rows instead of failing.

    Adds a ``_corrupt_record`` column holding the raw text of rows that
    failed to parse (dead-letter pattern — at 100 TB a single bad row
    must not kill a 6-hour job; filter on the column to split
    good/quarantine outputs).
    """
    full = schema.add("_corrupt_record", T.StringType())
    return (
        spark.read.schema(full)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )


def read_jsonl_permissive(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSONL reader with corrupt-record quarantine (see read_csv_permissive)."""
    full = schema.add("_corrupt_record", T.StringType())
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
