"""Normalization: raw NFT records → typed ``nfts`` + exploded ``traits``.

Re-expresses reference ``pipeline/transform/normalize.py:6-33`` on
DataFrames. Documented divergences from the reference (kept
deliberately — see SURVEY.md §5.4):

1. The reference's ``.flatten()`` on ``traits`` (normalize.py:26-29) is
   a no-op on a list<struct> column in PyArrow; the README (:110)
   promises "flattened trait data". We implement the *intent*: one row
   per trait via ``explode``.
2. The reference casts identifier string→int32 with PyArrow's default
   error behavior (normalize.py:11-16); we use ANSI-off cast semantics
   (non-numeric → null) and keep a dead-letter flag column available.
3. The reference's ``from_pylist`` raises on a non-string JSON scalar in
   a string field; we store its string form (``5`` → ``'5'``, ``True``
   → ``'true'``), which numeric OpenSea trait values need. A record,
   its ``traits`` and each trait must have the shapes JSON decoding
   gives (object, array, object or null); anything else, a positional
   ``[trait_type, value]`` pair included, raises ``TypeError``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema

from automated_data_pipeline_python_spark.schemas import NFT_RAW_SCHEMA, NFTS_SCHEMA

NFT_COLUMNS = NFTS_SCHEMA.fieldNames()


def _check_shapes(records: list[dict]) -> None:
    """Raise ``TypeError`` naming the first record or trait of the wrong shape.

    Spark's converter guards these shapes with bare ``assert``s, which
    ``python -O`` strips.
    """
    for i, record in enumerate(records):
        if not isinstance(record, dict):
            raise TypeError(f"record {i} must be a dict, got {type(record).__name__}")
        traits = record.get("traits")
        if traits is None:
            continue
        if not isinstance(traits, list):
            raise TypeError(f"record {i}: traits must be a list, got {type(traits).__name__}")
        for j, trait in enumerate(traits):
            if trait is not None and not isinstance(trait, dict):
                raise TypeError(f"record {i}: traits[{j}] must be a dict, got {type(trait).__name__}")


def from_records(spark: SparkSession, records: list[dict]) -> DataFrame:
    """Hand the collected dicts to Spark as one Arrow table.

    Mirrors ``Table.from_pylist(..., schema=)`` (reference
    normalize.py:8): extra keys are dropped and missing keys read null,
    at the top level and inside a trait. Spark's own local-data
    converter builds the table, so a non-string scalar in a string field
    is stored as ``str(value)`` (bools lowercased, divergence 3). The
    table reaches the JVM as column batches whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says.
    """
    if records:
        _check_shapes(records)
        table = LocalDataToArrowConversion.convert(records, NFT_RAW_SCHEMA, False)
    else:
        table = to_arrow_schema(NFT_RAW_SCHEMA).empty_table()
    return spark.createDataFrame(table, schema=NFT_RAW_SCHEMA)


def normalize_nfts(raw: DataFrame) -> dict[str, DataFrame]:
    """Split raw records into the ``nfts`` and ``traits`` tables.

    Reference parity: identifier cast (normalize.py:11-16), nfts
    projection (:18-25), traits projection + *intended* flatten
    (:26-29) implemented as a real explode.
    """
    typed = raw.withColumn("identifier", F.col("identifier").try_cast("int"))
    nfts = typed.select(*NFT_COLUMNS)
    traits = (
        typed.select("identifier", F.explode("traits").alias("t"))
        .select(
            "identifier",
            F.col("t.trait_type").alias("trait_type"),
            F.col("t.value").alias("value"),
        )
    )
    return {"nfts": nfts, "traits": traits}
