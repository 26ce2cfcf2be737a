"""Central schema declarations.

Mirrors the reference's single-point-of-truth schema style (the reference
hardcodes its one schema in ``main.py:54-65`` and passes it to
``Table.from_pylist``); here every pipeline table gets an explicit
``StructType`` — never schema inference for pipeline data.
"""

from __future__ import annotations

from pyspark.sql import types as T

# The reference's NFT schema (reference main.py:54-65): identifier arrives
# as a numeric string and is cast to int downstream (normalize.py:11-16).
TRAIT_TYPE = T.StructType(
    [
        T.StructField("trait_type", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)

NFT_RAW_SCHEMA = T.StructType(
    [
        T.StructField("identifier", T.StringType()),
        T.StructField("collection", T.StringType()),
        T.StructField("contract", T.StringType()),
        T.StructField("token_standard", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("metadata_url", T.StringType()),
        T.StructField("traits", T.ArrayType(TRAIT_TYPE)),
    ]
)

NFTS_SCHEMA = T.StructType(
    [
        T.StructField("identifier", T.IntegerType()),
        T.StructField("collection", T.StringType()),
        T.StructField("contract", T.StringType()),
        T.StructField("token_standard", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("metadata_url", T.StringType()),
    ]
)

# Exploded traits table — the *intended* semantics of the reference's
# flatten (normalize.py:26-29; README.md:110 claims flattened output but
# pyarrow .flatten() is a no-op on list<struct> — documented divergence).
TRAITS_SCHEMA = T.StructType(
    [
        T.StructField("identifier", T.IntegerType()),
        T.StructField("trait_type", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)
