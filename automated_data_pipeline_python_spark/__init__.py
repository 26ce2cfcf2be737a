"""PySpark-native analytics/ETL engine.

A brand-new engine with the query and data-processing capabilities of the
reference pipeline (HunterX405/automated-data-pipeline-python), re-expressed
Spark-first: declarative DataFrame/SQL plans optimized by Catalyst, designed
for 100 TB scale (partition-aware joins, broadcast dims, pushed-down scans),
while tested locally against a DuckDB oracle on synthetic TPC-H-ish data.

Layout:
- ``session``     SparkSession factory (AQE, Arrow, sane shuffle partitions)
- ``schemas``     explicit StructTypes (never infer pipeline schemas)
- ``tables``      testdata readers
- ``functions``   portable column expressions (hashing, text, vectors)
- ``operators``   composite operators (as-of join, dedup, similarity, ...)
- ``ingest``      the reference's ETL surface (normalize/store/fetch)
- ``queries``     the query catalog exported through __spark_entry__.py
"""

__version__ = "0.1.0"
