"""Source/sink roundtrip tests (SURVEY §2.1 S4/S6)."""

from __future__ import annotations

import pytest

from automated_data_pipeline_python_spark.sources import (
    read_csv,
    read_json,
    read_parquet,
    write_csv,
    write_json,
    write_parquet,
)
from automated_data_pipeline_python_spark.tables import load

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def nationlike(spark):
    return load(spark, SF, "customer")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_parquet_roundtrip_partitioned(spark, nationlike, tmp_path):
    path = str(tmp_path / "cust_parq")
    write_parquet(nationlike, path, partition_by=["c_mktsegment"])
    back = read_parquet(spark, path)
    assert _sorted(back.select(*nationlike.columns)) == _sorted(nationlike)
    # partition pruning: segment filter must prune input files
    pruned = back.filter("c_mktsegment = 'BUILDING'")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_csv_roundtrip_with_nulls(spark, tmp_path):
    df = load(spark, SF, "customer").selectExpr(
        "c_custkey",
        "CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_name END AS c_name",
        "c_acctbal",
    )
    path = str(tmp_path / "cust_csv")
    write_csv(df, path)
    back = read_csv(spark, path, df.schema)
    assert _sorted(back) == _sorted(df)
    assert back.filter("c_name IS NULL").count() == df.filter("c_name IS NULL").count()


def test_jsonl_roundtrip_nested(spark, tmp_path):
    df = load(spark, SF, "customer").selectExpr(
        "c_custkey",
        "named_struct('name', c_name, 'segment', c_mktsegment) AS info",
        "array(c_acctbal, c_acctbal * 2) AS balances",
    )
    path = str(tmp_path / "cust_json")
    write_json(df, path)
    back = read_json(spark, path, df.schema)
    assert _sorted(back) == _sorted(df)


def test_timestamp_roundtrip_csv(spark, tmp_path):
    df = load(spark, SF, "orders").select("o_orderkey", "o_orderdate")
    path = str(tmp_path / "orders_csv")
    write_csv(df, path)
    back = read_csv(spark, path, df.schema)
    assert _sorted(back) == _sorted(df)


class TestPermissiveReads:
    def test_csv_quarantines_malformed_rows(self, spark, tmp_path):
        from pyspark.sql import types as T
        from automated_data_pipeline_python_spark.sources.files import (
            read_csv_permissive,
        )

        p = tmp_path / "dirty.csv"
        p.write_text(
            "id,price\n"
            "1,10.5\n"
            "2,not-a-number\n"
            "3,30.25\n"
        )
        schema = T.StructType(
            [T.StructField("id", T.IntegerType()), T.StructField("price", T.DoubleType())]
        )
        df = read_csv_permissive(spark, str(p), schema).cache()
        good = df.filter("_corrupt_record IS NULL")
        bad = df.filter("_corrupt_record IS NOT NULL")
        assert good.count() == 2
        assert bad.count() == 1
        assert "not-a-number" in bad.collect()[0]._corrupt_record

    def test_jsonl_quarantines_malformed_rows(self, spark, tmp_path):
        from pyspark.sql import types as T
        from automated_data_pipeline_python_spark.sources.files import (
            read_jsonl_permissive,
        )

        p = tmp_path / "dirty.jsonl"
        p.write_text(
            '{"id": 1, "price": 10.5}\n'
            "this is not json at all\n"
            '{"id": 3, "price": 30.25}\n'
        )
        schema = T.StructType(
            [T.StructField("id", T.IntegerType()), T.StructField("price", T.DoubleType())]
        )
        df = read_jsonl_permissive(spark, str(p), schema).cache()
        assert df.filter("_corrupt_record IS NULL").count() == 2
        assert df.filter("_corrupt_record IS NOT NULL").count() == 1


def test_register_views_enables_raw_sql(spark):
    from automated_data_pipeline_python_spark.tables import register_views

    register_views(spark, SF)
    out = spark.sql(
        """
        SELECT r_name, count(*) AS n
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        """
    ).collect()
    assert sum(r.n for r in out) == 150
    assert len(out) == 5


def test_orc_roundtrip_with_pushdown(spark, nationlike, tmp_path):
    from automated_data_pipeline_python_spark.sources import read_orc, write_orc

    path = str(tmp_path / "cust_orc")
    write_orc(nationlike, path, partition_by=["c_mktsegment"])
    back = read_orc(spark, path)
    assert _sorted(back.select(*nationlike.columns)) == _sorted(nationlike)
    pruned = back.filter("c_mktsegment = 'BUILDING' AND c_custkey > 50")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "PushedFilters: [" in plan


def test_text_roundtrip_lines(spark, tmp_path):
    from automated_data_pipeline_python_spark.sources import read_text, write_text

    docs = load(spark, SF, "documents").selectExpr("text AS value").limit(20)
    path = str(tmp_path / "corpus_txt")
    write_text(docs, path)
    back = read_text(spark, path)
    assert _sorted(back) == _sorted(docs)


def test_binary_files_reader(spark, tmp_path):
    from automated_data_pipeline_python_spark.sources import read_binary_files

    media = tmp_path / "media"
    media.mkdir()
    (media / "a.bin").write_bytes(b"\x89PNG-fake-a")
    (media / "b.bin").write_bytes(b"\x89PNG-fake-bb")
    (media / "skip.txt").write_text("not media")
    df = read_binary_files(spark, str(media), glob="*.bin")
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"].content) == b"\x89PNG-fake-a"
    assert rows["b.bin"].length == 12


def test_xml_roundtrip(spark, tmp_path):
    """Spark 4 ships the XML connector in-box (SPARK-44265): rowTag
    selects the repeating element, one element = one row. Interop
    surface — values and nulls must survive the trip."""
    from automated_data_pipeline_python_spark.sources import read_xml, write_xml

    src = load(spark, SF, "nation").selectExpr(
        "n_nationkey",
        "n_name",
        "CASE WHEN n_nationkey % 2 = 0 THEN n_regionkey END AS maybe_region",
    )
    path = str(tmp_path / "nation_xml")
    write_xml(src, path, row_tag="nation", root_tag="nations")
    back = read_xml(spark, path, row_tag="nation", schema=src.schema)
    assert _sorted(back.select(*src.columns)) == _sorted(src)


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across file generations — the 100 TB reality:
    later partitions gain columns. mergeSchema unions the footers;
    old files surface the new column as null (no rewrite)."""
    base = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).write.parquet(base + "/gen=1")
    spark.createDataFrame(
        [(3, "c", 9.5)], "id long, name string, score double"
    ).write.parquet(base + "/gen=2")

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"id", "name", "score", "gen"}
    rows = {r.id: (r.name, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 9.5)}

    # unionByName is the frame-level twin for mixed-schema frames
    a = spark.createDataFrame([(1, "a")], "id long, name string")
    b = spark.createDataFrame([(2, "b", 1.0)], "id long, name string, score double")
    u = a.unionByName(b, allowMissingColumns=True)
    assert {r.id: r.score for r in u.collect()} == {1: None, 2: 1.0}
