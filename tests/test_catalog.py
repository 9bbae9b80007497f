"""Table-reference resolution (sources/catalog.py): parquet paths,
catalog names, the forced-iceberg error contract, and inference."""

import pytest

from sgb_data_validator_spark.sources.catalog import read_table


def test_path_reads_parquet(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(10).write.parquet(p)
    assert read_table(spark, p).count() == 10
    assert read_table(spark, p, fmt="parquet").count() == 10


def test_dotted_name_resolves_via_catalog(spark):
    spark.range(7).createOrReplaceTempView("cat_probe")
    # no slash, not a filesystem path → spark.table
    assert read_table(spark, "cat_probe").count() == 7
    assert read_table(spark, "cat_probe", fmt="table").count() == 7


def test_forced_iceberg_fails_actionably_without_plugin(spark):
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        read_table(spark, "db.turns", fmt="iceberg")


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError):
        read_table(spark, "x", fmt="orc2")


def test_table_write_keeps_earlier_partitions(spark):
    """A catalog-table write replaces only the partitions it carries:
    day 2 lands beside day 1, and rewriting day 2 leaves day 1 alone."""
    from sgb_data_validator_spark.sources.catalog import write_table

    schema = "conv_id string, n int, part string"
    spark.sql("DROP TABLE IF EXISTS write_table_probe")
    try:
        write_table(spark.createDataFrame([("a", 1, "2026-01-01")], schema), "write_table_probe")
        # columns in another order than the table's: matched by name
        day2 = spark.createDataFrame([("2026-01-02", "b", 2)], "part string, conv_id string, n int")
        write_table(day2, "write_table_probe")
        rows = {tuple(r) for r in read_table(spark, "write_table_probe").collect()}
        assert rows == {("a", 1, "2026-01-01"), ("b", 2, "2026-01-02")}
        write_table(spark.createDataFrame([("c", 3, "2026-01-02")], schema), "write_table_probe")
        rows = {tuple(r) for r in read_table(spark, "write_table_probe").collect()}
        assert rows == {("a", 1, "2026-01-01"), ("c", 3, "2026-01-02")}
    finally:
        spark.sql("DROP TABLE IF EXISTS write_table_probe")
