"""Dimension builder unit tests: date_key, calendar boundaries, surrogate
keys (``gold/gold_rx_claims_load.py:36-72,108`` intent parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.operators.dims import (
    add_surrogate_key,
    build_date_dim,
    date_key_expr,
)


def test_date_key_yyyymmdd(spark):
    df = spark.createDataFrame([("2024-03-07",)], "d string").select(
        date_key_expr(F.to_date("d")).alias("k")
    )
    assert df.collect()[0]["k"] == 20240307


def test_date_dim_bounds_and_count(spark):
    dim = build_date_dim(spark, "2024-01-01", "2024-12-31")
    assert dim.count() == 366  # 2024 is a leap year
    row = dim.orderBy("date_key").first()
    assert row["date_key"] == 20240101
    assert row["year"] == 2024 and row["month"] == 1 and row["day"] == 1
    assert row["month_name"] == "January"
    # 2024-01-01 is a Monday -> not weekend; dayofweek: Sunday=1
    assert row["day_of_week"] == 2 and row["is_weekend"] is False


def test_date_dim_weekend_flag(spark):
    dim = build_date_dim(spark, "2024-01-06", "2024-01-07")  # Sat, Sun
    assert [r["is_weekend"] for r in dim.orderBy("date_key").collect()] == [True, True]


def test_surrogate_key_dense_and_stable(spark):
    df = spark.createDataFrame([(c,) for c in "dacb"], "bk string")
    out = add_surrogate_key(df, "sk", business_key="bk")
    got = {r["bk"]: r["sk"] for r in out.collect()}
    assert got == {"a": 1, "b": 2, "c": 3, "d": 4}
    # re-run yields identical assignment (stability, unlike mii)
    again = {r["bk"]: r["sk"] for r in add_surrogate_key(df, "sk", "bk").collect()}
    assert again == got


def test_surrogate_key_dense_at_many_partitions(spark):
    df = spark.range(0, 1000).withColumn("bk", F.col("id").cast("string"))
    out = add_surrogate_key(df.repartition(8), "sk", business_key="bk")
    sks = [r["sk"] for r in out.select("sk").collect()]
    assert sorted(sks) == list(range(1, 1001))


def test_surrogate_key_mii_unique(spark):
    df = spark.range(0, 100).repartition(4)
    out = add_surrogate_key(df, "sk")
    assert out.select("sk").distinct().count() == 100


def test_durable_sk_never_renumbers(spark, tmp_path):
    """A dim member whose business key sorts BEFORE existing keys must not
    shift existing surrogate keys (watermark-incremental facts keep valid
    FKs — the naive full-rebuild rank fails this)."""
    from azure_databricks_lakehouse_spark.pipelines.gold import _scoped_dim_refresh

    path = str(tmp_path / "dim")

    def attrs(keys):
        return spark.createDataFrame(
            [(k, f"name-{k}") for k in keys], "member_key string, name string"
        )

    first = _scoped_dim_refresh(spark, path, attrs(["b", "c"]), "sk", "member_key")
    got1 = {r["member_key"]: r["sk"] for r in first.collect()}
    assert got1 == {"b": 1, "c": 2}

    # 'a' sorts before every existing key; 'c' vanishes from the source.
    second = _scoped_dim_refresh(spark, path, attrs(["a", "b", "d"]), "sk", "member_key")
    got2 = {r["member_key"]: r["sk"] for r in second.collect()}
    assert got2["b"] == 1 and got2["c"] == 2          # never renumbered/carried
    assert got2["a"] == 3 and got2["d"] == 4           # max(sk)+rank over new keys
    # SCD1 attribute refresh still applied to surviving keys
    names = {r["member_key"]: r["name"] for r in second.collect()}
    assert names["b"] == "name-b"
