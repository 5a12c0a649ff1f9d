"""Lakehouse table-operation queries: MERGE upsert + time travel under the
oracle gate.

These exercise the parquet-native table layer (``sources/tables.py``) end
to end with real writes: the Spark side materializes a table in a scratch
directory, runs the operation, and returns the resulting snapshot; the
DuckDB oracle computes the equivalent relational result (MERGE =
anti-join + union-all; time travel = the original version's defining
query).  This is how the reference's signature operation — the idempotent
``whenMatchedUpdateAll().whenNotMatchedInsertAll()`` fact refresh
(``gold/gold_rx_claims_load.py:216-221``) — gets a correctness row.

Determinism: target/source are carved from ``orders`` by modular
arithmetic; the updated measure is plain double arithmetic (IEEE —
bit-identical in both engines; only double→decimal *casts* diverge, see
``functions/numeric.py``).

Scratch tables live under ``/tmp`` keyed by scale factor and are wiped at
the start of each call, so repeated runs are self-cleaning and
re-entrant.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.queries import QuerySpec
from azure_databricks_lakehouse_spark.sources.catalog import bind
from azure_databricks_lakehouse_spark.sources.tables import ParquetTable

_SCRATCH = "/tmp/lakehouse_scratch"


def _scratch(sf_dir: str, name: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(_SCRATCH, tag, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _target(orders: DataFrame) -> DataFrame:
    """Stale fact snapshot: orders not divisible by 4."""
    return orders.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
    )


def _source(orders: DataFrame) -> DataFrame:
    """Refresh batch: even order keys, repriced +10%, status U."""
    return orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("U").alias("status"),
        (F.col("o_totalprice") * 1.1).alias("total"),
    )


_TARGET_SQL = """
SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS total
FROM orders WHERE o_orderkey % 4 <> 0
"""
_SOURCE_SQL = """
SELECT o_orderkey, 'U' AS status, o_totalprice * 1.1 AS total
FROM orders WHERE o_orderkey % 2 = 0
"""


# --- q19: MERGE upsert (D3) — matched rows updated, new rows inserted ------
def q19_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union over the SAME scratch table's lifecycle:

    - ``part='merge'``: the reference's signature idempotent
      updateAll/insertAll refresh, run twice (the second merge must be a
      no-op — the oracle would catch any drift).
    - ``part='update_in'`` (round-9): the snapshot after
      ``UPDATE ... WHERE o_orderkey IN (SELECT ...)`` — the IN-subquery
      UPDATE (:meth:`~.tables.ParquetTable.update_where_in`: the
      row-wise UPDATE core with a key-membership row marker).  The key
      set mixes matching keys (÷8), a key no row has (-1), and a NULL
      (never matches) so the no-op and null-drop semantics are
      oracle-checked, not just unit-tested.

    ``part='merge'`` reads its manifest BEFORE the update commits; the
    update leaves the old version's files on disk (time travel owns
    them; a new deletion vector belongs to the new version only), so
    the lazy pre-update frame stays readable.
    """
    t = bind(spark, sf_dir, "orders")
    root = _scratch(sf_dir, "merge_upsert")
    tbl = ParquetTable.create(spark, root, _target(t["orders"]))
    tbl.merge(_source(t["orders"]), on=["o_orderkey"])
    # Idempotency guarantee: the second identical merge must not change
    # the result (bronze_silver_gold/readme.md:68-70) — the oracle would
    # catch any drift.
    tbl.merge(_source(t["orders"]), on=["o_orderkey"])
    merged = tbl.read().withColumn("part", F.lit("merge"))
    keys = (
        t["orders"]
        .filter(F.col("o_orderkey") % 8 == 0)
        .select("o_orderkey")
        .unionByName(
            spark.createDataFrame([(-1,), (None,)], "o_orderkey bigint")
        )
    )
    tbl.update_where_in(
        "o_orderkey",
        keys,
        {"status": F.lit("X"), "total": F.col("total") + 1.0},
    )
    updated = tbl.read().withColumn("part", F.lit("update_in"))
    return merged.unionByName(updated)


_Q19_SQL = f"""
WITH target AS ({_TARGET_SQL}), source AS ({_SOURCE_SQL}),
merged AS (
  SELECT t.* FROM target t ANTI JOIN source s USING (o_orderkey)
  UNION ALL
  SELECT * FROM source
)
SELECT o_orderkey, status, total, 'merge' AS part FROM merged
UNION ALL
SELECT
  o_orderkey,
  CASE WHEN o_orderkey % 8 = 0 THEN 'X' ELSE status END AS status,
  CASE WHEN o_orderkey % 8 = 0 THEN total + 1.0 ELSE total END AS total,
  'update_in' AS part
FROM merged
"""


# --- q20: time travel (D5) + SQL DML/metadata lifecycle --------------------
def q20_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scratch table's SQL-driven lifecycle, tagged by ``part``
    (round-10 corpus extension under the 50-query cap — the NOT IN /
    EXISTS / scalar-subquery DML and metadata-only aggregate surfaces
    each get an oracle row without a new query slot):

    - v0 CREATE (keys ÷16), v1 OVERWRITE (keys ÷8, repriced ×1.1) —
      ``part='v0'`` reads version 0 AFTER three later commits replaced
      everything: the original D5 time-travel proof.
    - v2 ``DELETE ... WHERE k NOT IN (SELECT ...)`` — the NULL-aware
      anti-membership route (``part='not_in'``).
    - v3 ``UPDATE ... SET status='E', total = total + (SELECT
      COUNT(*) ...) WHERE EXISTS (SELECT 1 ... f.kk = q20t.k AND
      f.kk % 64 = 0)`` — a scalar subquery folded into SET composed
      with a decorrelated correlated-EXISTS predicate carrying a
      residual conjunct (``part='exists'``); the update moves rows
      ACROSS partitions (status is the partition column).
    - v4 (round 11) ``UPDATE ... SET total = total + (SELECT COUNT(*)
      ... WHERE f.kk % 1000 = q20t.k % 1000) WHERE status='E'`` — an
      equality-correlated AGGREGATE scalar in SET, decorrelated to a
      keyed lookup left-joined onto the touched rows
      (``part='corr'``); both equality sides are expressions.
    - ``part='meta'``: ANALYZE then the metadata-only aggregate plane —
      unfiltered COUNT/MIN/MAX (zero-scan from footers + fresh column
      stats), partition-filtered COUNT and MIN/MAX over the partition
      column (Delta OptimizeMetadataOnlyQuery parity), and a
      time-travel COUNT from v0's own footers.

    The oracle recomputes every stage relationally, so the DML
    semantics (three-valued NOT IN, EXISTS correlation, eager scalar
    evaluation) and the metadata plane's values are all value-checked
    against a second engine, not just unit-tested."""
    from azure_databricks_lakehouse_spark.sources.sql import Lakehouse

    t = bind(spark, sf_dir, "orders")
    orders = t["orders"]
    root = _scratch(sf_dir, "time_travel")

    base = orders.filter(F.col("o_orderkey") % 16 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
    )
    over = orders.filter(F.col("o_orderkey") % 8 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_totalprice") * 1.1).alias("total"),
    )
    tbl = ParquetTable.create(spark, root, base, partition_by=["status"])
    tbl.overwrite(over)  # v1 replaces everything; v0 stays readable

    lh = Lakehouse(spark)
    lh.register("q20t", root)
    orders.filter(F.col("o_orderkey") % 32 == 0).select(
        F.col("o_orderkey").alias("kk")
    ).createOrReplaceTempView("q20_keep")
    orders.select(F.col("o_orderkey").alias("kk")).createOrReplaceTempView(
        "q20_flag"
    )

    lh.sql("DELETE FROM q20t WHERE k NOT IN (SELECT kk FROM q20_keep)")
    not_in = tbl.read().withColumn("part", F.lit("not_in"))

    lh.sql(
        "UPDATE q20t SET status = 'E', "
        "total = total + (SELECT CAST(COUNT(*) AS DOUBLE) FROM q20_keep) "
        "WHERE EXISTS (SELECT 1 FROM q20_flag f "
        "WHERE f.kk = q20t.k AND f.kk % 64 = 0)"
    )
    exists_ = tbl.read().withColumn("part", F.lit("exists"))

    # v4 (round 11): equality-correlated AGGREGATE scalar in SET —
    # decorrelated to a keyed lookup joined onto the touched rows
    # (``part='corr'``); the key is an expression on both sides
    lh.sql(
        "UPDATE q20t SET total = total + "
        "(SELECT CAST(COUNT(*) AS DOUBLE) FROM q20_flag f "
        "WHERE f.kk % 1000 = q20t.k % 1000) "
        "WHERE status = 'E'"
    )
    corr = tbl.read().withColumn("part", F.lit("corr"))

    lh.sql("ANALYZE TABLE q20t COMPUTE STATISTICS FOR COLUMNS total")
    m_all = lh.sql(
        "SELECT COUNT(*) AS c, MIN(total) AS mn, MAX(total) AS mx FROM q20t"
    )
    m_f = lh.sql("SELECT COUNT(*) AS c FROM q20t WHERE status = 'F'")
    m_st = lh.sql(
        "SELECT MIN(status) AS mn, MAX(status) AS mx FROM q20t "
        "WHERE status <> 'E'"
    )
    m_v0 = lh.sql("SELECT COUNT(*) AS c FROM q20t VERSION AS OF 0")

    def _mrow(df, k_col, s_expr, x_col):
        return df.select(
            F.lit("meta").alias("part"),
            (F.col(k_col) if k_col else F.lit(None)).cast("long").alias("k"),
            s_expr.alias("s"),
            (F.col(x_col) if x_col else F.lit(None))
            .cast("double")
            .alias("x"),
        )

    meta = (
        _mrow(m_all, "c", F.lit("count_all"), None)
        .unionByName(_mrow(m_all, None, F.lit("min_total"), "mn"))
        .unionByName(_mrow(m_all, None, F.lit("max_total"), "mx"))
        .unionByName(_mrow(m_f, "c", F.lit("count_status_f"), None))
        .unionByName(
            _mrow(m_st, None, F.concat(F.lit("min_status="), F.col("mn")), None)
        )
        .unionByName(
            _mrow(m_st, None, F.concat(F.lit("max_status="), F.col("mx")), None)
        )
        .unionByName(_mrow(m_v0, "c", F.lit("count_v0"), None))
    )

    def _tag(df, part):
        return df.select(
            F.lit(part).alias("part"),
            F.col("k"),
            F.col("status").alias("s"),
            F.col("total").alias("x"),
        )

    return (
        _tag(tbl.read(version=0), "v0")
        .unionByName(_tag(not_in.drop("part"), "not_in"))
        .unionByName(_tag(exists_.drop("part"), "exists"))
        .unionByName(_tag(corr.drop("part"), "corr"))
        .unionByName(meta)
    )


_Q20_SQL = """
WITH v0 AS (
  SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS x
  FROM orders WHERE o_orderkey % 16 = 0
),
v1 AS (
  SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice * 1.1 AS x
  FROM orders WHERE o_orderkey % 8 = 0
),
v2 AS (SELECT * FROM v1 WHERE k % 32 = 0),
keepn AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM orders WHERE o_orderkey % 32 = 0
),
v3 AS (
  SELECT k,
         CASE WHEN k % 64 = 0 THEN 'E' ELSE s END AS s,
         CASE WHEN k % 64 = 0 THEN x + (SELECT c FROM keepn) ELSE x END AS x
  FROM v2
),
buckets AS (
  SELECT o_orderkey % 1000 AS b, CAST(COUNT(*) AS DOUBLE) AS c
  FROM orders GROUP BY o_orderkey % 1000
),
v4 AS (
  SELECT k, s,
         CASE WHEN s = 'E' THEN x + COALESCE(
           (SELECT c FROM buckets WHERE b = k % 1000), 0) ELSE x END AS x
  FROM v3
)
SELECT 'v0' AS part, k, s, x FROM v0
UNION ALL SELECT 'not_in', k, s, x FROM v2
UNION ALL SELECT 'exists', k, s, x FROM v3
UNION ALL SELECT 'corr', k, s, x FROM v4
UNION ALL SELECT 'meta', (SELECT COUNT(*) FROM v4), 'count_all',
  CAST(NULL AS DOUBLE)
UNION ALL SELECT 'meta', CAST(NULL AS BIGINT), 'min_total',
  (SELECT MIN(x) FROM v4)
UNION ALL SELECT 'meta', CAST(NULL AS BIGINT), 'max_total',
  (SELECT MAX(x) FROM v4)
UNION ALL SELECT 'meta', (SELECT COUNT(*) FROM v4 WHERE s = 'F'),
  'count_status_f', CAST(NULL AS DOUBLE)
UNION ALL SELECT 'meta', CAST(NULL AS BIGINT),
  'min_status=' || (SELECT MIN(s) FROM v4 WHERE s <> 'E'),
  CAST(NULL AS DOUBLE)
UNION ALL SELECT 'meta', CAST(NULL AS BIGINT),
  'max_status=' || (SELECT MAX(s) FROM v4 WHERE s <> 'E'),
  CAST(NULL AS DOUBLE)
UNION ALL SELECT 'meta', (SELECT COUNT(*) FROM v0), 'count_v0',
  CAST(NULL AS DOUBLE)
"""


# --- q39: CSV + JSON round-trip scans (merged q39 + q42) -------------------
def q39_format_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV and JSON landing-format round-trips in one tagged union —
    merged from the former q39_csv_scan and q42_json_scan so the corpus
    fits the driver's 50-query correctness budget (round-3 verdict
    item 1).

    - ``fmt='csv'``: lands region as CSV and re-reads it with an explicit
      schema in PERMISSIVE mode with a corrupt-record side column (the
      Bronze ingest contract, ``bronze/bronze_rx_claims_load.py:37-42``)
      — the CSV writer/parser round-trip (quoting, escapes, header) is
      what's being verified; ``aux`` is NULL.
    - ``fmt='json'``: lands nation as JSON-lines and re-reads it with an
      explicit schema (S12, ``bronze/bronze_rx_claims_load.py:36``
      documents JSON landing sources); ``aux`` carries n_regionkey.
      Explicit schema, as at Bronze: inference on JSON is a whole extra
      pass over 100 TB.

    The oracle reads the same rows straight from parquet."""
    t = bind(spark, sf_dir, "region", "nation")

    csv_root = _scratch(sf_dir, "csv_scan")
    t["region"].write.option("header", "true").mode("overwrite").csv(csv_root)
    csv_rows = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema("r_regionkey INT, r_name STRING, _corrupt_record STRING")
        .csv(csv_root)
        # the r_regionkey reference keeps a data column in the scan even
        # when an action prunes every output column (e.g. count()) —
        # Spark disallows CSV/JSON queries whose only referenced column
        # is the internal corrupt-record column
        .filter(F.col("_corrupt_record").isNull() & F.col("r_regionkey").isNotNull())
        .select(
            F.lit("csv").alias("fmt"),
            F.col("r_regionkey").alias("k"),
            F.col("r_name").alias("name"),
            F.lit(None).cast("int").alias("aux"),
        )
    )

    json_root = _scratch(sf_dir, "json_scan")
    t["nation"].write.mode("overwrite").json(json_root)
    json_rows = (
        spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .json(json_root)
        .select(
            F.lit("json").alias("fmt"),
            F.col("n_nationkey").alias("k"),
            F.col("n_name").alias("name"),
            F.col("n_regionkey").alias("aux"),
        )
    )
    return csv_rows.unionByName(json_rows)


_Q39_SQL = """
SELECT 'csv' AS fmt, r_regionkey AS k, r_name AS name, CAST(NULL AS INTEGER) AS aux
FROM region
UNION ALL
SELECT 'json' AS fmt, n_nationkey AS k, n_name AS name, n_regionkey AS aux
FROM nation
"""


QUERIES: dict[str, QuerySpec] = {
    "q19_merge_upsert": QuerySpec(q19_merge_upsert, _Q19_SQL),
    "q20_time_travel": QuerySpec(q20_time_travel, _Q20_SQL),
    "q39_format_scan": QuerySpec(q39_format_scan, _Q39_SQL),
}
