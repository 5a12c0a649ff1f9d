"""Membership DML (``[NOT] IN (SELECT ...)`` / ``[NOT] EXISTS``) runs on the
engine's one DELETE / UPDATE core: a key-membership row marker feeds the
same per-file strategy split (drop / copy-on-write / deletion vector) the
row-wise statements take, and every spelling equals its row-wise twin."""

from __future__ import annotations

import pytest

from azure_databricks_lakehouse_spark.sources.sql import Lakehouse
from azure_databricks_lakehouse_spark.sources.tables import ParquetTable


@pytest.fixture()
def lh(spark, tmp_path):
    return Lakehouse(spark, warehouse=str(tmp_path / "wh"))


def _view(spark, name: str, values: str) -> None:
    spark.sql(
        f"CREATE OR REPLACE TEMP VIEW {name} AS SELECT col1 AS x FROM VALUES {values}"
    )


def _rows(t: ParquetTable):
    return sorted(((r.k, r.p, r.v) for r in t.read().collect()), key=str)


def test_in_delete_takes_delete_file_strategies(spark, tmp_path, lh):
    """Keys covering a whole partition drop its file without a rewrite;
    one key in a larger file takes a deletion vector.  Rows equal the
    row-wise delete() twin's."""
    # JVM-only inputs (no Python-worker stage per evaluation)
    data = spark.range(15).selectExpr(
        "CAST(id AS INT) AS k",
        "CAST(id DIV 5 AS INT) AS p",
        "CAST(id * 10 AS INT) AS v",
    ).repartition(1)
    tabs = {}
    for n in ("t", "twin"):
        root = str(tmp_path / n)
        tabs[n] = ParquetTable.create(spark, root, data, partition_by=["p"])
        lh.register(n, root)
    t, twin = tabs["t"], tabs["twin"]
    assert t.detail()["num_files"] == 3
    _view(spark, "whole_p0", "(0), (1), (2), (3), (4), (NULL), (99)")

    r = lh.sql("DELETE FROM t WHERE k IN (SELECT x FROM whole_p0)").collect()[0]
    c = t.history(limit=1)[0]
    assert (c.operation, r.num_affected_rows) == ("DELETE", 5)
    assert c.metrics["files_dropped"] >= 1 and c.metrics["files_added"] == 0
    twin.delete("k IN (0, 1, 2, 3, 4)")
    assert _rows(t) == _rows(twin)

    _view(spark, "one_p1", "(7)")
    r = lh.sql("DELETE FROM t WHERE k IN (SELECT x FROM one_p1)").collect()[0]
    c = t.history(limit=1)[0]
    assert (c.operation, r.num_affected_rows) == ("DELETE", 1)
    assert c.metrics["files_dv_masked"] >= 1
    twin.delete("k = 7")
    assert _rows(t) == _rows(twin)


def test_membership_dml_with_codegen_on(spark, tmp_path, lh, codegen_on):
    """All eight membership spellings, with whole-stage and expression
    codegen at Spark's defaults, each equal to its row-wise twin
    (statement result and table state)."""
    assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"
    for n in ("t", "twin"):
        lh.sql(
            f"CREATE TABLE {n} AS SELECT col1 AS k, col2 AS p, col3 AS v "
            "FROM VALUES (1, 0, 10), (2, 0, 20), (3, 0, 30), (4, 0, 40), "
            "(NULL, 0, 50), (6, 0, 60)"
        )
    _view(spark, "s", "(2), (3), (NULL)")
    _view(spark, "s2", "(1), (2)")
    _view(spark, "s3", "(4)")
    steps = [
        ("UPDATE {t} SET v = v + 1 WHERE k IN (SELECT x FROM s)", "k IN (2, 3)"),
        (
            "UPDATE {t} SET v = v * 2 "
            "WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.x = {t}.k)",
            "k IS NULL OR k NOT IN (2, 3)",
        ),
        ("UPDATE {t} SET v = 0 WHERE k NOT IN (SELECT x FROM s2)", "k NOT IN (1, 2)"),
        (
            "UPDATE {t} SET v = -v WHERE EXISTS (SELECT 1 FROM s2 WHERE s2.x = {t}.k)",
            "k IN (1, 2)",
        ),
        ("DELETE FROM {t} WHERE k IN (SELECT x FROM s)", "k IN (2, 3)"),
        (
            "DELETE FROM {t} WHERE EXISTS (SELECT 1 FROM s2 WHERE s2.x = {t}.k)",
            "k IN (1, 2)",
        ),
        ("DELETE FROM {t} WHERE k NOT IN (SELECT x FROM s3)", "k NOT IN (4)"),
        (
            "DELETE FROM {t} WHERE NOT EXISTS (SELECT 1 FROM s3 WHERE s3.x = {t}.k)",
            "k IS NULL OR k NOT IN (4)",
        ),
    ]
    for stmt, rowwise in steps:
        got = lh.sql(stmt.format(t="t")).collect()[0]
        head, _, _ = stmt.partition(" WHERE ")
        want = lh.sql(f"{head.format(t='twin')} WHERE {rowwise}").collect()[0]
        assert got.num_affected_rows == want.num_affected_rows, stmt
        assert _rows(lh.table("t")) == _rows(lh.table("twin")), stmt
    assert _rows(lh.table("t")) == [(4, 0, 0)]
