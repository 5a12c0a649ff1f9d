"""NULL-aware NOT IN / EXISTS / NOT EXISTS subquery DML (round-9
verdict item 5) — the remaining Databricks-supported subquery shapes.

The semantics under test are SQL's three-valued logic, made tests
instead of refusals:

- ``NOT IN``: ANY NULL subquery key ⇒ the statement matches nothing
  (every comparison is at best UNKNOWN); a NULL target key never
  matches; an EMPTY subquery matches every row, NULL keys included.
- ``NOT EXISTS`` (equality correlation): NULL subquery keys are inert;
  NULL target keys DO match — nothing can equal them.
- ``EXISTS``: equivalent to IN on the correlation columns.

The hypothesis sweep is the done-criterion: random key sets with NULL
injection cross-checked against the row-wise ``~isin`` twin.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.sources.sql import Lakehouse
from azure_databricks_lakehouse_spark.sources.tables import ParquetTable


@pytest.fixture()
def lh(spark, tmp_path):
    return Lakehouse(spark, warehouse=str(tmp_path / "wh"))


ROWS = "(1,10),(2,20),(3,30),(NULL,40)"


def _mk(lh, name="t", rows=ROWS):
    lh.sql(f"CREATE TABLE {name} AS SELECT col1 AS k, col2 AS v FROM VALUES {rows}")


def _state(lh, name="t"):
    return sorted(
        ((r.k, r.v) for r in lh.sql(f"SELECT * FROM {name}").collect()),
        key=str,
    )


def test_delete_not_in_basic_and_null_target(lh):
    _mk(lh)
    lh.sql("CREATE TABLE s AS SELECT col1 AS x FROM VALUES (1),(9)")
    r = lh.sql("DELETE FROM t WHERE k NOT IN (SELECT x FROM s)").collect()[0]
    # k=2,3 deleted; k=1 in the set; k=NULL is UNKNOWN -> kept
    assert r.num_affected_rows == 2
    assert _state(lh) == [(1, 10), (None, 40)]


def test_delete_not_in_null_subquery_key_matches_nothing(lh):
    _mk(lh)
    lh.sql("CREATE TABLE sn AS SELECT col1 AS x FROM VALUES (1),(NULL)")
    before = lh.table("t").latest_version()
    r = lh.sql("DELETE FROM t WHERE k NOT IN (SELECT x FROM sn)").collect()[0]
    assert r.num_affected_rows == 0
    # zero matches -> commits nothing (skipRecordingEmptyCommits)
    assert lh.table("t").latest_version() == before
    assert len(_state(lh)) == 4


def test_delete_not_in_empty_subquery_deletes_all(lh):
    _mk(lh)
    lh.sql("CREATE TABLE se AS SELECT col1 AS x FROM VALUES (1) WHERE 1 = 0")
    r = lh.sql("DELETE FROM t WHERE k NOT IN (SELECT x FROM se)").collect()[0]
    # NOT IN over the empty set is TRUE for every row, NULL key included
    assert r.num_affected_rows == 4
    assert _state(lh) == []


def test_delete_not_exists_null_target_matches(lh):
    _mk(lh)
    lh.sql("CREATE TABLE s AS SELECT col1 AS x FROM VALUES (1),(9)")
    r = lh.sql(
        "DELETE FROM t WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.x = t.k)"
    ).collect()[0]
    # k=2,3 unmatched AND k=NULL (nothing equals NULL) -> 3 deleted
    assert r.num_affected_rows == 3
    assert _state(lh) == [(1, 10)]


def test_delete_not_exists_ignores_null_subquery_keys(lh):
    _mk(lh)
    lh.sql("CREATE TABLE sn AS SELECT col1 AS x FROM VALUES (1),(NULL)")
    r = lh.sql(
        "DELETE FROM t WHERE NOT EXISTS (SELECT 1 FROM sn WHERE sn.x = t.k)"
    ).collect()[0]
    assert r.num_affected_rows == 3  # NULL subquery key is inert
    assert _state(lh) == [(1, 10)]


def test_exists_positive_is_semi_join(lh):
    _mk(lh)
    lh.sql("CREATE TABLE s AS SELECT col1 AS x FROM VALUES (1),(9)")
    r = lh.sql(
        "DELETE FROM t WHERE EXISTS (SELECT 1 FROM s WHERE s.x = t.k)"
    ).collect()[0]
    assert r.num_affected_rows == 1
    assert _state(lh) == [(2, 20), (3, 30), (None, 40)]


def test_exists_with_residual_conjunct_and_reversed_sides(lh):
    _mk(lh, rows="(1,10),(2,20),(9,90)")
    lh.sql("CREATE TABLE s AS SELECT col1 AS x FROM VALUES (1),(9)")
    # residual (uncorrelated) conjunct stays in the subquery
    r = lh.sql(
        "UPDATE t SET v = 0 WHERE NOT EXISTS "
        "(SELECT 1 FROM s WHERE s.x = t.k AND s.x < 5)"
    ).collect()[0]
    assert r.num_affected_rows == 2
    assert _state(lh) == [(1, 10), (2, 0), (9, 0)]
    # reversed correlation sides + an inner EXPRESSION
    r = lh.sql(
        "UPDATE t SET v = 99 WHERE EXISTS "
        "(SELECT 1 FROM s WHERE t.k = s.x + 1)"
    ).collect()[0]
    assert r.num_affected_rows == 1
    assert _state(lh) == [(1, 10), (2, 99), (9, 0)]


def test_update_not_in_may_assign_membership_column(lh):
    """Unlike update_where_in (which refuses it), the anti-join marks
    rows pre-update, so assigning the key is legal."""
    _mk(lh)
    lh.sql("CREATE TABLE s AS SELECT col1 AS x FROM VALUES (1)")
    r = lh.sql(
        "UPDATE t SET k = k + 100 WHERE k NOT IN (SELECT x FROM s)"
    ).collect()[0]
    assert r.num_affected_rows == 2
    assert _state(lh) == [(1, 10), (102, 20), (103, 30), (None, 40)]


def test_tuple_not_in_raises_with_merge_guidance(lh):
    _mk(lh)
    lh.sql("CREATE TABLE s2 AS SELECT col1 AS a, col2 AS b FROM VALUES (1, 10)")
    with pytest.raises(ValueError, match="tuple NOT IN"):
        lh.sql(
            "DELETE FROM t WHERE (k, v) NOT IN (SELECT a, b FROM s2)"
        )


def test_uncorrelated_exists_raises(lh):
    _mk(lh)
    lh.sql("CREATE TABLE s AS SELECT col1 AS x FROM VALUES (1)")
    with pytest.raises(ValueError, match="correlation"):
        lh.sql("DELETE FROM t WHERE EXISTS (SELECT 1 FROM s WHERE s.x = 1)")
    with pytest.raises(ValueError, match="equality"):
        lh.sql("DELETE FROM t WHERE EXISTS (SELECT 1 FROM s WHERE s.x < t.k)")


def test_dml_cdf_and_history_shape_for_not_in(lh):
    """The anti-join DML goes through the standard delete/update core:
    DELETE/UPDATE operations in history, CDC sidecars for CDF."""
    _mk(lh)
    lh.sql("CREATE TABLE s AS SELECT col1 AS x FROM VALUES (1),(9)")
    lh.sql("DELETE FROM t WHERE k NOT IN (SELECT x FROM s)")
    ops = [c.operation for c in lh.table("t").history()]
    assert ops == ["CREATE", "DELETE"]
    ch = lh.table("t").changes_between(0, 1)
    deleted = sorted(r.k for r in ch.filter("_change_type = 'delete'").collect())
    assert deleted == [2, 3]


# -- hypothesis cross-check vs row-wise ~isin (the done-criterion) ----------

_vals = st.lists(
    st.integers(0, 5) | st.none(), min_size=0, max_size=6
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(target=_vals, keys=_vals, delta=st.integers(1, 9), is_update=st.booleans())
def test_not_in_matches_rowwise_isin_with_nulls(
    spark, tmp_path_factory, target, keys, delta, is_update
):
    """`DELETE/UPDATE ... WHERE k NOT IN (SELECT ...)` must produce the
    same rows Spark itself produces for the literal `NOT IN (list)`
    predicate — the row-wise twin evaluated by Catalyst, including the
    NULL poisoning and empty-list edge cases."""
    base = tmp_path_factory.mktemp("notin")
    tdf = spark.createDataFrame(
        [(v, i) for i, v in enumerate(target)], "k int, v int"
    )
    t = ParquetTable.create(spark, str(base / "t"), tdf)
    lh = Lakehouse(spark)
    lh.register("ta", str(base / "t"))
    kdf = spark.createDataFrame([(v,) for v in keys], "x int")
    kdf.createOrReplaceTempView("kv")
    lit = ", ".join("NULL" if v is None else str(v) for v in keys)
    tdf.createOrReplaceTempView("tv")
    if is_update:
        lh.sql(
            f"UPDATE ta SET v = v + {delta} "
            "WHERE k NOT IN (SELECT x FROM kv)"
        )
        if keys:
            want = spark.sql(
                f"SELECT k, CASE WHEN k NOT IN ({lit}) THEN v + {delta} "
                "ELSE v END AS v FROM tv"
            )
        else:  # empty list isn't valid SQL; NOT IN () is TRUE everywhere
            want = spark.sql(f"SELECT k, v + {delta} AS v FROM tv")
    else:
        lh.sql("DELETE FROM ta WHERE k NOT IN (SELECT x FROM kv)")
        # remaining rows are those where NOT IN is FALSE *or* UNKNOWN
        # (a WHERE keeps only TRUE) — IS NOT TRUE captures both
        want = (
            spark.sql(
                f"SELECT k, v FROM tv WHERE (k NOT IN ({lit})) IS NOT TRUE"
            )
            if keys
            else spark.sql("SELECT k, v FROM tv WHERE 1 = 0")
        )
    got = sorted(((r.k, r.v) for r in t.read().collect()), key=str)
    ref = sorted(((r.k, r.v) for r in want.collect()), key=str)
    assert got == ref, (target, keys, is_update)
