"""Row tracking (Delta ``delta.enableRowTracking`` parity): every row
gets a stable long id (``_row_id``) that survives every data-preserving
operation.

Design under test (``sources/tables.py``):

- fresh rows draw ids from a PER-FILE BASE map in the versioned props
  (``base + _metadata.row_index``) — metadata-only, so a commit that
  rebases after losing a race re-allocates without rewriting files;
- rewrites (UPDATE/DELETE copy-on-write, MERGE, OPTIMIZE, replaceWhere)
  materialize preserved ids into a physical ``__row_id`` column; reads
  coalesce ``(materialized, base + index)`` — Delta's exact scheme;
- the allocation hook lives INSIDE ``_commit``, so every path maintains
  the state without per-path wiring, and RESTORE/time travel see each
  version's own assignment (state rides the versioned props).

The invariant each test asserts: the (key -> _row_id) map restricted to
surviving rows is UNCHANGED by the operation, and fresh rows get ids
never used before.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.sources.tables import ParquetTable


@pytest.fixture()
def tracked(spark, tmp_path):
    t = ParquetTable.create(
        spark,
        str(tmp_path / "t"),
        spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
    )
    t.set_properties({"delta.enableRowTracking": "true"})
    return t


def _ids(t, **kw):
    return {r.k: r._row_id for r in t.read(with_row_ids=True, **kw).collect()}


def test_enable_backfills_and_ids_are_unique(tracked):
    ids = _ids(tracked)
    assert len(ids) == 20
    assert len(set(ids.values())) == 20
    assert all(i is not None for i in ids.values())


def test_append_allocates_fresh_never_reused(tracked):
    before = _ids(tracked)
    tracked.append(
        tracked.spark.range(20, 25).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    after = _ids(tracked)
    assert all(after[k] == before[k] for k in before)
    fresh = {after[k] for k in range(20, 25)}
    assert len(fresh) == 5 and fresh.isdisjoint(set(before.values()))


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_update_preserves_ids_both_modes(tracked, mode):
    before = _ids(tracked)
    tracked.update("k % 3 = 0", {"v": F.col("v") + 1}, mode=mode)
    after = _ids(tracked)
    assert after == before, f"update ({mode}) changed a stable row id"
    # and values actually moved
    got = {
        r.k: r.v for r in tracked.read().filter("k % 3 = 0").collect()
    }
    assert all(v == k * 10 + 1 for k, v in got.items())


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_delete_survivors_keep_ids(tracked, mode):
    before = _ids(tracked)
    tracked.delete("k % 4 = 1", mode=mode)
    after = _ids(tracked)
    assert set(after) == {k for k in before if k % 4 != 1}
    assert all(after[k] == before[k] for k in after)


def test_merge_matched_keep_inserts_fresh(tracked, spark):
    before = _ids(tracked)
    src = spark.range(15, 30).select(
        F.col("id").alias("k"), F.lit(-1).alias("v")
    )
    tracked.merge(src, on=["k"])
    after = _ids(tracked)
    # matched rows (15..19) and untouched rows keep their ids
    assert all(after[k] == before[k] for k in before)
    fresh = {after[k] for k in range(20, 30)}
    assert len(fresh) == 10 and fresh.isdisjoint(set(before.values()))
    # updated value landed
    assert tracked.read().filter("k = 15").collect()[0].v == -1


def test_optimize_is_identity_on_row_ids(tracked, spark):
    tracked.append(
        spark.range(20, 23).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    before = _ids(tracked)
    tracked.optimize()
    assert _ids(tracked) == before


def test_replace_where_kept_rows_stable(tracked, spark):
    before = _ids(tracked)
    repl = spark.range(0, 5).select(
        F.col("id").alias("k"), F.lit(999).alias("v")
    )
    tracked.overwrite_where(repl, "k < 5")
    after = _ids(tracked)
    assert all(after[k] == before[k] for k in before if k >= 5)
    # replaced region = new logical rows = fresh ids (Delta semantics)
    assert {after[k] for k in range(5)}.isdisjoint(
        {before[k] for k in range(5)}
    )


def test_time_travel_and_restore_see_versioned_ids(tracked):
    v_enabled = tracked.latest_version()
    ids_then = _ids(tracked)
    tracked.delete("k >= 10")
    tracked.append(
        tracked.spark.range(100, 103).select(
            F.col("id").alias("k"), F.lit(0).alias("v")
        )
    )
    assert _ids(tracked, version=v_enabled) == ids_then
    tracked.restore(v_enabled)
    assert _ids(tracked) == ids_then


def test_update_where_in_routes_preserve_ids(tracked, spark):
    before = _ids(tracked)
    keys = spark.range(0, 20, 2).select(F.col("id").alias("k"))
    tracked.update_where_in("k", keys, {"v": F.lit(7)})
    after = _ids(tracked)
    assert after == before


def test_update_where_in_duplicate_key_group_keeps_rows_and_ids(
    spark, tmp_path
):
    # a duplicate-key group {r1, r2} is replaced row for row: two
    # post-images, each keeping one of the group's ids
    t = ParquetTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 10), (1, 11), (2, 20)], "k long, v long"),
    )
    t.set_properties({"delta.enableRowTracking": "true"})
    group = {r._row_id for r in t.read(with_row_ids=True).collect() if r.k == 1}
    t.update_where_in("k", spark.createDataFrame([(1,)], "k long"), {"v": F.col("v") + 100})
    rows = [r for r in t.read(with_row_ids=True).collect() if r.k == 1]
    assert sorted(r.v for r in rows) == [110, 111]
    assert {r._row_id for r in rows} == group


def test_disable_then_reenable_reallocates(tracked):
    ids0 = _ids(tracked)
    tracked.set_properties({"delta.enableRowTracking": "false"})
    with pytest.raises(ValueError, match="row tracking"):
        tracked.read(with_row_ids=True).collect()
    tracked.set_properties({"delta.enableRowTracking": "true"})
    ids1 = _ids(tracked)
    assert set(ids1) == set(ids0)  # same rows; ids may differ (documented)


def test_reserved_column_guard(spark, tmp_path):
    t = ParquetTable.create(
        spark,
        str(tmp_path / "bad"),
        spark.range(3).selectExpr("id AS k", "id AS __row_id"),
    )
    with pytest.raises(ValueError, match="reserved"):
        t.set_properties({"delta.enableRowTracking": "true"})


def test_sql_enable_via_tblproperties(spark, tmp_path):
    from azure_databricks_lakehouse_spark.sources.sql import Lakehouse

    lh = Lakehouse(spark, warehouse=str(tmp_path / "wh"))
    lh.sql(
        "CREATE TABLE rt AS SELECT col1 AS k, col2 AS v FROM VALUES "
        "(1, 10), (2, 20), (3, 30)"
    )
    lh.sql(
        "ALTER TABLE rt SET TBLPROPERTIES "
        "('delta.enableRowTracking' = 'true')"
    )
    t = lh.table("rt")
    before = {r.k: r._row_id for r in t.read(with_row_ids=True).collect()}
    assert len(set(before.values())) == 3
    lh.sql("UPDATE rt SET v = v + 1 WHERE k = 2")
    after = {r.k: r._row_id for r in t.read(with_row_ids=True).collect()}
    assert after == before
    lh.sql("ALTER TABLE rt UNSET TBLPROPERTIES ('delta.enableRowTracking')")
    with pytest.raises(ValueError, match="row tracking"):
        t.read(with_row_ids=True).collect()


def test_clone_carries_ids_then_diverges_independently(tracked, tmp_path):
    before = _ids(tracked)
    c = tracked.clone(str(tmp_path / "c"))
    assert {r.k: r._row_id for r in c.read(with_row_ids=True).collect()} == (
        before
    )
    # each side allocates from its own high water afterwards
    c.append(
        c.spark.range(50, 52).select(F.col("id").alias("k"), F.lit(0).alias("v"))
    )
    assert _ids(tracked) == before  # source untouched


def test_zorder_preserves_ids(tracked):
    before = _ids(tracked)
    tracked.optimize(zorder_by=["v"])
    assert _ids(tracked) == before


# --- the done-criterion sweep ------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_rt_op = st.one_of(
    st.tuples(st.just("insert"), st.integers(1, 3)),
    st.tuples(st.just("delete"), st.integers(2, 5), st.integers(0, 4)),
    st.tuples(st.just("update"), st.integers(2, 5), st.integers(0, 4)),
    st.tuples(st.just("merge"), st.integers(1, 3)),
    st.tuples(st.just("optimize")),
)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(_rt_op, min_size=1, max_size=5))
def test_row_ids_stable_under_random_dml(spark, tmp_path_factory, ops):
    """The row-tracking invariant, swept: after ANY random DML/maintenance
    sequence, (a) every surviving key keeps its id, (b) ids stay unique,
    (c) fresh rows never reuse a previously-seen id."""
    t = ParquetTable.create(
        spark,
        str(tmp_path_factory.mktemp("rt") / "t"),
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
    )
    t.set_properties({"delta.enableRowTracking": "true"})
    next_k = 10
    prev = {r.k: r._row_id for r in t.read(with_row_ids=True).collect()}
    seen = set(prev.values())
    for op in ops:
        if op[0] == "insert":
            t.append(
                spark.range(next_k, next_k + op[1]).select(
                    F.col("id").alias("k"), F.lit(0).alias("v")
                )
            )
            next_k += op[1]
        elif op[0] == "delete":
            t.delete(f"k % {op[1]} = {op[2] % op[1]}")
        elif op[0] == "update":
            t.update(f"k % {op[1]} = {op[2] % op[1]}", {"v": F.col("v") + 1})
        elif op[0] == "merge":
            src = spark.range(next_k - op[1], next_k + op[1]).select(
                F.col("id").alias("k"), F.lit(-1).alias("v")
            )
            t.merge(src, on=["k"])
            next_k += op[1]
        else:
            t.optimize()
        cur = {r.k: r._row_id for r in t.read(with_row_ids=True).collect()}
        assert len(set(cur.values())) == len(cur), f"dup ids after {op}"
        assert all(i is not None for i in cur.values()), f"null id after {op}"
        for k in cur.keys() & prev.keys():
            assert cur[k] == prev[k], f"key {k} changed id after {op}"
        for k in cur.keys() - prev.keys():
            assert cur[k] not in seen, f"fresh key {k} reused an id ({op})"
        seen |= set(cur.values())
        prev = cur


# -- CDF × row ids via the CDC sidecar (round 12 optimization) --------------
# Row-tracked DML commits write ``_row_id`` into their CDC sidecar and
# flag the manifest (``cdc_row_ids``), so changes_between(with_row_ids=
# True) reads the sidecar directly — zero shuffle, cost ∝ changed rows —
# instead of the added-EXCEPT ALL-removed file-diff reconstruction.


def test_cdf_with_row_ids_takes_sidecar_path(tracked):
    ids0 = _ids(tracked)
    v0 = tracked.latest_version()
    tracked.update("k % 2 = 0", {"v": F.col("v") + 1})
    tracked.delete("k % 5 = 1")
    for v in (v0 + 1, v0 + 2):
        assert tracked._manifest(v).get("cdc_row_ids") is True
    # plain CDF keeps its schema: no _row_id leaks out of the sidecar
    assert "_row_id" not in tracked.changes_between(v0).columns
    ch = tracked.changes_between(v0, with_row_ids=True)
    # the sidecar path has no EXCEPT ALL reconstruction in the plan
    assert "Except" not in ch._jdf.queryExecution().optimizedPlan().toString()
    rows = ch.collect()
    # every change row carries its key's ORIGINAL stable id
    for r in rows:
        assert r._row_id == ids0[r.k], f"key {r.k} id drifted in CDF"
    upd = {k for k in ids0 if k % 2 == 0}
    del_ = {k for k in ids0 if k % 5 == 1}
    assert {r.k for r in rows if r._change_type == "insert"} == upd
    assert {r.k for r in rows if r._change_type == "delete"} == upd | del_


def test_cdf_row_ids_sidecar_matches_reconstruction(tracked):
    import json as _json

    from azure_databricks_lakehouse_spark.sources.tables import (
        _manifest_path,
    )

    v0 = tracked.latest_version()
    # +7 so NO row is an identity update (v*2 would leave k=0 unchanged
    # — the one documented sidecar/reconstruction divergence: the
    # sidecar surfaces identity pairs, EXCEPT ALL cancels them)
    tracked.update("k % 3 = 0", {"v": F.col("v") + 7})
    tracked.delete("k >= 15")
    cols = ["k", "v", "_row_id", "_change_type", "_commit_version"]

    def _snap():
        return sorted(
            tuple(r[c] for c in cols)
            for r in tracked.changes_between(
                v0, with_row_ids=True
            ).collect()
        )

    fast = _snap()
    # strip the flag from both commits: the same call now takes the
    # file-diff reconstruction — outputs must be identical
    for v in (v0 + 1, v0 + 2):
        p = _manifest_path(tracked.root, v)
        with open(p) as fh:
            m = _json.load(fh)
        assert m.pop("cdc_row_ids") is True
        with open(p + ".tmp", "w") as fh:
            _json.dump(m, fh)
        import os as _os

        _os.replace(p + ".tmp", p)
    assert _snap() == fast
