"""Identity columns (GENERATED ALWAYS AS IDENTITY): per-commit range
reservation through the versioned props' high-water mark — contiguous
ids within a commit, disjoint across concurrent appends, rolled back by
RESTORE with the data, explicit values refused."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.sources.tables import ParquetTable


@pytest.fixture()
def t(spark, tmp_path):
    tbl = ParquetTable.create(
        spark,
        str(tmp_path / "tbl"),
        spark.createDataFrame([], "v string"),
    )
    tbl.add_identity_column("id", start=100, step=10)
    return tbl


def _rows(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "v string")


def test_append_assigns_contiguous_range(spark, t):
    t.append(_rows(spark, ["a", "b", "c"]).repartition(3))
    got = {r["v"]: r["id"] for r in t.read().collect()}
    assert sorted(got.values()) == [100, 110, 120], got
    t.append(_rows(spark, ["d", "e"]))
    ids = sorted(r["id"] for r in t.read().collect())
    assert ids == [100, 110, 120, 130, 140], "ranges chain with no reuse"
    hw = t.properties()["identity"]["id"]["high_water"]
    assert hw == 140


def test_explicit_identity_values_refuse(spark, t):
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(spark.createDataFrame([("x", 1)], "v string, id long"))
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.overwrite(spark.createDataFrame([("x", 1)], "v string, id long"))
    t.append(_rows(spark, ["a"]))
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.update(F.col("v") == "a", {"id": F.lit(5)})
    with pytest.raises(ValueError, match="identity columns"):
        t.merge(spark.createDataFrame([("a", 1)], "v string, id long"), on=["v"])


def test_concurrent_identity_appends_get_disjoint_ids(spark, t):
    """Writer B plans against a stale snapshot; on rebase it must
    detect the consumed id range, re-assign, and commit disjoint ids."""
    b = ParquetTable.for_path(spark, t.root)
    base = b._manifest()
    orig = b._manifest
    state = {"first": True}

    def patched(version=None):
        if version is None and state["first"]:
            state["first"] = False
            return base
        return orig(version)

    b._manifest = patched
    t.append(_rows(spark, ["a1", "a2"]))  # writer A: ids 100, 110
    b.append(_rows(spark, ["b1", "b2", "b3"]))  # planned stale -> rebases
    rows = t.read().collect()
    ids = sorted(r["id"] for r in rows)
    assert ids == [100, 110, 120, 130, 140], f"disjoint + gap-free: {ids}"
    assert len({r["id"] for r in rows}) == 5


def test_restore_rolls_high_water_back(spark, t):
    t.append(_rows(spark, ["a", "b"]))  # v: ids 100, 110
    v_after_first = t.latest_version()
    t.append(_rows(spark, ["c"]))  # id 120
    t.restore(v_after_first)
    assert t.properties()["identity"]["id"]["high_water"] == 110
    t.append(_rows(spark, ["d"]))
    got = {r["v"]: r["id"] for r in t.read().collect()}
    assert got == {"a": 100, "b": 110, "d": 120}, (
        "restored numbering resumes consistently with visible rows"
    )


def test_overwrite_never_reuses_ids(spark, t):
    t.append(_rows(spark, ["a", "b"]))
    t.overwrite(_rows(spark, ["x", "y", "z"]))
    ids = sorted(r["id"] for r in t.read().collect())
    assert ids == [120, 130, 140], "numbering continues past replaced rows"


def test_identity_composes_with_generated_and_delete(spark, tmp_path):
    t = ParquetTable.create(
        spark,
        str(tmp_path / "tbl"),
        spark.createDataFrame([], "v string"),
    )
    t.add_identity_column("id")
    t.add_generated_column("v_up", "string", "upper(v)")
    t.append(_rows(spark, ["a", "b", "c"]))
    assert {(r["id"], r["v_up"]) for r in t.read().collect()} == {
        (1, "A"), (2, "B"), (3, "C"),
    }
    t.delete("id = 2")
    assert sorted(r["id"] for r in t.read().collect()) == [1, 3]
    t.append(_rows(spark, ["d"]))
    assert sorted(r["id"] for r in t.read().collect()) == [1, 3, 4]


def test_identity_registry_follows_rename_and_drop(spark, t):
    """Rename keeps GENERATED ALWAYS enforcement + assignment on the
    new name; drop stops assignment entirely (no ghost ids into the
    retired physical column)."""
    t.append(_rows(spark, ["a"]))
    t.rename_column("id", "uid")
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(spark.createDataFrame([("x", 1)], "v string, uid long"))
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.update(F.col("v") == "a", {"uid": F.lit(5)})
    t.append(_rows(spark, ["b"]))  # assignment continues under new name
    assert {r["v"]: r["uid"] for r in t.read().collect()} == {
        "a": 100, "b": 110,
    }
    t.drop_column("uid")
    assert "identity" not in t.properties() or not t.properties()["identity"]
    t.append(_rows(spark, ["c"]))  # plain append, no ghost assignment
    assert set(t.read().columns) == {"v"}


def test_merge_on_identity_table(spark, tmp_path):
    """Round-8: MERGE supports identity tables with Delta's contract —
    the source omits the identity column, matched rows INHERIT their
    target identity, inserts draw a fresh range, and the high water
    advances with the commit.  The CDC sidecar carries the same ids as
    the data files (the localCheckpoint pin), and identity merge keys
    are refused."""
    t = ParquetTable.create(
        spark,
        str(tmp_path / "mt"),
        spark.createDataFrame([], "v string, amt int"),
    )
    t.add_identity_column("id", start=100, step=10)
    t.append(
        spark.createDataFrame([("a", 1), ("b", 2)], "v string, amt int")
    )
    ids0 = {r.v: r.id for r in t.read().collect()}
    assert sorted(ids0.values()) == [100, 110]

    t.merge(
        spark.createDataFrame(
            [("a", 99), ("c", 3), ("d", 4)], "v string, amt int"
        ),
        on=["v"],
    )
    got = {r.v: (r.amt, r.id) for r in t.read().collect()}
    assert got["a"] == (99, ids0["a"]), "matched row keeps its identity"
    assert got["b"] == (2, ids0["b"]), "untouched row carried"
    new_ids = sorted(got[v][1] for v in ("c", "d"))
    assert new_ids == [120, 130], "inserts draw a fresh contiguous range"
    assert t.properties()["identity"]["id"]["high_water"] == 130
    # CDC sidecar ids agree with the table (same pinned assignment)
    ch = t.changes_between(1)
    cdc_ids = {
        (r.v, r._change_type): r.id
        for r in ch.select("v", "id", "_change_type").collect()
    }
    assert cdc_ids[("c", "insert")] == got["c"][1]
    assert cdc_ids[("d", "insert")] == got["d"][1]
    # the update pair (changes_between maps pre/post-image onto its
    # delete/insert contract) carries the inherited id on both sides
    assert cdc_ids[("a", "insert")] == ids0["a"]
    assert cdc_ids[("a", "delete")] == ids0["a"]
    # a replayed merge is still idempotent (no fresh inserts -> no
    # high-water movement beyond the replay's zero new keys)
    t.merge(
        spark.createDataFrame(
            [("a", 99), ("c", 3), ("d", 4)], "v string, amt int"
        ),
        on=["v"],
    )
    again = {r.v: (r.amt, r.id) for r in t.read().collect()}
    assert again == got
    assert t.properties()["identity"]["id"]["high_water"] == 130

    with pytest.raises(ValueError, match="business key"):
        t.merge(spark.createDataFrame([("x",)], "v string"), on=["id"])


def test_update_where_in_passes_identity_through(spark, tmp_path):
    """The IN-subquery UPDATE carries identity values verbatim (it
    rewrites the target's own rows through update()): updated rows keep
    their ids, the high water doesn't move, and assigning an identity
    column still refuses."""
    tbl = ParquetTable.create(
        spark,
        str(tmp_path / "uwi"),
        spark.createDataFrame([], "v string, n int"),
    )
    tbl.add_identity_column("id", start=100, step=10)
    tbl.append(
        spark.createDataFrame(
            [("a", 1), ("b", 2), ("c", 3)], "v string, n int"
        )
    )
    before = {r["v"]: r["id"] for r in tbl.read().collect()}
    hw = tbl.properties()["identity"]["id"]["high_water"]
    keys = spark.createDataFrame([("a",), ("c",)], "v string")
    tbl.update_where_in("v", keys, {"n": F.col("n") * 10})
    after = {r["v"]: (r["id"], r["n"]) for r in tbl.read().collect()}
    assert after == {
        "a": (before["a"], 10),
        "b": (before["b"], 2),
        "c": (before["c"], 30),
    }
    assert tbl.properties()["identity"]["id"]["high_water"] == hw
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        tbl.update_where_in("v", keys, {"id": F.lit(1)})
