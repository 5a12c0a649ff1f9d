"""Parquet-native table layer tests: create/append/overwrite, MERGE upsert
idempotency (``gold/gold_rx_claims_load.py:216-221`` +
``bronze_silver_gold/readme.md:68-70``), time travel, schema evolution,
OPTIMIZE, VACUUM, partition-pruned MERGE."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.sources.tables import ParquetTable, is_table


def _rows(spark, data):
    return spark.createDataFrame(data, "k int, part string, v string")


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def _as_dict(df):
    return {r["k"]: (r["part"], r["v"]) for r in df.collect()}


def test_create_and_probe(spark, root):
    assert not is_table(root)
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    assert is_table(root)
    assert _as_dict(t.read()) == {1: ("a", "x")}
    with pytest.raises(FileExistsError):
        ParquetTable.create(spark, root, _rows(spark, [(2, "a", "y")]))


def test_append_and_overwrite_versions(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    t.append(_rows(spark, [(2, "b", "y")]))
    assert _as_dict(t.read()) == {1: ("a", "x"), 2: ("b", "y")}
    t.overwrite(_rows(spark, [(9, "z", "w")]))
    assert _as_dict(t.read()) == {9: ("z", "w")}
    # time travel (D5): every prior version still readable
    assert _as_dict(t.read(version=0)) == {1: ("a", "x")}
    assert _as_dict(t.read(version=1)) == {1: ("a", "x"), 2: ("b", "y")}
    ops = [c.operation for c in t.history()]
    assert ops == ["CREATE", "APPEND", "OVERWRITE"]


def test_merge_upsert_semantics(spark, root):
    t = ParquetTable.create(
        spark, root, _rows(spark, [(1, "a", "old"), (2, "a", "keep")])
    )
    t.merge(_rows(spark, [(1, "a", "new"), (3, "b", "ins")]), on=["k"])
    assert _as_dict(t.read()) == {1: ("a", "new"), 2: ("a", "keep"), 3: ("b", "ins")}


def test_merge_idempotent_rerun(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "old")]))
    src = _rows(spark, [(1, "a", "new"), (2, "b", "ins")])
    t.merge(src, on=["k"])
    once = sorted(t.read().collect())
    t.merge(src, on=["k"])  # re-run: the medallion idempotency guarantee
    assert sorted(t.read().collect()) == once
    assert t.read().count() == 2


def test_merge_duplicate_source_match_aborts(spark, root):
    """Delta parity: two source rows matching the SAME target row make
    the update nondeterministic, so the merge must abort (Delta's
    DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET) instead of silently
    storing both rows as this engine's anti-join+union otherwise
    would."""
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "old")]))
    dup = _rows(spark, [(1, "a", "v1"), (1, "a", "v2")])
    with pytest.raises(ValueError, match="nondeterministic"):
        t.merge(dup, on=["k"])
    # the aborted merge committed nothing
    assert _as_dict(t.read()) == {1: ("a", "old")}
    assert [c.operation for c in t.history()] == ["CREATE"]
    # opt-out accepted for callers that want last-writer-undefined
    t.merge(dup, on=["k"], validate_source_keys=False)
    assert t.read().filter("k = 1").count() == 2


def test_merge_duplicate_unmatched_keys_are_plain_inserts(spark, root):
    """Duplicate source keys that match NO target row are legal — they
    are multi-row inserts, exactly Delta's behavior."""
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "old")]))
    t.merge(_rows(spark, [(7, "b", "x"), (7, "b", "y")]), on=["k"])
    assert t.read().filter("k = 7").count() == 2
    assert _as_dict(t.read().filter("k = 1")) == {1: ("a", "old")}


def test_partition_pruned_merge_leaves_files_untouched(spark, root):
    df = _rows(spark, [(1, "p1", "a"), (2, "p2", "b"), (3, "p3", "c")])
    t = ParquetTable.create(spark, root, df, partition_by=["part"])
    before = {f for f in t._manifest()["files"]}
    # key includes the partition column -> pruned rewrite
    t.merge(_rows(spark, [(2, "p2", "B!")]), on=["k", "part"])
    after = {f for f in t._manifest()["files"]}
    untouched_before = {f for f in before if "part=p2" not in f}
    assert untouched_before <= after  # p1/p3 files carried by reference
    assert not any("part=p2" in f for f in before & after)  # p2 rewritten
    assert _as_dict(t.read()) == {1: ("p1", "a"), 2: ("p2", "B!"), 3: ("p3", "c")}


def test_schema_evolution_append(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    wide = _rows(spark, [(2, "b", "y")]).withColumn("extra", F.lit(7))
    with pytest.raises(ValueError):
        t.append(wide)  # evolution must be opted into (D4 mergeSchema)
    t.append(wide, merge_schema=True)
    got = {r["k"]: r["extra"] for r in t.read().collect()}
    assert got == {1: None, 2: 7}


def test_optimize_compacts_and_preserves_data(spark, root):
    t = ParquetTable.create(
        spark, root, _rows(spark, [(i, "a", f"v{i}") for i in range(20)]).repartition(8)
    )
    assert len(t._manifest()["files"]) > 1
    t.optimize(target_file_mb=1024)
    assert len(t._manifest()["files"]) == 1
    assert t.read().count() == 20
    assert [c.operation for c in t.history()][-1] == "OPTIMIZE"


def test_zorder_clusters_by_column(spark, root):
    df = spark.range(0, 1000).select(
        F.col("id").cast("int").alias("k"),
        F.lit("a").alias("part"),
        (F.col("id") % 97).cast("string").alias("v"),
    )
    t = ParquetTable.create(spark, root, df.repartition(6))
    t.optimize(target_file_mb=1, zorder_by=["k"])
    assert t.read().count() == 1000
    assert sorted(r["k"] for r in t.read().collect()) == list(range(1000))


def test_vacuum_removes_old_versions(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    t.overwrite(_rows(spark, [(2, "b", "y")]))
    old_files = set(t._manifest(0)["files"])
    removed = t.vacuum(keep_versions=1)
    # v0's data files plus its now-unreferenced stats sidecar
    assert removed == len(old_files) + 1
    data_root = os.path.join(root, "data")
    on_disk = {
        os.path.relpath(os.path.join(d, f), data_root)
        for d, _s, fs in os.walk(data_root)
        for f in fs
    }
    assert on_disk == set(t._manifest()["files"])
    with pytest.raises(FileNotFoundError):
        t.read(version=0)  # beyond the retention horizon
    assert _as_dict(t.read()) == {2: ("b", "y")}


def test_register_view(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    t.register("tbl_view")
    assert spark.sql("SELECT v FROM tbl_view").collect()[0]["v"] == "x"


def test_data_skipping_scan(spark, root):
    from pyspark.sql import functions as F

    df = spark.range(0, 10_000).select(
        F.col("id").cast("int").alias("k"),
        F.lit("p").alias("part"),
        (F.col("id") % 7).cast("string").alias("v"),
    )
    t = ParquetTable.create(spark, root, df.repartition(8))
    t.optimize(zorder_by=["k"], n_files=8)  # cluster k into ranged files
    n_files = len(t._manifest()["files"])
    assert n_files > 1

    narrow = t.scan("k", lo=100, hi=120)
    assert sorted(r["k"] for r in narrow.collect()) == list(range(100, 121))
    # footer-stats pruning: the selective scan opens a strict subset of files
    assert len(narrow.inputFiles()) < n_files

    # stats are advisory only: an unclustered column still scans correctly
    assert t.scan("v", lo="3", hi="3").count() == 10_000 // 7 + (1 if 10_000 % 7 > 3 else 0)


def test_scan_empty_range(spark, root):
    from pyspark.sql import functions as F

    t = ParquetTable.create(
        spark, root, spark.range(5).select(F.col("id").alias("k"))
    )
    assert t.scan("k", lo=100).count() == 0


def test_delete_dml(spark, root):
    t = ParquetTable.create(
        spark, root, _rows(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")])
    )
    t.delete(F.col("k") == 2)
    assert _as_dict(t.read()) == {1: ("a", "x"), 3: ("c", "z")}
    # deleted rows still visible via time travel
    assert len(_as_dict(t.read(version=0))) == 3
    # null-valued condition deletes nothing
    t.delete(F.lit(None).cast("boolean"))
    assert t.read().count() == 2


def test_update_dml(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x"), (2, "b", "y")]))
    t.update(F.col("k") == 1, {"v": F.lit("X!")})
    assert _as_dict(t.read()) == {1: ("a", "X!"), 2: ("b", "y")}
    assert [c.operation for c in t.history()] == ["CREATE", "UPDATE"]


def test_restore(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    t.overwrite(_rows(spark, [(2, "b", "y")]))
    t.restore(0)
    assert _as_dict(t.read()) == {1: ("a", "x")}
    ops = [c.operation for c in t.history()]
    assert ops == ["CREATE", "OVERWRITE", "RESTORE"]
    # the rolled-back-from state is still reachable
    assert _as_dict(t.read(version=1)) == {2: ("b", "y")}


def test_merge_rejects_narrower_source(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    narrower = spark.createDataFrame([(1, "a")], "k int, part string")
    with pytest.raises(ValueError, match="missing target columns"):
        t.merge(narrower, on=["k"])


def test_concurrent_commit_conflict(spark, root):
    """Two writers racing to publish the same version: exactly one wins
    (optimistic concurrency via atomic link(2) publish), the loser gets a
    retryable error, and no partial state leaks."""
    from azure_databricks_lakehouse_spark.sources import tables as T

    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    # Simulate the race: both writers read version 0, both try to commit v1.
    m = t._manifest()
    T._commit(root, 1, m["files"], m["schema"], m["partition_by"], "APPEND", False)
    with pytest.raises(FileExistsError, match="concurrent commit"):
        T._commit(root, 1, m["files"], m["schema"], m["partition_by"], "APPEND", False)
    # The winner's commit is intact and readable; no tmp files remain.
    assert t.latest_version() == 1
    assert _as_dict(t.read()) == {1: ("a", "x")}
    mdir = os.path.join(root, "_manifest")
    assert not [f for f in os.listdir(mdir) if ".tmp-" in f]


def test_update_rhs_sees_pre_update_values(spark, root):
    """SQL UPDATE semantics: UPDATE SET part=v, v=part must swap, not
    chain — every RHS evaluates against the pre-update row."""
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    t.update(F.col("k") == 1, {"part": F.col("v"), "v": F.col("part")})
    assert _as_dict(t.read()) == {1: ("x", "a")}


def test_update_assignment_cast_to_declared_type(spark, root):
    """UPDATE assignments implicitly cast to the DECLARED column type
    (SQL/Delta semantics).  Regression: a double RHS into a decimal
    column used to commit a data file whose physical type contradicted
    the table schema (when/otherwise coerced decimal ⊔ double = double),
    breaking every later read of that file — on BOTH the rewrite and
    merge-on-read paths."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, part string")
    df = df.withColumn("amt", F.lit("5.00").cast("decimal(18,2)"))
    t = ParquetTable.create(spark, root, df)
    t.update("k = 1", {"amt": F.lit(123.45)})  # rewrite path
    t.update("k = 2", {"amt": F.lit(7.5)}, mode="merge-on-read")
    got = {r.k: str(r.amt) for r in t.read().collect()}
    assert got == {1: "123.45", 2: "7.50"}
    assert dict(t.read().dtypes)["amt"] == "decimal(18,2)"
    # CDC sidecars carry the declared type too (the CDF stream asserts
    # Decimal cells when converting to Arrow)
    assert dict(t.changes_between(0).dtypes)["amt"] == "decimal(18,2)"


def test_merge_widening_source_evolves_schema(spark, root):
    """A source with EXTRA columns widens the table schema — but only
    under the OPT-IN flag (Delta's withSchemaEvolution): without it the
    wider source raises loudly; with it the manifest records the wide
    schema + merged_schema, so later plain reads see the new column
    (null for carried rows) instead of a footer-sampling lottery.
    Replay of the same evolving merge is idempotent."""
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x"), (2, "b", "y")]))
    wide = spark.createDataFrame(
        [(2, "b", "y2", 99)], "k int, part string, v string, extra int"
    )
    with pytest.raises(ValueError, match="SCHEMA EVOLUTION"):
        t.merge(wide, on=["k"])
    t.merge(wide, on=["k"], evolve_schema=True)
    got = {r["k"]: (r["part"], r["v"], r["extra"]) for r in t.read().collect()}
    assert got == {1: ("a", "x", None), 2: ("b", "y2", 99)}
    assert "extra" in t.read().columns
    # and a fresh handle (fresh manifest read) sees the same wide schema
    got2 = ParquetTable.for_path(spark, root).read()
    assert "extra" in got2.columns
    # replay idempotence survives the evolved schema (second merge no
    # longer widens — the column exists now, no flag needed)
    t.merge(wide, on=["k"])
    got = {r["k"]: (r["part"], r["v"], r["extra"]) for r in t.read().collect()}
    assert got == {1: ("a", "x", None), 2: ("b", "y2", 99)}


def test_merge_evolution_cdf_carries_new_column(spark, root):
    """The CDF of an evolving MERGE commit carries the widened schema:
    post-images expose the new column's values, pre-images NULL-fill it
    (the old rows predate the column) — so a downstream CDF consumer
    learns the evolution from the feed itself."""
    t = ParquetTable.create(
        spark, root, _rows(spark, [(1, "a", "x"), (2, "b", "y")])
    )
    v0 = t.latest_version()
    wide = spark.createDataFrame(
        [(2, "b", "y2", 99), (3, "c", "z", 7)],
        "k int, part string, v string, extra int",
    )
    t.merge(wide, on=["k"], evolve_schema=True)
    cdf = t.changes_between(v0)
    assert "extra" in cdf.columns
    # batch CDF surfaces an update as its delete+insert pair
    got = {
        (r["k"], r["_change_type"]): r["extra"] for r in cdf.collect()
    }
    assert got[(2, "delete")] is None  # pre-image predates the column
    assert got[(2, "insert")] == 99
    assert got[(3, "insert")] == 7


def test_concurrent_appends_lose_nothing(spark, root):
    """Two writers interleaving appends: every row lands, versions are
    contiguous, and each append's rebase keeps all prior files."""
    import threading

    ParquetTable.create(spark, root, _rows(spark, [(0, "seed", "s")]))
    errs = []

    def writer(base):
        t = ParquetTable.for_path(spark, root)
        try:
            for i in range(8):
                t.append(_rows(spark, [(base + i, "w", f"v{base + i}")]))
        except Exception as exc:  # pragma: no cover - surfaced below
            errs.append(exc)

    threads = [threading.Thread(target=writer, args=(b,)) for b in (100, 200)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    t = ParquetTable.for_path(spark, root)
    assert t.read().count() == 17  # 1 seed + 2 writers x 8 appends
    ks = {r["k"] for r in t.read().collect()}
    assert ks == {0, *range(100, 108), *range(200, 208)}
    # one version per commit, no gaps
    assert t.latest_version() == 16


def test_register_catalog_fresh_session(spark, root):
    """Persistent catalog entry: readable BY NAME from a different session
    (shared catalog), and commits keep the entry pointing at the newest
    snapshot."""
    t = ParquetTable.create(
        spark, root, _rows(spark, [(1, "a", "x"), (2, "b", "y")]),
        partition_by=["part"],
    )
    name = "cat_reg_test_tbl"
    try:
        t.register_catalog(name)
        fresh = spark.newSession()
        got = {r["k"]: r["v"] for r in fresh.sql(f"SELECT * FROM {name}").collect()}
        assert got == {1: "x", 2: "y"}
        # a later commit is visible by name without re-registering
        t.append(_rows(spark, [(3, "c", "z")]))
        got2 = {r["k"]: r["v"] for r in fresh.sql(f"SELECT * FROM {name}").collect()}
        assert got2 == {1: "x", 2: "y", 3: "z"}
        # partition pruning works through the catalog entry
        assert fresh.sql(
            f"SELECT count(*) c FROM {name} WHERE part = 'c'"
        ).first()["c"] == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_interleaved_zorder_prunes_second_column(spark, root):
    """TRUE Z-order: after optimize(zorder_by=[x, y]) a selective filter on
    the SECOND clustering column must skip files.  (A lexical multi-column
    sort gives every file the full y range — zero pruning on y.)"""
    rows = [(i // 64, i % 64, i) for i in range(4096)]  # independent x, y grid
    df = spark.createDataFrame(rows, "x int, y int, id int")
    t = ParquetTable.create(spark, root, df)
    t.optimize(zorder_by=["x", "y"], n_files=16)
    total = len(t._manifest()["files"])
    assert total >= 8
    pruned = t.scan("y", lo=0, hi=3)
    # correctness first: exact rows survive
    assert pruned.count() == 4096 * 4 // 64
    assert {r["y"] for r in pruned.collect()} == {0, 1, 2, 3}
    # then the skipping claim, on BOTH clustering columns
    assert len(pruned.inputFiles()) <= total // 2
    assert len(t.scan("x", lo=0, hi=3).inputFiles()) <= total // 2


def test_rebase_append_keeps_other_writers_schema(spark, root):
    """Round-3 advice: writer X evolves the schema with column c; writer
    Y's rebase (adding column d) must commit the UNION schema — not
    df.schema verbatim, which would drop c from the manifest."""
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    x = _rows(spark, [(2, "b", "y")]).withColumn("c_extra", F.lit("cx"))
    t.append(x, merge_schema=True)
    y = _rows(spark, [(3, "c", "z")]).withColumn("d_extra", F.lit("dx"))
    t.append(y, merge_schema=True)
    cols = set(t.read().columns)
    assert {"k", "part", "v", "c_extra", "d_extra"} <= cols
    # the MANIFEST schema (not just mergeSchema reads) retains both:
    # an empty-snapshot read uses it verbatim
    from azure_databricks_lakehouse_spark.sources.tables import _schema_from_json

    manifest_cols = set(
        _schema_from_json(spark, t._manifest()["schema"]).fieldNames()
    )
    assert {"c_extra", "d_extra"} <= manifest_cols


def test_catalog_sees_schema_evolution(spark, root):
    """Round-3 advice: columns added after register_catalog (merge_schema
    append) must appear to catalog-name readers without a manual
    re-register; pre-evolution files surface them as NULL."""
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    name = "cat_evolve_test_tbl"
    try:
        t.register_catalog(name)
        t.append(
            _rows(spark, [(2, "b", "y")]).withColumn("extra", F.lit("e2")),
            merge_schema=True,
        )
        fresh = spark.newSession()
        got = {
            r["k"]: r["extra"]
            for r in fresh.sql(f"SELECT k, extra FROM {name}").collect()
        }
        assert got == {1: None, 2: "e2"}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


# -- change data feed --------------------------------------------------------


def _changes(df):
    return sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in df.collect()
    )


def test_cdf_commit_timestamp_matches_manifest(spark, root):
    """Delta CDF parity: every change row carries _commit_timestamp —
    the commit's wall-clock instant from the manifest, microsecond-
    truncated — across append slices, EXCEPT-ALL slices and CDC-sidecar
    slices alike."""
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    t.append(_rows(spark, [(2, "b", "y")]))          # v1: append slice
    t.update("k = 1", {"v": F.lit("x2")})            # v2: sidecar slice
    t.overwrite(_rows(spark, [(3, "c", "z")]))       # v3: EXCEPT ALL slice
    ch = t.changes_between(-1)
    assert "_commit_timestamp" in ch.columns
    got = {
        r["_commit_version"]: r["_commit_timestamp"]
        for r in ch.select("_commit_version", "_commit_timestamp").collect()
    }
    import datetime as _dt

    for v, ts in got.items():
        want = t._manifest(v)["timestamp"]
        assert ts is not None
        have = ts.replace(tzinfo=_dt.timezone.utc).timestamp()
        assert abs(have - want) < 1e-3, (v, have, want)


def test_cdf_appends_are_pure_inserts(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    t.append(_rows(spark, [(2, "b", "y")]))  # v1
    t.append(_rows(spark, [(3, "c", "z")]))  # v2
    got = _changes(t.changes_between(0))
    assert got == [(1, "insert", 2, "y"), (2, "insert", 3, "z")]
    # start = -1 includes creation
    assert _changes(t.changes_between(-1, 1)) == [
        (0, "insert", 1, "x"),
        (1, "insert", 2, "y"),
    ]


def test_cdf_update_is_delete_plus_insert(spark, root):
    t = ParquetTable.create(
        spark, root, _rows(spark, [(1, "a", "x"), (2, "a", "y")])
    )
    t.update(F.col("k") == 2, {"v": F.lit("y2")})  # v1 rewrite
    got = _changes(t.changes_between(0))
    assert got == [(1, "delete", 2, "y"), (1, "insert", 2, "y2")]
    # the untouched row 1 does NOT appear: rewrite diff is exact
    assert all(k != 1 for _, _, k, _ in got)


def test_cdf_delete_and_merge(spark, root):
    t = ParquetTable.create(
        spark, root, _rows(spark, [(1, "a", "x"), (2, "b", "y")])
    )
    t.delete(F.col("k") == 1)  # v1
    t.merge(_rows(spark, [(2, "b", "y9"), (5, "b", "w")]), on=["k"])  # v2
    got = _changes(t.changes_between(0))
    assert (1, "delete", 1, "x") in got
    assert (2, "insert", 5, "w") in got
    assert (2, "delete", 2, "y") in got and (2, "insert", 2, "y9") in got


def test_cdf_skips_optimize_and_respects_vacuum(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    t.append(_rows(spark, [(2, "a", "y")]))  # v1
    t.optimize()  # v2: compaction, data-preserving
    assert _changes(t.changes_between(1)) == []
    t.vacuum(keep_versions=1)
    with pytest.raises(FileNotFoundError, match="VACUUM"):
        t.changes_between(0)


def test_cdf_crosses_schema_evolution(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    t.append(
        _rows(spark, [(2, "b", "y")]).withColumn("extra", F.lit("e")),
        merge_schema=True,
    )  # v1 adds a column
    rows = t.changes_between(0).collect()
    assert [(r["k"], r["extra"]) for r in rows] == [(2, "e")]


# -- CDC merge (whenMatchedDelete) -------------------------------------------


def test_merge_when_matched_delete_applies_cdc(spark, root):
    t = ParquetTable.create(
        spark, root, _rows(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")])
    )
    cdc = spark.createDataFrame(
        [
            (2, "b", "y2", "U"),   # update
            (3, "c", None, "D"),   # delete
            (4, "d", "w", "U"),    # insert
            (9, "z", None, "D"),   # unmatched delete: no-op, NOT inserted
        ],
        "k int, part string, v string, _op string",
    )
    t.merge(
        cdc,
        on=["k"],
        when_matched_delete=F.col("_op") == "D",
        source_meta_cols=["_op"],
    )
    assert _as_dict(t.read()) == {
        1: ("a", "x"),
        2: ("b", "y2"),
        4: ("d", "w"),
    }
    # the op flag never reached the table schema
    assert "_op" not in t.read().columns
    # idempotent: applying the same CDC batch again changes nothing
    t.merge(
        cdc,
        on=["k"],
        when_matched_delete=F.col("_op") == "D",
        source_meta_cols=["_op"],
    )
    assert _as_dict(t.read()) == {1: ("a", "x"), 2: ("b", "y2"), 4: ("d", "w")}


def test_merge_delete_null_condition_is_upsert(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    cdc = spark.createDataFrame(
        [(1, "a", "x2", None)], "k int, part string, v string, _op string"
    )
    t.merge(
        cdc,
        on=["k"],
        when_matched_delete=F.col("_op") == "D",  # NULL -> not a delete
        source_meta_cols=["_op"],
    )
    assert _as_dict(t.read()) == {1: ("a", "x2")}


def test_merge_delete_prunes_partitions(spark, root):
    t = ParquetTable.create(
        spark,
        root,
        _rows(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]),
        partition_by=["part"],
    )
    before = {f for f in t._manifest()["files"] if "part=c" in f}
    cdc = spark.createDataFrame(
        [(1, "a", None, "D")], "k int, part string, v string, _op string"
    )
    t.merge(
        cdc,
        on=["k", "part"],
        when_matched_delete=F.col("_op") == "D",
        source_meta_cols=["_op"],
    )
    assert _as_dict(t.read()) == {2: ("b", "y"), 3: ("c", "z")}
    # untouched partition's files carried over by reference
    after = {f for f in t._manifest()["files"] if "part=c" in f}
    assert after == before


# -- constraints (CHECK / NOT NULL) -------------------------------------------


def test_check_constraint_blocks_bad_writes(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    t.add_check_constraint("k_positive", "k > 0")
    from azure_databricks_lakehouse_spark.sources.tables import (
        ConstraintViolationError,
    )

    with pytest.raises(ConstraintViolationError, match="k_positive"):
        t.append(_rows(spark, [(-5, "b", "y")]))
    # the failed append must not have committed anything
    assert _as_dict(t.read()) == {1: ("a", "x")}
    with pytest.raises(ConstraintViolationError):
        t.overwrite(_rows(spark, [(0, "b", "y")]))
    with pytest.raises(ConstraintViolationError):
        t.merge(_rows(spark, [(-1, "a", "z")]), on=["k"])
    with pytest.raises(ConstraintViolationError):
        t.update(F.col("k") == 1, {"k": F.lit(-9)})
    # passing writes still work; NULL check-result passes (SQL semantics)
    t.append(
        spark.createDataFrame([(None, "c", "ok")], "k int, part string, v string")
    )
    assert t.read().count() == 2


def test_add_constraint_validates_existing_data(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x"), (-2, "b", "y")]))
    from azure_databricks_lakehouse_spark.sources.tables import (
        ConstraintViolationError,
    )

    with pytest.raises(ConstraintViolationError, match="1 rows"):
        t.add_check_constraint("k_positive", "k > 0")
    assert t.constraints()["check"] == {}
    t.delete(F.col("k") < 0)
    t.add_check_constraint("k_positive", "k > 0")
    assert t.constraints()["check"] == {"k_positive": "k > 0"}
    t.drop_constraint("k_positive")
    t.append(_rows(spark, [(-7, "b", "y")]))  # enforcement gone


def test_not_null_blocks_null_and_missing_column(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    t.set_not_null("v")
    from azure_databricks_lakehouse_spark.sources.tables import (
        ConstraintViolationError,
    )

    with pytest.raises(ConstraintViolationError, match="not_null::v"):
        t.append(
            spark.createDataFrame([(2, "b", None)], "k int, part string, v string")
        )
    # a write omitting the column entirely is also a violation
    with pytest.raises(ConstraintViolationError, match="not_null::v"):
        t.append(spark.createDataFrame([(3, "c")], "k int, part string"))
    t.drop_not_null("v")
    t.append(spark.createDataFrame([(2, "b", None)], "k int, part string, v string"))
    assert t.read().count() == 2


def test_constraints_survive_commits_and_restore(spark, root):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    t.add_check_constraint("k_positive", "k > 0")  # v1
    t.append(_rows(spark, [(2, "b", "y")]))  # v2
    t.optimize(n_files=1)  # v3
    assert t.constraints()["check"] == {"k_positive": "k > 0"}
    t.drop_constraint("k_positive")  # v4
    t.restore(1)  # v5: constraint comes back with the version
    assert t.constraints()["check"] == {"k_positive": "k > 0"}
    from azure_databricks_lakehouse_spark.sources.tables import (
        ConstraintViolationError,
    )

    with pytest.raises(ConstraintViolationError):
        t.append(_rows(spark, [(-1, "c", "z")]))


# -- CLONE --------------------------------------------------------------------


def test_clone_is_zero_copy_and_independent(spark, root, tmp_path):
    t = ParquetTable.create(
        spark, root, _rows(spark, [(1, "a", "x"), (2, "b", "y")]), partition_by=["part"]
    )
    t.add_check_constraint("k_positive", "k > 0")
    dest = str(tmp_path / "fork")
    c = t.clone(dest)
    assert _as_dict(c.read()) == _as_dict(t.read())
    # zero bytes copied: every cloned data file is a hardlink (nlink > 1)
    m = c._manifest(0)
    for rel in m["files"]:
        assert os.stat(os.path.join(dest, "data", rel)).st_nlink > 1
    # props travelled: the clone enforces the source's constraint
    assert c.constraints()["check"] == {"k_positive": "k > 0"}
    # histories are independent in both directions
    c.append(_rows(spark, [(3, "c", "z")]))
    assert t.read().count() == 2 and c.read().count() == 3
    t.delete(F.col("k") == 1)
    assert c.read().count() == 3
    # source VACUUM cannot break the clone (refcounted links, not refs)
    t.vacuum(keep_versions=1)
    assert c.read().count() == 3
    assert "CLONE" in c.history()[0].operation


def test_clone_version_pins_a_snapshot(spark, root, tmp_path):
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    t.append(_rows(spark, [(2, "b", "y")]))
    c = ParquetTable.for_path(spark, root).clone(str(tmp_path / "pin"), version=0)
    assert _as_dict(c.read()) == {1: ("a", "x")}
    with pytest.raises(FileExistsError):
        t.clone(str(tmp_path / "pin"))


# -- bloom-filter file skipping ----------------------------------------------


def test_bloom_index_prunes_files_on_equality(spark, root):
    # 8 appends of disjoint high-cardinality keys that all share the SAME
    # global range — min/max stats cannot prune, only the bloom can
    t = ParquetTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, "seed") for i in (0, 10_000)], "k int, v string"
        ).coalesce(1),
    )
    t.set_bloom_index(["k"])
    for batch in range(8):
        t.append(
            spark.createDataFrame(
                [(1 + batch * 100 + j, f"b{batch}") for j in range(50)]
                + [(0, "lo"), (10_000, "hi")],  # pin every file's min/max
                "k int, v string",
            ).coalesce(1)
        )
    m = t._manifest()
    probe = 1 + 3 * 100 + 7  # lives only in batch 3's file
    pruned = t.scan_eq("k", probe)
    rows = pruned.collect()
    assert [r["v"] for r in rows] == ["b3"]
    # the scan touched a fraction of the files (bloom, not stats, pruned:
    # every file's [min,max] is [0, 10000] and covers the probe)
    opened = pruned.inputFiles()
    assert len(opened) < len(m["files"]) / 2, (len(opened), len(m["files"]))


def test_bloom_survives_rewrites_and_never_false_negatives(spark, root):
    t = ParquetTable.create(
        spark,
        root,
        spark.createDataFrame([(i, "x") for i in range(200)], "k int, v string"),
    )
    t.set_bloom_index(["k"], m_bits=1024, k=4)
    t.update(F.col("k") == 7, {"v": F.lit("updated")})
    t.optimize(n_files=4)
    # every present key must remain findable (false negatives impossible)
    for probe in (0, 7, 123, 199):
        got = t.scan_eq("k", probe).collect()
        assert len(got) == 1 and got[0]["k"] == probe
    assert t.scan_eq("k", 7).collect()[0]["v"] == "updated"
    # absent key: bloom prunes everything or filter returns empty
    assert t.scan_eq("k", 10**6).count() == 0
    with pytest.raises(ValueError, match="NULL"):
        t.scan_eq("k", None)


def test_bloom_on_string_keys_and_clone_carry(spark, root, tmp_path):
    t = ParquetTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(f"user-{i}", i) for i in range(100)], "uid string, n int"
        ),
    )
    t.set_bloom_index(["uid"], m_bits=2048)
    c = t.clone(str(tmp_path / "fork"))
    assert c._blooms(c._manifest(0))  # bitmaps travelled with the clone
    got = c.scan_eq("uid", "user-42").collect()
    assert len(got) == 1 and got[0]["n"] == 42


# --- idempotent transactional appends (Delta txnAppId/txnVersion) ----------
def test_txn_append_is_idempotent(spark, tmp_path):
    root = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    tbl = ParquetTable.create(spark, root, df1.limit(0))
    v1 = tbl.append(df1, txn_app="loader", txn_version=0)
    # replay of the same batch: skipped, version unchanged, no duplicate
    assert tbl.append(df1, txn_app="loader", txn_version=0) == v1
    assert tbl.latest_version() == v1
    assert tbl.read().count() == 1
    # the next batch applies
    df2 = spark.createDataFrame([(2, "b")], "id long, v string")
    v2 = tbl.append(df2, txn_app="loader", txn_version=1)
    assert v2 == v1 + 1 and tbl.read().count() == 2
    # a stale replay of batch 0 after batch 1: still skipped
    assert tbl.append(df1, txn_app="loader", txn_version=0) == v2
    assert tbl.read().count() == 2
    assert tbl.last_txn_version("loader") == 1
    assert tbl.last_txn_version("other") is None


def test_txn_apps_are_independent_and_survive_other_commits(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    tbl = ParquetTable.create(spark, root, df.limit(0))
    tbl.append(df, txn_app="app_a", txn_version=5)
    # a different app at the same version is NOT deduped
    tbl.append(df, txn_app="app_b", txn_version=5)
    assert tbl.read().count() == 2
    # an untracked append between txn commits leaves watermarks intact
    tbl.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    assert tbl.last_txn_version("app_a") == 5
    assert tbl.last_txn_version("app_b") == 5
    # and both apps still dedupe their own replays
    tbl.append(df, txn_app="app_a", txn_version=5)
    assert tbl.read().count() == 3


def test_txn_append_requires_both_params(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    tbl = ParquetTable.create(spark, root, df.limit(0))
    with pytest.raises(ValueError, match="together"):
        tbl.append(df, txn_app="loader")


def test_table_properties_roundtrip_and_restore(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    tbl = ParquetTable.create(spark, root, df)
    v1 = tbl.set_properties({"owner": "etl", "tier": "gold"})
    assert tbl.properties()["owner"] == "etl"
    # properties survive DML commits
    tbl.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert tbl.properties()["tier"] == "gold"
    # unset via None; versioned like data
    tbl.set_properties({"tier": None})
    assert "tier" not in tbl.properties()
    tbl.restore(v1)
    assert tbl.properties()["tier"] == "gold"


def test_vacuum_sweeps_stale_staging_dirs(spark, tmp_path):
    """A writer that crashed between _write_files and its commit leaves
    an orphaned _staging_* dir no manifest references; vacuum removes
    it once it ages past the TTL, and leaves fresh ones (a concurrent
    in-flight write) alone."""
    import os
    import time as _time

    root = str(tmp_path / "t")
    t = ParquetTable.create(
        spark, root, spark.createDataFrame([(1,)], "k int")
    )
    stale = os.path.join(root, "_staging_deadbeef0000")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-0.parquet"), "wb") as fh:
        fh.write(b"junk")
    old = _time.time() - 2 * 86400  # well past the 24 h default TTL
    os.utime(stale, (old, old))
    fresh = os.path.join(root, "_staging_cafe00000000")
    os.makedirs(fresh)
    t.vacuum(keep_versions=1)
    assert not os.path.exists(stale), "stale staging dir must be swept"
    assert os.path.exists(fresh), "fresh staging dir must survive (TTL)"


def test_q51_reuses_its_fingerprint_cache(spark):
    """Repeated q51 runs reuse one deterministic cache root instead of
    accumulating a mkdtemp per invocation."""
    import glob
    import os
    import tempfile

    from azure_databricks_lakehouse_spark.queries.dedup_ops import (
        q51_winnow_overlap,
    )

    sf = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
    pattern = os.path.join(tempfile.gettempdir(), "q51_fp_*")
    q51_winnow_overlap(spark, sf).count()
    n_after_first = len(glob.glob(pattern))
    q51_winnow_overlap(spark, sf).count()
    assert len(glob.glob(pattern)) == n_after_first, "no new temp roots"


def test_history_limit_parses_only_newest(spark, tmp_path):
    root = str(tmp_path / "t")
    t = ParquetTable.create(spark, root, _rows(spark, [(1, "a", "x")]))
    for i in range(3):
        t.append(_rows(spark, [(10 + i, "b", "y")]))
    full = t.history()
    tail = t.history(limit=2)
    assert [c.version for c in tail] == [c.version for c in full[-2:]]
    assert all(c.operation == "APPEND" for c in tail)


def test_update_where_in_through_column_mapping(spark, root):
    """update_where_in on a RENAMED logical column routes through the
    colmap to the physical name (update's _to_physical_df path)."""
    t = ParquetTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "id int, cat string, amt double"
        ),
    )
    t.rename_column("cat", "category")
    keys = spark.createDataFrame([("a",)], "category string")
    t.update_where_in("category", keys, {"amt": F.col("amt") * 2})
    got = sorted((r.id, r.category, r.amt) for r in t.read().collect())
    assert got == [(1, "a", 2.0), (2, "b", 2.0)]


def test_update_where_in_rewrites_only_touched_files(spark, root):
    """The IN-subquery UPDATE inherits update()'s per-file match probe:
    keys confined to one partition rewrite only that partition's files
    — untouched files carry over by reference (the 100 TB contract)."""
    df = _rows(spark, [(1, "p1", "a"), (2, "p2", "b"), (3, "p3", "c")])
    t = ParquetTable.create(spark, root, df, partition_by=["part"])
    before = set(t._manifest()["files"])
    keys = spark.createDataFrame([(2,), (99,)], "k int")
    t.update_where_in("k", keys, {"v": F.lit("B!")})
    after = set(t._manifest()["files"])
    untouched = {f for f in before if "part=p2" not in f}
    assert untouched <= after  # p1/p3 carried by reference
    assert not any("part=p2" in f for f in before & after)  # p2 rewritten
    assert _as_dict(t.read()) == {1: ("p1", "a"), 2: ("p2", "B!"), 3: ("p3", "c")}


# -- CDC rows equal the committed rows ----------------------------------------


def _stamp(spark, data, ddl="k int, v string, op string"):
    """Source rows whose ``ts`` is ``current_timestamp()`` — a value each
    Spark action evaluates afresh."""
    return spark.createDataFrame(data, ddl).withColumn(
        "ts", F.current_timestamp()
    )


def _dml_merge(t, spark):
    t.merge(_stamp(spark, [(1, "u", None), (3, "i", None)]).drop("op"), on=["k"])


def _dml_merge_delete(t, spark):
    t.merge(
        _stamp(spark, [(1, "u", "U"), (2, None, "D"), (3, "i", "U")]),
        on=["k"],
        when_matched_delete=F.col("op") == "D",
        source_meta_cols=["op"],
    )


def _dml_update(mode):
    def run(t, spark):
        t.update("k = 1", {"v": F.lit("u"), "ts": F.current_timestamp()}, mode=mode)

    return run


@pytest.mark.parametrize(
    "dml, row_tracked, want",
    [
        (_dml_merge, False, (1, 1, 0)),
        (_dml_merge_delete, False, (1, 1, 1)),
        (_dml_merge, True, (1, 1, 0)),
        (_dml_update("copy-on-write"), False, (1, 0, 0)),
        (_dml_update("merge-on-read"), False, (1, 0, 0)),
    ],
    ids=["merge", "merge-delete", "merge-row-tracked", "update-cow", "update-mor"],
)
def test_cdc_rows_equal_committed_rows(spark, root, dml, row_tracked, want):
    """Every CDC post-image and insert row a DML commit writes is a row
    the same commit stores — even when the new values come from a
    nondeterministic expression such as ``current_timestamp()``, which
    the data write and the CDC write would each re-evaluate if they
    did not share one evaluated frame."""
    t = ParquetTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (4, "d")], "k int, v string"
        ).withColumn("ts", F.lit("2020-01-01 00:00:00").cast("timestamp")),
    )
    if row_tracked:
        t.set_properties({"delta.enableRowTracking": "true"})
    dml(t, spark)
    m = t._manifest()
    cols = ["k", "v", "ts"] + (["_row_id"] if row_tracked else [])
    stored = {tuple(r[c] for c in cols) for r in t.read(with_row_ids=row_tracked).collect()}
    cdc = t._read_cdc_files(m["cdc_files"]).collect()
    new = [r for r in cdc if r["_change_type"] in ("update_postimage", "insert")]
    assert new
    for r in new:
        # an insert's stable id is drawn by the data write, not the sidecar
        got = [r[c] for c in cols if c != "_row_id" or r["_change_type"] != "insert"]
        assert any(list(s[: len(got)]) == got for s in stored), r
    metrics = t.history(limit=1)[0].metrics
    assert tuple(
        metrics.get(k, 0) for k in ("rows_updated", "rows_inserted", "rows_deleted")
    ) == want
