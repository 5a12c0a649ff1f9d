"""Streaming-native bronze → silver (`pipelines/silver.stream`): the
bronze TABLE as a streaming source, Delta-source offsets in the stream
checkpoint replacing the batch run's high-water mark — and batch/streaming
silver converging to the same table on the same input (round-7 verdict
item 6)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.pipelines import (
    LakehousePaths,
    bronze,
    silver,
)
from azure_databricks_lakehouse_spark.sources.tables import ParquetTable

from tests.test_medallion_e2e import _DAY1, _DAY2, _land

# columns that legitimately differ run-to-run (wall-clock stamps: the two
# lakes ingest bronze at different instants, so lineage timestamps differ)
_VOLATILE = (
    "silver_updated_timestamp",
    "quarantined_at",
    "ingestion_timestamp",
)


def _rowset(df):
    # array columns (DQ tag lists) are unhashable — compare as repr
    return {repr(tuple(r)) for r in df.select(*sorted(df.columns)).collect()}


def _silver_rows(spark, lake):
    return _rowset(
        ParquetTable.for_path(spark, lake.silver_claims).read().drop(*_VOLATILE)
    )


def _quarantine_rows(spark, lake):
    return _rowset(
        ParquetTable.for_path(spark, lake.quarantine).read().drop(*_VOLATILE)
    )


def test_streaming_silver_converges_with_batch(spark, tmp_path):
    batch_lake = LakehousePaths(str(tmp_path / "batch"))
    stream_lake = LakehousePaths(str(tmp_path / "stream"))
    day1 = _land(tmp_path, "day1.csv", _DAY1)
    day2 = _land(tmp_path, "day2.csv", _DAY2)

    for lake in (batch_lake, stream_lake):
        bronze.ingest(spark, lake.bronze_claims, day1, load_id="b1")
        bronze.ingest(spark, lake.bronze_claims, day2, load_id="b2")

    # batch path: silver's table-property mark drives the increment
    silver.process(spark, batch_lake)
    # streaming path: stream checkpoint offsets drive the increment
    q = silver.stream(
        spark, stream_lake, checkpoint=str(tmp_path / "ckpt1")
    )
    q.awaitTermination(120)

    assert _silver_rows(spark, stream_lake) == _silver_rows(spark, batch_lake)
    assert _quarantine_rows(spark, stream_lake) == _quarantine_rows(
        spark, batch_lake
    )
    # the streaming lake never touched the watermark control table —
    # the checkpoint's source offsets replaced it
    assert not os.path.exists(stream_lake.watermarks)


def test_streaming_silver_incremental_restart(spark, tmp_path):
    """A second available-now run after new bronze commits processes
    ONLY the new commits (checkpoint offsets advance) and stays
    row-idempotent via the MERGE."""
    lake = LakehousePaths(str(tmp_path / "lk"))
    ckpt = str(tmp_path / "ckpt")
    bronze.ingest(
        spark, lake.bronze_claims, _land(tmp_path, "d1.csv", _DAY1), load_id="b1"
    )
    q = silver.stream(spark, lake, checkpoint=ckpt)
    q.awaitTermination(120)
    t = ParquetTable.for_path(spark, lake.silver_claims)
    assert t.read().count() == 4  # C001..C004 (dup collapsed)
    v_after_day1 = t.latest_version()

    # drained restart with nothing new: no silver commit at all
    q = silver.stream(spark, lake, checkpoint=ckpt)
    q.awaitTermination(120)
    assert t.latest_version() == v_after_day1

    bronze.ingest(
        spark, lake.bronze_claims, _land(tmp_path, "d2.csv", _DAY2), load_id="b2"
    )
    q = silver.stream(spark, lake, checkpoint=ckpt)
    q.awaitTermination(120)
    got = ParquetTable.for_path(spark, lake.silver_claims).read()
    assert got.count() == 5  # C005 inserted, C004 updated in place
    assert float(
        got.filter(F.col("claim_id") == "C004").first()["paid_amount"]
    ) == pytest.approx(9.99)


def _fact_rows(spark, lake):
    return _rowset(
        ParquetTable.for_path(spark, lake.fact_claims)
        .read()
        .drop("gold_created_timestamp")
    )


def _dim_rows(spark, lake, root):
    return _rowset(
        ParquetTable.for_path(spark, root).read().drop("dim_created_timestamp")
    )


def test_streaming_gold_converges_with_batch(spark, tmp_path):
    """Continuous medallion end-to-end: bronze commits stream into
    silver, silver's CHANGE FEED streams into gold, and the resulting
    fact/dim tables are row-identical to the scheduled-batch build on
    the same input — with the stream lake never touching the watermark
    control table (checkpoint offsets replace it)."""
    from azure_databricks_lakehouse_spark.pipelines import gold
    from tests.test_medallion_e2e import _load_reference_tables

    batch_lake = LakehousePaths(str(tmp_path / "batch"))
    stream_lake = LakehousePaths(str(tmp_path / "stream"))
    day1 = _land(tmp_path, "day1.csv", _DAY1)
    day2 = _land(tmp_path, "day2.csv", _DAY2)
    for lake in (batch_lake, stream_lake):
        bronze.ingest(spark, lake.bronze_claims, day1, load_id="b1")
        bronze.ingest(spark, lake.bronze_claims, day2, load_id="b2")
        _load_reference_tables(spark, lake)

    silver.process(spark, batch_lake)
    gold.build(spark, batch_lake)

    silver.stream(
        spark, stream_lake, checkpoint=str(tmp_path / "ck_silver")
    ).awaitTermination(120)
    gold.stream(
        spark, stream_lake, checkpoint=str(tmp_path / "ck_gold")
    ).awaitTermination(120)

    assert _fact_rows(spark, stream_lake) == _fact_rows(spark, batch_lake)
    for attr in ("dim_member", "dim_provider"):
        assert _dim_rows(spark, stream_lake, getattr(stream_lake, attr)) == (
            _dim_rows(spark, batch_lake, getattr(batch_lake, attr))
        )
    assert not os.path.exists(stream_lake.watermarks)

    # aggregates stay a batch rollup over the streamed fact — identical
    gold.build_aggregation_tables(spark, stream_lake)
    for attr in ("agg_by_provider", "agg_by_month"):
        a = _rowset(
            ParquetTable.for_path(spark, getattr(stream_lake, attr)).read()
        )
        b = _rowset(
            ParquetTable.for_path(spark, getattr(batch_lake, attr)).read()
        )
        assert a == b


def test_streaming_gold_applies_silver_deletes(spark, tmp_path):
    """A silver DELETE retracts the fact row on the next trigger — the
    CDF delete pre-image routes through when_matched_delete instead of
    being silently re-upserted (or killing the stream)."""
    from azure_databricks_lakehouse_spark.pipelines import gold
    from tests.test_medallion_e2e import _load_reference_tables

    lake = LakehousePaths(str(tmp_path / "lk"))
    bronze.ingest(
        spark, lake.bronze_claims, _land(tmp_path, "d1.csv", _DAY1), load_id="b1"
    )
    _load_reference_tables(spark, lake)
    silver.stream(
        spark, lake, checkpoint=str(tmp_path / "cks")
    ).awaitTermination(120)
    ckg = str(tmp_path / "ckg")
    gold.stream(spark, lake, checkpoint=ckg).awaitTermination(120)
    fact = ParquetTable.for_path(spark, lake.fact_claims)
    assert fact.read().filter(F.col("claim_id") == "C002").count() == 1
    n_before = fact.read().count()

    ParquetTable.for_path(spark, lake.silver_claims).delete(
        "claim_id = 'C002'"
    )
    gold.stream(spark, lake, checkpoint=ckg).awaitTermination(120)
    assert fact.read().filter(F.col("claim_id") == "C002").count() == 0
    assert fact.read().count() == n_before - 1


def test_streaming_gold_quiet_batch_leaves_dims_untouched(spark, tmp_path):
    """Round-8 verdict item 3: per-trigger dim cost ∝ batch keys.  A
    trigger whose batch references only KNOWN members/providers (with
    unchanged attributes) must not commit to the dim tables at all —
    data files stay byte-identical (same set, same mtimes) — while the
    fact still upserts the changed claim, and a batch carrying a NEW
    key appends exactly that key."""
    from azure_databricks_lakehouse_spark.pipelines import gold
    from tests.test_medallion_e2e import _data_files, _load_reference_tables

    lake = LakehousePaths(str(tmp_path / "lk"))
    bronze.ingest(
        spark, lake.bronze_claims, _land(tmp_path, "d1.csv", _DAY1), load_id="b1"
    )
    _load_reference_tables(spark, lake)
    silver.stream(
        spark, lake, checkpoint=str(tmp_path / "cks")
    ).awaitTermination(120)
    ckg = str(tmp_path / "ckg")
    gold.stream(spark, lake, checkpoint=ckg).awaitTermination(120)

    dim_files_before = {
        r: _data_files(r) for r in (lake.dim_member, lake.dim_provider)
    }
    dim_versions_before = {
        r: ParquetTable.for_path(spark, r).latest_version()
        for r in (lake.dim_member, lake.dim_provider)
    }

    # quiet trigger: update a claim measure — same member, same provider
    ParquetTable.for_path(spark, lake.silver_claims).update(
        "claim_id = 'C002'", {"paid_amount": F.lit(123.45)}
    )
    gold.stream(spark, lake, checkpoint=ckg).awaitTermination(120)

    for r in (lake.dim_member, lake.dim_provider):
        assert _data_files(r) == dim_files_before[r], f"dim files rewritten: {r}"
        assert (
            ParquetTable.for_path(spark, r).latest_version()
            == dim_versions_before[r]
        )
    fact = ParquetTable.for_path(spark, lake.fact_claims).read()
    assert float(
        fact.filter(F.col("claim_id") == "C002").first()["paid_amount"]
    ) == pytest.approx(123.45)

    # a batch with a NEW member key appends exactly that key (durable
    # SKs untouched for existing rows)
    dim_member_t = ParquetTable.for_path(spark, lake.dim_member)
    before_rows = {
        r["member_key"]: r["member_sk"]
        for r in dim_member_t.read().select("member_key", "member_sk").collect()
    }
    members_t = ParquetTable.for_path(spark, lake.silver_members)
    sample = members_t.read().first().asDict()
    sample.update({"member_id": "M_NEW_1"})
    members_t.append(
        spark.createDataFrame([tuple(sample.values())], members_t.read().schema)
    )
    ParquetTable.for_path(spark, lake.silver_claims).update(
        "claim_id = 'C003'",
        {"member_id": F.lit("M_NEW_1"), "paid_amount": F.lit(9.0)},
    )
    gold.stream(spark, lake, checkpoint=ckg).awaitTermination(120)
    after_rows = {
        r["member_key"]: r["member_sk"]
        for r in dim_member_t.read().select("member_key", "member_sk").collect()
    }
    assert set(after_rows) == set(before_rows) | {"M_NEW_1"}
    assert all(after_rows[k] == v for k, v in before_rows.items())
    assert after_rows["M_NEW_1"] == max(before_rows.values()) + 1
