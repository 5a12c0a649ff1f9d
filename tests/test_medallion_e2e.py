"""End-to-end medallion pipeline test: CSV landing → Bronze (corrupt
capture, lineage) → Silver (watermark increment, cleanse, DQ gate,
quarantine, dedup, MERGE) → Gold (dims, fact, aggregates), plus
idempotency and day-2 incremental behavior — the full reference lifecycle
(SURVEY.md §3) on synthetic claims."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.pipelines import LakehousePaths, bronze, gold, silver
from azure_databricks_lakehouse_spark.sources.tables import ParquetTable

_HEADER = (
    "claim_id,member_id,provider_id,service_date,received_date,"
    "procedure_code,diagnosis_code,billed_amount,allowed_amount,"
    "paid_amount,claim_line_number,place_of_service,claim_type\n"
)

# Day-1 landing: 5 clean rows (one a dup pair), 5 seeded DQ failures,
# 1 corrupt line.
_DAY1 = _HEADER + (
    "C001,M001,P001,2024-01-10,2024-01-15,12345,D100,100.00,90.00,80.00,1,11,RX\n"
    "C001,M001,P001,2024-01-10,2024-01-20,12345,D100,100.00,90.00,85.00,1,11,RX\n"  # dup: later received wins
    "C002,M002,P002,2024-02-01,2024-02-03,a1234,D200,250.00,200.00,150.00,1,12,RX\n"  # lowercased code -> upper'd, valid HCPCS
    "C003,M001,P001,2024-03-05,2024-03-06,54321,D300,75.50,75.50,75.50,2,11,RX\n"
    "C004,M003,P002,2024-04-01,2024-04-02,11111,D400,10.00,10.00,5.00,1,11,RX\n"
    ",M009,P001,2024-01-01,2024-01-02,12345,D100,50.00,40.00,30.00,1,11,RX\n"  # R1: no claim_id
    "C100,,P001,2024-01-01,2024-01-02,12345,D100,50.00,40.00,30.00,1,11,RX\n"  # R1: no member_id
    "C101,M001,P001,2030-01-01,2030-01-02,12345,D100,50.00,40.00,30.00,1,11,RX\n"  # R2: future service
    "C102,M001,P001,2024-05-10,2024-05-01,12345,D100,50.00,40.00,30.00,1,11,RX\n"  # R3: service > received
    "C103,M001,P001,2024-05-01,2024-05-02,BAD99,D100,-5.00,0.00,0.00,1,11,RX\n"  # R4 + R5
    'X1,"broken\n'  # corrupt: unbalanced quote
)

# Day-2 landing: one new claim + a re-send of C004 with a later
# received_date and a corrected paid_amount (exercise MERGE update).
_DAY2 = _HEADER + (
    "C005,M002,P001,2024-06-01,2024-06-02,12345,D500,300.00,250.00,200.00,1,11,RX\n"
    "C004,M003,P002,2024-04-01,2024-04-09,11111,D400,10.00,10.00,9.99,1,11,RX\n"
)


@pytest.fixture()
def lake(tmp_path):
    return LakehousePaths(str(tmp_path / "lake"))


def _land(tmp_path, name, content):
    p = tmp_path / "landing" / name
    os.makedirs(p.parent, exist_ok=True)
    p.write_text(content)
    return str(p)


def _load_reference_tables(spark, lake):
    members = spark.createDataFrame(
        [
            ("M001", "Ada", "Lovelace", "1990-01-01", "F", "10001", "PPO"),
            ("M002", "Alan", "Turing", "1985-06-23", "M", "10002", "HMO"),
            ("M003", "Grace", "Hopper", "1970-12-09", "F", "10003", "PPO"),
        ],
        "member_id string, first_name string, last_name string, "
        "date_of_birth string, gender string, zip_code string, plan_type string",
    )
    providers = spark.createDataFrame(
        [
            ("P001", "City Pharmacy", "1111111111", "Pharmacy", "Retail", "NY", "IN"),
            ("P002", "Metro Clinic", "2222222222", "Clinic", "Outpatient", "NJ", "OUT"),
        ],
        "provider_id string, provider_name string, npi string, specialty string, "
        "facility_type string, address_state string, network_status string",
    )
    silver.load_reference_table(spark, members, lake.silver_members, ["member_id"])
    silver.load_reference_table(
        spark, providers, lake.silver_providers, ["provider_id"]
    )


def test_full_medallion_flow(spark, lake, tmp_path):
    # --- Bronze day 1 ------------------------------------------------------
    res = bronze.ingest(
        spark, lake.bronze_claims, _land(tmp_path, "day1.csv", _DAY1), load_id="b1"
    )
    assert res.n_rows == 11
    assert res.n_corrupt == 1
    stats = bronze.latest_batch_stats(spark, lake.bronze_claims)
    assert stats["n_rows"] == 11 and stats["n_files"] == 1

    # --- Silver day 1 ------------------------------------------------------
    sres = silver.process(spark, lake)
    assert sres.n_incremental == 10  # corrupt row excluded
    assert sres.n_fail == 5
    assert sres.n_pass == 4  # 5 clean rows, dup pair collapsed

    quarantine = ParquetTable.for_path(spark, lake.quarantine).read()
    reasons = {
        r["claim_id"]: list(r["dq_failure_reasons"]) for r in quarantine.collect()
    }
    assert reasons[None] == ["missing_claim_id"]
    assert reasons["C100"] == ["missing_member_id"]
    assert reasons["C101"] == ["service_date_in_future"]
    assert reasons["C102"] == ["service_after_received"]
    assert reasons["C103"] == ["invalid_procedure_code", "nonpositive_billed_amount"]

    silver_df = ParquetTable.for_path(spark, lake.silver_claims).read()
    c001 = silver_df.filter(F.col("claim_id") == "C001").collect()
    assert len(c001) == 1
    assert float(c001[0]["paid_amount"]) == 85.00  # later received_date won
    assert (
        silver_df.filter(F.col("claim_id") == "C002").first()["procedure_code"]
        == "A1234"  # upper'd into valid HCPCS
    )

    # --- Silver idempotent re-run (no new bronze data) ---------------------
    sres2 = silver.process(spark, lake)
    assert sres2.n_incremental == 0
    assert ParquetTable.for_path(spark, lake.silver_claims).read().count() == 4

    # --- Gold --------------------------------------------------------------
    _load_reference_tables(spark, lake)
    gres = gold.build(spark, lake, "2024-01-01", "2024-12-31")
    assert gres.n_fact == 4
    assert gres.n_dim_member == 3 and gres.n_dim_provider == 2
    assert gres.n_dim_date == 366

    fact = ParquetTable.for_path(spark, lake.fact_claims).read()
    row = fact.filter(F.col("claim_id") == "C001").first()
    assert row["member_sk"] is not None and row["provider_sk"] is not None
    assert row["service_date_key"] == 20240110
    assert float(row["member_liability"]) == 15.00  # 100.00 - 85.00

    agg = ParquetTable.for_path(spark, lake.agg_by_provider).read()
    assert {r["n_claims"] for r in agg.collect()} == {2}  # 2 claims per provider

    # --- Gold idempotent re-run -------------------------------------------
    gres2 = gold.build(spark, lake, "2024-01-01", "2024-12-31")
    assert gres2.n_fact == 4
    # no new silver rows -> the fact merge is skipped entirely (gold
    # mark), so the fact table's history stays at its CREATE commit and
    # the commit that recorded the first run's mark
    fact_ops = [
        c.operation
        for c in ParquetTable.for_path(spark, lake.fact_claims).history()
    ]
    assert fact_ops == ["CREATE", "SETPROPERTIES"]

    # --- Day 2 incremental -------------------------------------------------
    bronze.ingest(
        spark, lake.bronze_claims, _land(tmp_path, "day2.csv", _DAY2), load_id="b2"
    )
    sres3 = silver.process(spark, lake)
    assert sres3.n_incremental == 2
    assert sres3.n_pass == 2 and sres3.n_fail == 0

    silver_df = ParquetTable.for_path(spark, lake.silver_claims).read()
    assert silver_df.count() == 5  # C005 inserted, C004 updated in place
    assert float(
        silver_df.filter(F.col("claim_id") == "C004").first()["paid_amount"]
    ) == 9.99

    gres3 = gold.build(spark, lake, "2024-01-01", "2024-12-31")
    assert gres3.n_fact == 5
    fact = ParquetTable.for_path(spark, lake.fact_claims).read()
    assert float(
        fact.filter(F.col("claim_id") == "C004").first()["paid_amount"]
    ) == 9.99
    # day-2 delta arrived as an incremental MERGE, not a rebuild
    fact_ops = [
        c.operation
        for c in ParquetTable.for_path(spark, lake.fact_claims).history()
    ]
    assert fact_ops == ["CREATE", "SETPROPERTIES", "MERGE"]
    # each step's mark lives in the table it writes; no control table
    assert not os.path.exists(lake.watermarks)
    assert not os.path.exists(os.path.join(lake.root, "control"))


def test_surrogate_keys_stable_across_rebuilds(spark, lake, tmp_path):
    bronze.ingest(
        spark, lake.bronze_claims, _land(tmp_path, "d1.csv", _DAY1), load_id="b1"
    )
    silver.process(spark, lake)
    _load_reference_tables(spark, lake)
    gold.build(spark, lake, "2024-01-01", "2024-12-31")
    sk1 = {
        r["member_key"]: r["member_sk"]
        for r in ParquetTable.for_path(spark, lake.dim_member).read().collect()
    }
    gold.build(spark, lake, "2024-01-01", "2024-12-31")
    sk2 = {
        r["member_key"]: r["member_sk"]
        for r in ParquetTable.for_path(spark, lake.dim_member).read().collect()
    }
    assert sk1 == sk2  # dense-rank surrogate keys don't churn on rebuild
    assert not os.path.exists(lake.watermarks)


def _data_files(root):
    """{relative data file path: (mtime_ns, size)} under a table root."""
    out = {}
    data = os.path.join(root, "data")
    for dirpath, _dirs, names in os.walk(data):
        for n in names:
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            out[os.path.relpath(p, data)] = (st.st_mtime_ns, st.st_size)
    return out


def test_batch_gold_leaves_unchanged_dims_uncommitted(spark, lake, tmp_path):
    """Batch twin of the streaming quiet-trigger test: a second
    ``gold.build`` over unchanged silver members/providers and the same
    date range commits nothing to dim_member/dim_provider/dim_date —
    same latest version, same data files byte for byte — while new
    silver claims still reach the fact.  Only a date range the stored
    dim does not cover rewrites dim_date."""
    bronze.ingest(
        spark, lake.bronze_claims, _land(tmp_path, "d1.csv", _DAY1), load_id="b1"
    )
    silver.process(spark, lake)
    _load_reference_tables(spark, lake)
    gold.build(spark, lake, "2024-01-01", "2024-12-31")
    dims = (lake.dim_member, lake.dim_provider, lake.dim_date)
    versions = {r: ParquetTable.for_path(spark, r).latest_version() for r in dims}
    files = {r: _data_files(r) for r in dims}

    bronze.ingest(
        spark, lake.bronze_claims, _land(tmp_path, "d2.csv", _DAY2), load_id="b2"
    )
    silver.process(spark, lake)
    gres = gold.build(spark, lake, "2024-01-01", "2024-12-31")
    assert gres.n_fact == 5
    for r in dims:
        assert ParquetTable.for_path(spark, r).latest_version() == versions[r]
        assert _data_files(r) == files[r], f"dim files rewritten: {r}"
    assert not os.path.exists(lake.watermarks)
    date_t = ParquetTable.for_path(spark, lake.dim_date)
    gold.build_dim_date(spark, lake, "2024-03-01", "2024-06-30")  # covered
    assert date_t.latest_version() == versions[lake.dim_date]
    gold.build_dim_date(spark, lake, "2023-12-01", "2024-12-31")  # wider
    assert date_t.latest_version() == versions[lake.dim_date] + 1
    assert date_t.count() == 31 + 366


def test_restore_rewinds_silver_mark(spark, lake, tmp_path):
    """The silver mark is versioned with silver's data: RESTORE to the
    version before a batch, and the next run re-processes that batch's
    bronze rows instead of skipping them."""
    bronze.ingest(
        spark, lake.bronze_claims, _land(tmp_path, "d1.csv", _DAY1), load_id="b1"
    )
    silver.process(spark, lake)
    silver_t = ParquetTable.for_path(spark, lake.silver_claims)
    v_pre = silver_t.latest_version()
    mark_pre = silver_t.properties()[silver._MARK]
    bronze.ingest(
        spark, lake.bronze_claims, _land(tmp_path, "d2.csv", _DAY2), load_id="b2"
    )
    assert silver.process(spark, lake).n_incremental == 2
    assert silver_t.properties()[silver._MARK] > mark_pre
    assert silver.process(spark, lake).n_incremental == 0

    silver_t.restore(v_pre)
    assert silver_t.properties()[silver._MARK] == mark_pre
    assert silver_t.read().count() == 4  # C005 gone with the restore
    sres = silver.process(spark, lake)
    assert sres.n_incremental == 2 and sres.n_pass == 2
    got = silver_t.read()
    assert got.count() == 5
    assert float(got.filter(F.col("claim_id") == "C004").first()["paid_amount"]) == 9.99
    assert not os.path.exists(lake.watermarks)


def test_quarantine_replay_is_idempotent(spark, lake, tmp_path):
    # a clean first batch, so silver exists before the run under test
    bronze.ingest(
        spark, lake.bronze_claims, _land(tmp_path, "d0.csv", _DAY2), load_id="b0"
    )
    silver.process(spark, lake)
    silver_t = ParquetTable.for_path(spark, lake.silver_claims)
    v_pre = silver_t.latest_version()
    bronze.ingest(
        spark, lake.bronze_claims, _land(tmp_path, "d1.csv", _DAY1), load_id="b1"
    )
    silver.process(spark, lake)
    q1 = ParquetTable.for_path(spark, lake.quarantine).read().count()

    # simulate a crash after the quarantine write but before the silver
    # commit (which carries the mark): restore silver to its pre-run
    # version and re-run the same delta
    silver_t.restore(v_pre)
    silver.process(spark, lake)
    assert ParquetTable.for_path(spark, lake.quarantine).read().count() == q1


def test_medallion_with_codegen_on(spark, lake, tmp_path, codegen_on):
    """Bronze → silver → gold, day 1 then day 2, with whole-stage and
    expression codegen at Spark's defaults — the MERGE and dim-refresh
    plans as a production session compiles them."""
    assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"
    assert spark.conf.get("spark.sql.codegen.factoryMode") == "FALLBACK"
    _load_reference_tables(spark, lake)
    for name, content, load_id in (("d1.csv", _DAY1, "b1"), ("d2.csv", _DAY2, "b2")):
        bronze.ingest(
            spark, lake.bronze_claims, _land(tmp_path, name, content), load_id=load_id
        )
        silver.process(spark, lake)
        gres = gold.build(spark, lake, "2024-01-01", "2024-12-31")
    assert gres.n_fact == 5
    assert gres.n_dim_member == 3 and gres.n_dim_provider == 2
    fact = ParquetTable.for_path(spark, lake.fact_claims).read()
    assert float(fact.filter(F.col("claim_id") == "C004").first()["paid_amount"]) == 9.99
    c001 = fact.filter(F.col("claim_id") == "C001").first()
    assert float(c001["member_liability"]) == 15.00
    assert c001["member_sk"] is not None and c001["provider_sk"] is not None
    by_month = {
        r["service_month"]: r["n_claims"]
        for r in ParquetTable.for_path(spark, lake.agg_by_month).read().collect()
    }
    assert by_month == {202401: 1, 202402: 1, 202403: 1, 202404: 1, 202406: 1}


def test_bronze_decimal_schema_validates(spark, tmp_path):
    """A caller schema whose types contain commas (``DECIMAL(18,2)``)
    lands and validates: the all-null check takes its columns from the
    frame, not from splitting the schema string."""
    csv = _land(
        tmp_path, "dec.csv", "claim_id,amt\nC001,12.50\n,\nC003,\n"
    )
    root = str(tmp_path / "bronze_dec")
    res = bronze.ingest(
        spark, root, csv, schema="claim_id STRING, amt DECIMAL(18,2)"
    )
    assert res.n_rows == 3 and res.n_corrupt == 0 and res.n_all_null == 1
    df = ParquetTable.for_path(spark, root).read()
    assert dict(df.dtypes)["amt"] == "decimal(18,2)"
    assert df.count() == 3


def test_bronze_infer_schema_optin(spark, tmp_path):
    """Reference-parity schema-on-read (bronze_rx_claims_load.py:39):
    infer_schema=True lands typed columns instead of all-string, and the
    ingest result stays well-formed (corrupt capture reported as 0 — no
    side column exists under inference)."""
    csv = _land(
        tmp_path,
        "infer.csv",
        _HEADER
        + "C001,M001,P001,2024-01-10,2024-01-15,12345,D100,100.00,90.00,80.00,1,11,RX\n"
        + "C002,M002,P002,2024-02-01,2024-02-03,54321,D200,250.00,200.00,150.00,1,12,RX\n",
    )
    root = str(tmp_path / "bronze_inferred")
    res = bronze.ingest(spark, root, csv, infer_schema=True)
    assert res.n_rows == 2 and res.n_corrupt == 0 and res.n_all_null == 0
    df = ParquetTable.for_path(spark, root).read()
    types = dict(df.dtypes)
    assert types["billed_amount"] == "double"       # inferred, not string
    assert types["claim_line_number"] == "int"
    assert types["service_date"] == "date"
    assert df.count() == 2
