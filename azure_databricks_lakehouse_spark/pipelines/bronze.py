"""Bronze ingest: raw CSV landing with lineage metadata and validation.

Reference parity — ``ingest_rx_claims_to_bronze``
(``bronze/bronze_rx_claims_load.py:23-82``) and
``validate_bronze_ingestion`` (``:85-119``):

- S1 CSV scan with header (``:37-42``); schema is *explicit* here rather
  than ``inferSchema`` — inference triggers an eager sampling job per
  ingest and infers drifting types at scale; the PERMISSIVE side-channel
  still captures anything that doesn't fit (schema-on-read preserved where
  it matters).
- S2 PERMISSIVE mode + ``_corrupt_record`` capture (``:40-41``, consumed
  ``:104-107``).
- Lineage columns (``:45-49``): ingestion_timestamp, source_file via
  ``input_file_name`` (F8), source_system, bronze_load_id (F10 —
  conf-lookup surfaced as a literal).
- S6/D4 append with schema evolution into the versioned bronze table.
- S7-intent partitioning: by derived ``ingestion_date``, not raw
  ingestion_timestamp — the reference's as-written partitioning
  (``:72``) creates one partition per micro-batch; its own pattern doc
  prescribes the date (``bronze_silver_gold/readme.md:82,93``;
  SURVEY.md §0.3).

Scale: the ingest is one pass — scan → project lineage → partitioned
append; validation counts run over the just-written table (cached once,
fixing the reference's re-scan-per-count).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.sources.tables import ParquetTable, is_table

CLAIMS_SCHEMA = (
    "claim_id STRING, member_id STRING, provider_id STRING, "
    "service_date STRING, received_date STRING, procedure_code STRING, "
    "diagnosis_code STRING, billed_amount STRING, allowed_amount STRING, "
    "paid_amount STRING, claim_line_number STRING, place_of_service STRING, "
    "claim_type STRING"
)
CORRUPT_COL = "_corrupt_record"


@dataclass(frozen=True)
class BronzeResult:
    n_rows: int
    n_corrupt: int
    n_all_null: int
    version: int


def read_landing_csv(
    spark: SparkSession,
    source_glob: str,
    schema: str = CLAIMS_SCHEMA,
    infer_schema: bool = False,
) -> DataFrame:
    """S1+S2: permissive CSV scan with corrupt-record side column.

    ``infer_schema=True`` is the reference's as-written schema-on-read
    (``bronze/bronze_rx_claims_load.py:39``): Spark samples the files to
    infer column types.  It stays opt-in because inference runs an eager
    extra scan per ingest and lets types drift batch-to-batch; the
    explicit-schema default is the at-scale posture (the PERMISSIVE
    corrupt-record channel still captures rows that don't fit it).
    Inference cannot coexist with a user-declared corrupt-record column,
    so that capture is explicit-schema-only — the documented trade.
    """
    reader = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
    )
    if infer_schema:
        return reader.option("inferSchema", "true").csv(source_glob)
    return (
        reader.option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(f"{schema}, {CORRUPT_COL} STRING")
        .csv(source_glob)
    )


def with_lineage(
    df: DataFrame, source_system: str, load_id: str
) -> DataFrame:
    """Lineage metadata columns (``bronze/bronze_rx_claims_load.py:45-49``)."""
    return (
        df.withColumn("ingestion_timestamp", F.current_timestamp())
        .withColumn("ingestion_date", F.current_date())
        .withColumn("source_file", F.input_file_name())
        .withColumn("source_system", F.lit(source_system))
        .withColumn("bronze_load_id", F.lit(load_id))
    )


def ingest(
    spark: SparkSession,
    table_root: str,
    source_glob: str,
    source_system: str = "pharmacy_system",
    load_id: str | None = None,
    schema: str = CLAIMS_SCHEMA,
    infer_schema: bool = False,
) -> BronzeResult:
    """Land a batch into the bronze table (append; create on first run).

    ``load_id`` defaults to the job conf (F10 conf-lookup-as-literal,
    ``bronze/bronze_rx_claims_load.py:49``).  ``infer_schema=True`` lands
    with inferred types (see :func:`read_landing_csv`); corrupt-record
    capture then reports 0 (no side column exists under inference).
    """
    if load_id is None:
        load_id = spark.conf.get("spark.lakehouse.bronzeLoadId", "manual")
    raw = read_landing_csv(spark, source_glob, schema, infer_schema=infer_schema)
    staged = with_lineage(raw, source_system, load_id)
    # Spark only materializes _corrupt_record when the row is cached or
    # fully projected; cache before any filter that references it.
    staged = staged.cache()
    try:
        if is_table(table_root):
            tbl = ParquetTable.for_path(spark, table_root)
            version = tbl.append(staged, merge_schema=True)
        else:
            tbl = ParquetTable.create(
                spark, table_root, staged, partition_by=["ingestion_date"]
            )
            version = 0
        has_corrupt_col = CORRUPT_COL in staged.columns
        return BronzeResult(
            n_rows=staged.count(),
            n_corrupt=(
                staged.filter(F.col(CORRUPT_COL).isNotNull()).count()
                if has_corrupt_col
                else 0
            ),
            n_all_null=_n_all_business_null(staged),
            version=version,
        )
    finally:
        staged.unpersist()


_LINEAGE_COLS = (
    "ingestion_timestamp",
    "ingestion_date",
    "source_file",
    "source_system",
    "bronze_load_id",
)


def _business_cols(df: DataFrame) -> list[str]:
    """Everything that isn't lineage metadata or the corrupt side column."""
    drop = set(_LINEAGE_COLS) | {CORRUPT_COL}
    return [c for c in df.columns if c not in drop]


def _n_all_business_null(df: DataFrame) -> int:
    """Validation: rows where every business column is null
    (``bronze/bronze_rx_claims_load.py:94-98``)."""
    pred = F.lit(True)
    for c in _business_cols(df):
        pred = pred & F.col(c).isNull()
    return df.filter(pred).count()


def latest_batch_stats(spark: SparkSession, table_root: str) -> dict:
    """``validate_bronze_ingestion`` tail (``:108-117``): latest-batch row
    count + distinct source files, via a scalar max collect (the
    reference's hand-decorrelated scalar subquery — fine at any scale,
    it moves one value)."""
    df = ParquetTable.for_path(spark, table_root).read()
    latest = df.agg(F.max("ingestion_timestamp")).first()[0]
    batch = df.filter(F.col("ingestion_timestamp") == F.lit(latest))
    return {
        "latest_ingestion": latest,
        "n_rows": batch.count(),
        "n_files": batch.select("source_file").distinct().count(),
    }
