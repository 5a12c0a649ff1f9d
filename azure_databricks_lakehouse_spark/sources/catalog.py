"""Test-corpus catalog: the driver's TPC-H-ish parquet tables.

Reference parity: catalog-table scans (S4, ``spark.table`` at
``silver/silver_rx_claims_load.py:35``) and path scans (S3).  Here the
"catalog" is the driver-generated parquet directory; ``bind`` makes the
tables a query actually touches SQL-visible, the way the reference
registers Delta paths with ``CREATE TABLE ... USING DELTA LOCATION`` (S9,
``bronze/bronze_rx_claims_load.py:77``).

Scale + robustness stance: binding is **lazy and per-table**.  A query
over ``part`` never opens ``events``; one unreadable table can never take
down unrelated queries, and at a 100 TB catalog you only pay metadata cost
for tables in the plan.

The ``events`` table needs special handling: ``ts`` has shipped in two
physical encodings across driver testdata generations, and the engine
normalizes both to the SAME logical type (``TIMESTAMP``, UTC session):

- ``TIMESTAMP(NANOS)``: Spark 4.x refuses to read it natively
  (PARQUET_TYPE_ILLEGAL), so we read with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` (``ts`` arrives as a long
  nanosecond count) and convert with exact integer division —
  ``timestamp_micros(ts div 1000)`` — which truncates toward zero exactly
  like DuckDB's nanos→micros read, so oracles agree to the microsecond.
  (Float division would round half the rows up by 1µs.)
- ``TIMESTAMP(MICROS, isAdjustedToUTC=false)``: reads natively as
  ``TIMESTAMP_NTZ``; cast to ``TIMESTAMP`` (the UTC session timezone makes
  the cast a pure re-tag, no instant shift) so every downstream query and
  oracle sees one stable type regardless of the file encoding.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one corpus table; Catalyst prunes/pushes into it."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        prev = spark.conf.get(_NANOS_CONF, "false")
        spark.conf.set(_NANOS_CONF, "true")
        try:
            df = spark.read.parquet(path)
            ts_type = dict(df.dtypes)["ts"]
        finally:
            spark.conf.set(_NANOS_CONF, prev)
        if ts_type == "bigint":
            # nanos-long -> microsecond timestamp; `div` is exact integer
            # division (truncation), matching DuckDB's native nanos read.
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # native micros (TIMESTAMP_NTZ under Spark's parquet reader):
        # re-tag to TIMESTAMP — a no-op instant-wise in the UTC session.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(path)


# spread() only repartitions inputs it can move cheaply: above this
# estimated size the exchange costs more than the single-task compute
# it parallelizes, and a moderately sized multi-file table on a large
# cluster (fewer splits than total cores) must NOT trigger a
# corpus-wide shuffle (ADVICE r12).  Env-overridable for deployments
# whose per-row compute genuinely justifies shuffling more.
_SPREAD_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_SPREAD_MAX_BYTES", str(4 << 30))
)


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Parallelize expensive per-row compute over an UNDER-partitioned
    scan (guide §2.5: a small or unsplittable input — here each corpus
    table is one single-row-group parquet file, so its scan is ONE task
    and every projection Catalyst keeps below the first exchange runs
    single-threaded: regex batteries, shingle md5s, winnow hashes, gram
    explodes).

    Scale-adaptive, never a constant: repartitions by ``keys`` to the
    session's default parallelism ONLY when the frame currently has
    fewer partitions than that AND its optimizer-estimated size is
    small (``_SPREAD_MAX_BYTES``).  At production scale a table scan
    carries ≥ cores partitions (``maxPartitionBytes`` splits real
    files), so this is a structural no-op — no exchange enters the
    plan; and the byte gate keeps a moderately sized multi-file table
    on a many-core cluster (fewer splits than cores, but real data)
    from paying an input-wide shuffle.  Keyed repartition (hash on
    ``keys``) rather than round-robin: deterministic under task retry
    (SPARK-38388) and no sort-before-repartition pass.

    Intended for (near-)scan frames: the partition-count peek forces
    physical planning of the subtree, which is cheap for scans but
    wasteful on deep plans."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # noqa: BLE001 - stats are advisory
        # fail closed: with no size estimate the byte gate cannot rule
        # out an input-wide shuffle, so leave the frame as it is
        return df
    if est > _SPREAD_MAX_BYTES:
        return df
    return df.repartition(p, *keys)


def bind(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load + register exactly the tables a query uses (lazy binding).

    Returns name -> DataFrame and registers each as a temp view so SQL
    surfaces see the same relations.
    """
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every *readable* corpus table as a temp view.

    Convenience for exploration; per-table failures are skipped so one
    poisoned file never blocks unrelated tables.  Queries should prefer
    :func:`bind` with an explicit table list.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        try:
            df = load_table(spark, sf_dir, name)
        except Exception:  # noqa: BLE001 - skip-and-continue by design
            continue
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
