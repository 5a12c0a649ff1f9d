"""Gold star-schema build: conformed dims, 4-way fact join, MERGE, aggregates.

Reference parity — ``gold/gold_rx_claims_load.py``:

- dim_date generated distributed (``:36-48`` builds it in a driver loop;
  here ``operators/dims.build_date_dim`` uses ``sequence+explode`` — S5 at
  scale) with yyyymmdd date_key intent (``:51``, F2) and calendar
  attributes (``:50-72``, F5/F6).
- dim_member / dim_provider: SCD1 projections with surrogate keys
  (``:94-108``, ``:130-142``).  Surrogate keys are *durable*: the first
  build assigns dense 1..N in business-key order
  (``operators/dims.add_surrogate_key``); every later build keeps the
  existing key for every business key already in the dim and assigns
  ``max(sk) + dense-rank`` to new keys only.  Keys are never renumbered,
  so the watermark-incremental fact (which does not re-join historical
  rows) can never be left pointing at the wrong dim row — unlike both
  ``monotonically_increasing_id`` (non-deterministic) and a naive
  full-rebuild rank (a new key that sorts early shifts every key after
  it).  A refresh MERGEs only new or changed keys, so an unchanged dim
  commits nothing.
- fact: 4 left equi-joins (J1-J4, ``:167-187``) with explicitly broadcast
  dims (J5) — two of them role-playing date joins disambiguated by
  pre-join aliasing; derived measure ``billed - paid`` (P12, ``:199``).
- D3 MERGE upsert on (claim_id, claim_line_number) (``:211-230``) of
  the silver rows updated since the fact's mark.  The reference keeps
  that mark in a ``control.watermarks`` table; here it is a table
  property of the fact written in the MERGE's own commit, so it is
  versioned with the data: ``SHOW TBLPROPERTIES`` shows it, and a
  RESTORE of the fact rolls it back with the rows.
- A5 aggregation tables (``:237-245``, truncated in the reference —
  reconstructed from its sum/count/avg/max imports at ``:10``).

Scale: dims are broadcast (small by construction); the fact build
shuffles only for the silver scan's partitioning, and the aggregate
tables are single hash aggregates with map-side partials.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.operators.dims import (
    add_surrogate_key,
    build_date_dim,
    date_key_expr,
)
from azure_databricks_lakehouse_spark.pipelines.paths import LakehousePaths
from azure_databricks_lakehouse_spark.plans.cbo import (
    fresh_statistics,
    maybe_broadcast,
)
from azure_databricks_lakehouse_spark.sources.tables import ParquetTable, is_table


# fact_claims table property: the max silver_updated_timestamp (epoch
# microseconds) the fact holds, committed with the data
_MARK = "gold_silver_updated_through"


@dataclass(frozen=True)
class GoldResult:
    n_fact: int
    n_dim_member: int
    n_dim_provider: int
    n_dim_date: int


def _write(spark: SparkSession, root: str, df: DataFrame, partition_by=None) -> None:
    if is_table(root):
        ParquetTable.for_path(spark, root).overwrite(df)
    else:
        ParquetTable.create(spark, root, df, partition_by=partition_by)


def build_dim_date(
    spark: SparkSession, paths: LakehousePaths, start: str, end: str
) -> DataFrame:
    dim = build_date_dim(spark, start, end)
    _write(spark, paths.dim_date, dim)
    return ParquetTable.for_path(spark, paths.dim_date).read()


def _member_attrs(members: DataFrame) -> DataFrame:
    return members.select(
        F.col("member_id").alias("member_key"),
        "first_name",
        "last_name",
        "date_of_birth",
        "gender",
        "zip_code",
        "plan_type",
    )


def _provider_attrs(providers: DataFrame) -> DataFrame:
    return providers.select(
        F.col("provider_id").alias("provider_key"),
        "provider_name",
        "npi",
        "specialty",
        "facility_type",
        "address_state",
        "network_status",
    )


def build_dim_member(spark: SparkSession, paths: LakehousePaths) -> DataFrame:
    """SCD1 member dim (``gold/gold_rx_claims_load.py:87-108``; the pattern
    doc says SCD2 at ``bronze_silver_gold/readme.md:56`` — code wins,
    SURVEY.md §7.3)."""
    members = ParquetTable.for_path(spark, paths.silver_members).read()
    return _scoped_dim_refresh(
        spark,
        paths.dim_member,
        _member_attrs(members),
        "member_sk",
        business_key="member_key",
    )


def build_dim_provider(spark: SparkSession, paths: LakehousePaths) -> DataFrame:
    providers = ParquetTable.for_path(spark, paths.silver_providers).read()
    return _scoped_dim_refresh(
        spark,
        paths.dim_provider,
        _provider_attrs(providers),
        "provider_sk",
        business_key="provider_key",
    )


def _scoped_dim_refresh(
    spark: SparkSession,
    path: str,
    attrs: DataFrame,
    sk_name: str,
    business_key: str,
) -> DataFrame:
    """SCD1 dim refresh with durable surrogate keys, as a change-only
    MERGE of the keys in ``attrs``.

    The first build (no dim table yet) assigns dense 1..N in
    business-key order (``operators/dims.add_surrogate_key``).  After
    that, keys whose attributes match the stored dim row are dropped
    from the work set; new keys get ``max(sk) + dense-rank`` surrogates;
    changed keys keep their durable SK and ``dim_created_timestamp``;
    keys absent from ``attrs`` are left as they are, because the fact
    table may still reference them.  Keys are never renumbered, which
    is what lets ``build_fact`` stay watermark-incremental: historical
    fact rows keep valid foreign keys no matter how dim membership
    changes between runs.

    The survivors MERGE on the business key — with the table layer's
    touched-file pruning, only data files containing those keys
    rewrite, and an unchanged dim commits nothing (its files stay
    byte-untouched).  The batch build passes the full attribute
    projection; a streaming trigger passes the projection semi-joined
    to its batch's keys, so per-trigger cost is ∝ the micro-batch
    (attribute drift on keys the stream never sees again is reconciled
    by the next batch :func:`build_dim_member` /
    :func:`build_dim_provider` run)."""
    if not is_table(path):
        dim = add_surrogate_key(
            attrs, sk_name, business_key=business_key
        ).withColumn("dim_created_timestamp", F.current_timestamp())
        return ParquetTable.create(spark, path, dim).read()
    table = ParquetTable.for_path(spark, path)
    dim = table.read()
    attr_cols = [c for c in attrs.columns if c != business_key]
    cur = dim.select(
        business_key,
        sk_name,
        "dim_created_timestamp",
        *[F.col(c).alias(f"__cur_{c}") for c in attr_cols],
    )
    joined = attrs.join(cur, business_key, "left")
    changed = F.col(sk_name).isNull()  # new key
    for c in attr_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"__cur_{c}"))
    delta = joined.filter(changed)
    if delta.isEmpty():
        return dim
    max_sk = dim.agg(F.max(sk_name)).first()[0] or 0
    new_keyed = (
        add_surrogate_key(
            delta.filter(F.col(sk_name).isNull()).select(business_key, *attr_cols),
            sk_name,
            business_key=business_key,
        )
        .withColumn(sk_name, (F.col(sk_name) + F.lit(max_sk)).cast("long"))
        .withColumn("dim_created_timestamp", F.current_timestamp())
    )
    refreshed = delta.filter(F.col(sk_name).isNotNull()).select(
        business_key, *attr_cols, sk_name, "dim_created_timestamp"
    )
    table.merge(
        refreshed.unionByName(new_keyed).select(*dim.columns),
        on=[business_key],
    )
    return table.read()


def _fact_frame(
    claims: DataFrame,
    dim_member: DataFrame,
    dim_provider: DataFrame,
    dim_date: DataFrame,
    dim_stats: dict | None = None,
) -> DataFrame:
    """The 4-way star join + derived measure as a pure frame transform
    (``gold/gold_rx_claims_load.py:154-207``) — shared by the batch
    watermark build and the streaming micro-batch sink so both paths
    produce byte-identical fact rows from the same silver delta.

    ``dim_stats`` (keys ``member``/``provider``/``date`` → the dim
    table's ANALYZE statistics, or None) drives the broadcast-side
    choice through :func:`plans.cbo.maybe_broadcast`: fresh stats that
    bound the dim's key projection under the threshold keep today's
    static broadcast; fresh stats proving a dim outgrew broadcast
    DECLINE the hint (the join plans as a shuffle join — correct at the
    scale the stats describe — and AQE may still promote it if the
    projection shrinks); no stats = today's behavior (dims are small by
    construction)."""
    stats = dim_stats or {}

    def _dim(df: DataFrame, key: str, cols: list[str]) -> DataFrame:
        return maybe_broadcast(df, stats.get(key), columns=cols)

    # Pre-join projections: dims cut to (join key, surrogate) before the
    # join — the reference does this manually (:169,:174,:179,:184);
    # role-playing date dims get aliased keys to stay unambiguous (J3/J4).
    m = _dim(
        dim_member.select("member_key", "member_sk"),
        "member",
        ["member_key", "member_sk"],
    )
    p = _dim(
        dim_provider.select("provider_key", "provider_sk"),
        "provider",
        ["provider_key", "provider_sk"],
    )
    d_served = _dim(
        dim_date.select(
            F.col("date_value").alias("service_date_value"),
            F.col("date_key").alias("service_date_key"),
        ),
        "date",
        ["date_value", "date_key"],
    )
    d_received = _dim(
        dim_date.select(
            F.col("date_value").alias("received_date_value"),
            F.col("date_key").alias("received_date_key"),
        ),
        "date",
        ["date_value", "date_key"],
    )

    fact = (
        claims.join(m, claims.member_id == m.member_key, "left")
        .join(p, claims.provider_id == p.provider_key, "left")
        .join(d_served, claims.service_date == d_served.service_date_value, "left")
        .join(
            d_received,
            claims.received_date == d_received.received_date_value,
            "left",
        )
        .select(
            "claim_id",
            "claim_line_number",
            "member_sk",
            "provider_sk",
            "service_date_key",
            "received_date_key",
            "service_date",
            "procedure_code",
            "diagnosis_code",
            "billed_amount",
            "allowed_amount",
            "paid_amount",
            (F.col("billed_amount") - F.col("paid_amount")).alias(
                "member_liability"
            ),
            "place_of_service",
            "claim_type",
        )
        .withColumn("gold_created_timestamp", F.current_timestamp())
        # Partition by month, not the daily date_key: day-grain hive
        # partitioning multiplies partition count ~30x for no pruning
        # benefit (file-level min/max stats already skip within a month),
        # and at high day-cardinality the write path and the metastore
        # both degrade.  Same correction SURVEY.md §0.3 applies to the
        # reference's bronze timestamp partitioning.
        .withColumn(
            "service_month", (F.col("service_date_key") / 100).cast("int")
        )
    )
    return fact


def build_fact(spark: SparkSession, paths: LakehousePaths) -> int:
    """4-way star join + derived measure + MERGE
    (``gold/gold_rx_claims_load.py:154-232``).

    Incremental: only silver rows updated since the fact's mark join
    and merge (the MERGE makes replays idempotent; the mark makes
    steady-state runs proportional to the delta, not the table — at
    100 TB re-joining seven years of facts nightly is the bug).  The
    mark is a fact table property committed with the MERGE, so a
    RESTORE of the fact rewinds it with the rows."""
    fact_t = (
        ParquetTable.for_path(spark, paths.fact_claims)
        if is_table(paths.fact_claims)
        else None
    )
    wm = fact_t.properties().get(_MARK) if fact_t is not None else None
    claims = ParquetTable.for_path(spark, paths.silver_claims).read()
    if wm is not None:
        claims = claims.filter(
            F.col("silver_updated_timestamp") > F.timestamp_micros(F.lit(wm))
        )
    new_wm = claims.agg(F.max(F.unix_micros("silver_updated_timestamp"))).first()[0]
    if fact_t is not None and new_wm is None:  # no new silver rows
        return fact_t.read().count()
    member_t = ParquetTable.for_path(spark, paths.dim_member)
    provider_t = ParquetTable.for_path(spark, paths.dim_provider)
    date_t = ParquetTable.for_path(spark, paths.dim_date)
    fact = _fact_frame(
        claims,
        member_t.read(),
        provider_t.read(),
        date_t.read(),
        # ANALYZE stats (when fresh) pick each dim's broadcast side —
        # a dim that outgrew broadcast declines the hint instead of
        # OOMing 1000 executors on a stale assumption
        dim_stats={
            "member": fresh_statistics(member_t),
            "provider": fresh_statistics(provider_t),
            "date": fresh_statistics(date_t),
        },
    )

    mark = {_MARK: new_wm}
    if fact_t is not None:
        fact_t.merge(fact, on=["claim_id", "claim_line_number"], extra_props=mark)
    else:
        fact_t = ParquetTable.create(
            spark, paths.fact_claims, fact, partition_by=["service_month"]
        )
        if new_wm is not None:
            # a crash before the mark lands costs one full, idempotent
            # re-MERGE on the next run
            fact_t.set_properties(mark)
    return fact_t.read().count()


def build_aggregation_tables(spark: SparkSession, paths: LakehousePaths) -> None:
    """A5 gold aggregates (reconstructed tail,
    ``gold/gold_rx_claims_load.py:237-245`` + imports at ``:10``)."""
    fact = ParquetTable.for_path(spark, paths.fact_claims).read()
    by_provider = fact.groupBy("provider_sk").agg(
        F.count(F.lit(1)).alias("n_claims"),
        F.sum("billed_amount").alias("total_billed"),
        F.sum("paid_amount").alias("total_paid"),
        (F.sum("billed_amount") / F.count(F.lit(1)))
        .cast("decimal(18,2)")
        .alias("avg_billed"),
        F.max("service_date").alias("latest_service_date"),
    )
    _write(spark, paths.agg_by_provider, by_provider)

    by_month = fact.groupBy(
        (date_key_expr(F.col("service_date")) / 100).cast("int").alias("service_month")
    ).agg(
        F.count(F.lit(1)).alias("n_claims"),
        F.sum("billed_amount").alias("total_billed"),
        F.sum("member_liability").alias("total_member_liability"),
    )
    _write(spark, paths.agg_by_month, by_month)


def build(
    spark: SparkSession,
    paths: LakehousePaths,
    date_dim_start: str = "2020-01-01",
    date_dim_end: str = "2030-12-31",
) -> GoldResult:
    """Full Gold run: dims → fact MERGE → aggregate tables."""
    dim_date = build_dim_date(spark, paths, date_dim_start, date_dim_end)
    dim_member = build_dim_member(spark, paths)
    dim_provider = build_dim_provider(spark, paths)
    n_fact = build_fact(spark, paths)
    build_aggregation_tables(spark, paths)
    return GoldResult(
        n_fact=n_fact,
        n_dim_member=dim_member.count(),
        n_dim_provider=dim_provider.count(),
        n_dim_date=dim_date.count(),
    )


def stream(
    spark: SparkSession,
    paths: LakehousePaths,
    checkpoint: str,
    *,
    available_now: bool = True,
    date_dim_start: str = "2020-01-01",
    date_dim_end: str = "2030-12-31",
):
    """Streaming-native silver → gold: the silver claims table's CHANGE
    FEED is the streaming source, completing the continuous medallion
    (bronze→silver streams in :func:`silver.stream`).

    Silver is MERGE-maintained, so a plain table stream would refuse its
    rewrite commits; the CDF stream is the correct primitive — exactly
    Databricks' ``readChangeFeed`` pattern for streaming out of a
    MERGE-maintained table.  Per micro-batch:

    - preimages dropped, then ONE surviving change per fact key — the
      row from the HIGHEST commit version (a batch may drain several
      silver commits that touched the same claim line; applying both
      would trip merge()'s duplicate-source-match abort, and applying
      the older one would be wrong),
    - member/provider dims refreshed (durable surrogate keys make this
      idempotent and order-safe), then the same :func:`_fact_frame`
      star join the batch path runs,
    - upserts MERGE into the fact; rows whose final change is a DELETE
      retract via ``when_matched_delete`` (unmatched delete rows are
      no-ops per the CDC contract).

    The stream checkpoint's source offsets replace the batch build's
    table-property mark, which the stream never writes.  Aggregate
    tables stay a batch refresh (:func:`build_aggregation_tables`)
    after/alongside the stream, as on Databricks where they'd be a
    separate rollup job.

    Scale: cost per trigger ∝ changed silver rows (CDF streams sidecar
    files, never rescans silver); dim refresh is scoped to the batch's
    member/provider keys (:func:`_scoped_dim_refresh` — a quiet batch
    leaves the dim tables' files byte-untouched); dims broadcast inside
    the join; and the fact MERGE's keys (claim_id, claim_line_number)
    don't subsume the ``service_month`` partitioning, so it relies on
    the table layer's TOUCHED-FILE pruning instead — only fact files
    containing matched claim keys rewrite, discovered by a column-pruned
    key scan (Delta's findTouchedFiles shape).
    """
    from pyspark.sql.window import Window

    from azure_databricks_lakehouse_spark.sources.cdf_stream import (
        TableChangesDataSource,
    )

    if not is_table(paths.dim_date):
        build_dim_date(spark, paths, date_dim_start, date_dim_end)
    spark.dataSource.register(TableChangesDataSource)
    src = (
        spark.readStream.format("table_changes")
        .option("path", paths.silver_claims)
        .load()
    )
    keys = ["claim_id", "claim_line_number"]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        w = Window.partitionBy(*keys).orderBy(F.col("_commit_version").desc())
        latest = (
            batch_df.filter(F.col("_change_type") != "update_preimage")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "_commit_version")
        )
        if latest.isEmpty():
            return
        # dim refresh ∝ batch keys: semi-join the silver dims' sources
        # on the batch's member/provider ids; the first trigger (no dim
        # table yet) does the one full build, matching the batch path.
        if is_table(paths.dim_member):
            members = ParquetTable.for_path(sess, paths.silver_members).read()
            dim_member = _scoped_dim_refresh(
                sess,
                paths.dim_member,
                _member_attrs(members).join(
                    latest.select(
                        F.col("member_id").alias("member_key")
                    ).distinct(),
                    "member_key",
                    "semi",
                ),
                "member_sk",
                business_key="member_key",
            )
        else:
            dim_member = build_dim_member(sess, paths)
        if is_table(paths.dim_provider):
            providers = ParquetTable.for_path(
                sess, paths.silver_providers
            ).read()
            dim_provider = _scoped_dim_refresh(
                sess,
                paths.dim_provider,
                _provider_attrs(providers).join(
                    latest.select(
                        F.col("provider_id").alias("provider_key")
                    ).distinct(),
                    "provider_key",
                    "semi",
                ),
                "provider_sk",
                business_key="provider_key",
            )
        else:
            dim_provider = build_dim_provider(sess, paths)
        dim_date = ParquetTable.for_path(sess, paths.dim_date).read()
        upserts = latest.filter(
            F.col("_change_type") != "delete"
        ).drop("_change_type")
        dels = latest.filter(F.col("_change_type") == "delete").drop(
            "_change_type"
        )
        if not upserts.isEmpty():
            fact = _fact_frame(upserts, dim_member, dim_provider, dim_date)
            if is_table(paths.fact_claims):
                ParquetTable.for_path(sess, paths.fact_claims).merge(
                    fact, on=keys
                )
            else:
                ParquetTable.create(
                    sess,
                    paths.fact_claims,
                    fact,
                    partition_by=["service_month"],
                )
        if is_table(paths.fact_claims) and not dels.isEmpty():
            # delete rows carry the silver pre-image, so the same star
            # join shapes them into fact rows; the flag retracts every
            # matched key and no-ops the rest
            retract = _fact_frame(dels, dim_member, dim_provider, dim_date)
            ParquetTable.for_path(sess, paths.fact_claims).merge(
                retract,
                on=keys,
                when_matched_delete=F.lit(True),
            )

    writer = (
        src.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
