"""``medallion_incremental``: small claims batches through bronze → silver
→ gold on a lake that already holds the base load.

Timed unit: one landing batch — ``bronze.ingest`` → ``silver.process`` →
``gold.build`` — followed by the read a dashboard makes right after a
load: a point lookup of a claim the batch landed and its month's row of
the gold monthly aggregate, both through ``Lakehouse.sql``.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext

from azure_databricks_lakehouse_spark.pipelines import bronze, gold, silver
from azure_databricks_lakehouse_spark.pipelines.paths import LakehousePaths
from azure_databricks_lakehouse_spark.sources.sql import Lakehouse
from azure_databricks_lakehouse_spark.sources.tables import ParquetTable, is_table

from perfbench import gen

MANIFEST_DIR = "_manifest"


def _table_roots(lake: LakehousePaths) -> list[str]:
    names = (
        "bronze_claims", "silver_claims", "quarantine", "watermarks",
        "silver_members", "silver_providers", "dim_date", "dim_member",
        "dim_provider", "fact_claims", "agg_by_provider", "agg_by_month",
    )
    return [getattr(lake, n) for n in names if is_table(getattr(lake, n))]


def _dir_bytes(root: str, sub: str = "") -> int:
    total = 0
    for d, _dirs, files in os.walk(os.path.join(root, sub)):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Medallion:
    name = "medallion_incremental"
    n_setups = 1
    min_units = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        probe = gen.ClaimsGenerator(seed)
        self.rows_per_unit = gen.BATCH_ROWS + gen.N_CORRUPT
        self.base_dir = os.path.join(work, "landing", "base")
        gen.write_rows(
            os.path.join(self.base_dir, "base.csv"), gen.CLAIM_COLUMNS, probe.base()
        )
        self.members = probe.members()
        self.providers = probe.providers()
        self.lake: LakehousePaths | None = None
        self.problems: list[str] = []

    # -- set-up --------------------------------------------------------------

    def setup(self, k: int) -> None:
        """Build a fresh lake holding the base load (the timed set-up)."""
        if self.lake is not None:
            shutil.rmtree(self.lake.root)
        self.gen = gen.ClaimsGenerator(self.seed)
        self.gen.base()
        self.lake = lake = LakehousePaths(os.path.join(self.work, f"lake{k}"))
        spark = self.spark
        members = spark.createDataFrame(
            self.members, ", ".join(f"{c} string" for c in gen.MEMBER_COLUMNS)
        )
        providers = spark.createDataFrame(
            self.providers, ", ".join(f"{c} string" for c in gen.PROVIDER_COLUMNS)
        )
        silver.load_reference_table(spark, members, lake.silver_members, ["member_id"])
        silver.load_reference_table(spark, providers, lake.silver_providers, ["provider_id"])
        bronze.ingest(spark, lake.bronze_claims, self.base_dir, load_id="base")
        sres = silver.process(spark, lake)
        gres = gold.build(spark, lake, gen.DATE_DIM_START, gen.DATE_DIM_END)
        self._expect("setup silver rows", sres.n_pass, gen.N_BASE)
        self._expect("setup fact rows", gres.n_fact, gen.N_BASE)
        self.lh = Lakehouse(spark)
        self.lh.register("fact_claims", lake.fact_claims)
        self.lh.register("agg_by_month", lake.agg_by_month)
        self.bytes_at_setup = _dir_bytes(lake.root)
        self.versions_at_setup = {
            r: ParquetTable.for_path(spark, r).latest_version() for r in _table_roots(lake)
        }
        self.rows_landed = self.units_run = 0

    # -- timed unit ----------------------------------------------------------

    def prepare(self, i: int):
        batch = self.gen.next_batch()
        path = os.path.join(self.work, "landing", f"batch_{batch.index:04d}")
        batch.write_csv(path)
        return batch, path

    def unit(self, prepared, tracer=None) -> bool:
        batch, path = prepared
        spark, lake = self.spark, self.lake
        before = len(self.problems)
        span = tracer.span if tracer else (lambda name: nullcontext())
        with span("bronze.ingest"):
            bres = bronze.ingest(spark, lake.bronze_claims, path, load_id=f"b{batch.index}")
        with span("silver.process"):
            sres = silver.process(spark, lake)
        with span("gold.build"):
            gres = gold.build(spark, lake, gen.DATE_DIM_START, gen.DATE_DIM_END)
        point = self._sql(
            "SELECT claim_id, billed_amount FROM fact_claims "
            f"WHERE claim_id = '{batch.probe_claim}'",
            tracer,
            table="fact_claims",
        )
        month = self.gen.silver[batch.probe_claim][0]
        agg = self._sql(
            "SELECT n_claims, total_billed FROM agg_by_month "
            f"WHERE service_month = {month}",
            tracer,
            table="agg_by_month",
        )
        self.rows_landed += len(batch.rows)
        self.units_run += 1
        tag = f"batch {batch.index}"
        self._expect(f"{tag} bronze rows", bres.n_rows, len(batch.rows))
        self._expect(f"{tag} corrupt rows", bres.n_corrupt, batch.n_corrupt)
        self._expect(f"{tag} incremental", sres.n_incremental, batch.n_incremental)
        self._expect(f"{tag} pass", sres.n_pass, batch.n_pass)
        self._expect(f"{tag} fail", sres.n_fail, batch.n_fail)
        self._expect(f"{tag} pass+fail", sres.n_pass + sres.n_fail, sres.n_incremental)
        self._expect(f"{tag} fact rows", gres.n_fact, len(self.gen.silver))
        self._expect(
            f"{tag} point read",
            [tuple(r) for r in point],
            [(batch.probe_claim, batch.probe_billed)],
        )
        n, billed, _liab = self.gen.month_totals()[month]
        self._expect(f"{tag} month aggregate", [tuple(r) for r in agg], [(n, billed)])
        return len(self.problems) == before

    def _sql(self, stmt: str, tracer, table: str):
        if tracer is None:
            return self.lh.sql(stmt).collect()
        with tracer.span("sql.plan"):
            df = self.lh.sql(stmt)
        with tracer.span("sql.exec") as rec:
            rows = df.collect()
        # file pruning, read off the plan after the timed spans closed
        rec["attrs"]["files_scanned"] = len(df.inputFiles())
        rec["attrs"]["table_files"] = self.lh.table(table).detail()["num_files"]
        return rows

    def trace_targets(self) -> list[tuple]:
        return [
            (gold, "build_dim_date", "gold.dim_date"),
            (gold, "build_dim_member", "gold.dims"),
            (gold, "build_dim_provider", "gold.dims"),
            (gold, "build_fact", "gold.fact"),
            (gold, "build_aggregation_tables", "gold.aggs"),
            *[
                (ParquetTable, m, "tables.write")
                for m in ("create", "append", "merge", "overwrite", "delete", "update")
            ],
        ]

    # -- checks and layer metrics ---------------------------------------------

    def _expect(self, what: str, got, want) -> None:
        if got != want:
            self.problems.append(f"{what}: got {got!r}, want {want!r}")

    def verify(self) -> bool:
        """Whole-lake checks once the timed loop is over."""
        before = len(self.problems)
        spark, lake = self.spark, self.lake
        silver_keys = {
            r[0] for r in ParquetTable.for_path(spark, lake.silver_claims).read().select("claim_id").collect()
        }
        self._expect("silver keys", silver_keys == set(self.gen.silver), True)
        fact_months = {
            r[0]: (r[1], r[2], r[3])
            for r in self.lh.sql(
                "SELECT service_month, count(*), sum(billed_amount), "
                "sum(member_liability) FROM fact_claims GROUP BY service_month"
            ).collect()
        }
        agg_months = {
            r[0]: (r[1], r[2], r[3])
            for r in self.lh.sql(
                "SELECT service_month, n_claims, total_billed, "
                "total_member_liability FROM agg_by_month"
            ).collect()
        }
        self._expect("fact rows = silver rows", sum(v[0] for v in fact_months.values()), len(silver_keys))
        self._expect("aggregates reconcile to fact", agg_months, fact_months)
        self._expect("aggregates match generator", agg_months, self.gen.month_totals())
        return len(self.problems) == before

    def layer_metrics(self, tracer, roots: list[int]) -> dict:
        spark, lake = self.spark, self.lake
        n = len(roots)
        unit_s = sum(tracer.spans[r]["end"] - tracer.spans[r]["start"] for r in roots)
        total = tracer.total_by_name(roots)
        jobs = tracer.counts_by_name(roots, "jobs")

        def share(name):
            return 100.0 * total.get(name, 0.0) / unit_s

        sql_spans = [
            s for r in roots for s in tracer.descendants(r) if s["name"] == "sql.exec"
        ]
        scanned = sum(s["attrs"]["files_scanned"] for s in sql_spans)
        n_stmt = max(1, len(sql_spans))
        tables = [ParquetTable.for_path(spark, r) for r in _table_roots(lake)]
        live_files = sum(t.detail()["num_files"] for t in tables)
        live_bytes = sum(t.detail()["size_bytes"] for t in tables)
        rewritten = dv = commits = 0
        for t in tables:
            for c in t.history():
                if c.version > self.versions_at_setup.get(t.root, -1):
                    commits += 1
                    m = c.metrics or {}
                    rewritten += m.get("files_rewritten", m.get("files_removed", 0))
                    dv += m.get("files_dv_masked", 0)
        on_disk = _dir_bytes(lake.root)
        return {
            "bronze.ingest_share": (share("bronze.ingest"), "%"),
            "bronze.jobs": (jobs.get("bronze.ingest", 0) / n, "count"),
            "silver.process_share": (share("silver.process"), "%"),
            "silver.jobs": (jobs.get("silver.process", 0) / n, "count"),
            "gold.dim_date_share": (share("gold.dim_date"), "%"),
            "gold.dims_share": (share("gold.dims"), "%"),
            "gold.fact_share": (share("gold.fact"), "%"),
            "gold.aggs_share": (share("gold.aggs"), "%"),
            "gold.jobs": (jobs.get("gold.build", 0) / n, "count"),
            "sql.plan_share": (share("sql.plan"), "%"),
            "sql.exec_share": (share("sql.exec"), "%"),
            "sql.stmt_jobs": (
                (jobs.get("sql.plan", 0) + jobs.get("sql.exec", 0)) / n_stmt,
                "count",
            ),
            "tables.write_share": (share("tables.write"), "%"),
            "tables.commits": (commits / self.units_run, "count"),
            "tables.live_files": (live_files, "count"),
            "tables.versions": (sum(t.latest_version() + 1 for t in tables), "count"),
            "tables.manifest_bytes": (sum(_dir_bytes(t.root, MANIFEST_DIR) for t in tables), "B"),
            "tables.files_rewritten": (rewritten / max(1, commits), "count"),
            "tables.dv_files": (dv / max(1, commits), "count"),
            "tables.bytes_written_per_row": (
                (on_disk - self.bytes_at_setup) / max(1, self.rows_landed), "B/row"
            ),
            "tables.space_amp": (on_disk / max(1, live_bytes), "ratio"),
            "read.files_scanned": (scanned / n_stmt, "count"),
            "read.files_scanned_frac": (
                scanned / max(1, sum(s["attrs"]["table_files"] for s in sql_spans)), "ratio"
            ),
        }

