"""End-to-end medallion orchestrator: the reference's three scripts as one
command.

The reference runs ``bronze_rx_claims_load.py`` →
``silver_rx_claims_load.py`` → ``gold_rx_claims_load.py`` under an
external scheduler (``bronze/bronze_rx_claims_load.py:126,139``).  This
module is the engine's equivalent entry point:

    python -m azure_databricks_lakehouse_spark.pipelines.run \\
        --root /data/lake --landing '/data/landing/*.csv' \\
        [--members parquet] [--providers parquet]

Each stage is independently idempotent (MERGE, with each step's
high-water mark stored as a property of the table it writes, in the same
commit), so re-running after a partial failure is safe — the medallion
contract (``bronze_silver_gold/readme.md:68-74``).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession

from azure_databricks_lakehouse_spark.pipelines import bronze, gold, silver
from azure_databricks_lakehouse_spark.pipelines.paths import LakehousePaths


def run_all(
    spark: SparkSession,
    root: str,
    landing_glob: str,
    members_path: str | None = None,
    providers_path: str | None = None,
    load_id: str | None = None,
    date_dim_start: str = "2020-01-01",
    date_dim_end: str = "2030-12-31",
) -> dict:
    """Bronze ingest → Silver transform → Gold build; returns run stats."""
    from azure_databricks_lakehouse_spark.sources.tables import is_table

    paths = LakehousePaths(root)
    # Fail fast with a actionable message: Gold's dims need the reference
    # tables, either already in the lake or supplied to this run.
    for label, supplied, table_root in (
        ("--members", members_path, paths.silver_members),
        ("--providers", providers_path, paths.silver_providers),
    ):
        if not supplied and not is_table(table_root):
            raise ValueError(
                f"{table_root} does not exist and {label} was not given; "
                "Gold dimensions need the reference table from one of them"
            )

    bres = bronze.ingest(spark, paths.bronze_claims, landing_glob, load_id=load_id)
    sres = silver.process(spark, paths)
    if members_path:
        silver.load_reference_table(
            spark, spark.read.parquet(members_path), paths.silver_members, ["member_id"]
        )
    if providers_path:
        silver.load_reference_table(
            spark,
            spark.read.parquet(providers_path),
            paths.silver_providers,
            ["provider_id"],
        )
    gres = gold.build(spark, paths, date_dim_start, date_dim_end)
    return {
        "bronze": {"n_rows": bres.n_rows, "n_corrupt": bres.n_corrupt},
        "silver": {
            "n_incremental": sres.n_incremental,
            "n_pass": sres.n_pass,
            "n_fail": sres.n_fail,
        },
        "gold": {
            "n_fact": gres.n_fact,
            "n_dim_member": gres.n_dim_member,
            "n_dim_provider": gres.n_dim_provider,
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--root", required=True)
    ap.add_argument("--landing", required=True)
    ap.add_argument("--members")
    ap.add_argument("--providers")
    ap.add_argument("--load-id")
    args = ap.parse_args(argv)

    from azure_databricks_lakehouse_spark.session import get_spark

    spark = get_spark("medallion-run")
    stats = run_all(
        spark,
        args.root,
        args.landing,
        members_path=args.members,
        providers_path=args.providers,
        load_id=args.load_id,
    )
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
