"""Lakehouse benchmark: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload medallion_incremental --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root.  The run starts a ``local[N]`` Spark
session (N = min(4, cores)), sets the workload up ``n_setups`` times
(the last set-up is the one the units run on), runs one untimed
warm-up unit, then runs timed units back to back until ``--seconds``
have passed and at least ``min_units`` units are done.  Outputs are
checked against the seeded generator; a unit whose checks fail counts
in ``failed``.

``--trace 0`` prints the end-to-end metrics (``catalog.END_TO_END``).
``--trace 1`` alternates untraced and traced units, prints the
per-layer metrics (``catalog.PER_LAYER``) from the traced ones, and
writes every span to ``.perfbench_traces/<workload>-seed<seed>.json``.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "azure_databricks_lakehouse_spark"


def _workloads() -> dict:
    from perfbench.corpus import TrainingCorpus
    from perfbench.medallion import Medallion

    return {w.name: w for w in (Medallion, TrainingCorpus)}


def parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="lakehouse benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _run_unit(wl, prepared, tracer=None) -> bool:
    try:
        return wl.unit(prepared, tracer)
    except Exception:
        traceback.print_exc()
        return False


def run(args: argparse.Namespace) -> dict:
    from perfbench import catalog, sparkenv, stats
    from perfbench.trace import Tracer

    workloads = _workloads()
    if args.workload not in workloads:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = sparkenv.start(work)
    try:
        jobs = sparkenv.JobCounter(spark)
        tracer = Tracer(
            f"{args.workload}-seed{args.seed}",
            probe=jobs.mark,
            settle=lambda mark, span: jobs.since(mark, tasks=span["name"] == "unit"),
        )
        wl = workloads[args.workload](spark, work, args.seed)
        setup_s = []
        for k in range(wl.n_setups):
            t0 = time.perf_counter()
            wl.setup(k)
            setup_s.append(time.perf_counter() - t0)

        min_units = max(wl.min_units, 2) if args.trace else wl.min_units
        plain, traced, roots = [], [], []
        attempted = failed = 0
        # one untimed unit first: it runs the code paths the set-up did
        # not; without it the first timed unit is 5-80% slower and
        # spreads more between runs
        if not _run_unit(wl, wl.prepare(-1)):
            attempted = failed = 1
        loop_start = time.perf_counter()
        while not failed and (
            attempted < min_units or time.perf_counter() - loop_start < args.seconds
        ):
            prepared = wl.prepare(attempted)
            trace_this = bool(args.trace) and attempted % 2 == 1
            t0 = time.perf_counter()
            if trace_this:
                with tracer.patched(wl.trace_targets()), tracer.span("unit") as rec:
                    ok = _run_unit(wl, prepared, tracer)
                roots.append(rec["id"])
            else:
                ok = _run_unit(wl, prepared)
            dt = time.perf_counter() - t0
            attempted += 1
            if not ok:
                failed += 1  # and stop: the lake no longer matches the generator
            (traced if trace_this else plain).append(dt)
        correct = failed == 0 and wl.verify() and not wl.problems
        for p in wl.problems:
            print(f"check failed: {p}", file=sys.stderr)

        if args.trace:
            metrics = {name: (0, unit) for name, unit in catalog.PER_LAYER.items()}
            if roots:
                metrics.update(wl.layer_metrics(tracer, roots))
                units = [tracer.spans[r]["counts"] for r in roots]
                metrics["spark.jobs"] = (statistics.mean(u["jobs"] for u in units), "count")
                metrics["spark.tasks"] = (statistics.mean(u["tasks"] for u in units), "count")
                metrics["spark.peak_rss_mb"] = (sparkenv.peak_rss_mb(spark), "MB")
                metrics["trace.overhead_s"] = (
                    statistics.median(traced) - statistics.median(plain), "s"
                )
            out_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"))
        elif not plain:  # the warm-up unit failed
            metrics = {name: (0, unit) for name, unit in catalog.END_TO_END.items()}
        else:
            summary = stats.summarize(plain)
            busy = sum(plain)
            metrics = {
                "setup_s": (statistics.median(setup_s), "s"),
                "ops_per_s": (len(plain) / busy, "1/s"),
                "unit_s_p50": (summary["p50"], "s"),
                "rows_per_s": (len(plain) * wl.rows_per_unit / busy, "rows/s"),
            }
            assert set(metrics) == set(catalog.END_TO_END)
            print(
                f"# {args.workload} seed={args.seed} setups={[round(s, 3) for s in setup_s]} "
                f"units={[round(u, 2) for u in plain]} " + " ".join(
                    f"{k}={v:.4f}" for k, v in summary.items() if k != "n"
                )
            )
        return {
            "correct": bool(correct),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        sparkenv.stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: the engine package {ENGINE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    # import as the ``perfbench`` package, never as top-level modules
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
