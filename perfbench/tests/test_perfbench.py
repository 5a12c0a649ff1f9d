"""Benchmark self-tests; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

from perfbench import catalog, gen, stats
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- generator determinism ------------------------------------------------------


def _claims_stream(seed: int, n_batches: int = 3):
    g = gen.ClaimsGenerator(seed)
    base = g.base()
    batches = [g.next_batch() for _ in range(n_batches)]
    return g, base, batches


def test_claims_same_seed_same_inputs():
    g1, base1, b1 = _claims_stream(7)
    g2, base2, b2 = _claims_stream(7)
    assert base1 == base2
    assert [b.rows for b in b1] == [b.rows for b in b2]
    assert g1.members() == g2.members() and g1.providers() == g2.providers()
    assert g1.month_totals() == g2.month_totals()


def test_claims_other_seed_other_inputs():
    _, base1, b1 = _claims_stream(7)
    _, base2, b2 = _claims_stream(8)
    assert base1 != base2
    assert b1[0].rows != b2[0].rows


def test_claims_batch_accounting():
    g, base, batches = _claims_stream(3, n_batches=5)
    width = len(gen.CLAIM_COLUMNS)
    assert len({r[0] for r in base}) == len(base) == gen.N_BASE
    for b in batches:
        corrupt = [r for r in b.rows if len(r) != width]
        assert len(corrupt) == b.n_corrupt
        assert len(b.rows) == b.n_incremental + b.n_corrupt
        assert b.n_pass + b.n_fail == b.n_incremental
        keys = [r[0] for r in b.rows if len(r) == width]
        assert len(keys) == len(set(keys)), "no key repeats inside a batch"
        assert b.probe_claim in g.silver
    # every silver key was landed as a passing row at some point
    landed = {r[0] for r in base} | {r[0] for b in batches for r in b.rows}
    assert set(g.silver) <= landed
    n_pass_total = gen.N_BASE + sum(b.n_pass - b.n_resend for b in batches)
    assert len(g.silver) == n_pass_total


def test_corpus_deterministic_with_defects():
    c1, c2 = gen.corpus(5), gen.corpus(5)
    assert c1 == c2
    assert gen.corpus(6).docs != c1.docs
    texts = [d[1] for d in c1.docs]
    assert len(set(texts)) < len(texts), "exact copies present"
    assert all(t in texts for _i, t in c1.benchmark), "benchmark quotes corpus docs"


# -- percentile and sample-count rule -------------------------------------------


def test_tail_needs_ten_samples_beyond_it():
    assert stats.tail_label(99) is None
    assert stats.tail_label(100) == (0.9, "p90")
    assert stats.tail_label(999) == (0.9, "p90")
    assert stats.tail_label(1000) == (0.99, "p99")
    assert stats.tail_label(10_000) == (0.999, "p999")


def test_summarize_reports_count_median_and_supported_tail():
    few = stats.summarize([3.0, 1.0, 2.0])
    assert few == {"n": 3, "p50": 2.0}
    many = stats.summarize([float(i) for i in range(1, 101)])
    assert many["n"] == 100 and many["p50"] == 50.5 and many["p90"] == 90.0
    assert "p99" not in many


def test_percentile_nearest_rank():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(vals, 0.2) == 1.0
    assert stats.percentile(vals, 0.5) == 3.0
    assert stats.percentile(vals, 1.0) == 5.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


# -- metric names match BENCHMARK.json -------------------------------------------


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == catalog.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == catalog.PER_LAYER
    from perfbench.run import parse

    assert parse(["--workload", "x", "--seed", "1", "--seconds", "1"]).trace == 0


def test_workload_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = {w["name"] for w in spec["workloads"]}
    src = {
        "medallion_incremental": "medallion.py",
        "training_corpus": "corpus.py",
    }
    assert names == set(src)
    for name, module in src.items():
        with open(os.path.join(ROOT, "perfbench", module)) as fh:
            assert f'name = "{name}"' in fh.read()


# -- tracer -------------------------------------------------------------------------


class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 1.0
        return self.t


def test_children_plus_self_time_equal_parent():
    tr = Tracer("t", clock=_Clock())
    with tr.span("unit") as root:
        with tr.span("a"):
            with tr.span("a.inner"):
                pass
        with tr.span("b"):
            pass
    for s in tr.spans:
        kids = tr.children(s["id"])
        total = sum(k["end"] - k["start"] for k in kids) + tr.self_time(s)
        assert total == pytest.approx(s["end"] - s["start"])
    assert tr.spans[root["id"]]["parent"] is None
    assert {s["run"] for s in tr.spans} == {"t"}
    assert tr.total_by_name([root["id"]])["a"] == 3.0


def test_patched_wraps_and_restores():
    class Target:
        @classmethod
        def make(cls, x):
            return ("made", x)

        def work(self, y):
            return y * 2

    tr = Tracer("t", probe=lambda: 10, settle=lambda mark, span: {"jobs": 15 - mark})
    original = Target.__dict__["work"]
    with tr.patched([(Target, "make", "tables.write"), (Target, "work", "layer.work")]):
        with tr.span("unit"):
            assert Target.make(1) == ("made", 1)
            assert Target().work(3) == 6
    assert Target.__dict__["work"] is original
    assert isinstance(Target.__dict__["make"], classmethod)
    assert [s["name"] for s in tr.spans] == ["unit", "tables.write", "layer.work"]
    assert all(s["counts"] == {"jobs": 5} for s in tr.spans)
    assert tr.counts_by_name([0], "jobs") == {"unit": 5, "tables.write": 5, "layer.work": 5}


def test_stage_spans_split_on_pipeline_checkpoints_only():
    from azure_databricks_lakehouse_spark.pipelines import training
    from perfbench.corpus import _stage_spans

    class Frame:
        def localCheckpoint(self, eager=False):
            return self

    def operator(frame):           # an operator's own checkpoint
        return frame.localCheckpoint(eager=True)

    def pipeline(frame, operator):  # two audited stages
        operator(frame).localCheckpoint(eager=True)
        frame.localCheckpoint(eager=True)

    # the same code, run with the pipeline module as its globals
    in_pipeline = types.FunctionType(pipeline.__code__, vars(training))
    tr = Tracer("t", clock=_Clock())
    original = Frame.__dict__["localCheckpoint"]
    with tr.span("unit") as root:
        with _stage_spans(tr, Frame) as closed:
            in_pipeline(Frame(), operator)
    assert Frame.__dict__["localCheckpoint"] is original
    assert len(closed) == 2
    kids = tr.children(root["id"])
    assert [k["name"] for k in kids] == ["operators.stage", "operators.stage", "operators.plan"]
    assert all(a["end"] <= b["start"] for a, b in zip(kids, kids[1:]))


def test_dump_writes_self_time(tmp_path):
    tr = Tracer("run-1", clock=_Clock())
    with tr.span("unit"):
        with tr.span("child"):
            pass
    out = tmp_path / "trace.json"
    tr.dump(str(out))
    data = json.loads(out.read_text())
    assert data["run"] == "run-1"
    assert [s["self_s"] for s in data["spans"]] == [2.0, 1.0]


# -- refuses to run without the engine ---------------------------------------------


def test_exits_nonzero_without_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "training_corpus",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
