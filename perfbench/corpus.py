"""``training_corpus``: full passes of ``prepare_training_corpus``.

Timed unit: one pass (fuzzy dedup plus decontamination against a
seeded benchmark slice) whose corpus and packing manifest are consumed
by order-insensitive checksum aggregates, the sink.  The pass runs with
``audit=True``: each stage is materialized once and its survivors
counted.  With ``audit=False`` the eager steps inside fuzzy dedup and
decontamination each recompute the lazy stages before them, which
makes a pass about twice as slow on these inputs.

Traced units make the same call.  The pipeline ends each audited stage
with an eager ``localCheckpoint``; for the length of the call
that method is wrapped so that each checkpoint made by the pipeline
module closes one span and opens the next (see :func:`_stage_spans`).
Redaction and packing are lazy inside the call and run in the sink, so
their spans are the two checksum aggregates.
"""

from __future__ import annotations

import sys
from contextlib import contextmanager, nullcontext

from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.pipelines import training

from perfbench import gen

STAGES = ("quality", "exact_dedup", "fuzzy_dedup", "decontaminate", "redact", "pack")


def _checksum(df, cols: list[str]) -> tuple[int, int]:
    row = df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).first()
    return int(row[0]), int(row[1] or 0)


@contextmanager
def _stage_spans(tracer, frame_cls: type):
    """Tile a ``prepare_training_corpus(audit=True)`` call with spans.

    Every ``localCheckpoint`` called from the pipeline module itself
    ends an audited stage: it closes the open span and opens the next.
    Checkpoints the operators make inside a stage are left alone.  The
    block yields the closed spans in order, for the caller to name
    after the stages of the returned audit; the span still open when
    the call returns is named ``operators.plan``.  The survivor count
    the pipeline takes after each checkpoint falls into the span that
    follows it: the first span holds the count of the cached input, and
    ``operators.plan`` the last stage's count and the building of the
    lazy redaction and packing plans.  ``frame_cls`` is the concrete
    class of the pipeline's frames (the classic and Connect DataFrames
    each define the method).
    """
    original = frame_cls.localCheckpoint
    opened: list[tuple] = []
    closed: list[dict] = []

    def begin() -> None:
        cm = tracer.span("operators.stage")
        opened.append((cm, cm.__enter__()))

    def end() -> dict:
        cm, rec = opened.pop()
        cm.__exit__(None, None, None)
        return rec

    def checkpoint(df, *args, **kwargs):
        out = original(df, *args, **kwargs)
        if sys._getframe(1).f_globals is vars(training):
            closed.append(end())
            begin()
        return out

    frame_cls.localCheckpoint = checkpoint
    begin()
    try:
        yield closed
    finally:
        frame_cls.localCheckpoint = original
        end()["name"] = "operators.plan"


class TrainingCorpus:
    name = "training_corpus"
    n_setups = 3
    min_units = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.data = gen.corpus(seed)
        self.rows_per_unit = len(self.data.docs)
        self.problems: list[str] = []
        self.first: tuple | None = None   # (audit, corpus sum, manifest sum)
        self.first_corpus = None

    def setup(self, k: int) -> None:
        """Load the corpus and benchmark slice into cached frames."""
        spark = self.spark
        if k:
            self.docs.unpersist()
            self.bench.unpersist()
        self.docs = spark.createDataFrame(
            self.data.docs, "doc_id long, text string, lang string, source string, n_chars long"
        ).cache()
        self.bench = spark.createDataFrame(self.data.benchmark, "doc_id long, text string").cache()
        self.docs.count()
        self.bench.count()

    def prepare(self, i: int):
        return None

    def unit(self, _prepared, tracer=None) -> bool:
        span = tracer.span if tracer else (lambda name: nullcontext())
        with _stage_spans(tracer, type(self.docs)) if tracer else nullcontext([]) as stage_spans:
            tc = training.prepare_training_corpus(self.docs, benchmark=self.bench, audit=True)
        if tracer is not None:
            stages = [s for s in tc.audit if s != "input"]
            if len(stages) != len(stage_spans):
                self.problems.append(f"{len(stage_spans)} stage checkpoints for stages {stages}")
                return False
            for rec, stage in zip(stage_spans, stages):
                rec["name"] = f"operators.{stage}"
        with span("operators.redact"):
            corpus_sum = _checksum(tc.corpus, ["doc_id", "text", "_epoch"])
        with span("operators.pack"):
            manifest_sum = _checksum(tc.manifest, list(tc.manifest.columns))
        self.survivors = tc.audit["decontaminate"]
        result = (tc.audit, corpus_sum, manifest_sum)
        if self.first is None:
            self.first, self.first_corpus = result, tc.corpus
        elif result != self.first:
            self.problems.append(f"pass output {result} differs from first pass {self.first}")
            return False
        return True

    def _check_survivors(self) -> None:
        """Generator-side facts the first pass must honour: no two
        survivors had the same input text, and no document whose text
        the benchmark slice quotes survives."""
        original = {d[0]: d[1] for d in self.data.docs}
        texts = [original[r[0]] for r in self.first_corpus.select("doc_id").collect()]
        if len(texts) != len(set(texts)):
            self.problems.append("exact duplicates survived")
        quoted = {t for _i, t in self.data.benchmark}
        if quoted & set(texts):
            self.problems.append("benchmark-quoted documents survived")
        if not 0 < len(texts) < len(original):
            self.problems.append(f"implausible survivor count {len(texts)}")

    def trace_targets(self) -> list[tuple]:
        return []

    def verify(self) -> bool:
        if self.first_corpus is not None:
            self._check_survivors()
        return not self.problems

    def layer_metrics(self, tracer, roots: list[int]) -> dict:
        unit_s = sum(tracer.spans[r]["end"] - tracer.spans[r]["start"] for r in roots)
        total = tracer.total_by_name(roots)
        jobs = tracer.counts_by_name(roots, "jobs")
        out = {
            f"operators.{s}_share": (100.0 * total.get(f"operators.{s}", 0.0) / unit_s, "%")
            for s in STAGES
        }
        out["operators.survivors"] = (self.survivors, "count")
        out["operators.jobs"] = (
            sum(v for k, v in jobs.items() if k.startswith("operators.")) / len(roots), "count"
        )
        return out
