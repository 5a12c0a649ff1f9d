"""End-to-end training-corpus preparation: the LLM-data medallion.

The reference's medallion (bronze→silver→gold) refines *claims* into
star-schema aggregates; this pipeline is the same refinement discipline
applied to a *pretraining corpus* — each stage is an operator this
engine already ships, composed in the order production pipelines run
them:

0. **boilerplate strip** (optional) — CCNet-style corpus-repeated-line
   removal (`operators/linedup`) before any scoring, so nav/footer
   text can't skew quality signals or glue near-dup pairs together.
1. **quality gate** — learned hashed-n-gram scorer when weights are
   supplied (`operators/quality`), else the q25-style stopword/length
   heuristics; optionally stacked with a CCNet-style LM perplexity cap
   (`operators/lm`) when a reference model is supplied.  Cheap
   projections first: cull before paying dedup.
2. **exact dedup** — md5 of normalized text, keep the smallest doc id
   per digest (hash-shuffle on the digest, q27's policy).
3. **fuzzy dedup** — winnowing fingerprints → bucketed containment
   pairs → connected components → keep each cluster's canonical member
   (q47/q51/q52's stack, via `operators/fingerprints` + `components`);
   optionally followed by exact repeated-SPAN removal
   (`operators/spandup`, ExactSubstr-style): shared passages below the
   containment threshold are cut out of every carrier instead of
   costing a whole document.
4. **decontamination** — drop documents sharing any winnowing
   fingerprint with the benchmark/eval set (broadcast probe,
   `operators/fingerprints.decontaminate`).
5. **PII redaction** — regex scrub in one codegen projection
   (`operators/redaction`), applied after dedup so scrubbing cannot
   split duplicate groups, and on the culled survivor set so it touches
   the fewest rows — then optional **domain-mixture reweighting**
   (`operators/mixture`): temperature or explicit weights, computed on
   the CLEAN corpus so dedup cannot eat the upsampled copies.
6. **deterministic shuffle + packing manifest** — optional
   sliding-window chunking first (`operators/chunking`: long documents
   become bounded overlapping windows, each its own packing unit), then
   reproducible pseudo-random order (`operators/shuffle`'s hash key as
   the packing order) and the concat-and-chunk sequence manifest
   (`operators/packing`, distributed prefix sum).

Every stage is DataFrame-native (zero UDFs); nothing here collects
corpus-sized data to the driver.  Stage order is itself the scale
decision: projections before shuffles, shuffles on reduced sets,
broadcast probes for the asymmetric joins.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.functions.text import norm_text
from azure_databricks_lakehouse_spark.operators.bpe import _PRETOKEN_RE
from azure_databricks_lakehouse_spark.operators.components import dedup_clusters
from azure_databricks_lakehouse_spark.operators.fingerprints import (
    decontaminate,
    fingerprint_overlap_pairs,
    winnow_fingerprints_long,
)
from azure_databricks_lakehouse_spark.operators.packing import pack_manifest
from azure_databricks_lakehouse_spark.operators.quality import score_quality
from azure_databricks_lakehouse_spark.operators.redaction import redact

_STOPWORDS = (
    "the", "of", "and", "a", "to", "in", "is", "it", "that", "for",
)


@dataclass
class TrainingCorpus:
    """Result of :func:`prepare_training_corpus`."""

    corpus: DataFrame          # surviving documents, redacted text
    manifest: DataFrame        # packing manifest over the shuffled order
    audit: dict = field(default_factory=dict)  # stage -> surviving rows


def _heuristic_quality(text: F.Column) -> F.Column:
    toks = F.split(norm_text(text), " ")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    return (
        (F.length(text) >= 50)
        & (n_tok >= 10)
        & ((n_stop / n_tok.cast("double")) >= 0.05)
    )


def prepare_training_corpus(
    docs: DataFrame,
    *,
    benchmark: DataFrame | None = None,
    quality_weights: DataFrame | None = None,
    perplexity_lm=None,
    max_log2_ppl: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_threshold: float = 0.5,
    min_quality_grams: int = 5,
    k: int = 8,
    w: int = 4,
    min_containment: float = 0.5,
    decontaminate_min_shared: int = 2,
    decontaminate_max_fp_doc_frac: float | None = 0.005,
    max_doc_freq: int | None = 50,
    max_len: int | None = None,
    cc_algorithm: str = "star",
    span_dedup_tokens: int | None = None,
    span_dedup_min_count: int = 2,
    embeddings: DataFrame | None = None,
    embedding_col: str = "emb",
    semantic_threshold: float = 0.95,
    semantic_k: int = 16,
    url_col: str | None = None,
    url_blocklist: tuple | list | DataFrame = (),
    url_allowlist: tuple | list = (),
    max_docs_per_domain: int | None = None,
    c4_rules: bool = False,
    c4_min_words_per_line: int = 3,
    c4_min_sentences: int = 5,
    c4_bad_words: list | None = None,
    boilerplate_min_count: int | None = None,
    boilerplate_min_line_chars: int = 10,
    chunk_tokens: int | None = None,
    chunk_stride: int | None = None,
    dsir_target: DataFrame | None = None,
    dsir_k: int | None = None,
    dsir_dim: int = 4096,
    dsir_seed: int = 0,
    domain_col: str | None = None,
    mixture_temperature: float | None = None,
    mixture_weights: dict | None = None,
    mixture_max_epochs: float = 10.0,
    seq_capacity: int = 2048,
    shuffle_seed: int = 0,
    audit: bool = True,
) -> TrainingCorpus:
    """Run the full quality→dedup→decontaminate→redact→pack pipeline.

    ``audit=True`` materializes each stage (``localCheckpoint``) and
    counts its survivors — without the checkpoint, every count would
    re-execute the whole pipeline prefix and the final actions would
    recompute every stage once more (O(stages²) corpus scans).  The
    materialization is the cost of observability; set ``audit=False``
    for pure-throughput runs, where the pipeline stays one lazy plan."""
    stages: dict[str, int] = {}

    def _note(name: str, frame: DataFrame) -> DataFrame:
        if audit:
            frame = frame.localCheckpoint(eager=True)
            stages[name] = frame.count()
        return frame

    if audit:
        stages["input"] = docs.count()

    # -1. optional URL/domain gate (`operators/urlfilter`, the C4/
    # RefinedWeb front gate): provenance-based culls run FIRST — they
    # are the cheapest per row (one projection + a broadcast-join
    # probe) and everything they remove is work every later stage
    # never pays for.
    if url_col is not None:
        from azure_databricks_lakehouse_spark.operators.urlfilter import (
            filter_urls,
        )

        docs = filter_urls(
            docs,
            url_col=url_col,
            id_col=id_col,
            blocklist=url_blocklist,
            allowlist=url_allowlist,
            max_docs_per_domain=max_docs_per_domain,
            seed=shuffle_seed,
        ).kept
        docs = _note("url_filter", docs)

    # -0.5. optional C4 page cleaning (`operators/c4`, Raffel et al.
    # 2020 §2.2): line rules rewrite the text in place and page rules
    # drop code/placeholder/policy pages.  Runs right after the URL
    # gate — it is a zero-shuffle projection, and every page it drops
    # (and every boilerplate line it strips) is bytes no later stage
    # tokenizes, hashes, or shuffles.
    if c4_rules:
        from azure_databricks_lakehouse_spark.operators.c4 import c4_clean

        docs = c4_clean(
            docs,
            id_col=id_col,
            text_col=text_col,
            min_words_per_line=c4_min_words_per_line,
            min_sentences=c4_min_sentences,
            bad_words=c4_bad_words,
        ).kept
        docs = _note("c4_rules", docs)

    # 0. optional CCNet boilerplate strip (`operators/linedup`):
    # corpus-repeated lines (nav bars, cookie banners, footers) are
    # removed BEFORE quality scoring and dedup — footer text otherwise
    # skews stopword/perplexity signals and holds near-dup pairs
    # together through their shared boilerplate rather than their
    # content.  Documents that were ALL boilerplate drop here.
    if boilerplate_min_count is not None:
        from azure_databricks_lakehouse_spark.operators.linedup import (
            remove_duplicate_lines,
        )

        docs = remove_duplicate_lines(
            docs,
            text_col=text_col,
            id_col=id_col,
            min_count=boilerplate_min_count,
            min_line_chars=boilerplate_min_line_chars,
        ).drop("n_lines_removed")
        docs = _note("line_dedup", docs)

    # 1. quality gate.  The learned path ALSO requires min_quality_grams
    # n-grams: gram-less documents (empty/NULL/single-word) score exactly
    # the 0.5 prior, and a >= 0.5 threshold alone would pass them —
    # silently dropping the heuristic path's minimum-length guard.
    if quality_weights is not None:
        scores = score_quality(
            docs, quality_weights, text_col=text_col, id_col=id_col
        ).select(id_col, "quality_score", "n_grams")
        kept = (
            docs.join(scores, id_col)
            .filter(
                (F.col("n_grams") >= min_quality_grams)
                & (F.col("quality_score") >= quality_threshold)
            )
            .drop("quality_score", "n_grams")
        )
    else:
        kept = docs.filter(_heuristic_quality(F.col(text_col)))
    kept = _note("quality", kept)

    # 1b. optional LM perplexity cap (CCNet's signal): cull documents
    # the reference-domain model finds too surprising.  NULL-scored
    # documents (< 2 tokens) pass through — the length gates above own
    # that case; a fake number here would double-judge them.
    if perplexity_lm is not None:
        if max_log2_ppl is None:
            raise ValueError("perplexity_lm requires max_log2_ppl")
        from azure_databricks_lakehouse_spark.operators.lm import (
            score_perplexity,
        )

        ppl = score_perplexity(
            kept, perplexity_lm, text_col=text_col, id_col=id_col
        ).select(id_col, "log2_ppl")
        kept = (
            kept.join(ppl, id_col)
            .filter(
                F.col("log2_ppl").isNull()
                | (F.col("log2_ppl") <= F.lit(max_log2_ppl))
            )
            .drop("log2_ppl")
        )
        kept = _note("perplexity", kept)

    # 2. exact dedup (digest of normalized text, keep min id)
    digested = kept.withColumn("_digest", F.md5(norm_text(text_col)))
    canon = digested.groupBy("_digest").agg(F.min(id_col).alias(id_col))
    kept = digested.join(canon, [id_col, "_digest"], "left_semi").drop("_digest")
    kept = _note("exact_dedup", kept)

    # 3. fuzzy dedup: containment pairs -> clusters -> canonical member
    flat = winnow_fingerprints_long(
        kept, text_col=text_col, id_col=id_col, k=k, w=w, max_len=max_len,
        cluster_by_fp=True,
    )
    pairs = fingerprint_overlap_pairs(
        flat,
        id_col=id_col,
        min_shared=2,
        min_containment=min_containment,
        max_doc_freq=max_doc_freq,
    )
    # star algorithm by default: containment chains (v1 quotes v2 quotes
    # v3 ...) give label propagation diameter-many rounds and a
    # ConvergenceError past max_iter; large-star/small-star closes any
    # diameter in O(log n) rounds.  The stage costs a fixed handful of
    # Spark jobs: the pair join pins the fingerprint table once, the star
    # loop stops at its first star-forest round (dup clusters of 2-3
    # docs are usually one round), and `losers` never reads
    # `cluster_size`, so its window is pruned from the plan.  No
    # checkpoint is added here: each one in this function ends an
    # audited stage.
    clusters = dedup_clusters(
        pairs.select("doc_a", "doc_b"), algorithm=cc_algorithm
    )
    losers = clusters.filter(F.col("doc_id") != F.col("canonical_id")).select(
        F.col("doc_id").alias(id_col)
    )
    kept = kept.join(losers, id_col, "left_anti")
    kept = _note("fuzzy_dedup", kept)

    # 3b. optional exact repeated-SPAN removal (`operators/spandup`,
    # ExactSubstr-style): surviving documents can still share long
    # passages below the fuzzy-dedup containment threshold — remove the
    # passages themselves rather than either document.  Runs after
    # document-level dedup (whole near-dups are already gone, so spans
    # here are genuine partial overlaps) and before decontamination and
    # redaction so every downstream stage sees the final text.
    # Documents reduced to nothing but repeated spans are culled.
    if span_dedup_tokens is not None:
        from azure_databricks_lakehouse_spark.operators.spandup import (
            remove_repeated_spans,
        )

        kept = (
            remove_repeated_spans(
                kept,
                text_col=text_col,
                id_col=id_col,
                span_tokens=span_dedup_tokens,
                min_count=span_dedup_min_count,
                max_len=max_len,
            )
            .filter(F.length(F.col(text_col)) > 0)
            .drop("n_tokens_removed", "n_spans_removed")
        )
        kept = _note("span_dedup", kept)

    # 3c. optional SemDeDup (`operators/semdedup`): clustering-based
    # semantic dedup over a document-embedding table — catches
    # paraphrase-level duplicates the fingerprint stages cannot see.
    # Runs after the text-level dedups (cheaper stages first, and an
    # exact copy should be charged to exact-dedup in the audit, not
    # here); only embeddings of still-surviving documents participate.
    if embeddings is not None:
        from azure_databricks_lakehouse_spark.operators.semdedup import (
            semantic_dedup,
        )

        live_embs = embeddings.join(
            kept.select(id_col), on=id_col, how="semi"
        )
        sem = semantic_dedup(
            live_embs,
            k=semantic_k,
            threshold=semantic_threshold,
            id_col=id_col,
            emb_col=embedding_col,
        )
        kept = kept.join(
            sem.removed.select(F.col("removed_id").alias(id_col)),
            on=id_col,
            how="anti",
        )
        kept = _note("semantic_dedup", kept)

    # 4. decontamination vs the benchmark/eval set
    # min_shared=2 by default: at k=8 a single shared fingerprint can be
    # one common English 8-gram (" in the "); a real quoted eval question
    # shares a fingerprint per winnow window of the quote, so 2 is still
    # far below what true contamination produces
    if benchmark is not None:
        # the fp-frequency cull matters on templated corpora: common
        # 8-grams otherwise connect the benchmark to nearly every doc.
        # the FRACTION cap is the scale-free default: boilerplate sits at
        # percent-level doc frequency at any corpus size, while even a
        # mass-leaked eval question is parts-per-million of a real
        # corpus — so 0.5% culls the former and never the latter (see
        # the trade discussion in `decontaminate`'s docstring; pass
        # None to disable)
        kept, _contaminated = decontaminate(
            kept, benchmark, text_col=text_col, id_col=id_col, k=k, w=w,
            min_shared=decontaminate_min_shared, max_len=max_len,
            max_fp_doc_frac=decontaminate_max_fp_doc_frac,
        )
        kept = _note("decontaminate", kept)

    # 4b. optional DSIR importance resampling (`operators/dsir`, Xie et
    # al. 2023): steer the cleaned pool toward a target distribution by
    # Gumbel-top-k sampling ∝ exp(log-likelihood ratio).  Runs AFTER
    # dedup/decontamination (duplicate clusters would otherwise inflate
    # their own selection odds) and BEFORE redaction/packing so the
    # expensive tail stages only touch selected documents.
    if dsir_target is not None and dsir_k is not None:
        from azure_databricks_lakehouse_spark.operators.dsir import (
            fit_importance,
            importance_resample,
        )

        model = fit_importance(
            dsir_target, kept, text_col=text_col, dim=dsir_dim
        )
        kept = importance_resample(
            kept, model, dsir_k, id_col=id_col, text_col=text_col,
            seed=dsir_seed,
        ).drop("importance")
        kept = _note("dsir_select", kept)

    # 5. PII redaction (audit columns dropped from the corpus payload)
    scrubbed = redact(kept, text_col=text_col, audit=False)

    # 5b. optional domain-mixture reweighting (GPT-3/Pile/LLaMA recipe):
    # applied AFTER dedup/decontamination (rates must reflect the clean
    # corpus, and upsampled copies must not look like duplicates to the
    # dedup stages) and BEFORE shuffle+pack so every epoch copy gets its
    # own position in the training order.
    if domain_col is not None and (
        mixture_temperature is not None or mixture_weights is not None
    ):
        from azure_databricks_lakehouse_spark.operators.mixture import (
            mix_corpus,
        )

        scrubbed, _plan = mix_corpus(
            scrubbed,
            domain_col,
            id_col=id_col,
            temperature=(
                1.0 if mixture_temperature is None else mixture_temperature
            ),
            weights=mixture_weights,
            max_epochs=mixture_max_epochs,
        )
        scrubbed = _note("mixture", scrubbed)
    else:
        scrubbed = scrubbed.withColumn("_epoch", F.lit(1))

    # 5c. optional sliding-window chunking (`operators/chunking`): split
    # long documents into model-sized overlapping windows so the packing
    # units are bounded — applied LAST in the content path (after
    # redaction, on the final epoch-replicated set) so every window
    # inherits clean text, and before shuffle+pack so each window gets
    # its own position in the training order.  The corpus unit becomes
    # (id, chunk_id, _epoch); non-text columns replicate onto windows.
    unit_cols = [id_col, "_epoch"]
    if chunk_tokens is not None:
        from azure_databricks_lakehouse_spark.operators.chunking import (
            chunk_documents,
        )

        carried = [c for c in scrubbed.columns if c not in (id_col, text_col)]
        scrubbed = chunk_documents(
            scrubbed,
            text_col=text_col,
            id_col=id_col,
            chunk_tokens=chunk_tokens,
            stride=chunk_stride,
            keep_cols=carried,
        ).withColumnRenamed("chunk_text", text_col)
        unit_cols = [id_col, "chunk_id", "_epoch"]
        scrubbed = _note("chunking", scrubbed)

    # 6. deterministic shuffle order + packing manifest (_epoch — and
    # chunk_id when chunking — are part of the shuffle key so repeated
    # copies and sibling windows spread through the training order
    # instead of sitting adjacent)
    shuffled = scrubbed.withColumn(
        "_order",
        F.xxhash64(F.lit(shuffle_seed), *[F.col(c) for c in unit_cols]),
    )
    n_tokens = F.size(
        F.regexp_extract_all(
            norm_text(text_col),
            F.lit(_PRETOKEN_RE),
            0,
        )
    )
    manifest = pack_manifest(
        shuffled.select(
            *unit_cols, "_order", n_tokens.alias("n_tokens")
        ),
        token_col="n_tokens",
        order_col="_order",
        capacity=seq_capacity,
        keep_cols=unit_cols,
    ).select(
        *unit_cols,
        "n_tokens",
        "start_offset",
        "start_seq",
        "end_seq",
        "offset_in_seq",
    )
    return TrainingCorpus(corpus=scrubbed, manifest=manifest, audit=stages)
