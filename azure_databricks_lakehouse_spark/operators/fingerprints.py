"""Document fingerprinting by winnowing (the MOSS scheme).

Hash every character ``k``-gram, slide a ``w``-position window, keep each
window's minimum hash — the distinct minima are the document's
fingerprint set.  Any shared substring of length >= k+w-1 between two
documents is guaranteed to share a fingerprint, which makes this the
standard containment/plagiarism sketch (near-dup detection for *partial*
overlap, where set-Jaccard ops need full-document similarity).

Two hash backends, one semantics:

- ``hash="xxh"`` (default, production): ``xxhash64`` over each k-gram
  substring — JVM intrinsic, non-crypto, full 64-bit minima.  The 100 TB
  path: a cryptographic digest per character position is pure wasted CPU
  for a sketching job.
- ``hash="poly"``: the cross-engine Karp-Rabin fold from
  ``functions/hashing`` (base-31 Horner mod 2^16 over char codes), used
  by the oracle-compared query twin so DuckDB can verify fingerprints
  bit-for-bit.

Either way the operator is a pure projection — per-document array ops,
zero shuffle, no UDFs — so it scales linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from azure_databricks_lakehouse_spark.functions.hashing import (
    char_codes,
    poly_u16,
)


def _positions(n: Column) -> Column:
    """1..n as an array, EMPTY when n < 1.  ``F.sequence(lit(1), n)`` alone
    is not total: for n <= 0 it descends ``[1, 0, ...]`` and a downstream
    ``slice(codes, 0, k)`` throws.  The eligibility filter excludes such
    rows semantically, but pushed-down predicates (e.g. explode's implicit
    ``size > 0``) and codegen subexpression elimination can evaluate the
    fingerprint expression on filtered-out rows first — every expression
    here must be safe on ANY row."""
    return F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )


def winnow_fingerprints(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    hash: str = "xxh",
    max_len: int | None = None,
) -> DataFrame:
    """``(id_col, n_kgrams, fingerprints array<long>)`` per document with
    at least one full window (length >= k+w-1); shorter docs are dropped
    (they cannot carry a fingerprint).  ``max_len`` caps the fingerprinted
    prefix (see :func:`winnow_kgram_hashes` — set it on unbounded text).

    NOTE: downstream ``explode("fingerprints")`` is a pushdown hazard —
    use :func:`winnow_fingerprints_long` for join-shaped consumers (see
    its docstring)."""
    hashed = winnow_kgram_hashes(
        df, text_col=text_col, id_col=id_col, k=k, w=w, hash=hash, max_len=max_len
    )
    mins = F.transform(
        _positions(F.size("hs") - (w - 1)),
        lambda i: F.array_min(F.slice(F.col("hs"), i, w)),
    )
    return hashed.select(
        id_col,
        F.size("hs").alias("n_kgrams"),
        F.transform(
            F.array_sort(F.array_distinct(mins)), lambda x: x.cast("long")
        ).alias("fingerprints"),
    )


def winnow_fingerprints_long(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    hash: str = "xxh",
    max_len: int | None = None,
    cluster_by_fp: bool = False,
) -> DataFrame:
    """Long-format winnowing: distinct ``(id_col, fp)`` rows, one per
    fingerprint.  This is the join-ready shape — and, critically, the
    PUSHDOWN-SAFE one: exploding the array output of
    :func:`winnow_fingerprints` lets Catalyst push the generate's implicit
    ``size > 0`` filter below the projections, inlining the whole nested
    fingerprint expression (with the k-gram hash array re-derived per
    window position — quadratic per row).  Here the explode generates
    *positions* before any window-min is computed, so the hash array is
    evaluated O(1) times per row and each exploded position does O(w)
    work.  ``max_len`` caps the fingerprinted prefix (see
    :func:`winnow_kgram_hashes` — set it on unbounded text).

    ``cluster_by_fp`` hash-partitions the output by ``fp`` and FUSES that
    layout into the dedup shuffle itself: ``hash(fp)`` co-locates every
    ``(id, fp)`` duplicate, so the distinct needs no second exchange —
    one shuffle buys both.  Set it when the result feeds fp-keyed
    consumers (the overlap self-join, doc-frequency cull, decontamination
    probe): each such consumer then reads the table shuffle-free,
    especially when it is also persisted.  Leave it off for id-keyed or
    one-shot consumers — and note a pathological fingerprint distribution
    concentrates hot fps in few partitions (the doc-freq cull removes
    those rows AFTER this layout is built, so cull limits don't help
    here; winnowing's hash-min selection keeps real corpora near-uniform).
    """
    hs_df = winnow_kgram_hashes(
        df, text_col=text_col, id_col=id_col, k=k, w=w, hash=hash, max_len=max_len
    )
    long = hs_df.select(
        id_col,
        "hs",
        F.explode(_positions(F.size("hs") - (w - 1))).alias("i"),
    )
    fp = F.array_min(F.slice(F.col("hs"), F.col("i"), w))
    flat = long.select(id_col, fp.cast("long").alias("fp"))
    if cluster_by_fp:
        return flat.repartition("fp").dropDuplicates([id_col, "fp"])
    return flat.distinct()


def winnow_kgram_hashes(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    hash: str = "xxh",
    max_len: int | None = None,
) -> DataFrame:
    """``(id_col, hs array)`` of per-position k-gram hashes for documents
    long enough to winnow (shared by the array and long-format variants).

    ``max_len`` bounds the per-row hash array: the array is O(len(text))
    elements, so one 10 MB document materializes a 10M-element array in a
    single row — a row-size bomb at corpus scale.  With ``max_len`` set,
    only the first ``max_len`` characters are fingerprinted (MOSS
    sketches the head too — a sketch does not need the whole document;
    two documents sharing only content beyond the cap won't pair, which
    is the standard sketching trade).  Production pipelines over
    unbounded documents should ALWAYS set it; the oracle query twins
    leave it unset so the SQL stays the exact mirror."""
    txt = F.col(text_col)
    if max_len is not None:
        if max_len < k + w - 1:
            raise ValueError(
                f"max_len={max_len} is below one window (k+w-1={k + w - 1})"
            )
        txt = txt.substr(1, max_len)
    eligible = df.filter(F.length(txt) >= k + w - 1)
    if hash == "xxh":
        # materialize the normalized text BEFORE the k-gram lambda:
        # expressions inside a higher-order-function lambda body are
        # re-evaluated per element, so substr-ing the raw normalization
        # chain re-ran its regexes once per character position —
        # O(len²) regex work per document
        normed = eligible.select(id_col, txt.alias("__txt"))
        grams = F.transform(
            _positions(F.length("__txt") - (k - 1)),
            lambda i: F.col("__txt").substr(i, F.lit(k)),
        )
        return normed.select(
            id_col, F.transform(grams, lambda g: F.xxhash64(g)).alias("hs")
        )
    if hash == "poly":
        coded = eligible.select(id_col, char_codes(txt).alias("_codes"))
        return coded.select(
            id_col,
            F.transform(
                _positions(F.size("_codes") - (k - 1)),
                lambda i: poly_u16(F.slice(F.col("_codes"), i, k)),
            ).alias("hs"),
        )
    raise ValueError(f"unknown hash backend {hash!r} (use 'xxh' or 'poly')")


def materialize_fingerprint_table(
    docs: DataFrame,
    table_root: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    hash: str = "xxh",
    max_len: int | None = None,
):
    """Compute the long-format winnow fingerprints of ``docs`` and
    persist them as a versioned :class:`ParquetTable` at ``table_root``
    (created, or overwritten if present) — the STORED artifact a
    production pipeline shares across every fp-keyed consumer: the
    overlap self-join (:func:`fingerprint_overlap_pairs`), the
    incremental-dedup probe (:func:`dedup_batch_against_index`), and
    :func:`decontaminate`.  Computing fingerprints once and reading them
    many times beats any in-job cache at corpus scale: the table
    survives the job, serves N downstream jobs, and ages/compacts
    through the ordinary table maintenance surface (OPTIMIZE/VACUUM).

    The write preserves ``cluster_by_fp``'s hash(fp) file clustering
    (each file holds a slice of fingerprint space), so fp-keyed scans
    stay localized; returns the table handle."""
    from azure_databricks_lakehouse_spark.sources.tables import (
        ParquetTable,
        is_table,
    )

    flat = winnow_fingerprints_long(
        docs,
        text_col=text_col,
        id_col=id_col,
        k=k,
        w=w,
        hash=hash,
        max_len=max_len,
        cluster_by_fp=True,
    )
    spark = docs.sparkSession
    if is_table(table_root):
        tbl = ParquetTable.for_path(spark, table_root)
        tbl.overwrite(flat)
        return tbl
    return ParquetTable.create(spark, table_root, flat)


def fingerprint_overlap_pairs(
    flat: DataFrame,
    *,
    id_col: str = "doc_id",
    min_shared: int = 1,
    min_containment: float | None = None,
    max_doc_frac: float | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Candidate containment pairs: documents sharing >= ``min_shared``
    winnowing fingerprints.  Input is long format ``(id_col, fp)`` from
    :func:`winnow_fingerprints_long`.  Bucketed by fingerprint (self
    equi-join on the hash) — candidate count is bounded by per-fingerprint
    bucket sizes, never all-pairs.

    ``max_doc_frac`` / ``max_doc_freq`` drop fingerprints present in more
    than a fraction / an absolute number of documents BEFORE the pair
    join (MOSS's frequent-fingerprint cull): an ultra-common k-gram's
    bucket contributes O(bucket²) pairs and zero discriminative signal —
    at corpus scale these buckets are the quadratic bombs.  Prefer the
    ABSOLUTE cap when the expected duplicate-cluster size is known (a
    fingerprint in more docs than the largest real cluster is junk no
    matter how big the corpus gets — a fraction cap silently loosens as
    the corpus grows).  Fraction thresholds are computed in-plan (1-row
    count broadcast), no driver action.

    ``min_containment`` adds the MOSS containment score
    ``n_shared / min(|A|, |B|)`` (sizes counted after the cull) and
    filters on it.  Raw shared-count thresholds are corpus-dependent
    noise: common k-grams give unrelated documents a handful of shared
    fingerprints, so a count cut either misses short quotes or keeps
    near-all-pairs.  Containment normalizes by the smaller document and
    cleanly separates 'B quotes A' (score near 1) from vocabulary overlap
    (low score).

    ``flat`` is read up to four times (the cull, both self-join sides,
    the containment counts), so it is pinned once with an eager
    ``localCheckpoint``: every consumer scans the stored partitions
    instead of re-deriving the fingerprints (per-consumer column pruning
    otherwise defeats exchange reuse)."""
    flat = flat.localCheckpoint(eager=True)
    if max_doc_frac is not None or max_doc_freq is not None:
        if max_doc_freq is not None:
            flat = _cull_hot_fps(flat, max_doc_freq)
        else:
            doc_freq = flat.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
            total = flat.select(
                F.count_distinct(F.col(id_col)).alias("n_docs")
            )
            hot = (
                doc_freq.crossJoin(F.broadcast(total))
                .filter(F.col("df") > F.col("n_docs") * max_doc_frac)
                .select("fp")
            )
            flat = flat.join(F.broadcast(hot), "fp", "left_anti")
    a, b = flat.alias("a"), flat.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    if min_containment is None:
        return pairs
    counts = flat.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    na = counts.select(F.col(id_col).alias("doc_a"), F.col("n_fp").alias("n_a"))
    nb = counts.select(F.col(id_col).alias("doc_b"), F.col("n_fp").alias("n_b"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "containment", F.col("n_shared") / F.least("n_a", "n_b")
        )
        .filter(F.col("containment") >= min_containment)
        .select("doc_a", "doc_b", "n_shared", "containment")
    )


def _cull_hot_fps(flat: DataFrame, max_doc_freq: int) -> DataFrame:
    """MOSS frequent-fingerprint cull (absolute cap): drop rows whose
    ``fp`` occurs in more than ``max_doc_freq`` rows of ``flat``.
    Shared by the overlap join and decontamination so a future change
    (frac variant, audit counts) cannot silently diverge."""
    hot = (
        flat.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("fp")
    )
    return flat.join(F.broadcast(hot), "fp", "left_anti")


def dedup_batch_against_index(
    batch: DataFrame,
    index: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    hash: str = "xxh",
    max_len: int | None = None,
    min_containment: float = 0.5,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Ingestion-time incremental dedup: screen a new ``batch`` of
    documents against a PERSISTED corpus fingerprint ``index`` (long
    format ``(doc_id, fp)`` from :func:`winnow_fingerprints_long`,
    ideally written with ``cluster_by_fp=True``).

    ``materialize=True`` eagerly ``localCheckpoint``s the (small)
    rejection verdict so the index probe runs ONCE no matter how many of
    the returned frames are acted on — the right mode when ``kept`` and
    ``new_index_rows`` feed separate sinks (e.g. the streaming job);
    leave it off to keep everything one lazy plan.

    Returns ``(kept, rejected, new_index_rows)``:

    - ``rejected`` — ``(id_col, match_id, n_shared, containment)`` for
      batch documents whose fingerprint containment against some corpus
      document reaches ``min_containment`` (containment is normalized by
      the BATCH document's fingerprint count — "how much of the new doc
      already exists" — so no corpus-side size aggregation is ever
      needed).  One row per rejected doc: its best match (highest
      containment, ties to the smallest ``match_id`` for determinism).
    - ``kept`` — the surviving batch rows, original columns (documents
      too short to fingerprint survive trivially: no evidence, no
      rejection).
    - ``new_index_rows`` — the kept documents' ``(id_col, fp)`` rows,
      ready to ``append`` to the index table so the NEXT batch screens
      against them.

    Scale shape — the asymmetry mirrors :func:`decontaminate` but
    reversed: the index side is corpus-scale (100 TB of history), the
    batch is an ingestion increment.  Per-batch cost must be independent
    of corpus size, so the BATCH fingerprints are distinct-reduced and
    **broadcast**; the index is probed map-side (never shuffled, never
    re-fingerprinted — the documents' text is not even read).  Hit pairs
    (bounded by actual overlap) aggregate per (batch doc, corpus doc),
    and the verdict joins back to the batch by AQE's choice.  Re-running
    a pipeline this way turns corpus dedup from a per-run O(corpus)
    self-join into O(batch) probes + one index append.
    """
    batch_fps = winnow_fingerprints_long(
        batch, text_col=text_col, id_col=id_col, k=k, w=w, hash=hash,
        max_len=max_len,
    ).withColumnRenamed(id_col, "_batch_id")
    sizes = batch_fps.groupBy("_batch_id").agg(
        F.count(F.lit(1)).alias("_n_fp")
    )
    hits = (
        index.join(F.broadcast(batch_fps), "fp")
        .groupBy("_batch_id", F.col(id_col).alias("match_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    scored = (
        hits.join(F.broadcast(sizes), "_batch_id")
        .withColumn("containment", F.col("n_shared") / F.col("_n_fp"))
        .filter(F.col("containment") >= min_containment)
    )
    best = (
        scored.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("_batch_id").orderBy(
                    F.desc("containment"), "match_id"
                )
            ),
        )
        .filter(F.col("_rk") == 1)
        .select(
            F.col("_batch_id").alias(id_col),
            "match_id",
            "n_shared",
            "containment",
        )
    )
    if materialize:
        best = best.localCheckpoint(eager=True)
    kept = batch.join(
        best.select(F.col(id_col)), id_col, "left_anti"
    )
    new_index_rows = batch_fps.join(
        F.broadcast(best.select(F.col(id_col).alias("_batch_id"))),
        "_batch_id",
        "left_anti",
    ).select(F.col("_batch_id").alias(id_col), "fp")
    return kept, best, new_index_rows


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    hash: str = "xxh",
    min_shared: int = 1,
    max_len: int | None = None,
    max_fp_doc_freq: int | None = None,
    max_fp_doc_frac: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split ``corpus`` into ``(clean, contaminated)`` against a
    benchmark/eval set — the decontamination pass every training-data
    pipeline runs so the model is not trained on its own test questions.

    ``max_fp_doc_freq`` / ``max_fp_doc_frac`` drop benchmark
    fingerprints present in more than that many / that fraction of
    CORPUS documents before the verdict — the MOSS frequent-fingerprint
    cull applied to the probe set.  On boilerplate-heavy corpora
    (templated web pages, generated text) a benchmark's common 8-grams
    otherwise hit nearly every document and ``min_shared`` alone flags
    the whole corpus; a true quoted eval question still matches through
    its RARE fingerprints (a full quote carries one per winnow window).
    The frequency is computed from the probe's own hit stream — per-fp
    counts over rows that already matched — so the cull adds one bounded
    aggregation, not a corpus re-fingerprint.

    Which cap: the discriminator is that boilerplate scales WITH the
    corpus while a leaked question's page count does not — so the
    FRACTION cap is the scale-free choice for large corpora (boilerplate
    sits at percent-level document frequency, even mass-leaked eval
    questions at parts-per-million).  On SMALL corpora a fraction
    threshold degenerates (0.5% of 2,000 docs is 10 — below a real
    quote cluster); use the absolute cap there.  Either cap trades
    detection of fingerprints leaked beyond it; ``None`` disables.

    A corpus document is contaminated when it shares at least
    ``min_shared`` winnowing fingerprints with ANY benchmark document —
    the winnowing guarantee makes that an exact-substring detector: any
    verbatim overlap of length >= k+w-1 characters is caught regardless
    of what surrounds it (quoted questions inside larger pages included),
    which n-gram-Jaccard whole-document sketches miss by construction.

    Scale shape (the asymmetry is the whole design): the corpus side is
    100 TB, the benchmark side is a few thousand rows — so benchmark
    fingerprints are distinct-reduced and **broadcast**, the corpus
    fingerprint stream is probed map-side (no shuffle of corpus data),
    contaminated ids aggregate per document, and the verdict anti/semi
    joins back. The corpus is scanned twice (fingerprint probe + verdict
    join) and shuffled never; contaminated-id traffic is bounded by the
    corpus rows that actually hit the benchmark.

    Returns ``(clean, contaminated)`` frames with the corpus's original
    columns; ``contaminated`` gains ``n_hits`` = number of shared
    fingerprints (evidence strength, useful for audit thresholds).
    """
    corpus_fps = winnow_fingerprints_long(
        corpus, text_col=text_col, id_col=id_col, k=k, w=w, hash=hash,
        max_len=max_len,
    )
    bench_fps = (
        winnow_fingerprints_long(
            benchmark, text_col=text_col, id_col=id_col, k=k, w=w, hash=hash,
            max_len=max_len,
        )
        .select("fp")
        .distinct()
    )
    matched = corpus_fps.join(F.broadcast(bench_fps), "fp")
    if max_fp_doc_freq is not None or max_fp_doc_frac is not None:
        # materialize the hit stream once: the cull consumes it twice
        # (per-fp frequency + the anti-join), and without this the
        # corpus winnowing re-runs for the second consumer — matched is
        # bounded by corpus rows that actually hit the benchmark, so
        # the checkpoint is hit-sized, not corpus-sized
        matched = matched.localCheckpoint(eager=True)
        cap = max_fp_doc_freq
        if cap is None:
            # one id-column corpus count (the verdict join scans the
            # corpus anyway); ceil-ish: any fp above frac*n_docs is hot
            n_docs = corpus.select(
                F.count_distinct(F.col(id_col)).alias("n")
            ).first()["n"]
            cap = max(int(n_docs * max_fp_doc_frac), 1)
        matched = _cull_hot_fps(matched, cap)
    hits = (
        matched.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= min_shared)
    )
    # benchmark fps are broadcast by CONTRACT (eval sets are small); the
    # hits side is merely *usually* small — contamination can spike (a
    # benchmark leaked to the web), so leave the verdict join to AQE,
    # which broadcasts it at runtime when it measures small and falls
    # back to a shuffle join when it doesn't.
    contaminated = corpus.join(hits, id_col, "inner")
    clean = corpus.join(hits.select(id_col), id_col, "left_anti")
    return clean, contaminated
