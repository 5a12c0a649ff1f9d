"""Fuzzy/exact document deduplication (LLM-pipeline surface).

Three dedup families over ``documents``, each fully oracle-checked:

- **Exact dedup** (q27): md5 fingerprint of normalized text → cluster,
  canonical id = min(doc_id).  One hash-shuffle on the fingerprint — the
  minimum for exact dedup at any scale.
- **MinHash-banded LSH + n-gram Jaccard verify** (q28): 3-token shingles →
  one ``md5`` per shingle whose eight 4-hex-char slices are eight
  independent minhash functions → 4 bands of r=2 rows (band key =
  concat of two slice-minima; collision probability J², which keeps
  buckets small even when a popular shingle carries the minimal hash)
  → candidate pairs join **on band keys only** (never all-pairs) → exact
  Jaccard on shingle sets filters to ≥ 0.5.  The band join is the LSH
  guarantee: candidate volume is driven by true similarity, and the plan
  contains no cartesian product.  All hashing is ``md5`` on strings —
  bit-identical in Spark and DuckDB, so the oracle verifies the *entire*
  approximate pipeline, not just the final filter.
- **SimHash** (q29): 16-bit portable simhash — per-token hash from the
  first 4 hex chars of ``md5(token)`` decoded via ``strpos`` nibble
  arithmetic (no engine-specific bit intrinsics), per-bit signed sums,
  sign → fingerprint.  Hamming-near docs land on equal/close fingerprints.

The corpus has no duplicates (500/500 distinct texts), so each query
first derives a variant corpus — exact copies for ``doc_id % 13 == 0``,
head-truncated near-copies for ``doc_id % 11 == 0`` — with identical
expressions in both engines.

Scale notes: shingling/minhashing is a pure projection.  The LSH
candidate join shuffles on (band, minhash) — skew only if a band key is
degenerate (e.g. empty docs; the corpus min length is 10 tokens).  The
Jaccard verify joins shingle arrays only for candidate pairs; at 100 TB
you would swap the array-intersect for a grouped count over exploded
(pair, shingle) rows, which is the same shuffle key.  SimHash is explode
→ one hash aggregate with map-side partial sums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.functions.text import norm_text
from azure_databricks_lakehouse_spark.functions.hashing import (
    char_codes_sql,
    md5_u16,
    md5_u16_sql,
    poly_u16_sql,
)
from azure_databricks_lakehouse_spark.operators.components import dedup_clusters
from azure_databricks_lakehouse_spark.operators.fingerprints import (
    fingerprint_overlap_pairs,
    winnow_fingerprints,
    winnow_fingerprints_long,
)
from azure_databricks_lakehouse_spark.queries import QuerySpec
from azure_databricks_lakehouse_spark.sources.catalog import bind, spread

_N_BANDS = 4
_JACCARD_MIN = 0.5
_SIM_BITS = 16


def _norm(col: Column) -> Column:
    # Spark side of the oracle-mirrored normalization: delegates to the
    # SHARED helper so it can never diverge from BPE/quality/training
    # (the SQL twin keeps its literal expression — the oracle gate then
    # verifies the two stay semantically identical)
    return norm_text(col)


def _variant_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies (%13) ∪ head-truncated near-copies (%11).

    The scan is spread before the normalization projection (round 12):
    ``documents`` is one single-row-group file, so everything Catalyst
    keeps below the first exchange — the norm regex here plus each
    consumer's shingle/simhash/winnow hashing — otherwise runs in ONE
    task (``catalog.spread``; a no-op on real multi-file tables)."""
    t = bind(spark, sf_dir, "documents")
    base = spread(t["documents"].select("doc_id", "text"), "doc_id").select(
        "doc_id", _norm(F.col("text")).alias("text")
    )
    exact = base.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    toks = F.split(F.col("text"), " ")
    near = base.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(F.slice(toks, 4, F.size(toks) - 3), " ").alias("text"),
    )
    return base.unionByName(exact).unionByName(near)


_CORPUS_SQL = """
WITH base AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS text
  FROM documents
),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 100000, text FROM base WHERE doc_id % 13 = 0
  UNION ALL
  SELECT doc_id + 200000,
         array_to_string(
           list_slice(string_split(text, ' '), 4, len(string_split(text, ' '))),
           ' ')
  FROM base WHERE doc_id % 11 = 0
)
"""


# --- q27: exact dedup at document AND line granularity ---------------------
# Line parts run over a synthetic multi-line page corpus: each document
# plus two per-source boilerplate footer lines — the CCNet scenario
# (per-site navigation/footer text repeated across otherwise-distinct
# pages) that whole-document dedup cannot touch.
_LINE_MIN_COUNT = 5
_LINE_MIN_CHARS = 10
_SPAN_TOKENS = 8


def _page_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = bind(spark, sf_dir, "documents")
    # spread before the page concat: the consumers' line explodes and
    # per-line md5 keys otherwise run in the single-file scan's ONE task
    return spread(t["documents"].select("doc_id", "text", "source"), "doc_id").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.concat(
                F.lit("(c) 2026 "), F.col("source"), F.lit(" all rights reserved")
            ),
            F.concat(F.lit("contact: admin@"), F.col("source"), F.lit(".example.com")),
        ).alias("text"),
    )


_PAGES_SQL = """
pages AS (
  SELECT doc_id,
         text || chr(10) || '(c) 2026 ' || source || ' all rights reserved'
              || chr(10) || 'contact: admin@' || source || '.example.com' AS text
  FROM documents
)
"""


def q27_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a tagged union across three granularities (round-6
    corpus consolidation under the driver's 50-query budget):

    - ``part='doc'``: md5-fingerprint clusters over the variant corpus
      (the original q27 — one hash-shuffle on the fingerprint);
    - ``part='line'``: corpus-repeated boilerplate lines from
      ``operators/linedup.repeated_lines`` over the page corpus, shaped
      as line-granularity dedup clusters (fingerprint = normalized line
      key, members = the pages carrying the line);
    - ``part='line_rebuilt'``: the full ``remove_duplicate_lines``
      output per page, pinned by fingerprint = md5 of the reassembled
      text — a byte-exact oracle check of boilerplate stripping AND
      in-order reassembly (n_copies carries n_lines_removed);
    - ``part='span_rebuilt'``: ``operators/spandup.remove_repeated_spans``
      over the variant corpus (span_tokens={span}), pinned the same way
      (n_copies carries n_tokens_removed) — the exact copies rebuild
      empty, the head-truncated near-copies lose their shared run.  The
      engine keys windows by xxhash64; the oracle re-derives removal
      from the window TEXT with a gaps-and-islands interval merge, so
      the comparison also proves the hash keying loses nothing.
    """.format(span=_SPAN_TOKENS)
    from azure_databricks_lakehouse_spark.operators.linedup import (
        _line_key,
        remove_duplicate_lines,
        repeated_lines,
    )
    from azure_databricks_lakehouse_spark.operators.spandup import (
        remove_repeated_spans,
    )

    # corpus feeds FOUR reads (doc_part + remove_repeated_spans' window
    # aggregate, start marks, and final rebuild join); pages feeds THREE
    # post-boiler (line keys + remove_duplicate_lines' lines and totals).
    # Spark plans shared subtrees once PER CONSUMER — only the spread
    # exchange's subtree is reused — so the normalization regex and the
    # variant/page unions re-ran ~4x/3x.  Materialize each once (§5,
    # round 13); a production pipeline persists the normalized corpus
    # before fanning out the same way (cost one corpus write, saves
    # consumers-1 derivation passes).
    corpus = _variant_corpus(spark, sf_dir).localCheckpoint()
    doc_part = (
        corpus.select("doc_id", F.md5("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
            # '|'-joined sorted string rather than array<bigint>: the
            # driver canonicalizer sorts output frames and list cells are
            # unhashable in pandas.
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                "|",
            ).alias("member_ids"),
        )
        .filter(F.col("n_copies") > 1)
        .select(F.lit("doc").alias("part"), "*")
    )

    pages = _page_corpus(spark, sf_dir).localCheckpoint()
    # the boilerplate set feeds BOTH the line_part join and the
    # rebuilt-text strip below — materialize the (line_key, count)
    # frame once (it is the repeated-line set, tiny at any scale)
    # instead of exploding+aggregating the page corpus per consumer
    boiler = repeated_lines(
        pages, min_count=_LINE_MIN_COUNT, min_line_chars=_LINE_MIN_CHARS
    ).localCheckpoint()
    keyed = (
        pages.select(
            "doc_id",
            F.explode(F.split(F.col("text"), r"\n")).alias("__line"),
        )
        .filter(F.length(F.trim(F.col("__line"))) >= _LINE_MIN_CHARS)
        .select("doc_id", _line_key(F.col("__line")).alias("line_key"))
    )
    line_part = (
        keyed.join(boiler, "line_key")
        .groupBy("line_key", "n_occurrences")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_set("doc_id")),
                    lambda x: x.cast("string"),
                ),
                "|",
            ).alias("member_ids"),
        )
        .select(
            F.lit("line").alias("part"),
            F.col("line_key").alias("fingerprint"),
            "canonical_id",
            F.col("n_occurrences").alias("n_copies"),
            "member_ids",
        )
    )

    rebuilt_part = remove_duplicate_lines(
        pages, min_count=_LINE_MIN_COUNT, min_line_chars=_LINE_MIN_CHARS,
        boiler=boiler,
    ).select(
        F.lit("line_rebuilt").alias("part"),
        F.md5("text").alias("fingerprint"),
        F.col("doc_id").alias("canonical_id"),
        F.col("n_lines_removed").cast("long").alias("n_copies"),
        F.col("doc_id").cast("string").alias("member_ids"),
    )

    span_part = remove_repeated_spans(
        corpus, span_tokens=_SPAN_TOKENS, min_count=2
    ).select(
        F.lit("span_rebuilt").alias("part"),
        F.md5("text").alias("fingerprint"),
        F.col("doc_id").alias("canonical_id"),
        F.col("n_tokens_removed").alias("n_copies"),
        F.col("doc_id").cast("string").alias("member_ids"),
    )

    return (
        doc_part.unionByName(line_part)
        .unionByName(rebuilt_part)
        .unionByName(span_part)
    )


_Q27_SQL = f"""
{_CORPUS_SQL},
{_PAGES_SQL.strip()},
plines AS (
  SELECT doc_id,
         unnest(range(0, len(string_split(text, chr(10))))) AS pos,
         unnest(string_split(text, chr(10))) AS line,
         len(string_split(text, chr(10))) AS n_total
  FROM pages
),
keyed AS (
  SELECT doc_id, pos, line, n_total,
         CASE WHEN length(trim(line)) >= {_LINE_MIN_CHARS}
              THEN md5(regexp_replace(trim(lower(line)), '\\s+', ' ', 'g'))
         END AS key
  FROM plines
),
line_part AS (
  SELECT key AS fingerprint,
         MIN(doc_id) AS canonical_id,
         COUNT(*) AS n_copies,
         array_to_string(list_sort(list(DISTINCT doc_id)), '|') AS member_ids
  FROM keyed
  WHERE key IS NOT NULL
  GROUP BY key
  HAVING COUNT(*) >= {_LINE_MIN_COUNT}
),
survivors AS (
  SELECT k.doc_id, k.pos, k.line, k.n_total
  FROM keyed k
  ANTI JOIN line_part b ON k.key = b.fingerprint
),
rebuilt_part AS (
  SELECT md5(array_to_string(
           list_transform(
             list_sort(list(struct_pack(p := pos, l := line))),
             s -> s.l),
           chr(10))) AS fingerprint,
         doc_id AS canonical_id,
         CAST(any_value(n_total) - COUNT(*) AS BIGINT) AS n_copies,
         CAST(doc_id AS VARCHAR) AS member_ids
  FROM survivors
  GROUP BY doc_id
),
stoks AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\\s+') END AS t
  FROM corpus
),
swin AS (
  SELECT doc_id,
         unnest(generate_series(0, len(t) - {_SPAN_TOKENS})) AS s,
         unnest(list_transform(
           generate_series(0, len(t) - {_SPAN_TOKENS}),
           i -> array_to_string(list_slice(t, i + 1, i + {_SPAN_TOKENS}), ' ')
         )) AS w
  FROM stoks
  WHERE len(t) >= {_SPAN_TOKENS}
),
srep AS (
  SELECT w FROM swin GROUP BY w HAVING COUNT(*) >= 2
),
smarks AS (
  SELECT sw.doc_id, sw.s FROM swin sw JOIN srep USING (w)
),
sbrk AS (
  SELECT doc_id, s,
         CASE WHEN s - lag(s) OVER (PARTITION BY doc_id ORDER BY s)
                   <= {_SPAN_TOKENS} THEN 0 ELSE 1 END AS brk
  FROM smarks
),
sgrp AS (
  SELECT doc_id, s,
         SUM(brk) OVER (
           PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING
         ) AS g
  FROM sbrk
),
sregions AS (
  SELECT doc_id, MIN(s) AS lo, MAX(s) + {_SPAN_TOKENS} AS hi
  FROM sgrp GROUP BY doc_id, g
),
sivl AS (
  SELECT doc_id, list(struct_pack(lo := lo, hi := hi)) AS ivl
  FROM sregions GROUP BY doc_id
),
span_rebuilt AS (
  SELECT c.doc_id,
         list_filter(
           c.t,
           (x, i) -> len(list_filter(
             COALESCE(v.ivl, CAST([] AS STRUCT(lo BIGINT, hi BIGINT)[])),
             r -> i - 1 >= r.lo AND i - 1 < r.hi)) = 0
         ) AS kept,
         len(c.t) AS n_all
  FROM stoks c LEFT JOIN sivl v USING (doc_id)
)
SELECT 'doc' AS part,
       md5(text) AS fingerprint,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies,
       array_to_string(list_sort(list(doc_id)), '|') AS member_ids
FROM corpus
GROUP BY md5(text)
HAVING COUNT(*) > 1
UNION ALL
SELECT 'line', fingerprint, canonical_id, n_copies, member_ids FROM line_part
UNION ALL
SELECT 'line_rebuilt', fingerprint, canonical_id, n_copies, member_ids
FROM rebuilt_part
UNION ALL
SELECT 'span_rebuilt',
       -- array_to_string([]) is NULL in DuckDB but '' in Spark
       md5(COALESCE(array_to_string(kept, ' '), '')),
       doc_id,
       CAST(n_all - len(kept) AS BIGINT),
       CAST(doc_id AS VARCHAR)
FROM span_rebuilt
"""


# --- q28: MinHash-banded LSH candidates + exact n-gram Jaccard -------------
def _shingles(text: Column) -> Column:
    toks = F.split(text, " ")
    n = F.size(toks)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.array_join(F.slice(toks, i, 3), " "),
        )
    )


_SHINGLES_SQL = """
list_distinct(list_transform(
  generate_series(1, len(string_split(text, ' ')) - 2),
  i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
))
"""


def q28_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _variant_corpus(spark, sf_dir).filter(
        F.size(F.split(F.col("text"), " ")) >= 3
    )
    # The shingle projection feeds THREE consumers (the minhash branch and
    # both sides of the Jaccard verify).  A map-side branch point would
    # recompute it per consumer (measured: ~3x the query's cost at sf0.1);
    # the repartition inserts a shuffle exchange that ReuseExchange then
    # shares, so shingling runs once and the three consumers read the
    # exchange output.  Same trick a production pipeline gets by
    # materializing the shingle table.
    sh = corpus.select("doc_id", _shingles(F.col("text")).alias("sh")).repartition(
        "doc_id"
    )
    # One md5 per shingle; the digest's eight disjoint 4-hex-char slices
    # are eight independent minhash functions.  Bands take r=2 rows each:
    # band key = concat of two slice-minima, so a pair shares a band with
    # probability J^2, not J — this is what keeps bucket sizes sane when
    # one *popular* shingle happens to carry the globally minimal hash
    # (with r=1 every document containing it lands in a single mega-bucket
    # and the candidate join degenerates toward all-pairs).
    hashed = sh.select("doc_id", F.transform("sh", F.md5).alias("hx"))

    def slice_min(i: int) -> F.Column:
        # NB: a `lambda h, _i=i` default would be read by PySpark as a
        # two-arg (element, index) lambda — close over i instead.
        def _slice(h: F.Column) -> F.Column:
            return F.substring(h, i * 4 + 1, 4)

        return F.array_min(F.transform(F.col("hx"), _slice))

    bands = hashed.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat(slice_min(2 * b), slice_min(2 * b + 1)).alias("mh"),
                    )
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.mh")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.mh") == F.col("b.mh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    union = F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - inter
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_MIN)
    )


_Q28_SQL = f"""
{_CORPUS_SQL},
sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh
  FROM corpus WHERE len(string_split(text, ' ')) >= 3
),
hashed AS (
  SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS hx FROM sh
),
bands AS (
  SELECT doc_id, b.band,
         list_min(list_transform(hx, h -> substr(h, band * 8 + 1, 4)))
           || list_min(list_transform(hx, h -> substr(h, band * 8 + 5, 4))) AS mh
  FROM hashed CROSS JOIN (SELECT unnest(range({_N_BANDS})) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id
),
scored AS (
  SELECT doc_a, doc_b,
         len(list_intersect(sa.sh, sb.sh))
           / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           AS jaccard
  FROM cand
  JOIN sh sa ON doc_a = sa.doc_id
  JOIN sh sb ON doc_b = sb.doc_id
)
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {_JACCARD_MIN}
"""


# --- q29: SimHash fingerprints (portable nibble arithmetic) ----------------
def q29_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _variant_corpus(spark, sf_dir)
    tok = corpus.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    # 16-bit token hash (functions/hashing.md5_u16): first 4 md5 hex chars
    # decoded without engine-specific bit intrinsics.
    tok = tok.select("doc_id", md5_u16(F.col("tok")).alias("hv"))
    aggs = [
        F.sum(
            F.when((F.col("hv") / (2**j)).cast("long") % 2 == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(_SIM_BITS)
    ]
    bits = tok.groupBy("doc_id").agg(*aggs)
    simhash = sum(
        F.when(F.col(f"b{j}") > 0, 2**j).otherwise(0) for j in range(_SIM_BITS)
    )
    return bits.select("doc_id", simhash.cast("long").alias("simhash"))


def _simhash_sql() -> str:
    nib = md5_u16_sql("tok")
    bit_sums = ", ".join(
        f"SUM(CASE WHEN CAST(floor(hv / {2**j}) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(_SIM_BITS)
    )
    fingerprint = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {2**j} ELSE 0 END" for j in range(_SIM_BITS)
    )
    return f"""
{_CORPUS_SQL},
tok AS (
  SELECT doc_id, {nib} AS hv
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus)
),
bits AS (SELECT doc_id, {bit_sums} FROM tok GROUP BY doc_id)
SELECT doc_id, CAST({fingerprint} AS BIGINT) AS simhash FROM bits
"""


# --- q47: winnowing fingerprints (rolling-hash document sketch) ------------
_WINNOW_K = 8  # character k-gram width
_WINNOW_W = 4  # winnowing window (k-gram positions per window)


def q47_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (``operators/fingerprints.winnow_fingerprints``)
    with the cross-engine Karp-Rabin polynomial hash so DuckDB verifies
    every fingerprint bit-for-bit.  Production callers use the operator's
    default ``hash="xxh"`` backend (xxhash64 — non-crypto, JVM intrinsic);
    the poly fold here is the same ~10-integer-ops-per-gram cost class,
    ~100x cheaper than the round-2 per-position md5."""
    t = bind(spark, sf_dir, "documents")
    # spread before the norm+winnow projections: the per-char poly-hash
    # fold otherwise runs in the single-file scan's ONE task
    corpus = spread(t["documents"].select("doc_id", "text"), "doc_id").select(
        "doc_id", _norm(F.col("text")).alias("text")
    )
    fps_df = winnow_fingerprints(
        corpus, k=_WINNOW_K, w=_WINNOW_W, hash="poly"
    )
    # '|'-joined string output (not array<bigint>): the driver canonicalizer
    # sorts output frames and list-typed cells are unhashable in pandas.
    return fps_df.select(
        "doc_id",
        "n_kgrams",
        F.array_join(
            F.transform("fingerprints", lambda x: x.cast("string")), "|"
        ).alias("fingerprints"),
        F.size("fingerprints").alias("n_fingerprints"),
    )


def _q47_sql() -> str:
    gram = poly_u16_sql(f"list_slice(codes, i, i + {_WINNOW_K - 1})")
    return f"""
WITH base AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS text
  FROM documents
),
coded AS (
  SELECT doc_id, length(text) AS n, {char_codes_sql("text")} AS codes
  FROM base WHERE length(text) >= {_WINNOW_K + _WINNOW_W - 1}
),
hashed AS (
  SELECT doc_id,
         list_transform(generate_series(1, n - {_WINNOW_K - 1}),
                        i -> {gram}) AS hs
  FROM coded
),
winnowed AS (
  SELECT doc_id, len(hs) AS n_kgrams,
         list_sort(list_distinct(list_transform(
           generate_series(1, len(hs) - {_WINNOW_W - 1}),
           i -> list_min(list_slice(hs, i, i + {_WINNOW_W - 1}))))) AS fingerprints
  FROM hashed
)
SELECT doc_id, n_kgrams,
       array_to_string(list_transform(fingerprints, x -> CAST(x AS BIGINT)), '|')
         AS fingerprints,
       len(fingerprints) AS n_fingerprints
FROM winnowed
"""


# --- q51: winnowing containment pairs (fingerprint-bucketed overlap) -------
_OVERLAP_MIN = 2  # shared fingerprints to keep a candidate pair at all
_CONTAINMENT_MIN = 0.8  # MOSS containment: n_shared / min(|A|,|B|)
# Absolute frequent-fingerprint cull: the variant corpus's true duplicate
# clusters have <= 3 members, so any fingerprint in > 8 documents is
# vocabulary noise — and the cap does NOT loosen as the corpus grows.
_MAX_DOC_FREQ = 8


def q51_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment/partial-overlap detection end to end: winnow every
    document (``operators/fingerprints``, cross-engine poly hash), bucket
    by fingerprint, count co-occurrences per document pair.  This is the
    MOSS pipeline — it catches a document QUOTING part of another, which
    whole-document sketches (q28 minhash Jaccard, q29 simhash) miss by
    construction.  Candidates come from the fingerprint equi-join — never
    all-pairs; the variant corpus's head-truncated near-copies guarantee
    true positives for the oracle to verify."""
    # _variant_corpus text is already normalized (matches _CORPUS_SQL's
    # base CTE), so no extra normalization layer here.
    corpus = _variant_corpus(spark, sf_dir)
    flat = winnow_fingerprints_long(
        corpus, k=_WINNOW_K, w=_WINNOW_W, hash="poly", cluster_by_fp=True
    )
    return fingerprint_overlap_pairs(
        flat,
        min_shared=_OVERLAP_MIN,
        min_containment=_CONTAINMENT_MIN,
        max_doc_freq=_MAX_DOC_FREQ,
    )


def _q51_sql() -> str:
    gram = poly_u16_sql(f"list_slice(codes, i, i + {_WINNOW_K - 1})")
    return f"""
{_CORPUS_SQL},
coded AS (
  SELECT doc_id, length(text) AS n, {char_codes_sql("text")} AS codes
  FROM corpus WHERE length(text) >= {_WINNOW_K + _WINNOW_W - 1}
),
hashed AS (
  SELECT doc_id,
         list_transform(generate_series(1, n - {_WINNOW_K - 1}),
                        i -> {gram}) AS hs
  FROM coded
),
winnowed AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(hs) - {_WINNOW_W - 1}),
           i -> list_min(list_slice(hs, i, i + {_WINNOW_W - 1})))) AS fingerprints
  FROM hashed
),
flat0 AS (
  SELECT doc_id, CAST(unnest(fingerprints) AS BIGINT) AS fp FROM winnowed
),
flat AS (
  SELECT doc_id, fp FROM flat0
  WHERE fp NOT IN (
    SELECT fp FROM flat0 GROUP BY fp HAVING COUNT(*) > {_MAX_DOC_FREQ}
  )
),
counts AS (
  SELECT doc_id, COUNT(*) AS n_fp FROM flat GROUP BY doc_id
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM flat a JOIN flat b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= {_OVERLAP_MIN}
)
SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
       CAST(n_shared AS DOUBLE) / least(ca.n_fp, cb.n_fp) AS containment
FROM pairs
JOIN counts ca ON pairs.doc_a = ca.doc_id
JOIN counts cb ON pairs.doc_b = cb.doc_id
WHERE CAST(n_shared AS DOUBLE) / least(ca.n_fp, cb.n_fp) >= {_CONTAINMENT_MIN}
"""


# --- q52: near-dup clusters (connected components over minhash pairs) ------
def q52_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair list → dedup clusters: connected components
    (``operators/components``, iterative min-label propagation) over the
    q28 MinHash pair list, rolled up to ``(doc_id, canonical_id,
    cluster_size)``.  This is the step that makes near-dup detection
    *actionable*: A~B and B~C collapse into one keep-min cluster even
    though the pair (A, C) was never emitted.  The oracle recomputes the
    same closure with a recursive CTE — the full iterative algorithm is
    hash-verified cross-engine."""
    pairs = q28_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return dedup_clusters(pairs)


def _q52_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_Q28_SQL})
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM sym),
reach(node, l) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT s.a, r.l FROM sym s JOIN reach r ON s.b = r.node
),
comp AS (SELECT node, MIN(l) AS canonical_id FROM reach GROUP BY node),
sizes AS (
  SELECT canonical_id, COUNT(*) AS cluster_size FROM comp GROUP BY canonical_id
)
SELECT comp.node AS doc_id, comp.canonical_id,
       CAST(sizes.cluster_size AS BIGINT) AS cluster_size
FROM comp JOIN sizes USING (canonical_id)
"""


QUERIES: dict[str, QuerySpec] = {
    "q27_exact_dedup": QuerySpec(q27_exact_dedup, _Q27_SQL),
    "q28_minhash_lsh_pairs": QuerySpec(q28_minhash_lsh_pairs, _Q28_SQL),
    "q29_simhash": QuerySpec(q29_simhash, _simhash_sql()),
    "q47_winnow_fingerprint": QuerySpec(q47_winnow_fingerprint, _q47_sql()),
    "q51_winnow_overlap": QuerySpec(q51_winnow_overlap, _q51_sql()),
    "q52_neardup_clusters": QuerySpec(q52_neardup_clusters, _q52_sql()),
}
