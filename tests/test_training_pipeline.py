"""End-to-end training-corpus pipeline: every stage culls exactly the
planted offender and the packing manifest is consistent."""

from __future__ import annotations

from pyspark.sql import functions as F

from azure_databricks_lakehouse_spark.operators.fingerprints import (
    fingerprint_overlap_pairs,
    winnow_fingerprints_long,
)
from azure_databricks_lakehouse_spark.pipelines.training import (
    prepare_training_corpus,
)

_BASE = (
    "the committee published its annual report on the quality of regional "
    "water and the effect of the new treatment plant in the valley"
)
_DOCS = [
    # 1: clean survivor
    (1, _BASE),
    # 2: exact duplicate of 1 (normalized: case/whitespace differ) -> culled
    (2, "  The committee   published its annual report on the quality of "
        "regional water and the effect of the new treatment plant in the valley"),
    # 3: near-duplicate of 1 (quotes most of it) -> fuzzy-culled
    (3, _BASE + " with an appendix of the figures"),
    # 4: clean survivor with PII to scrub
    (4, "the director of the water board can be reached at jane.doe@example.com "
        "for all of the questions about the annual report of the board"),
    # 5: spam -> quality-culled (no stopwords, short words)
    (5, "click buy win free cheap deal prize now click buy win free cheap deal"),
    # 6: contaminated -> shares the benchmark question verbatim
    (6, "the quiz of the day is which river is the longest river in the world "
        "and the answer of the quiz is printed in the appendix of the report"),
]
_BENCH = [(100, "which river is the longest river in the world")]


def _run(spark, **kw):
    docs = spark.createDataFrame(_DOCS, "doc_id int, text string")
    bench = spark.createDataFrame(_BENCH, "doc_id int, text string")
    return prepare_training_corpus(docs, benchmark=bench, **kw)


def _assert_each_stage_culls_its_offender(spark):
    res = _run(spark)
    assert res.audit["input"] == 6
    assert res.audit["quality"] == 5          # doc 5 gone
    assert res.audit["exact_dedup"] == 4      # doc 2 gone
    assert res.audit["fuzzy_dedup"] == 3      # doc 3 gone
    assert res.audit["decontaminate"] == 2    # doc 6 gone
    survivors = {r["doc_id"] for r in res.corpus.select("doc_id").collect()}
    assert survivors == {1, 4}


def test_each_stage_culls_its_offender(spark):
    _assert_each_stage_culls_its_offender(spark)


def test_each_stage_culls_its_offender_codegen_on(spark, codegen_on):
    """The same pass under whole-stage and expression codegen, as
    production sessions compile it — including the window rounds of
    the star connected-components loop and the pinned fingerprint
    table of the pair join."""
    assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"
    _assert_each_stage_culls_its_offender(spark)


def _words(tag: str, n: int) -> str:
    """``n`` seeded random-letter words, stopword-laced so the quality
    gate passes; different tags share no winnowing fingerprint beyond
    the stopword glue."""
    import random
    import string

    rng = random.Random(tag)
    words = [
        "".join(rng.choices(string.ascii_lowercase, k=7)) for _ in range(n)
    ]
    return " of the ".join(words)


def test_fuzzy_dedup_collapses_containment_chain(spark):
    """B quotes A whole, C quotes the back half of B, and C shares no
    passage with A: the pairs are (A, B) and (B, C) only, yet all three
    are one cluster and only its smallest id survives.  The ids put the
    cluster minimum at A and give C a smaller id than B, so a pairwise
    "drop the larger of each pair" rule would wrongly keep C."""
    p1, p2, p3, p4, p5 = (_words(f"chain-{i}", 12) for i in range(5))
    a = f"{p1} and {p2}"
    b = f"{p1} and {p2} and {p3} and {p4}"
    c = f"{p3} and {p4} and {p5}"
    docs = spark.createDataFrame([(1, a), (3, b), (2, c)], "doc_id int, text string")
    flat = winnow_fingerprints_long(docs, cluster_by_fp=True)
    pairs = fingerprint_overlap_pairs(
        flat, min_shared=2, min_containment=0.5, max_doc_freq=50
    )
    assert {(r["doc_a"], r["doc_b"]) for r in pairs.collect()} == {(1, 3), (2, 3)}
    res = prepare_training_corpus(docs)
    assert res.audit["exact_dedup"] == 3
    assert res.audit["fuzzy_dedup"] == 1
    assert {r["doc_id"] for r in res.corpus.select("doc_id").collect()} == {1}


def test_pii_is_scrubbed_from_survivors(spark):
    res = _run(spark)
    texts = {r["doc_id"]: r["text"] for r in res.corpus.collect()}
    assert "jane.doe@example.com" not in texts[4]
    assert "[EMAIL]" in texts[4] or "@" not in texts[4]


def test_manifest_is_contiguous_and_deterministic(spark):
    res = _run(spark)
    rows = sorted(res.manifest.collect(), key=lambda r: r["start_offset"])
    assert rows[0]["start_offset"] == 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur["start_offset"] == prev["start_offset"] + prev["n_tokens"]
    # reruns give the identical shuffled packing order
    again = sorted(_run(spark).manifest.collect(), key=lambda r: r["start_offset"])
    assert [r["doc_id"] for r in again] == [r["doc_id"] for r in rows]
    # a different seed gives a different (still contiguous) order
    other = _run(spark, shuffle_seed=7)
    ids_other = [
        r["doc_id"]
        for r in sorted(other.manifest.collect(), key=lambda r: r["start_offset"])
    ]
    assert set(ids_other) == {r["doc_id"] for r in rows}


def test_learned_quality_gate_plugs_in(spark):
    from azure_databricks_lakehouse_spark.operators.quality import (
        train_quality_scorer,
    )

    labeled = spark.createDataFrame(
        [(i, t, 1) for i, (_, t) in enumerate(_DOCS[:2])]
        + [(50 + i, "click buy win free cheap deal prize now", 0) for i in range(2)],
        "doc_id int, text string, label int",
    )
    weights = train_quality_scorer(labeled)
    res = _run(spark, quality_weights=weights)
    assert 5 not in {r["doc_id"] for r in res.corpus.select("doc_id").collect()}


def test_learned_gate_rejects_gramless_docs(spark):
    """Prior-score regression: empty/short docs score exactly 0.5 and
    must NOT pass the learned gate."""
    from azure_databricks_lakehouse_spark.operators.quality import (
        train_quality_scorer,
    )

    labeled = spark.createDataFrame(
        [(1, _BASE, 1), (2, "click buy win free cheap deal prize now", 0)],
        "doc_id int, text string, label int",
    )
    weights = train_quality_scorer(labeled)
    docs = spark.createDataFrame(
        [(1, _BASE), (2, ""), (3, "hello")], "doc_id int, text string"
    )
    res = prepare_training_corpus(
        docs, quality_weights=weights, audit=False
    )
    assert {r["doc_id"] for r in res.corpus.select("doc_id").collect()} == {1}


def test_perplexity_gate_culls_out_of_domain(spark):
    """Stacked LM gate: the reference-domain model culls gibberish the
    stopword heuristic cannot catch (it HAS stopwords, but no bigram is
    in-domain), while fluent documents and short NULL-scored ones pass."""
    from azure_databricks_lakehouse_spark.operators.lm import train_ngram_lm

    ref = spark.createDataFrame(
        [(t,) for _i, t in _DOCS if "click" not in t] * 3, "text string"
    )
    lm = train_ngram_lm(ref, min_count=2)
    docs = spark.createDataFrame(
        _DOCS
        + [
            # stopword-rich but out-of-domain -> only the LM catches it
            (7, "the borogoves and the mome raths in the wabe of the toves "
                "did gyre and gimble for the slithy outgrabe of the brillig"),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(_BENCH, "doc_id int, text string")
    res = prepare_training_corpus(
        docs, benchmark=bench, perplexity_lm=lm, max_log2_ppl=5.0
    )
    ids = {r["doc_id"] for r in res.corpus.select("doc_id").collect()}
    assert 7 not in ids, "out-of-domain doc must be perplexity-culled"
    assert 1 in ids and 4 in ids
    assert res.audit["perplexity"] < res.audit["quality"]


def test_domain_mixture_stage(spark):
    """Optional reweighting: rare domains repeat with distinct epochs,
    each copy gets its own slot in the packing manifest, and the stage
    runs on the post-dedup corpus."""
    import random
    import string

    def _doc(i, tag):
        # random-letter words (stopword-laced so the quality gate
        # passes) — templated words would share winnowing shingles and
        # the fuzzy-dedup stage would eat the corpus before mixing
        rng = random.Random(f"{tag}-{i}")
        words = [
            "".join(rng.choices(string.ascii_lowercase, k=7))
            for _ in range(20)
        ]
        return "the " + " of the ".join(words)

    docs = spark.createDataFrame(
        [(i, _doc(i, "web"), "web") for i in range(40)]
        + [(100 + i, _doc(i, "book"), "books") for i in range(4)],
        "doc_id int, text string, domain string",
    )
    res = prepare_training_corpus(
        docs,
        domain_col="domain",
        mixture_temperature=0.3,
        mixture_max_epochs=4.0,
        max_doc_freq=None,
        decontaminate_max_fp_doc_frac=None,
    )
    assert "mixture" in res.audit
    mixed = res.corpus
    per_dom = {
        r["domain"]: r["n"]
        for r in mixed.groupBy("domain").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_books_in = 4
    assert per_dom.get("books", 0) > n_books_in, "rare domain upsampled"
    # every (doc, epoch) copy owns a distinct manifest slot
    man = res.manifest
    assert man.count() == mixed.count()
    assert man.select("doc_id", "_epoch").distinct().count() == man.count()


def test_dsir_stage_selects_target_like_docs(spark):
    """Optional stage 4b (operators/dsir): with a science-flavored
    exemplar set, the resampled corpus keeps the science-flavored pool
    docs and drops the commerce-flavored ones; the audit records the
    stage and downstream packing still sees a clean schema."""
    import random

    sci = ("theory experiment observation hypothesis measurement sample "
           "control variable analysis result method instrument data model "
           "paper review journal study field laboratory").split()
    shop = ("discount checkout voucher shipping warehouse cart price deal "
            "stock order invoice refund coupon brand retail basket offer "
            "payment delivery customer").split()

    conn = ["of the", "and the", "in the", "on the", "to the",
            "for the", "with the", "is the"]

    def _doc(vocab, seed):
        # random draws from a topic vocabulary with RANDOM stopword
        # connectors: quality-gate-passing, but no shared 8-gram
        # shingles, so the fuzzy-dedup stage doesn't collapse the pool
        rng = random.Random(seed)
        words = rng.choices(vocab, k=20)
        out = ["the", words[0]]
        for w in words[1:]:
            out.append(rng.choice(conn))
            out.append(w)
        return " ".join(out)

    target = spark.createDataFrame(
        [(900 + i, _doc(sci, f"t{i}")) for i in range(6)],
        "doc_id int, text string",
    )
    pool = spark.createDataFrame(
        [(i, _doc(sci, f"p{i}")) for i in range(5)]
        + [(50 + i, _doc(shop, f"s{i}")) for i in range(5)],
        "doc_id int, text string",
    )
    res = prepare_training_corpus(
        pool,
        dsir_target=target,
        dsir_k=5,
        dsir_dim=512,
        max_doc_freq=None,
        decontaminate_max_fp_doc_frac=None,
    )
    assert res.audit["dsir_select"] == 5
    survivors = {r["doc_id"] for r in res.corpus.select("doc_id").collect()}
    assert survivors == {0, 1, 2, 3, 4}, survivors
    # the packing manifest covers exactly the selected docs
    assert res.manifest.count() == 5


def test_boilerplate_stage_strips_repeated_lines(spark):
    """Stage 0 (operators/linedup): the per-site footer repeated across
    documents is stripped before quality/dedup; a document that was ALL
    boilerplate drops entirely; bodies pass through byte-identical."""
    footer = "copyright example site all rights reserved"
    bodies = {
        0: "the committee published a report on the quality of the water "
           "and the effect of the new treatment plant in the valley",
        1: "a survey of the harbor found that the tide carries most of the "
           "sediment into the channel during the winter storms",
        2: "the library extended its hours for the term and the students "
           "of the college made heavy use of the reading rooms",
        3: "farmers in the district planted barley along the river because "
           "the spring floods had enriched the soil of the plain",
        4: "the museum restored a collection of maps from the archive and "
           "put the earliest charts of the coast on display",
    }
    rows = [(i, bodies[i] + "\n" + footer) for i in range(5)]
    rows.append((9, footer))  # nothing but the footer
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    res = prepare_training_corpus(
        docs,
        boilerplate_min_count=3,
        max_doc_freq=None,
        decontaminate_max_fp_doc_frac=None,
    )
    assert res.audit["input"] == 6
    assert res.audit["line_dedup"] == 5  # all-boilerplate doc 9 gone
    texts = {r["doc_id"]: r["text"] for r in res.corpus.collect()}
    assert set(texts) == set(range(5))
    for i, body in bodies.items():
        assert texts[i] == body  # footer stripped, body untouched


def test_chunking_stage_bounds_packing_units(spark):
    """Stage 5c (operators/chunking): long documents become bounded
    windows, each owning its own manifest slot; windows reconstruct the
    document; no manifest unit exceeds the chunk size."""
    long_text = "the quality of the water in the region is good and " * 12
    long_text = " ".join(long_text.split())  # 132 tokens
    short_text = "the report of the board covers the quality of the water today"
    docs = spark.createDataFrame(
        [(1, long_text), (2, short_text)], "doc_id int, text string"
    )
    res = prepare_training_corpus(
        docs,
        chunk_tokens=32,
        max_doc_freq=None,
        decontaminate_max_fp_doc_frac=None,
    )
    assert res.audit["chunking"] == 6  # ceil(132/32)=5 windows + 1
    corpus = res.corpus.collect()
    assert {(r["doc_id"], r["chunk_id"]) for r in corpus} == {
        (1, 0), (1, 1), (1, 2), (1, 3), (1, 4), (2, 0),
    }
    rebuilt = " ".join(
        r["text"]
        for r in sorted(corpus, key=lambda r: r["chunk_id"])
        if r["doc_id"] == 1
    )
    assert rebuilt == long_text
    man = res.manifest.collect()
    assert len(man) == 6
    assert all(r["n_tokens"] <= 32 for r in man)
    # every (doc, chunk, epoch) unit owns a distinct manifest slot
    assert len({(r["doc_id"], r["chunk_id"], r["_epoch"]) for r in man}) == 6
    # manifest stays contiguous over chunk units
    ordered = sorted(man, key=lambda r: r["start_offset"])
    assert ordered[0]["start_offset"] == 0
    for prev, cur in zip(ordered, ordered[1:]):
        assert cur["start_offset"] == prev["start_offset"] + prev["n_tokens"]


def test_span_dedup_stage_cuts_shared_passages(spark):
    """Stage 3b (operators/spandup): a passage shared by two documents
    that fuzzy dedup keeps (containment below threshold) is cut out of
    both carriers; a document that was nothing but the passage culls."""
    shared_a = (
        "the committee agreed that the harbor works should begin in the "
        "spring after the thaw"
    )
    shared_b = (
        "no boats may enter the narrow channel while the dredging crews "
        "are still at work near the old pier"
    )
    bodies = {
        1: "a survey of the harbor found that the tide carries most of the "
           "sediment into the channel during the winter storms",
        2: "the library extended its hours for the term and the students "
           "of the college made heavy use of the reading rooms",
        3: "the museum restored a collection of maps from the archive and "
           "put the earliest charts of the coast on display",
    }
    # doc 4 is repeated material from TWO different carriers, so its
    # containment against either stays below the fuzzy threshold — only
    # the span stage can empty it
    docs = spark.createDataFrame(
        [
            (1, bodies[1] + " " + shared_a),
            (2, shared_b + " " + bodies[2]),
            (3, bodies[3]),
            (4, shared_a + " " + shared_b),
        ],
        "doc_id int, text string",
    )
    res = prepare_training_corpus(
        docs,
        span_dedup_tokens=8,
        min_containment=0.8,
        max_doc_freq=None,
        decontaminate_max_fp_doc_frac=None,
    )
    assert res.audit["fuzzy_dedup"] == 4
    assert res.audit["span_dedup"] == 3  # doc 4 reduced to empty -> culled
    texts = {r["doc_id"]: r["text"] for r in res.corpus.collect()}
    assert set(texts) == {1, 2, 3}
    for i in (1, 2, 3):
        assert texts[i] == bodies[i]
        assert "harbor works" not in texts[i]
        assert "dredging" not in texts[i]


def test_semantic_dedup_stage_culls_paraphrase(spark):
    """A paraphrase shares no 8-gram fingerprints with its original (every
    content word replaced) but sits at cosine ~1 in embedding space —
    only the SemDeDup stage can cull it."""
    paraphrase = (
        "a panel released the yearly summary about how clean district "
        "rivers are plus what the recent purification facility changed "
        "around the basin"
    )
    docs = _DOCS + [(7, paraphrase)]
    emb_rows = [
        (1, [1.0, 0.02, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0, 0.0]),   # exact-dup doc: culled before us
        (3, [1.0, 0.03, 0.0, 0.0]),   # fuzzy-dup doc: culled before us
        (4, [0.0, 0.0, 1.0, 0.1]),
        (5, [0.0, 1.0, 0.0, 0.0]),
        (6, [0.5, 0.5, 0.5, 0.5]),
        (7, [1.0, 0.021, 0.0, 0.0]),  # paraphrase of 1: semantic dup
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    bench = spark.createDataFrame(_BENCH, "doc_id int, text string")
    embs = spark.createDataFrame(emb_rows, "doc_id int, emb array<double>")
    res = prepare_training_corpus(
        df,
        benchmark=bench,
        embeddings=embs,
        semantic_k=2,
        semantic_threshold=0.999,
    )
    # without the stage, 7 survives (no shared fingerprints with 1)
    base = prepare_training_corpus(
        df, benchmark=bench
    )
    assert 7 in {r.doc_id for r in base.corpus.collect()}
    # with it, exactly one of {1, 7} survives and the audit shows the cut
    survivors = {r.doc_id for r in res.corpus.collect()}
    assert len(survivors & {1, 7}) == 1
    assert 4 in survivors
    assert res.audit["semantic_dedup"] == res.audit["span_dedup" if "span_dedup" in res.audit else "fuzzy_dedup"] - 1


def test_url_gate_runs_first(spark):
    docs = [(i, url, text) for (i, text), url in zip(
        _DOCS,
        [
            "https://archive.example.org/report",
            "https://mirror.spamfarm.biz/copy",   # blocklisted -> culled here
            "https://archive.example.org/report2",
            "https://board.example.org/contact",
            "https://deals.example.org/win",
            "https://quiz.example.org/daily",
        ],
    )]
    df = spark.createDataFrame(docs, "doc_id int, url string, text string")
    bench = spark.createDataFrame(_BENCH, "doc_id int, text string")
    res = prepare_training_corpus(
        df,
        benchmark=bench,
        url_col="url",
        url_blocklist=["spamfarm.biz"],
    )
    # doc 2 (the exact duplicate) is now charged to the URL gate, so
    # exact-dedup has nothing left to cull
    assert res.audit["url_filter"] == 5
    assert res.audit["exact_dedup"] == res.audit["quality"]
    survivors = {r.doc_id for r in res.corpus.collect()}
    assert survivors == {1, 4}
    assert "url" in res.corpus.columns  # pass-through of extra columns


def test_c4_stage_cleans_lines_and_drops_pages(spark):
    """Stage -0.5 (operators/c4): line rules rewrite surviving pages in
    place (dropped lines never reach tokenization), page rules drop the
    lorem-ipsum page, and the audit records the stage."""
    good1 = ("the committee published its annual report on the quality of "
             "regional water in the valley.")
    good2 = ("a full account of the treatment plant and the effect on the "
             "river is given in the body of the report!")
    good3 = "the board of the district approved all of the measures."
    rows = [
        (1, "\n".join([good1, "no terminal punctuation line", good2, good3])),
        (2, "\n".join([good1, "lorem ipsum dolor sit amet.", good2, good3])),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    res = prepare_training_corpus(
        docs,
        c4_rules=True,
        c4_min_sentences=3,
        max_doc_freq=None,
        decontaminate_max_fp_doc_frac=None,
    )
    assert res.audit["input"] == 2
    assert res.audit["c4_rules"] == 1  # lorem-ipsum page dropped
    texts = {r["doc_id"]: r["text"] for r in res.corpus.collect()}
    assert set(texts) == {1}
    assert texts[1] == "\n".join([good1, good2, good3])  # line stripped
