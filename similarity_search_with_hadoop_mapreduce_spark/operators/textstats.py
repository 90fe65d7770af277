"""Text-analysis operators for corpus curation: token counting, language
identification, quality scoring, fingerprinting, PII scrubbing, LM/NB
scoring, vocabulary/drift statistics, dup-span mass and exact-substring
removal, decontamination, RAG chunking.

Per-document scoring is native column expressions (split / higher-order
functions / regexp / md5) — one codegen'd map stage per operator, no
Python UDFs, scan speed over a 100 TB corpus. Corpus-level statistics
(vocab, drift, dup spans, LM training) add only partial-aggregated
term/span shuffles linear in the token stream — never a window over a
content key (hot boilerplate would concentrate in one task) and never a
driver-side loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
    java_split_tokens,
    ngrams_attr_sql,
    stage_tokens,
    staged_shingles_frame,
    word_pairs_sql,
)
from similarity_search_with_hadoop_mapreduce_spark.session import (
    table_location,
    tidy_default_warehouse,
)
from similarity_search_with_hadoop_mapreduce_spark.sources.tables import fan_out

# Small function-word list for the stopword-ratio language heuristic (the
# classic cheap lang-id signal; a production system would hold per-language
# lists — the plumbing is identical).
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

# BPE-ish lexer: word pieces or single non-space punctuation — the standard
# pre-tokenization regex shape used before byte-pair merging.
BPE_TOKEN_PATTERN = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def token_counts(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_bpe_tokens, n_chars): whitespace/regex token
    statistics, the unit economics of a training corpus."""
    t = F.col(text_col)
    return fan_out(documents).select(
        "doc_id",
        F.size(java_split_tokens(text_col)).alias("n_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_TOKEN_PATTERN), 0)).alias(
            "n_bpe_tokens"
        ),
        F.length(t).alias("n_chars"),
    )


def _stop_occurrences(tokens: Column) -> Column:
    """Occurrence count of EN_STOPWORDS tokens (shared by the stopword
    ratio and gopher_rules' function-word gate)."""
    stops = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    return F.size(F.filter(tokens, lambda x: F.array_contains(stops, x)))


def _mean_token_len(tokens: Column) -> Column:
    """Mean token length as one exact long fold / one IEEE division
    (shared by _quality_exprs and gopher_rules)."""
    n = F.size(tokens)
    return F.when(
        n > 0,
        F.aggregate(
            tokens, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).cast("double")
        / n.cast("double"),
    ).otherwise(F.lit(0.0))


def _floor6(x: Column) -> Column:
    """FLOOR-quantize a double at the 6th decimal — the midpoint-free
    emission rule (SCALE.md ground rules): round(double, 6) is
    engine-divergent at exact .5e-6 midpoints, floor of the identical
    double is not."""
    return F.floor(x * F.lit(1000000.0)) / F.lit(1000000.0)


def _stop_ratio(tokens: Column) -> Column:
    n = F.size(tokens)
    # ratio of *distinct* stopwords present scaled by token count is noisy;
    # use occurrence ratio: count tokens that are stopwords
    occ = _stop_occurrences(tokens)
    return F.when(n > 0, occ.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def language_id(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-ratio language heuristic: predict ``en`` when >= 5% of
    tokens are English function words, else ``und`` (undetermined).

    The fixture's ``lang`` column is metadata, not derivable from the
    synthetic text — this operator demonstrates the *computed* signal.
    """
    ratio = F.round(_stop_ratio(F.col("_toks")), 6)
    return stage_tokens(documents, text_col, "doc_id").select(
        "doc_id",
        ratio.alias("stop_ratio"),
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("und")).alias(
            "predicted_lang"
        ),
    )


def _quality_exprs(t: Column, toks: Column) -> dict[str, Column]:
    """The shared per-document quality signals (see :func:`quality_score`
    for the formula), computed from a STAGED token column (see
    :func:`stage_tokens`); returned unrounded."""
    n_tok = F.size(toks)
    n_chars = F.length(t)
    punct = F.size(F.regexp_extract_all(t, F.lit(r"[^A-Za-z0-9_\s]"), 0))
    punct_ratio = F.when(
        n_chars > 0, punct.cast("double") / n_chars.cast("double")
    ).otherwise(F.lit(0.0))
    stop_ratio = _stop_ratio(toks)
    mean_tok_len = _mean_token_len(toks)
    score = (
        F.least(n_tok.cast("double") / 100.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 10.0, F.lit(1.0)) * 0.3
    )
    return {
        "n_tokens": n_tok,
        "punct_ratio": punct_ratio,
        "stop_ratio": stop_ratio,
        "mean_token_len": mean_tok_len,
        "quality": score,
    }


def quality_score(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite document-quality score in [0, 1] from cheap signals:
    length, punctuation density, stopword ratio, mean token length.

    score = 0.4·min(n_tokens/100, 1)
          + 0.3·(1 − min(5·punct_ratio, 1))
          + 0.3·min(10·stop_ratio, 1)
    """
    q = _quality_exprs(F.col(text_col), F.col("_toks"))
    return stage_tokens(documents, text_col, "doc_id").select(
        "doc_id",
        q["n_tokens"].alias("n_tokens"),
        F.round(q["punct_ratio"], 6).alias("punct_ratio"),
        F.round(q["stop_ratio"], 6).alias("stop_ratio"),
        F.round(q["mean_token_len"], 6).alias("mean_token_len"),
        F.round(q["quality"], 6).alias("quality"),
    )


def fingerprint(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized content fingerprint: md5 over the lowercased,
    whitespace-collapsed token stream — robust to case and spacing noise,
    the cheap first pass before shingle-level dedup."""
    norm = F.concat_ws(
        " ", java_split_tokens(f"lower({text_col})")
    )
    return fan_out(documents).select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.length(norm).alias("norm_len"),
    )


def corpus_composition(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Dataset-card rollup: per (source, lang) document counts, token
    totals, mean quality, and exact-duplicate share — the composition
    summary a training-data pipeline publishes before a run.

    One fused DAG: a map stage computes per-doc tokens / quality / content
    digest, a window over the digest marks every copy beyond the first as
    a duplicate, and one groupBy rolls it all up. Two shuffles, both on
    uniform keys (md5 digest; the low-cardinality group keys arrive
    pre-combined by partial aggregation). mean_quality sums the per-doc
    (6-dp-rounded) scores as decimal(25,6) so the total is exact and
    order-independent before the one final division.
    """
    t = F.col(text_col)
    q = _quality_exprs(t, F.col("_toks"))
    per_doc = stage_tokens(documents, text_col, "doc_id", "source", "lang").select(
        "doc_id",
        "source",
        "lang",
        q["n_tokens"].alias("n_tokens"),
        F.round(q["quality"], 6).alias("quality"),
        F.md5(t).alias("digest"),
    )
    from pyspark.sql import Window as W

    is_dup = (
        F.row_number().over(W.partitionBy("digest").orderBy("doc_id")) > 1
    ).cast("int")
    flagged = per_doc.withColumn("is_dup", is_dup)
    n_docs = F.count(F.lit(1))
    return flagged.groupBy("source", "lang").agg(
        n_docs.alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum(F.col("quality").cast("decimal(25,6)")).cast("double")
            / n_docs.cast("double"),
            6,
        ).alias("mean_quality"),
        F.sum("is_dup").cast("bigint").alias("dup_docs"),
        F.round(
            F.sum("is_dup").cast("double") / n_docs.cast("double"), 6
        ).alias("dup_rate"),
    )


def ngram_frequencies(
    documents: DataFrame, top_k: int = 25, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide trigram frequency table, top-k by document frequency —
    the aggregate view behind stop-shingle pruning (the reference's
    ``count == n`` rule, BookQuery.java:105, decides from exactly this
    distribution). explode → count: one shuffle, then TakeOrdered."""
    sh = staged_shingles_frame(documents, text_col, alias="s", keep=())
    return (
        sh.select(F.explode("s").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(top_k)
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination for training corpora: flag corpus
    documents sharing any word ``n``-gram with an evaluation benchmark
    (the GPT-3 appendix-C / Llama-style overlap rule; ``n=13`` is the
    published default, smaller ``n`` is stricter). A training pipeline
    drops or quarantines the flagged docs so eval numbers measure
    generalization, not memorized test data.

    Returns ``(doc_id, n_hits, n_ngrams, hit_ratio)`` for corpus docs
    with at least one overlapping n-gram — ``n_hits`` distinct shared
    n-grams out of the doc's ``n_ngrams`` distinct n-grams; docs with no
    row are clean.

    100 TB shape (the flagship query topology, S2/T5): the benchmark is
    eval-set sized — tiny next to the corpus — so its distinct n-grams
    BROADCAST (explicitly pinned), the corpus side computes per-doc
    distinct n-grams in one staged map pass (tokenize once per doc, the
    :func:`stage_tokens` contract), and the broadcast hash join prunes
    the exploded stream to hits before the single ``doc_id`` shuffle —
    high-cardinality key, no skew. The corpus never shuffles its text;
    explode volume is bounded by per-doc distinct n-grams, and at
    ``n=13`` the hit stream is almost empty by construction."""
    bench = (
        stage_tokens(benchmark, text_col, "doc_id")
        .select(
            F.explode(
                F.array_distinct(F.expr(ngrams_attr_sql("_toks", n)))
            ).alias("gram")
        )
        .distinct()
    )
    corp = stage_tokens(corpus, text_col, "doc_id").select(
        "doc_id",
        F.array_distinct(F.expr(ngrams_attr_sql("_toks", n))).alias("_ngs"),
    )
    return (
        corp.select("doc_id", F.size("_ngs").alias("n_ngrams"),
                    F.explode("_ngs").alias("gram"))
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id", "n_ngrams")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            "doc_id",
            "n_hits",
            "n_ngrams",
            (
                F.col("n_hits").cast("double")
                / F.col("n_ngrams").cast("double")
            ).alias("hit_ratio"),
        )
    )


def benchmark_contamination_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 5,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """:func:`benchmark_contamination` with the bloom-filter pre-gate —
    the membership sketch's reason to exist (r11 verdict #2), wired in
    as a real consumer. Result-IDENTICAL to the ungated operator: a
    bloom has no false negatives (every genuinely shared n-gram still
    reaches the exact join), and the exact broadcast join kills the
    false positives the bitmap admits — the bloom only decides which
    rows PAY for that join.

    100 TB shape, and why this beats the ungated plan there: the
    ungated operator broadcasts the benchmark's distinct n-grams as a
    hash relation — at real eval-suite scale (millions of 13-gram
    STRINGS) that is a multi-GB broadcast whose hash probe every corpus
    gram pays. Here every corpus gram instead probes a ≤ m/63-long
    bitmap (kilobytes, one 1-row broadcast, NO shuffle of the corpus
    stream — ``bloom_probe``'s plan contract), and only the surviving
    ``bloom_hit`` rows — 5.5% of the gram stream on the fixture corpus,
    less on a real one where train/eval overlap is rarer — enter the
    exact string join. The corpus side still never shuffles before the
    per-doc aggregation, and the one real exchange stays the high-
    cardinality ``doc_id`` groupBy (plan-pinned in tests/test_plans.py).

    SIZE THE BITMAP TO THE BENCHMARK: the default ``m_bits = 2^20``
    (~130 KB broadcast — still nothing next to a hashed-relation
    broadcast of the gram strings) holds FPR under ~1% to ~100k
    benchmark grams; an undersized bitmap stays CORRECT (the exact
    join still kills every false positive) but saturates toward
    FPR → 1 and prunes nothing, which is how the family default
    (2^14, watchlist-sized) measured 0.6% prune on the 22k-gram Zipf
    benchmark before this dial was widened (SCALE.md, "r12: the skew
    machinery measured on Zipf-shaped text").
    At real eval-suite scale raise ``m_bits`` with ~10 bits/key.
    """
    from similarity_search_with_hadoop_mapreduce_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    bench = (
        stage_tokens(benchmark, text_col, "doc_id")
        .select(
            F.explode(
                F.array_distinct(F.expr(ngrams_attr_sql("_toks", n)))
            ).alias("gram")
        )
        .distinct()
    )
    bloom = bloom_build(bench, "gram", m_bits=m_bits, k=k,
                        base_hash=base_hash, with_count=False)
    corp = stage_tokens(corpus, text_col, "doc_id").select(
        "doc_id",
        F.array_distinct(F.expr(ngrams_attr_sql("_toks", n))).alias("_ngs"),
    )
    stream = corp.select(
        "doc_id", F.size("_ngs").alias("n_ngrams"),
        F.explode("_ngs").alias("gram"),
    )
    gated = (
        bloom_probe(stream, bloom, "gram", m_bits=m_bits, k=k,
                    base_hash=base_hash)
        .filter(F.col("bloom_hit"))
        .drop("bloom_hit")
    )
    return (
        gated.join(F.broadcast(bench), "gram")
        .groupBy("doc_id", "n_ngrams")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            "doc_id",
            "n_hits",
            "n_ngrams",
            (
                F.col("n_hits").cast("double")
                / F.col("n_ngrams").cast("double")
            ).alias("hit_ratio"),
        )
    )


def vocab_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row corpus vocabulary summary: documents with content, distinct
    trigram vocabulary, total (per-doc-distinct) term occurrences, mean
    shingle-set size."""
    # Single pass: explode (which naturally skips empty sets — no size
    # filter, so the shingle expression is evaluated exactly once) and
    # derive every statistic from the exploded (doc_id, term) stream.
    # mean_set_size = total_terms / n_docs because each doc's set is
    # already distinct — one exact double division, same as the oracle's
    # avg over exact integer sums.
    terms = staged_shingles_frame(documents, text_col, alias="s").select(
        "doc_id", F.explode("s").alias("term")
    )
    return terms.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("term").alias("vocab_size"),
        F.count(F.lit(1)).alias("total_terms"),
    ).select(
        "n_docs",
        "vocab_size",
        "total_terms",
        F.round(
            F.col("total_terms").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("mean_set_size"),
    )


def make_sentence_udtf():
    """Python UDTF (table function) splitting text into trimmed sentences.

    The one deliberately Python-row-level operator in the engine: it
    exists to exercise the UDTF surface (generator-shaped user logic the
    reference could only express as a whole Mapper class,
    BookQuery.java:116-149). Everything hot-path stays native; a UDTF like
    this is the escape hatch for logic that genuinely needs Python (e.g.
    a real sentence segmenter model). Registered per-session and used via
    SQL LATERAL, so it composes with ordinary relational operators.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_id int, sentence string")
    class SplitSentences:
        def eval(self, text):
            import re

            i = 0
            for part in re.split(r"[.!?]+", text or ""):
                p = part.strip(" \t\n\r")
                if p:
                    yield i, p
                    i += 1

    return SplitSentences


def repetition_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition signals over the trigram multiset — the
    duplicate-n-gram quality filters large-scale curation uses (fraction
    of duplicated n-grams / mass of the single most frequent n-gram):
    heavily templated or looping documents score high and get filtered
    before training.

    (doc_id, n_trigrams, n_distinct_trigrams, dup_trigram_frac,
    top_trigram_frac); zero-trigram docs report 0 ratios. One explode +
    two-level aggregation — the per-(doc, term) partial keeps the shuffle
    key high-cardinality, and both ratios reduce per doc.
    """
    base = fan_out(documents)
    tg = stage_tokens(documents, text_col, "doc_id").select(
        "doc_id", F.explode(F.expr(ngrams_attr_sql("_toks", 3))).alias("term")
    )
    per_term = tg.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    st = per_term.groupBy("doc_id").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("nd"),
        F.max("c").alias("top"),
    )
    total = F.col("total").cast("double")
    return base.select("doc_id").join(st, "doc_id", "left").select(
        "doc_id",
        F.coalesce("total", F.lit(0)).alias("n_trigrams"),
        F.coalesce("nd", F.lit(0)).alias("n_distinct_trigrams"),
        F.coalesce(
            F.round(F.lit(1.0) - F.col("nd").cast("double") / total, 6), F.lit(0.0)
        ).alias("dup_trigram_frac"),
        F.coalesce(
            F.round(F.col("top").cast("double") / total, 6), F.lit(0.0)
        ).alias("top_trigram_frac"),
    )


# ---------------------------------------------------------------------------
# PII redaction — the scrub pass a public-web training corpus runs before
# anything else ships (the BigCode/StarCoder-style regex tier; an ML NER
# tier would slot behind the same column contract).
# ---------------------------------------------------------------------------

# Patterns chosen to parse identically under Java regex (Spark) and RE2
# (DuckDB oracle): character classes + bounded repetition only — no
# lookaround, no backreferences, no \d//\w shorthand (ASCII vs Unicode
# semantics differ across engines).
PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_PATTERN = r"([0-9]{1,3}\.){3}[0-9]{1,3}"
PII_PHONE_PATTERN = r"[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


def pii_scrub(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails, IPv4 addresses, and NANP-style phone numbers;
    return the scrubbed text plus per-category match counts.

    (doc_id, clean_text, n_emails, n_ipv4, n_phones, n_pii).

    The three passes are SEQUENTIAL — each category is counted on the
    text as left by the previous redaction, then replaced — so every
    character is redacted (and counted) at most once: digits inside an
    already-redacted email can never re-match the address or phone
    patterns. Pure
    map stage: three ``regexp_count`` + three ``regexp_replace`` JVM
    expressions per row, no shuffle, scan-speed at any corpus size. NULL
    text propagates NULL through counts and clean_text (the engine's
    regexp semantics on NULL input, identical in both engines —
    pytest-pinned).
    """
    t = F.col(text_col)
    n_em = F.regexp_count(t, F.lit(PII_EMAIL_PATTERN)).alias("n_emails")
    t1 = F.regexp_replace(t, PII_EMAIL_PATTERN, "<EMAIL>")
    n_ip = F.regexp_count(t1, F.lit(PII_IPV4_PATTERN)).alias("n_ipv4")
    t2 = F.regexp_replace(t1, PII_IPV4_PATTERN, "<IP>")
    n_ph = F.regexp_count(t2, F.lit(PII_PHONE_PATTERN)).alias("n_phones")
    t3 = F.regexp_replace(t2, PII_PHONE_PATTERN, "<PHONE>")
    out = fan_out(documents).select(
        "doc_id", t3.alias("clean_text"), n_em, n_ip, n_ph
    )
    return out.withColumn(
        "n_pii", F.col("n_emails") + F.col("n_ipv4") + F.col("n_phones")
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated-span mass — the "how much of this document
# exists verbatim elsewhere in the corpus" dial (the metric behind exact
# substring dedup, Lee et al. 2022 "Deduplicating Training Data Makes
# Language Models Better"; the suffix-array formulation is single-machine,
# this is the distributed fixed-window realization).
# ---------------------------------------------------------------------------


def dup_span_stats(
    documents: DataFrame,
    w: int = 8,
    text_col: str = "text",
    span_key: str = "xxhash64",
) -> DataFrame:
    """Per-document fraction of ``w``-token windows that also occur in at
    least one OTHER document: (doc_id, n_spans, dup_spans, dup_span_frac).

    Windows are DISTINCT per document — a span repeated inside one doc is
    within-doc repetition (:func:`repetition_stats`' job); this operator
    measures cross-corpus sharing, the signal exact-substring dedup
    thresholds on (docs above ~0.8 are boilerplate/mirrors; the planted
    near-duplicates in the fixture corpus light up at any w).

    Plan (unique-span attribution, single tokenize, join-free — the r9
    measured A/B winner, recorded in SCALE.md's dup-span row): spans are
    distinct per doc, so a span with global document frequency 1 belongs
    to exactly ONE doc — ``min(doc_id)`` in the same partial-aggregated
    ``groupBy`` pass names it, and ``dup_spans = n_spans - n_uniq``.
    The per-doc span count rides the SAME exchange as the span rows:
    every doc emits one SENTINEL row alongside its real span rows, and
    the grouping key is ``(win, _sent BOOLEAN)`` — the flag makes the
    sentinel key space structurally disjoint from real spans (no value
    collision possible in any key mode), the sentinel's ``win`` is the
    doc_id (unique, so each sentinel is its own group), and the doc's
    span count rides a VALUE column on the sentinel row. r8 keyed
    sentinels with a nullable-STRING ``sdoc`` column instead and joined
    the result back onto a broadcast doc spine; the A/B measured that
    plan at 0.68-0.77 s solo vs 0.47-0.63 for this one (md5 mode,
    sf0.1, fresh JVM per variant, 3 interleaved rounds x 2 windows) —
    the string key cast and the redundant spine join (the sentinel
    already covers every doc: a doc under ``w`` tokens emits the
    (doc_id, 0-count) sentinel) were the r8 regression. The corpus is
    tokenized ONCE, the exploded stream shuffled ONCE, map-side
    pre-combined (a universally-common boilerplate span collapses to
    one row per task before the exchange); the r7 variant re-evaluated
    the window array map-only on a spine branch just to take
    ``size()``, tokenizing every document twice. Deliberately NOT a
    window over the span key — WindowExec sorts every occurrence of a
    hot span in one task and window skew is not AQE-mitigated — and NOT
    a join anywhere: the second groupBy lands on the reduced
    (unique-span + sentinel) rows. Shuffle payload is one fixed-width
    hash per token position, not the w-word string:
    ``span_key='xxhash64'`` (production, codegen'd); ``'md5'`` for
    cross-engine oracle digest parity; ``'raw'`` keeps the span text
    for debugging. No df cap is needed — unlike the pair families
    nothing fans out quadratically; a universally-common span costs one
    counter row after partial aggregation.
    """
    if w < 1:
        raise ValueError(f"window must be >= 1 token, got {w}")
    keyers = {
        "xxhash64": lambda c: f"xxhash64({c})",
        "md5": lambda c: f"md5({c})",
        "raw": lambda c: c,
    }
    if span_key not in keyers:
        raise ValueError(f"span_key must be one of {sorted(keyers)}")
    base = stage_tokens(documents, text_col, "doc_id")
    span = "concat_ws(' ', " + ", ".join(
        f"element_at(_toks, i + {j})" for j in range(w)
    ) + ")"
    key_type = "BIGINT" if span_key == "xxhash64" else "STRING"
    wins_expr = (
        f"CASE WHEN size(_toks) >= {w} THEN "
        f"array_distinct(transform(sequence(1, size(_toks) - {w - 1}), "
        f"i -> {keyers[span_key](span)})) "
        f"ELSE CAST(array() AS ARRAY<{key_type}>) END"
    )
    # Stage the distinct-window array behind a projection barrier
    # (CollapseProject declines to inline a non-cheap alias referenced
    # more than once), then emit the sentinel + span rows from the ONE
    # computed array: the corpus is tokenized exactly once.
    staged = base.select("doc_id", F.expr(wins_expr).alias("_wins"))
    # posexplode of the PLAIN array with a sentinel value prepended —
    # pos 0 is the sentinel, pos > 0 a real span. No per-element struct
    # lambda over the big array (measured ~25% of the map CPU when the
    # sentinel was struct-wrapped via transform). The sentinel's win is
    # the doc_id (cast to the key type), which is only a UNIQUENESS
    # carrier — the (win, _sent) flag key keeps sentinels structurally
    # disjoint from real spans even on a literal value collision, and
    # the doc's span count rides the _cnt VALUE column.
    sent_win = (
        "doc_id" if span_key == "xxhash64" else f"CAST(doc_id AS {key_type})"
    )
    rows = staged.select(
        "doc_id",
        F.size("_wins").cast("long").alias("_n"),
        F.posexplode(
            F.expr(f"concat(array({sent_win}), _wins)")
        ).alias("_pos", "win"),
    ).select(
        "doc_id",
        "win",
        (F.col("_pos") == 0).alias("_sent"),
        F.when(F.col("_pos") == 0, F.col("_n")).alias("_cnt"),
    )
    # Unique-span attribution, NOT a window over the span key and NOT a
    # join anywhere: spans are DISTINCT per doc, so a span with global
    # document frequency 1 belongs to exactly one doc — min(doc_id) in
    # the SAME partial-aggregated pass names it. Then dup_spans =
    # n_spans - n_uniq. The exploded stream is shuffled exactly once,
    # pre-combined map-side (a universally-common boilerplate span
    # collapses to one row per task before the exchange), and no hot
    # span key ever concentrates in one task — whereas WindowExec would
    # sort every occurrence of a hot span in a single task (window skew
    # is not AQE-mitigated). Sentinel groups are kept unconditionally
    # (each is its own group: win = the unique doc_id); real span groups
    # only when df=1 (a unique span). The second groupBy sees one row
    # per unique span plus one per doc — already reduced, cheap
    # exchange — and emits every doc (zero-span docs ride their own
    # (doc_id, 0) sentinel), so no spine join is needed for coverage.
    per_doc = (
        rows.groupBy("win", "_sent")
        .agg(
            F.count(F.lit(1)).alias("_df"),
            F.min("doc_id").alias("_d0"),
            F.max("_cnt").alias("_cnt"),
        )
        .where(F.col("_sent") | (F.col("_df") == 1))
        .groupBy(F.col("_d0").alias("doc_id"))
        .agg(
            F.max(F.when(F.col("_sent"), F.col("_cnt"))).alias("n_spans"),
            F.sum(F.when(~F.col("_sent"), 1).otherwise(0)).alias("n_uniq"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        (
            F.coalesce("n_spans", F.lit(0))
            - F.coalesce("n_uniq", F.lit(0))
        ).alias("dup_spans"),
        F.coalesce(
            F.round(
                (
                    F.coalesce("n_spans", F.lit(0))
                    - F.coalesce("n_uniq", F.lit(0))
                ).cast("double")
                / F.nullif(F.col("n_spans"), F.lit(0)).cast("double"),
                6,
            ),
            F.lit(0.0),
        ).alias("dup_span_frac"),
    )


def remove_dup_spans(
    documents: DataFrame,
    w: int = 8,
    text_col: str = "text",
    span_key: str = "xxhash64",
) -> DataFrame:
    """Exact-substring dedup TRANSFORM — the removal half of Lee et al.
    2022 (``dup_span_stats`` is the metric): rewrite every document with
    each token that falls inside a cross-document duplicated ``w``-token
    window dropped. Returns ``(doc_id, clean_text, n_kept, n_removed)``.

    "Duplicated" means the window occurs in more than one DISTINCT
    document (within-doc repeats are repetition, not cross-corpus
    sharing — the same rule as the metric); ALL positions of a
    duplicated window in a doc are removed, overlapping windows merge
    naturally at the token-index grain.

    Plan (every stage linear in the token stream, no windows, no
    self-joins): position stream (doc_id, pos, key) → two-level partial
    aggregation for the per-span distinct-doc frequency (hot boilerplate
    collapses map-side at the (win, doc) grain first) → equi-join of the
    df>1 span set back onto the position stream (probe side
    AQE-skew-splittable) → explode each hit to its covered token indices
    (×w fan-out, w is a constant) → distinct (doc, idx) → anti-join
    against the posexploded token stream → per-doc re-collect where
    ``array_sort`` on (idx, tok) structs restores document order — the
    identical re-collect contract as ``encode_with_vocab``. The doc
    spine left-joins back so fully-removed and empty docs survive with
    ``clean_text = ''``."""
    if w < 1:
        raise ValueError(f"window must be >= 1 token, got {w}")
    keyers = {
        "xxhash64": lambda c: f"xxhash64({c})",
        "md5": lambda c: f"md5({c})",
        "raw": lambda c: c,
    }
    if span_key not in keyers:
        raise ValueError(f"span_key must be one of {sorted(keyers)}")
    base = stage_tokens(documents, text_col, "doc_id")
    span = "concat_ws(' ', " + ", ".join(
        f"element_at(_toks, i + {j})" for j in range(w)
    ) + ")"
    key_type = "BIGINT" if span_key == "xxhash64" else "STRING"
    posw_expr = (
        f"CASE WHEN size(_toks) >= {w} THEN "
        f"transform(sequence(1, size(_toks) - {w - 1}), "
        f"i -> struct(i AS pos, {keyers[span_key](span)} AS win)) "
        f"ELSE CAST(array() AS ARRAY<STRUCT<pos: INT, win: {key_type}>>) END"
    )
    posw = base.select(
        "doc_id", F.explode(F.expr(posw_expr)).alias("u")
    ).select("doc_id", F.col("u.pos").alias("pos"), F.col("u.win").alias("win"))
    # distinct-doc frequency in two partial-aggregated levels: the
    # (win, doc) grain dedups within-doc repeats map-side, then the win
    # grain counts docs — never count(DISTINCT) in one skewable pass
    dup_wins = (
        posw.groupBy("win", "doc_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("win")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > 1)
        .select("win")
    )
    covered = (
        posw.join(dup_wins, "win")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(w - 1))
            ).alias("idx"),
        )
        .groupBy("doc_id", "idx")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select("doc_id", "idx")
    )
    # covered indices are always valid token positions (windows start at
    # 1..n-w+1 and extend w-1), so n_removed == |covered| exactly — the
    # doc spine never needs a token count of its own (one fewer tokenize
    # pass than a n_total - n_kept formulation)
    removed = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_removed")
    )
    toks = base.select(
        "doc_id", F.posexplode("_toks").alias("idx0", "tok")
    ).select("doc_id", (F.col("idx0") + 1).alias("idx"), "tok")
    kept = toks.join(covered, ["doc_id", "idx"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list(struct(idx, tok))), "
                "s -> s.tok)"
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
    )
    return (
        documents.select("doc_id")
        .join(cleaned, "doc_id", "left")
        .join(removed, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias(
                "n_removed"
            ),
        )
    )


def lm_bigram_score(
    documents: DataFrame,
    k: int = 1,
    text_col: str = "text",
    model_docs: DataFrame | None = None,
) -> DataFrame:
    """Corpus-trained bigram language-model scoring — the CCNet/KenLM
    perplexity-filter pattern (Wenzek et al. 2020) with the model
    trained on the corpus itself (default) or on a separate
    ``model_docs`` slice — the real CCNet deployment trains on a
    held-out high-quality slice and scores the crawl against it:
    documents whose token transitions are atypical for the MODEL side
    score a high average negative log likelihood and can be filtered or
    re-weighted downstream. With a separate model, bigrams unseen in
    training back off add-``k``-style: a known head word ``w1`` prices
    the unseen pair at ``k/(c(w1)+k·V)``, an unknown head at ``1/V``
    (the ``c1=0`` case of the same formula) — the fallback ``ln`` is
    quantized to the same 6-decimal grid before the exact sum.

    Model: add-``k`` smoothed bigram ML estimate over Java-``\\W+``
    tokens,  ``p(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V)``  with ``V``
    the corpus unigram vocabulary size. Per document the score is the
    mean of ``-ln p`` over its adjacent token pairs (``avg_nll``;
    perplexity is ``exp(avg_nll)``, left to the caller — no second
    transcendental in the checked output).

    Cross-engine determinism: every count is an exact integer, the
    probability is one correctly-rounded IEEE division, and the single
    transcendental (``ln``) is computed ONCE PER DISTINCT BIGRAM TYPE,
    quantized to 6 decimals, and summed as DECIMAL(25,6) — an exact,
    order-independent accumulation (the same pattern as
    ``text_corpus_composition``'s mean-quality sum), so a DuckDB oracle
    replays the value bit-for-bit without depending on float summation
    order.

    100 TB shape: three shuffles that all scale with the token stream,
    none with its square — (1) unigram counts, (2) bigram counts
    (map-side partial combine collapses both to the distinct-type
    grain), (3) the score join of the PRE-AGGREGATED (doc, bigram-type,
    count) grain against the bigram model on ``(w1, w2)`` followed by
    the per-doc reduce — the shuffle carries distinct types per doc,
    not the token stream.
    The vocabulary scalar ``V`` rides in as a broadcast single-row
    frame (no collect, no crossJoin re-scan of the corpus subtree —
    the census-window lesson from mixture_sample applied to a 1-row
    census). The model table is Zipf-bounded by distinct bigram types,
    far below the token stream; the join is AQE-splittable on skewed
    head words.
    """
    staged = stage_tokens(documents, text_col, "doc_id")
    tr_staged = (
        staged
        if model_docs is None
        else stage_tokens(model_docs, text_col, "doc_id")
    )
    pairs = staged.select(
        "doc_id",
        F.expr(word_pairs_sql("_toks")).alias("_bi"),
    )
    bi = pairs.select("doc_id", F.explode("_bi").alias("b")).select(
        "doc_id",
        F.col("b").getField("0").alias("w1"),
        F.col("b").getField("1").alias("w2"),
    )
    if model_docs is None:
        tr_bi = bi
    else:
        tr_pairs = tr_staged.select(
            "doc_id",
            F.expr(word_pairs_sql("_toks")).alias("_bi"),
        )
        tr_bi = tr_pairs.select(F.explode("_bi").alias("b")).select(
            F.col("b").getField("0").alias("w1"),
            F.col("b").getField("1").alias("w2"),
        )
    uni = (
        tr_staged.select(F.explode("_toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.select(F.count(F.lit(1)).alias("_v"))
    model = (
        tr_bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.round(
                -F.log(
                    (F.col("c12") + F.lit(k)).cast("double")
                    / (F.col("c1") + F.lit(k) * F.col("_v")).cast("double")
                ),
                6,
            ).alias("nll6"),
        )
    )
    # Pre-aggregate the occurrence stream to the (doc, bigram-type)
    # grain BEFORE the model join: the shuffle then carries only the
    # Zipf-bounded distinct types per doc, not every token transition,
    # and the exact-decimal sum accumulates cnt·nll6 (still exact:
    # DECIMAL(12,0) × DECIMAL(25,6) stays under the 38-digit cap).
    doc_bi = bi.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    if model_docs is None:
        # self-trained: every scored bigram exists in the model by
        # construction — plain inner join, no fallback branch in the plan
        scored = doc_bi.join(model, ["w1", "w2"])
    else:
        fallback = F.round(
            -F.log(
                F.lit(float(k))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(k) * F.col("_v")).cast(
                    "double"
                )
            ),
            6,
        )
        scored = (
            doc_bi.join(model, ["w1", "w2"], "left")
            .join(uni, "w1", "left")
            .crossJoin(F.broadcast(vocab))
            .withColumn("nll6", F.coalesce("nll6", fallback))
        )
    per_doc = (
        scored
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            # cast the (38,6) sum back to (25,6) — exact at any real
            # document size, and keeps the ×1e6 micro-unit conversion
            # below inside the 38-digit cap with scale preserved
            F.sum(
                F.col("cnt").cast("decimal(12,0)")
                * F.col("nll6").cast("decimal(25,6)")
            )
            .cast("decimal(25,6)")
            .alias("_s"),
        )
    )
    # avg_nll is FLOOR-quantized at the 6th decimal via exact integer
    # division of the decimal sum's micro-units — NOT round(sum/n, 6):
    # a 6-dp decimal divided by an integer lands exactly ON the .5e-6
    # midpoint whenever n's factors divide out (measured at sf0.1: one
    # doc with sum/n = 3.4140895 flipped between engines — round-half
    # rules on doubles are engine-divergent at exact midpoints; floor
    # of an exact integer quotient cannot be).
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce(
                F.round(F.col("_s").cast("double"), 6), F.lit(0.0)
            ).alias("nll_sum"),
            F.coalesce(
                F.expr(
                    "CAST((CAST(_s * 1000000 AS BIGINT) DIV n_bigrams)"
                    " AS DOUBLE) / 1000000.0"
                ),
                F.lit(0.0),
            ).alias("avg_nll"),
        )
    )


def tfidf_keywords(
    documents: DataFrame, top_k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Per-document top-``top_k`` keywords by a tf-idf weighting —
    the representative-terms view a corpus card or a topic drill-down
    needs (and the cheap feature behind keyword-based near-dup triage).

    Weighting: ``score = tf · (N + 1) / (df + 1)`` over Java-``\\W+``
    tokens with the English function words (EN_STOPWORDS) and empty
    tokens removed; ``tf`` is the in-document occurrence count, ``df``
    the number of distinct documents containing the term, ``N`` the
    number of documents with at least one kept term. The RATIONAL idf
    variant ``(N+1)/(df+1)`` (Salton's idf family without the log) is
    deliberate: every score is integer arithmetic plus two
    correctly-rounded IEEE operations, so the per-document ranking is
    bit-identical in any engine — a log idf would hang tie-breaks on
    the last ulp of a transcendental. Ordering: score desc, term asc;
    ``rk`` is dense 1..top_k by row_number.

    100 TB shape: tf is one (doc_id, term) aggregation of the token
    stream (map-side combined); df reuses tf's distinct grain (no
    second pass over tokens); the scalar N rides in as a broadcast
    1-row frame; and the final per-doc top-k filter on
    ``row_number() <= top_k`` compiles to a WindowGroupLimit — Spark
    pushes a partial top-k below the window shuffle, so the sort state
    per document is O(top_k), not O(terms).
    """
    staged = stage_tokens(documents, text_col, "doc_id")
    terms = (
        staged.select("doc_id", F.explode("_toks").alias("term"))
        .filter(
            (F.length("term") > 0) & (~F.col("term").isin(*EN_STOPWORDS))
        )
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select(F.count_distinct("doc_id").alias("_n"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("_score_raw"), F.asc("term")
    )
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * (
                    (F.col("_n") + F.lit(1)).cast("double")
                    / (F.col("df") + F.lit(1)).cast("double")
                )
            ).alias("_score_raw"),
        )
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select(
            "doc_id",
            F.col("rk").cast("int").alias("rk"),
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            # floor-quantized at the 6th decimal: round-half rules on
            # doubles are engine-divergent at exact midpoints (which
            # tf·(N+1)/(df+1) CAN hit when df+1 is a power of 2·5);
            # floor of the identical double has no tie to disagree on
            (F.floor(F.col("_score_raw") * F.lit(1000000.0)) / F.lit(1000000.0)).alias(
                "score"
            ),
        )
    )


def source_quality_cap(
    documents: DataFrame, cap: int = 50, text_col: str = "text"
) -> DataFrame:
    """Per-source contribution cap: keep at most ``cap`` documents from
    each ``source``, preferring the highest quality_score — the
    deterministic-rank counterpart of mixture_sample's hash-rate
    downsampling (a recipe says "at most N documents from domain X,
    best first", not "a random N").

    Ordering is (quality desc, doc_id asc) on the ROUNDED quality so
    both engines rank the same integers-and-ratios arithmetic; doc_id
    breaks exact quality ties. Returns the kept rows with their
    within-source rank.

    100 TB shape: one shuffle on ``source`` — and because the filter is
    ``row_number() <= cap``, Spark's WindowGroupLimit rewrites it into
    a map-side partial top-``cap`` per source BEFORE the exchange, so a
    skewed mega-source ships ~``cap`` rows per input task rather than
    its entire population through one reducer (plan-asserted in the
    tests; the same optimization window_row_number_topn leans on).
    """
    q = _quality_exprs(F.col(text_col), F.col("_toks"))
    scored = stage_tokens(documents, text_col, "doc_id", "source").select(
        "doc_id", "source", F.round(q["quality"], 6).alias("quality")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
        .select("doc_id", "source", "quality", F.col("rk").cast("int").alias("rk"))
    )


def nb_classify(
    documents: DataFrame,
    label_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Multinomial Naive Bayes document classifier, trained and applied
    as one dataflow — the closed-form stand-in for the fastText-style
    quality/domain classifier every LLM data pipeline runs (train on a
    labeled slice, score the corpus; here the corpus doubles as the
    labeled slice, so the entry also yields a resubstitution-accuracy
    signal ``is_correct``).

    Model: add-1 smoothed token likelihoods per class,
    ``p(w|c) = (cnt(w,c)+1) / (tok_c + V)``, priors ``n_c / N``; a
    document's class score is ``ln prior + Σ_w tf_w · ln p(w|c)`` and
    the prediction is the argmax (ties broken by class name).

    Cross-engine determinism, same contract as :func:`lm_bigram_score`:
    all counts are integers, each ``ln`` is computed once per distinct
    (term, class) — or once per class for the unseen-pair default —
    quantized to DECIMAL(18,6), and accumulated with ``tf`` cast to
    DECIMAL(12,0) so the (30,6) product and its sum stay under both
    engines' 38-digit cap (every step exact), and class
    scores and the argmax replay bit-for-bit in any engine.

    100 TB shape: token-stream-linear aggregations for the model (the
    (term, class) grain is Zipf-bounded); the class table (priors +
    totals + unseen defaults) is |classes| rows and broadcasts; scoring
    fans the per-doc term grain out by |classes| (explicit, documented
    cost — 20 classes → 20×) through one broadcast nested-loop, then a
    shuffle join against the (term, class) likelihood table and one
    per-doc aggregation. The argmax is ``row_number() <= 1`` —
    WindowGroupLimit, map-side partial top-1.
    """
    staged = stage_tokens(documents, text_col, "doc_id", label_col)
    toks = staged.select(
        "doc_id", F.col(label_col).alias("_cls"), F.explode("_toks").alias("term")
    )
    tf = toks.groupBy("doc_id", "_cls", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    wc = tf.groupBy("_cls", "term").agg(F.sum("tf").alias("cnt"))
    vocab = wc.select(F.count_distinct("term").alias("_v"))
    class_tok = wc.groupBy("_cls").agg(F.sum("cnt").alias("tok_c"))
    from pyspark.sql import Window

    census_w = Window.partitionBy()
    priors = (
        documents.groupBy(F.col(label_col).alias("_cls"))
        .agg(F.count(F.lit(1)).alias("n_c"))
        .withColumn("_n", F.sum("n_c").over(census_w))
        .select(
            "_cls",
            F.round(
                F.log(F.col("n_c").cast("double") / F.col("_n").cast("double")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("prior6"),
        )
    )
    classes = (
        class_tok.crossJoin(F.broadcast(vocab))
        .join(priors, "_cls")
        .select(
            "_cls",
            "prior6",
            (F.col("tok_c") + F.col("_v")).alias("denom"),
            F.round(
                F.log(
                    F.lit(1.0) / (F.col("tok_c") + F.col("_v")).cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("dflt6"),
        )
    )
    llk = (
        wc.join(classes.select("_cls", "denom"), "_cls")
        .select(
            "_cls",
            "term",
            F.round(
                F.log(
                    (F.col("cnt") + F.lit(1)).cast("double")
                    / F.col("denom").cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("llk6"),
        )
    )
    doc_terms = tf.select("doc_id", F.col("_cls").alias("_actual"), "term", "tf")
    scored = (
        doc_terms.crossJoin(
            F.broadcast(classes.select("_cls", "prior6", "dflt6"))
        )
        .join(llk, ["_cls", "term"], "left")
        .select(
            "doc_id",
            "_actual",
            "_cls",
            "prior6",
            (
                F.col("tf").cast("decimal(12,0)")
                * F.coalesce("llk6", "dflt6")
            ).alias("contrib"),
        )
        .groupBy("doc_id", "_actual", "_cls")
        .agg((F.first("prior6") + F.sum("contrib")).alias("score_d"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_d"), F.asc("_cls")
    )
    best = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("_cls").alias("_pred"),
            F.round(F.col("score_d").cast("double"), 6).alias("_score"),
        )
    )
    # Zero-token documents (all-delimiter / empty / NULL text) produce
    # no term rows, so their score is the prior alone — argmax over
    # priors (class-name tie-break), filled from a 1-row broadcast so
    # every input document keeps its feature row (the text_doc_metrics
    # wide merge inner-joins on doc_id).
    prior_best = (
        classes.select("_cls", "prior6")
        .orderBy(F.desc("prior6"), F.asc("_cls"))
        .limit(1)
        .select(
            F.col("_cls").alias("_bp_cls"),
            F.round(F.col("prior6").cast("double"), 6).alias("_bp_score"),
        )
    )
    return (
        documents.select("doc_id", F.col(label_col).alias("_actual"))
        .join(best, "doc_id", "left")
        .crossJoin(F.broadcast(prior_best))
        .select(
            "doc_id",
            F.coalesce("_pred", "_bp_cls").alias("pred_label"),
            F.col("_actual").alias("actual_label"),
            F.coalesce("_score", "_bp_score").alias("nb_score"),
            F.when(
                F.coalesce("_pred", "_bp_cls") == F.col("_actual"), F.lit(1)
            )
            .otherwise(F.lit(0))
            .cast("int")
            .alias("is_correct"),
        )
    )


def gopher_rules(
    documents: DataFrame,
    min_words: int = 30,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 5.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style rule-set quality filter (Rae et al. 2021, table A1
    realization): per-document boolean gates on word count, mean word
    length, symbol-to-word ratio, alphabetic-word fraction, and
    function-word count, plus the conjunction ``passes`` — the cheap
    rule filter a pipeline runs before any model-based scoring.

    Every signal is a count or a single IEEE division of counts; the
    GATES compare those exact unquantized doubles against literal
    thresholds, and the emitted signal columns are floor-quantized at
    the 6th decimal (`_floor6` — round(double, 6) is engine-divergent
    at exact .5e-6 midpoints, which an integer ratio like 2241/640 =
    3.5015625 lands on; SCALE.md ground rules). Map-only: one codegen'd
    projection per document, zero shuffles — scan-speed at 100 TB like
    the rest of this module.
    """
    sig, flags = _gopher_signals(
        min_words,
        max_words,
        min_mean_word_len,
        max_mean_word_len,
        max_symbol_ratio,
        min_alpha_frac,
        min_stop_hits,
        text_col,
    )

    def _i(c) -> Column:
        return F.when(c, F.lit(1)).otherwise(F.lit(0)).cast("int")

    return stage_tokens(documents, text_col, "doc_id").select(
        "doc_id",
        sig["n_words"].alias("n_words"),
        _floor6(sig["mwl"]).alias("mean_word_len"),
        _floor6(sig["sym_ratio"]).alias("symbol_ratio"),
        _floor6(sig["alpha_frac"]).alias("alpha_frac"),
        sig["n_stop"].cast("int").alias("n_stop_hits"),
        _i(flags["ok_words"]).alias("ok_words"),
        _i(flags["ok_mwl"]).alias("ok_mean_word_len"),
        _i(flags["ok_sym"]).alias("ok_symbol_ratio"),
        _i(flags["ok_alpha"]).alias("ok_alpha_frac"),
        _i(flags["ok_stop"]).alias("ok_stop_hits"),
        _i(flags["passes"]).alias("passes"),
    )


def _gopher_signals(
    min_words: int,
    max_words: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    max_symbol_ratio: float,
    min_alpha_frac: float,
    min_stop_hits: int,
    text_col: str,
) -> tuple[dict[str, Column], dict[str, Column]]:
    """The shared (signals, gates) column expressions over a STAGED
    token frame — consumed by :func:`gopher_rules` (the scored view)
    and :func:`gopher_pass_filter` (the map-only streaming-ingest
    gate). Reuses the module helpers (`_mean_token_len`,
    `_stop_occurrences`) so the signal definitions exist once."""
    toks = F.col("_toks")
    n_words = F.size(toks)
    mwl = _mean_token_len(toks)
    n_sym = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[#…]"), 0))
    sym_ratio = F.when(
        n_words > 0, n_sym.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    alpha_frac = F.when(
        n_words > 0, n_alpha.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    n_stop = _stop_occurrences(toks)
    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_mwl = (mwl >= min_mean_word_len) & (mwl <= max_mean_word_len)
    ok_sym = sym_ratio <= max_symbol_ratio
    ok_alpha = alpha_frac >= min_alpha_frac
    ok_stop = n_stop >= min_stop_hits
    return (
        {
            "n_words": n_words,
            "mwl": mwl,
            "sym_ratio": sym_ratio,
            "alpha_frac": alpha_frac,
            "n_stop": n_stop,
        },
        {
            "ok_words": ok_words,
            "ok_mwl": ok_mwl,
            "ok_sym": ok_sym,
            "ok_alpha": ok_alpha,
            "ok_stop": ok_stop,
            "passes": ok_words & ok_mwl & ok_sym & ok_alpha & ok_stop,
        },
    )


def gopher_pass_filter(
    documents: DataFrame,
    min_words: int = 30,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 5.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """MAP-ONLY rule gate: return the input rows (original columns)
    whose :func:`gopher_rules` conjunction passes — one staged
    projection + one filter, no join, no second scan of the input; the
    shape the streaming ingest loop needs (cheapest-gate-first)."""
    cols = documents.columns
    _, flags = _gopher_signals(
        min_words,
        max_words,
        min_mean_word_len,
        max_mean_word_len,
        max_symbol_ratio,
        min_alpha_frac,
        min_stop_hits,
        text_col,
    )
    keep = [c for c in cols if c != text_col]
    return (
        stage_tokens(documents, text_col, *keep)
        .filter(flags["passes"])
        .select(*cols)
    )


def _drop_model_tables(spark, *names: str) -> None:
    """DROP each table AND delete its (possibly stale) storage
    location: a table directory can outlive the catalog entry (a fresh
    session over an old warehouse), and saveAsTable would then die on
    LOCATION_ALREADY_EXISTS. Two candidate locations per table: the
    engine's explicit ``table_location`` (every writer since r12) and
    the session warehouse (pre-r12 leftovers)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    for t in names:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        for loc in (table_location(t), f"{wh}/{t}"):
            jpath = jvm.org.apache.hadoop.fs.Path(loc)
            fs = jpath.getFileSystem(hconf)
            if fs.exists(jpath):
                fs.delete(jpath, True)


def save_lm_model(
    documents: DataFrame,
    prefix: str = "lm_model",
    k: int = 1,
    text_col: str = "text",
) -> None:
    """Persist the add-``k`` bigram LM :func:`lm_bigram_score` trains —
    the stored-model half of model-based scoring at ingest (the same
    build-once / probe-per-epoch lifecycle as the dedup index): three
    tables under ``prefix`` — ``{prefix}_bigrams`` (w1, w2, nll6,
    bucketed by w1 so the per-epoch score join co-locates on the head
    word), ``{prefix}_uni`` (w1, c1, the unseen-pair backoff side), and
    ``{prefix}_meta`` (1 row: V and k). Training cost is paid once; an
    epoch scores against the FROZEN model — no retraining inside the
    streaming loop."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.skew import (
        write_bucketed,
    )

    spark = documents.sparkSession
    _drop_model_tables(spark, f"{prefix}_bigrams", f"{prefix}_uni", f"{prefix}_meta")

    staged = stage_tokens(documents, text_col, "doc_id")
    pairs = staged.select(
        F.expr(word_pairs_sql("_toks")).alias("_bi")
    )
    bi = pairs.select(F.explode("_bi").alias("b")).select(
        F.col("b").getField("0").alias("w1"),
        F.col("b").getField("1").alias("w2"),
    )
    uni = (
        staged.select(F.explode("_toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.select(F.count(F.lit(1)).alias("_v"))
    model = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.round(
                -F.log(
                    (F.col("c12") + F.lit(k)).cast("double")
                    / (F.col("c1") + F.lit(k) * F.col("_v")).cast("double")
                ),
                6,
            ).alias("nll6"),
        )
    )
    write_bucketed(model, f"{prefix}_bigrams", "w1")
    write_bucketed(uni, f"{prefix}_uni", "w1")
    vocab.select(
        F.col("_v").alias("v"), F.lit(k).cast("int").alias("k")
    ).write.mode("overwrite").option(
        "path", table_location(f"{prefix}_meta")
    ).saveAsTable(f"{prefix}_meta")
    tidy_default_warehouse(spark)


def lm_score_from_model(
    documents: DataFrame,
    prefix: str = "lm_model",
    text_col: str = "text",
) -> DataFrame:
    """Score documents against a STORED :func:`save_lm_model` model —
    the per-epoch half: same output contract as
    :func:`lm_bigram_score` (n_bigrams, nll_sum, floor-quantized
    avg_nll), same add-k backoff for bigrams the model never saw. Cost
    is O(batch) joins against the frozen tables; the model-side
    aggregations are NOT re-run (they were paid at save time)."""
    spark = documents.sparkSession
    model = spark.table(f"{prefix}_bigrams")
    uni = spark.table(f"{prefix}_uni")
    meta = F.broadcast(spark.table(f"{prefix}_meta"))
    staged = stage_tokens(documents, text_col, "doc_id")
    pairs = staged.select(
        "doc_id",
        F.expr(word_pairs_sql("_toks")).alias("_bi"),
    )
    bi = pairs.select("doc_id", F.explode("_bi").alias("b")).select(
        "doc_id",
        F.col("b").getField("0").alias("w1"),
        F.col("b").getField("1").alias("w2"),
    )
    doc_bi = bi.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    fallback = F.round(
        -F.log(
            F.col("k").cast("double")
            / (
                F.coalesce(F.col("c1"), F.lit(0))
                + F.col("k") * F.col("v")
            ).cast("double")
        ),
        6,
    )
    scored = (
        doc_bi.join(model, ["w1", "w2"], "left")
        .join(uni, "w1", "left")
        .crossJoin(meta)
        .withColumn("nll6", F.coalesce("nll6", fallback))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"),
        F.sum(
            F.col("cnt").cast("decimal(12,0)")
            * F.col("nll6").cast("decimal(25,6)")
        )
        .cast("decimal(25,6)")
        .alias("_s"),
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce(
                F.round(F.col("_s").cast("double"), 6), F.lit(0.0)
            ).alias("nll_sum"),
            F.coalesce(
                F.expr(
                    "CAST((CAST(_s * 1000000 AS BIGINT) DIV n_bigrams)"
                    " AS DOUBLE) / 1000000.0"
                ),
                F.lit(0.0),
            ).alias("avg_nll"),
        )
    )


def vocab_coverage(
    documents: DataFrame,
    coverage_ppm: int = 900000,
    max_vocab: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """Frequency-head vocabulary selection: the smallest set of terms
    (by corpus frequency, term-asc tie-break) whose cumulative token
    mass reaches ``coverage_ppm`` parts-per-million — the first step of
    training any tokenizer / fixed vocabulary on a corpus, and the
    coverage report a dataset card carries ("the top 50k types cover
    99.2% of tokens").

    Returns one row per head term, ``rank`` 1..``max_vocab``:
    ``(rank, term, tf, cum_tf, total_tf, cum_ppm, in_vocab)`` where
    ``cum_ppm = floor(cum_tf * 1e6 / total_tf)`` and ``in_vocab`` marks
    the minimal coverage prefix (a term is in-vocab iff the mass BEFORE
    it is still under ``coverage_ppm/1e6 * total_tf`` — so exactly the
    first vocabulary that reaches the target survives). All arithmetic
    is integer/decimal — the coverage target is an integer ppm, never a
    float, and every division is an explicit FLOOR on an exact decimal
    quotient — so ranks, booleans and ppm values are bit-identical on
    any engine and any partitioning (the midpoint-free ground rule,
    SCALE.md).

    100 TB shape: one ``groupBy(term)`` count of the token stream
    (map-side combined: the shuffle carries distinct types per task,
    not tokens); the head selection is ``row_number() <= max_vocab``
    over the unpartitioned (tf desc, term) order, which Spark's limit
    pushdown rewrites into ``TakeOrderedAndProject(limit=max_vocab)``
    BELOW the rank window — per-task top-``max_vocab`` heaps merged at
    the coordinator, no global sort of the vocabulary at all
    (plan-pinned in tests); the rank/running-sum windows then run over
    the parameter-bounded head only (a prefix sum over the head equals
    the global prefix sum — ranks below never contribute to ranks
    above). ``total_tf`` is deliberately NOT an aggregate of the term
    counts — that would run the term shuffle twice; the total token
    mass is the same number counted at the DOCUMENT grain, a map-only
    ``sum(size(tokens))`` scan that rides in as a broadcast 1-row
    frame, no collect.
    """
    from pyspark.sql import Window

    staged = stage_tokens(documents, text_col, "doc_id")
    terms = staged.select(F.explode("_toks").alias("term")).filter(
        F.length("term") > 0
    )
    tf = terms.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    total = staged.select(
        F.sum(F.size(F.filter(F.col("_toks"), lambda t: F.length(t) > 0)))
        .cast("decimal(38,0)")
        .alias("total_tf")
    )
    w = Window.orderBy(F.desc("tf"), F.asc("term"))
    head = (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= max_vocab)
        .withColumn(
            "cum_tf",
            F.sum("tf").over(
                Window.orderBy(F.desc("tf"), F.asc("term")).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
    )
    return head.crossJoin(F.broadcast(total)).select(
        F.col("rank").cast("int").alias("rank"),
        "term",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("cum_tf").cast("bigint").alias("cum_tf"),
        F.col("total_tf").cast("bigint").alias("total_tf"),
        # DIV, not floor(a/b): decimal division rounds at its result
        # scale BEFORE a floor could act, and at 1e14-token corpora a
        # quotient within 0.5e-6 below an integer floors wrong; DIV is
        # exact integral division at any magnitude (the LM family's
        # idiom)
        F.expr(
            "CAST((CAST(cum_tf AS DECIMAL(38,0)) * 1000000)"
            " DIV total_tf AS BIGINT)"
        ).alias("cum_ppm"),
        (
            (F.col("cum_tf") - F.col("tf")).cast("decimal(38,0)")
            * F.lit(1000000)
            < F.lit(int(coverage_ppm)).cast("decimal(38,0)")
            * F.col("total_tf")
        ).alias("in_vocab"),
    )


def _slice_token_totals(staged: DataFrame) -> DataFrame:
    """1-row (total_a, total_b) token-mass frame from a staged
    (_toks, _a, _b) projection — document-grain map-only counting, so
    the drift operators never run the term-grain shuffle twice."""
    kept = F.size(F.filter(F.col("_toks"), lambda t: F.length(t) > 0))
    return staged.select(
        F.sum(F.when(F.col("_a"), kept).otherwise(0))
        .cast("decimal(38,0)")
        .alias("total_a"),
        F.sum(F.when(F.col("_b"), kept).otherwise(0))
        .cast("decimal(38,0)")
        .alias("total_b"),
    )


def term_drift(
    documents: DataFrame,
    a_filter: Column,
    b_filter: Column | None = None,
    top_k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Per-term distribution drift between two corpus slices — the
    monitoring dial a continuous-ingestion pipeline reads to catch a
    source going off-distribution (new epoch vs accepted corpus, one
    source vs the rest, this week vs last week).

    For each term, compares its rate in slice A (rows matching
    ``a_filter``) against slice B (``b_filter``, default NOT A) and
    ranks terms by their exact total-variation contribution
    ``|tf_a * total_b - tf_b * total_a|`` — the |p_a - p_b| numerator
    over the common denominator ``total_a * total_b``, kept as exact
    DECIMAL(38,0) integer arithmetic (a float p_a - p_b loses the
    low-rate terms to cancellation; a log-ratio hangs on transcendental
    ulps — the same reason the LM family quantizes, SCALE.md). Returns
    the top-``top_k`` drifting terms:
    ``(rank, term, tf_a, tf_b, rate_a_ppm, rate_b_ppm, drift_num)``
    with per-slice rates floor-quantized to ppm.

    100 TB shape: ONE shuffled pass over the token stream — the slice
    flag is projected per document and the two counts are conditional
    aggregates in the same ``groupBy(term)`` (map-side combined), so
    drift costs the same shuffle as a plain vocabulary count; the two
    totals are counted at the DOCUMENT grain (map-only
    ``sum(size(tokens))`` per slice — never a second term shuffle) and
    ride in as one broadcast 1-row frame; the final ranking is
    ``row_number() <= top_k``, which limit pushdown rewrites into
    ``TakeOrderedAndProject`` below the rank window (per-task top-k
    heaps, no global vocabulary sort). Use :func:`corpus_drift` for
    the scalar distance.
    """
    from pyspark.sql import Window

    if b_filter is None:
        b_filter = ~a_filter
    flagged = documents.select(
        text_col, a_filter.alias("_a"), b_filter.alias("_b")
    ).filter(F.col("_a") | F.col("_b"))
    staged = stage_tokens(flagged, text_col, "_a", "_b")
    terms = staged.select(
        F.explode("_toks").alias("term"), "_a", "_b"
    ).filter(F.length("term") > 0)
    tf = terms.groupBy("term").agg(
        F.sum(F.when(F.col("_a"), 1).otherwise(0)).alias("tf_a"),
        F.sum(F.when(F.col("_b"), 1).otherwise(0)).alias("tf_b"),
    )
    totals = _slice_token_totals(staged)
    scored = tf.crossJoin(F.broadcast(totals)).select(
        "term",
        "tf_a",
        "tf_b",
        F.abs(
            F.col("tf_a").cast("decimal(38,0)") * F.col("total_b")
            - F.col("tf_b").cast("decimal(38,0)") * F.col("total_a")
        )
        .cast("decimal(38,0)")
        .alias("drift_num"),
        # DIV: exact integral division at any magnitude (see
        # vocab_coverage's cum_ppm note)
        F.expr(
            "CAST((CAST(tf_a AS DECIMAL(38,0)) * 1000000)"
            " DIV total_a AS BIGINT)"
        ).alias("rate_a_ppm"),
        F.expr(
            "CAST((CAST(tf_b AS DECIMAL(38,0)) * 1000000)"
            " DIV total_b AS BIGINT)"
        ).alias("rate_b_ppm"),
    )
    w = Window.orderBy(F.desc("drift_num"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("rank").cast("int").alias("rank"),
            "term",
            F.col("tf_a").cast("bigint").alias("tf_a"),
            F.col("tf_b").cast("bigint").alias("tf_b"),
            "rate_a_ppm",
            "rate_b_ppm",
            "drift_num",
        )
    )


def corpus_drift(
    documents: DataFrame,
    a_filter: Column,
    b_filter: Column | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Scalar total-variation distance between the term distributions of
    two corpus slices: ``TVD = 1/2 * sum_t |p_a(t) - p_b(t)|`` — the
    one-number alert threshold over :func:`term_drift`'s per-term view
    (0 = identical distributions, 1 = disjoint vocabularies).

    Exact integer arithmetic end to end: the sum of
    ``|tf_a * total_b - tf_b * total_a|`` over all terms divided by
    ``2 * total_a * total_b``, emitted floor-quantized as ``tvd_ppm``
    (BIGINT) next to the raw totals — no float summation order to
    drift, no rounding rule to diverge, so the alert dial is
    bit-reproducible across engines and partitionings.

    100 TB shape: the same single shuffled token-stream pass as
    :func:`term_drift` (one map-side-combined ``groupBy(term)``; the
    totals come from the map-only document-grain count), then one
    1-row reduce over distinct types.
    """
    if b_filter is None:
        b_filter = ~a_filter
    flagged = documents.select(
        text_col, a_filter.alias("_a"), b_filter.alias("_b")
    ).filter(F.col("_a") | F.col("_b"))
    staged = stage_tokens(flagged, text_col, "_a", "_b")
    terms = staged.select(
        F.explode("_toks").alias("term"), "_a", "_b"
    ).filter(F.length("term") > 0)
    tf = terms.groupBy("term").agg(
        F.sum(F.when(F.col("_a"), 1).otherwise(0)).alias("tf_a"),
        F.sum(F.when(F.col("_b"), 1).otherwise(0)).alias("tf_b"),
    )
    totals = _slice_token_totals(staged)
    num = tf.crossJoin(F.broadcast(totals)).select(
        F.abs(
            F.col("tf_a").cast("decimal(38,0)") * F.col("total_b")
            - F.col("tf_b").cast("decimal(38,0)") * F.col("total_a")
        ).alias("_n"),
        F.when(F.col("tf_a") > 0, 1).otherwise(0).alias("_ia"),
        F.when(F.col("tf_b") > 0, 1).otherwise(0).alias("_ib"),
        "total_a",
        "total_b",
    )
    return (
        num.groupBy()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum("_ia").cast("bigint").alias("n_terms_a"),
            F.sum("_ib").cast("bigint").alias("n_terms_b"),
            F.max(F.col("total_a")).cast("bigint").alias("total_a"),
            F.max(F.col("total_b")).cast("bigint").alias("total_b"),
            F.sum("_n").cast("decimal(38,0)").alias("_sum_n"),
        )
        .select(
            "n_terms",
            "n_terms_a",
            "n_terms_b",
            "total_a",
            "total_b",
            # DIV: exact integral division at any magnitude (see
            # vocab_coverage's cum_ppm note); a token-less slice has no
            # distribution -> NULL, not a division-by-zero ANSI error
            F.when(
                (F.col("total_a") > 0) & (F.col("total_b") > 0),
                F.expr(
                    "CAST((_sum_n * 500000) DIV"
                    " (CAST(total_a AS DECIMAL(38,0))"
                    "  * CAST(total_b AS DECIMAL(38,0))) AS BIGINT)"
                ),
            ).alias("tvd_ppm"),
        )
    )


def save_term_profile(
    documents: DataFrame,
    prefix: str = "term_profile",
    text_col: str = "text",
) -> None:
    """Persist the reference term distribution :func:`corpus_drift`
    compares against — the stored-model half of drift monitoring at
    ingest (the same build-once / probe-per-epoch lifecycle as the
    dedup index and the stored bigram LM): two tables under ``prefix``
    — ``{prefix}_terms`` (term, tf; bucketed by term so a per-epoch
    probe join co-locates) and ``{prefix}_meta`` (1 row: total_tf and
    n_terms). Profiling cost is paid once over the accepted corpus; an
    epoch drifts against the FROZEN profile — no re-aggregation of the
    corpus inside the streaming loop."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.skew import (
        write_bucketed,
    )

    spark = documents.sparkSession
    _drop_model_tables(spark, f"{prefix}_terms", f"{prefix}_meta")

    staged = stage_tokens(documents, text_col, "doc_id")
    tf = (
        staged.select(F.explode("_toks").alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    write_bucketed(tf, f"{prefix}_terms", "term")
    spark.read.table(f"{prefix}_terms").groupBy().agg(
        F.sum("tf").cast("bigint").alias("total_tf"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    ).write.mode("overwrite").option(
        "path", table_location(f"{prefix}_meta")
    ).saveAsTable(f"{prefix}_meta")
    tidy_default_warehouse(spark)


def drift_from_profile(
    batch: DataFrame,
    prefix: str = "term_profile",
    text_col: str = "text",
) -> DataFrame:
    """Scalar total-variation distance of a batch's term distribution
    vs a STORED :func:`save_term_profile` — the per-epoch drift dial of
    the continuous-ingestion loop ("is this epoch's text still the
    distribution the corpus was accepted under?").

    Same exact-integer TVD as :func:`corpus_drift` (batch = slice A,
    profile = slice B), with one scale-critical difference: terms the
    batch does NOT contain never produce per-term JOIN ROWS. Their
    combined numerator is analytic —

        sum_{t: tf_batch(t)=0} |0 * T_p - tf_p(t) * T_b|
          = (T_p - sum over matched tf_p) * T_b

    — so the probe is ONE aggregation of the batch's token stream plus
    one equi-join whose OUTPUT is the batch's distinct types only, plus
    the 1-row meta read. The profile table is read once per epoch (a
    two-narrow-column columnar scan — it broadcasts below the
    threshold, and above it the batch types shuffle to the profile's
    term buckets) but is never re-aggregated and never re-shuffled —
    the same scan-not-shuffle contract as the stored dedup-index probe.
    Everything sized by the data is O(epoch). Returns 1 row:
    ``(n_batch_terms, matched_terms, total_batch, total_profile,
    tvd_ppm)`` — all exact DECIMAL/BIGINT arithmetic, floor-ppm
    emission, bit-stable across engines (pinned against the direct
    full-outer oracle, which computes the complement the brute way).
    """
    spark = batch.sparkSession
    staged = stage_tokens(batch, text_col, "doc_id")
    tf_b = (
        staged.select(F.explode("_toks").alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf_b"))
    )
    total_b = staged.select(
        F.coalesce(
            F.sum(F.size(F.filter(F.col("_toks"), lambda t: F.length(t) > 0))),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("total_b")
    )
    prof = spark.read.table(f"{prefix}_terms").select(
        "term", F.col("tf").alias("tf_p")
    )
    meta = spark.read.table(f"{prefix}_meta").select(
        F.col("total_tf").cast("decimal(38,0)").alias("total_p"),
        F.col("n_terms").alias("n_profile_terms"),
    )
    joined = (
        tf_b.join(prof, "term", "left")
        .crossJoin(F.broadcast(total_b))
        .crossJoin(F.broadcast(meta))
    )
    agg = joined.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batch_terms"),
        F.coalesce(
            F.sum(F.when(F.col("tf_p").isNotNull(), 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("matched_terms"),
        F.coalesce(
            F.sum(
                F.abs(
                    F.col("tf_b").cast("decimal(38,0)") * F.col("total_p")
                    - F.coalesce(F.col("tf_p"), F.lit(0)).cast("decimal(38,0)")
                    * F.col("total_b")
                )
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("_matched_num"),
        F.coalesce(F.sum(F.coalesce(F.col("tf_p"), F.lit(0))), F.lit(0))
        .cast("decimal(38,0)")
        .alias("_matched_tf_p"),
    )
    # re-attach the authoritative 1-row totals AFTER the aggregation: a
    # token-less batch makes `joined` empty, so a max() over its rows
    # would report NULL totals instead of (0, the profile's real mass)
    agg = agg.crossJoin(F.broadcast(total_b)).crossJoin(F.broadcast(meta))
    # unmatched-profile-term complement, computed analytically:
    # (T_p - matched tf_p) * T_b — never a scan of the unmatched terms
    return agg.select(
        "n_batch_terms",
        "matched_terms",
        F.col("total_b").cast("bigint").alias("total_batch"),
        F.col("total_p").cast("bigint").alias("total_profile"),
        # a token-less batch (or profile) has no distribution to compare
        # — emit NULL rather than divide by zero (ANSI mode errors).
        # DIV, not floor(a/b): exact integral division at any magnitude
        # (see vocab_coverage's cum_ppm note)
        F.when(
            (F.col("total_p") > 0) & (F.col("total_b") > 0),
            F.expr(
                "CAST((CAST(_matched_num + (total_p - _matched_tf_p)"
                " * total_b AS DECIMAL(38,0)) * 500000)"
                " DIV CAST(total_p * total_b AS DECIMAL(38,0)) AS BIGINT)"
            ),
        ).alias("tvd_ppm"),
    )


def save_vocab(
    documents: DataFrame,
    prefix: str = "vocab_model",
    coverage_ppm: int = 900000,
    max_vocab: int = 200,
    text_col: str = "text",
) -> None:
    """Persist the :func:`vocab_coverage` head as an applicable
    vocabulary — the stored-model half of tokenization (build-once /
    apply-per-epoch, like the dedup index / stored LM / term profile):
    ``{prefix}_terms`` (term, id, tf; only the minimal coverage prefix,
    ``id`` = frequency rank 1..n, bucketed by term so the encode join
    co-locates) and ``{prefix}_meta`` (1 row: n_vocab, coverage_ppm;
    id 0 is reserved for UNK). Training cost is paid once; epochs
    encode against the FROZEN vocabulary."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.skew import (
        write_bucketed,
    )

    spark = documents.sparkSession
    _drop_model_tables(spark, f"{prefix}_terms", f"{prefix}_meta")
    head = vocab_coverage(
        documents,
        coverage_ppm=coverage_ppm,
        max_vocab=max_vocab,
        text_col=text_col,
    ).filter(F.col("in_vocab"))
    write_bucketed(
        head.select("term", F.col("rank").cast("int").alias("id"), "tf"),
        f"{prefix}_terms",
        "term",
    )
    spark.read.table(f"{prefix}_terms").groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
        F.lit(int(coverage_ppm)).cast("bigint").alias("coverage_ppm"),
    ).write.mode("overwrite").option(
        "path", table_location(f"{prefix}_meta")
    ).saveAsTable(f"{prefix}_meta")
    tidy_default_warehouse(spark)


def encode_with_vocab(
    batch: DataFrame,
    prefix: str = "vocab_model",
    text_col: str = "text",
) -> DataFrame:
    """Apply a STORED :func:`save_vocab` vocabulary: map each document's
    token sequence to integer ids in document order, out-of-vocabulary
    tokens to UNK (id 0) — the tokenize step that turns curated text
    into model input, composing with :func:`vocab_coverage` (train) and
    :mod:`sampling`'s ``pack_sequences`` (layout) into the full
    text → ids → fixed-window pipeline.

    Returns ``(doc_id, n_tokens, n_unk, ids ARRAY<INT>)`` — every input
    document appears (token-less docs carry an empty array), ids
    preserve token order, and ``n_unk / n_tokens`` is the OOV-rate dial
    a vocabulary's coverage target is tuned against.

    100 TB shape: one explode of the token stream with positions, one
    join against the bucketed vocabulary (vocabulary-sized side is
    broadcast below the threshold — the normal case for a bounded
    vocab — and co-located on ``term`` otherwise), one ``groupBy(doc)``
    re-collect where ``array_sort`` on (pos, id) structs restores
    document order — the standard tokenize shuffle, linear in the
    token stream. The document spine rides a final left join so
    empty docs are not silently dropped.
    """
    spark = batch.sparkSession
    staged = stage_tokens(batch, text_col, "doc_id")
    pos = staged.select(
        "doc_id", F.posexplode("_toks").alias("pos", "term")
    ).filter(F.length("term") > 0)
    vocab = spark.read.table(f"{prefix}_terms").select("term", "id")
    encoded = (
        pos.join(vocab, "term", "left")
        .select(
            "doc_id",
            "pos",
            F.coalesce(F.col("id"), F.lit(0)).cast("int").alias("id"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("id") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unk"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "id"))),
                lambda x: x.getField("id"),
            ).alias("ids"),
        )
    )
    spine = batch.select("doc_id")
    return spine.join(encoded, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce("n_unk", F.lit(0)).cast("bigint").alias("n_unk"),
        F.coalesce("ids", F.array().cast("array<int>")).alias("ids"),
    )


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = 64,
    overlap_tokens: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping fixed-token windows — the
    retrieval-side counterpart of ``pack_sequences`` (which packs WHOLE
    docs into training windows, this cuts ONE doc into indexable
    chunks): the standard RAG / embedding-index preparation step.

    Chunks start every ``stride = chunk_tokens - overlap_tokens``
    tokens; the last chunk is the final ``<= chunk_tokens`` tail. Chunk
    count is exact integer arithmetic —
    ``k = 1 if n <= w else (n - w + s - 1) DIV s + 1`` — so the layout
    is engine-independent and replay-stable. Tokens are the family's
    Java-split sequence with empty tokens dropped; chunk text re-joins
    with single spaces (the same normalization `load_corpus_dir`
    applies across line breaks). Token-less documents produce no
    chunks. Returns ``(doc_id, chunk_id, start_token, n_tokens,
    chunk_text)``.

    100 TB shape: map-only — one staged tokenization, one per-row
    ``sequence`` explode (fan-out = chunks per doc, bounded by
    len/stride), ``slice`` + ``array_join`` per chunk; no shuffle at
    all, scan-speed like the rest of the per-document family.
    """
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap_tokens < chunk_tokens, got "
            f"{overlap_tokens=} {chunk_tokens=}"
        )
    stride = chunk_tokens - overlap_tokens
    staged = stage_tokens(documents, text_col, "doc_id")
    kept = staged.select(
        "doc_id",
        F.filter(F.col("_toks"), lambda t: F.length(t) > 0).alias("_kept"),
    ).select(
        "doc_id", "_kept", F.size("_kept").alias("_n")
    )
    w, s = F.lit(chunk_tokens), F.lit(stride)
    n_chunks = F.when(F.col("_n") <= 0, F.lit(0)).otherwise(
        F.when(F.col("_n") <= w, F.lit(1)).otherwise(
            F.expr(
                f"CAST((_n - {chunk_tokens} + {stride} - 1)"
                f" DIV {stride} AS INT) + 1"
            )
        )
    )
    chunks = kept.withColumn("_k", n_chunks).filter(F.col("_k") > 0).select(
        "doc_id",
        "_kept",
        F.explode(F.sequence(F.lit(0), F.col("_k") - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * s
    piece = F.slice(F.col("_kept"), start + 1, w)
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        start.cast("bigint").alias("start_token"),
        F.size(piece).cast("bigint").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )
