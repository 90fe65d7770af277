"""Similarity-domain queries: the reference pipeline decomposed operator by
operator (SURVEY.md §2.2 T2-T12 / U2-U7), each with a full-value DuckDB
oracle, plus the fused flagship query in both semantic modes.

The stage entries from T5 on (``semi_join_filter``, ``intersection_size``,
``posting_lists``, ``pair_counts``) are projections of the similarity
operator's own stages (``_intersections``, ``_postings``,
``_pair_counts``), so their oracles check the code that serves requests.

The oracle SQL re-derives Java ``String.split`` parity (quirk Q6) in
DuckDB: ``regexp_split_to_array`` keeps trailing empty tokens (Spark
limit=-1 does too), so both sides trim them with the same CASE logic;
a whole-string-of-delimiters input yields two empties (Java drops both),
and a no-match input keeps Java's single-element ``[""]``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
    ngrams_attr_sql,
    stage_tokens,
    staged_shingles_frame,
)
from similarity_search_with_hadoop_mapreduce_spark.operators.similarity import (
    _intersections,
    _multi_query_plan,
    _pair_counts,
    _postings,
    similarity_multi_query,
    similarity_to_query,
    top_k_similar,
)
from similarity_search_with_hadoop_mapreduce_spark.registry.base import register, table

# ---------------------------------------------------------------------------
# Shared DuckDB CTE: documents -> Java-parity tokens -> distinct shingle sets
# ---------------------------------------------------------------------------

TOKENS_CTE = r"""
tok0 AS (
  SELECT doc_id, regexp_split_to_array(text, '\W+') AS t0 FROM documents
),
tokens AS (
  SELECT doc_id,
    CASE WHEN len(t0) <= 1 THEN t0
         WHEN t0[-1] = '' AND t0[-2] = '' THEN t0[1:len(t0)-2]
         WHEN t0[-1] = '' THEN t0[1:len(t0)-1]
         ELSE t0 END AS tok
  FROM tok0
)
"""

SHINGLES_CTE = (
    TOKENS_CTE
    + r""",
shingle_sets AS (
  SELECT doc_id,
    CASE WHEN len(tok) >= 3
         THEN list_distinct(list_transform(range(1, len(tok)-1),
                            i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]))
         ELSE [] END AS s
  FROM tokens
)
"""
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# T2 tokenize
# ---------------------------------------------------------------------------


@register(
    "tokenize",
    oracle="WITH "
    + TOKENS_CTE
    + """
SELECT doc_id, unnest(range(len(tok))) AS pos, unnest(tok) AS token
FROM tokens
""",
)
def q_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 (BookQuery.java:35,64,126): case-sensitive \\W+ split, Java
    String.split semantics; exploded with position for value comparison."""
    return stage_tokens(_docs(spark, sf_dir), "text", "doc_id").select(
        "doc_id", F.posexplode("_toks").alias("pos", "token")
    )


# ---------------------------------------------------------------------------
# T3 shingle (non-distinct, positional)
# ---------------------------------------------------------------------------


@register(
    "shingle",
    oracle="WITH "
    + TOKENS_CTE
    + """
, tg AS (
  SELECT doc_id,
    CASE WHEN len(tok) >= 3
         THEN list_transform(range(1, len(tok)-1),
                             i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])
         ELSE [] END AS g
  FROM tokens
)
SELECT doc_id, unnest(range(len(g))) AS pos, unnest(g) AS shingle FROM tg
""",
)
def q_shingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 (BookQuery.java:37-40,66-70): sliding-window word trigrams; <3
    tokens => empty; multiset (pre-distinct) with positions."""
    return stage_tokens(_docs(spark, sf_dir), "text", "doc_id").select(
        "doc_id",
        F.posexplode(F.expr(ngrams_attr_sql("_toks", 3))).alias(
            "pos", "shingle"
        ),
    )


# ---------------------------------------------------------------------------
# T4 distinct shingle set (size projection — arrays are order-fragile in a
# value-hash compare, so the set itself is exercised via `semi_join_filter`)
# ---------------------------------------------------------------------------


@register(
    "shingle_distinct",
    oracle="WITH "
    + SHINGLES_CTE
    + """
SELECT doc_id, len(s) AS n_shingles FROM shingle_sets
""",
)
def q_shingle_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 (BookQuery.java:26,66): HashSet distinctness per document."""
    return staged_shingles_frame(_docs(spark, sf_dir)).select(
        "doc_id", F.size("s").alias("n_shingles")
    )


# ---------------------------------------------------------------------------
# T5 map-side broadcast semi-join filter (retainAll)
# ---------------------------------------------------------------------------


@register(
    "semi_join_filter",
    oracle="WITH "
    + SHINGLES_CTE
    + """
SELECT d.doc_id, unnest(list_intersect(d.s, q.s)) AS term
FROM shingle_sets d, (SELECT s FROM shingle_sets WHERE doc_id = 0) q
""",
)
def q_semi_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 (BookQuery.java:77): doc shingles ∩ query shingles, evaluated
    map-side against a broadcast 1-row query set before any shuffle —
    the reference's `retainAll`; the operator's own semi-join, exploded."""
    return _intersections(_docs(spark, sf_dir), 0).select(
        "doc_id", F.explode("kept").alias("term")
    )


# ---------------------------------------------------------------------------
# T6 intersection-size projection (len1 = |D∩Q|, quirk Q1)
# ---------------------------------------------------------------------------


@register(
    "intersection_size",
    oracle="WITH "
    + SHINGLES_CTE
    + """
SELECT d.doc_id, len(list_intersect(d.s, q.s)) AS len1
FROM shingle_sets d, (SELECT s FROM shingle_sets WHERE doc_id = 0) q
""",
)
def q_intersection_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 (BookQuery.java:80): `length` is taken AFTER retainAll, so it is
    |D∩Q| not |D| — the quirk-Q1 contract, one row per document."""
    return _intersections(_docs(spark, sf_dir), 0).select(
        "doc_id", F.size("kept").alias("len1")
    )


# ---------------------------------------------------------------------------
# T8-T12 posting lists: group by term, HAVING prune, desc sort, serialize
# ---------------------------------------------------------------------------

_POSTINGS_ORACLE = (
    "WITH "
    + SHINGLES_CTE
    + """
, exploded AS (
  SELECT d.doc_id, len(list_intersect(d.s, q.s)) AS len1,
         unnest(list_intersect(d.s, q.s)) AS term
  FROM shingle_sets d, (SELECT s FROM shingle_sets WHERE doc_id = 0) q
)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       string_agg(doc_id || '@' || len1, ',' ORDER BY len1 DESC, doc_id) AS postings
FROM exploded
GROUP BY term
HAVING count(*) != 1 AND count(*) != (SELECT count(*) FROM documents)
"""
)


@register("posting_lists", oracle=_POSTINGS_ORACLE)
def q_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8-T12 (BookQuery.java:92-111): shuffle on shingle, collect the
    posting list, prune non-discriminative terms (count == n) and
    query-only terms (count == 1), sort postings desc by len then doc id,
    serialize as `doc@len,...` — byte-parity with the reference's Job-1
    intermediate (modulo its unspecified tie order, fixed here to doc id).
    """
    postings = F.transform(
        F.sort_array(  # struct(-len1, doc_id) = ORDER BY len1 DESC, doc_id ASC
            F.transform(
                "postings",
                lambda p: F.struct(
                    (-p["len1"]).alias("negl"), p["doc_id"], p["len1"]
                ),
            )
        ),
        lambda p: F.concat_ws("@", p["doc_id"], p["len1"]),
    )
    return _postings(_docs(spark, sf_dir), 0).select(
        "term", "df", F.concat_ws(",", postings).alias("postings")
    )


# ---------------------------------------------------------------------------
# U2-U4 pair counts
# ---------------------------------------------------------------------------

_PAIRS_ORACLE = (
    "WITH "
    + SHINGLES_CTE
    + """
, q AS (SELECT s, len(s) AS q_len FROM shingle_sets WHERE doc_id = 0),
exploded AS (
  SELECT d.doc_id, q.q_len, len(list_intersect(d.s, q.s)) AS len1,
         unnest(list_intersect(d.s, q.s)) AS term
  FROM shingle_sets d, q
),
pruned AS (
  SELECT term FROM exploded GROUP BY term
  HAVING count(*) != 1 AND count(*) != (SELECT count(*) FROM documents)
)
SELECT e.doc_id, e.len1, e.q_len, CAST(count(*) AS BIGINT) AS shared
FROM exploded e JOIN pruned p USING (term)
WHERE e.doc_id != 0
GROUP BY e.doc_id, e.len1, e.q_len
"""
)


@register("pair_counts", oracle=_PAIRS_ORACLE)
def q_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2-U4 (BookQuery.java:142-158): per-(doc, query) count of shared
    shingles surviving the prune, query self-pair excluded. Spark's hash
    aggregate adds the map-side combine the reference lacked."""
    return _pair_counts(_postings(_docs(spark, sf_dir), 0)).withColumnRenamed(
        "s", "shared"
    )


# ---------------------------------------------------------------------------
# Flagship: full pipeline, both modes, plus ranked top-k
# ---------------------------------------------------------------------------

_FLAGSHIP_PARITY_ORACLE = (
    "WITH "
    + SHINGLES_CTE
    + """
, q AS (SELECT s, len(s) AS q_len FROM shingle_sets WHERE doc_id = 0),
exploded AS (
  SELECT d.doc_id, q.q_len, len(list_intersect(d.s, q.s)) AS len1,
         unnest(list_intersect(d.s, q.s)) AS term
  FROM shingle_sets d, q
),
pruned AS (
  SELECT term FROM exploded GROUP BY term
  HAVING count(*) != 1 AND count(*) != (SELECT count(*) FROM documents)
),
pairs AS (
  SELECT e.doc_id, e.len1, e.q_len, count(*) AS shared
  FROM exploded e JOIN pruned p USING (term)
  WHERE e.doc_id != 0
  GROUP BY e.doc_id, e.len1, e.q_len
)
SELECT doc_id, '0' AS query_id,
       CASE WHEN shared = len1 + q_len THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(shared AS DOUBLE) / CAST(len1 + q_len - shared AS DOUBLE)
       END AS score
FROM pairs
"""
)


@register("flagship_containment_parity", oracle=_FLAGSHIP_PARITY_ORACLE)
def q_flagship_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's entire 2-job pipeline (BookQuery.java:229-257) as one
    DAG with two exchanges; exact quirk-Q1..Q7 semantics."""
    return similarity_to_query(_docs(spark, sf_dir), 0)


_FLAGSHIP_JACCARD_ORACLE = (
    "WITH "
    + SHINGLES_CTE
    + """
, q AS (SELECT s FROM shingle_sets WHERE doc_id = 0)
SELECT d.doc_id, '0' AS query_id,
       CAST(len(list_intersect(d.s, q.s)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(d.s, q.s))) AS DOUBLE) AS score
FROM shingle_sets d, q
WHERE d.doc_id != 0
  AND len(list_intersect(d.s, q.s)) > 0
"""
)


@register("flagship_jaccard", oracle=_FLAGSHIP_JACCARD_ORACLE)
def q_flagship_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Textbook-mode companion: |D∩Q| / |D∪Q|, no pruning; a pure map
    stage (broadcast 1-row join, zero shuffles)."""
    return similarity_to_query(_docs(spark, sf_dir), 0, mode="jaccard")


@register(
    "flagship_topk",
    oracle=_FLAGSHIP_PARITY_ORACLE.replace(
        "FROM pairs", "FROM pairs ORDER BY score DESC, doc_id LIMIT 10"
    ),
)
def q_flagship_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked top-k extension (the reference never ranks, quirk Q7),
    answered from the corpus's resident index as a local relation; a
    corpus the index cannot answer (above the driver budget, duplicate
    or NULL doc ids) is planned as TakeOrderedAndProject, no global sort
    materialization."""
    return top_k_similar(_docs(spark, sf_dir), 0, k=10)


@register(
    "flagship_reference_format",
    oracle=_FLAGSHIP_PARITY_ORACLE.replace(
        "SELECT doc_id, '0' AS query_id,",
        "SELECT doc_id::VARCHAR || ' - 0' AS pair,",
    ),
)
def q_flagship_reference_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/U7 parity: the reference's Job-2 output rows — packed
    ``"doc - query"`` pair string (BookQuery.java:167) beside the typed
    score; sinks.write_reference_output renders the tab-joined text."""
    from similarity_search_with_hadoop_mapreduce_spark.sources.sinks import (
        reference_output_format,
    )

    return reference_output_format(similarity_to_query(_docs(spark, sf_dir), 0))


_MULTI_QUERY_ORACLE = (
    "WITH "
    + SHINGLES_CTE
    + """
, q AS (
  SELECT doc_id AS qid, s AS qs, len(s) AS q_len
  FROM shingle_sets WHERE doc_id IN (0, 1, 2, 3, 4)
),
pairs AS (
  SELECT d.doc_id, q.qid, len(list_intersect(d.s, q.qs)) AS shared,
         len(d.s) AS sz_d, q.q_len
  FROM shingle_sets d, q
  WHERE d.doc_id != q.qid AND len(list_intersect(d.s, q.qs)) > 0
)
SELECT doc_id, qid::VARCHAR AS query_id, CAST(shared AS BIGINT) AS shared,
       CAST(shared AS DOUBLE) / CAST(q_len AS DOUBLE) AS containment,
       CAST(shared AS DOUBLE) / CAST(sz_d + q_len - shared AS DOUBLE) AS jaccard
FROM pairs
"""
)


@register("flagship_multi_query", oracle=_MULTI_QUERY_ORACLE)
def q_flagship_multi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch of 5 queries scored against the corpus in ONE inverted-index
    pass (vs the reference's one-pipeline-per-query driver): the Spark
    plan, built directly, since the operator answers an indexable corpus
    from its resident index — broadcast union-of-query-terms semi-filter
    (O1 generalized), broadcast term join, one pair-count exchange."""
    return _multi_query_plan(_docs(spark, sf_dir), [0, 1, 2, 3, 4], shuffled=False)


@register("flagship_multi_query_shuffled", oracle=_MULTI_QUERY_ORACLE)
def q_flagship_multi_query_shuffled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-query SHUFFLED plan, built directly: corpus shingles
    explode fully and shuffle-join the exploded query terms — the plan
    the operator picks when the query battery's term volume exceeds its
    broadcast limit. Result-identical to flagship_multi_query (same
    oracle); registered so the above-threshold path has its own entry
    and plan test."""
    return _multi_query_plan(_docs(spark, sf_dir), [0, 1, 2, 3, 4], shuffled=True)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver smoke entry: parity similarity, ranked."""
    return similarity_to_query(_docs(spark, sf_dir), 0).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


@register(
    "flagship_multi_query_topk",
    oracle=_MULTI_QUERY_ORACLE
    + """QUALIFY row_number() OVER (
  PARTITION BY query_id ORDER BY containment DESC, doc_id) <= 5
""",
)
def q_flagship_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query top-5 over the batch similarity pass — the serving shape
    for query batches (rank within query, not globally). Through the
    public operator, so on an indexable corpus the oracle checks the
    index's answer. One extra
    window per query partition; query_id is the partition key, so the
    rank never concentrates on one task."""
    from pyspark.sql import Window

    scored = similarity_multi_query(_docs(spark, sf_dir), [0, 1, 2, 3, 4])
    rn = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.desc("containment"), F.asc("doc_id")
        )
    )
    return scored.withColumn("rn", rn).filter(F.col("rn") <= 5).drop("rn")
