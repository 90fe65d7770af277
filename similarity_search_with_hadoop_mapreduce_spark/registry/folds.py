"""Folded registry entries: the driver's correctness gate records at most
~50 rows per round (round 1's record, in git history, stopped at the first 50 of 118
registered queries), so the curated surface the driver sees must fit in
that budget without giving up value coverage.

Each fold here combines several fine-grained registered queries into ONE
entry whose result is either

- a **tagged union**: every member result is mapped onto a shared
  native-typed schema (``shape`` tag + key/measure slots, NULL-padded) and
  UNION ALL'd — the driver's order-insensitive value hash then pins every
  member's full value set exactly as the individual entries did; or
- a **wide merge**: members over the same row grain become columns of one
  query (windows over orders, per-doc text metrics).

Oracle SQL is composed the same way: each member's existing DuckDB oracle
is wrapped as a subquery (``SELECT <mapping> FROM (<member oracle>)``) and
UNION ALL'd — no string surgery on the member SQL. Numeric slots stay
native DOUBLE/BIGINT (never rendered to text: double formatting differs
between engines); string slots only carry values whose rendering was
verified engine-identical (VARCHAR, BIGINT→VARCHAR, BOOLEAN→VARCHAR,
midnight-safe TIMESTAMP→VARCHAR).

The full fine-grained registry stays importable (``registry.QUERIES``) for
tests and scripts; ``registry.CURATED_QUERIES`` is what
``__spark_entry__.queries()`` hands the driver. COVERAGE.md maps every
folded member to its fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from similarity_search_with_hadoop_mapreduce_spark.registry.base import (
    ORACLES,
    QUERIES,
    register,
    table,
)

# ---------------------------------------------------------------------------
# Helpers
# ---------------------------------------------------------------------------


def _null(name: str, typ: str):
    return F.lit(None).cast(typ).alias(name)


def _sql_null(name: str, typ: str) -> str:
    return f"CAST(NULL AS {typ}) AS {name}"


def _union_oracle(parts: list[tuple[str, str]]) -> str:
    """UNION ALL of ``SELECT <select_list> FROM (<member oracle>) m<i>``."""
    return "\nUNION ALL\n".join(
        f"SELECT {sel} FROM (\n{ORACLES[name]}\n) m{i}"
        for i, (name, sel) in enumerate(parts)
    )


def _union_spark(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _q(name: str):
    """Late-bound lookup of a member query function."""
    return QUERIES[name]


# ---------------------------------------------------------------------------
# sim_doc_profile — folds tokenize / shingle / shingle_distinct /
# semi_join_filter / intersection_size into one per-document profile.
# The md5 columns pin the exact token sequence, the exact trigram multiset
# (with order), and the exact distinct-shingle set, so this is as strict as
# the exploded row sets it replaces.
# ---------------------------------------------------------------------------

_SIM_PROFILE_ORACLE = r"""
WITH tok0 AS (
  SELECT doc_id, regexp_split_to_array(text, '\W+') AS t0 FROM documents
),
tokens AS (
  SELECT doc_id,
    CASE WHEN len(t0) <= 1 THEN t0
         WHEN t0[-1] = '' AND t0[-2] = '' THEN t0[1:len(t0)-2]
         WHEN t0[-1] = '' THEN t0[1:len(t0)-1]
         ELSE t0 END AS tok
  FROM tok0
),
tg AS (
  SELECT doc_id,
    CASE WHEN len(tok) >= 3
         THEN list_transform(range(1, len(tok)-1),
                             i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])
         ELSE [] END AS g
  FROM tokens
),
shingle_sets AS (
  SELECT doc_id, list_distinct(g) AS s FROM tg
),
q AS (SELECT s FROM shingle_sets WHERE doc_id = 0)
SELECT t.doc_id,
       CAST(len(t.tok) AS INTEGER) AS n_tokens,
       md5(array_to_string(t.tok, ' ')) AS token_md5,
       CAST(len(g.g) AS INTEGER) AS n_grams,
       md5(array_to_string(g.g, '|')) AS gram_md5,
       CAST(len(ss.s) AS INTEGER) AS n_shingles,
       md5(array_to_string(list_sort(ss.s), '|')) AS set_md5,
       CAST(len(list_intersect(ss.s, q.s)) AS INTEGER) AS len1
FROM tokens t
JOIN tg g USING (doc_id)
JOIN shingle_sets ss USING (doc_id)
CROSS JOIN q
"""


@register("sim_doc_profile", oracle=_SIM_PROFILE_ORACLE)
def sim_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Folds T2/T3/T4/T5/T6 (tokenize, shingle, shingle_distinct,
    semi_join_filter, intersection_size) into one per-document profile:
    counts plus md5 digests of the exact token sequence, trigram multiset,
    and sorted distinct-shingle set, and |D∩Q| against the broadcast
    query-document set (quirk Q1's len1). One map stage + one broadcast
    join — zero shuffles."""
    from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
        ngrams_attr_sql,
        stage_tokens,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.similarity import (
        _query_side,
        _shingle_sets,
    )

    docs = table(spark, sf_dir, "documents")
    # each array is staged in its own projection, so the tokenizer and
    # the trigram lambda run once per document however often they are read
    grams = stage_tokens(docs, "text", "doc_id").select(
        "doc_id", "_toks", F.expr(ngrams_attr_sql("_toks", 3)).alias("_g")
    )
    sets = grams.select("*", F.array_distinct("_g").alias("s"))
    profile = sets.select(
        "doc_id",
        F.size("_toks").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "_toks")).alias("token_md5"),
        F.size("_g").alias("n_grams"),
        F.md5(F.concat_ws("|", "_g")).alias("gram_md5"),
        F.size("s").alias("n_shingles"),
        F.md5(F.concat_ws("|", F.sort_array("s"))).alias("set_md5"),
        "s",
    )
    # the query's set as the similarity operator finds it
    qset = F.broadcast(_query_side(_shingle_sets(docs), [0])).select("q_set")
    return profile.join(qset).select(
        "doc_id",
        "n_tokens",
        "token_md5",
        "n_grams",
        "gram_md5",
        "n_shingles",
        "set_md5",
        F.size(F.array_intersect("s", "q_set")).alias("len1"),
    )


# ---------------------------------------------------------------------------
# dedup_simhash_suite — folds dedup_simhash + dedup_simhash_pairs
# ---------------------------------------------------------------------------


def _register_simhash_suite() -> None:
    parts = [
        (
            "dedup_simhash",
            "'fingerprint' AS shape, doc_id AS a, CAST(NULL AS BIGINT) AS b, "
            "simhash AS v",
        ),
        (
            "dedup_simhash_pairs",
            "'pair' AS shape, doc_a AS a, doc_b AS b, CAST(hamming AS BIGINT) AS v",
        ),
        (
            "dedup_simhash_pairs_capped",
            "'pair_star_capped' AS shape, doc_a AS a, doc_b AS b, "
            "CAST(hamming AS BIGINT) AS v",
        ),
    ]

    @register("dedup_simhash_suite", oracle=_union_oracle(parts))
    def dedup_simhash_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the per-doc 16-bit SimHash fingerprints, the
        hamming<=2 banded near-dup pairs, and the same pairs under an
        ACTIVE bucket cap (star overflow) (members: dedup_simhash,
        dedup_simhash_pairs, dedup_simhash_pairs_capped)."""
        fp = _q("dedup_simhash")(spark, sf_dir).select(
            F.lit("fingerprint").alias("shape"),
            F.col("doc_id").alias("a"),
            _null("b", "bigint"),
            F.col("simhash").alias("v"),
        )
        pr = _q("dedup_simhash_pairs")(spark, sf_dir).select(
            F.lit("pair").alias("shape"),
            F.col("doc_a").alias("a"),
            F.col("doc_b").alias("b"),
            F.col("hamming").cast("bigint").alias("v"),
        )
        st = _q("dedup_simhash_pairs_capped")(spark, sf_dir).select(
            F.lit("pair_star_capped").alias("shape"),
            F.col("doc_a").alias("a"),
            F.col("doc_b").alias("b"),
            F.col("hamming").cast("bigint").alias("v"),
        )
        return _union_spark([fp, pr, st])


# ---------------------------------------------------------------------------
# dedup_minhash_lsh_suite — folds the uncapped plan + the ACTIVE-cap star
# overflow contract (cap=2 fires on fixture buckets of 3-4 members), so
# one curated row value-pins both the all-pairs path and the
# representative-star degradation of _bounded_buckets.
# ---------------------------------------------------------------------------


def _register_minhash_lsh_suite() -> None:
    parts = [
        (
            "dedup_minhash_lsh",
            "'uncapped' AS shape, doc_a AS a, doc_b AS b, jaccard AS v",
        ),
        (
            "dedup_minhash_lsh_capped",
            "'star_capped' AS shape, doc_a AS a, doc_b AS b, jaccard AS v",
        ),
        (
            "dedup_ngram_containment",
            "'containment' AS shape, doc_a AS a, doc_b AS b, "
            "containment AS v",
        ),
    ]

    @register("dedup_minhash_lsh_suite", oracle=_union_oracle(parts))
    def dedup_minhash_lsh_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of text near-dup pair generation:
        MinHash-LSH pairs uncapped vs star-capped (the capped member
        runs max_bucket=2 so the hot-bucket star path is exercised and
        value-pinned) and the r6 exact n-gram CONTAINMENT pairs — the
        reference's own |D∩Q|/|Q| metric corpus-wide (members:
        dedup_minhash_lsh, dedup_minhash_lsh_capped,
        dedup_ngram_containment)."""
        un = _q("dedup_minhash_lsh")(spark, sf_dir).select(
            F.lit("uncapped").alias("shape"),
            F.col("doc_a").alias("a"),
            F.col("doc_b").alias("b"),
            F.col("jaccard").alias("v"),
        )
        st = _q("dedup_minhash_lsh_capped")(spark, sf_dir).select(
            F.lit("star_capped").alias("shape"),
            F.col("doc_a").alias("a"),
            F.col("doc_b").alias("b"),
            F.col("jaccard").alias("v"),
        )
        ct = _q("dedup_ngram_containment")(spark, sf_dir).select(
            F.lit("containment").alias("shape"),
            F.col("doc_a").alias("a"),
            F.col("doc_b").alias("b"),
            F.col("containment").alias("v"),
        )
        return _union_spark([un, st, ct])


# ---------------------------------------------------------------------------
# dedup_embedding_suite — folds the exact baseline + the LSH scale path
# ---------------------------------------------------------------------------


def _register_dedup_embedding_suite() -> None:
    parts = [
        (
            "dedup_embedding_cosine",
            "'exact' AS shape, vec_a, vec_b, "
            "CAST(NULL AS BIGINT) AS bucket, cosine",
        ),
        (
            "dedup_embedding_lsh",
            "'lsh' AS shape, vec_a, vec_b, "
            "CAST(bucket AS BIGINT) AS bucket, cosine",
        ),
        (
            "dedup_embedding_lsh_multiband",
            "'lsh_multiband' AS shape, vec_a, vec_b, "
            "CAST(NULL AS BIGINT) AS bucket, cosine",
        ),
        (
            "dedup_embedding_recall",
            "'recall' AS shape, n_single AS vec_a, n_multi AS vec_b, "
            "n_exact AS bucket, recall_multi AS cosine",
        ),
        (
            "dedup_embedding_lsh_multiband_capped",
            "'lsh_mb_capped' AS shape, vec_a, vec_b, "
            "CAST(NULL AS BIGINT) AS bucket, cosine",
        ),
    ]

    @register("dedup_embedding_suite", oracle=_union_oracle(parts))
    def dedup_embedding_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of embedding near-dup pair generation: the exact
        all-pairs baseline, the single-band LSH scale path with its
        bucket ids, the multi-band (OR of 3 bands x 4 planes) variant,
        and the single-vs-multi recall metric row (members:
        dedup_embedding_cosine, dedup_embedding_lsh,
        dedup_embedding_lsh_multiband, dedup_embedding_recall; r8 adds
        dedup_embedding_lsh_multiband_capped — the generation-bounding
        star-cap production mode, cap rule SQL-replayed)."""
        exact = _q("dedup_embedding_cosine")(spark, sf_dir).select(
            F.lit("exact").alias("shape"),
            F.col("vec_a").cast("bigint").alias("vec_a"),
            F.col("vec_b").cast("bigint").alias("vec_b"),
            _null("bucket", "bigint"),
            F.col("cosine"),
        )
        lsh = _q("dedup_embedding_lsh")(spark, sf_dir).select(
            F.lit("lsh").alias("shape"),
            F.col("vec_a").cast("bigint").alias("vec_a"),
            F.col("vec_b").cast("bigint").alias("vec_b"),
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("cosine"),
        )
        mb = _q("dedup_embedding_lsh_multiband")(spark, sf_dir).select(
            F.lit("lsh_multiband").alias("shape"),
            F.col("vec_a").cast("bigint").alias("vec_a"),
            F.col("vec_b").cast("bigint").alias("vec_b"),
            _null("bucket", "bigint"),
            F.col("cosine"),
        )
        rc = _q("dedup_embedding_recall")(spark, sf_dir).select(
            F.lit("recall").alias("shape"),
            F.col("n_single").cast("bigint").alias("vec_a"),
            F.col("n_multi").cast("bigint").alias("vec_b"),
            F.col("n_exact").cast("bigint").alias("bucket"),
            F.col("recall_multi").alias("cosine"),
        )
        mbc = _q("dedup_embedding_lsh_multiband_capped")(spark, sf_dir).select(
            F.lit("lsh_mb_capped").alias("shape"),
            F.col("vec_a").cast("bigint").alias("vec_a"),
            F.col("vec_b").cast("bigint").alias("vec_b"),
            _null("bucket", "bigint"),
            F.col("cosine"),
        )
        return _union_spark([exact, lsh, mb, rc, mbc])


# ---------------------------------------------------------------------------
# ann_ivf_suite — folds ann_ivf_topk + ann_ivf_recall
# ---------------------------------------------------------------------------


def _register_ann_ivf_suite() -> None:
    parts = [
        (
            "ann_ivf_topk",
            "'topk' AS shape, vec_id, CAST(centroid_id AS BIGINT) AS centroid_id, "
            "cosine AS v",
        ),
        (
            "ann_ivf_recall",
            "'recall' AS shape, CAST(k AS BIGINT) AS vec_id, "
            "CAST(n_queries AS BIGINT) AS centroid_id, recall_at_k AS v",
        ),
        (
            "ann_pq_topk",
            "'pq' AS shape, vec_id, code_packed AS centroid_id, "
            "pq_score AS v",
        ),
        (
            # centroid and code word share the slot: code_packed < 8^4
            "ann_ivfpq_topk",
            "'ivfpq' AS shape, vec_id, "
            "centroid_id * 4096 + code_packed AS centroid_id, "
            "pq_score AS v",
        ),
        (
            "ann_pq_recall",
            "'pq_recall' AS shape, CAST(k AS BIGINT) AS vec_id, "
            "CAST(n_queries AS BIGINT) AS centroid_id, recall_at_k AS v",
        ),
        (
            "ann_ivf_recall_sampled",
            "'recall_sampled' AS shape, CAST(k AS BIGINT) AS vec_id, "
            "CAST(n_queries AS BIGINT) AS centroid_id, recall_at_k AS v",
        ),
        (
            "ann_ivfpq_residual_topk",
            "'ivfpq_res' AS shape, vec_id, "
            "centroid_id * 4096 + code_packed AS centroid_id, "
            "pq_score AS v",
        ),
        (
            "ann_ivfpq_recall",
            "'ivfpq_recall' AS shape, CAST(k AS BIGINT) AS vec_id, "
            "CAST(n_queries AS BIGINT) AS centroid_id, recall_at_k AS v",
        ),
        (
            "ann_ivfpq_residual_recall",
            "'ivfpq_res_recall' AS shape, CAST(k AS BIGINT) AS vec_id, "
            "CAST(n_queries AS BIGINT) AS centroid_id, recall_at_k AS v",
        ),
        (
            # neighbor and rank share the slot: rank <= 3 < 10
            "ann_knn_graph",
            "'knn' AS shape, vec_id, "
            "neighbor_id * 10 + rank AS centroid_id, cosine AS v",
        ),
        (
            "ann_knn_graph_lsh",
            "'knn_lsh' AS shape, vec_id, "
            "neighbor_id * 10 + rank AS centroid_id, cosine AS v",
        ),
        (
            "ann_knn_graph_lsh_capped",
            "'knn_capped' AS shape, vec_id, "
            "neighbor_id * 10 + rank AS centroid_id, cosine AS v",
        ),
        (
            # one-row recall dial: counts pack the bigint slot (edge
            # counts < 100000 at any test SF), the two round-6 recalls
            # pack v via the deterministic IEEE 1000*x + y
            "ann_knn_graph_recall",
            "'knn_recall' AS shape, n_exact AS vec_id, "
            "n_lsh * 100000 + n_capped AS centroid_id, "
            "recall_lsh * 1000 + recall_capped AS v",
        ),
        (
            "ann_ivfpq_refined_recall",
            "'ivfpq_ref_recall' AS shape, CAST(k AS BIGINT) AS vec_id, "
            "CAST(n_queries AS BIGINT) AS centroid_id, recall_at_k AS v",
        ),
        (
            # pq_score rides the bigint slot as micro-units (round-6
            # double * 1e6 -> exact integer, the sample_splits pattern);
            # v pins the exact-rerank cosine
            "ann_ivfpq_refined_topk",
            "'ivfpq_refined' AS shape, vec_id, "
            "CAST(round(pq_score * 1000000.0, 0) AS BIGINT) AS centroid_id, "
            "cosine AS v",
        ),
        (
            # code_check (order-sensitive positional checksum) pins the
            # per-dimension SQ8 encoding in the slot
            "ann_sq8_topk",
            "'sq8' AS shape, vec_id, code_check AS centroid_id, "
            "sq_score AS v",
        ),
        (
            "ann_sq8_recall",
            "'sq8_recall' AS shape, CAST(k AS BIGINT) AS vec_id, "
            "CAST(n_queries AS BIGINT) AS centroid_id, recall_at_k AS v",
        ),
        (
            # centroid (< 8) and positional checksum share the slot:
            # checksum < 255 * 64*65/2 = 530,400 < 2^20
            "ann_ivfsq_topk",
            "'ivfsq' AS shape, vec_id, "
            "centroid_id * 1048576 + code_check AS centroid_id, "
            "sq_score AS v",
        ),
        (
            "ann_ivfsq_recall",
            "'ivfsq_recall' AS shape, CAST(k AS BIGINT) AS vec_id, "
            "CAST(n_queries AS BIGINT) AS centroid_id, recall_at_k AS v",
        ),
        (
            # sq_score rides the bigint slot as micro-units (the
            # ivfpq_refined pattern); v pins the exact-rerank cosine
            "ann_ivfsq_refined_topk",
            "'ivfsq_refined' AS shape, vec_id, "
            "CAST(round(sq_score * 1000000.0, 0) AS BIGINT) AS centroid_id, "
            "cosine AS v",
        ),
        (
            "ann_ivfsq_refined_recall",
            "'ivfsq_ref_recall' AS shape, CAST(k AS BIGINT) AS vec_id, "
            "CAST(n_queries AS BIGINT) AS centroid_id, recall_at_k AS v",
        ),
    ]

    @register("ann_ivf_suite", oracle=_union_oracle(parts))
    def ann_ivf_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the trained-quantizer index family: the IVF
        probe's top-10 (vec, inverted list, cosine), its recall@10
        against exact brute force, the product-quantization ADC top-10
        with its packed code word, and the composed IVF-PQ top-10
        (members: ann_ivf_topk, ann_ivf_recall, ann_pq_topk,
        ann_ivfpq_topk, ann_pq_recall, ann_ivf_recall_sampled — the
        hash-sampled ground-truth mode a 100-TB corpus needs —
        ann_ivfpq_residual_topk / ann_ivfpq_recall /
        ann_ivfpq_residual_recall — IVFADC residual encoding and the
        raw-vs-residual serving recall that pins its accuracy gain;
        r6 adds ann_knn_graph / ann_knn_graph_lsh — the exact and
        LSH-candidate k-NN graphs semantic dedup consumes, neighbor and
        rank packed into one slot — and ann_ivfpq_refined_topk +
        ann_ivfpq_refined_recall, the two-stage ADC-shortlist +
        exact-rerank serving pattern with the shortlist pricing in the
        bigint slot as micro-units, and its serving recall — 0.60 vs
        0.26 raw on the same probes, pinning that the rerank removes
        quantization loss and leaves probe pruning as the only loss;
        r7 adds ann_sq8_topk + ann_sq8_recall — 8-bit scalar
        quantization, the high-recall/low-compression point on the same
        compressed-serving curve, bounds training and encoding
        SQL-replayed, the positional code checksum in the slot — and
        ann_ivfsq_topk + ann_ivfsq_recall, the FAISS IVF,SQ8 composition
        and its end-to-end serving recall, completing the quantizer
        matrix IVF x {raw, PQ, residual-PQ, SQ8}; r8 adds
        ann_ivfsq_refined_topk + ann_ivfsq_refined_recall — the
        two-stage SQ8-shortlist + exact-rerank serving mode, completing
        the {PQ, SQ8} x {unrefined, refined} serving matrix, refined
        recall >= unrefined pytest-pinned)."""
        topk = _q("ann_ivf_topk")(spark, sf_dir).select(
            F.lit("topk").alias("shape"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("centroid_id").cast("bigint").alias("centroid_id"),
            F.col("cosine").alias("v"),
        )
        rec = _q("ann_ivf_recall")(spark, sf_dir).select(
            F.lit("recall").alias("shape"),
            F.col("k").cast("bigint").alias("vec_id"),
            F.col("n_queries").cast("bigint").alias("centroid_id"),
            F.col("recall_at_k").alias("v"),
        )
        pq = _q("ann_pq_topk")(spark, sf_dir).select(
            F.lit("pq").alias("shape"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("code_packed").cast("bigint").alias("centroid_id"),
            F.col("pq_score").alias("v"),
        )
        ivfpq = _q("ann_ivfpq_topk")(spark, sf_dir).select(
            F.lit("ivfpq").alias("shape"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            (F.col("centroid_id").cast("bigint") * 4096
             + F.col("code_packed").cast("bigint")).alias("centroid_id"),
            F.col("pq_score").alias("v"),
        )
        pq_rec = _q("ann_pq_recall")(spark, sf_dir).select(
            F.lit("pq_recall").alias("shape"),
            F.col("k").cast("bigint").alias("vec_id"),
            F.col("n_queries").cast("bigint").alias("centroid_id"),
            F.col("recall_at_k").alias("v"),
        )
        rec_s = _q("ann_ivf_recall_sampled")(spark, sf_dir).select(
            F.lit("recall_sampled").alias("shape"),
            F.col("k").cast("bigint").alias("vec_id"),
            F.col("n_queries").cast("bigint").alias("centroid_id"),
            F.col("recall_at_k").alias("v"),
        )
        ivfpq_res = _q("ann_ivfpq_residual_topk")(spark, sf_dir).select(
            F.lit("ivfpq_res").alias("shape"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            (F.col("centroid_id").cast("bigint") * 4096
             + F.col("code_packed").cast("bigint")).alias("centroid_id"),
            F.col("pq_score").alias("v"),
        )
        ipq_rec = _q("ann_ivfpq_recall")(spark, sf_dir).select(
            F.lit("ivfpq_recall").alias("shape"),
            F.col("k").cast("bigint").alias("vec_id"),
            F.col("n_queries").cast("bigint").alias("centroid_id"),
            F.col("recall_at_k").alias("v"),
        )
        ipq_res_rec = _q("ann_ivfpq_residual_recall")(spark, sf_dir).select(
            F.lit("ivfpq_res_recall").alias("shape"),
            F.col("k").cast("bigint").alias("vec_id"),
            F.col("n_queries").cast("bigint").alias("centroid_id"),
            F.col("recall_at_k").alias("v"),
        )
        knn = _q("ann_knn_graph")(spark, sf_dir).select(
            F.lit("knn").alias("shape"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            (F.col("neighbor_id").cast("bigint") * 10
             + F.col("rank").cast("bigint")).alias("centroid_id"),
            F.col("cosine").alias("v"),
        )
        knn_l = _q("ann_knn_graph_lsh")(spark, sf_dir).select(
            F.lit("knn_lsh").alias("shape"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            (F.col("neighbor_id").cast("bigint") * 10
             + F.col("rank").cast("bigint")).alias("centroid_id"),
            F.col("cosine").alias("v"),
        )
        knn_c = _q("ann_knn_graph_lsh_capped")(spark, sf_dir).select(
            F.lit("knn_capped").alias("shape"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            (F.col("neighbor_id").cast("bigint") * 10
             + F.col("rank").cast("bigint")).alias("centroid_id"),
            F.col("cosine").alias("v"),
        )
        knn_rec = _q("ann_knn_graph_recall")(spark, sf_dir).select(
            F.lit("knn_recall").alias("shape"),
            F.col("n_exact").cast("bigint").alias("vec_id"),
            (F.col("n_lsh").cast("bigint") * 100000
             + F.col("n_capped").cast("bigint")).alias("centroid_id"),
            (F.col("recall_lsh") * 1000 + F.col("recall_capped")).alias("v"),
        )
        ref_rec = _q("ann_ivfpq_refined_recall")(spark, sf_dir).select(
            F.lit("ivfpq_ref_recall").alias("shape"),
            F.col("k").cast("bigint").alias("vec_id"),
            F.col("n_queries").cast("bigint").alias("centroid_id"),
            F.col("recall_at_k").alias("v"),
        )
        refined = _q("ann_ivfpq_refined_topk")(spark, sf_dir).select(
            F.lit("ivfpq_refined").alias("shape"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.round(F.col("pq_score") * 1000000.0, 0)
            .cast("bigint")
            .alias("centroid_id"),
            F.col("cosine").alias("v"),
        )
        sq8 = _q("ann_sq8_topk")(spark, sf_dir).select(
            F.lit("sq8").alias("shape"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("code_check").cast("bigint").alias("centroid_id"),
            F.col("sq_score").alias("v"),
        )
        sq8_rec = _q("ann_sq8_recall")(spark, sf_dir).select(
            F.lit("sq8_recall").alias("shape"),
            F.col("k").cast("bigint").alias("vec_id"),
            F.col("n_queries").cast("bigint").alias("centroid_id"),
            F.col("recall_at_k").alias("v"),
        )
        ivfsq = _q("ann_ivfsq_topk")(spark, sf_dir).select(
            F.lit("ivfsq").alias("shape"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            (F.col("centroid_id").cast("bigint") * 1048576
             + F.col("code_check").cast("bigint")).alias("centroid_id"),
            F.col("sq_score").alias("v"),
        )
        ivfsq_rec = _q("ann_ivfsq_recall")(spark, sf_dir).select(
            F.lit("ivfsq_recall").alias("shape"),
            F.col("k").cast("bigint").alias("vec_id"),
            F.col("n_queries").cast("bigint").alias("centroid_id"),
            F.col("recall_at_k").alias("v"),
        )
        ivfsq_ref = _q("ann_ivfsq_refined_topk")(spark, sf_dir).select(
            F.lit("ivfsq_refined").alias("shape"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.round(F.col("sq_score") * 1000000.0, 0)
            .cast("bigint")
            .alias("centroid_id"),
            F.col("cosine").alias("v"),
        )
        ivfsq_ref_rec = _q("ann_ivfsq_refined_recall")(spark, sf_dir).select(
            F.lit("ivfsq_ref_recall").alias("shape"),
            F.col("k").cast("bigint").alias("vec_id"),
            F.col("n_queries").cast("bigint").alias("centroid_id"),
            F.col("recall_at_k").alias("v"),
        )
        return _union_spark(
            [topk, rec, pq, ivfpq, pq_rec, rec_s, ivfpq_res, ipq_rec,
             ipq_res_rec, knn, knn_l, knn_c, knn_rec, ref_rec, refined,
             sq8, sq8_rec, ivfsq, ivfsq_rec, ivfsq_ref, ivfsq_ref_rec]
        )


# ---------------------------------------------------------------------------
# text_doc_metrics — wide merge of the five per-document text analyses
# ---------------------------------------------------------------------------


def _register_text_doc_metrics() -> None:
    oracle = f"""
SELECT t.doc_id, t.n_tokens, t.n_bpe_tokens, t.n_chars,
       l.stop_ratio, l.predicted_lang,
       q.punct_ratio, q.mean_token_len, q.quality,
       f.fingerprint, f.norm_len,
       r.n_trigrams, r.n_distinct_trigrams,
       r.dup_trigram_frac, r.top_trigram_frac,
       s.n_spans, s.dup_spans, s.dup_span_frac,
       p.n_emails, p.n_ipv4, p.n_phones, p.n_pii,
       m.n_bigrams, m.nll_sum, m.avg_nll,
       b.pred_label, b.nb_score, b.is_correct,
       g.ok_words, g.ok_mean_word_len, g.ok_symbol_ratio,
       g.ok_alpha_frac, g.ok_stop_hits, g.passes AS gopher_passes,
       e.n_tokens AS enc_n_tokens, e.n_unk,
       COALESCE(array_to_string(e.ids, ','), '') AS ids_csv,
       x.n_kept, x.n_removed, md5(x.clean_text) AS clean_digest
FROM (\n{ORACLES["text_token_count"]}\n) t
JOIN (\n{ORACLES["text_lang_id"]}\n) l USING (doc_id)
JOIN (\n{ORACLES["text_quality"]}\n) q USING (doc_id)
JOIN (\n{ORACLES["text_fingerprint"]}\n) f USING (doc_id)
JOIN (\n{ORACLES["text_repetition"]}\n) r USING (doc_id)
JOIN (\n{ORACLES["text_dup_spans"]}\n) s USING (doc_id)
JOIN (\n{ORACLES["text_pii_scrub"]}\n) p USING (doc_id)
JOIN (\n{ORACLES["text_lm_score"]}\n) m USING (doc_id)
JOIN (\n{ORACLES["text_nb_source"]}\n) b USING (doc_id)
JOIN (\n{ORACLES["text_gopher_rules"]}\n) g USING (doc_id)
JOIN (\n{ORACLES["text_encode_vocab"]}\n) e USING (doc_id)
JOIN (\n{ORACLES["text_remove_dup_spans"]}\n) x USING (doc_id)
"""

    @register("text_doc_metrics", oracle=oracle)
    def text_doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Wide per-document merge of the ten text-analysis operators
        (members: text_token_count, text_lang_id, text_quality,
        text_fingerprint, text_repetition, text_dup_spans — cross-doc
        duplicated-span mass — text_pii_scrub's redaction counters,
        text_lm_score's bigram-LM negative log likelihood,
        text_nb_source's Naive-Bayes prediction,
        text_gopher_rules' rule-set gates, and text_encode_vocab's
        stored-vocabulary token ids — pinned as the order-preserving
        ``ids_csv`` rendering so the fold stays driver-representable
        (scalar columns only), UNK=0, trained on the even-doc slice —
        and r7's text_remove_dup_spans, the Lee-et-al removal transform,
        pinned here as kept/removed counters + an md5 digest of the full
        cleaned text) —
        the feature row a curation pipeline computes per doc, all
        columns value-pinned at once."""
        tc = _q("text_token_count")(spark, sf_dir)
        li = _q("text_lang_id")(spark, sf_dir).select(
            "doc_id", "stop_ratio", "predicted_lang"
        )
        qs = _q("text_quality")(spark, sf_dir).select(
            "doc_id", "punct_ratio", "mean_token_len", "quality"
        )
        fp = _q("text_fingerprint")(spark, sf_dir)
        rp = _q("text_repetition")(spark, sf_dir)
        ds = _q("text_dup_spans")(spark, sf_dir)
        pi = _q("text_pii_scrub")(spark, sf_dir).select(
            "doc_id", "n_emails", "n_ipv4", "n_phones", "n_pii"
        )
        lm = _q("text_lm_score")(spark, sf_dir).select(
            "doc_id", "n_bigrams", "nll_sum", "avg_nll"
        )
        nb = _q("text_nb_source")(spark, sf_dir).select(
            "doc_id", "pred_label", "nb_score", "is_correct"
        )
        gr = _q("text_gopher_rules")(spark, sf_dir).select(
            "doc_id",
            "ok_words",
            "ok_mean_word_len",
            "ok_symbol_ratio",
            "ok_alpha_frac",
            "ok_stop_hits",
            F.col("passes").alias("gopher_passes"),
        )
        ev = _q("text_encode_vocab")(spark, sf_dir).select(
            "doc_id",
            F.col("n_tokens").alias("enc_n_tokens"),
            "n_unk",
            # Driver-representable projection of the token-id array: the
            # driver's pandas canonicalizer sorts columns, and a list
            # column is unhashable/unsortable there — so the curated fold
            # carries the order-preserving CSV rendering (still pins the
            # exact sequence); the fine-grained ``text_encode_vocab``
            # entry keeps the raw ARRAY.
            F.concat_ws(",", F.col("ids").cast("array<string>")).alias(
                "ids_csv"
            ),
        )
        rm = _q("text_remove_dup_spans")(spark, sf_dir).select(
            "doc_id",
            "n_kept",
            "n_removed",
            # the full cleaned text is pinned by digest (the fine-grained
            # entry pins it verbatim); md5-of-UTF-8 matches DuckDB's
            # md5(VARCHAR)
            F.md5(F.encode("clean_text", "UTF-8")).alias("clean_digest"),
        )
        return (
            tc.join(li, "doc_id")
            .join(qs, "doc_id")
            .join(fp, "doc_id")
            .join(rp, "doc_id")
            .join(ds, "doc_id")
            .join(pi, "doc_id")
            .join(lm, "doc_id")
            .join(nb, "doc_id")
            .join(gr, "doc_id")
            .join(ev, "doc_id")
            .join(rm, "doc_id")
        )


# ---------------------------------------------------------------------------
# text_corpus_stats — folds text_corpus_composition + text_vocab_stats
# ---------------------------------------------------------------------------


def _register_text_corpus_stats() -> None:
    parts = [
        (
            "text_corpus_composition",
            "'composition' AS shape, source, lang, n_docs, total_tokens AS n2, "
            "dup_docs AS n3, mean_quality AS v1, dup_rate AS v2",
        ),
        (
            "text_vocab_stats",
            "'vocab' AS shape, CAST(NULL AS VARCHAR) AS source, "
            "CAST(NULL AS VARCHAR) AS lang, n_docs, vocab_size AS n2, "
            "total_terms AS n3, mean_set_size AS v1, CAST(NULL AS DOUBLE) AS v2",
        ),
        (
            # slot reuse: lang <- doc_id (as text), n_docs <- n_bigrams,
            # v1 <- nll_sum, v2 <- avg_nll
            "text_lm_heldout",
            "'lm_heldout' AS shape, CAST(NULL AS VARCHAR) AS source, "
            "CAST(doc_id AS VARCHAR) AS lang, n_bigrams AS n_docs, "
            "CAST(NULL AS BIGINT) AS n2, CAST(NULL AS BIGINT) AS n3, "
            "nll_sum AS v1, avg_nll AS v2",
        ),
        (
            # slot reuse: source <- term, lang <- doc_id (as text),
            # n_docs <- tf, n2 <- df, n3 <- rank, v1 <- score
            "text_tfidf_keywords",
            "'tfidf' AS shape, term AS source, "
            "CAST(doc_id AS VARCHAR) AS lang, tf AS n_docs, df AS n2, "
            "CAST(rk AS BIGINT) AS n3, score AS v1, "
            "CAST(NULL AS DOUBLE) AS v2",
        ),
        (
            # slot reuse: source <- term, lang <- total_tf (as text),
            # n_docs <- rank, n2 <- tf, n3 <- cum_tf, v1 <- cum_ppm,
            # v2 <- in_vocab as 0/1
            "text_vocab_coverage",
            "'vocab_coverage' AS shape, term AS source, "
            "CAST(total_tf AS VARCHAR) AS lang, CAST(rank AS BIGINT) "
            "AS n_docs, tf AS n2, cum_tf AS n3, "
            "CAST(cum_ppm AS DOUBLE) AS v1, "
            "CAST(CASE WHEN in_vocab THEN 1 ELSE 0 END AS DOUBLE) AS v2",
        ),
        (
            # slot reuse: source <- term, lang <- drift_num (as text),
            # n_docs <- rank, n2 <- tf_a, n3 <- tf_b, v1/v2 <- rate ppms
            "text_term_drift",
            "'term_drift' AS shape, term AS source, "
            "CAST(drift_num AS VARCHAR) AS lang, CAST(rank AS BIGINT) "
            "AS n_docs, tf_a AS n2, tf_b AS n3, "
            "CAST(rate_a_ppm AS DOUBLE) AS v1, "
            "CAST(rate_b_ppm AS DOUBLE) AS v2",
        ),
        (
            # slot reuse: n_docs <- n_terms, n2/n3 <- slice totals,
            # v1 <- tvd_ppm, v2 <- packed per-slice type counts
            "text_corpus_drift",
            "'corpus_drift' AS shape, CAST(NULL AS VARCHAR) AS source, "
            "CAST(NULL AS VARCHAR) AS lang, n_terms AS n_docs, "
            "total_a AS n2, total_b AS n3, CAST(tvd_ppm AS DOUBLE) AS v1, "
            "CAST(n_terms_a * 1000000 + n_terms_b AS DOUBLE) AS v2",
        ),
        (
            # slot reuse: n_docs <- n_batch_terms, n2/n3 <- totals,
            # v1 <- tvd_ppm, v2 <- matched_terms
            "text_drift_stored",
            "'drift_stored' AS shape, CAST(NULL AS VARCHAR) AS source, "
            "CAST(NULL AS VARCHAR) AS lang, n_batch_terms AS n_docs, "
            "total_batch AS n2, total_profile AS n3, "
            "CAST(tvd_ppm AS DOUBLE) AS v1, "
            "CAST(matched_terms AS DOUBLE) AS v2",
        ),
        (
            # slot reuse: source <- md5(chunk_text) (full text pinned in
            # the fine-grained entry), lang <- doc_id (as text),
            # n_docs <- chunk_id, n2 <- n_tokens, n3 <- start_token
            "text_chunk_documents",
            "'chunks' AS shape, md5(chunk_text) AS source, "
            "CAST(doc_id AS VARCHAR) AS lang, "
            "CAST(chunk_id AS BIGINT) AS n_docs, n_tokens AS n2, "
            "start_token AS n3, CAST(NULL AS DOUBLE) AS v1, "
            "CAST(NULL AS DOUBLE) AS v2",
        ),
    ]

    @register("text_corpus_stats", oracle=_union_oracle(parts))
    def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the per-(source, lang) dataset-card rollup,
        the corpus vocabulary summary, the train-on-slice LM scores
        (model trained on every 7th doc, the rest scored with add-1
        backoff — the real CCNet shape), the per-document top-3
        tf-idf keywords, the 90%-mass vocabulary head, the en-vs-rest
        term-drift views (per-term top-50 and the scalar TVD dial), and
        the STORED-profile drift probe (even-doc profile persisted via
        save_term_profile, odd docs drifted against the frozen tables —
        the streaming loop's drift_monitor path), and the overlapping
        16/4-token RAG chunk layout (chunk text pinned via md5 in the
        shared string slot) (members: text_corpus_composition,
        text_vocab_stats, text_lm_heldout, text_tfidf_keywords,
        text_vocab_coverage, text_term_drift, text_corpus_drift,
        text_drift_stored, text_chunk_documents)."""
        comp = _q("text_corpus_composition")(spark, sf_dir).select(
            F.lit("composition").alias("shape"),
            "source",
            "lang",
            "n_docs",
            F.col("total_tokens").alias("n2"),
            F.col("dup_docs").alias("n3"),
            F.col("mean_quality").alias("v1"),
            F.col("dup_rate").alias("v2"),
        )
        voc = _q("text_vocab_stats")(spark, sf_dir).select(
            F.lit("vocab").alias("shape"),
            _null("source", "string"),
            _null("lang", "string"),
            "n_docs",
            F.col("vocab_size").alias("n2"),
            F.col("total_terms").alias("n3"),
            F.col("mean_set_size").alias("v1"),
            _null("v2", "double"),
        )
        lmh = _q("text_lm_heldout")(spark, sf_dir).select(
            F.lit("lm_heldout").alias("shape"),
            _null("source", "string"),
            F.col("doc_id").cast("string").alias("lang"),
            F.col("n_bigrams").alias("n_docs"),
            _null("n2", "bigint"),
            _null("n3", "bigint"),
            F.col("nll_sum").alias("v1"),
            F.col("avg_nll").alias("v2"),
        )
        tk = _q("text_tfidf_keywords")(spark, sf_dir).select(
            F.lit("tfidf").alias("shape"),
            F.col("term").alias("source"),
            F.col("doc_id").cast("string").alias("lang"),
            F.col("tf").alias("n_docs"),
            F.col("df").alias("n2"),
            F.col("rk").cast("bigint").alias("n3"),
            F.col("score").alias("v1"),
            _null("v2", "double"),
        )
        vc = _q("text_vocab_coverage")(spark, sf_dir).select(
            F.lit("vocab_coverage").alias("shape"),
            F.col("term").alias("source"),
            F.col("total_tf").cast("string").alias("lang"),
            F.col("rank").cast("bigint").alias("n_docs"),
            F.col("tf").alias("n2"),
            F.col("cum_tf").alias("n3"),
            F.col("cum_ppm").cast("double").alias("v1"),
            F.when(F.col("in_vocab"), F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("v2"),
        )
        td = _q("text_term_drift")(spark, sf_dir).select(
            F.lit("term_drift").alias("shape"),
            F.col("term").alias("source"),
            F.col("drift_num").cast("string").alias("lang"),
            F.col("rank").cast("bigint").alias("n_docs"),
            F.col("tf_a").alias("n2"),
            F.col("tf_b").alias("n3"),
            F.col("rate_a_ppm").cast("double").alias("v1"),
            F.col("rate_b_ppm").cast("double").alias("v2"),
        )
        cd = _q("text_corpus_drift")(spark, sf_dir).select(
            F.lit("corpus_drift").alias("shape"),
            _null("source", "string"),
            _null("lang", "string"),
            F.col("n_terms").alias("n_docs"),
            F.col("total_a").alias("n2"),
            F.col("total_b").alias("n3"),
            F.col("tvd_ppm").cast("double").alias("v1"),
            (
                F.col("n_terms_a").cast("double") * 1000000.0
                + F.col("n_terms_b").cast("double")
            ).alias("v2"),
        )
        ds = _q("text_drift_stored")(spark, sf_dir).select(
            F.lit("drift_stored").alias("shape"),
            _null("source", "string"),
            _null("lang", "string"),
            F.col("n_batch_terms").alias("n_docs"),
            F.col("total_batch").alias("n2"),
            F.col("total_profile").alias("n3"),
            F.col("tvd_ppm").cast("double").alias("v1"),
            F.col("matched_terms").cast("double").alias("v2"),
        )
        ch = _q("text_chunk_documents")(spark, sf_dir).select(
            F.lit("chunks").alias("shape"),
            F.md5("chunk_text").alias("source"),
            F.col("doc_id").cast("string").alias("lang"),
            F.col("chunk_id").cast("bigint").alias("n_docs"),
            F.col("n_tokens").alias("n2"),
            F.col("start_token").alias("n3"),
            _null("v1", "double"),
            _null("v2", "double"),
        )
        return _union_spark([comp, voc, lmh, tk, vc, td, cd, ds, ch])


# ---------------------------------------------------------------------------
# events_time_windows — folds events_tumbling_window + events_sliding_window
# ---------------------------------------------------------------------------


def _register_events_time_windows() -> None:
    parts = [
        (
            "events_tumbling_window",
            "'tumbling' AS shape, window_start, window_end, event_type, "
            "n_events, total_value",
        ),
        (
            "events_sliding_window",
            "'sliding' AS shape, window_start, window_end, "
            "CAST(NULL AS VARCHAR) AS event_type, n_events, total_value",
        ),
        # the OHLC bar unpivots to four rows so every metric value-pins
        # in the shared total_value slot
        *[
            (
                "events_ohlc",
                f"'ohlc_{m}' AS shape, bucket_start AS window_start, "
                "CAST(NULL AS TIMESTAMP) AS window_end, event_type, "
                f"n_events, {m} AS total_value",
            )
            for m in ("open", "high", "low", "close")
        ],
        (
            # r9: the Z-order layout key per event — slot reuse:
            # n_events <- event_id, total_value <- zkey (<= 2^24,
            # double-exact), so the Morton interleave the write_zorder
            # layout sorts by is bit-pinned at the driver surface.
            "layout_zorder",
            "'zorder' AS shape, CAST(NULL AS TIMESTAMP) AS window_start, "
            "CAST(NULL AS TIMESTAMP) AS window_end, "
            "CAST(NULL AS VARCHAR) AS event_type, "
            "event_id AS n_events, CAST(zkey AS DOUBLE) AS total_value",
        ),
    ]

    @register("events_time_windows", oracle=_union_oracle(parts))
    def events_time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the 1-hour tumbling and 1-hour/30-minute sliding
        event-time window aggregates plus the per-hour OHLC bars unpivoted
        to one row per metric, plus (r9) the per-event Z-order layout key
        — the Morton interleave write_zorder physically sorts by, bit-
        pinned in the total_value slot (members: events_tumbling_window,
        events_sliding_window, events_ohlc, layout_zorder)."""
        tw = _q("events_tumbling_window")(spark, sf_dir).select(
            F.lit("tumbling").alias("shape"),
            "window_start",
            "window_end",
            "event_type",
            "n_events",
            "total_value",
        )
        sw = _q("events_sliding_window")(spark, sf_dir).select(
            F.lit("sliding").alias("shape"),
            "window_start",
            "window_end",
            _null("event_type", "string"),
            "n_events",
            "total_value",
        )
        ohlc = _q("events_ohlc")(spark, sf_dir)
        bars = [
            ohlc.select(
                F.lit(f"ohlc_{m}").alias("shape"),
                F.col("bucket_start").alias("window_start"),
                _null("window_end", "timestamp"),
                "event_type",
                "n_events",
                F.col(m).alias("total_value"),
            )
            for m in ("open", "high", "low", "close")
        ]
        zo = _q("layout_zorder")(spark, sf_dir).select(
            F.lit("zorder").alias("shape"),
            _null("window_start", "timestamp"),
            _null("window_end", "timestamp"),
            _null("event_type", "string"),
            F.col("event_id").alias("n_events"),
            F.col("zkey").cast("double").alias("total_value"),
        )
        return _union_spark([tw, sw, *bars, zo])


# ---------------------------------------------------------------------------
# sample_splits — folds sample_hash_split + sample_stratified
# ---------------------------------------------------------------------------


def _register_sample_splits() -> None:
    parts = [
        ("sample_hash_split", "'hash_split' AS shape, doc_id, split AS tag"),
        ("sample_stratified", "'stratified' AS shape, doc_id, lang AS tag"),
        ("sample_mixture", "'mixture' AS shape, doc_id, lang AS tag"),
        (
            "sample_mixture_tokens",
            "'mixture_tokens' AS shape, doc_id, lang AS tag",
        ),
        (
            # integer-string tag: double->string formatting differs
            # between engines, bigint does not
            "sample_quality_weighted",
            "'quality_weighted' AS shape, doc_id, "
            "CAST(CAST(round(quality * 1000000.0, 0) AS BIGINT) AS VARCHAR) AS tag",
        ),
        (
            "sample_pack_sequences",
            "'packed' AS shape, doc_id, "
            "shard || ':' || bin_id || ':' || bin_offset || ':' || n_tokens"
            " AS tag",
        ),
        (
            "sample_cluster_safe_split",
            "'cluster_safe' AS shape, doc_id, "
            "split || ':' || CAST(cluster_id AS VARCHAR) AS tag",
        ),
        (
            # rank + integer-quality tag (double->string formatting
            # differs between engines; bigint does not)
            "sample_source_cap",
            "'source_cap' AS shape, doc_id, "
            "source || ':' || CAST(rk AS VARCHAR) || ':' || "
            "CAST(CAST(round(quality * 1000000.0, 0) AS BIGINT) AS VARCHAR)"
            " AS tag",
        ),
    ]

    @register("sample_splits", oracle=_union_oracle(parts))
    def sample_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the deterministic 80/10/10 hash split, the
        language-stratified downsample, the target-mixture resamples
        (doc-count and token-mass census), the quality-weighted keep
        with its round-6 quality pinned as an integer tag, the r6
        pack-then-chunk sequence layout, the leakage-safe
        cluster-keyed split, and the per-source quality-ranked
        contribution cap (members: sample_hash_split,
        sample_stratified, sample_mixture, sample_mixture_tokens,
        sample_quality_weighted, sample_pack_sequences,
        sample_cluster_safe_split, sample_source_cap)."""
        hs = _q("sample_hash_split")(spark, sf_dir).select(
            F.lit("hash_split").alias("shape"),
            "doc_id",
            F.col("split").alias("tag"),
        )
        st = _q("sample_stratified")(spark, sf_dir).select(
            F.lit("stratified").alias("shape"),
            "doc_id",
            F.col("lang").alias("tag"),
        )
        mx = _q("sample_mixture")(spark, sf_dir).select(
            F.lit("mixture").alias("shape"),
            "doc_id",
            F.col("lang").alias("tag"),
        )
        mxt = _q("sample_mixture_tokens")(spark, sf_dir).select(
            F.lit("mixture_tokens").alias("shape"),
            "doc_id",
            F.col("lang").alias("tag"),
        )
        qw = _q("sample_quality_weighted")(spark, sf_dir).select(
            F.lit("quality_weighted").alias("shape"),
            "doc_id",
            F.round(F.col("quality") * 1000000.0, 0)
            .cast("bigint")
            .cast("string")
            .alias("tag"),
        )
        pk = _q("sample_pack_sequences")(spark, sf_dir).select(
            F.lit("packed").alias("shape"),
            "doc_id",
            F.concat_ws(
                ":", "shard", "bin_id", "bin_offset", "n_tokens"
            ).alias("tag"),
        )
        cs = _q("sample_cluster_safe_split")(spark, sf_dir).select(
            F.lit("cluster_safe").alias("shape"),
            "doc_id",
            F.concat_ws(":", "split", F.col("cluster_id").cast("string")).alias(
                "tag"
            ),
        )
        sc = _q("sample_source_cap")(spark, sf_dir).select(
            F.lit("source_cap").alias("shape"),
            "doc_id",
            F.concat_ws(
                ":",
                "source",
                F.col("rk").cast("string"),
                F.round(F.col("quality") * 1000000.0, 0)
                .cast("bigint")
                .cast("string"),
            ).alias("tag"),
        )
        return _union_spark([hs, st, mx, mxt, qw, pk, cs, sc])


# ---------------------------------------------------------------------------
# window_suite — wide merge of the six window-function entries
# ---------------------------------------------------------------------------

_WINDOW_SUITE_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(row_number() OVER wd AS INTEGER) AS rn,
       CAST(rank() OVER wp AS INTEGER) AS rnk,
       CAST(dense_rank() OVER wp AS INTEGER) AS drnk,
       lag(o_totalprice) OVER wd AS prev_price,
       lead(o_totalprice) OVER wd AS next_price,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_total,
       CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                           RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS BIGINT)
         AS n_similar_priced,
       CAST(ntile(4) OVER wt AS INTEGER) AS quartile,
       percent_rank() OVER wt AS pct_rank,
       cume_dist() OVER wt AS cum_dist,
       first_value(o_totalprice) OVER wt AS cheapest,
       last_value(o_totalprice) OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice, o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND UNBOUNDED FOLLOWING) AS priciest
FROM orders
WINDOW wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wp AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC),
       wt AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
"""


@register("window_suite", oracle=_WINDOW_SUITE_ORACLE)
def window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide merge of the whole window-function surface (members:
    window_row_number_topn, window_rank_dense, window_lag_lead,
    window_running_sum, window_range_frame, window_distribution): one scan
    of orders, one exchange on o_custkey, three sort specs sharing that
    partitioning. The per-member semantics (ROWS vs RANGE frames,
    navigation, ranking, distribution, decimal-exact running sum) are all
    value-pinned on every row."""
    from pyspark.sql import Window as W

    wd = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    w_run = wd.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_range = (
        W.partitionBy("o_custkey").orderBy("o_totalprice").rangeBetween(-1000, 1000)
    )
    wt = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wt_full = wt.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(wd).alias("rn"),
        F.rank().over(wp).alias("rnk"),
        F.dense_rank().over(wp).alias("drnk"),
        F.lag("o_totalprice").over(wd).alias("prev_price"),
        F.lead("o_totalprice").over(wd).alias("next_price"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .over(w_run)
        .cast("double")
        .alias("running_total"),
        F.count(F.lit(1)).over(w_range).alias("n_similar_priced"),
        F.ntile(4).over(wt).alias("quartile"),
        F.percent_rank().over(wt).alias("pct_rank"),
        F.cume_dist().over(wt).alias("cum_dist"),
        F.first("o_totalprice").over(wt).alias("cheapest"),
        F.last("o_totalprice").over(wt_full).alias("priciest"),
    )


# ---------------------------------------------------------------------------
# join_shapes — tagged union of the join-kind surface + global top-k
# Schema: (shape, k1 BIGINT, k2 BIGINT, s1 VARCHAR, d1 DOUBLE, d2 DOUBLE)
# ---------------------------------------------------------------------------


def _register_join_shapes() -> None:
    nb = _sql_null("k2", "BIGINT")
    ns = _sql_null("s1", "VARCHAR")
    nd1 = _sql_null("d1", "DOUBLE")
    nd2 = _sql_null("d2", "DOUBLE")
    parts = [
        (
            "join_inner",
            f"'inner' AS shape, o_orderkey AS k1, {nb}, c_name AS s1, "
            f"CAST(o_totalprice AS DOUBLE) AS d1, {nd2}",
        ),
        (
            "join_left_outer",
            f"'left' AS shape, c_custkey AS k1, o_orderkey AS k2, c_name AS s1, "
            f"{nd1}, {nd2}",
        ),
        (
            "join_semi",
            f"'semi' AS shape, c_custkey AS k1, {nb}, c_name AS s1, {nd1}, {nd2}",
        ),
        (
            "join_anti",
            f"'anti' AS shape, c_custkey AS k1, {nb}, c_name AS s1, {nd1}, {nd2}",
        ),
        (
            "join_full_outer",
            f"'full' AS shape, c_custkey AS k1, o_custkey AS k2, c_name AS s1, "
            f"CAST(n_orders AS DOUBLE) AS d1, {nd2}",
        ),
        (
            "join_cross",
            f"'cross' AS shape, CAST(NULL AS BIGINT) AS k1, {nb}, "
            f"r_name || '/' || n_name AS s1, {nd1}, {nd2}",
        ),
        (
            "join_broadcast_chain",
            f"'broadcast_chain' AS shape, CAST(NULL AS BIGINT) AS k1, {nb}, "
            f"r_name || '/' || n_name AS s1, CAST(n_customers AS DOUBLE) AS d1, "
            f"total_acctbal AS d2",
        ),
        (
            "join_theta_range",
            f"'theta_range' AS shape, l_orderkey AS k1, "
            f"CAST(l_linenumber AS BIGINT) AS k2, "
            f"CAST(o_orderdate AS VARCHAR) || '/' || CAST(l_shipdate AS VARCHAR) "
            f"AS s1, {nd1}, {nd2}",
        ),
        (
            "null_safe_equality",
            f"'null_safe' AS shape, key_a AS k1, key_b AS k2, {ns}, {nd1}, {nd2}",
        ),
        (
            "topk_global",
            f"'topk_global' AS shape, o_orderkey AS k1, {nb}, {ns}, "
            f"CAST(o_totalprice AS DOUBLE) AS d1, {nd2}",
        ),
    ]

    @register("join_shapes", oracle=_union_oracle(parts))
    def join_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the full join-kind surface plus the global top-k
        sort (members: join_inner, join_left_outer, join_semi, join_anti,
        join_full_outer, join_cross, join_broadcast_chain, join_theta_range,
        null_safe_equality, topk_global). Every member's exact row set is
        value-pinned; per-member plan shapes (broadcast chains, theta
        residuals, TakeOrderedAndProject) stay asserted in tests/."""
        runs = []
        runs.append(
            _q("join_inner")(spark, sf_dir).select(
                F.lit("inner").alias("shape"),
                F.col("o_orderkey").alias("k1"),
                _null("k2", "bigint"),
                F.col("c_name").alias("s1"),
                F.col("o_totalprice").cast("double").alias("d1"),
                _null("d2", "double"),
            )
        )
        runs.append(
            _q("join_left_outer")(spark, sf_dir).select(
                F.lit("left").alias("shape"),
                F.col("c_custkey").alias("k1"),
                F.col("o_orderkey").alias("k2"),
                F.col("c_name").alias("s1"),
                _null("d1", "double"),
                _null("d2", "double"),
            )
        )
        for nm, tag in (("join_semi", "semi"), ("join_anti", "anti")):
            runs.append(
                _q(nm)(spark, sf_dir).select(
                    F.lit(tag).alias("shape"),
                    F.col("c_custkey").alias("k1"),
                    _null("k2", "bigint"),
                    F.col("c_name").alias("s1"),
                    _null("d1", "double"),
                    _null("d2", "double"),
                )
            )
        runs.append(
            _q("join_full_outer")(spark, sf_dir).select(
                F.lit("full").alias("shape"),
                F.col("c_custkey").alias("k1"),
                F.col("o_custkey").alias("k2"),
                F.col("c_name").alias("s1"),
                F.col("n_orders").cast("double").alias("d1"),
                _null("d2", "double"),
            )
        )
        runs.append(
            _q("join_cross")(spark, sf_dir).select(
                F.lit("cross").alias("shape"),
                _null("k1", "bigint"),
                _null("k2", "bigint"),
                F.concat_ws("/", "r_name", "n_name").alias("s1"),
                _null("d1", "double"),
                _null("d2", "double"),
            )
        )
        runs.append(
            _q("join_broadcast_chain")(spark, sf_dir).select(
                F.lit("broadcast_chain").alias("shape"),
                _null("k1", "bigint"),
                _null("k2", "bigint"),
                F.concat_ws("/", "r_name", "n_name").alias("s1"),
                F.col("n_customers").cast("double").alias("d1"),
                F.col("total_acctbal").alias("d2"),
            )
        )
        runs.append(
            _q("join_theta_range")(spark, sf_dir).select(
                F.lit("theta_range").alias("shape"),
                F.col("l_orderkey").alias("k1"),
                F.col("l_linenumber").cast("bigint").alias("k2"),
                F.concat_ws(
                    "/",
                    F.col("o_orderdate").cast("string"),
                    F.col("l_shipdate").cast("string"),
                ).alias("s1"),
                _null("d1", "double"),
                _null("d2", "double"),
            )
        )
        runs.append(
            _q("null_safe_equality")(spark, sf_dir).select(
                F.lit("null_safe").alias("shape"),
                F.col("key_a").alias("k1"),
                F.col("key_b").alias("k2"),
                _null("s1", "string"),
                _null("d1", "double"),
                _null("d2", "double"),
            )
        )
        runs.append(
            _q("topk_global")(spark, sf_dir).select(
                F.lit("topk_global").alias("shape"),
                F.col("o_orderkey").alias("k1"),
                _null("k2", "bigint"),
                _null("s1", "string"),
                F.col("o_totalprice").cast("double").alias("d1"),
                _null("d2", "double"),
            )
        )
        return _union_spark(runs)


# ---------------------------------------------------------------------------
# agg_shapes — tagged union of grouping shapes + histogram + unpivot
# Schema: (shape, g1 VARCHAR, g2 VARCHAR, n BIGINT, v DOUBLE)
# ---------------------------------------------------------------------------


def _register_agg_shapes() -> None:
    ng = _sql_null("g2", "VARCHAR")
    nn = _sql_null("n", "BIGINT")
    nv = _sql_null("v", "DOUBLE")
    parts = [
        (
            "agg_rollup",
            "'rollup' AS shape, l_returnflag AS g1, l_linestatus AS g2, "
            "n, qty AS v",
        ),
        (
            "agg_cube",
            f"'cube' AS shape, o_orderstatus AS g1, o_orderpriority AS g2, n, {nv}",
        ),
        (
            "agg_grouping_sets",
            f"'grouping_sets' AS shape, l_returnflag AS g1, l_linestatus AS g2, "
            f"n, {nv}",
        ),
        (
            "agg_having",
            f"'having' AS shape, CAST(o_custkey AS VARCHAR) AS g1, {ng}, "
            f"n_orders AS n, {nv}",
        ),
        (
            "agg_pivot",
            f"""'pivot' AS shape, l_returnflag AS g1, 'O' AS g2, {nn}, "O" AS v""",
        ),
        (
            "agg_pivot",
            f"""'pivot' AS shape, l_returnflag AS g1, 'F' AS g2, {nn}, "F" AS v""",
        ),
        (
            "unpivot_long_form",
            f"'unpivot' AS shape, CAST(o_orderkey AS VARCHAR) AS g1, "
            f"name AS g2, {nn}, value AS v",
        ),
        (
            "events_value_histogram",
            f"'histogram' AS shape, CAST(bucket AS VARCHAR) AS g1, {ng}, "
            f"n_events AS n, {nv}",
        ),
    ]

    @register("agg_shapes", oracle=_union_oracle(parts))
    def agg_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the grouping-shape surface (members: agg_rollup,
        agg_cube, agg_grouping_sets, agg_having, agg_pivot — unpivoted to
        long form on both sides — unpivot_long_form, events_value_histogram).
        NULL grouping keys from ROLLUP/CUBE stay native NULLs."""
        runs = []
        runs.append(
            _q("agg_rollup")(spark, sf_dir).select(
                F.lit("rollup").alias("shape"),
                F.col("l_returnflag").alias("g1"),
                F.col("l_linestatus").alias("g2"),
                "n",
                F.col("qty").alias("v"),
            )
        )
        runs.append(
            _q("agg_cube")(spark, sf_dir).select(
                F.lit("cube").alias("shape"),
                F.col("o_orderstatus").alias("g1"),
                F.col("o_orderpriority").alias("g2"),
                "n",
                _null("v", "double"),
            )
        )
        runs.append(
            _q("agg_grouping_sets")(spark, sf_dir).select(
                F.lit("grouping_sets").alias("shape"),
                F.col("l_returnflag").alias("g1"),
                F.col("l_linestatus").alias("g2"),
                F.col("n").alias("n"),
                _null("v", "double"),
            )
        )
        runs.append(
            _q("agg_having")(spark, sf_dir).select(
                F.lit("having").alias("shape"),
                F.col("o_custkey").cast("string").alias("g1"),
                _null("g2", "string"),
                F.col("n_orders").alias("n"),
                _null("v", "double"),
            )
        )
        pivot = _q("agg_pivot")(spark, sf_dir)
        for status in ("O", "F"):
            runs.append(
                pivot.select(
                    F.lit("pivot").alias("shape"),
                    F.col("l_returnflag").alias("g1"),
                    F.lit(status).alias("g2"),
                    _null("n", "bigint"),
                    F.col(status).alias("v"),
                )
            )
        runs.append(
            _q("unpivot_long_form")(spark, sf_dir).select(
                F.lit("unpivot").alias("shape"),
                F.col("o_orderkey").cast("string").alias("g1"),
                F.col("name").alias("g2"),
                _null("n", "bigint"),
                F.col("value").alias("v"),
            )
        )
        runs.append(
            _q("events_value_histogram")(spark, sf_dir).select(
                F.lit("histogram").alias("shape"),
                F.col("bucket").cast("string").alias("g1"),
                _null("g2", "string"),
                F.col("n_events").alias("n"),
                _null("v", "double"),
            )
        )
        return _union_spark(runs)


# ---------------------------------------------------------------------------
# agg_stats_suite — tagged union of statistical aggregate families
# Schema: (shape, g VARCHAR, s VARCHAR, n1 BIGINT, n2 BIGINT, v1..v5 DOUBLE)
# ---------------------------------------------------------------------------


def _register_agg_stats_suite() -> None:
    nulls = (
        _sql_null("s", "VARCHAR"),
        _sql_null("n1", "BIGINT"),
        _sql_null("n2", "BIGINT"),
        _sql_null("v1", "DOUBLE"),
        _sql_null("v2", "DOUBLE"),
        _sql_null("v3", "DOUBLE"),
        _sql_null("v4", "DOUBLE"),
        _sql_null("v5", "DOUBLE"),
    )
    ns, nn1, nn2, nv1, nv2, nv3, nv4, nv5 = nulls
    parts = [
        (
            "agg_count_distinct",
            f"'count_distinct' AS shape, o_orderpriority AS g, {ns}, "
            f"n_customers AS n1, n_orders AS n2, {nv1}, {nv2}, {nv3}, {nv4}, {nv5}",
        ),
        (
            "agg_stats",
            f"'stats' AS shape, l_returnflag AS g, {ns}, {nn1}, {nn2}, "
            f"sd_qty AS v1, var_qty AS v2, corr_qty_price AS v3, "
            f"CAST(min_qty AS DOUBLE) AS v4, CAST(max_qty AS DOUBLE) AS v5",
        ),
        (
            "agg_percentile",
            f"'percentile' AS shape, o_orderpriority AS g, {ns}, {nn1}, {nn2}, "
            f"p50 AS v1, p90 AS v2, {nv3}, {nv4}, {nv5}",
        ),
        (
            "agg_argmax",
            f"'argmax' AS shape, CAST(c_nationkey AS VARCHAR) AS g, "
            f"top_name AS s, top_custkey AS n1, {nn2}, "
            f"CAST(top_acctbal AS DOUBLE) AS v1, {nv2}, {nv3}, {nv4}, {nv5}",
        ),
        (
            # r9 sketch tier: exact counts + within-tolerance booleans
            # (estimates are engine-side; see operators/sketches.py)
            "agg_sketch_distinct",
            f"'sketch_distinct' AS shape, event_type AS g, {ns}, "
            f"n_exact AS n1, {nn2}, "
            "CAST(hll_ok AS DOUBLE) AS v1, CAST(theta_ok AS DOUBLE) AS v2, "
            f"{nv3}, {nv4}, {nv5}",
        ),
        (
            "agg_sketch_merge",
            f"'sketch_merge' AS shape, CAST(NULL AS VARCHAR) AS g, {ns}, "
            "n_exact AS n1, n_rows AS n2, "
            "CAST(n_epochs AS DOUBLE) AS v1, CAST(merged_ok AS DOUBLE) AS v2, "
            f"{nv3}, {nv4}, {nv5}",
        ),
        (
            "agg_sketch_quantile",
            f"'sketch_quantile' AS shape, event_type AS g, {ns}, "
            f"n_rows AS n1, {nn2}, "
            "CAST(kll_n_ok AS DOUBLE) AS v1, CAST(rank_ok AS DOUBLE) AS v2, "
            f"{nv3}, {nv4}, {nv5}",
        ),
        (
            # r10: count-min heavy hitters — the frequency member
            "agg_sketch_frequency",
            f"'sketch_frequency' AS shape, term AS g, {ns}, "
            f"n_exact AS n1, {nn2}, "
            "CAST(cm_ge_exact AS DOUBLE) AS v1, "
            "CAST(cm_tol_ok AS DOUBLE) AS v2, "
            "CAST(merged_eq AS DOUBLE) AS v3, "
            f"{nv4}, {nv5}",
        ),
        (
            # r10: theta set algebra — retention/churn distinct ops
            "agg_sketch_theta_ops",
            f"'sketch_theta_ops' AS shape, CAST(NULL AS VARCHAR) AS g, {ns}, "
            "n_union AS n1, n_both AS n2, "
            "CAST(n_a AS DOUBLE) AS v1, CAST(n_b AS DOUBLE) AS v2, "
            "CAST(n_a_only AS DOUBLE) AS v3, "
            "CAST(n_a_ok AND n_b_ok AND n_union_ok AND n_both_ok "
            "AND n_a_only_ok AS DOUBLE) AS v4, "
            f"{nv5}",
        ),
        (
            # r11: theta set algebra OVER capacity — l_partkey across
            # ship years, ~5x past 2^lgk at sf0.1, estimation regime
            "agg_sketch_theta_ops_estimated",
            f"'sketch_theta_ops_est' AS shape, CAST(NULL AS VARCHAR) AS g, "
            f"{ns}, n_union AS n1, n_both AS n2, "
            "CAST(n_a AS DOUBLE) AS v1, CAST(n_b AS DOUBLE) AS v2, "
            "CAST(n_a_only AS DOUBLE) AS v3, "
            "CAST(n_a_ok AND n_b_ok AND n_union_ok AND n_both_ok "
            "AND n_a_only_ok AS DOUBLE) AS v4, "
            f"{nv5}",
        ),
        (
            # r11: bloom membership — exact probe/member/hit/fn/fp counts
            # (the per-order flag vector is engine-independent md5 math,
            # so even the false-positive COUNT is a hard integer pin)
            "agg_sketch_bloom_membership",
            f"'sketch_bloom' AS shape, CAST(NULL AS VARCHAR) AS g, {ns}, "
            "CAST(count(*) AS BIGINT) AS n1, "
            "CAST(sum(is_member::INT) AS BIGINT) AS n2, "
            "CAST(sum(bloom_hit::INT) AS DOUBLE) AS v1, "
            "CAST(sum((is_member AND NOT bloom_hit)::INT) AS DOUBLE) AS v2, "
            "CAST(sum((bloom_hit AND NOT is_member)::INT) AS DOUBLE) AS v3, "
            f"{nv4}, {nv5}",
        ),
        (
            # r10: merged-from-epoch-partials KLL quantile lifecycle
            "agg_sketch_quantile_merged",
            f"'sketch_quantile_merged' AS shape, CAST(NULL AS VARCHAR) AS g, "
            f"{ns}, n_rows AS n1, n_epochs AS n2, "
            "CAST(kll_n_ok AS DOUBLE) AS v1, CAST(rank_ok AS DOUBLE) AS v2, "
            f"{nv3}, {nv4}, {nv5}",
        ),
    ]

    @register("agg_stats_suite", oracle=_union_oracle(parts))
    def agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the statistical aggregate families, plus (r9)
        the DataSketches tier — per-key HLL/theta distinct flags and the
        per-epoch-partials-merged lifecycle pin — and (r10) the
        count-min heavy-hitter, theta set-algebra, and merged-KLL
        members, and (r11) the over-capacity theta twin certifying the
        estimation regime plus the bloom-membership counts (members:
        agg_count_distinct, agg_stats, agg_percentile, agg_argmax,
        agg_sketch_distinct, agg_sketch_merge, agg_sketch_quantile,
        agg_sketch_frequency, agg_sketch_theta_ops,
        agg_sketch_theta_ops_estimated, agg_sketch_bloom_membership,
        agg_sketch_quantile_merged)."""
        runs = []
        runs.append(
            _q("agg_count_distinct")(spark, sf_dir).select(
                F.lit("count_distinct").alias("shape"),
                F.col("o_orderpriority").alias("g"),
                _null("s", "string"),
                F.col("n_customers").alias("n1"),
                F.col("n_orders").alias("n2"),
                *[_null(f"v{i}", "double") for i in range(1, 6)],
            )
        )
        runs.append(
            _q("agg_stats")(spark, sf_dir).select(
                F.lit("stats").alias("shape"),
                F.col("l_returnflag").alias("g"),
                _null("s", "string"),
                _null("n1", "bigint"),
                _null("n2", "bigint"),
                F.col("sd_qty").alias("v1"),
                F.col("var_qty").alias("v2"),
                F.col("corr_qty_price").alias("v3"),
                F.col("min_qty").cast("double").alias("v4"),
                F.col("max_qty").cast("double").alias("v5"),
            )
        )
        runs.append(
            _q("agg_percentile")(spark, sf_dir).select(
                F.lit("percentile").alias("shape"),
                F.col("o_orderpriority").alias("g"),
                _null("s", "string"),
                _null("n1", "bigint"),
                _null("n2", "bigint"),
                F.col("p50").alias("v1"),
                F.col("p90").alias("v2"),
                *[_null(f"v{i}", "double") for i in range(3, 6)],
            )
        )
        runs.append(
            _q("agg_argmax")(spark, sf_dir).select(
                F.lit("argmax").alias("shape"),
                F.col("c_nationkey").cast("string").alias("g"),
                F.col("top_name").alias("s"),
                F.col("top_custkey").alias("n1"),
                _null("n2", "bigint"),
                F.col("top_acctbal").cast("double").alias("v1"),
                *[_null(f"v{i}", "double") for i in range(2, 6)],
            )
        )
        runs.append(
            _q("agg_sketch_distinct")(spark, sf_dir).select(
                F.lit("sketch_distinct").alias("shape"),
                F.col("event_type").alias("g"),
                _null("s", "string"),
                F.col("n_exact").alias("n1"),
                _null("n2", "bigint"),
                F.col("hll_ok").cast("double").alias("v1"),
                F.col("theta_ok").cast("double").alias("v2"),
                *[_null(f"v{i}", "double") for i in range(3, 6)],
            )
        )
        runs.append(
            _q("agg_sketch_merge")(spark, sf_dir).select(
                F.lit("sketch_merge").alias("shape"),
                _null("g", "string"),
                _null("s", "string"),
                F.col("n_exact").alias("n1"),
                F.col("n_rows").alias("n2"),
                F.col("n_epochs").cast("double").alias("v1"),
                F.col("merged_ok").cast("double").alias("v2"),
                *[_null(f"v{i}", "double") for i in range(3, 6)],
            )
        )
        runs.append(
            _q("agg_sketch_quantile")(spark, sf_dir).select(
                F.lit("sketch_quantile").alias("shape"),
                F.col("event_type").alias("g"),
                _null("s", "string"),
                F.col("n_rows").alias("n1"),
                _null("n2", "bigint"),
                F.col("kll_n_ok").cast("double").alias("v1"),
                F.col("rank_ok").cast("double").alias("v2"),
                *[_null(f"v{i}", "double") for i in range(3, 6)],
            )
        )
        runs.append(
            _q("agg_sketch_frequency")(spark, sf_dir).select(
                F.lit("sketch_frequency").alias("shape"),
                F.col("term").alias("g"),
                _null("s", "string"),
                F.col("n_exact").alias("n1"),
                _null("n2", "bigint"),
                F.col("cm_ge_exact").cast("double").alias("v1"),
                F.col("cm_tol_ok").cast("double").alias("v2"),
                F.col("merged_eq").cast("double").alias("v3"),
                *[_null(f"v{i}", "double") for i in range(4, 6)],
            )
        )
        runs.append(
            _q("agg_sketch_theta_ops")(spark, sf_dir).select(
                F.lit("sketch_theta_ops").alias("shape"),
                _null("g", "string"),
                _null("s", "string"),
                F.col("n_union").alias("n1"),
                F.col("n_both").alias("n2"),
                F.col("n_a").cast("double").alias("v1"),
                F.col("n_b").cast("double").alias("v2"),
                F.col("n_a_only").cast("double").alias("v3"),
                (
                    F.col("n_a_ok") & F.col("n_b_ok") & F.col("n_union_ok")
                    & F.col("n_both_ok") & F.col("n_a_only_ok")
                ).cast("double").alias("v4"),
                _null("v5", "double"),
            )
        )
        runs.append(
            _q("agg_sketch_theta_ops_estimated")(spark, sf_dir).select(
                F.lit("sketch_theta_ops_est").alias("shape"),
                _null("g", "string"),
                _null("s", "string"),
                F.col("n_union").alias("n1"),
                F.col("n_both").alias("n2"),
                F.col("n_a").cast("double").alias("v1"),
                F.col("n_b").cast("double").alias("v2"),
                F.col("n_a_only").cast("double").alias("v3"),
                (
                    F.col("n_a_ok") & F.col("n_b_ok") & F.col("n_union_ok")
                    & F.col("n_both_ok") & F.col("n_a_only_ok")
                ).cast("double").alias("v4"),
                _null("v5", "double"),
            )
        )
        bl = _q("agg_sketch_bloom_membership")(spark, sf_dir)
        runs.append(
            bl.agg(
                F.count(F.lit(1)).alias("n1"),
                F.sum(F.col("is_member").cast("int")).alias("n2"),
                F.sum(F.col("bloom_hit").cast("int")).cast("double").alias("v1"),
                F.sum(
                    (F.col("is_member") & ~F.col("bloom_hit")).cast("int")
                ).cast("double").alias("v2"),
                F.sum(
                    (F.col("bloom_hit") & ~F.col("is_member")).cast("int")
                ).cast("double").alias("v3"),
            ).select(
                F.lit("sketch_bloom").alias("shape"),
                _null("g", "string"),
                _null("s", "string"),
                "n1",
                "n2",
                "v1",
                "v2",
                "v3",
                _null("v4", "double"),
                _null("v5", "double"),
            )
        )
        runs.append(
            _q("agg_sketch_quantile_merged")(spark, sf_dir).select(
                F.lit("sketch_quantile_merged").alias("shape"),
                _null("g", "string"),
                _null("s", "string"),
                F.col("n_rows").alias("n1"),
                F.col("n_epochs").alias("n2"),
                F.col("kll_n_ok").cast("double").alias("v1"),
                F.col("rank_ok").cast("double").alias("v2"),
                *[_null(f"v{i}", "double") for i in range(3, 6)],
            )
        )
        return _union_spark(runs)


# ---------------------------------------------------------------------------
# scalar_funcs_suite — tagged union of string / date / math / conditional
# Schema: (shape, id1 BIGINT, id2 BIGINT, s1 VARCHAR, d1..d11 DOUBLE)
# String/int/timestamp outputs concatenate into s1 (engine-stable
# renderings only); double outputs keep native slots.
# ---------------------------------------------------------------------------


def _register_scalar_funcs_suite() -> None:
    nd = [_sql_null(f"d{i}", "DOUBLE") for i in range(1, 12)]
    parts = [
        (
            "string_funcs",
            "'string' AS shape, p_partkey AS id1, CAST(NULL AS BIGINT) AS id2, "
            "concat_ws('|', up, lo, prefix, snake, joined, brand_num, "
            "padded_size, trimmed) AS s1, "
            "CAST(name_len AS DOUBLE) AS d1, CAST(widget_pos AS DOUBLE) AS d2, "
            + ", ".join(nd[2:]),
        ),
        (
            "date_funcs",
            "'date' AS shape, o_orderkey AS id1, CAST(NULL AS BIGINT) AS id2, "
            "concat_ws('|', CAST(yr AS VARCHAR), CAST(mo AS VARCHAR), "
            "CAST(dom AS VARCHAR), CAST(qtr AS VARCHAR), "
            "CAST(days_since_epoch_start AS VARCHAR), ym, "
            "CAST(month_start AS VARCHAR), CAST(due_date AS VARCHAR)) AS s1, "
            + ", ".join(nd),
        ),
        (
            "math_funcs",
            "'math' AS shape, l_orderkey AS id1, CAST(l_linenumber AS BIGINT) "
            "AS id2, CAST(NULL AS VARCHAR) AS s1, "
            "abs_d AS d1, ceil_p AS d2, floor_p AS d3, tax_amt AS d4, "
            "sqrt_q AS d5, ln_p AS d6, disc_sq AS d7, "
            "CAST(qty_mod AS DOUBLE) AS d8, max_rate AS d9, min_rate AS d10, "
            "sgn AS d11",
        ),
        (
            "conditional_funcs",
            "'conditional' AS shape, o_orderkey AS id1, CAST(NULL AS BIGINT) "
            "AS id2, concat_ws('|', bucket, status_norm, "
            "CAST(is_open AS VARCHAR)) AS s1, " + ", ".join(nd),
        ),
    ]

    @register("scalar_funcs_suite", oracle=_union_oracle(parts))
    def scalar_funcs_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the scalar-function surface (members:
        string_funcs, date_funcs, math_funcs, conditional_funcs). String,
        integer, boolean, and midnight-aligned timestamp outputs fold into
        one concat_ws column (all renderings verified engine-identical);
        double outputs keep native slots — doubles are never rendered."""
        nulls_d = [_null(f"d{i}", "double") for i in range(1, 12)]
        runs = []
        runs.append(
            _q("string_funcs")(spark, sf_dir).select(
                F.lit("string").alias("shape"),
                F.col("p_partkey").alias("id1"),
                _null("id2", "bigint"),
                F.concat_ws(
                    "|",
                    "up",
                    "lo",
                    "prefix",
                    "snake",
                    "joined",
                    "brand_num",
                    "padded_size",
                    "trimmed",
                ).alias("s1"),
                F.col("name_len").cast("double").alias("d1"),
                F.col("widget_pos").cast("double").alias("d2"),
                *nulls_d[2:],
            )
        )
        runs.append(
            _q("date_funcs")(spark, sf_dir).select(
                F.lit("date").alias("shape"),
                F.col("o_orderkey").alias("id1"),
                _null("id2", "bigint"),
                F.concat_ws(
                    "|",
                    F.col("yr").cast("string"),
                    F.col("mo").cast("string"),
                    F.col("dom").cast("string"),
                    F.col("qtr").cast("string"),
                    F.col("days_since_epoch_start").cast("string"),
                    F.col("ym"),
                    F.col("month_start").cast("string"),
                    F.col("due_date").cast("string"),
                ).alias("s1"),
                *nulls_d,
            )
        )
        runs.append(
            _q("math_funcs")(spark, sf_dir).select(
                F.lit("math").alias("shape"),
                F.col("l_orderkey").alias("id1"),
                F.col("l_linenumber").cast("bigint").alias("id2"),
                _null("s1", "string"),
                F.col("abs_d").alias("d1"),
                F.col("ceil_p").alias("d2"),
                F.col("floor_p").alias("d3"),
                F.col("tax_amt").alias("d4"),
                F.col("sqrt_q").alias("d5"),
                F.col("ln_p").alias("d6"),
                F.col("disc_sq").alias("d7"),
                F.col("qty_mod").cast("double").alias("d8"),
                F.col("max_rate").alias("d9"),
                F.col("min_rate").alias("d10"),
                F.col("sgn").alias("d11"),
            )
        )
        runs.append(
            _q("conditional_funcs")(spark, sf_dir).select(
                F.lit("conditional").alias("shape"),
                F.col("o_orderkey").alias("id1"),
                _null("id2", "bigint"),
                F.concat_ws(
                    "|",
                    F.col("bucket"),
                    F.col("status_norm"),
                    F.col("is_open").cast("string"),
                ).alias("s1"),
                *nulls_d,
            )
        )
        return _union_spark(runs)


# ---------------------------------------------------------------------------
# semistructured_suite — arrays / json / maps / posexplode / variant
# Schema: (shape, id BIGINT, pos INT, s1 VARCHAR, n1 BIGINT, n2 BIGINT)
# ---------------------------------------------------------------------------


def _register_semistructured_suite() -> None:
    np_ = _sql_null("pos", "INTEGER")
    ns = _sql_null("s1", "VARCHAR")
    nn1 = _sql_null("n1", "BIGINT")
    nn2 = _sql_null("n2", "BIGINT")
    parts = [
        (
            "array_funcs",
            f"'array' AS shape, doc_id AS id, {np_}, "
            f"concat_ws('|', first_word, last_word, first5_sorted, "
            f"CAST(has_the AS VARCHAR)) AS s1, "
            f"CAST(n_words AS BIGINT) AS n1, CAST(n_distinct_words AS BIGINT) AS n2",
        ),
        (
            "json_funcs",
            f"'json' AS shape, event_id AS id, {np_}, event_type AS s1, "
            f"CAST(k_val AS BIGINT) AS n1, {nn2}",
        ),
        (
            "map_funcs",
            f"'map' AS shape, p_partkey AS id, {np_}, "
            f"key || '=' || value AS s1, {nn1}, {nn2}",
        ),
        (
            "posexplode_ordinality",
            f"'posexplode' AS shape, doc_id AS id, pos, word AS s1, {nn1}, {nn2}",
        ),
        (
            "events_props_variant",
            f"'variant' AS shape, event_id AS id, {np_}, "
            f"CAST(has_k AS VARCHAR) AS s1, k_value AS n1, {nn2}",
        ),
    ]

    @register("semistructured_suite", oracle=_union_oracle(parts))
    def semistructured_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the semi-structured surface (members:
        array_funcs, json_funcs, map_funcs, posexplode_ordinality,
        events_props_variant)."""
        runs = []
        runs.append(
            _q("array_funcs")(spark, sf_dir).select(
                F.lit("array").alias("shape"),
                F.col("doc_id").alias("id"),
                _null("pos", "int"),
                F.concat_ws(
                    "|",
                    F.col("first_word"),
                    F.col("last_word"),
                    F.col("first5_sorted"),
                    F.col("has_the").cast("string"),
                ).alias("s1"),
                F.col("n_words").cast("bigint").alias("n1"),
                F.col("n_distinct_words").cast("bigint").alias("n2"),
            )
        )
        runs.append(
            _q("json_funcs")(spark, sf_dir).select(
                F.lit("json").alias("shape"),
                F.col("event_id").alias("id"),
                _null("pos", "int"),
                F.col("event_type").alias("s1"),
                F.col("k_val").cast("bigint").alias("n1"),
                _null("n2", "bigint"),
            )
        )
        runs.append(
            _q("map_funcs")(spark, sf_dir).select(
                F.lit("map").alias("shape"),
                F.col("p_partkey").alias("id"),
                _null("pos", "int"),
                F.concat_ws("=", "key", "value").alias("s1"),
                _null("n1", "bigint"),
                _null("n2", "bigint"),
            )
        )
        runs.append(
            _q("posexplode_ordinality")(spark, sf_dir).select(
                F.lit("posexplode").alias("shape"),
                F.col("doc_id").alias("id"),
                F.col("pos"),
                F.col("word").alias("s1"),
                _null("n1", "bigint"),
                _null("n2", "bigint"),
            )
        )
        runs.append(
            _q("events_props_variant")(spark, sf_dir).select(
                F.lit("variant").alias("shape"),
                F.col("event_id").alias("id"),
                _null("pos", "int"),
                F.col("has_k").cast("string").alias("s1"),
                F.col("k_value").alias("n1"),
                _null("n2", "bigint"),
            )
        )
        return _union_spark(runs)


# ---------------------------------------------------------------------------
# set_ops_suite — all five set operations over the same two inputs
# ---------------------------------------------------------------------------


def _register_set_ops_suite() -> None:
    members = [
        ("set_union_distinct", "union"),
        ("set_intersect", "intersect"),
        ("set_except", "except"),
        ("set_intersect_all", "intersect_all"),
        ("set_except_all", "except_all"),
    ]
    parts = [
        (name, f"'{tag}' AS shape, nationkey") for name, tag in members
    ]

    @register("set_ops_suite", oracle=_union_oracle(parts))
    def set_ops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the set-operation surface (members:
        set_union_distinct, set_intersect, set_except, set_intersect_all,
        set_except_all) — set vs bag multiplicities all value-pinned."""
        return _union_spark(
            [
                _q(name)(spark, sf_dir).select(
                    F.lit(tag).alias("shape"), "nationkey"
                )
                for name, tag in members
            ]
        )


# ---------------------------------------------------------------------------
# subquery_suite — scalar + correlated-EXISTS subqueries
# ---------------------------------------------------------------------------


def _register_subquery_suite() -> None:
    parts = [
        (
            "scalar_subquery",
            "'scalar' AS shape, c_custkey, c_name, "
            "CAST(c_acctbal AS DOUBLE) AS c_acctbal",
        ),
        (
            "subquery_exists",
            "'exists' AS shape, c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal",
        ),
    ]

    @register("subquery_suite", oracle=_union_oracle(parts))
    def subquery_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the subquery surface (members: scalar_subquery,
        subquery_exists)."""
        sc = _q("scalar_subquery")(spark, sf_dir).select(
            F.lit("scalar").alias("shape"),
            "c_custkey",
            "c_name",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
        )
        ex = _q("subquery_exists")(spark, sf_dir).select(
            F.lit("exists").alias("shape"),
            "c_custkey",
            "c_name",
            _null("c_acctbal", "double"),
        )
        return _union_spark([sc, ex])


# ---------------------------------------------------------------------------
# TPC-H groups — 22 shapes in 5 tagged-union entries.
# Keys go to g/n slots (strings, bigints, midnight-safe dates); measures
# keep native DOUBLE/BIGINT slots.
# ---------------------------------------------------------------------------


def _register_tpch_scan_agg() -> None:
    """q1, q6, q14, q19 — scan-heavy aggregations."""
    n = {k: _sql_null(k, t) for k, t in [
        ("g1", "VARCHAR"), ("g2", "VARCHAR"), ("n1", "BIGINT"),
        ("v1", "DOUBLE"), ("v2", "DOUBLE"), ("v3", "DOUBLE"), ("v4", "DOUBLE"),
        ("v5", "DOUBLE"), ("v6", "DOUBLE"), ("v7", "DOUBLE"),
    ]}
    parts = [
        (
            "q1_pricing_summary",
            "'q1' AS shape, l_returnflag AS g1, l_linestatus AS g2, "
            "count_order AS n1, sum_qty AS v1, sum_base_price AS v2, "
            "sum_disc_price AS v3, sum_charge AS v4, avg_qty AS v5, "
            "avg_price AS v6, avg_disc AS v7",
        ),
        (
            "q6_forecast_revenue",
            f"'q6' AS shape, {n['g1']}, {n['g2']}, {n['n1']}, revenue AS v1, "
            f"{n['v2']}, {n['v3']}, {n['v4']}, {n['v5']}, {n['v6']}, {n['v7']}",
        ),
        (
            "q14_promo_revenue",
            f"'q14' AS shape, {n['g1']}, {n['g2']}, {n['n1']}, "
            f"promo_revenue_pct AS v1, {n['v2']}, {n['v3']}, {n['v4']}, "
            f"{n['v5']}, {n['v6']}, {n['v7']}",
        ),
        (
            "q19_discounted_revenue",
            f"'q19' AS shape, {n['g1']}, {n['g2']}, {n['n1']}, revenue AS v1, "
            f"{n['v2']}, {n['v3']}, {n['v4']}, {n['v5']}, {n['v6']}, {n['v7']}",
        ),
    ]

    @register("tpch_scan_agg", oracle=_union_oracle(parts))
    def tpch_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the scan/aggregate TPC-H shapes (members:
        q1_pricing_summary, q6_forecast_revenue, q14_promo_revenue,
        q19_discounted_revenue)."""
        nulls_v = [_null(f"v{i}", "double") for i in range(1, 8)]
        runs = []
        runs.append(
            _q("q1_pricing_summary")(spark, sf_dir).select(
                F.lit("q1").alias("shape"),
                F.col("l_returnflag").alias("g1"),
                F.col("l_linestatus").alias("g2"),
                F.col("count_order").alias("n1"),
                F.col("sum_qty").alias("v1"),
                F.col("sum_base_price").alias("v2"),
                F.col("sum_disc_price").alias("v3"),
                F.col("sum_charge").alias("v4"),
                F.col("avg_qty").alias("v5"),
                F.col("avg_price").alias("v6"),
                F.col("avg_disc").alias("v7"),
            )
        )
        for nm, tag, col in (
            ("q6_forecast_revenue", "q6", "revenue"),
            ("q14_promo_revenue", "q14", "promo_revenue_pct"),
            ("q19_discounted_revenue", "q19", "revenue"),
        ):
            runs.append(
                _q(nm)(spark, sf_dir).select(
                    F.lit(tag).alias("shape"),
                    _null("g1", "string"),
                    _null("g2", "string"),
                    _null("n1", "bigint"),
                    F.col(col).alias("v1"),
                    *nulls_v[1:],
                )
            )
        return _union_spark(runs)


def _register_tpch_join_agg() -> None:
    """q3, q4, q5, q10, q12 — join-then-aggregate shapes."""
    n = {k: _sql_null(k, t) for k, t in [
        ("g1", "VARCHAR"), ("g2", "VARCHAR"), ("n1", "BIGINT"),
        ("m1", "BIGINT"), ("m2", "BIGINT"), ("v1", "DOUBLE"), ("v2", "DOUBLE"),
    ]}
    parts = [
        (
            "q3_shipping_priority",
            f"'q3' AS shape, CAST(o_orderdate AS VARCHAR) AS g1, "
            f"o_orderpriority AS g2, l_orderkey AS n1, {n['m1']}, {n['m2']}, "
            f"revenue AS v1, {n['v2']}",
        ),
        (
            "q4_order_priority",
            f"'q4' AS shape, o_orderpriority AS g1, {n['g2']}, {n['n1']}, "
            f"order_count AS m1, {n['m2']}, {n['v1']}, {n['v2']}",
        ),
        (
            "q5_local_supplier_volume",
            f"'q5' AS shape, n_name AS g1, {n['g2']}, {n['n1']}, {n['m1']}, "
            f"{n['m2']}, revenue AS v1, {n['v2']}",
        ),
        (
            "q10_returned_items",
            f"'q10' AS shape, c_name AS g1, n_name AS g2, c_custkey AS n1, "
            f"{n['m1']}, {n['m2']}, revenue AS v1, CAST(c_acctbal AS DOUBLE) AS v2",
        ),
        (
            "q12_priority_shipping",
            f"'q12' AS shape, l_returnflag AS g1, {n['g2']}, {n['n1']}, "
            f"high_line_count AS m1, low_line_count AS m2, {n['v1']}, {n['v2']}",
        ),
    ]

    @register("tpch_join_agg", oracle=_union_oracle(parts))
    def tpch_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the join/aggregate TPC-H shapes (members:
        q3_shipping_priority, q4_order_priority, q5_local_supplier_volume,
        q10_returned_items, q12_priority_shipping)."""
        runs = []
        runs.append(
            _q("q3_shipping_priority")(spark, sf_dir).select(
                F.lit("q3").alias("shape"),
                F.col("o_orderdate").cast("string").alias("g1"),
                F.col("o_orderpriority").alias("g2"),
                F.col("l_orderkey").alias("n1"),
                _null("m1", "bigint"),
                _null("m2", "bigint"),
                F.col("revenue").alias("v1"),
                _null("v2", "double"),
            )
        )
        runs.append(
            _q("q4_order_priority")(spark, sf_dir).select(
                F.lit("q4").alias("shape"),
                F.col("o_orderpriority").alias("g1"),
                _null("g2", "string"),
                _null("n1", "bigint"),
                F.col("order_count").alias("m1"),
                _null("m2", "bigint"),
                _null("v1", "double"),
                _null("v2", "double"),
            )
        )
        runs.append(
            _q("q5_local_supplier_volume")(spark, sf_dir).select(
                F.lit("q5").alias("shape"),
                F.col("n_name").alias("g1"),
                _null("g2", "string"),
                _null("n1", "bigint"),
                _null("m1", "bigint"),
                _null("m2", "bigint"),
                F.col("revenue").alias("v1"),
                _null("v2", "double"),
            )
        )
        runs.append(
            _q("q10_returned_items")(spark, sf_dir).select(
                F.lit("q10").alias("shape"),
                F.col("c_name").alias("g1"),
                F.col("n_name").alias("g2"),
                F.col("c_custkey").alias("n1"),
                _null("m1", "bigint"),
                _null("m2", "bigint"),
                F.col("revenue").alias("v1"),
                F.col("c_acctbal").cast("double").alias("v2"),
            )
        )
        runs.append(
            _q("q12_priority_shipping")(spark, sf_dir).select(
                F.lit("q12").alias("shape"),
                F.col("l_returnflag").alias("g1"),
                _null("g2", "string"),
                _null("n1", "bigint"),
                F.col("high_line_count").alias("m1"),
                F.col("low_line_count").alias("m2"),
                _null("v1", "double"),
                _null("v2", "double"),
            )
        )
        return _union_spark(runs)


def _register_tpch_multi_nation() -> None:
    """q7, q8, q9 — multi-role nation join shapes."""
    parts = [
        (
            "q7_volume_shipping",
            "'q7' AS shape, supp_nation AS g1, cust_nation AS g2, "
            "CAST(l_year AS BIGINT) AS n1, revenue AS v1",
        ),
        (
            "q8_market_share",
            "'q8' AS shape, CAST(NULL AS VARCHAR) AS g1, "
            "CAST(NULL AS VARCHAR) AS g2, CAST(o_year AS BIGINT) AS n1, "
            "mkt_share AS v1",
        ),
        (
            "q9_product_type_profit",
            "'q9' AS shape, nation AS g1, CAST(NULL AS VARCHAR) AS g2, "
            "CAST(o_year AS BIGINT) AS n1, sum_profit AS v1",
        ),
    ]

    @register("tpch_multi_nation", oracle=_union_oracle(parts))
    def tpch_multi_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the multi-nation TPC-H shapes (members:
        q7_volume_shipping, q8_market_share, q9_product_type_profit)."""
        runs = []
        runs.append(
            _q("q7_volume_shipping")(spark, sf_dir).select(
                F.lit("q7").alias("shape"),
                F.col("supp_nation").alias("g1"),
                F.col("cust_nation").alias("g2"),
                F.col("l_year").cast("bigint").alias("n1"),
                F.col("revenue").alias("v1"),
            )
        )
        runs.append(
            _q("q8_market_share")(spark, sf_dir).select(
                F.lit("q8").alias("shape"),
                _null("g1", "string"),
                _null("g2", "string"),
                F.col("o_year").cast("bigint").alias("n1"),
                F.col("mkt_share").alias("v1"),
            )
        )
        runs.append(
            _q("q9_product_type_profit")(spark, sf_dir).select(
                F.lit("q9").alias("shape"),
                F.col("nation").alias("g1"),
                _null("g2", "string"),
                F.col("o_year").cast("bigint").alias("n1"),
                F.col("sum_profit").alias("v1"),
            )
        )
        return _union_spark(runs)


def _register_tpch_partsupp_suite() -> None:
    """q2, q11, q15, q16, q20 — shapes over the derived partsupp bridge."""
    n = {k: _sql_null(k, t) for k, t in [
        ("g1", "VARCHAR"), ("g2", "VARCHAR"), ("g3", "VARCHAR"),
        ("n1", "BIGINT"), ("m1", "BIGINT"), ("v1", "DOUBLE"), ("v2", "DOUBLE"),
    ]}
    parts = [
        (
            "q2_min_cost_supplier",
            f"'q2' AS shape, s_name AS g1, n_name AS g2, p_type AS g3, "
            f"p_partkey AS n1, {n['m1']}, CAST(s_acctbal AS DOUBLE) AS v1, "
            f"CAST(ps_supplycost AS DOUBLE) AS v2",
        ),
        (
            "q11_important_stock",
            f"'q11' AS shape, {n['g1']}, {n['g2']}, {n['g3']}, ps_partkey AS n1, "
            f"{n['m1']}, value AS v1, {n['v2']}",
        ),
        (
            "q15_top_supplier",
            f"'q15' AS shape, s_name AS g1, {n['g2']}, {n['g3']}, s_suppkey AS n1, "
            f"{n['m1']}, total_revenue AS v1, {n['v2']}",
        ),
        (
            "q16_supplier_part_counts",
            f"'q16' AS shape, p_brand AS g1, p_type AS g2, {n['g3']}, "
            f"CAST(p_size AS BIGINT) AS n1, supplier_cnt AS m1, {n['v1']}, "
            f"{n['v2']}",
        ),
        (
            "q20_potential_part_promotion",
            f"'q20' AS shape, s_name AS g1, {n['g2']}, {n['g3']}, "
            f"s_nationkey AS n1, {n['m1']}, {n['v1']}, {n['v2']}",
        ),
    ]

    @register("tpch_partsupp_suite", oracle=_union_oracle(parts))
    def tpch_partsupp_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the partsupp-bridge TPC-H shapes (members:
        q2_min_cost_supplier, q11_important_stock, q15_top_supplier,
        q16_supplier_part_counts, q20_potential_part_promotion)."""
        runs = []
        runs.append(
            _q("q2_min_cost_supplier")(spark, sf_dir).select(
                F.lit("q2").alias("shape"),
                F.col("s_name").alias("g1"),
                F.col("n_name").alias("g2"),
                F.col("p_type").alias("g3"),
                F.col("p_partkey").alias("n1"),
                _null("m1", "bigint"),
                F.col("s_acctbal").cast("double").alias("v1"),
                F.col("ps_supplycost").cast("double").alias("v2"),
            )
        )
        runs.append(
            _q("q11_important_stock")(spark, sf_dir).select(
                F.lit("q11").alias("shape"),
                _null("g1", "string"),
                _null("g2", "string"),
                _null("g3", "string"),
                F.col("ps_partkey").alias("n1"),
                _null("m1", "bigint"),
                F.col("value").alias("v1"),
                _null("v2", "double"),
            )
        )
        runs.append(
            _q("q15_top_supplier")(spark, sf_dir).select(
                F.lit("q15").alias("shape"),
                F.col("s_name").alias("g1"),
                _null("g2", "string"),
                _null("g3", "string"),
                F.col("s_suppkey").alias("n1"),
                _null("m1", "bigint"),
                F.col("total_revenue").alias("v1"),
                _null("v2", "double"),
            )
        )
        runs.append(
            _q("q16_supplier_part_counts")(spark, sf_dir).select(
                F.lit("q16").alias("shape"),
                F.col("p_brand").alias("g1"),
                F.col("p_type").alias("g2"),
                _null("g3", "string"),
                F.col("p_size").cast("bigint").alias("n1"),
                F.col("supplier_cnt").alias("m1"),
                _null("v1", "double"),
                _null("v2", "double"),
            )
        )
        runs.append(
            _q("q20_potential_part_promotion")(spark, sf_dir).select(
                F.lit("q20").alias("shape"),
                F.col("s_name").alias("g1"),
                _null("g2", "string"),
                _null("g3", "string"),
                F.col("s_nationkey").alias("n1"),
                _null("m1", "bigint"),
                _null("v1", "double"),
                _null("v2", "double"),
            )
        )
        return _union_spark(runs)


def _register_tpch_subquery_suite() -> None:
    """q13, q17, q18, q21, q22 — correlated-subquery shapes."""
    n = {k: _sql_null(k, t) for k, t in [
        ("g1", "VARCHAR"), ("g2", "VARCHAR"), ("n1", "BIGINT"), ("n2", "BIGINT"),
        ("m1", "BIGINT"), ("v1", "DOUBLE"), ("v2", "DOUBLE"),
    ]}
    parts = [
        (
            "q13_customer_distribution",
            f"'q13' AS shape, {n['g1']}, {n['g2']}, c_count AS n1, {n['n2']}, "
            f"custdist AS m1, {n['v1']}, {n['v2']}",
        ),
        (
            "q17_small_quantity_revenue",
            f"'q17' AS shape, {n['g1']}, {n['g2']}, {n['n1']}, {n['n2']}, "
            f"{n['m1']}, avg_yearly AS v1, {n['v2']}",
        ),
        (
            "q18_large_volume_customer",
            f"'q18' AS shape, c_name AS g1, CAST(o_orderdate AS VARCHAR) AS g2, "
            f"c_custkey AS n1, o_orderkey AS n2, {n['m1']}, "
            f"CAST(o_totalprice AS DOUBLE) AS v1, total_qty AS v2",
        ),
        (
            "q21_suppliers_who_kept_orders_waiting",
            f"'q21' AS shape, s_name AS g1, {n['g2']}, {n['n1']}, {n['n2']}, "
            f"numwait AS m1, {n['v1']}, {n['v2']}",
        ),
        (
            "q22_global_sales_opportunity",
            f"'q22' AS shape, {n['g1']}, {n['g2']}, {n['n1']}, {n['n2']}, "
            f"numcust AS m1, totacctbal AS v1, {n['v2']}",
        ),
    ]

    @register("tpch_subquery_suite", oracle=_union_oracle(parts))
    def tpch_subquery_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the correlated-subquery TPC-H shapes (members:
        q13_customer_distribution, q17_small_quantity_revenue,
        q18_large_volume_customer, q21_suppliers_who_kept_orders_waiting,
        q22_global_sales_opportunity)."""
        runs = []
        runs.append(
            _q("q13_customer_distribution")(spark, sf_dir).select(
                F.lit("q13").alias("shape"),
                _null("g1", "string"),
                _null("g2", "string"),
                F.col("c_count").alias("n1"),
                _null("n2", "bigint"),
                F.col("custdist").alias("m1"),
                _null("v1", "double"),
                _null("v2", "double"),
            )
        )
        runs.append(
            _q("q17_small_quantity_revenue")(spark, sf_dir).select(
                F.lit("q17").alias("shape"),
                _null("g1", "string"),
                _null("g2", "string"),
                _null("n1", "bigint"),
                _null("n2", "bigint"),
                _null("m1", "bigint"),
                F.col("avg_yearly").alias("v1"),
                _null("v2", "double"),
            )
        )
        runs.append(
            _q("q18_large_volume_customer")(spark, sf_dir).select(
                F.lit("q18").alias("shape"),
                F.col("c_name").alias("g1"),
                F.col("o_orderdate").cast("string").alias("g2"),
                F.col("c_custkey").alias("n1"),
                F.col("o_orderkey").alias("n2"),
                _null("m1", "bigint"),
                F.col("o_totalprice").cast("double").alias("v1"),
                F.col("total_qty").alias("v2"),
            )
        )
        runs.append(
            _q("q21_suppliers_who_kept_orders_waiting")(spark, sf_dir).select(
                F.lit("q21").alias("shape"),
                F.col("s_name").alias("g1"),
                _null("g2", "string"),
                _null("n1", "bigint"),
                _null("n2", "bigint"),
                F.col("numwait").alias("m1"),
                _null("v1", "double"),
                _null("v2", "double"),
            )
        )
        runs.append(
            _q("q22_global_sales_opportunity")(spark, sf_dir).select(
                F.lit("q22").alias("shape"),
                _null("g1", "string"),
                _null("g2", "string"),
                _null("n1", "bigint"),
                _null("n2", "bigint"),
                F.col("numcust").alias("m1"),
                F.col("totacctbal").alias("v1"),
                _null("v2", "double"),
            )
        )
        return _union_spark(runs)


# ---------------------------------------------------------------------------
# Registration (runs at import; member oracles must already be registered)
# ---------------------------------------------------------------------------

def _register_incremental_suite() -> None:
    parts = [
        (
            "dedup_incremental",
            "'batch_vs_corpus' AS shape, doc_id, dup_of, kind, jaccard",
        ),
        (
            "dedup_intra_batch",
            "'intra_batch' AS shape, doc_id, dup_of, kind, jaccard",
        ),
        (
            "dedup_intra_batch_capped",
            "'intra_batch_star_capped' AS shape, doc_id, dup_of, kind, jaccard",
        ),
        (
            # slot reuse: kind <- status; jaccard <- the sum of the two
            # digests' leading-8-hex values (pins both digest columns —
            # each < 2^32, the sum is double-exact)
            "dedup_snapshot_diff",
            "'snapshot' AS shape, doc_id, CAST(NULL AS BIGINT) AS dup_of, "
            "status AS kind, "
            "CAST(('0x' || substr(COALESCE(old_digest, '0'), 1, 8))::BIGINT "
            "+ ('0x' || substr(COALESCE(new_digest, '0'), 1, 8))::BIGINT "
            "AS DOUBLE) AS jaccard",
        ),
    ]

    @register("dedup_incremental_suite", oracle=_union_oracle(parts))
    def dedup_incremental_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the continuous-ingestion dedup relations:
        batch-vs-corpus (members: dedup_incremental — odd ids probe the
        even-id corpus's digest + band indexes), intra-batch
        (dedup_intra_batch — same-epoch duplicates flagged keep-min,
        bounded r6: linear digest-group exact layer + rep-only banding)
        and the ACTIVE-cap star variant (dedup_intra_batch_capped —
        max_bucket=2 fires on fixture buckets, value-pinning the
        hot-bucket degradation of the ingest gate itself), plus the
        snapshot data-versioning diff (dedup_snapshot_diff —
        added/removed/changed/unchanged between two derived corpus
        versions; both digest columns pinned via their leading-8-hex
        sum in the jaccard slot)."""
        sel = lambda tag, df: df.select(
            F.lit(tag).alias("shape"), "doc_id", "dup_of", "kind", "jaccard"
        )
        snap = _q("dedup_snapshot_diff")(spark, sf_dir).select(
            F.lit("snapshot").alias("shape"),
            "doc_id",
            _null("dup_of", "bigint"),
            F.col("status").alias("kind"),
            (
                F.conv(
                    F.substring(
                        F.coalesce(F.col("old_digest"), F.lit("0")), 1, 8
                    ),
                    16,
                    10,
                ).cast("bigint")
                + F.conv(
                    F.substring(
                        F.coalesce(F.col("new_digest"), F.lit("0")), 1, 8
                    ),
                    16,
                    10,
                ).cast("bigint")
            )
            .cast("double")
            .alias("jaccard"),
        )
        return _union_spark(
            [
                sel("batch_vs_corpus", _q("dedup_incremental")(spark, sf_dir)),
                sel("intra_batch", _q("dedup_intra_batch")(spark, sf_dir)),
                sel(
                    "intra_batch_star_capped",
                    _q("dedup_intra_batch_capped")(spark, sf_dir),
                ),
                snap,
            ]
        )


_register_simhash_suite()
_register_minhash_lsh_suite()
_register_incremental_suite()


def _register_curation_suite() -> None:
    parts = [
        (
            "curation_pipeline",
            "'exact' AS shape, doc_id, CAST(n_tokens AS DOUBLE) AS a, "
            "quality AS b",
        ),
        (
            "curation_pipeline_neardup",
            "'neardup' AS shape, doc_id, stop_ratio AS a, "
            "CAST(NULL AS DOUBLE) AS b",
        ),
        (
            "text_decontamination",
            "'decontaminate' AS shape, doc_id, hit_ratio AS a, "
            "CAST(n_hits AS DOUBLE) AS b",
        ),
        (
            "curation_semantic_dedup",
            "'semantic' AS shape, doc_id, CAST(cluster_id AS DOUBLE) AS a, "
            "quality AS b",
        ),
        (
            # rank and split share slot b: rk*4 + split code (<=34)
            "curation_recipe_v2",
            "'recipe_v2' AS shape, doc_id, quality AS a, "
            "CAST(rk * 4 + CASE split WHEN 'train' THEN 0 "
            "WHEN 'val' THEN 1 ELSE 2 END AS DOUBLE) AS b",
        ),
        (
            # slot reuse: a <- n_tokens; b packs the other two counts
            # (both < 2^20, the packed sum is double-exact)
            "dedup_incremental_refresh",
            "'incremental_refresh' AS shape, doc_id, "
            "CAST(n_tokens AS DOUBLE) AS a, "
            "CAST(n_bpe_tokens * 1000000 + n_chars AS DOUBLE) AS b",
        ),
        (
            # slot reuse: a packs the tokenizer counts, b the layout
            # (all factors well under 2^53 — the packed sums are
            # double-exact; identical formula on both engines)
            "curation_recipe_v3",
            "'recipe_v3' AS shape, doc_id, "
            "CAST(n_ids * 1000 + n_unk AS DOUBLE) AS a, "
            "CAST(((shard * 100000 + bin_id) * 1000 + bin_offset) * 1000 "
            "+ n_tokens AS DOUBLE) AS b",
        ),
        (
            # r9 validation-gate members: per-check counters ride the
            # (shape, a, b) slots; no doc dimension (doc_id NULL). The
            # remaining report columns (passed, null_frac, min/max) are
            # pinned by each member's own fine-grained oracle.
            "validate_rules",
            "'vr:' || \"check\" AS shape, CAST(NULL AS BIGINT) AS doc_id, "
            "CAST(violations AS DOUBLE) AS a, CAST(n_rows AS DOUBLE) AS b",
        ),
        (
            "validate_unique_fk",
            "'uf:' || \"check\" AS shape, CAST(NULL AS BIGINT) AS doc_id, "
            "CAST(violations AS DOUBLE) AS a, CAST(n_keys AS DOUBLE) AS b",
        ),
        (
            "validate_null_profile",
            "'np:' || \"column\" AS shape, CAST(NULL AS BIGINT) AS doc_id, "
            "CAST(n_null AS DOUBLE) AS a, CAST(n_rows AS DOUBLE) AS b",
        ),
        (
            "validate_column_profile",
            "'cp:' || \"column\" AS shape, CAST(NULL AS BIGINT) AS doc_id, "
            "sum_v AS a, CAST(n_distinct AS DOUBLE) AS b",
        ),
    ]

    @register("curation_suite", oracle=_union_oracle(parts))
    def curation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tagged union of the end-to-end curation compositions: the
        exact-dedup keeper pipeline, the r4 near-dup pipeline
        (star-capped MinHash pairs -> connected components -> keeper
        semi-join), and the r6 benchmark-decontamination pass (n-gram
        overlap vs a held-out eval slice), and the r6 SemDeDup-style
        semantic pass (embedding-LSH pairs -> components ->
        highest-quality keeper), and the r6 composed RECIPE (rule gates
        -> near-dup keepers -> quality+LM filters -> per-source cap ->
        hash split; rank and split packed into slot b), the r6
        churn-proportional derived-table refresh
        (dedup_incremental_refresh — incremental path vs the oracle's
        full recompute, equality pinned by the value hash), and the
        capstone recipe v3 (curation_recipe_v3 — v2's surviving train
        split pushed through the stored-vocab tokenizer and the
        pack-then-chunk layout; tokenizer counts and window assignment
        packed into the two slots), and the r9 data-quality validation
        gate (operators/validate.py — row rules, uniqueness, FK
        integrity, column profile; per-check counters in the slots)
        (members: curation_pipeline, curation_pipeline_neardup,
        text_decontamination, curation_semantic_dedup,
        curation_recipe_v2, dedup_incremental_refresh,
        curation_recipe_v3, validate_rules, validate_unique_fk,
        validate_null_profile, validate_column_profile)."""
        ex = _q("curation_pipeline")(spark, sf_dir).select(
            F.lit("exact").alias("shape"),
            F.col("doc_id"),
            F.col("n_tokens").cast("double").alias("a"),
            F.col("quality").alias("b"),
        )
        nd = _q("curation_pipeline_neardup")(spark, sf_dir).select(
            F.lit("neardup").alias("shape"),
            F.col("doc_id"),
            F.col("stop_ratio").alias("a"),
            _null("b", "double"),
        )
        dc = _q("text_decontamination")(spark, sf_dir).select(
            F.lit("decontaminate").alias("shape"),
            F.col("doc_id"),
            F.col("hit_ratio").alias("a"),
            F.col("n_hits").cast("double").alias("b"),
        )
        sm = _q("curation_semantic_dedup")(spark, sf_dir).select(
            F.lit("semantic").alias("shape"),
            F.col("doc_id"),
            F.col("cluster_id").cast("double").alias("a"),
            F.col("quality").alias("b"),
        )
        rc = _q("curation_recipe_v2")(spark, sf_dir).select(
            F.lit("recipe_v2").alias("shape"),
            F.col("doc_id"),
            F.col("quality").alias("a"),
            (
                F.col("rk").cast("double") * 4.0
                + F.when(F.col("split") == "train", F.lit(0.0))
                .when(F.col("split") == "val", F.lit(1.0))
                .otherwise(F.lit(2.0))
            ).alias("b"),
        )
        ir = _q("dedup_incremental_refresh")(spark, sf_dir).select(
            F.lit("incremental_refresh").alias("shape"),
            F.col("doc_id"),
            F.col("n_tokens").cast("double").alias("a"),
            (
                F.col("n_bpe_tokens").cast("double") * 1000000.0
                + F.col("n_chars").cast("double")
            ).alias("b"),
        )
        r3 = _q("curation_recipe_v3")(spark, sf_dir).select(
            F.lit("recipe_v3").alias("shape"),
            F.col("doc_id"),
            (
                F.col("n_ids").cast("double") * 1000.0
                + F.col("n_unk").cast("double")
            ).alias("a"),
            (
                (
                    (
                        F.col("shard").cast("double") * 100000.0
                        + F.col("bin_id").cast("double")
                    )
                    * 1000.0
                    + F.col("bin_offset").cast("double")
                )
                * 1000.0
                + F.col("n_tokens").cast("double")
            ).alias("b"),
        )
        vr = _q("validate_rules")(spark, sf_dir).select(
            F.concat(F.lit("vr:"), F.col("check")).alias("shape"),
            _null("doc_id", "bigint"),
            F.col("violations").cast("double").alias("a"),
            F.col("n_rows").cast("double").alias("b"),
        )
        uf = _q("validate_unique_fk")(spark, sf_dir).select(
            F.concat(F.lit("uf:"), F.col("check")).alias("shape"),
            _null("doc_id", "bigint"),
            F.col("violations").cast("double").alias("a"),
            F.col("n_keys").cast("double").alias("b"),
        )
        np_ = _q("validate_null_profile")(spark, sf_dir).select(
            F.concat(F.lit("np:"), F.col("column")).alias("shape"),
            _null("doc_id", "bigint"),
            F.col("n_null").cast("double").alias("a"),
            F.col("n_rows").cast("double").alias("b"),
        )
        cp = _q("validate_column_profile")(spark, sf_dir).select(
            F.concat(F.lit("cp:"), F.col("column")).alias("shape"),
            _null("doc_id", "bigint"),
            F.col("sum_v").alias("a"),
            F.col("n_distinct").cast("double").alias("b"),
        )
        return _union_spark([ex, nd, dc, sm, rc, ir, r3, vr, uf, np_, cp])


_register_curation_suite()
_register_dedup_embedding_suite()
_register_ann_ivf_suite()
_register_text_doc_metrics()
_register_text_corpus_stats()
_register_events_time_windows()
_register_sample_splits()
_register_join_shapes()
_register_agg_shapes()
_register_agg_stats_suite()
_register_scalar_funcs_suite()
_register_semistructured_suite()
_register_set_ops_suite()
_register_subquery_suite()
_register_tpch_scan_agg()
_register_tpch_join_agg()
_register_tpch_multi_nation()
_register_tpch_partsupp_suite()
_register_tpch_subquery_suite()
