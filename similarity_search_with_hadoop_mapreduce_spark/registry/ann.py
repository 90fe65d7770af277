"""Similarity-search queries with DuckDB oracles.

The LSH oracle embeds the same ±1 hyperplane literals the Spark operator
builds (both generated from md5 parity in Python), so bucket assignments
are reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from similarity_search_with_hadoop_mapreduce_spark.operators import ann as A
from similarity_search_with_hadoop_mapreduce_spark.registry.base import register, table
from similarity_search_with_hadoop_mapreduce_spark.sources.tables import resident

_DIM = 64
_PLANES = 4
_K = 10

_NORM = (
    "sqrt(list_sum(list_transform(embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


@register(
    "ann_cosine_topk",
    oracle=f"""
WITH n AS (SELECT vec_id, embedding, {_NORM} AS nrm FROM embeddings),
q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM n WHERE vec_id = 0)
SELECT n.vec_id,
       round(list_sum(list_transform(range(1, {_DIM} + 1),
             i -> CAST(n.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
             / (n.nrm * q.q_nrm), 6) AS cosine
FROM n, q
WHERE n.vec_id != 0
ORDER BY cosine DESC, n.vec_id
LIMIT {_K}
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for query vector 0: broadcast
    1-row query side, codegen'd map stage, TakeOrderedAndProject."""
    return A.cosine_topk(table(spark, sf_dir, "embeddings"), 0, k=_K)


def lsh_bucket_sql(
    n_planes: int = _PLANES,
    dim: int = _DIM,
    col: str = "embedding",
    planes: list | None = None,
) -> str:
    """DuckDB SQL for the random-hyperplane bucket id of ``col`` — the
    oracle twin of :func:`operators.ann.lsh_bucket` (same ±1 hyperplane
    literals, generated from md5 parity in Python on both sides). Shared
    by the ANN LSH oracle and the embedding-dedup LSH oracles; pass
    ``planes`` explicitly to bucket on a band's slice of a larger
    family (the multi-band dedup oracle)."""
    if planes is None:
        planes = A.hyperplane_signs(n_planes, dim)
    bucket_terms = []
    for p, w in enumerate(planes):
        lit = "[" + ", ".join(str(x) for x in w) + "]"
        proj = (
            f"list_sum(list_transform(range(1, {dim} + 1), "
            f"i -> CAST({col}[i] AS DOUBLE) * ({lit}::DOUBLE[])[i]))"
        )
        bucket_terms.append(f"(CASE WHEN {proj} > 0 THEN {2**p} ELSE 0 END)")
    return " + ".join(bucket_terms)


def _lsh_oracle() -> str:
    bucket = lsh_bucket_sql()
    return f"""
WITH b AS (
  SELECT vec_id, embedding, {_NORM} AS nrm,
         CAST({bucket} AS INTEGER) AS bucket
  FROM embeddings
),
q AS (SELECT embedding AS q_emb, nrm AS q_nrm, bucket AS q_bucket FROM b WHERE vec_id = 0)
SELECT b.vec_id, b.bucket,
       round(list_sum(list_transform(range(1, {_DIM} + 1),
             i -> CAST(b.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
             / (b.nrm * q.q_nrm), 6) AS cosine
FROM b, q
WHERE b.vec_id != 0 AND b.bucket = q.q_bucket
ORDER BY cosine DESC, b.vec_id
LIMIT {_K}
"""


@register("ann_lsh_bucketed_topk", oracle=_lsh_oracle())
def ann_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10: exact cosine restricted to the query's
    random-hyperplane LSH bucket (the partition-pruning scale path)."""
    return A.lsh_bucketed_topk(
        table(spark, sf_dir, "embeddings"), 0, k=_K, n_planes=_PLANES, dim=_DIM
    )


_N_CENTROIDS = 8
_NPROBE = 2
_ITERS = 2  # Lloyd iterations for the trained codebook
_N_QUERIES = 10  # queries averaged by the recall metric

# The serving layouts below (the trained book, the IVF assignment, probe
# state, PQ/SQ codes and the composed IVF indexes) are resident values of
# the ``embeddings`` frame (``sources.tables.resident``): built once per
# frame, as an ANN deployment builds its index once, not per query, and
# released with the frame, so an in-place rewrite of the table, which
# load_table answers with a fresh frame, builds fresh ones.


def _trained_book(spark: SparkSession, sf_dir: str) -> list:
    """Deterministic Lloyd-trained codebook, trained once per corpus (a
    production index trains at build time, not per query). The training
    itself is replayed by the oracle SQL below, so keeping it only skips
    recomputing a value the gate re-derives anyway."""
    emb = table(spark, sf_dir, "embeddings")
    return resident(
        emb,
        "ivf_book",
        lambda: A.kmeans_codebook(emb, n_centroids=_N_CENTROIDS, iters=_ITERS),
    )


def _kmeans_cents_cte(
    iters: int = _ITERS,
    dim: int = _DIM,
    src: str = "n",
    prefix: str = "",
    n_centroids: int = _N_CENTROIDS,
) -> str:
    """Unrolled deterministic Lloyd iterations ending in
    ``{prefix}cents(centroid_id, c_emb DOUBLE[], c_nrm)`` — the SQL replay
    of :func:`operators.ann.kmeans_codebook` (init = first N ids;
    assignment = round-6 max cosine with id tiebreak; update = mean of
    floor(component*1e6) BIGINTs, exact in any order; empty clusters keep
    their centroid). ``src`` must provide (vec_id, embedding, nrm);
    ``prefix`` namespaces the CTEs so product-quantization oracles can
    instantiate one replay per subspace."""
    p = prefix
    dot_nc = (
        f"list_sum(list_transform(range(1, {dim} + 1), "
        "i -> CAST(nv.embedding[i] AS DOUBLE) * c.c_emb[i]))"
    )
    parts = [
        f"""{p}c0 AS (
  SELECT vec_id AS centroid_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c_emb
  FROM {src} WHERE vec_id < {n_centroids}
)"""
    ]
    for t in range(iters):
        parts.append(
            f"""{p}cn{t} AS (
  SELECT centroid_id, c_emb,
         sqrt(list_sum(list_transform(c_emb, x -> x * x))) AS c_nrm
  FROM {p}c{t}
)"""
        )
        parts.append(
            f"""{p}asg{t} AS (
  SELECT vec_id, centroid_id FROM (
    SELECT nv.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY nv.vec_id
             ORDER BY round(coalesce({dot_nc}
                        / nullif(nv.nrm * c.c_nrm, 0.0), 0.0), 6) DESC,
                      c.centroid_id) AS rn
    FROM {src} nv CROSS JOIN {p}cn{t} c
  ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""{p}cm{t} AS (
  SELECT a.centroid_id, d.i AS dim,
         CAST(sum(CAST(floor(CAST(nv.embedding[d.i] AS DOUBLE) * 1000000.0)
                       AS BIGINT)) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) / 1000000.0 AS comp
  FROM {p}asg{t} a
  JOIN {src} nv USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, {dim} + 1)) AS i) d
  GROUP BY 1, 2
)"""
        )
        parts.append(
            f"""{p}c{t + 1} AS (
  SELECT c.centroid_id, coalesce(nc.c_emb, c.c_emb) AS c_emb
  FROM {p}c{t} c LEFT JOIN (
    SELECT centroid_id, list(comp ORDER BY dim) AS c_emb
    FROM {p}cm{t} GROUP BY centroid_id
  ) nc USING (centroid_id)
)"""
        )
    parts.append(
        f"""{p}cents AS (
  SELECT centroid_id, c_emb,
         sqrt(list_sum(list_transform(c_emb, x -> x * x))) AS c_nrm
  FROM {p}c{iters}
)"""
    )
    return ",\n".join(parts)

_DOT_AQ = (
    f"list_sum(list_transform(range(1, {_DIM} + 1), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))"
)
_DOT_NC = (
    f"list_sum(list_transform(range(1, {_DIM} + 1), "
    "i -> CAST(nv.embedding[i] AS DOUBLE) * CAST(c.c_emb[i] AS DOUBLE)))"
)
_DOT_CQ = (
    f"list_sum(list_transform(range(1, {_DIM} + 1), "
    "i -> CAST(c.c_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))"
)


_ASSIGNED_CTE = f"""assigned AS MATERIALIZED (
  SELECT vec_id, embedding, nrm, centroid_id FROM (
    SELECT nv.vec_id, nv.embedding, nv.nrm, c.centroid_id,
           row_number() OVER (
             PARTITION BY nv.vec_id
             ORDER BY round({_DOT_NC} / (nv.nrm * c.c_nrm), 6) DESC,
                      c.centroid_id
           ) AS rn
    FROM n nv CROSS JOIN cents c
  ) WHERE rn = 1
)"""


# The ann_ivf_topk oracle: replays Lloyd training inline, then probes.
_IVF_TOPK_ORACLE = f"""
WITH n AS (SELECT vec_id, embedding, {_NORM} AS nrm FROM embeddings),
{_kmeans_cents_cte()},
{_ASSIGNED_CTE},
q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM n WHERE vec_id = 0),
probed AS (
  SELECT c.centroid_id FROM cents c, q
  ORDER BY round({_DOT_CQ} / (c.c_nrm * q.q_nrm), 6) DESC, c.centroid_id
  LIMIT {_NPROBE}
)
SELECT a.vec_id, a.centroid_id,
       round({_DOT_AQ} / (a.nrm * q.q_nrm), 6) AS cosine
FROM assigned a JOIN probed USING (centroid_id), q
WHERE a.vec_id != 0
ORDER BY cosine DESC, a.vec_id
LIMIT {_K}
"""


def _ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF assignment: an IVF deployment materializes it at
    index-build time (centroid_id IS the inverted list / storage
    partition key)."""
    emb = table(spark, sf_dir, "embeddings")
    return resident(
        emb,
        "ivf_assigned",
        lambda: A.assign_ivf_centroids(
            emb, _N_CENTROIDS, book=_trained_book(spark, sf_dir)
        ).persist(),
    )


def _ivf_probe(spark: SparkSession, sf_dir: str, qid) -> tuple:
    """``(q, qn, probe_ids)`` of query ``qid``: the query vector a client
    would send, and the lists it probes."""
    emb = table(spark, sf_dir, "embeddings")
    return resident(
        emb,
        ("ivf_probe", qid),
        lambda: A._ivf_probe_state(
            emb, qid, _N_CENTROIDS, _NPROBE, "vec_id",
            book=_trained_book(spark, sf_dir),
        )[:3],
    )


@register("ann_ivf_topk", oracle=_IVF_TOPK_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 against the Lloyd-trained codebook
    (:func:`operators.ann.kmeans_codebook`, 2 deterministic iterations —
    the oracle replays the training in SQL): coarse-quantize to 8
    centroids, probe the query's 2 nearest inverted lists only — the
    partition-pruned ANN topology (centroid_id = storage partition key
    at scale). Serves from the session's prebuilt index (persisted
    assignment + cached probe state); plan- and result-identical to
    :func:`operators.ann.ivf_topk` with the same book."""
    assigned = _ivf_index(spark, sf_dir)
    q, qn, probe_ids = _ivf_probe(spark, sf_dir, 0)
    return A.ivf_probe_topk(assigned, q, qn, probe_ids, 0, k=_K)


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_W = _DIM // _PQ_M  # sub-dimension
_PQ_K = 8  # centroids per subspace


def _pq_subspace_parts(src: str = "n") -> list[str]:
    """CTE parts for the PQ subspaces: ``sub{mi}`` slices, namespaced
    Lloyd replays ``p{mi}_cents``, and assignments ``p{mi}_code`` —
    shared by the PQ and IVF-PQ oracles. Requires ``src`` upstream with
    (vec_id, embedding); the residual oracle passes the residual
    relation so every subspace trains on residual slices, replaying
    :func:`operators.ann.residual_pq_codebooks`."""
    parts = []
    for mi in range(_PQ_M):
        lo, hi = mi * _PQ_W + 1, (mi + 1) * _PQ_W
        sub_norm = (
            f"sqrt(list_sum(list_transform(embedding[{lo}:{hi}], "
            "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        )
        parts.append(
            f"sub{mi} AS MATERIALIZED (SELECT vec_id, "
            f"embedding[{lo}:{hi}] AS embedding, "
            f"{sub_norm} AS nrm FROM {src})"
        )
        parts.append(
            _kmeans_cents_cte(
                _ITERS, dim=_PQ_W, src=f"sub{mi}", prefix=f"p{mi}_",
                n_centroids=_PQ_K,
            )
        )
        dot_sub = (
            f"list_sum(list_transform(range(1, {_PQ_W} + 1), "
            "i -> CAST(nv.embedding[i] AS DOUBLE) * c.c_emb[i]))"
        )
        parts.append(
            f"""p{mi}_code AS (
  SELECT vec_id, centroid_id AS c FROM (
    SELECT nv.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY nv.vec_id
             ORDER BY round(coalesce({dot_sub}
                        / nullif(nv.nrm * c.c_nrm, 0.0), 0.0), 6) DESC,
                      c.centroid_id) AS rn
    FROM sub{mi} nv CROSS JOIN p{mi}_cents c
  ) WHERE rn = 1
)"""
        )
    return parts


def _adc_fragments() -> tuple[str, str, str]:
    """(terms, joins, packed) SQL fragments for ADC scoring over the
    ``p{mi}_code``/``p{mi}_cents`` CTEs — shared by the PQ and IVF-PQ
    oracles. ``terms`` sums the per-subspace query·centroid dots,
    ``joins`` attaches each subspace's code and centroid row, ``packed``
    base-k packs the code word."""
    terms, joins, packs = [], [], []
    for mi in range(_PQ_M):
        terms.append(
            f"list_sum(list_transform(range(1, {_PQ_W} + 1), "
            f"i -> CAST(q.q_emb[{mi * _PQ_W} + i] AS DOUBLE) * cc{mi}.c_emb[i]))"
        )
        joins.append(
            f"JOIN p{mi}_code pc{mi} USING (vec_id) "
            f"JOIN p{mi}_cents cc{mi} ON cc{mi}.centroid_id = pc{mi}.c"
        )
        packs.append(f"CAST(pc{mi}.c AS BIGINT) * {_PQ_K ** (_PQ_M - 1 - mi)}")
    return " + ".join(terms), " ".join(joins), " + ".join(packs)


def _pq_oracle() -> str:
    """ann_pq_topk oracle: per-subspace Lloyd replay (m instances of the
    same CTE the IVF oracle uses, namespaced), per-subspace code
    assignment, then ADC scoring — the SQL twin of
    :func:`operators.ann.pq_topk` end to end, training included."""
    parts = [
        f"n AS MATERIALIZED (SELECT vec_id, embedding, {_NORM} AS nrm "
        "FROM embeddings)"
    ]
    parts.extend(_pq_subspace_parts())
    parts.append(
        "q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM n WHERE vec_id = 0)"
    )
    terms, joins, packed = _adc_fragments()
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT nv.vec_id,
       {packed} AS code_packed,
       round(coalesce(({terms})
             / nullif(nv.nrm * q.q_nrm, 0.0), 0.0), 6) AS pq_score
FROM n nv
{joins}, q
WHERE nv.vec_id != 0
ORDER BY pq_score DESC, nv.vec_id
LIMIT {_K}
"""
    )


def _ivfpq_oracle(k: int = _K) -> str:
    """ann_ivfpq_topk oracle: coarse Lloyd replay + assignment (the IVF
    oracle's CTEs) prunes to the query's nprobe inverted lists; the PQ
    subspace replays + ADC fragments price the survivors — the SQL twin
    of :func:`operators.ann.ivfpq_topk`, both trainings included.
    ``k`` parameterizes the final LIMIT so the refined entry can reuse
    this oracle as its shortlist subquery."""
    parts = [
        f"n AS MATERIALIZED (SELECT vec_id, embedding, {_NORM} AS nrm "
        "FROM embeddings)"
    ]
    parts.append(_kmeans_cents_cte())
    parts.append(_ASSIGNED_CTE)
    parts.extend(_pq_subspace_parts())
    parts.append(
        "q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM n WHERE vec_id = 0)"
    )
    parts.append(
        f"""probed AS (
  SELECT c.centroid_id FROM cents c, q
  ORDER BY round({_DOT_CQ} / (c.c_nrm * q.q_nrm), 6) DESC, c.centroid_id
  LIMIT {_NPROBE}
)"""
    )
    terms, joins, packed = _adc_fragments()
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT a.vec_id,
       CAST(a.centroid_id AS BIGINT) AS centroid_id,
       {packed} AS code_packed,
       round(coalesce(({terms})
             / nullif(a.nrm * q.q_nrm, 0.0), 0.0), 6) AS pq_score
FROM assigned a
JOIN probed USING (centroid_id)
{joins}, q
WHERE a.vec_id != 0
ORDER BY pq_score DESC, a.vec_id
LIMIT {k}
"""
    )


def _ivfpq_residual_oracle() -> str:
    """ann_ivfpq_residual_topk oracle — IVFADC end to end in SQL: coarse
    Lloyd replay + assignment, residual relation ``nr = x − c(x)``,
    per-subspace Lloyd replays ON RESIDUALS, nprobe pruning, and ADC
    scoring with the coarse ``c·q`` bias over the raw-vector norm."""
    parts = [
        f"n AS MATERIALIZED (SELECT vec_id, embedding, {_NORM} AS nrm "
        "FROM embeddings)"
    ]
    parts.append(_kmeans_cents_cte())
    parts.append(_ASSIGNED_CTE)
    parts.append(
        f"""nr AS MATERIALIZED (
  SELECT a.vec_id,
         list_transform(range(1, {_DIM} + 1),
           i -> CAST(a.embedding[i] AS DOUBLE) - c.c_emb[i]) AS embedding
  FROM assigned a JOIN cents c USING (centroid_id)
)"""
    )
    parts.extend(_pq_subspace_parts(src="nr"))
    parts.append(
        "q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM n WHERE vec_id = 0)"
    )
    parts.append(
        f"""probed AS (
  SELECT c.centroid_id FROM cents c, q
  ORDER BY round({_DOT_CQ} / (c.c_nrm * q.q_nrm), 6) DESC, c.centroid_id
  LIMIT {_NPROBE}
)"""
    )
    terms, joins, packed = _adc_fragments()
    coarse_dot = (
        f"list_sum(list_transform(range(1, {_DIM} + 1), "
        "i -> CAST(q.q_emb[i] AS DOUBLE) * cb.c_emb[i]))"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT a.vec_id,
       CAST(a.centroid_id AS BIGINT) AS centroid_id,
       {packed} AS code_packed,
       round(coalesce(({coarse_dot} + {terms})
             / nullif(a.nrm * q.q_nrm, 0.0), 0.0), 6) AS pq_score
FROM assigned a
JOIN probed USING (centroid_id)
JOIN cents cb ON cb.centroid_id = a.centroid_id
{joins}, q
WHERE a.vec_id != 0
ORDER BY pq_score DESC, a.vec_id
LIMIT {_K}
"""
    )


def _pq_index(spark: SparkSession, sf_dir: str):
    """(books, persisted codes) per corpus — the PQ index build."""
    emb = table(spark, sf_dir, "embeddings")

    def build():
        books = A.pq_codebooks(
            emb, m=_PQ_M, sub_dim=_PQ_W, k_sub=_PQ_K, iters=_ITERS
        )
        return books, A.pq_encode(emb, books, sub_dim=_PQ_W).persist()

    return resident(emb, "pq", build)


def _ivfpq_index(spark: SparkSession, sf_dir: str):
    """(coarse book, pq books, persisted (vec_id, centroid_id, code,
    nrm) index) per corpus — the IVF-PQ build."""
    emb = table(spark, sf_dir, "embeddings")

    def build():
        coarse = _trained_book(spark, sf_dir)
        pq_books, _codes = _pq_index(spark, sf_dir)
        index = A.ivfpq_index(emb, coarse, pq_books, sub_dim=_PQ_W).persist()
        return coarse, pq_books, index

    return resident(emb, "ivfpq", build)


def _ivfpq_residual_serve(spark: SparkSession, sf_dir: str):
    """(coarse book, residual pq books, persisted residual index) per
    corpus — the IVFADC build."""
    emb = table(spark, sf_dir, "embeddings")

    def build():
        coarse = _trained_book(spark, sf_dir)
        books = A.residual_pq_codebooks(
            emb, coarse, m=_PQ_M, sub_dim=_PQ_W, k_sub=_PQ_K, iters=_ITERS
        )
        index = A.ivfpq_residual_index(
            emb, coarse, books, sub_dim=_PQ_W
        ).persist()
        return coarse, books, index

    return resident(emb, "ivfpq_residual", build)


@register("ann_ivfpq_topk", oracle=_ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10: coarse quantizer prunes to the query's 2 nearest
    inverted lists, PQ codes price the survivors via lookup tables —
    the composed billion-scale topology (scan partitions = probed lists,
    bytes per vector = m codes + one norm). Both trainings are
    SQL-replayed by the oracle; centroid_id and code_packed ride in the
    output so pruning and encoding are both value-hash-pinned."""
    coarse, pq_books, index = _ivfpq_index(spark, sf_dir)
    return A.ivfpq_topk(
        table(spark, sf_dir, "embeddings"),
        0,
        k=_K,
        n_centroids=_N_CENTROIDS,
        nprobe=_NPROBE,
        m=_PQ_M,
        sub_dim=_PQ_W,
        k_sub=_PQ_K,
        coarse_book=coarse,
        pq_books=pq_books,
        index=index,
        # the cached probe state is exactly what _ivf_probe_state would
        # re-collect: same trained coarse book, same nprobe ranking
        probe_state=_ivf_probe(spark, sf_dir, 0),
    )


@register("ann_pq_topk", oracle=_pq_oracle())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-10 by asymmetric distance computation:
    4 subspaces × 8 Lloyd-trained centroids (training SQL-replayed by the
    oracle, per subspace), codes + full norm as the stored index, m table
    lookups per scored vector. The compressed-index topology for
    memory-bound billion-vector serving; code_packed pins the encoding
    itself in the value hash."""
    books, codes = _pq_index(spark, sf_dir)
    q, qn, _probes = _ivf_probe(spark, sf_dir, 0)  # cached query vector+norm
    return A.pq_topk(
        table(spark, sf_dir, "embeddings"),
        0,
        k=_K,
        m=_PQ_M,
        sub_dim=_PQ_W,
        k_sub=_PQ_K,
        books=books,
        codes=codes,
        query_state=(q, qn),
    )


def _pq_recall_oracle() -> str:
    """ann_pq_recall oracle: subspace training replays + per-query ADC
    ranking vs exact ranking, reduced to the mean recall@k — the SQL
    twin of :func:`operators.ann.pq_recall_multi`."""
    dot_nq = (
        f"list_sum(list_transform(range(1, {_DIM} + 1), "
        "i -> CAST(nv.embedding[i] AS DOUBLE) * q.q_emb[i]))"
    )
    terms, joins, _packed = _adc_fragments()
    parts = [
        f"n AS MATERIALIZED (SELECT vec_id, embedding, {_NORM} AS nrm "
        "FROM embeddings)"
    ]
    parts.extend(_pq_subspace_parts())
    parts.append(
        f"""qs AS (
  SELECT vec_id AS qid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb,
         nrm AS q_nrm
  FROM n WHERE vec_id < {_N_QUERIES}
)"""
    )
    parts.append(
        f"""pq_scored AS (
  SELECT q.qid, nv.vec_id,
         round(coalesce(({terms})
               / nullif(nv.nrm * q.q_nrm, 0.0), 0.0), 6) AS s
  FROM n nv
  {joins}
  CROSS JOIN qs q
  WHERE nv.vec_id != q.qid
)"""
    )
    parts.append(
        f"""adc AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rn
    FROM pq_scored
  ) WHERE rn <= {_K}
)"""
    )
    parts.append(
        f"""exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, nv.vec_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(coalesce({dot_nq}
                        / nullif(nv.nrm * q.q_nrm, 0.0), 0.0), 6) DESC,
                      nv.vec_id) AS rn
    FROM n nv CROSS JOIN qs q
    WHERE nv.vec_id != q.qid
  ) WHERE rn <= {_K}
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST((SELECT count(*) FROM adc JOIN exact USING (qid, vec_id)) AS DOUBLE)
         / nullif(CAST((SELECT count(*) FROM exact) AS DOUBLE), 0.0)
           AS recall_at_k,
       CAST({_K} AS INTEGER) AS k,
       CAST({_N_QUERIES} AS INTEGER) AS n_queries
"""
    )


@register("ann_pq_recall", oracle=_pq_recall_oracle())
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality metric for the PQ family: mean recall@10 of ADC
    ranking against exact brute force over the first 10 query vectors —
    the quantization-error number a deployment tunes m / k_sub /
    training iterations against (the probe-recall analog lives in
    ann_ivf_recall). The oracle replays all four subspace trainings,
    the encoding, both rankings, and the reduction in SQL."""
    books, codes = _pq_index(spark, sf_dir)
    return A.pq_recall_multi(
        table(spark, sf_dir, "embeddings"),
        n_queries=_N_QUERIES,
        k=_K,
        m=_PQ_M,
        sub_dim=_PQ_W,
        k_sub=_PQ_K,
        books=books,
        codes=codes,
    )


@register("ann_ivfpq_residual_topk", oracle=_ivfpq_residual_oracle())
def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ (IVFADC proper) top-10: codes quantize
    ``x − c(x)`` under residual-trained subspace books and scoring adds
    the probed list's coarse ``c·q`` — the accuracy refinement the raw
    ann_ivfpq_topk docstring names. The oracle replays the coarse
    training, the residual relation, all subspace trainings ON
    RESIDUALS, the probe, and the biased ADC rank in SQL."""
    coarse, books, index = _ivfpq_residual_serve(spark, sf_dir)
    return A.ivfpq_residual_topk(
        table(spark, sf_dir, "embeddings"),
        0,
        k=_K,
        n_centroids=_N_CENTROIDS,
        nprobe=_NPROBE,
        m=_PQ_M,
        sub_dim=_PQ_W,
        k_sub=_PQ_K,
        coarse_book=coarse,
        pq_books=books,
        index=index,
        probe_state=_ivf_probe(spark, sf_dir, 0),
    )


def _ivfpq_recall_oracle(
    residual: bool, refine_factor: int | None = None
) -> str:
    """Serving recall@k oracle for the composed IVF-PQ rank (probe
    pruning + ADC, raw or residual) vs exact — the SQL twin of
    :func:`operators.ann.ivfpq_recall_multi`. With ``refine_factor``
    the ADC rank keeps refine_factor·k per query and an exact-cosine
    rerank CTE picks the served top-k (the two-stage serving mode)."""
    dot_nq = (
        f"list_sum(list_transform(range(1, {_DIM} + 1), "
        "i -> CAST(nv.embedding[i] AS DOUBLE) * q.q_emb[i]))"
    )
    dot_cq = (
        f"list_sum(list_transform(range(1, {_DIM} + 1), "
        "i -> CAST(c.c_emb[i] AS DOUBLE) * q.q_emb[i]))"
    )
    terms, joins, _packed = _adc_fragments()
    parts = [
        f"n AS MATERIALIZED (SELECT vec_id, embedding, {_NORM} AS nrm "
        "FROM embeddings)"
    ]
    parts.append(_kmeans_cents_cte())
    parts.append(_ASSIGNED_CTE)
    if residual:
        parts.append(
            f"""nr AS MATERIALIZED (
  SELECT a.vec_id,
         list_transform(range(1, {_DIM} + 1),
           i -> CAST(a.embedding[i] AS DOUBLE) - c.c_emb[i]) AS embedding
  FROM assigned a JOIN cents c USING (centroid_id)
)"""
        )
        parts.extend(_pq_subspace_parts(src="nr"))
        bias = (
            f"list_sum(list_transform(range(1, {_DIM} + 1), "
            "i -> CAST(q.q_emb[i] AS DOUBLE) * cb.c_emb[i])) + "
        )
        bias_join = "JOIN cents cb ON cb.centroid_id = a.centroid_id"
    else:
        parts.extend(_pq_subspace_parts())
        bias = ""
        bias_join = ""
    parts.append(
        f"""qs AS (
  SELECT vec_id AS qid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb,
         nrm AS q_nrm
  FROM n WHERE vec_id < {_N_QUERIES}
)"""
    )
    parts.append(
        f"""probedq AS (
  SELECT qid, centroid_id FROM (
    SELECT q.qid, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(coalesce({dot_cq}
                        / nullif(c.c_nrm * q.q_nrm, 0.0), 0.0), 6) DESC,
                      c.centroid_id) AS rn
    FROM cents c CROSS JOIN qs q
  ) WHERE rn <= {_NPROBE}
)"""
    )
    parts.append(
        f"""pq_scored AS (
  SELECT q.qid, a.vec_id,
         round(coalesce(({bias}{terms})
               / nullif(a.nrm * q.q_nrm, 0.0), 0.0), 6) AS s
  FROM assigned a
  JOIN probedq p ON p.centroid_id = a.centroid_id
  JOIN qs q ON q.qid = p.qid
  {bias_join}
  {joins}
  WHERE a.vec_id != q.qid
)"""
    )
    adc_limit = _K if refine_factor is None else _K * refine_factor
    parts.append(
        f"""adc AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rn
    FROM pq_scored
  ) WHERE rn <= {adc_limit}
)"""
    )
    served = "adc"
    if refine_factor is not None:
        served = "refined"
        parts.append(
            f"""refined AS (
  SELECT qid, vec_id FROM (
    SELECT s.qid, nv.vec_id,
           row_number() OVER (
             PARTITION BY s.qid
             ORDER BY round(coalesce({dot_nq}
                        / nullif(nv.nrm * q.q_nrm, 0.0), 0.0), 6) DESC,
                      nv.vec_id) AS rn
    FROM adc s
    JOIN n nv ON nv.vec_id = s.vec_id
    JOIN qs q ON q.qid = s.qid
  ) WHERE rn <= {_K}
)"""
        )
    parts.append(
        f"""exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, nv.vec_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(coalesce({dot_nq}
                        / nullif(nv.nrm * q.q_nrm, 0.0), 0.0), 6) DESC,
                      nv.vec_id) AS rn
    FROM n nv CROSS JOIN qs q
    WHERE nv.vec_id != q.qid
  ) WHERE rn <= {_K}
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST((SELECT count(*) FROM {served} JOIN exact USING (qid, vec_id)) AS DOUBLE)
         / nullif(CAST((SELECT count(*) FROM exact) AS DOUBLE), 0.0)
           AS recall_at_k,
       CAST({_K} AS INTEGER) AS k,
       CAST({_N_QUERIES} AS INTEGER) AS n_queries
"""
    )


@register("ann_ivfpq_recall", oracle=_ivfpq_recall_oracle(residual=False))
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SERVING recall@10 of raw-space IVF-PQ (probe pruning
    folded with quantization loss) — what the deployment actually
    serves, as opposed to ann_ivf_recall (probe loss only) and
    ann_pq_recall (quantization loss only)."""
    coarse, books, index = _ivfpq_index(spark, sf_dir)
    return A.ivfpq_recall_multi(
        table(spark, sf_dir, "embeddings"),
        n_queries=_N_QUERIES, k=_K, n_centroids=_N_CENTROIDS,
        nprobe=_NPROBE, m=_PQ_M, sub_dim=_PQ_W, k_sub=_PQ_K,
        residual=False, coarse_book=coarse, pq_books=books, index=index,
    )


@register(
    "ann_ivfpq_residual_recall", oracle=_ivfpq_recall_oracle(residual=True)
)
def ann_ivfpq_residual_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving recall@10 of RESIDUAL IVF-PQ — pins the IVFADC accuracy
    refinement against ann_ivfpq_recall on the same probes (0.29 vs
    0.26 at sf0.01; the near-isotropic synthetic embeddings bound the
    gain by construction). The oracle replays residual training."""
    coarse, books, index = _ivfpq_residual_serve(spark, sf_dir)
    return A.ivfpq_recall_multi(
        table(spark, sf_dir, "embeddings"),
        n_queries=_N_QUERIES, k=_K, n_centroids=_N_CENTROIDS,
        nprobe=_NPROBE, m=_PQ_M, sub_dim=_PQ_W, k_sub=_PQ_K,
        residual=True, coarse_book=coarse, pq_books=books, index=index,
    )


_DOT_NQ = (
    f"list_sum(list_transform(range(1, {_DIM} + 1), "
    "i -> CAST(n.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))"
)


_DOT_NQ2 = (
    f"list_sum(list_transform(range(1, {_DIM} + 1), "
    "i -> CAST(nv.embedding[i] AS DOUBLE) * q.q_emb[i]))"
)
_DOT_CQ2 = (
    f"list_sum(list_transform(range(1, {_DIM} + 1), "
    "i -> c.c_emb[i] * q.q_emb[i]))"
)


_VEC_BUCKET = (
    "((('0x' || substr(md5(CAST(nv.vec_id AS VARCHAR)), 1, 15))::BIGINT "
    "& 2147483647) % 10000)"
)


def _ivf_recall_oracle(sample_permille: int | None = None) -> str:
    """The IVF recall@k oracle; with ``sample_permille`` set, both the
    probe side and the exact side restrict candidates to the md5
    hash-sample ``bucket(vec_id) < sample_permille`` (out of 10000) —
    the SQL twin of ``operators.ann._recall_sample_filter``."""
    samp = (
        ""
        if sample_permille is None
        else f" AND {_VEC_BUCKET} < {sample_permille}"
    )
    return f"""
WITH n AS (SELECT vec_id, embedding, {_NORM} AS nrm FROM embeddings),
{_kmeans_cents_cte()},
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT nv.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY nv.vec_id
             ORDER BY round({_DOT_NC} / (nv.nrm * c.c_nrm), 6) DESC,
                      c.centroid_id
           ) AS rn
    FROM n nv CROSS JOIN cents c
  ) WHERE rn = 1
),
qs AS (
  SELECT vec_id AS qid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb,
         nrm AS q_nrm
  FROM n WHERE vec_id < {_N_QUERIES}
),
probed AS (
  SELECT qid, centroid_id FROM (
    SELECT q.qid, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(coalesce({_DOT_CQ2}
                        / nullif(c.c_nrm * q.q_nrm, 0.0), 0.0), 6) DESC,
                      c.centroid_id) AS rn
    FROM cents c CROSS JOIN qs q
  ) WHERE rn <= {_NPROBE}
),
ivf AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, nv.vec_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(coalesce({_DOT_NQ2}
                        / nullif(nv.nrm * q.q_nrm, 0.0), 0.0), 6) DESC,
                      nv.vec_id) AS rn
    FROM assigned a
    JOIN n nv ON nv.vec_id = a.vec_id
    JOIN probed p ON p.centroid_id = a.centroid_id
    JOIN qs q ON q.qid = p.qid
    WHERE nv.vec_id != q.qid{samp}
  ) WHERE rn <= {_K}
),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, nv.vec_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(coalesce({_DOT_NQ2}
                        / nullif(nv.nrm * q.q_nrm, 0.0), 0.0), 6) DESC,
                      nv.vec_id) AS rn
    FROM n nv CROSS JOIN qs q
    WHERE nv.vec_id != q.qid{samp}
  ) WHERE rn <= {_K}
)
SELECT CAST((SELECT count(*) FROM ivf JOIN exact USING (qid, vec_id)) AS DOUBLE)
         / nullif(CAST((SELECT count(*) FROM exact) AS DOUBLE), 0.0)
           AS recall_at_k,
       CAST({_K} AS INTEGER) AS k,
       CAST({_N_QUERIES} AS INTEGER) AS n_queries
"""


@register(
    "ann_ivf_recall",
    oracle=_ivf_recall_oracle(),
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality metric: MEAN recall@10 of the trained-codebook IVF
    probe against the exact brute-force top-10, averaged over the first
    {n_queries} query vectors (single-query recall is noise; the mean is
    the number a deployment tunes nprobe / centroid count / training
    against). Trained-vs-untrained at sf0.01: 0.625 vs 0.615 mean
    recall@10 at nprobe=2 (the synthetic embeddings are near-isotropic,
    so the lift is modest by construction). One DAG for all queries;
    the oracle replays codebook training + probe + both rankings in SQL.
    """
    return A.ivf_recall_multi(
        table(spark, sf_dir, "embeddings"),
        n_queries=_N_QUERIES,
        k=_K,
        n_centroids=_N_CENTROIDS,
        nprobe=_NPROBE,
        book=_trained_book(spark, sf_dir),
    )


@register("ann_ivf_recall_sampled", oracle=_ivf_recall_oracle(5000))
def ann_ivf_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_ivf_recall with the 100-TB ground-truth mode active: both the
    probe side and the exact side restrict candidates to a deterministic
    md5 hash-sample of half the corpus (the exact side of a recall
    metric is O(corpus x queries) — at scale it runs on a sample or not
    at all). The oracle replays the same sample predicate, so the
    sampled metric itself is value-pinned; sampled ~= full is pinned in
    tests/test_ann.py."""
    return A.ivf_recall_multi(
        table(spark, sf_dir, "embeddings"),
        n_queries=_N_QUERIES,
        k=_K,
        n_centroids=_N_CENTROIDS,
        nprobe=_NPROBE,
        book=_trained_book(spark, sf_dir),
        sample_fraction=0.5,
    )


_REFINE = 4


@register(
    "ann_ivfpq_refined_topk",
    oracle=f"""
WITH short AS MATERIALIZED (
{_ivfpq_oracle(k=_K * _REFINE)}
),
n AS (SELECT vec_id, embedding, {_NORM} AS nrm FROM embeddings),
q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM n WHERE vec_id = 0)
SELECT s.vec_id, s.pq_score,
       round(coalesce(list_sum(list_transform(range(1, {_DIM} + 1),
             i -> CAST(n.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
             / nullif(n.nrm * q.q_nrm, 0.0), 0.0), 6) AS cosine
FROM short s JOIN n USING (vec_id), q
ORDER BY cosine DESC, s.vec_id
LIMIT {_K}
""",
)
def ann_ivfpq_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF-PQ serving: ADC shortlist of 4·k candidates from
    the compressed index, exact-cosine rerank of only those raw
    vectors, top-k by exact score — both stages value-pinned (pq_score
    witnesses the shortlist pricing, cosine the rerank). The oracle
    embeds the full ivfpq oracle (coarse + PQ Lloyd replays) as its
    shortlist subquery."""
    coarse, pq_books, index = _ivfpq_index(spark, sf_dir)
    return A.ivfpq_topk_refined(
        table(spark, sf_dir, "embeddings"),
        0,
        k=_K,
        refine_factor=_REFINE,
        n_centroids=_N_CENTROIDS,
        nprobe=_NPROBE,
        m=_PQ_M,
        sub_dim=_PQ_W,
        k_sub=_PQ_K,
        coarse_book=coarse,
        pq_books=pq_books,
        index=index,
        probe_state=_ivf_probe(spark, sf_dir, 0),
    )


@register(
    "ann_ivfpq_refined_recall",
    oracle=_ivfpq_recall_oracle(residual=False, refine_factor=_REFINE),
)
def ann_ivfpq_refined_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving recall@10 of the TWO-STAGE mode (ADC shortlist of 4·k,
    exact-cosine rerank) — pins the refinement's accuracy gain against
    ann_ivfpq_recall on the same probes: within the probed lists the
    rerank recovers quantization error exactly, so the remaining loss
    is probe pruning alone. The oracle replays both stages."""
    coarse, books, index = _ivfpq_index(spark, sf_dir)
    return A.ivfpq_recall_multi(
        table(spark, sf_dir, "embeddings"),
        n_queries=_N_QUERIES, k=_K, n_centroids=_N_CENTROIDS,
        nprobe=_NPROBE, m=_PQ_M, sub_dim=_PQ_W, k_sub=_PQ_K,
        residual=False, coarse_book=coarse, pq_books=books, index=index,
        refine_factor=_REFINE,
    )


# ---------------------------------------------------------------------------
# SQ8 — 8-bit scalar quantization (FAISS SQ8): the high-recall,
# low-compression point on the same compressed-serving curve as PQ.
# Bounds training, encoding, ADC scoring, and the recall reduction are
# all replayed by the oracle in SQL.
# ---------------------------------------------------------------------------


def _sq_parts() -> list[str]:
    """Shared CTEs: per-dimension min/max bounds (exact order statistics
    — both engines agree bit for bit), forward scale / inverse step
    arrays, and the SQ8 code table. The arithmetic shapes mirror
    :func:`operators.ann._sq_scales` / :func:`operators.ann.sq_encode`
    term for term so IEEE evaluation order matches."""
    return [
        f"n AS MATERIALIZED (SELECT vec_id, embedding, {_NORM} AS nrm "
        "FROM embeddings)",
        f"""sqb AS (
  SELECT list(CAST(mn AS DOUBLE) ORDER BY i) AS mns,
         list(CASE WHEN mx > mn
                   THEN 255.0 / (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))
                   ELSE 0.0 END ORDER BY i) AS fwd,
         list(CASE WHEN mx > mn
                   THEN (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)) / 255.0
                   ELSE 0.0 END ORDER BY i) AS stp
  FROM (
    SELECT i, min(embedding[i]) AS mn, max(embedding[i]) AS mx
    FROM n, range(1, {_DIM} + 1) t(i)
    GROUP BY i
  )
)""",
        f"""sqcodes AS MATERIALIZED (
  SELECT nv.vec_id, nv.nrm,
         list_transform(range(1, {_DIM} + 1),
           i -> least(255, greatest(0, CAST(floor(round(
                (CAST(nv.embedding[i] AS DOUBLE) - b.mns[i]) * b.fwd[i],
                6)) AS INTEGER)))) AS qcode
  FROM n nv, sqb b
)""",
    ]


_SQ_CHECK = (
    f"CAST(list_sum(list_transform(range(1, {_DIM} + 1), "
    "i -> CAST(c.qcode[i] AS BIGINT) * i)) AS BIGINT)"
)
_SQ_ADC = (
    f"round(coalesce((qw.c0 + list_sum(list_transform(range(1, {_DIM} + 1), "
    "i -> CAST(c.qcode[i] AS DOUBLE) * qw.w[i]))) "
    "/ nullif(c.nrm * qw.q_nrm, 0.0), 0.0), 6)"
)
# per-query driver-folded terms, mirrored: w[i] = q[i]·Δ[i] first (one
# multiply, like the Python zip), THEN the code fold multiplies by w[i]
_SQ_QW_COLS = (
    f"list_transform(range(1, {_DIM} + 1), i -> q.q_emb[i] * b.stp[i]) AS w, "
    f"list_sum(list_transform(range(1, {_DIM} + 1), "
    "i -> q.q_emb[i] * (b.mns[i] + b.stp[i] / 2.0))) AS c0"
)


def _sq_oracle() -> str:
    """ann_sq8_topk oracle: bounds training replay, encoding replay, and
    ADC scoring — the SQL twin of :func:`operators.ann.sq_topk` end to
    end, training included."""
    parts = _sq_parts()
    parts.append(
        "q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) "
        "AS q_emb, nrm AS q_nrm FROM n WHERE vec_id = 0)"
    )
    parts.append(
        f"qw AS (SELECT q.q_nrm, {_SQ_QW_COLS} FROM q, sqb b)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT c.vec_id,
       {_SQ_CHECK} AS code_check,
       {_SQ_ADC} AS sq_score
FROM sqcodes c, qw
WHERE c.vec_id != 0
ORDER BY sq_score DESC, c.vec_id
LIMIT {_K}
"""
    )


def _sq_recall_oracle() -> str:
    """ann_sq8_recall oracle: per-query SQ8 ADC ranking vs exact
    ranking, reduced to mean recall@k — the SQL twin of
    :func:`operators.ann.sq_recall_multi`."""
    dot_nq = (
        f"list_sum(list_transform(range(1, {_DIM} + 1), "
        "i -> CAST(nv.embedding[i] AS DOUBLE) * q.q_emb[i]))"
    )
    parts = _sq_parts()
    parts.append(
        f"""qs AS (
  SELECT vec_id AS qid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb,
         nrm AS q_nrm
  FROM n WHERE vec_id < {_N_QUERIES}
)"""
    )
    parts.append(
        f"qw AS (SELECT q.qid, q.q_emb, q.q_nrm, {_SQ_QW_COLS} "
        "FROM qs q, sqb b)"
    )
    parts.append(
        f"""sq_scored AS (
  SELECT qw.qid, c.vec_id, {_SQ_ADC} AS s
  FROM sqcodes c CROSS JOIN qw
  WHERE c.vec_id != qw.qid
)"""
    )
    parts.append(
        f"""adc AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rn
    FROM sq_scored
  ) WHERE rn <= {_K}
)"""
    )
    parts.append(
        f"""exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, nv.vec_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(coalesce({dot_nq}
                        / nullif(nv.nrm * q.q_nrm, 0.0), 0.0), 6) DESC,
                      nv.vec_id) AS rn
    FROM n nv CROSS JOIN qs q
    WHERE nv.vec_id != q.qid
  ) WHERE rn <= {_K}
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST((SELECT count(*) FROM adc JOIN exact USING (qid, vec_id)) AS DOUBLE)
         / nullif(CAST((SELECT count(*) FROM exact) AS DOUBLE), 0.0)
           AS recall_at_k,
       CAST({_K} AS INTEGER) AS k,
       CAST({_N_QUERIES} AS INTEGER) AS n_queries
"""
    )


def _sq_index(spark: SparkSession, sf_dir: str):
    """(bounds, persisted codes) per corpus — the SQ8 index build."""
    emb = table(spark, sf_dir, "embeddings")

    def build():
        bounds = A.sq_bounds(emb)
        return bounds, A.sq_encode(emb, bounds).persist()

    return resident(emb, "sq8", build)


@register("ann_sq8_topk", oracle=_sq_oracle())
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar-quantization top-10 by asymmetric scoring: per-dim
    min/max bounds trained in one aggregation pass (exact order
    statistics, SQL-replayed), every vector stored as 64 uint8 codes +
    its true norm (4x compression vs PQ's ~60x — the high-recall end of
    the compressed-serving curve), scoring = one integer-array fold with
    the per-query constants folded driver-side. code_check (the
    order-sensitive positional checksum) pins the per-dimension encoding
    in the value hash."""
    bounds, codes = _sq_index(spark, sf_dir)
    q, qn, _probes = _ivf_probe(spark, sf_dir, 0)
    return A.sq_topk(
        table(spark, sf_dir, "embeddings"),
        0,
        k=_K,
        bounds=bounds,
        codes=codes,
        query_state=(q, qn),
    )


@register("ann_sq8_recall", oracle=_sq_recall_oracle())
def ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality metric for the SQ8 family: mean recall@10 of SQ8
    ADC ranking against exact brute force over the same 10-query battery
    as ann_pq_recall — the number that justifies (or not) spending 16x
    more index memory than PQ for the finer quantizer. The oracle
    replays the bounds training, the encoding, both rankings, and the
    reduction in SQL."""
    bounds, codes = _sq_index(spark, sf_dir)
    return A.sq_recall_multi(
        table(spark, sf_dir, "embeddings"),
        n_queries=_N_QUERIES,
        k=_K,
        bounds=bounds,
        codes=codes,
    )


def _ivfsq_oracle(k: int = _K) -> str:
    """ann_ivfsq_topk oracle: coarse Lloyd replay + assignment prunes to
    the query's nprobe inverted lists; the SQ8 bounds/encode replay +
    driver-folded ADC terms price the survivors — the SQL twin of
    :func:`operators.ann.ivfsq_topk`, both trainings included.
    ``k`` parameterizes the final LIMIT so the refined entry can embed
    this as its shortlist subquery."""
    parts = [
        f"n AS MATERIALIZED (SELECT vec_id, embedding, {_NORM} AS nrm "
        "FROM embeddings)"
    ]
    parts.append(_kmeans_cents_cte())
    parts.append(_ASSIGNED_CTE)
    parts.extend(_sq_parts()[1:])  # sqb + sqcodes; n is already present
    parts.append(
        "q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) "
        "AS q_emb, nrm AS q_nrm FROM n WHERE vec_id = 0)"
    )
    parts.append(f"qw AS (SELECT q.q_nrm, {_SQ_QW_COLS} FROM q, sqb b)")
    parts.append(
        f"""probed AS (
  SELECT c.centroid_id FROM cents c, q
  ORDER BY round({_DOT_CQ} / (c.c_nrm * q.q_nrm), 6) DESC, c.centroid_id
  LIMIT {_NPROBE}
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT c.vec_id,
       CAST(a.centroid_id AS BIGINT) AS centroid_id,
       {_SQ_CHECK} AS code_check,
       {_SQ_ADC} AS sq_score
FROM sqcodes c
JOIN assigned a USING (vec_id)
JOIN probed USING (centroid_id), qw
WHERE c.vec_id != 0
ORDER BY sq_score DESC, c.vec_id
LIMIT {k}
"""
    )


def _ivfsq_index(spark: SparkSession, sf_dir: str):
    """(coarse book, bounds, persisted (vec_id, centroid_id, qcode, nrm)
    index) per corpus — the IVF-SQ8 build."""
    emb = table(spark, sf_dir, "embeddings")

    def build():
        coarse = _trained_book(spark, sf_dir)
        bounds, _codes = _sq_index(spark, sf_dir)
        return coarse, bounds, A.ivfsq_index(emb, coarse, bounds).persist()

    return resident(emb, "ivfsq", build)


@register("ann_ivfsq_topk", oracle=_ivfsq_oracle())
def ann_ivfsq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 top-10 (FAISS ``IVF,SQ8``): coarse quantizer prunes to the
    query's 2 nearest inverted lists, SQ8 codes price the survivors with
    one integer fold — completing the quantizer matrix (IVF x {raw, PQ,
    residual-PQ, SQ8}). Both trainings are SQL-replayed; centroid_id and
    the positional code checksum ride the output so pruning AND encoding
    are value-hash-pinned."""
    coarse, bounds, index = _ivfsq_index(spark, sf_dir)
    return A.ivfsq_topk(
        table(spark, sf_dir, "embeddings"),
        0,
        k=_K,
        n_centroids=_N_CENTROIDS,
        nprobe=_NPROBE,
        coarse_book=coarse,
        bounds=bounds,
        index=index,
        probe_state=_ivf_probe(spark, sf_dir, 0),
    )


def _ivfsq_recall_oracle(refine_factor: int | None = None) -> str:
    """ann_ivfsq_recall oracle: per-query probe pruning (coarse Lloyd
    replay) + SQ8 ADC ranking within the probed lists vs exact ranking
    over the full corpus, reduced to mean serving recall@k.
    ``refine_factor`` switches to the two-stage deployment: SQ8
    shortlist of ``refine_factor*k``, exact-cosine rerank (the
    :func:`_ivfpq_recall_oracle` refined shape)."""
    dot_nq = (
        f"list_sum(list_transform(range(1, {_DIM} + 1), "
        "i -> CAST(nv.embedding[i] AS DOUBLE) * q.q_emb[i]))"
    )
    parts = [
        f"n AS MATERIALIZED (SELECT vec_id, embedding, {_NORM} AS nrm "
        "FROM embeddings)"
    ]
    parts.append(_kmeans_cents_cte())
    parts.append(_ASSIGNED_CTE)
    parts.extend(_sq_parts()[1:])
    parts.append(
        f"""qs AS (
  SELECT vec_id AS qid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb,
         nrm AS q_nrm
  FROM n WHERE vec_id < {_N_QUERIES}
)"""
    )
    parts.append(
        f"qw AS (SELECT q.qid, q.q_emb, q.q_nrm, {_SQ_QW_COLS} "
        "FROM qs q, sqb b)"
    )
    parts.append(
        f"""probed AS (
  SELECT qid, centroid_id FROM (
    SELECT q.qid, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round({_DOT_CQ} / (c.c_nrm * q.q_nrm), 6) DESC,
                      c.centroid_id) AS rn
    FROM cents c CROSS JOIN qs q
  ) WHERE rn <= {_NPROBE}
)"""
    )
    parts.append(
        f"""sq_scored AS (
  SELECT qw.qid, c.vec_id, {_SQ_ADC} AS s
  FROM sqcodes c
  JOIN assigned a USING (vec_id)
  CROSS JOIN qw
  JOIN probed p ON p.qid = qw.qid AND p.centroid_id = a.centroid_id
  WHERE c.vec_id != qw.qid
)"""
    )
    adc_limit = _K if refine_factor is None else _K * refine_factor
    parts.append(
        f"""adc AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rn
    FROM sq_scored
  ) WHERE rn <= {adc_limit}
)"""
    )
    served = "adc"
    if refine_factor is not None:
        served = "refined"
        parts.append(
            f"""refined AS (
  SELECT qid, vec_id FROM (
    SELECT s.qid, nv.vec_id,
           row_number() OVER (
             PARTITION BY s.qid
             ORDER BY round(coalesce({dot_nq}
                        / nullif(nv.nrm * q.q_nrm, 0.0), 0.0), 6) DESC,
                      nv.vec_id) AS rn
    FROM adc s
    JOIN n nv ON nv.vec_id = s.vec_id
    JOIN qs q ON q.qid = s.qid
  ) WHERE rn <= {_K}
)"""
        )
    parts.append(
        f"""exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, nv.vec_id,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round(coalesce({dot_nq}
                        / nullif(nv.nrm * q.q_nrm, 0.0), 0.0), 6) DESC,
                      nv.vec_id) AS rn
    FROM n nv CROSS JOIN qs q
    WHERE nv.vec_id != q.qid
  ) WHERE rn <= {_K}
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST((SELECT count(*) FROM {served} JOIN exact USING (qid, vec_id)) AS DOUBLE)
         / nullif(CAST((SELECT count(*) FROM exact) AS DOUBLE), 0.0)
           AS recall_at_k,
       CAST({_K} AS INTEGER) AS k,
       CAST({_N_QUERIES} AS INTEGER) AS n_queries
"""
    )


@register("ann_ivfsq_recall", oracle=_ivfsq_recall_oracle())
def ann_ivfsq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving recall@10 of the composed IVF-SQ8 rank (probe pruning +
    SQ8 ADC) over the shared 10-query battery — folds probe loss and
    quantization loss end to end; compared against ann_sq8_recall it
    isolates the probe-pruning cost, against ann_ivfpq_recall the
    quantizer-fidelity gain. The oracle replays both trainings, the
    per-query pruning, both rankings, and the reduction."""
    coarse, bounds, index = _ivfsq_index(spark, sf_dir)
    return A.ivfsq_recall_multi(
        table(spark, sf_dir, "embeddings"),
        n_queries=_N_QUERIES,
        k=_K,
        n_centroids=_N_CENTROIDS,
        nprobe=_NPROBE,
        coarse_book=coarse,
        bounds=bounds,
        index=index,
    )


@register(
    "ann_ivfsq_refined_topk",
    oracle=f"""
WITH short AS MATERIALIZED (
{_ivfsq_oracle(k=_K * _REFINE)}
),
n AS (SELECT vec_id, embedding, {_NORM} AS nrm FROM embeddings),
q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM n WHERE vec_id = 0)
SELECT s.vec_id, s.sq_score,
       round(coalesce(list_sum(list_transform(range(1, {_DIM} + 1),
             i -> CAST(n.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
             / nullif(n.nrm * q.q_nrm, 0.0), 0.0), 6) AS cosine
FROM short s JOIN n USING (vec_id), q
ORDER BY cosine DESC, s.vec_id
LIMIT {_K}
""",
)
def ann_ivfsq_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF-SQ8 serving: SQ8 shortlist of 4·k candidates from
    the scalar-quantized index, exact-cosine rerank of only those raw
    vectors, top-k by exact score — the :func:`ann_ivfpq_refined_topk`
    sibling completing the quantizer serving matrix ({PQ, SQ8} ×
    {unrefined, refined}). Both stages value-pinned (sq_score witnesses
    the shortlist pricing, cosine the rerank); the oracle embeds the
    full ivfsq oracle (coarse Lloyd + bounds replays) as its shortlist
    subquery."""
    coarse, bounds, index = _ivfsq_index(spark, sf_dir)
    return A.ivfsq_topk_refined(
        table(spark, sf_dir, "embeddings"),
        0,
        k=_K,
        refine_factor=_REFINE,
        n_centroids=_N_CENTROIDS,
        nprobe=_NPROBE,
        coarse_book=coarse,
        bounds=bounds,
        index=index,
        probe_state=_ivf_probe(spark, sf_dir, 0),
    )


@register(
    "ann_ivfsq_refined_recall",
    oracle=_ivfsq_recall_oracle(refine_factor=_REFINE),
)
def ann_ivfsq_refined_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving recall@10 of the TWO-STAGE IVF-SQ8 mode (SQ8 shortlist
    of 4·k, exact-cosine rerank) — pins the refinement's effect against
    ann_ivfsq_recall on the same probes: within the probed lists the
    rerank recovers the (already small) SQ8 quantization error exactly,
    so recall ≥ the unrefined mode (pytest-pinned) and the remaining
    loss is probe pruning alone. The oracle replays both stages."""
    coarse, bounds, index = _ivfsq_index(spark, sf_dir)
    return A.ivfsq_recall_multi(
        table(spark, sf_dir, "embeddings"),
        n_queries=_N_QUERIES,
        k=_K,
        n_centroids=_N_CENTROIDS,
        nprobe=_NPROBE,
        coarse_book=coarse,
        bounds=bounds,
        index=index,
        refine_factor=_REFINE,
    )
