"""Training-data curation queries: as-of join, deterministic splits,
stratified sampling. All full-value oracle-checked (DuckDB has native
ASOF JOIN, which certifies the union+running-last plan in
operators/temporal.py against an independent implementation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from similarity_search_with_hadoop_mapreduce_spark.operators.sampling import (
    mixture_sample,
    stratified_sample,
    train_val_test_split,
)
from similarity_search_with_hadoop_mapreduce_spark.operators.temporal import (
    asof_join_bucketed,
)
from similarity_search_with_hadoop_mapreduce_spark.registry.base import register, table

_BUCKET = "((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT & 2147483647) % 10000)"


@register(
    "join_asof",
    oracle="""
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, ts, max(value) AS last_purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT l.event_id, l.user_id, l.ts, r.last_purchase_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click gets the most recent prior purchase value of
    the same user. Engine plan is the skew-hardened bucketed union +
    running last — the window partitions by (user_id, day bucket) with
    per-bucket carried-in seeds, so a hot user spreads over its time
    range; the oracle is DuckDB's native (unbucketed) ASOF LEFT JOIN — an
    independent implementation of the same semantics, which also pins the
    bucketed plan's result-equality to the global formulation."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("last_purchase_value"))
    )
    return asof_join_bucketed(
        clicks, purchases, on="ts", by=["user_id"], values=["last_purchase_value"]
    )


@register(
    "sample_hash_split",
    oracle=f"""
SELECT doc_id,
       CASE WHEN {_BUCKET} < 8000 THEN 'train'
            WHEN {_BUCKET} < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment — a pure function
    of doc_id (stable under repartitioning, retries, and corpus growth)."""
    return train_val_test_split(
        table(spark, sf_dir, "documents"), id_col="doc_id"
    ).select("doc_id", "split")


@register(
    "sample_stratified",
    oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE {_BUCKET} < CASE WHEN lang = 'en' THEN 5000 ELSE 2000 END
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified deterministic downsample (en 50%, others 20%) —
    the rebalancing step of a multilingual training mix, as a map-only
    hash filter."""
    return stratified_sample(
        table(spark, sf_dir, "documents"),
        rates={"en": 0.5},
        default_rate=0.2,
        id_col="doc_id",
        strata_col="lang",
    ).select("doc_id", "lang")


_MIXTURE_TARGETS = {"en": 0.30, "es": 0.25, "fr": 0.25, "zh": 0.20}
_MIXTURE_CASE = (
    "CASE lang WHEN 'en' THEN CAST(0.30 AS DOUBLE)"
    " WHEN 'es' THEN CAST(0.25 AS DOUBLE)"
    " WHEN 'fr' THEN CAST(0.25 AS DOUBLE)"
    " WHEN 'zh' THEN CAST(0.20 AS DOUBLE) END"
)


@register(
    "sample_mixture",
    oracle=f"""
WITH census AS (
  SELECT lang AS stratum, count(*) AS n, {_MIXTURE_CASE} AS target
  FROM documents WHERE lang IN ('en', 'es', 'fr', 'zh') GROUP BY lang
),
s AS (SELECT min(n / target) AS scale FROM census),
r AS (
  SELECT stratum,
         CAST(floor(least(CAST(1.0 AS DOUBLE), (s.scale * c.target) / c.n)
              * 10000) AS BIGINT) AS thr
  FROM census c, s
)
SELECT d.doc_id, d.lang
FROM documents d JOIN r ON d.lang = r.stratum
WHERE {_BUCKET} < r.thr
""",
)
def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture resampling to a target language recipe (en 30%, es 25%,
    fr 25%, zh 20%; 'de' dropped): downsample-only — the limiting
    stratum keeps every row and the rest are md5-hash-thinned so output
    proportions follow the recipe. One narrow census aggregation +
    broadcast of the per-stratum thresholds + map-only filter; the
    oracle replays the identical double arithmetic
    (min(n/target) scale, floor(rate·10000) threshold)."""
    return mixture_sample(
        table(spark, sf_dir, "documents"),
        targets=_MIXTURE_TARGETS,
        strata_col="lang",
        id_col="doc_id",
    ).select("doc_id", "lang")


def _mixture_tokens_oracle() -> str:
    """Token-mass mixture oracle: replay the Java-split token count,
    census the strata in exact integer token sums, and re-derive the
    same double thresholds."""
    from similarity_search_with_hadoop_mapreduce_spark.registry.sim import (
        TOKENS_CTE,
    )

    return (
        "WITH "
        + TOKENS_CTE
        + f"""
, w AS (
  SELECT d.doc_id, d.lang, CAST(len(tok) AS BIGINT) AS wt
  FROM tokens JOIN documents d USING (doc_id)
),
census AS (
  SELECT lang AS stratum, CAST(sum(wt) AS BIGINT) AS n,
         {_MIXTURE_CASE} AS target
  FROM w WHERE lang IN ('en', 'es', 'fr', 'zh') GROUP BY lang
),
s AS (SELECT min(n / target) AS scale FROM census),
r AS (
  SELECT stratum,
         CAST(floor(least(CAST(1.0 AS DOUBLE), (s.scale * c.target) / c.n)
              * 10000) AS BIGINT) AS thr
  FROM census c, s
)
SELECT w.doc_id, w.lang
FROM w JOIN r ON w.lang = r.stratum
WHERE {_BUCKET.replace("doc_id", "w.doc_id")} < r.thr
"""
    )


@register("sample_mixture_tokens", oracle=_mixture_tokens_oracle())
def sample_mixture_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same language recipe measured in TOKEN mass (the unit real
    training recipes are written in): the census sums exact integer
    Java-split token counts per stratum, so the derived double
    thresholds are bit-identical across engines; the keep decision is
    still the per-doc md5 hash."""
    from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
        java_split_tokens,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(java_split_tokens("text")).alias("n_tokens"),
    )
    return mixture_sample(
        docs,
        targets=_MIXTURE_TARGETS,
        strata_col="lang",
        id_col="doc_id",
        weight_col="n_tokens",
    ).select("doc_id", "lang")


def _quality_weighted_oracle() -> str:
    """Replay the quality score, then the deterministic weighted keep:
    row kept iff md5-bucket(doc_id) < quality * 10000 — same double
    arithmetic both engines."""
    from similarity_search_with_hadoop_mapreduce_spark.registry.textstats import (
        _STOPS_SQL,
    )
    from similarity_search_with_hadoop_mapreduce_spark.registry.sim import (
        TOKENS_CTE,
    )

    return (
        "WITH "
        + TOKENS_CTE
        + rf"""
, feats AS (
  SELECT d.doc_id,
    CAST(len(tok) AS INTEGER) AS n_tokens,
    CASE WHEN length(d.text) > 0
         THEN CAST(len(regexp_extract_all(d.text, '[^A-Za-z0-9_\s]')) AS DOUBLE)
              / CAST(length(d.text) AS DOUBLE)
         ELSE 0.0 END AS punct_ratio_raw,
    CASE WHEN len(tok) > 0
         THEN CAST(len(list_filter(tok, t -> list_contains({_STOPS_SQL}, t))) AS DOUBLE)
              / CAST(len(tok) AS DOUBLE)
         ELSE 0.0 END AS stop_ratio_raw
  FROM tokens JOIN documents d USING (doc_id)
),
q AS (
  SELECT doc_id,
       round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
             + (1.0 - least(punct_ratio_raw * 5.0, 1.0)) * 0.3
             + least(stop_ratio_raw * 10.0, 1.0) * 0.3, 6) AS quality
  FROM feats
)
SELECT doc_id, quality
FROM q
WHERE CAST({_BUCKET} AS DOUBLE) < quality * 10000.0
"""
    )


@register("sample_quality_weighted", oracle=_quality_weighted_oracle())
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic downsample — keep each document
    with probability equal to its quality score (the canonical curation
    re-weighting): pure function of doc_id + content, stable under
    repartitioning/retries, oracle-replayed end to end (quality features
    AND the md5 keep rule)."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.sampling import (
        weighted_sample,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        quality_score,
    )

    q = quality_score(table(spark, sf_dir, "documents")).select(
        "doc_id", "quality"
    )
    return weighted_sample(q, "quality", id_col="doc_id")


def _neardup_curation_oracle() -> str:
    """Near-dup curation oracle: the star-capped MinHash pair oracle as a
    subquery, recursive-CTE connected components (cluster id = min doc in
    component, exactly the large-star/small-star fixpoint), keepers =
    docs that are their own cluster id, composed with the stop-ratio
    language filter."""
    from similarity_search_with_hadoop_mapreduce_spark.operators import (
        textstats as T,
    )
    from similarity_search_with_hadoop_mapreduce_spark.registry.dedup import (
        _STAR_CAP,
        _minhash_lsh_oracle,
    )
    from similarity_search_with_hadoop_mapreduce_spark.registry.sim import (
        TOKENS_CTE,
    )

    stops = "[" + ", ".join(f"'{s}'" for s in T.EN_STOPWORDS) + "]"
    mh = _minhash_lsh_oracle(cap=_STAR_CAP)
    return f"""
WITH RECURSIVE
mh_pairs AS (SELECT doc_a, doc_b FROM (
{mh}
) mh),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM mh_pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM mh_pairs
),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.d FROM reach r JOIN edges e ON e.s = r.b
),
clusters AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
keepers AS (SELECT doc_id FROM clusters WHERE doc_id = cluster_id),
{TOKENS_CTE},
lang AS (
  SELECT doc_id,
    CASE WHEN len(tok) > 0
         THEN round(CAST(len(list_filter(tok, t -> list_contains({stops}, t))) AS DOUBLE)
                    / CAST(len(tok) AS DOUBLE), 6)
         ELSE 0.0 END AS stop_ratio
  FROM tokens
)
SELECT l.doc_id, l.stop_ratio
FROM lang l JOIN keepers USING (doc_id)
WHERE l.stop_ratio >= 0.05
"""


@register("curation_pipeline_neardup", oracle=_neardup_curation_oracle())
def curation_pipeline_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup curation composition — the r4 star-capped machinery end
    to end in one lazy DAG: MinHash-LSH candidate pairs under an ACTIVE
    bucket cap (hot buckets degrade to representative stars, which is
    exactly what makes the downstream clustering keep hot near-dup
    groups intact), large-star/small-star connected components, keeper =
    the doc that IS its cluster id (min-label fixpoint), semi-joined
    with the language filter. The oracle replays every stage: banded
    signatures, windowed cap + star pairs, recursive-CTE components,
    and the stop-ratio language rule."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_pairs,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        language_id,
    )
    from similarity_search_with_hadoop_mapreduce_spark.registry.dedup import (
        _BANDS,
        _JACCARD_T,
        _K,
        _STAR_CAP,
    )

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, k=_K, bands=_BANDS, threshold=_JACCARD_T, base_hash="md5",
        max_bucket=_STAR_CAP, overflow="star",
    )
    clusters = duplicate_clusters(docs, pairs=pairs)
    keepers = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id"
    )
    lang = language_id(docs).select("doc_id", "stop_ratio", "predicted_lang")
    return (
        lang.filter(F.col("predicted_lang") == "en")
        .join(keepers, "doc_id", "left_semi")
        .select("doc_id", "stop_ratio")
    )


def _semantic_dedup_oracle() -> str:
    """SemDeDup-composition oracle: the multi-band embedding LSH pair
    oracle as a subquery, recursive-CTE connected components over the
    vector ids, the full quality-score replay, then keeper = the
    highest-quality member of each cluster (doc id breaks round-6
    quality ties)."""
    from similarity_search_with_hadoop_mapreduce_spark.registry.base import (
        ORACLES,
    )
    from similarity_search_with_hadoop_mapreduce_spark.registry.dedup import (
        _COS_T,
        _embedding_multiband_oracle,
    )

    return f"""
WITH RECURSIVE
ep AS (SELECT vec_a, vec_b FROM (
{_embedding_multiband_oracle(threshold=_COS_T, max_bucket=8)}
) mp),
edges AS (
  SELECT vec_a AS s, vec_b AS d FROM ep
  UNION ALL
  SELECT vec_b AS s, vec_a AS d FROM ep
),
reach(a, b) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.a, e.d FROM reach r JOIN edges e ON e.s = r.b
),
clusters AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
q AS (SELECT doc_id, quality FROM (
{ORACLES["text_quality"]}
) tq)
SELECT c.doc_id, c.cluster_id, q.quality
FROM clusters c JOIN q USING (doc_id)
QUALIFY row_number() OVER (
  PARTITION BY cluster_id ORDER BY q.quality DESC, c.doc_id
) = 1
"""


@register("curation_semantic_dedup", oracle=_semantic_dedup_oracle())
def curation_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup end to end: multi-band
    hyperplane-LSH embedding near-dup pairs (threshold 0.4, the dedup
    family's exact-tier cut) -> large-star/small-star
    connected components -> keep the HIGHEST-QUALITY member of each
    semantic cluster (not min-id — the curation-grade keeper rule),
    doc id breaking round-6 quality ties so the cut is engine-stable.
    One lazy DAG: banded candidate equi-joins, the components fixpoint,
    a broadcast-sized quality join, and one per-cluster window."""
    from pyspark.sql import Window

    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        duplicate_clusters,
        embedding_dup_pairs_lsh_multiband,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        quality_score,
    )
    from similarity_search_with_hadoop_mapreduce_spark.registry.dedup import (
        _COS_T,
        _EMB_BANDS,
        _EMB_ROWS,
    )

    emb = table(spark, sf_dir, "embeddings")
    # star-capped candidate generation (r9: the 10x sweep measured the
    # uncapped recipe at 23x wall for 10x vectors — the one recipe-tier
    # entry still riding a quadratic pair join). True duplicate groups
    # stay connected through each over-cap bucket's representative (the
    # rep-clone cosine passes the cut); borderline pairs NEAR the cosine
    # threshold can split clusters — the standard star-cap recall trade
    # every capped family documents — and the oracle replays the cap
    # rule, so engine/oracle equality is by construction either way
    pairs = embedding_dup_pairs_lsh_multiband(
        emb, threshold=_COS_T, bands=_EMB_BANDS, rows_per_band=_EMB_ROWS,
        max_bucket=8,
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    ids = emb.select(F.col("vec_id").alias("doc_id"))
    clusters = duplicate_clusters(ids, pairs=pairs)
    q = quality_score(table(spark, sf_dir, "documents")).select(
        "doc_id", "quality"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        clusters.join(q, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "cluster_id", "quality")
    )


@register(
    "curation_pipeline",
    oracle=None,  # built below after the imports resolve
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composition a training-data
    pipeline actually runs: quality features → language filter → quality
    filter → exact-dedup keeper semi-join. Each stage is an existing
    operator; the pipeline stays one lazy DAG (quality/lang are map-only,
    dedup adds the single digest shuffle), so Catalyst fuses the filters
    into the scan.

    Thresholds: lang = 'en' (stop-ratio heuristic), quality ≥ 0.4,
    n_tokens ≥ 20 — chosen to keep a meaningful fraction of the synthetic
    corpus on both sides of every filter.
    """
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        exact_duplicates,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        language_id,
        quality_score,
    )

    docs = table(spark, sf_dir, "documents")
    q = quality_score(docs).select("doc_id", "n_tokens", "quality")
    lang = language_id(docs).select("doc_id", "predicted_lang")
    keepers = exact_duplicates(docs).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    return (
        q.join(lang, "doc_id")
        .filter(
            (F.col("predicted_lang") == "en")
            & (F.col("quality") >= 0.4)
            & (F.col("n_tokens") >= 20)
        )
        .join(keepers, "doc_id", "left_semi")
        .select("doc_id", "n_tokens", F.col("quality").alias("quality"))
    )


def _install_curation_oracle() -> None:
    from similarity_search_with_hadoop_mapreduce_spark.registry.base import ORACLES
    from similarity_search_with_hadoop_mapreduce_spark.registry.textstats import (
        _STOPS_SQL,
    )
    from similarity_search_with_hadoop_mapreduce_spark.registry.sim import (
        TOKENS_CTE,
    )

    ORACLES["curation_pipeline"] = (
        "WITH "
        + TOKENS_CTE
        + rf"""
, feats AS (
  SELECT d.doc_id,
    CAST(len(tok) AS INTEGER) AS n_tokens,
    CASE WHEN length(d.text) > 0
         THEN CAST(len(regexp_extract_all(d.text, '[^A-Za-z0-9_\s]')) AS DOUBLE)
              / CAST(length(d.text) AS DOUBLE)
         ELSE 0.0 END AS punct_ratio_raw,
    CASE WHEN len(tok) > 0
         THEN CAST(len(list_filter(tok, t -> list_contains({_STOPS_SQL}, t))) AS DOUBLE)
              / CAST(len(tok) AS DOUBLE)
         ELSE 0.0 END AS stop_ratio_raw
  FROM tokens JOIN documents d USING (doc_id)
),
scored AS (
  SELECT doc_id, n_tokens,
         round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
               + (1.0 - least(punct_ratio_raw * 5.0, 1.0)) * 0.3
               + least(stop_ratio_raw * 10.0, 1.0) * 0.3, 6) AS quality,
         CASE WHEN round(stop_ratio_raw, 6) >= 0.05 THEN 'en' ELSE 'und' END
           AS predicted_lang
  FROM feats
),
keepers AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
)
SELECT s.doc_id, s.n_tokens, s.quality
FROM scored s
WHERE s.predicted_lang = 'en' AND s.quality >= 0.4 AND s.n_tokens >= 20
  AND EXISTS (SELECT 1 FROM keepers k WHERE k.doc_id = s.doc_id)
"""
    )


_install_curation_oracle()


@register(
    "events_hypertable_rollup",
    oracle="""
SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS hour_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: minute-grain partials
    re-rolled to hours. The minute table is what a 100 TB deployment
    stores (append-only, small); hourly/daily views re-aggregate the
    partials instead of the raw events — this query IS that second-level
    rollup, and its oracle is the direct hourly aggregation of the raw
    table, proving the partials compose losslessly (counts add; decimal
    sums are associative, converted to double only at the end).
    """
    e = table(spark, sf_dir, "events")
    minute = (
        e.groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_partial"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("v_partial"),
        )
        .select(F.col("w.start").alias("minute_start"), "event_type", "n_partial", "v_partial")
    )
    return (
        minute.groupBy(
            F.date_trunc("hour", "minute_start").alias("hour_start"), "event_type"
        )
        .agg(
            F.sum("n_partial").alias("n_events"),
            F.sum("v_partial").cast("double").alias("total_value"),
        )
    )


@register(
    "events_gapfill_locf",
    oracle="""
WITH agg AS (
  SELECT event_type AS k, date_trunc('minute', ts) AS bucket,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT date_trunc('minute', min(ts)) AS lo, date_trunc('minute', max(ts)) AS hi
  FROM events
),
grid AS (
  SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS bucket
  FROM (SELECT DISTINCT event_type AS k FROM events), bounds
)
SELECT g.k AS event_type, CAST(g.bucket AS TIMESTAMP) AS bucket_start,
       CAST(coalesce(a.n_events, 0) AS BIGINT) AS n_events,
       a.total_value,
       last_value(a.total_value IGNORE NULLS) OVER (
         PARTITION BY g.k ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
FROM grid g LEFT JOIN agg a ON g.k = a.k AND g.bucket = a.bucket
""",
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled minute series per event type: dense bucket grid,
    zero-filled counts, last-observation-carried-forward value sums
    (time_bucket_gapfill + locf semantics). Runs the stat-driven
    implementation: a footer-metadata span probe picks the global-window
    plan for short histories and the (key, day)-bucketed skew-hardened
    plan for long ones — both result-identical to this unchanged oracle
    (equality of the two physical plans is pytest-pinned in
    tests/test_skew.py)."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.temporal import (
        gapfill_locf_auto,
    )

    return gapfill_locf_auto(table(spark, sf_dir, "events"))


def _pack_sequences_oracle() -> str:
    from similarity_search_with_hadoop_mapreduce_spark.registry.sim import (
        TOKENS_CTE,
    )

    return (
        "WITH "
        + TOKENS_CTE
        + f"""
, staged AS (
  SELECT doc_id, ({_BUCKET} % 8) AS shard,
         CAST(len(list_filter(tok, t -> length(t) > 0)) AS INTEGER)
           AS n_tokens
  FROM tokens
),
packed AS (
  SELECT doc_id, shard, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM staged
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
       CAST(before // 256 AS BIGINT) AS bin_id,
       CAST(before % 256 AS BIGINT) AS bin_offset
FROM packed
"""
    )


@register("sample_pack_sequences", oracle=_pack_sequences_oracle())
def sample_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack-then-chunk sequence layout (GPT-style pretraining): each
    document's position in its shard's concatenated token stream,
    chunked into 256-token training windows — shard, window id and
    in-window offset all deterministic pure functions of the id set, so
    the oracle replays the whole layout (md5 shard hash, Java-split
    token counts, windowed running sum)."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.sampling import (
        pack_sequences,
    )

    return pack_sequences(
        table(spark, sf_dir, "documents"), max_tokens=256, n_shards=8
    )


def _cluster_safe_split_oracle() -> str:
    from similarity_search_with_hadoop_mapreduce_spark.registry.base import ORACLES

    cbucket = _BUCKET.replace(
        "md5(CAST(doc_id AS VARCHAR))", "md5(CAST(cluster_id AS VARCHAR))"
    )
    return f"""
SELECT doc_id, cluster_id,
       CASE WHEN {cbucket} < 8000 THEN 'train'
            WHEN {cbucket} < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM (
{ORACLES["dedup_clusters"]}
) c
"""


@register("sample_cluster_safe_split", oracle=_cluster_safe_split_oracle())
def sample_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 80/10/10 split: near-duplicate clustering first
    (SimHash pairs → connected components, the dedup_clusters machinery),
    then the split decision hashes the CLUSTER id — every member of a
    duplicate cluster lands in the same split, so an eval document can
    never have a near-copy in train. The oracle replays the full
    composition: recursive-CTE components feeding the md5 bucket rule."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        duplicate_clusters,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.sampling import (
        cluster_safe_split,
    )

    clusters = duplicate_clusters(
        table(spark, sf_dir, "documents"), base_hash="md5", max_bucket=None
    )
    return cluster_safe_split(clusters)


def _source_cap_oracle() -> str:
    """Replay the quality score (REUSED from the registered text_quality
    oracle — one SQL definition of the formula, the _semantic_dedup
    pattern), then the deterministic per-source rank cut: row_number
    over (quality desc, doc_id) <= cap — the same rounded-rational
    ordering both engines compute bit-for-bit."""
    from similarity_search_with_hadoop_mapreduce_spark.registry.base import (
        ORACLES,
    )

    return f"""
WITH q AS (
  SELECT doc_id, quality FROM (
{ORACLES["text_quality"]}
  )
),
r AS (
  SELECT d.doc_id, d.source, q.quality,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY q.quality DESC, d.doc_id) AS rk
  FROM q JOIN documents d USING (doc_id)
)
SELECT doc_id, source, quality, CAST(rk AS INTEGER) AS rk
FROM r WHERE rk <= 10
"""


@register("sample_source_cap", oracle=_source_cap_oracle())
def sample_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution cap: at most 10 documents per source,
    highest quality first (quality desc, doc_id tiebreak) — the
    deterministic-rank counterpart of the hash-rate downsamples; the
    row_number() <= cap filter compiles to a map-side WindowGroupLimit
    (plan-asserted in tests) so a skewed mega-source never funnels its
    whole population through one reducer."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        source_quality_cap,
    )

    return source_quality_cap(table(spark, sf_dir, "documents"), cap=10)


def _recipe_v2_oracle() -> str:
    """The full round-6 recipe as one composed SQL statement — every
    stage is the already-registered member oracle as a subquery (single
    source of truth per formula): rule gates, near-dup keepers, quality
    + LM filters, per-source cap, deterministic split."""
    from similarity_search_with_hadoop_mapreduce_spark.registry.base import (
        ORACLES,
    )

    return f"""
WITH g AS (
  SELECT doc_id FROM (
{ORACLES["text_gopher_rules"]}
  ) WHERE passes = 1
),
keepers AS (
  SELECT doc_id FROM (
{ORACLES["dedup_clusters"]}
  ) WHERE doc_id = cluster_id
),
q AS (
  SELECT doc_id, quality FROM (
{ORACLES["text_quality"]}
  )
),
lm AS (
  SELECT doc_id, avg_nll FROM (
{ORACLES["text_lm_score"]}
  )
),
sp AS (
  SELECT doc_id, split FROM (
{ORACLES["sample_hash_split"]}
  )
),
kept AS (
  SELECT d.doc_id, d.source, d.lang, q.quality
  FROM documents d
  JOIN q USING (doc_id)
  JOIN lm USING (doc_id)
  JOIN g USING (doc_id)
  JOIN keepers USING (doc_id)
  WHERE q.quality >= 0.6 AND lm.avg_nll <= 3.45
),
capped AS (
  SELECT doc_id, source, lang, quality,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id) AS rk
  FROM kept
)
SELECT c.doc_id, c.source, c.lang, c.quality,
       CAST(c.rk AS INTEGER) AS rk, sp.split
FROM capped c JOIN sp USING (doc_id)
WHERE c.rk <= 8
"""


@register("curation_recipe_v2", oracle=_recipe_v2_oracle())
def curation_recipe_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 training-data recipe end to end in ONE lazy DAG —
    cheapest-gate-first, exactly the production ordering:

    1. Gopher rule gates (map-only projection) drop rule-failing docs;
    2. near-dup keepers (SimHash pairs -> connected components, keeper
       = min-id fixpoint) drop every non-representative duplicate;
    3. model-based filters: composite quality >= 0.6 AND corpus-trained
       bigram-LM avg_nll <= 3.45 (atypical-for-the-corpus docs out);
    4. per-source contribution cap (best 8 by quality,
       WindowGroupLimit);
    5. deterministic 80/10/10 hash split stamped on the survivors.

    Every stage reuses the registered operator (and its oracle reuses
    the registered member oracle), so this entry pins the COMPOSITION —
    the joins, the filter order, the funnel — not re-derived formulas.
    """
    from pyspark.sql import Window

    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        duplicate_clusters,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.sampling import (
        train_val_test_split,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        gopher_rules,
        lm_bigram_score,
        quality_score,
    )

    docs = table(spark, sf_dir, "documents")
    g = gopher_rules(docs).filter(F.col("passes") == 1).select("doc_id")
    keepers = (
        duplicate_clusters(docs, base_hash="md5", max_bucket=None)
        .filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
    )
    q = quality_score(docs).select("doc_id", "quality")
    lm = lm_bigram_score(docs).select("doc_id", "avg_nll")
    kept = (
        docs.select("doc_id", "source", "lang")
        .join(q, "doc_id")
        .join(lm, "doc_id")
        .join(g, "doc_id", "semi")
        .join(keepers, "doc_id", "semi")
        .filter((F.col("quality") >= 0.6) & (F.col("avg_nll") <= 3.45))
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    capped = (
        kept.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 8)
    )
    return train_val_test_split(capped).select(
        "doc_id",
        "source",
        "lang",
        "quality",
        F.col("rk").cast("int").alias("rk"),
        "split",
    )


def _recipe_v3_oracle() -> str:
    """Recipe v2's surviving train split pushed through the stored-vocab
    tokenizer and the pack-then-chunk layout — the text -> curated ->
    ids -> training-window journey as ONE composed SQL statement, every
    stage the already-registered member formula."""
    from similarity_search_with_hadoop_mapreduce_spark.registry.sim import (
        TOKENS_CTE,
    )

    return f"""
WITH v2r AS (
{_recipe_v2_oracle()}
),
train_ids AS (SELECT doc_id FROM v2r WHERE split = 'train'),
train_docs AS (
  SELECT d.doc_id, d.text FROM documents d JOIN train_ids USING (doc_id)
),
{TOKENS_CTE.replace("FROM documents", "FROM train_docs")},
vterms AS (
  SELECT term FROM (SELECT doc_id, unnest(tok) AS term FROM tokens) u
  WHERE length(term) > 0
),
vtf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf FROM vterms GROUP BY term),
vtot AS (SELECT CAST(sum(tf) AS HUGEINT) AS total_tf FROM vtf),
vhead AS (
  SELECT term, tf,
         row_number() OVER (ORDER BY tf DESC, term) AS rank,
         CAST(sum(tf) OVER (ORDER BY tf DESC, term
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
           AS cum_tf
  FROM vtf
),
vocab AS (
  SELECT term, CAST(rank AS INTEGER) AS id
  FROM vhead CROSS JOIN vtot
  WHERE rank <= 200 AND (cum_tf - tf) * 1000000 < 900000 * total_tf
),
kt AS (
  SELECT doc_id, term FROM (SELECT doc_id, unnest(tok) AS term FROM tokens) u
  WHERE length(term) > 0
),
enc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_ids,
         CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unk
  FROM kt LEFT JOIN vocab v USING (term) GROUP BY doc_id
),
staged AS (
  SELECT doc_id, ({_BUCKET} % 4) AS shard,
         CAST(len(list_filter(tok, t -> length(t) > 0)) AS INTEGER)
           AS n_tokens
  FROM tokens
),
packed AS (
  SELECT doc_id, shard, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM staged
)
SELECT p.doc_id,
       COALESCE(e.n_ids, 0) AS n_ids,
       COALESCE(e.n_unk, 0) AS n_unk,
       CAST(p.shard AS BIGINT) AS shard,
       p.n_tokens,
       CAST(p.before // 64 AS BIGINT) AS bin_id,
       CAST(p.before % 64 AS BIGINT) AS bin_offset
FROM packed p LEFT JOIN enc e USING (doc_id)
"""


@register("curation_recipe_v3", oracle=_recipe_v3_oracle())
def curation_recipe_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition: recipe v2's surviving TRAIN split is
    the tokenizer's training corpus AND its input — save_vocab persists
    the survivors' minimal 90%-mass vocabulary, encode_with_vocab maps
    each surviving doc to ids (n_ids kept tokens, n_unk OOV) from the
    frozen tables, and pack_sequences assigns every doc its shard /
    64-token training window / in-window offset. One entry pins the
    whole text -> curated -> ids -> training-layout journey; every
    stage reuses the registered operator and its member oracle."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.sampling import (
        pack_sequences,
    )
    from similarity_search_with_hadoop_mapreduce_spark.operators.textstats import (
        encode_with_vocab,
        save_vocab,
    )

    docs = table(spark, sf_dir, "documents")
    train_ids = (
        curation_recipe_v2(spark, sf_dir)
        .filter(F.col("split") == "train")
        .select("doc_id")
    )
    train = docs.join(train_ids, "doc_id", "semi").select("doc_id", "text")
    save_vocab(
        train, prefix="oracle_recipe_vocab", coverage_ppm=900000, max_vocab=200
    )
    enc = encode_with_vocab(train, prefix="oracle_recipe_vocab").select(
        "doc_id",
        F.col("n_tokens").alias("n_ids"),
        "n_unk",
    )
    pk = pack_sequences(train, max_tokens=64, n_shards=4)
    return pk.join(enc, "doc_id").select(
        "doc_id",
        "n_ids",
        "n_unk",
        F.col("shard").cast("bigint").alias("shard"),
        "n_tokens",
        F.col("bin_id").cast("bigint").alias("bin_id"),
        F.col("bin_offset").cast("bigint").alias("bin_offset"),
    )


def _zorder_oracle() -> str:
    from similarity_search_with_hadoop_mapreduce_spark.sources.sinks import (
        zvalue_oracle_sql,
    )

    zexpr = zvalue_oracle_sql(["xd", "yd"], bits=12)
    return f"""
WITH dims AS (
  SELECT event_id,
         user_id % 4096 AS xd,
         EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts) AS yd
  FROM events
)
SELECT event_id, CAST({zexpr} AS BIGINT) AS zkey FROM dims
"""


@register("layout_zorder", oracle=_zorder_oracle())
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) key per event over (user_id mod 4096,
    minute-of-day): the multi-dimensional layout key behind
    ``write_zorder`` (sources/sinks.py), value-pinned bit for bit —
    both engines run the same ``((x >> i) & 1) << (i*n + c)`` integer
    interleave, so the layout a 100-TB table is physically sorted by is
    deterministic and engine-independent. The pruning payoff (a box
    predicate skipping files a single-column sort cannot) is pinned by
    the footer-stats test in tests/test_zorder.py."""
    from similarity_search_with_hadoop_mapreduce_spark.sources.sinks import zvalue

    ev = table(spark, sf_dir, "events")
    dims = ev.select(
        "event_id",
        (F.col("user_id") % 4096).alias("xd"),
        (F.hour("ts") * 60 + F.minute("ts")).cast("long").alias("yd"),
    )
    return dims.select(
        "event_id", zvalue(["xd", "yd"], bits=12, out="zkey").cast("long").alias("zkey")
    )
