"""Query-vs-corpus trigram similarity — the reference's entire engine,
rebuilt as one lazy DataFrame DAG.

Reference: the 2-job MapReduce pipeline in
``/root/reference/BookQuery/src/main/java/BookQuery.java`` (Mapper1/Reducer1
build pruned term→doc posting lists, Mapper2/Reducer2 count shared shingles
per doc and emit a score). Here the two jobs collapse into a single plan
with exactly two shuffle exchanges:

1. ``groupBy(term)``    — the Job-1 shuffle (``BookQuery.java:92``)
2. ``groupBy(doc_id)``  — the Job-2 shuffle (``BookQuery.java:153``)

The parity path is built from the reference's stages, one private
function each, and the registry's stage entries (``semi_join_filter``,
``intersection_size``, ``posting_lists``, ``pair_counts``) are
projections of these same functions: :func:`_intersections` (T5/T6, the
semi-join), :func:`_postings` (Job 1: the pruned term → posting lists)
and :func:`_pair_counts` (Job 2's per-document count). The prune's ``n``
is the row count of the resident shingle sets (below) unless the caller
passes it, so a one-shot caller scans its corpus once: the count caches
the sets and the scoring job reads them.

There is no intermediate HDFS materialization (the reference round-trips
``<output>_temp``, ``BookQuery.java:239-254``), and Spark's hash aggregate
does map-side partial aggregation automatically, fixing the reference's
missing combiner (every literal ``"1"`` crossed the Job-2 shuffle,
``BookQuery.java:145``).

Scale design (100 TB corpus, 1000 executors):

- The query shingle set is tiny → shipped as a **broadcast** one-row
  DataFrame; the semi-join filter (``retainAll``, ``BookQuery.java:77``)
  becomes ``array_intersect`` evaluated map-side *before* the explode, so
  only ``|D∩Q|`` rows per document ever materialize — the explode volume
  is bounded by ``|corpus| × |Q|`` no matter how large documents get.
- Both shuffles key on high-cardinality columns (shingle string, doc id).
  A hyper-common shingle would skew exchange 1; AQE skew handling plus the
  reference's own ``count == n`` prune (which drops exactly those terms)
  keep it bounded.
- Everything before exchange 1 is one whole-stage-codegen'd map stage over
  a columnar Parquet scan that reads only (doc_id, text).

Resident shingle sets: the reference re-reads and re-shingles every
document for every query (both MR jobs re-run per query,
``BookQuery.java:194-257``). Here the corpus side of every operator
below reads one persisted ``(doc_id, shingle_set)`` frame per corpus
DataFrame (:func:`_shingle_sets`), so a served corpus is tokenized and
shingled once — by the first request — and every later request scans
the cached sets. Lifetime: the frame lives as long as the corpus
DataFrame object; when that object is garbage-collected a finalizer
unpersists it. Invalidation: ``load_table`` returns one DataFrame per
parquet fingerprint and refreshes Spark's cache for a rewritten file,
so an in-place rewrite yields a fresh corpus object with fresh sets.
Spark's cache matches plans, not objects: two live corpus DataFrames
with equal plans share one cache entry, and the first one collected
unpersists it for both; the survivor finds its sets uncached on its next
request and caches them again (one shingling pass).
Memory: the sets are stored ``MEMORY_AND_DISK_DESER`` (Spark's
DataFrame default); partitions that do not fit in executor storage
memory spill to local disk instead of failing, so a corpus larger than
the cluster's memory still gets one shingling pass, with the spilled
part read back from disk per request.

Query ids are data, not code: every operator below binds its query ids
through SQL parameter markers into a small local relation
(:func:`_query_keys`) and joins it to the resident sets, instead of
filtering on a literal id. A literal would be inlined into the Java
source Spark generates (the query-side filter, the cache's batch-pruning
predicate, the U2 filter), so every new id compiled and loaded new
classes and then had to be JIT-compiled. With the id in a row, requests
for different ids run one plan, and from the second request on Spark's
codegen cache supplies every generated class. The trade-off: the
query-side lookup is a join, not a filter, so it loses the cache's
min/max batch pruning on ``doc_id`` and scans every resident batch.

Semantics (SURVEY.md §2.3): ``mode="parity"`` reproduces quirks Q1-Q7
exactly — the score is ``s / ((len1 + |Q|) - s)`` where ``len1 = |D∩Q|``
and ``s`` counts intersection shingles that survive the
``count ∉ {1, n}`` prune; with nothing pruned this equals **query
containment** ``|D∩Q| / |Q|``, not Jaccard. ``mode="jaccard"`` is the
textbook ratio ``|D∩Q| / |D∪Q|`` (no pruning).
"""

from __future__ import annotations

import weakref

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
    staged_shingles_frame,
)

# Memo for similarity_multi_query's broadcast-guard probe: corpus
# DataFrame identity -> {(query_ids, text_col): n_terms}. The probe is a
# point-lookup aggregate over only the query rows — a per-batch statistic
# a serving deployment computes once when the query battery is registered,
# not on every scoring pass. load_table returns one cached DataFrame per
# (session, table, parquet fingerprint), so identity keying matches that
# reuse and an in-place fixture rewrite starts a fresh memo (the
# ADVICE-r2 invalidation rule, enforced once in load_table).
_qterms_cache: "weakref.WeakKeyDictionary[DataFrame, dict]" = (
    weakref.WeakKeyDictionary()
)


# Resident corpus shingle sets: corpus DataFrame identity ->
# {text_col: persisted (doc_id, shingle_set) frame}. Keyed like
# _qterms_cache (so load_table's fingerprint is the invalidation rule);
# a finalizer on the corpus DataFrame unpersists its frames.
_shingle_sets_cache: "weakref.WeakKeyDictionary[DataFrame, dict]" = (
    weakref.WeakKeyDictionary()
)


def _unpersist(frames: dict) -> None:
    """Finalizer of a corpus DataFrame: drop its resident frames from
    Spark's cache. It runs whenever the garbage collector gets to the
    corpus, possibly after its session was stopped, so a failing call
    into the JVM (a Py4J error, or a JVM exception PySpark converted) is
    ignored: there is no cache left to release."""
    for frame in frames.values():
        try:
            frame.unpersist()
        except (Py4JError, PySparkException):
            pass


def _shingle_sets(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """The resident ``(doc_id, shingle_set)`` frame of ``documents``:
    ``staged_shingles_frame`` persisted on first use, then returned as
    the same object on every later call with the same corpus object."""
    frames = _shingle_sets_cache.get(documents)
    if frames is None:
        frames = _shingle_sets_cache[documents] = {}
        # not at interpreter exit: the JVM may already be gone by then
        weakref.finalize(documents, _unpersist, frames).atexit = False
    frame = frames.get(text_col)
    if frame is None:
        frame = frames[text_col] = staged_shingles_frame(
            documents, text_col, alias="shingle_set"
        )
    # Spark's cache matches plans, so another corpus object with an
    # equal plan shares this entry, and its finalizer may have dropped
    # it: cache it again rather than re-shingle on every request
    if frame.storageLevel == StorageLevel.NONE:
        frame.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    return frame


def _query_keys(docs: DataFrame, query_ids) -> DataFrame:
    """The query ids as data: a local relation ``(qid)``, one row per id,
    typed as ``docs.doc_id``. Every id is bound through a parameter
    marker, so the plan, and the code Spark generates for it, is the same
    for every id: warm requests hit Spark's codegen cache instead of
    compiling and loading new classes, as a literal id would make them.
    The leading NULL row keeps ``VALUES`` non-empty for an empty id list;
    the filter drops it (and a NULL id, which matches no document)."""
    id_type = docs.schema["doc_id"].dataType.simpleString()
    rows = ", ".join(["(NULL)"] + ["(?)"] * len(query_ids))
    return docs.sparkSession.sql(
        f"SELECT CAST(qid AS {id_type}) AS qid FROM VALUES {rows} AS t(qid)"
        " WHERE qid IS NOT NULL",
        args=list(query_ids),
    )


def _query_side(docs: DataFrame, query_doc_id) -> DataFrame:
    """One-row broadcast DataFrame ``(qid, q_set, q_len)`` for the query
    document: its row of the resident sets ``docs``, looked up by joining
    the bound query key (:func:`_query_keys`).

    The reference ships the raw query text to every task via the job
    ``Configuration`` and re-parses it in every ``setup()``
    (``BookQuery.java:205,31-41,122-133``); broadcasting the *parsed*
    shingle set once is the Spark-native equivalent (O3 in SURVEY §4.1).
    """
    key = F.broadcast(_query_keys(docs, [query_doc_id]))
    q = (
        docs.join(key, F.col("doc_id") == F.col("qid"))
        .select(
            "qid",
            F.col("shingle_set").alias("q_set"),
            F.size("shingle_set").alias("q_len"),
        )
    )
    return F.broadcast(q)


def _intersections(documents: DataFrame, query_doc_id) -> DataFrame:
    """T5/T6: one row per document, ``(doc_id, q_len, is_q, kept)``, where
    ``kept = D∩Q`` is the map-side semi-join with the broadcast query set
    (``retainAll``, ``BookQuery.java:77``) over the resident sets, and
    ``is_q`` flags the query document's own row. Its size is the
    reference's ``len1`` (quirk Q1: taken after the intersection)."""
    docs = _shingle_sets(documents)
    return docs.join(_query_side(docs, query_doc_id)).select(
        "doc_id",
        "q_len",
        (F.col("doc_id") == F.col("qid")).alias("is_q"),
        F.array_intersect("shingle_set", "q_set").alias("kept"),
    )


def _postings(
    documents: DataFrame, query_doc_id, total_documents: int | None = None
) -> DataFrame:
    """Job 1 (T7-T10, ``BookQuery.java:92-111``): ``(term, df, postings)``,
    the query's terms with the documents that share them, after the
    reference's prune of terms in every document (``df == n``) or only
    in the query (``df == 1``). ``postings`` is an array of
    ``(doc_id, len1, q_len, is_q)`` and includes the query doc (Q5).
    ``n`` is the resident sets' row count unless given."""
    if total_documents is None:
        total_documents = _shingle_sets(documents).count()
    n = F.lit(total_documents)
    # only intersecting shingles are ever exploded (O1/O6); the group
    # members are carried along so no re-join with the corpus is needed
    kept = _intersections(documents, query_doc_id).select(
        "doc_id",
        "q_len",
        "is_q",
        F.size("kept").alias("len1"),
        F.explode("kept").alias("term"),  # T7
    )
    return (
        kept.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.collect_list(F.struct("doc_id", "len1", "q_len", "is_q")).alias(
                "postings"
            ),
        )
        .filter((F.col("df") != n) & (F.col("df") != F.lit(1)))
    )


def _pair_counts(postings: DataFrame) -> DataFrame:
    """Job 2's count (U2-U4, ``BookQuery.java:142-158``): per document
    other than the query, ``s`` = its shingles that survived the prune,
    as ``(doc_id, len1, q_len, s)``."""
    return (
        postings.select(F.explode("postings").alias("p"))
        .select("p.doc_id", "p.len1", "p.q_len", "p.is_q")
        .filter(~F.col("is_q"))  # U2
        .groupBy("doc_id", "len1", "q_len")
        .agg(F.count(F.lit(1)).alias("s"))
    )


def similarity_to_query(
    documents: DataFrame,
    query_doc_id=0,
    mode: str = "parity",
    total_documents: int | None = None,
) -> DataFrame:
    """Score every document against the query document.

    Returns ``(doc_id, query_id, score)``; documents with zero surviving
    shingle overlap are **absent**, not 0.0 (quirk Q3). Output is unordered
    (quirk Q7) — callers wanting ranked results add
    ``.orderBy(F.desc("score"))`` / ``top_k``.

    ``total_documents`` is the reference's ``totalDocuments`` scalar
    (corpus file count *including* the query doc, ``BookQuery.java:210-214``,
    quirk Q5). When not supplied it is the row count of the corpus's
    resident shingle sets, so counting reads the cached sets (and caches
    them on a first request) instead of scanning the corpus a second time.
    """
    if mode not in ("parity", "jaccard"):
        raise ValueError(f"mode must be 'parity' or 'jaccard', got {mode!r}")

    if mode == "jaccard":
        # Textbook |D∩Q| / |D∪Q|; single map stage, no shuffle at all.
        docs = _shingle_sets(documents)
        inter = F.size(F.array_intersect("shingle_set", "q_set"))
        union = F.size(F.array_union("shingle_set", "q_set"))
        return (
            docs.join(_query_side(docs, query_doc_id))  # 1-row broadcast side
            .filter(F.col("doc_id") != F.col("qid"))
            .select(
                "doc_id",
                F.lit(str(query_doc_id)).alias("query_id"),
                (inter.cast("double") / union.cast("double")).alias("score"),
            )
            .filter(F.col("score") > 0.0)
        )

    # U5-U6: the reference's literal score expression (BookQuery.java:166).
    # The `sum == len1+len2 → 1.0` guard is dead code (quirk Q4) but kept
    # for line-level parity.
    pairs = _pair_counts(_postings(documents, query_doc_id, total_documents))
    score = F.when(
        F.col("s") == F.col("len1") + F.col("q_len"), F.lit(1.0)
    ).otherwise(
        F.col("s").cast("double")
        / (F.col("len1") + F.col("q_len") - F.col("s")).cast("double")
    )
    return pairs.select(
        "doc_id",
        F.lit(str(query_doc_id)).alias("query_id"),
        score.alias("score"),
    )


def similarity_multi_query(
    documents: DataFrame,
    query_ids,
    text_col: str = "text",
    broadcast_term_limit: int = 2_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """Score every document against a *batch* of query documents in one
    pass — the engine generalization of the reference's one-query driver
    (``BookQuery.java:194-208`` hard-codes a single query file; serving a
    query batch there means re-running both MR jobs per query).

    Returns ``(doc_id, query_id, shared, containment, jaccard)`` — one row
    per (document, query) pair with ``shared = |D∩Q| > 0``, self-pairs
    excluded; ``containment = |D∩Q|/|Q|`` is the reference's effective
    score with nothing pruned (SURVEY §2.3 Q2), ``jaccard`` the textbook
    ratio. No df-pruning quirks: those are single-query semantics (the
    ``count == n`` prune counts the one query doc, quirk Q5).

    Scale topology (100 TB corpus, thousands of queries):

    - The union of all query terms is broadcast and ``array_intersect``-ed
      map-side before the explode (the reference's O1 semi-filter
      generalized), so explode volume is ``Σ_d |D ∩ ∪Q|`` — bounded by
      corpus × batch vocabulary, never corpus × document length.
    - Surviving (doc, term) rows broadcast-hash-join the exploded query
      term table (tiny vs the corpus; no shuffle of the corpus side).
    - One real exchange: the final ``groupBy(doc_id, query_id)`` count,
      keyed on high-cardinality pairs (no skew key exists — a term shared
      by every doc contributes rows spread over all doc ids).

    Broadcast guard: the plan above ships the union of all query terms to
    every executor, which stops being viable when the query battery's
    vocabulary no longer fits executor memory (tens of thousands of
    queries). A cheap probe — ``sum(q_len)`` over the query rows only, a
    point-lookup aggregate, never a corpus scan — counts the term upper
    bound; above ``broadcast_term_limit`` the operator switches to the
    shuffled plan: corpus shingles explode fully and shuffle-join the
    exploded query terms on ``term`` (both sides hash-partitioned;
    AQE's runtime bloom filter can still prune corpus rows early).
    Result-identical to the broadcast plan (pytest-pinned with a forced
    threshold); ``stats['multi_query_plan']`` records the choice.
    """
    docs = _shingle_sets(documents, text_col)
    query_ids = list(query_ids)  # materialize: consumed twice (keys + memo key)
    # one key row per distinct id, as isin matched each query doc once
    keys = F.broadcast(_query_keys(docs, list(dict.fromkeys(query_ids))))
    qset = docs.join(keys, F.col("doc_id") == F.col("qid")).select(
        "qid",
        F.col("shingle_set").alias("qs"),
        F.size("shingle_set").alias("q_len"),
    )
    qterms = qset.select("qid", "q_len", F.explode("qs").alias("term"))
    memo = _qterms_cache.setdefault(documents, {})
    memo_key = (tuple(query_ids), text_col)
    n_terms = memo.get(memo_key)
    if n_terms is None:
        n_terms = qset.agg(F.sum("q_len")).first()[0] or 0
        memo[memo_key] = n_terms
    if n_terms <= broadcast_term_limit:
        if stats is not None:
            stats["multi_query_plan"] = "broadcast"
        all_terms = qset.agg(
            F.array_distinct(F.flatten(F.collect_list("qs"))).alias("all_q")
        )
        kept = docs.join(F.broadcast(all_terms)).select(
            "doc_id",
            F.size("shingle_set").alias("sz_d"),
            F.explode(F.array_intersect("shingle_set", "all_q")).alias("term"),
        )
        qterms = F.broadcast(qterms)
    else:
        if stats is not None:
            stats["multi_query_plan"] = "shuffled"
        kept = docs.select(
            "doc_id",
            F.size("shingle_set").alias("sz_d"),
            F.explode("shingle_set").alias("term"),
        )
        # the corpus term stream is orders of magnitude wider than the
        # query term table — a sort-merge join would SORT the corpus
        # stream per partition (measured 2.9 -> 0.7 s at the 10x corpus);
        # build the hash map on the query side instead (same shuffle,
        # no sorts)
        qterms = qterms.hint("shuffle_hash")
    pairs = (
        kept.join(qterms, "term")
        .filter(F.col("doc_id") != F.col("qid"))
        .groupBy("doc_id", "qid", "sz_d", "q_len")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return pairs.select(
        "doc_id",
        F.col("qid").cast("string").alias("query_id"),
        "shared",
        (F.col("shared").cast("double") / F.col("q_len").cast("double")).alias(
            "containment"
        ),
        (
            F.col("shared").cast("double")
            / (F.col("sz_d") + F.col("q_len") - F.col("shared")).cast("double")
        ).alias("jaccard"),
    )


def top_k_similar(
    documents: DataFrame,
    query_doc_id=0,
    k: int = 10,
    mode: str = "parity",
    total_documents: int | None = None,
) -> DataFrame:
    """Ranked top-k variant — the obvious extension the reference lacks
    (its output is ordered by packed string key, quirk Q7). Spark plans
    this as ``TakeOrderedAndProject`` (no global sort materialization).

    Serving: the corpus shingle sets are resident per corpus DataFrame
    (see the module docstring). Repeated calls on one ``documents``
    object — e.g. the frame ``load_table`` returns for a session — pay
    tokenizing and shingling once, on the first call; each later call
    scans the persisted sets. Dropping the corpus object unpersists
    them; an in-place rewrite of the table gets fresh ones. The query id
    is bound as data, not inlined as a literal, so repeated requests for
    different ids reuse the code Spark generated for the first one
    instead of compiling new classes; in exchange the query's own row is
    found by a join that scans every resident batch (no min/max batch
    pruning on ``doc_id``).
    """
    return similarity_to_query(
        documents, query_doc_id, mode=mode, total_documents=total_documents
    ).orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
