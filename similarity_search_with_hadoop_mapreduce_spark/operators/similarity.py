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
passes it, so the plan scans its corpus once: the count caches the sets
and the scoring job reads them. This plan, and the top-k plan over it,
runs only for a corpus the resident index (below) cannot hold.

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
``BookQuery.java:194-257``). Here every Spark plan below reads one
persisted ``(doc_id, shingle_set)`` frame per corpus DataFrame
(:func:`_shingle_sets`), so a corpus served by the Spark plans is
tokenized and shingled once — by the first such request — and every
later one scans the cached sets. The sets, the resident index and the
multi-query probe slot are values of the corpus DataFrame in the
package's one resident store (``sources.tables.resident``). Lifetime:
they live as long as the corpus object; when it is garbage-collected
the store's finalizer unpersists the sets. Invalidation: ``load_table``
returns one DataFrame per parquet fingerprint and refreshes Spark's
cache for a rewritten file, so an in-place rewrite yields a fresh corpus
object with fresh sets.
Spark's cache matches plans, not objects: two live corpus DataFrames
with equal plans share one cache entry, and the first one collected
unpersists it for both; the survivor finds its sets uncached on its next
request and caches them again (one shingling pass).
Memory: the sets are stored ``MEMORY_AND_DISK_DESER`` (Spark's
DataFrame default); partitions that do not fit in executor storage
memory spill to local disk instead of failing, so a corpus larger than
the cluster's memory still gets one shingling pass, with the spilled
part read back from disk per request.

Query ids are data, not code: every Spark plan below writes its query ids
as the rows of a small local relation (:func:`_query_keys`) and joins it
to the resident sets, instead of filtering on a literal id. What keeps
the code shared is where the id sits: a value in a local-relation row is
read by the join like any other row, while an id in a filter would be
inlined into the Java source Spark generates (the query-side filter, the
cache's batch-pruning predicate, the U2 filter), so every new id would
compile and load new classes and then have to be JIT-compiled. With the
id in a row, requests for different ids run one plan, and from the
second request on Spark's codegen cache supplies every generated class.
The rows are written as literals (:func:`_sql_literal`), and only after
:func:`_checked_ids` has checked each id against the corpus's id type;
an integer outside the type's range gets no row (:func:`_in_range`), so
it answers no rows from every operator, as an absent id does.
The trade-off: the query-side lookup is a join, not a filter, so it
loses the cache's min/max batch pruning on ``doc_id`` and scans every
resident batch.

Resident index: no operator here plans a Spark job per request. The
first request on a corpus object collects its ``(doc_id, text)`` once
through Arrow (one scan job) and builds a driver-resident CSR index of
its trigram sets (:class:`_CorpusIndex`) with the exact driver-side twin
of the Spark shingler (``functions.text.trigram_sets``) — the
reference's Job-1 posting lists, built once instead of per query, with
no shingling, cache or shuffle job. A request then computes its answer
at call time in numpy (``|D∩Q|`` and parity's ``s`` are bincounts over
the query terms' posting lists) with the Spark plan's IEEE doubles, and
returns it as a local relation of literal rows (:func:`_local_relation`),
whose ``collect()`` runs no job and compiles no code. The Spark plans run only
for a corpus the index cannot hold exactly (see :func:`_build_index`),
and for a multi-query battery whose answer passes
``_LITERAL_ROW_LIMIT`` rows, past which parsing the literal rows takes
longer than the Spark plan; only the registry's stage entries, and its
forced twins of the multi-query plans, score from the sets on every
corpus.

Semantics (SURVEY.md §2.3): ``mode="parity"`` reproduces quirks Q1-Q7
exactly — the score is ``s / ((len1 + |Q|) - s)`` where ``len1 = |D∩Q|``
and ``s`` counts intersection shingles that survive the
``count ∉ {1, n}`` prune; with nothing pruned this equals **query
containment** ``|D∩Q| / |Q|``, not Jaccard. ``mode="jaccard"`` is the
textbook ratio ``|D∩Q| / |D∪Q|`` (no pruning).
"""

from __future__ import annotations

import bisect
import numbers
import os
from itertools import repeat

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from similarity_search_with_hadoop_mapreduce_spark.functions.text import (
    staged_shingles_frame,
    trigram_sets,
)
from similarity_search_with_hadoop_mapreduce_spark.sources.tables import resident


def _shingle_sets(documents: DataFrame) -> DataFrame:
    """The resident ``(doc_id, shingle_set)`` frame of ``documents``:
    ``staged_shingles_frame`` of its ``text``, persisted on first use,
    then the same object on every later call with the same corpus."""
    frame = resident(
        documents,
        "shingle_sets",
        lambda: staged_shingles_frame(documents, "text", alias="shingle_set"),
    )
    # Spark's cache matches plans, so another corpus object with an equal
    # plan shares this entry and its finalizer may have dropped it: cache
    # it again rather than re-shingle on every request
    if frame.storageLevel == StorageLevel.NONE:
        frame.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    return frame


# id types the operators serve: Spark's integral types by bit width, and
# plain strings
_INT_BITS = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}


def _checked_ids(documents: DataFrame, query_ids) -> list:
    """``query_ids`` as plain Python values of the corpus's id type. An
    integral corpus takes ``int`` or a numpy integer (not ``bool``), a
    string corpus takes ``str``; any other id raises ``TypeError`` here,
    before a plan is built, where Spark would cast it to another
    document's id (``3.7`` and ``'3'`` to 3, ``True`` to 1). An integer
    outside the id type's range passes: no document has it
    (:func:`_in_range`), so it answers no rows, as an absent id does."""
    id_type = documents.schema["doc_id"].dataType.simpleString()
    if id_type != "string" and id_type not in _INT_BITS:
        raise TypeError(f"doc_id must be integral or string, not {id_type}")
    ids = list(query_ids)
    for q in ids:
        if not (isinstance(q, str) if id_type == "string" else _is_integer(q)):
            raise TypeError(
                f"query id {q!r} ({type(q).__name__}) is not a {id_type} doc id"
            )
    return ids if id_type == "string" else [int(q) for q in ids]


def _is_integer(value) -> bool:
    """An ``int`` or numpy integer, not a ``bool``."""
    return isinstance(value, numbers.Integral) and not isinstance(value, bool)


def _count(name: str, value, bound: int | None = None) -> int:
    """``value`` as a plain ``int``, checked before any Spark call: an
    ``int`` or numpy integer, not ``bool`` (else ``TypeError``), not
    negative and below ``bound`` if given (else ``ValueError``)."""
    if not _is_integer(value):
        raise TypeError(f"{name} must be an integer, not {type(value).__name__}")
    if value < 0:
        raise ValueError(f"{name} must not be negative, got {value}")
    if bound is not None and value >= bound:
        raise ValueError(f"{name} must be below {bound}, got {value}")
    return int(value)


def _in_range(id_type: str, query_id) -> bool:
    """Whether a checked id fits the corpus's id type: every string does,
    an integer must lie in its type's range. An id that does not names
    no document, and Spark's cast would overflow on it."""
    if id_type == "string":
        return True
    half = 1 << (_INT_BITS[id_type] - 1)
    return -half <= query_id < half


def _sql_literal(value) -> str:
    """Spark SQL literal text for a checked id or a score: an integer as
    its decimal token; a string as its UTF-8 bytes in a hex binary literal
    cast to STRING, so no character of it is ever quoted or escaped; a
    float as ``repr`` with the ``D`` suffix, which parses back to the same
    double."""
    if isinstance(value, str):
        return f"CAST(X'{value.encode().hex()}' AS STRING)"
    if isinstance(value, float):
        return f"{float(value)!r}D"  # numpy 2 reprs a double as np.float64(…)
    if _is_integer(value):
        return str(int(value))
    raise TypeError(f"no SQL literal for {value!r} ({type(value).__name__})")


def _local_relation(spark, select: str, names: tuple, rows) -> DataFrame:
    """``SELECT <select>`` over ``rows`` (tuples of ints, strings and
    floats) as one ``VALUES`` local relation ``t(<names>)``, written as
    literals in one SQL text: building it takes the same few Py4J
    commands for any number of rows. The leading NULL row keeps
    ``VALUES`` non-empty for no rows; the filter on the first column
    drops it."""
    values = ", ".join(
        ["(" + ", ".join(["NULL"] * len(names)) + ")"]
        + ["(" + ", ".join(map(_sql_literal, row)) + ")" for row in rows]
    )
    return spark.sql(
        f"SELECT {select} FROM VALUES {values} AS t({', '.join(names)})"
        f" WHERE {names[0]} IS NOT NULL"
    )


def _query_keys(docs: DataFrame, query_ids) -> DataFrame:
    """The query ids as data: a local relation ``(qid)``, one row per id,
    typed as ``docs.doc_id``. Every id is a value in a row, so the plan,
    and the code Spark generates for it, is the same for every id: warm
    requests hit Spark's codegen cache instead of compiling and loading
    new classes, as an id in a filter would make them. The ids must have
    passed :func:`_checked_ids`; one outside the id type's range gets no
    row, so the plans answer no rows for it."""
    id_type = docs.schema["doc_id"].dataType.simpleString()
    return _local_relation(
        docs.sparkSession,
        f"CAST(qid AS {id_type}) AS qid",
        ("qid",),
        [(q,) for q in query_ids if _in_range(id_type, q)],
    )


def _query_side(docs: DataFrame, query_ids: list) -> DataFrame:
    """``(qid, q_set, q_len)``, one row per query document found: its row
    of the resident sets ``docs``, looked up by joining the query key
    rows (:func:`_query_keys`). The one keys-to-sets lookup of every
    Spark plan here.

    The reference ships the raw query text to every task via the job
    ``Configuration`` and re-parses it in every ``setup()``
    (``BookQuery.java:205,31-41,122-133``); broadcasting the *parsed*
    shingle set once is the Spark-native equivalent (O3 in SURVEY §4.1):
    a caller that joins one query broadcasts this frame.
    """
    keys = F.broadcast(_query_keys(docs, query_ids))
    return docs.join(keys, F.col("doc_id") == F.col("qid")).select(
        "qid",
        F.col("shingle_set").alias("q_set"),
        F.size("shingle_set").alias("q_len"),
    )


def _intersections(documents: DataFrame, query_doc_id) -> DataFrame:
    """T5/T6: one row per document, ``(doc_id, q_len, is_q, kept)``, where
    ``kept = D∩Q`` is the map-side semi-join with the broadcast query set
    (``retainAll``, ``BookQuery.java:77``) over the resident sets, and
    ``is_q`` flags the query document's own row. Its size is the
    reference's ``len1`` (quirk Q1: taken after the intersection)."""
    docs = _shingle_sets(documents)
    return docs.join(F.broadcast(_query_side(docs, [query_doc_id]))).select(
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
    quirk Q5). When not supplied it is the corpus's row count.

    Serving: every candidate's score is computed at call time from the
    corpus's resident index (:class:`_CorpusIndex`, built by the first
    request; see the module docstring) and returned as a local relation
    of literal rows (:func:`_answer_frame`), which costs SQL parsing per
    row, so it suits answers of up to some thousands of rows. The Spark
    plan (two shuffles for parity, map-only for jaccard) runs only for a
    corpus the index cannot hold exactly (:func:`_build_index`); there,
    ``n`` is the row count of the corpus's resident shingle sets, so
    counting caches the sets for the scoring job instead of scanning the
    corpus a second time.

    ``total_documents`` must be ``None`` or an integer in ``[0, 2**63)``
    (:func:`_count`), and ``query_doc_id`` of the corpus's id type
    (:func:`_checked_ids`); an id that names no document answers no rows.
    """
    if mode not in ("parity", "jaccard"):
        raise ValueError(f"mode must be 'parity' or 'jaccard', got {mode!r}")
    if total_documents is not None:
        total_documents = _count("total_documents", total_documents, 2**63)
    (query_doc_id,) = _checked_ids(documents, [query_doc_id])
    index = _corpus_index(documents)
    if index is None:
        return _scores_plan(documents, query_doc_id, mode, total_documents)
    row = index.row(query_doc_id)
    rows, scores = ([], []) if row < 0 else index.scores(row, mode, total_documents)
    return _answer_frame(
        documents.sparkSession, index.id_type, query_doc_id, index.doc_ids(rows),
        scores,
    )


def _scores_plan(
    documents: DataFrame, query_doc_id, mode: str, total_documents: int | None
) -> DataFrame:
    """:func:`similarity_to_query`'s Spark plan over the resident sets,
    for checked arguments."""
    if mode == "jaccard":
        # Textbook |D∩Q| / |D∪Q|; single map stage, no shuffle at all.
        docs = _shingle_sets(documents)
        inter = F.size(F.array_intersect("shingle_set", "q_set"))
        union = F.size(F.array_union("shingle_set", "q_set"))
        return (
            docs.join(F.broadcast(_query_side(docs, [query_doc_id])))
            .filter(F.col("doc_id") != F.col("qid"))
            .select(
                "doc_id",
                F.lit(str(query_doc_id)).alias("query_id"),
                # two empty sets share nothing: no score, not 0/0
                F.when(
                    union > 0, inter.cast("double") / union.cast("double")
                ).alias("score"),
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


# the Spark plan of similarity_multi_query broadcasts the union of its
# battery's query sets up to this many terms in total (the sum of the
# set sizes), and shuffles the corpus terms above it
_BROADCAST_TERM_LIMIT = 2_000_000

# the index answers a multi-query battery of up to this many (document,
# query) rows as literal rows; a larger answer runs the Spark plan.
# Measured warm on a 20k-document corpus, 4 cores, build + collect: one
# driver thread parses the literal rows at about 0.2 ms of wall a row,
# and the Spark plan takes about 1.2 s plus 0.07 ms a row over the
# cores, so the index's wall passes the plan's between 7k and 15k rows
# (at 4.5k rows: 1.2-1.3 s against 1.7-2.1 s). Its CPU stays below the
# plan's to about 200k rows, but its wall, and the SQL text held on the
# driver, keep growing with the rows.
_LITERAL_ROW_LIMIT = 5_000


def similarity_multi_query(documents: DataFrame, query_ids) -> DataFrame:
    """Score every document against a *batch* of query documents in one
    pass — the engine generalization of the reference's one-query driver
    (``BookQuery.java:194-208`` hard-codes a single query file; serving a
    query batch there means re-running both MR jobs per query).

    Returns ``(doc_id, query_id, shared, containment, jaccard)`` — one row
    per (document, query) pair with ``shared = |D∩Q| > 0``, self-pairs
    excluded; ``containment = |D∩Q|/|Q|`` is the reference's effective
    score with nothing pruned (SURVEY §2.3 Q2), ``jaccard`` the textbook
    ratio. No df-pruning quirks: those are single-query semantics (the
    ``count == n`` prune counts the one query doc, quirk Q5). Output is
    unordered; a repeated id scores once.

    Serving: the battery is scored at call time from the corpus's
    resident index (:class:`_CorpusIndex`), one overlap count per
    distinct query (:meth:`_CorpusIndex.overlaps`), and returned as a
    local relation of literal rows (:func:`_local_relation`), which costs
    SQL parsing per row. The Spark plan (:func:`_multi_query_plan`) runs
    for a corpus the index cannot hold exactly (:func:`_build_index`),
    and for a battery whose answer passes ``_LITERAL_ROW_LIMIT`` rows,
    which the index counts before it builds any row
    (:func:`_counted_overlaps`). There, a probe — ``sum(q_len)`` over the
    battery's rows of the resident sets, a join of the key rows against
    every cached batch, kept for the last battery in one resident slot
    of the corpus — counts the battery's terms, and above
    ``_BROADCAST_TERM_LIMIT`` the shuffled plan replaces the broadcast
    one; the physical plan shows the choice (``ShuffledHashJoin``).

    Every query id must be of the corpus's id type (:func:`_checked_ids`);
    one that names no document scores nothing.
    """
    # a tuple of checked ids: consumed twice (keys + memo key)
    query_ids = tuple(_checked_ids(documents, query_ids))
    index = _corpus_index(documents)
    counted = None if index is None else _counted_overlaps(index, query_ids)
    if counted is None:
        # one slot, (query_ids, n_terms) of the last battery probed: a
        # battery sent again skips the probe, and a stream of fresh ones
        # holds one entry, not one per battery
        slot = resident(documents, "multi_query_probe", lambda: [None])
        probe = slot[0]  # one read: another thread may replace the slot
        if probe is None or probe[0] != query_ids:
            docs = _shingle_sets(documents)
            qset = _query_side(docs, list(dict.fromkeys(query_ids)))
            probe = slot[0] = (query_ids, qset.agg(F.sum("q_len")).first()[0] or 0)
        return _multi_query_plan(
            documents, query_ids, shuffled=probe[1] > _BROADCAST_TERM_LIMIT
        )
    import numpy as np

    sizes = np.diff(index.doc_ptr)
    rows = []
    for q, row, cand, inter in counted:
        q_len = sizes[row]
        rows += zip(
            index.doc_ids(cand),
            repeat(q),
            inter.tolist(),
            (inter / q_len).tolist(),
            (inter / (sizes[cand] + q_len - inter)).tolist(),
        )
    return _local_relation(
        documents.sparkSession,
        f"CAST(doc_id AS {index.id_type}) AS doc_id,"
        " CAST(qid AS STRING) AS query_id,"
        # the Spark plan's count is NOT NULL
        " coalesce(CAST(shared AS BIGINT), 0L) AS shared,"
        " CAST(containment AS DOUBLE) AS containment,"
        " CAST(jaccard AS DOUBLE) AS jaccard",
        ("doc_id", "qid", "shared", "containment", "jaccard"),
        rows,
    )


def _counted_overlaps(index, query_ids) -> list | None:
    """``[(q, row, cand, inter)]``: :meth:`_CorpusIndex.overlaps` of each
    distinct id of the battery that names a document, or ``None`` as soon
    as their answer rows, one per ``cand``, pass ``_LITERAL_ROW_LIMIT``:
    counting stops there, so a large battery costs a few counts."""
    counted, total = [], 0
    for q in dict.fromkeys(query_ids):
        row = index.row(q)
        if row < 0:
            continue
        cand, inter = index.overlaps(row)
        total += len(cand)
        if total > _LITERAL_ROW_LIMIT:
            return None
        counted.append((q, row, cand, inter))
    return counted


def _multi_query_plan(documents: DataFrame, query_ids, shuffled: bool) -> DataFrame:
    """:func:`similarity_multi_query`'s Spark plan over the resident
    sets, for checked ids.

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

    ``shuffled``: the broadcast plan ships the union of all query terms
    to every executor, which stops being viable when the battery's
    vocabulary no longer fits executor memory (tens of thousands of
    queries). The shuffled plan explodes the corpus shingles fully and
    shuffle-joins the exploded query terms on ``term`` (both sides
    hash-partitioned; AQE's runtime bloom filter can still prune corpus
    rows early). The two plans answer the same rows."""
    docs = _shingle_sets(documents)
    # one key row per distinct id, as isin matched each query doc once
    qset = _query_side(docs, list(dict.fromkeys(query_ids)))
    qterms = qset.select("qid", "q_len", F.explode("q_set").alias("term"))
    if not shuffled:
        all_terms = qset.agg(
            F.array_distinct(F.flatten(F.collect_list("q_set"))).alias("all_q")
        )
        kept = docs.join(F.broadcast(all_terms)).select(
            "doc_id",
            F.size("shingle_set").alias("sz_d"),
            F.explode(F.array_intersect("shingle_set", "all_q")).alias("term"),
        )
        qterms = F.broadcast(qterms)
    else:
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


class _CorpusIndex:
    """Driver-resident CSR index of one corpus's shingle sets: Job 1's
    term → posting lists (``BookQuery.java:92-111``) built once, with no
    prune, since the prune's ``n`` is a per-request argument.

    Rows are the corpus documents in ascending ``doc_id`` order (Spark's
    order: numeric, or UTF-8 bytes, which is code-point order), so a
    row number is also the ``doc_id`` tie-break. Term ids are the ranks
    of the trigrams' exact codes (``functions.text.trigram_sets``); the
    strings themselves are never built, since a query is always a corpus
    document and its terms are its row of ``doc_terms``.

    - ``ids``: the sorted doc ids (a numpy array, or a list of ``str``);
    - ``doc_ptr``/``doc_terms``: row → its term ids, ascending (the set
      sizes are ``diff(doc_ptr)``);
    - ``term_ptr``/``term_docs``: term id → the rows holding it;
    - ``df``: rows per term.
    """

    def __init__(self, id_type, ids, doc_ptr, doc_terms, term_ptr, term_docs, df):
        self.id_type = id_type
        self.ids = ids
        self.doc_ptr = doc_ptr
        self.doc_terms = doc_terms
        self.term_ptr = term_ptr
        self.term_docs = term_docs
        self.df = df

    def row(self, query_doc_id) -> int:
        """The row of ``query_doc_id`` (checked by :func:`_checked_ids`),
        or ``-1`` if no document has it."""
        q = query_doc_id
        if not _in_range(self.id_type, q):
            return -1
        i = bisect.bisect_left(self.ids, q)  # ids: a sorted list or array
        return i if i < len(self.ids) and self.ids[i] == q else -1

    def _gather(self, row: int):
        """``(df, postings)`` of the query document at ``row``: the df of
        each of its terms, and every posting of those terms, concatenated
        (the j-th posting of term t is ``term_docs[term_ptr[t] + j]``)."""
        import numpy as np

        terms = self.doc_terms[self.doc_ptr[row] : self.doc_ptr[row + 1]]
        lengths = self.df[terms]
        ends = np.cumsum(lengths)
        shift = np.repeat(self.term_ptr[terms] - (ends - lengths), lengths)
        return lengths, self.term_docs[shift + np.arange(len(shift))]

    def overlaps(self, row: int):
        """``(cand, inter)``: every row other than ``row`` that shares a
        term with the query document at ``row``, ascending, and its
        ``|D∩Q|``."""
        import numpy as np

        _, postings = self._gather(row)
        inter = np.bincount(postings, minlength=len(self.doc_ptr) - 1)
        inter[row] = 0
        cand = np.flatnonzero(inter)
        return cand, inter[cand]

    def scores(self, row: int, mode: str, n: int | None):
        """Every document that scores against the query document at
        ``row``, as ``(rows, scores)`` in ascending row (``doc_id``)
        order, with the Spark plan's IEEE doubles: parity's documents
        with ``s > 0``, jaccard's with ``|D∩Q| > 0``, never the query's
        own row."""
        import numpy as np

        q_len = self.doc_ptr[row + 1] - self.doc_ptr[row]
        if mode == "jaccard":
            cand, inter = self.overlaps(row)
            sizes = np.diff(self.doc_ptr)
            return cand, inter / (sizes[cand] + q_len - inter)
        n_rows = len(self.doc_ptr) - 1
        lengths, postings = self._gather(row)
        inter = np.bincount(postings, minlength=n_rows)  # len1 = |D∩Q|
        # s: the shared terms that survive the df ∉ {1, n} prune
        kept = (lengths != 1) & (lengths != (n_rows if n is None else n))
        s = np.bincount(postings[np.repeat(kept, lengths)], minlength=n_rows)
        s[row] = 0  # U2: the query's own row
        cand = np.flatnonzero(s)
        s, len1 = s[cand], inter[cand]
        return cand, np.where(s == len1 + q_len, 1.0, s / (len1 + q_len - s))

    def top_k(self, row: int, k: int, mode: str, n: int | None):
        """The top ``k`` ``(doc_ids, scores)`` of :meth:`scores`, by score
        descending, then ``doc_id`` ascending: the Spark plan's order."""
        import numpy as np

        cand, score = self.scores(row, mode, n)
        if k < len(cand):
            # keep the rows scoring at least the k-th best, ties included
            top = score >= np.partition(score, len(score) - k)[len(score) - k]
            cand, score = cand[top], score[top]
        order = np.lexsort((cand, -score))[:k]  # score desc, then doc_id asc
        return self.doc_ids(cand[order]), score[order].tolist()

    def doc_ids(self, rows) -> list:
        """The doc ids of ``rows``, as plain Python values."""
        if self.id_type == "string":
            return [self.ids[r] for r in rows]
        return self.ids[rows].tolist()


def _available_memory() -> int:
    """Bytes of memory available to this process's host: Linux's
    ``MemAvailable`` (free memory plus reclaimable cache), else the
    free physical pages."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return os.sysconf("SC_AVPHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def _input_bytes(frame: DataFrame) -> int:
    """The size of ``frame``, a corpus's ``(doc_id, text)`` plan, before
    it is collected: Spark's estimate from its statistics (for a file
    source, its files' bytes). A plan Spark cannot size (an RDD or a
    Python list) reports ``spark.sql.defaultSizeInBytes``; for that one,
    one aggregate job counts the texts' bytes."""
    spark = frame.sparkSession
    size = int(frame._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if size < spark._jsparkSession.sessionState().conf().defaultSizeInBytes():
        return size
    return frame.agg(F.sum(F.octet_length("text"))).first()[0] or 0


def _fits_driver(spark, input_bytes: int) -> bool:
    """Whether the driver can build the index of a corpus of
    ``input_bytes`` (:func:`_input_bytes`). The build collects
    ``(doc_id, text)`` through Arrow, uncompressed, which
    ``spark.driver.maxResultSize`` bounds (0: no bound); compressed files
    hold fewer bytes than that, so the check takes four times the input.
    At its peak the kernel (:func:`trigram_sets`) holds the texts, a byte
    class per byte, the token and trigram arrays and their sorts: numpy
    and Arrow's pool peaked at 48 times the input for a 4.3 MB parquet
    file of 20k short documents (snappy-compressed, 7.3 MB of text) and
    at 16 times for 100 plain-text books (22 MB of files, which Spark's
    wholetext plan sizes at 38 MB), so the budget takes 64 times."""
    limit = spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
        "spark.driver.maxResultSize", "1g"
    )
    if 0 < limit < 4 * input_bytes:
        return False
    return 64 * input_bytes <= _available_memory()


def _build_index(documents: DataFrame) -> _CorpusIndex | None:
    """Collect ``(doc_id, text)`` once and build the CSR index of its
    trigram sets on the driver (:func:`trigram_sets`, the exact twin of
    the Spark sets), or ``None`` if the index could not answer exactly: a
    build too large for the driver (:func:`_fits_driver`), or NULL or
    duplicate doc ids (the Spark plan scores each row). One Spark job,
    the scan; nothing is persisted."""
    frame = documents.select("doc_id", "text")
    if not _fits_driver(frame.sparkSession, _input_bytes(frame)):
        return None
    id_type = frame.schema["doc_id"].dataType.simpleString()

    import numpy as np
    import pyarrow.compute as pc

    table = frame.toArrow()
    ids = table.column("doc_id")
    if ids.null_count:
        return None
    order = pc.sort_indices(ids)
    ids = ids.take(order)
    if len(ids) > 1 and pc.any(pc.equal(ids[1:], ids[:-1])).as_py():
        return None
    sets = trigram_sets(table.column("text").take(order))
    del table, order
    doc_terms = sets.terms.astype(np.int32)
    ptr_type = np.int32 if len(doc_terms) < 2**31 else np.int64
    doc_ptr = sets.ptr.astype(ptr_type)
    df = np.bincount(doc_terms, minlength=len(sets.keys)).astype(np.int32)
    term_ptr = np.zeros(len(df) + 1, ptr_type)
    np.cumsum(df, out=term_ptr[1:])
    rows = np.repeat(np.arange(len(ids), dtype=np.int32), np.diff(sets.ptr))
    term_docs = rows[np.argsort(doc_terms, kind="stable")]
    ids = ids.to_pylist() if id_type == "string" else ids.to_numpy()
    return _CorpusIndex(id_type, ids, doc_ptr, doc_terms, term_ptr, term_docs, df)


def _corpus_index(documents: DataFrame) -> _CorpusIndex | None:
    """The resident index of ``documents``, built once, by the first
    request; ``None`` if the corpus cannot be indexed (stored as
    ``False``, so that is decided once too)."""
    index = resident(documents, "index", lambda: _build_index(documents) or False)
    return index or None


def _answer_frame(spark, id_type: str, query_doc_id, ids, scores) -> DataFrame:
    """An answer as ``(doc_id, query_id, score)``: a local relation of
    literal rows (:func:`_local_relation`), so ``collect()`` reads it on
    the driver, with no Spark job and no generated code, and building it
    takes the same few Py4J commands for any ``k``."""
    return _local_relation(
        spark,
        f"CAST(doc_id AS {id_type}) AS doc_id,"
        f" {_sql_literal(str(query_doc_id))} AS query_id,"
        " CAST(score AS DOUBLE) AS score",
        ("doc_id", "score"),
        zip(ids, scores),
    )


def top_k_similar(
    documents: DataFrame,
    query_doc_id=0,
    k: int = 10,
    mode: str = "parity",
    total_documents: int | None = None,
) -> DataFrame:
    """Ranked top-k variant — the obvious extension the reference lacks
    (its output is ordered by packed string key, quirk Q7): the ``k``
    best-scoring documents of :func:`similarity_to_query`, by score
    descending, then ``doc_id`` ascending.

    Serving: the answer is computed at call time from the corpus's
    resident index (:class:`_CorpusIndex`, built by the first call under
    a lock; see the module docstring) and returned as a local relation
    of literal rows (:func:`_answer_frame`). Memory: about 4 bytes per
    posting each way plus 8 per distinct term, in the Python driver
    (22 MB for 20k documents with 1.57M postings).

    The Spark plan, ``TakeOrderedAndProject`` over the scored frame,
    runs only for a corpus the index cannot hold exactly: a build that
    would not fit the driver (an estimate against
    ``spark.driver.maxResultSize`` and the driver's available memory),
    or duplicate or NULL doc ids. Invalid requests raise before either
    runs: ``k`` must be an ``int`` or numpy integer, not ``bool``
    (``TypeError``), and not negative (``ValueError``); so must
    ``total_documents``, unless ``None``, and below ``2**63`` as well
    (:func:`_count`); the query id must be of the corpus's id type
    (:func:`_checked_ids`). An id that names no document answers no rows.
    """
    k = _count("k", k)
    if mode not in ("parity", "jaccard"):
        raise ValueError(f"mode must be 'parity' or 'jaccard', got {mode!r}")
    if total_documents is not None:
        total_documents = _count("total_documents", total_documents, 2**63)
    (query_doc_id,) = _checked_ids(documents, [query_doc_id])
    index = _corpus_index(documents)
    if index is None:
        return _scores_plan(
            documents, query_doc_id, mode, total_documents
        ).orderBy(F.desc("score"), F.asc("doc_id")).limit(min(k, 2**31 - 1))
    row = index.row(query_doc_id)
    ids, scores = ([], []) if row < 0 or k == 0 else index.top_k(
        row, k, mode, total_documents
    )
    return _answer_frame(
        documents.sparkSession, index.id_type, query_doc_id, ids, scores
    )
