"""Table sources.

The canonical corpus source is the ``documents`` Parquet table (columnar,
splittable, predicate-pushdown-able) — this replaces the reference's
manifest + per-map whole-file HDFS side-reads
(``BookQuery.java:44-61,216-226``), which defeated data locality and did
O(n^2) string concatenation per document.

``load_corpus_dir`` covers the reference's raw input contract (a directory
of plain-text files, one file = one document, doc id = basename up to the
first ``.`` — ``BookQuery.java:48-49``) without any driver-side manifest:
``spark.read.text`` + ``input_file_name()`` keeps the scan distributed and
lets Spark place splits.

State derived from a table — a corpus's shingle sets and top-k index, an
embeddings table's ANN layouts, a span or fan-out probe — lives in one
store, :func:`resident`, keyed on the frame ``load_table`` returns, so
``load_table``'s fingerprint rule invalidates all of it at once.
"""

from __future__ import annotations

import os
import threading
import weakref

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Per-session catalog cache: (sf_dir, name) -> analyzed DataFrame. Loading a
# table costs a file listing + parquet footer read + schema inference
# (~0.2 s per call locally); a real engine resolves a catalog table once per
# session, not once per query. DataFrames are immutable, so sharing the
# object is safe; keying weakly on the session lets stopped sessions (each
# test creates its own) release their plans.
_table_cache: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def table_fingerprint(sf_dir: str, name: str) -> tuple:
    """``(mtime_ns, size)`` of a fixture table's backing parquet.

    Read only by :func:`load_table`, whose catalog key it ends: rewriting
    a fixture in place yields a fresh frame, and with it a fresh entry in
    the :func:`resident` store, so nothing derived from the old file is
    served against the new one.
    """
    st = os.stat(f"{sf_dir}/{name}.parquet")
    return (st.st_mtime_ns, st.st_size)


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table from its parquet FOOTER —
    driver-side metadata, no job, no scan (the same class of probe as
    :func:`table_fingerprint` and temporal's footer-span reads).

    Used for scale-adaptive physical decisions (r12): e.g. q5 hints its
    supplier⋈nation⋈region dim broadcast only when the supplier base
    table is provably small, because Catalyst's stat-less join-size
    estimate for a composite of tiny tables multiplies input sizes and
    comes out LARGER than the fact table — flipping the build side onto
    the 600k-row lineitem. At real scale the probe reads the same
    footers and reports a large count, the hint is withheld, and the
    planner's own choice (sort-merge / shuffled-hash) stands."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(f"{sf_dir}/{name}.parquet").metadata.num_rows


def events_ts_type(sf_dir: str) -> str:
    """Physical parquet type of the events fixture's ``ts`` column, as a
    pyarrow type string. Driver fixtures have shipped both
    TIMESTAMP(NANOS) (``timestamp[ns]``) and TIMESTAMP(MICROS)
    (``timestamp[us]``); readers branch on this so either vintage works.
    """
    import pyarrow.parquet as pq

    return str(pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``.

    ``events`` needs ``ts`` normalization to a session-timezone (UTC)
    timestamp: a TIMESTAMP(NANOS) fixture is rejected outright by Spark's
    vectorized reader, so it is read as raw nanos via the (dynamic)
    ``nanosAsLong`` conf and rebuilt to microseconds (lossless — fixture
    nanos are microsecond-aligned); a TIMESTAMP(MICROS) fixture arrives as
    TIMESTAMP_NTZ and is cast. DuckDB's TIMESTAMP is naive microseconds,
    so both normalizations are oracle-compatible.

    The frame is the one invalidation rule of every state derived from
    the table: the :func:`resident` store keys on it, and an in-place
    rewrite of the file (a new :func:`table_fingerprint`) yields a fresh
    frame, whose entries start empty, and releases the superseded
    frame's entries at once.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    cache = _table_cache.setdefault(spark, {})
    # fingerprint in the key (an os.stat, ~µs): an in-place fixture rewrite
    # yields a FRESH DataFrame object, so the resident store starts clean
    # for it
    key = (sf_dir, name, table_fingerprint(sf_dir, name))
    if key in cache:
        return cache[key]
    stale = [k for k in cache if k[:2] == key[:2]]
    for k in stale:
        # a superseded vintage: release its resident values now, not when
        # a caller drops the frame. Spark's cache matches plans, so the new
        # vintage's persisted frames share cache entries with the old
        # one's, which the old frame's finalizer would drop later.
        entry = _resident_store.pop(cache.pop(k), None)
        if entry is not None:
            _release(entry.values)
    if stale:
        # Spark's cache matches plans, not objects: the new frame's plan
        # equals the old vintage's, so a persisted frame derived from the
        # old vintage (similarity's resident shingle sets) would answer
        # for the new one with the old file's rows. Refresh every cache
        # entry that reads this path.
        spark.catalog.refreshByPath(f"{sf_dir}/{name}.parquet")
    if name == "events":
        if events_ts_type(sf_dir).startswith("timestamp[us"):
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet").withColumn(
                "ts", F.col("ts").cast("timestamp")
            )
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet").withColumn(
                "ts", F.expr("timestamp_micros(ts div 1000)")
            )
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    cache[key] = df
    return df


class _Entry:
    """One frame's resident values by key, and a build lock per key."""

    __slots__ = ("values", "locks")

    def __init__(self) -> None:
        self.values: dict = {}
        self.locks: dict = {}


# The resident store: frame -> its _Entry, weakly keyed on the frame
# object (DataFrame does not override __eq__/__hash__, so this is
# identity). A value must not reference its frame, or the frame never
# dies: a frame derived from it holds its JVM plan, not the Python object.
_resident_store: "weakref.WeakKeyDictionary[DataFrame, _Entry]" = (
    weakref.WeakKeyDictionary()
)
_resident_lock = threading.Lock()


def resident(df: DataFrame, key, build):
    """The value ``build()`` made for ``(df, key)``, built by the first
    call and then the same object on every later one.

    Each value is built once, under a lock per ``(df, key)``, so racing
    first calls wait for one build. A build may read other keys of the
    same frame (the top-k index reads the shingle sets, the IVF-PQ layout
    reads the trained book); the keys must form no cycle. A build that
    raises stores nothing, and the next call builds again. When ``df`` is
    garbage-collected, one finalizer unpersists every DataFrame among its
    values, also inside tuples.
    """
    with _resident_lock:
        entry = _resident_store.get(df)
        if entry is None:
            entry = _resident_store[df] = _Entry()
            # not at interpreter exit: the JVM may already be gone by then
            weakref.finalize(df, _release, entry.values).atexit = False
        if key in entry.values:
            return entry.values[key]
        lock = entry.locks.setdefault(key, threading.Lock())
    with lock:
        if key not in entry.values:
            entry.values[key] = build()
    return entry.values[key]


def _release(values: dict) -> None:
    """Finalizer of a frame: unpersist the DataFrames among its resident
    values and forget them, so a later call releases nothing twice. It
    runs whenever the collector gets to the frame, possibly after its
    session was stopped, so a failing call into the JVM (a Py4J error, or
    a JVM exception PySpark converted) is ignored: there is no cache left
    to release."""
    for value in values.values():
        for item in value if isinstance(value, tuple) else (value,):
            if isinstance(item, DataFrame):
                try:
                    item.unpersist()
                except (Py4JError, PySparkException):
                    pass
    values.clear()


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition a *narrow* scan up to the cluster's parallelism before
    expression-heavy map work (shingling, hashing, decoding).

    A small parquet file is one row group ⇒ one input split ⇒ one task, so
    a CPU-bound projection runs single-threaded no matter how many cores
    exist. At real scale the scan already yields >= parallelism splits and
    this is a **no-op** (no shuffle); the repartition only fires on
    under-split inputs, where the shuffled bytes are tiny by construction.

    The under-split decision reads the *logical plan's* size statistics
    (for file sources: the already-listed file sizes) against
    ``defaultParallelism × spark.sql.files.maxPartitionBytes`` — an input
    smaller than that cannot yield that many splits. This is driver-side
    metadata only: no ``df.rdd`` conversion, no physical planning, no job,
    and it is made once per frame (:func:`resident`).

    The byte heuristic assumes a byte-range-splittable source (parquet,
    ORC, plain CSV/JSON/text). Non-splittable scans — ``wholetext``
    corpora, gzipped files — yield one partition per FILE regardless of
    size, so large few-file inputs look "big enough" here and stay
    under-parallel; such sources must size their own parallelism at read
    time (``load_corpus_dir`` does: it repartitions when the listing has
    fewer files than the cluster has cores).
    """
    target = resident(df, "fan_out", lambda: _fan_target(df))
    return df.repartition(target) if target else df


def _fan_target(df: DataFrame) -> int:
    """:func:`fan_out`'s repartition target for ``df``, 0 for none. The
    value is the decision, never a frame: a resident value holding its
    own frame would keep it alive forever."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # typed SQLConf getter: Spark validates the byte string at
    # conf.set time, so this is always a parsed, legal value
    max_pb = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    plan_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return 0 if plan_bytes >= target * max_pb else target


def load_corpus_dir(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory of plain-text files as a ``(doc_id, text)`` corpus.

    Reference parity (``BookQuery.java:48-61``): one file = one document,
    doc id = last path segment up to the first ``.``, lines joined with a
    single space so shingles span line breaks.

    Unlike the reference's manifest trick (splits assigned by manifest-line
    offsets, then arbitrary remote whole-file reads), this is one
    distributed ``wholetext`` scan — no shuffle, no driver manifest, and
    line order is trivially preserved (the whole file is one value). At
    100 TB the parquet ``documents`` table is the right source; this exists
    for the raw-directory contract.
    """
    # NB: must be the keyword arg — `.option("wholetext", ...)` is clobbered
    # by the python `.text()` wrapper's own wholetext=False default.
    base = spark.read.text(path, wholetext=True)
    # input_file_name() is a URI: ' ' and '%' arrive percent-encoded, '+'
    # and non-ASCII raw; decode so ids match the file names, with '+'
    # escaped first so the form decoder cannot turn it into a space
    name = F.regexp_extract(F.input_file_name(), r"([^/]+?)(?:\.[^/]*)?$", 1)
    out = (
        base
        .select(
            F.url_decode(F.regexp_replace(name, r"\+", "%2B")).alias("doc_id"),
            # lines joined with a single space (BookQuery.java:56-61)
            F.regexp_replace(F.regexp_replace("value", r"\r?\n", " "), r" $", "").alias(
                "text"
            ),
        )
    )
    # wholetext is NOT byte-range splittable: one partition per file, so
    # fan_out's byte-size heuristic cannot see under-parallelism here. A
    # directory with fewer files than cores repartitions at the source
    # (inputFiles() is a driver-side listing, no job) — AFTER the doc_id
    # projection, because input_file_name() is only defined in the scan
    # stage and returns '' past an exchange. At real corpus scale
    # (files >> cores) this branch never fires.
    parallelism = spark.sparkContext.defaultParallelism
    if len(base.inputFiles()) < parallelism:
        out = out.repartition(parallelism)
    return out


def read_csv(
    spark: SparkSession,
    path: str,
    schema,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan with a REQUIRED explicit schema.

    Schema inference on CSV/JSON costs a full extra pass over the data —
    at 100 TB that is a second 100 TB scan before the first real job, so
    this engine never infers: callers pass the StructType (or DDL string)
    they expect, malformed rows surface per-record (PERMISSIVE default)
    instead of poisoning inference, and the scan splits/pushes down like
    any other file source.
    """
    return (
        spark.read.options(header=str(header).lower(), **options)
        .schema(schema)
        .csv(path)
    )


def read_json(
    spark: SparkSession, path: str, schema, **options: str
) -> DataFrame:
    """JSON-lines scan with a REQUIRED explicit schema (see
    :func:`read_csv` for why inference is banned). Nested fields project
    through ``col("a.b")`` as usual; fields absent from the schema are
    pruned at parse time, not materialized."""
    return spark.read.options(**options).schema(schema).json(path)


def read_orc(spark: SparkSession, path: str, **options: str) -> DataFrame:
    """ORC scan — the other columnar format Spark ships a vectorized,
    predicate-pushdown-capable reader for (common as the at-rest format
    of Hive-era warehouses a 100 TB corpus often starts in). Schema comes
    from the file footer like parquet, so no inference pass is needed."""
    return spark.read.options(**options).orc(path)
