"""Mergeable-sketch aggregation: the 100-TB path for distinct counts,
quantiles, and frequencies.

Exact ``COUNT(DISTINCT)`` over several columns plans via Expand (input
replicated once per distinct agg) and must re-scan history to extend a
result; exact quantiles need a sort. The sketch versions (Apache
DataSketches, built into Spark: ``hll_sketch_agg`` / ``theta_sketch_agg``
/ ``kll_sketch_agg_*``; count-min materialized relationally — see the
CM section below) are **map-only mergeable
state**: each task folds its slice into an O(2^lgk)-byte summary, merges
are associative and lossless, and a stored per-epoch sketch table makes
"distinct users this quarter" a merge over O(epochs) kilobyte rows — the
corpus is never rescanned. That is the same build-once / probe-per-epoch
lifecycle as the dedup index and the stored term profile
(operators/dedup.py, operators/textstats.py), applied to aggregation.

Determinism contract: a DataSketches sketch is a deterministic function
of the input MULTISET (hash-based, no RNG, order-independent), so
estimates are replay-stable — but they are engine-specific, so the
oracle-checked registry entries emit the EXACT value plus
within-tolerance booleans (TRUE literals on the DuckDB side), pinning
that the sketch path works without asking DuckDB to reproduce
DataSketches internals. Merging per-group sketches is NOT bit-identical
to one direct global sketch (union may coarsen lgK), so the lifecycle
pin is tolerance-vs-exact, not estimate-vs-estimate.

The reference has no aggregation tier at all (one similarity job,
``BookQuery.java``); this module is part of the extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "distinct_count_report",
    "quantile_report",
    "epoch_sketches",
    "merged_distinct_estimate",
    "save_epoch_sketches",
    "distinct_from_stored_sketches",
    "cm_sketch",
    "cm_estimate",
    "epoch_cm_sketches",
    "merge_cm_sketches",
    "save_epoch_cm_sketches",
    "append_epoch_cm_partition",
    "cm_surge_probe",
    "frequency_report",
    "epoch_theta_sketches",
    "save_epoch_theta_sketches",
    "theta_epoch_ops",
    "distinct_set_report",
    "epoch_quantile_sketches",
    "save_epoch_quantile_sketches",
    "quantile_from_stored_sketches",
    "bloom_build",
    "bloom_probe",
    "epoch_blooms",
    "save_epoch_blooms",
    "merge_blooms",
]

_LGK = 12  # default HLL/theta precision: ~1.6% RSE, 4-32 KB per sketch
_CM_WIDTH = 1024  # default count-min width: eps = e/w ~ 0.27% of stream size
_CM_DEPTH = 4  # default count-min depth: overestimate-bound failure ~e^-4


def distinct_count_report(
    df: DataFrame,
    keys: list[str],
    col: str,
    rel_tol: float = 0.05,
    lgk: int = _LGK,
) -> DataFrame:
    """Per-key distinct-count report: exact count, HLL and theta
    estimates, and within-``rel_tol`` flags for both.

    One aggregate: the exact ``countDistinct`` (the oracle baseline) and
    both sketches fold in the same ``agg`` pass. At 100 TB drop the
    exact column and keep the sketches — that removes the Expand plan
    and leaves pure map-side mergeable state.
    """
    k = [F.col(c) for c in keys]
    rep = df.groupBy(*k).agg(
        F.countDistinct(col).alias("n_exact"),
        F.hll_sketch_estimate(F.hll_sketch_agg(col, F.lit(lgk))).alias("hll_est"),
        F.theta_sketch_estimate(F.theta_sketch_agg(col, F.lit(lgk))).alias(
            "theta_est"
        ),
    )
    tol = F.lit(float(rel_tol))

    def _ok(est: Column) -> Column:
        return (
            F.abs(est.cast("double") - F.col("n_exact").cast("double"))
            <= tol * F.col("n_exact").cast("double")
        )

    return rep.select(
        *keys,
        "n_exact",
        "hll_est",
        "theta_est",
        _ok(F.col("hll_est")).alias("hll_ok"),
        _ok(F.col("theta_est")).alias("theta_ok"),
    )


def quantile_report(
    df: DataFrame,
    keys: list[str],
    col: str,
    q: float = 0.5,
    rank_tol: float = 0.05,
) -> DataFrame:
    """Per-key KLL quantile estimate, verified against KLL's ACTUAL
    guarantee: rank error, not value error.

    Unlike HLL/theta, a KLL sketch is NOT partitioning-deterministic
    (compaction depends on insertion order), and its error bound is on
    the RANK of the returned value (±ε·n, ε≈1.65% at the default k),
    which translates to arbitrarily large VALUE error on skewed data.
    So the report pins (a) ``kll_n`` — the sketch counted every row,
    an exact integer — and (b) ``rank_ok`` — the exact rank of the
    estimate lies within ``q ± rank_tol``, computed by joining the
    per-key estimate back and counting ``col <= est`` exactly. Two
    aggregates + one broadcast-sized join on the key (the estimate
    table is one row per key); distribution-free, replay-stable.
    """
    k = [F.col(c) for c in keys]
    est = (
        df.groupBy(*k)
        .agg(F.kll_sketch_agg_double(F.col(col).cast("double")).alias("_sk"))
        .select(
            *keys,
            F.kll_sketch_get_quantile_double("_sk", F.lit(float(q))).alias("est"),
            F.kll_sketch_get_n_double("_sk").alias("kll_n"),
        )
    )
    ranked = (
        df.join(F.broadcast(est), keys)
        .groupBy(*k)
        .agg(
            F.count(col).alias("n_rows"),
            F.first("est").alias("est"),
            F.first("kll_n").alias("kll_n"),
            F.sum(
                F.when(F.col(col).cast("double") <= F.col("est"), 1).otherwise(0)
            ).alias("_rank"),
        )
    )
    lo, hi = float(q - rank_tol), float(q + rank_tol)
    return ranked.select(
        *keys,
        "n_rows",
        "est",
        (F.col("kll_n") == F.col("n_rows")).alias("kll_n_ok"),
        (
            (F.col("_rank") >= F.lit(lo) * F.col("n_rows"))
            & (F.col("_rank") <= F.ceil(F.lit(hi) * F.col("n_rows")))
        ).alias("rank_ok"),
    )


def epoch_sketches(
    df: DataFrame, epoch: Column | str, col: str, lgk: int = _LGK
) -> DataFrame:
    """One HLL sketch per epoch — the storable partial. Map-only fold to
    O(2^lgk) bytes per epoch; the exchange moves sketches, not rows."""
    e = F.col(epoch) if isinstance(epoch, str) else epoch
    return df.groupBy(e.alias("epoch")).agg(
        F.hll_sketch_agg(col, F.lit(lgk)).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def merged_distinct_estimate(sketches: DataFrame) -> DataFrame:
    """Union the stored partials to one global estimate: O(epochs)
    kilobyte rows in, one row out — no corpus rescan, ever."""
    return sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"),
        F.sum("n_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_epochs"),
    )


def _is_path_not_found(e) -> bool:
    """True only for the "nothing stored yet" AnalysisException. Shared
    by every stored-sketch reader (ADVICE r10/r11): a transient IO
    error, permission failure, or corrupt footer must re-raise — treated
    as "no data" it would silently re-enable double-counting in the
    append guard or permanently disable surge flagging in the probe."""
    cls = ""
    get_cls = getattr(e, "getCondition", None) or getattr(
        e, "getErrorClass", None
    )
    if callable(get_cls):
        try:
            cls = get_cls() or ""
        except Exception:  # noqa: BLE001
            cls = ""
    return "PATH_NOT_FOUND" in cls or "PATH_NOT_FOUND" in str(e)


def _guard_epoch_append(new_epochs: DataFrame, path: str,
                        on_conflict: str) -> DataFrame | None:
    """Shared append-idempotency guard (ADVICE r9): a retried ingest
    re-appending an epoch already in the stored table would silently
    double-count its rows and skew every merged estimate. Reads the
    stored table's epoch keys (O(epochs) kilobyte rows) and either
    raises (``on_conflict='error'``, the default — the retry is a bug
    to surface) or drops the overlapping epochs from the new batch
    (``on_conflict='skip'`` — at-least-once ingest becomes idempotent).
    Returns the filtered new-epoch frame, or None when nothing is left
    to write."""
    spark = new_epochs.sparkSession
    from pyspark.errors import AnalysisException

    try:
        stored = spark.read.parquet(path).select("epoch")
    except AnalysisException as e:
        # Only "nothing stored yet" may disarm the guard (ADVICE r10) —
        # see _is_path_not_found.
        if not _is_path_not_found(e):
            raise
        return new_epochs
    # O(epochs) driver-held keys — the stored table is kilobyte rows,
    # one per epoch, by construction
    stored_keys = {r.epoch for r in stored.distinct().collect()}
    new_keys = {
        r.epoch for r in new_epochs.select("epoch").distinct().collect()
    }
    overlap = stored_keys & new_keys
    if not overlap:
        return new_epochs
    if on_conflict == "skip":
        keep = new_keys - overlap
        if not keep:
            return None
        return new_epochs.filter(F.col("epoch").isin(list(keep)))
    raise ValueError(
        f"epochs already stored at {path}: {sorted(overlap)[:10]} — "
        "appending would double-count; pass on_conflict='skip' to make "
        "the retry idempotent"
    )


def save_epoch_sketches(
    df: DataFrame,
    path: str,
    epoch: Column | str,
    col: str,
    lgk: int = _LGK,
    mode: str = "overwrite",
    on_conflict: str = "error",
) -> None:
    """Persist the per-epoch partials (binary sketch column, parquet).

    The stored table is the whole lifecycle: a new epoch appends one
    row (``mode='append'``), and any distinct question over any epoch
    range is a scan of that many kilobyte rows. Appends are GUARDED
    (ADVICE r9): an epoch already present in the stored table raises by
    default (``on_conflict='skip'`` drops it instead), so a retried
    ingest cannot silently double-count ``n_rows`` and skew merged
    estimates — the same idempotency convention as the ANN layout
    appends, now enforced rather than documented.
    """
    part = epoch_sketches(df, epoch, col, lgk)
    if mode == "append":
        part = _guard_epoch_append(part, path, on_conflict)
        if part is None:
            return
    part.write.mode(mode).parquet(path)


def distinct_from_stored_sketches(spark, path: str, epochs=None) -> DataFrame:
    """Answer "distinct over these epochs" from the stored partials
    alone. ``epochs`` optionally filters (pushed to the parquet scan);
    the corpus itself is never touched — plan-pinned in tests."""
    sk = spark.read.parquet(path)
    if epochs is not None:
        sk = sk.filter(F.col("epoch").isin(list(epochs)))
    return merged_distinct_estimate(sk)


# ---------------------------------------------------------------------------
# Count-min / heavy hitters — the frequency member of the mergeable family
# (HLL/theta = distinct, KLL = quantiles, CM = per-item counts). Rather than
# Spark's opaque binary ``count_min_sketch`` aggregate (no SQL-level merge or
# point-query function), the sketch is materialized as its defining d×w
# counter MATRIX in relational form: ``(depth, bucket, cnt)``. That keeps
# every CM property first-class in the engine's own algebra:
#   - update   = explode d (depth, xxhash64(item, depth) mod w) cells per
#                item, one map-side-combined groupBy — O(d·w) rows out,
#                thousands, regardless of corpus size;
#   - merge    = groupBy (depth, bucket) SUM — EXACT (counts add), so
#                merged-from-epochs is bit-identical to a direct sketch,
#                a hard pin (unlike HLL union, which may coarsen);
#   - estimate = broadcast-join candidates to their d cells, MIN over
#                depth — the classic CM point query;
#   - storage  = a parquet table per epoch, same lifecycle as the HLL
#                partials (guarded append, probe without corpus rescan).
# Guarantees (pinned in the registry entry): est >= true ALWAYS (every
# occurrence lands in all d counted cells — deterministic, not
# probabilistic), and est <= true + (e/width)·N with prob ~1-e^-depth
# (empirical on a given dataset; the dials below re-pin it deliberately).
# ---------------------------------------------------------------------------


def _cm_cells(item: Column, width: int, depth: int) -> Column:
    """The d (depth, bucket) cells an item updates/probes: bucket_j =
    xxhash64(item, j) mod width — the literal depth index salts the one
    codegen'd hash into d independent-enough hash functions."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("depth"),
                F.pmod(F.xxhash64(item, F.lit(j)), F.lit(width)).alias(
                    "bucket"
                ),
            )
            for j in range(depth)
        ]
    )


def cm_sketch(
    items: DataFrame,
    col: str,
    width: int = _CM_WIDTH,
    depth: int = _CM_DEPTH,
    weight: str | None = None,
) -> DataFrame:
    """Count-min sketch of an item stream as a ``(depth, bucket, cnt)``
    table — at most ``depth·width`` rows whatever the corpus size.

    One explode (d small structs per item) + one map-side-combined
    groupBy over a key space of ``d·w`` — the exchange moves counters,
    not items. NULL items are skipped (they are not stream members).
    ``weight`` optionally sums an integer column instead of counting
    rows (pre-aggregated inputs)."""
    x = items.filter(F.col(col).isNotNull()).select(
        F.explode(_cm_cells(F.col(col), width, depth)).alias("c"),
        *( [F.col(weight).alias("_w")] if weight else [] ),
    )
    agg = F.sum("_w") if weight else F.count(F.lit(1))
    return x.groupBy(
        F.col("c.depth").alias("depth"), F.col("c.bucket").alias("bucket")
    ).agg(agg.cast("long").alias("cnt"))


def cm_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    col: str = "term",
    width: int = _CM_WIDTH,
    depth: int = _CM_DEPTH,
) -> DataFrame:
    """CM point query for each candidate item: MIN over its d cells.

    The sketch is ≤ ``d·w`` rows, so it is broadcast; candidates flow
    through map-side — no shuffle on the (possibly huge) candidate set
    beyond the final per-item min aggregate. A cell absent from the
    sketch table means no item ever hashed there (cnt 0) — impossible
    for an item actually in the stream, so the coalesce only fires for
    out-of-stream probes, correctly yielding estimate 0."""
    probes = candidates.select(
        F.col(col), F.explode(_cm_cells(F.col(col), width, depth)).alias("c")
    ).select(col, "c.depth", "c.bucket")
    return (
        probes.join(F.broadcast(sketch), ["depth", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_est"))
    )


def epoch_cm_sketches(
    df: DataFrame,
    epoch: Column | str,
    col: str,
    width: int = _CM_WIDTH,
    depth: int = _CM_DEPTH,
) -> DataFrame:
    """One CM sketch per epoch — the storable frequency partial:
    ``(epoch, depth, bucket, cnt)``, ≤ d·w rows per epoch."""
    e = F.col(epoch) if isinstance(epoch, str) else epoch
    x = df.filter(F.col(col).isNotNull()).select(
        e.alias("epoch"),
        F.explode(_cm_cells(F.col(col), width, depth)).alias("c"),
    )
    return x.groupBy(
        "epoch", F.col("c.depth").alias("depth"),
        F.col("c.bucket").alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def merge_cm_sketches(partials: DataFrame) -> DataFrame:
    """Merge per-epoch CM partials into one sketch: counts ADD, so this
    groupBy-sum is EXACT — the merged sketch is bit-identical to one
    built directly over the union of the epochs (hard-pinned in the
    registry entry), unlike HLL union which may coarsen precision."""
    return partials.groupBy("depth", "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def save_epoch_cm_sketches(
    df: DataFrame,
    path: str,
    epoch: Column | str,
    col: str,
    width: int = _CM_WIDTH,
    depth: int = _CM_DEPTH,
    mode: str = "overwrite",
    on_conflict: str = "error",
) -> None:
    """Persist per-epoch CM partials with the same guarded-append
    idempotency contract as :func:`save_epoch_sketches`: re-appending a
    stored epoch raises (or is skipped with ``on_conflict='skip'``) —
    double-counting is SILENT in a CM sketch (estimates just inflate),
    so the guard matters even more here than for HLL."""
    part = epoch_cm_sketches(df, epoch, col, width, depth)
    if mode == "append":
        part = _guard_epoch_append(part, path, on_conflict)
        if part is None:
            return
    part.write.mode(mode).parquet(path)


def frequency_report(
    items: DataFrame,
    col: str,
    top_k: int = 20,
    width: int = _CM_WIDTH,
    depth: int = _CM_DEPTH,
) -> DataFrame:
    """Heavy-hitter report: the exact top-``top_k`` items (count desc,
    item asc — a TakeOrderedAndProject, never a full sort) with their CM
    estimates and the sketch's two contracts evaluated per item:

    - ``cm_ge_exact``: estimate >= exact — CM's HARD guarantee (every
      occurrence increments all d probed cells), deterministic;
    - ``cm_tol_ok``: estimate <= exact + ceil(e/width · N) — the classic
      CM error bound at the sketch's own eps; probabilistic in theory
      (prob ~1-e^-depth per item) but deterministic for a fixed dataset
      and dials, so replay-stable (the registry pins it empirically and
      ``width``/``depth`` are the re-pin dials, ADVICE r9).

    The exact side exists to GRADE the sketch (and is the oracle
    baseline); the 100-TB serving path is the stored per-epoch partials
    + :func:`cm_estimate` over candidate items — no global top-k at
    all, candidates come from a per-partition pre-filter or a known
    watchlist."""
    import math

    x = items.filter(F.col(col).isNotNull())
    exact_top = (
        x.groupBy(col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc(col))
        .limit(top_k)
    )
    total = x.agg(F.count(F.lit(1)).cast("long").alias("_n_total"))
    est = cm_estimate(cm_sketch(x, col, width, depth), exact_top, col,
                      width, depth)
    bound = F.ceil(F.lit(math.e / width) * F.col("_n_total"))
    return (
        exact_top.join(est, col)
        .join(F.broadcast(total))
        .select(
            col,
            "n_exact",
            "cm_est",
            (F.col("cm_est") >= F.col("n_exact")).alias("cm_ge_exact"),
            (F.col("cm_est") <= F.col("n_exact") + bound).alias("cm_tol_ok"),
        )
    )


def append_epoch_cm_partition(
    terms: DataFrame,
    path: str,
    epoch_id: int,
    col: str = "term",
    width: int = _CM_WIDTH,
    depth: int = _CM_DEPTH,
) -> None:
    """Land one epoch's CM partial as an epoch PARTITION with dynamic
    overwrite — the streaming loop's idempotency idiom (vs
    :func:`save_epoch_cm_sketches`'s guarded flat append, the batch
    idiom): a crash-replayed epoch overwrites exactly its own partition,
    never double-counts, never needs a driver-side key read. The stored
    layout stays probe-cheap: O(epochs · d·w) kilobyte rows, partition-
    pruned by epoch filters."""
    (
        epoch_cm_sketches(terms, F.lit(epoch_id), col, width, depth)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(path)
    )


def cm_surge_probe(
    spark,
    terms: DataFrame,
    path: str,
    epoch_id: int,
    col: str = "term",
    top_k: int = 20,
    surge_x: float = 4.0,
    width: int = _CM_WIDTH,
    depth: int = _CM_DEPTH,
) -> DataFrame:
    """Vocabulary-skew / spam-term-surge monitor for one ingest epoch
    (r10 verdict #3): the epoch's exact top-``top_k`` terms (the epoch
    is O(epoch)-small, so exact in-batch counts are one
    TakeOrderedAndProject) are probed against the MERGED count-min
    history stored at ``path`` — O(epochs · d·w) kilobyte rows, the
    corpus-sized token stream is never rescanned. A term is ``flagged``
    when its epoch frequency share exceeds ``surge_x`` times its
    historical share (CM overestimates history, so a flagged surge is
    understated, never manufactured — the conservative direction for an
    alert). Shares are exact integer ppm; the historical total is
    recovered exactly from the sketch itself (each occurrence increments
    exactly one bucket per depth row, so sum(cnt | depth=0) = N).

    Stored epochs >= ``epoch_id`` are EXCLUDED from the history: a
    crash-replayed epoch whose previous attempt already landed its CM
    partition must probe the pre-epoch state, or every term would be
    its own history (the incremental-dedup ``exclude_epoch`` rule).
    First epoch (no history): ``hist`` columns are null, nothing is
    flagged — no history is not evidence of a surge."""
    x = terms.filter(F.col(col).isNotNull())
    epoch_top = (
        x.groupBy(col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_epoch"))
        .orderBy(F.desc("n_epoch"), F.asc(col))
        .limit(top_k)
    )
    epoch_total = x.agg(F.count(F.lit(1)).cast("long").alias("_t_epoch"))
    base = epoch_top.join(F.broadcast(epoch_total)).select(
        col,
        "n_epoch",
        (F.col("n_epoch") * 1_000_000 / F.col("_t_epoch"))
        .cast("long")
        .alias("share_ppm"),
    )
    from pyspark.errors import AnalysisException

    try:
        stored = spark.read.parquet(path).filter(F.col("epoch") < epoch_id)
        has_history = bool(stored.head(1))
    except AnalysisException as e:
        # Only PATH_NOT_FOUND means "no history yet" (ADVICE r11): a
        # corrupt or unreadable store swallowed here would silently
        # disable surge flagging forever — the alert-suppressing twin of
        # the double-count _guard_epoch_append re-raises.
        if not _is_path_not_found(e):
            raise
        has_history = False
    if not has_history:
        return base.select(
            col, "n_epoch", "share_ppm",
            F.lit(None).cast("long").alias("hist_est"),
            F.lit(None).cast("long").alias("hist_share_ppm"),
            F.lit(False).alias("flagged"),
        )
    merged = merge_cm_sketches(stored)
    hist_total = merged.agg(
        F.sum(F.when(F.col("depth") == 0, F.col("cnt")))
        .cast("long")
        .alias("_t_hist")
    )
    est = cm_estimate(merged, base.select(col), col, width, depth)
    return (
        base.join(est, col)
        .join(F.broadcast(hist_total))
        .select(
            col,
            "n_epoch",
            "share_ppm",
            F.col("cm_est").alias("hist_est"),
            (F.col("cm_est") * 1_000_000 / F.col("_t_hist"))
            .cast("long")
            .alias("hist_share_ppm"),
            (
                F.col("share_ppm")
                > F.lit(surge_x)
                * F.greatest(
                    (F.col("cm_est") * 1_000_000 / F.col("_t_hist"))
                    .cast("long"),
                    F.lit(1),
                )
            ).alias("flagged"),
        )
    )


# ---------------------------------------------------------------------------
# Theta set algebra over stored epoch sketches (r10). HLL partials answer
# "distinct over these epochs" (union only); theta sketches additionally
# support INTERSECTION and DIFFERENCE — the retention/churn primitives:
# "users active in March AND April" (retention), "terms in snapshot A but
# not B" (vocabulary churn between crawl versions), each answered from
# O(epochs) kilobyte rows with the corpus never rescanned. Below ~2^lgk
# distinct values a theta sketch holds every hash, so the set ops are
# EXACT; past it they degrade gracefully to ~1.6% RSE at the default
# lgk=12 (set-op error scales with the UNION size, not the result size —
# a small difference estimated from two big sketches carries union-scale
# noise, which is why the report's tolerance flags are union-relative).
# ---------------------------------------------------------------------------


def epoch_theta_sketches(
    df: DataFrame, epoch: Column | str, col: str, lgk: int = _LGK
) -> DataFrame:
    """One theta sketch per epoch — the storable partial that supports
    union AND intersection/difference at merge time."""
    e = F.col(epoch) if isinstance(epoch, str) else epoch
    return df.groupBy(e.alias("epoch")).agg(
        F.theta_sketch_agg(col, F.lit(lgk)).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def save_epoch_theta_sketches(
    df: DataFrame,
    path: str,
    epoch: Column | str,
    col: str,
    lgk: int = _LGK,
    mode: str = "overwrite",
    on_conflict: str = "error",
) -> None:
    """Persist per-epoch theta partials with the guarded-append
    idempotency contract of :func:`save_epoch_sketches`."""
    part = epoch_theta_sketches(df, epoch, col, lgk)
    if mode == "append":
        part = _guard_epoch_append(part, path, on_conflict)
        if part is None:
            return
    part.write.mode(mode).parquet(path)


def theta_epoch_ops(sketches: DataFrame, epochs_a, epochs_b) -> DataFrame:
    """Set algebra between two epoch ranges of a stored theta table:
    one row ``(est_a, est_b, est_union, est_both, est_a_only)``.

    Each side is a ``theta_union_agg`` over its epochs' kilobyte rows
    (filters pushed to the sketch scan); the cross of the two 1-row
    sides is the documented driver-held-scalar pattern. ``est_both`` is
    the sketch intersection (retention), ``est_a_only`` the difference
    (churn) — set operations no HLL partial can answer."""
    a = sketches.filter(F.col("epoch").isin(list(epochs_a))).agg(
        F.theta_union_agg("sketch").alias("ska")
    )
    b = sketches.filter(F.col("epoch").isin(list(epochs_b))).agg(
        F.theta_union_agg("sketch").alias("skb")
    )
    return a.crossJoin(b).select(
        F.theta_sketch_estimate("ska").alias("est_a"),
        F.theta_sketch_estimate("skb").alias("est_b"),
        F.theta_sketch_estimate(F.theta_union("ska", "skb")).alias(
            "est_union"
        ),
        F.theta_sketch_estimate(F.theta_intersection("ska", "skb")).alias(
            "est_both"
        ),
        F.theta_sketch_estimate(F.theta_difference("ska", "skb")).alias(
            "est_a_only"
        ),
    )


def distinct_set_report(
    df: DataFrame,
    col: str,
    cond_a: Column,
    cond_b: Column,
    rel_tol: float = 0.05,
    lgk: int = _LGK,
) -> DataFrame:
    """Retention/churn report with its exact baseline: distinct ``col``
    under ``cond_a`` vs ``cond_b`` — exact counts for A, B, union, both,
    A-only (one Expand-planned aggregate over tagged rows) next to the
    theta-sketch estimates of the same five sets, each flagged within
    ``rel_tol`` **of the union** (set-op noise is union-scale; a
    tolerance relative to a near-empty difference would be vacuous).
    The exact side is the oracle baseline; at 100 TB it drops and the
    sketches — served from stored epoch partials via
    :func:`theta_epoch_ops` — are the answer."""
    tagged = df.select(
        F.col(col).alias("_v"),
        cond_a.alias("_a"),
        cond_b.alias("_b"),
    ).filter(F.col("_a") | F.col("_b"))
    exact = tagged.agg(
        F.countDistinct(F.when(F.col("_a"), F.col("_v"))).alias("n_a"),
        F.countDistinct(F.when(F.col("_b"), F.col("_v"))).alias("n_b"),
        F.countDistinct("_v").alias("n_union"),
    ).crossJoin(
        tagged.groupBy("_v")
        .agg(F.max("_a").alias("_ia"), F.max("_b").alias("_ib"))
        .agg(
            F.sum(F.when(F.col("_ia") & F.col("_ib"), 1).otherwise(0))
            .cast("long")
            .alias("n_both"),
            F.sum(F.when(F.col("_ia") & ~F.col("_ib"), 1).otherwise(0))
            .cast("long")
            .alias("n_a_only"),
        )
    )
    sk = tagged.agg(
        F.theta_sketch_agg(F.when(F.col("_a"), F.col("_v")), F.lit(lgk)).alias(
            "ska"
        ),
        F.theta_sketch_agg(F.when(F.col("_b"), F.col("_v")), F.lit(lgk)).alias(
            "skb"
        ),
    ).select(
        F.theta_sketch_estimate("ska").alias("est_a"),
        F.theta_sketch_estimate("skb").alias("est_b"),
        F.theta_sketch_estimate(F.theta_union("ska", "skb")).alias(
            "est_union"
        ),
        F.theta_sketch_estimate(F.theta_intersection("ska", "skb")).alias(
            "est_both"
        ),
        F.theta_sketch_estimate(F.theta_difference("ska", "skb")).alias(
            "est_a_only"
        ),
    )
    out = exact.crossJoin(sk)
    tol = F.lit(float(rel_tol)) * F.col("n_union").cast("double")

    def ok(est: str, exact_col: str) -> Column:
        return (
            F.abs(F.col(est).cast("double") - F.col(exact_col).cast("double"))
            <= tol
        ).alias(exact_col + "_ok")

    return out.select(
        "n_a",
        "n_b",
        "n_union",
        "n_both",
        "n_a_only",
        ok("est_a", "n_a"),
        ok("est_b", "n_b"),
        ok("est_union", "n_union"),
        ok("est_both", "n_both"),
        ok("est_a_only", "n_a_only"),
    )


# ---------------------------------------------------------------------------
# Stored KLL quantile partials (r10): kll_merge_agg makes the quantile
# sketch a first-class member of the stored-partials lifecycle — per-epoch
# KLL states merge losslessly (rank guarantee composes), so "p99 latency
# this quarter" is a merge over O(epochs) rows like the distinct and
# frequency families. KLL state is not partitioning-deterministic, so
# estimates are pinned by RANK tolerance (quantile_report's contract),
# never by value.
# ---------------------------------------------------------------------------


def epoch_quantile_sketches(
    df: DataFrame, epoch: Column | str, col: str
) -> DataFrame:
    """One KLL(double) sketch per epoch — the storable quantile partial."""
    e = F.col(epoch) if isinstance(epoch, str) else epoch
    return df.groupBy(e.alias("epoch")).agg(
        F.kll_sketch_agg_double(F.col(col).cast("double")).alias("sketch"),
        F.count(col).alias("n_rows"),
    )


def save_epoch_quantile_sketches(
    df: DataFrame,
    path: str,
    epoch: Column | str,
    col: str,
    mode: str = "overwrite",
    on_conflict: str = "error",
) -> None:
    """Persist per-epoch KLL partials with the guarded-append contract."""
    part = epoch_quantile_sketches(df, epoch, col)
    if mode == "append":
        part = _guard_epoch_append(part, path, on_conflict)
        if part is None:
            return
    part.write.mode(mode).parquet(path)


def quantile_from_stored_sketches(
    spark, path: str, q: float = 0.5, epochs=None
) -> DataFrame:
    """Answer "quantile over these epochs" from the stored KLL partials
    alone: ``(est, kll_n, n_rows, n_epochs)``. ``kll_n == n_rows`` pins
    that every stored row reached the merged sketch; the estimate's
    rank guarantee is the per-epoch guarantee composed through the
    lossless merge."""
    sk = spark.read.parquet(path)
    if epochs is not None:
        sk = sk.filter(F.col("epoch").isin(list(epochs)))
    return sk.agg(
        F.kll_merge_agg_double("sketch").alias("_m"),
        F.sum("n_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_epochs"),
    ).select(
        F.kll_sketch_get_quantile_double("_m", F.lit(float(q))).alias("est"),
        F.kll_sketch_get_n_double("_m").alias("kll_n"),
        "n_rows",
        "n_epochs",
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership (r11) — the MEMBERSHIP member completing the
# mergeable-sketch family (HLL = distinct, KLL = quantile, CM = frequency,
# theta = set algebra, bloom = set membership). Like count-min, the sketch
# is its defining structure in RELATIONAL form — an m-bit bitmap packed 63
# bits per long (bit 63 unused: both engines' `<<` on the sign bit would
# diverge/overflow) in a length-ceil(m/63) array:
#   - build  = k md5/xxhash64-derived positions per item (the same
#              universal-hash family as MinHash: p_i = ((a_i·h + b_i) mod
#              M31) mod m, dedup._affine_params constants), one
#              map-side-combined bit_or groupBy over ≤ m/63 words —
#              the exchange moves a kilobyte bitmap, never items;
#   - probe  = the corpus NEVER shuffles: the 1-row dense bitmap
#              broadcasts and `forall` tests the k bits map-side — the
#              semi-join pre-filter shape Spark's runtime bloom pruning
#              uses, surfaced as an operator;
#   - merge  = zip_with(bit_or) of word arrays — EXACT (bloom union is
#              bitwise OR), so merged-from-epochs == direct, hard-pinned
#              like the CM merge;
#   - storage = per-epoch 1-row partials, the family's guarded lifecycle.
# Guarantees: NO false negatives, ever (every member set all k of its
# bits — deterministic); false-positive rate ≈ (1 - e^(-kn/m))^k. In md5
# mode every position is engine-independent, so the registry entry pins
# the FULL per-probe flag vector — including which non-members false-
# positive — by value hash, not a TRUE-literal contract.
# ---------------------------------------------------------------------------

_BLOOM_M = 1 << 14  # default bits: 16384 (~260 longs, ~2 KB broadcast)
_BLOOM_K = 5  # hash count: FPR ~ (1 - e^(-5n/m))^5


def _hash31_sql(value_sql: str, base_hash: str) -> str:
    """31-bit base hash of a scalar SQL expression — the single-value
    twin of dedup._base_hash (same two modes, same cross-engine md5
    contract: DuckDB recomputes ('0x'||substr(md5(v),1,15))::BIGINT)."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        _MERSENNE31,
    )

    if base_hash == "xxhash64":
        return f"(xxhash64(CAST({value_sql} AS STRING)) & {_MERSENNE31})"
    assert base_hash == "md5", base_hash
    return (
        f"(CAST(conv(substring(md5(CAST({value_sql} AS STRING)), 1, 15), "
        f"16, 10) AS BIGINT) & {_MERSENNE31})"
    )


def _bloom_position_exprs(
    value_sql: str, m_bits: int, k: int, base_hash: str
) -> list[str]:
    """The k bit-position scalar SQL expressions — one base hash, k
    affine permutations (md5-derived constants any engine
    regenerates)."""
    from similarity_search_with_hadoop_mapreduce_spark.operators.dedup import (
        _MERSENNE31,
        _affine_params,
    )

    h = _hash31_sql(value_sql, base_hash)
    return [
        f"pmod(({a}L * {h} + {b}L) % {_MERSENNE31}L, {m_bits})"
        for a, b in _affine_params(k)
    ]


def _bloom_positions_sql(
    value_sql: str, m_bits: int, k: int, base_hash: str
) -> str:
    """``array(p_0..p_{k-1})`` SQL — the explode-able form the builders
    use."""
    return (
        "array("
        + ", ".join(_bloom_position_exprs(value_sql, m_bits, k, base_hash))
        + ")"
    )


def _dense_words_sql(col: str, n_words_sql: str) -> str:
    """O(m) dense-bitmap assembly from a wi-SORTED sparse entry array
    ``col`` = ``array<struct<wi,w>>``: flatten per-entry
    ``[gap zeros..., w]`` chunks plus the tail zeros.

    Replaces the r11 ``transform(sequence(...), i -> element_at(map, i))``
    assembly: ``element_at`` on a MAP is a linear scan, making that
    shape O(m²) — invisible at the 2^14 family default (~0.07 s) but
    18 s at the 2^20 bitmap the decontamination gate sizes for a real
    benchmark (SCALE.md, "r12: dense-bitmap assembly was O(m²)").
    Arrays are O(1)-indexed,
    so this pays O(total output) exactly once."""
    return (
        f"CASE WHEN size({col}) = 0 THEN "
        f"array_repeat(0L, CAST({n_words_sql} AS INT)) "
        f"ELSE flatten(concat("
        f"transform(sequence(1, size({col})), i -> concat("
        f"array_repeat(0L, CAST(element_at({col}, i).wi - "
        f"CASE WHEN i = 1 THEN 0 "
        f"ELSE element_at({col}, i - 1).wi + 1 END AS INT)), "
        f"array(element_at({col}, i).w))), "
        f"array(array_repeat(0L, CAST({n_words_sql} - "
        f"element_at({col}, -1).wi - 1 AS INT))))) END"
    )


def bloom_build(
    items: DataFrame,
    col: str,
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
    base_hash: str = "xxhash64",
    with_count: bool = True,
) -> DataFrame:
    """ONE-row dense bloom bitmap ``(words array<long>, n_items)`` over
    the distinct non-null values of ``col``. The only data-sized work is
    the k-position explode of the (small, watchlist-sized) build side;
    the bit_or groupBy is map-side combined over ≤ ceil(m/63) word keys
    and the dense array is assembled from the kilobyte sparse result.

    ``with_count=False`` drops the ``n_items`` column AND its extra
    pass over ``items`` — a probe-only consumer (``bloom_probe`` reads
    only ``words``) shouldn't pay a second scan of the build side for
    a statistic it discards; Catalyst cannot prune it away itself
    because the count rides in through a row-count-changing join."""
    n_words = (m_bits + 62) // 63
    pos = (
        items.filter(F.col(col).isNotNull())
        .select(
            F.explode(
                F.expr(_bloom_positions_sql(col, m_bits, k, base_hash))
            ).alias("p")
        )
        .select(
            F.expr("p div 63").alias("wi"),
            F.expr("shiftleft(1L, CAST(p % 63 AS INT))").alias("b"),
        )
        .groupBy("wi")
        .agg(F.expr("bit_or(b)").alias("w"))
    )
    dense = F.expr(_dense_words_sql("_srt", str(n_words))).alias("words")
    sparse = pos.agg(
        F.array_sort(F.collect_list(F.struct("wi", "w"))).alias("_srt")
    )
    if not with_count:
        return sparse.select(dense)
    n = items.filter(F.col(col).isNotNull()).agg(
        F.count_distinct(F.col(col)).alias("n_items")
    )
    return sparse.join(F.broadcast(n)).select(dense, "n_items")


def bloom_probe(
    probes: DataFrame,
    bloom: DataFrame,
    col: str,
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """``probes`` + ``bloom_hit``: the 1-row bitmap broadcasts and every
    probe tests its k bits map-side — NO shuffle of the probe side, the
    at-scale contract (this is the semi-join pre-filter: downstream, only
    bloom_hit rows pay the exact join). NULL probe values are not stream
    members: ``bloom_hit`` is false for them.

    The bitmap column is aliased to an internal name before the join
    (ADVICE r11): a probes frame that itself carries ``words`` would
    otherwise make the bit test ambiguous. A probes frame already
    carrying the OUTPUT column is a caller error surfaced loudly."""
    if "bloom_hit" in probes.columns or "_bloom_words" in probes.columns:
        raise ValueError(
            "bloom_probe: probes frame already has a 'bloom_hit' or "
            "'_bloom_words' column — rename it before probing"
        )
    # An AND-chain of k scalar bit tests, NOT forall(array(...), ...):
    # higher-order functions run interpreted per row, and this predicate
    # sits on the STREAMED side of the probe join — at 2M stored band
    # rows the forall form cost ~10 us/row (r12 scale probe: the gated
    # SMJ's cpu DOUBLED index-over-index and erased the sort saving),
    # while the AND-chain stays inside whole-stage codegen with the k
    # base-hash evaluations shared by common-subexpression elimination.
    test = " AND ".join(
        f"(shiftright(element_at(_bloom_words, CAST(({p}) div 63 AS INT)"
        f" + 1), CAST(({p}) % 63 AS INT)) & 1) = 1"
        for p in _bloom_position_exprs(col, m_bits, k, base_hash)
    )
    return probes.join(
        F.broadcast(bloom.select(F.col("words").alias("_bloom_words")))
    ).select(
        *probes.columns,
        F.coalesce(
            F.when(F.col(col).isNotNull(), F.expr(test)), F.lit(False)
        ).alias("bloom_hit"),
    )


def epoch_blooms(
    df: DataFrame,
    epoch: Column | str,
    col: str,
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """One bloom partial per epoch: ``(epoch, words, n_items)``. Same
    relational build as :func:`bloom_build`, keyed by epoch — the word
    exchange moves O(epochs · m/63) longs, never items."""
    e = F.col(epoch) if isinstance(epoch, str) else epoch
    n_words = (m_bits + 62) // 63
    x = df.filter(F.col(col).isNotNull()).select(
        e.alias("epoch"),
        F.explode(
            F.expr(_bloom_positions_sql(col, m_bits, k, base_hash))
        ).alias("p"),
    )
    sparse = (
        x.select(
            "epoch",
            F.expr("p div 63").alias("wi"),
            F.expr("shiftleft(1L, CAST(p % 63 AS INT))").alias("b"),
        )
        .groupBy("epoch", "wi")
        .agg(F.expr("bit_or(b)").alias("w"))
    )
    n = (
        df.filter(F.col(col).isNotNull())
        .groupBy(e.alias("epoch"))
        .agg(F.count_distinct(F.col(col)).alias("n_items"))
    )
    return (
        sparse.groupBy("epoch")
        .agg(
            F.array_sort(F.collect_list(F.struct("wi", "w"))).alias("_srt")
        )
        .join(n, "epoch")
        .select(
            "epoch",
            F.expr(_dense_words_sql("_srt", str(n_words))).alias("words"),
            "n_items",
        )
    )


def save_epoch_blooms(
    df: DataFrame,
    path: str,
    epoch: Column | str,
    col: str,
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
    base_hash: str = "xxhash64",
    mode: str = "overwrite",
    on_conflict: str = "error",
) -> None:
    """Persist per-epoch bloom partials with the family's guarded-append
    idempotency contract (:func:`_guard_epoch_append`): a double-counted
    epoch cannot corrupt a bloom (OR is idempotent), but a silently
    re-ingested epoch still lies about ``n_items``, so the same guard
    applies."""
    part = epoch_blooms(df, epoch, col, m_bits, k, base_hash)
    if mode == "append":
        part = _guard_epoch_append(part, path, on_conflict)
        if part is None:
            return
    part.write.mode(mode).parquet(path)


def merge_blooms(blooms: DataFrame) -> DataFrame:
    """Union stored bloom partials into one bitmap: per-position bit_or
    — EXACT (bloom union is bitwise OR), so the merged bitmap is
    bit-identical to one built directly over the union of the epochs
    (hard-pinned, the CM-merge contract). Input is O(epochs) kilobyte
    rows; the posexplode/re-assemble moves O(epochs · m/63) longs.

    ZERO stored partials merge to ZERO rows (ADVICE r11 — previously a
    single row with NULL ``words``): no epochs means no sketch, and the
    caller must treat no-sketch as no-filter rather than probe a NULL
    bitmap."""
    sparse = (
        blooms.select(
            F.posexplode("words").alias("wi", "w"), F.col("n_items")
        )
        .groupBy("wi")
        .agg(F.expr("bit_or(w)").alias("w"))
    )
    n = blooms.agg(
        F.sum("n_items").alias("n_items_summed"),
        F.count(F.lit(1)).alias("n_epochs"),
    )
    return (
        sparse.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("wi").cast("long").alias("wi"), "w")
                )
            ).alias("_srt"),
            F.max("wi").alias("_mx"),
        )
        .join(F.broadcast(n))
        .select(
            F.expr(
                _dense_words_sql("_srt", "(CAST(_mx AS INT) + 1)")
            ).alias("words"),
            "n_items_summed",
            "n_epochs",
        )
        # empty-input guard: no partials -> _mx is NULL -> words is NULL
        # -> drop the row (zero-row result, never a NULL bitmap)
        .filter(F.col("words").isNotNull())
    )
