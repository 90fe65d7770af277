"""Temporal join operators.

The reference has no time dimension at all (``BookQuery.java`` — strings
and counts only); these cover the temporal surface a large-scale event /
training-data pipeline needs and that Spark lacks as a built-in: the
**as-of join** (attach to each left row the most recent right row at or
before it).

The naive formulation is a range join (``l.ts >= r.ts`` + a
max-per-group), which Spark plans as a broadcast nested loop or a
cartesian product — O(|L|·|R|) per key group and a non-starter at scale.
The implementation here is the *union + running last* plan: tag both
sides, union them, and take a running ``last(value, ignorenulls=True)``
over a ``(by, ts)`` window. One shuffle on the ``by`` key, linear work,
and the sort it needs is exactly the sort the window would need anyway —
this is the plan kdb/QuestDB/Flink use for as-of semantics re-expressed
as DataFrame ops.

Skew hardening (100 TB): :func:`asof_join` partitions by the ``by``
columns alone, so a hot key (one user with millions of events)
serializes its window. :func:`asof_join_bucketed` and
:func:`gapfill_locf_bucketed` are the hardened variants: rows partition
by (key, coarse time bucket) — a hot key spreads over its time range —
and each bucket's window is seeded with the last value carried in from
earlier buckets (computed with one tiny per-(key, bucket) window, one
row per key per bucket). Result-identical to the unbucketed plans
(pytest-pinned on fixtures, oracle-checked by the driver: the registry
entries run the bucketed implementations against the unchanged oracles).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from similarity_search_with_hadoop_mapreduce_spark.sources.tables import resident


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str],
    values: Sequence[str],
    suffix: str = "",
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join: for each left row, the ``values`` columns of the
    most recent right row with ``right.on <= left.on`` (direction
    ``"backward"``; ``"forward"`` flips to the earliest right row at or
    after), matched within equal ``by`` keys. Left rows with no match get
    NULL — left-outer semantics, like DuckDB's ``ASOF LEFT JOIN``.

    Ties on ``on`` count as a match (<=, not <). If two right rows share
    (by, on), which one wins is unspecified — pre-aggregate the right side
    to one row per (by, on) for determinism. A right ``values`` cell that
    is itself NULL is carried over by older non-null rows (an artifact of
    the ``ignorenulls`` running-last; wrap values in a sentinel struct if
    NULL-preserving semantics are needed).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    out_vals = [v + suffix for v in values]
    lcols = left.columns
    l2 = left.select(
        *lcols,
        *[
            F.lit(None).cast(right.schema[v].dataType).alias(ov)
            for v, ov in zip(values, out_vals)
        ],
        F.lit(1).alias("_side"),
    )
    rkeep = set(by) | {on}
    r2 = right.select(
        *[
            F.col(c) if c in rkeep else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
        ],
        *[F.col(v).alias(ov) for v, ov in zip(values, out_vals)],
        F.lit(0).alias("_side"),
    )
    ts_order = F.col(on).asc() if direction == "backward" else F.col(on).desc()
    # right rows (_side=0) sort before left rows at the same timestamp, so
    # an exact-tie right row is visible to the left row — the `<=` contract
    w = (
        Window.partitionBy(*by)
        .orderBy(ts_order, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [F.last(ov, ignorenulls=True).over(w).alias(ov) for ov in out_vals]
    return (
        l2.unionByName(r2)
        .select(*lcols, *carried, "_side")
        .filter(F.col("_side") == 1)
        .drop("_side")
    )


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str],
    values: Sequence[str],
    suffix: str = "",
    direction: str = "backward",
    bucket_unit: str = "day",
) -> DataFrame:
    """Skew-hardened :func:`asof_join`: the running-last window partitions
    by ``(by..., time bucket)`` instead of ``by`` alone, so one hot key's
    rows spread across its time range instead of serializing in a single
    sort partition.

    Correctness is restored by *seed rows*: for every (key, bucket) the
    last right-side value from any earlier bucket is injected at the
    bucket start (ordered before any real row at the same timestamp), so
    each bucket-local window sees exactly what the global window would
    have carried in. Seeds are computed from the per-bucket last right
    rows — one row per (key, bucket) — with a window over that tiny
    relation, never over the raw data. Result-identical to
    :func:`asof_join` (pytest-pinned; the registry entry runs this
    implementation against the unbucketed DuckDB ASOF JOIN oracle).
    """
    if direction != "backward":
        raise ValueError(
            "asof_join_bucketed implements the backward direction; use "
            "asof_join for forward"
        )
    out_vals = [v + suffix for v in values]
    lcols = left.columns
    rb = F.date_trunc(bucket_unit, F.col(on)).alias("_rb")
    # sides: -1 seed < 0 right < 1 left at equal (ts) — keeps the `<=`
    # contract (an exact-tie right row overrides the carried-in seed and
    # is visible to left rows at the same timestamp)
    l2 = left.select(
        *lcols,
        *[
            F.lit(None).cast(right.schema[v].dataType).alias(ov)
            for v, ov in zip(values, out_vals)
        ],
        F.lit(1).alias("_side"),
        rb,
    )
    rkeep = set(by) | {on}
    r2 = right.select(
        *[
            F.col(c) if c in rkeep else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
        ],
        *[F.col(v).alias(ov) for v, ov in zip(values, out_vals)],
        F.lit(0).alias("_side"),
        rb,
    )
    # Per-bucket last NON-null row per value column — one max-struct per
    # column, not one shared row: the global plan's running last carries
    # each column's last non-null value independently, so a shared
    # latest-ts seed would diverge whenever right values contain NULLs
    # (the latest row's NULL column would mask an older non-null one).
    mcols = [f"_m_{i}" for i in range(len(values))]
    rlast = right.select(
        *by,
        rb,
        *[
            F.when(F.col(v).isNotNull(), F.struct(F.col(on), F.col(v).alias("v"))).alias(m)
            for v, m in zip(values, mcols)
        ],
    ).groupBy(*by, "_rb").agg(*[F.max(m).alias(m) for m in mcols])
    # bucket spine = every (key, bucket) either side touches
    spine = (
        l2.select(*by, "_rb").union(r2.select(*by, "_rb")).distinct()
    )
    w_prev = (
        Window.partitionBy(*by)
        .orderBy("_rb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seeds = (
        spine.join(rlast, [*by, "_rb"], "left")
        .select(
            *by,
            "_rb",
            *[F.last(m, ignorenulls=True).over(w_prev).alias(m) for m in mcols],
        )
        .filter(reduce(lambda a, b: a | b, [F.col(m).isNotNull() for m in mcols]))
    )
    seed_rows = seeds.select(
        *[
            F.col(c)
            if c in by
            else (
                F.col("_rb").alias(on)
                if c == on
                else F.lit(None).cast(left.schema[c].dataType).alias(c)
            )
            for c in lcols
        ],
        *[F.col(m)["v"].alias(ov) for m, ov in zip(mcols, out_vals)],
        F.lit(-1).alias("_side"),
        F.col("_rb"),
    )
    w = (
        Window.partitionBy(*by, "_rb")
        .orderBy(F.col(on).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [F.last(ov, ignorenulls=True).over(w).alias(ov) for ov in out_vals]
    return (
        l2.unionByName(r2)
        .unionByName(seed_rows)
        .select(*lcols, *carried, "_side")
        .filter(F.col("_side") == 1)
        .drop("_side")
    )


def gapfill_locf(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    bounds: tuple | None = None,
) -> DataFrame:
    """Dense minute grid per key with zero-filled counts and
    last-observation-carried-forward values — the gap-filling companion
    to the hypertable rollup (TimescaleDB's ``time_bucket_gapfill`` +
    ``locf`` re-expressed as DataFrame ops).

    Plan (gap-explode — no dense grid, no grid join): one aggregation
    shuffle on (key, minute); one window over the *observed* (key,
    minute) rows computing the running non-null value, the next observed
    minute, and the row number; then a single map-side explode of
    ``sequence(start, next-1)`` per observed row manufactures the missing
    minutes, each carrying the running value forward. Compared with the
    textbook dense-grid ``cross join keys × minutes`` + left-join
    formulation this removes two exchanges and the single-task grid
    explode, and the window sorts only observed rows — at scale orders
    of magnitude fewer than grid rows.

    ``bounds`` (r10): the EXACT ``(min_ts, max_ts)`` of the input,
    injected as grid-bound literals — the caller asserts exactness
    (wider bounds would widen the grid and change results).
    :func:`gapfill_locf_auto` supplies them automatically from parquet
    footer statistics when the plan is a bare scan (driver-side
    metadata, no job). Without ``bounds``, they come from a 1-row
    aggregate of the same subtree (exchange reuse — no re-scan of the
    at-scale-enormous event table) broadcast into the plan; the literal
    path removes that subquery, its broadcast-nested-loop join, two
    scheduling barriers, and the two extra columns riding through the
    window exchange — measured 0.485 → 0.288 s solo at sf0.1 (r10 A/B,
    recorded in SCALE.md's gap-fill row), result-identical.

    Skew note (100 TB): a long gap after one observed row explodes in
    that row's task, and the window partitions by key alone — both are
    span-bounded, which is exactly what :func:`gapfill_locf_auto` probes
    before picking this plan over the (key, day)-bucketed one.
    """
    b = F.date_trunc("minute", F.col(ts_col))
    agg = events.groupBy(F.col(key_col).alias("k"), b.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(25,6)"))
        .cast("double")
        .alias("total_value"),
    )
    if bounds is not None:
        # minute-truncate driver-side: min(trunc(ts)) == trunc(min(ts))
        # (truncation is monotonic), so these literals equal the
        # aggregate path's _lo/_hi exactly.
        #
        # r13 (ADVICE r12): the WALL value is injected as a STRING cast
        # in the plan, not as a Python datetime literal. The bounds come
        # from parquet footer statistics, i.e. wall-clock values that
        # the data path maps to instants with the SESSION-timezone cast
        # (load_table's NTZ→TIMESTAMP normalization); a naive Python
        # datetime in F.lit() is converted with the DRIVER PROCESS's OS
        # timezone instead, so whenever session tz != OS tz (or around
        # a DST gap, where both must remap the same nonexistent wall
        # times identically) the injected bounds would diverge from the
        # aggregate path's. A string→timestamp cast uses the session
        # zone with the same ZoneId rules as the data cast, making the
        # two paths identical by construction in ANY session timezone —
        # pinned under America/New_York across a spring-forward gap in
        # tests/test_skew.py. Catalyst constant-folds the cast, so the
        # executed plan still carries plain literals.
        def _wall_lit(dt):
            s = dt.replace(second=0, microsecond=0).strftime(
                "%Y-%m-%d %H:%M:%S"
            )
            return F.lit(s).cast("timestamp")

        lo_lit = _wall_lit(bounds[0])
        hi_lit = _wall_lit(bounds[1])
        obs_in = agg
        lo_expr, hi_expr = lo_lit, hi_lit
    else:
        # Bounds from the aggregate, not the raw events: identical
        # values, but the subtree is byte-identical to the window's
        # input, so Spark reuses one exchange instead of re-scanning
        # the (at scale, enormous) event table.
        kb = agg.agg(
            F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi")
        )
        obs_in = agg.join(F.broadcast(kb))
        lo_expr, hi_expr = F.col("_lo"), F.col("_hi")
    w = Window.partitionBy("k").orderBy("bucket")
    obs = obs_in.select(
        "k",
        "bucket",
        "n_events",
        "total_value",
        *([] if bounds is not None else ["_lo", "_hi"]),
        F.last("total_value", ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_run"),
        F.lead("bucket").over(w).alias("_nxt"),
        F.row_number().over(w).alias("_rn"),
    )
    start = F.when(F.col("_rn") == 1, lo_expr).otherwise(F.col("bucket"))
    end = F.coalesce(F.col("_nxt") - F.expr("interval 1 minute"), hi_expr)
    m = F.explode(F.sequence(start, end, F.expr("interval 1 minute")))
    filled = obs.select(
        "k", "bucket", "n_events", "total_value", "_run", m.alias("_m")
    )
    at_obs = F.col("_m") == F.col("bucket")
    return filled.select(
        F.col("k").alias(key_col),
        F.col("_m").alias("bucket_start"),
        F.when(at_obs, F.col("n_events")).otherwise(F.lit(0)).alias("n_events"),
        F.when(at_obs, F.col("total_value")).alias("total_value"),
        F.when(F.col("_m") >= F.col("bucket"), F.col("_run")).alias(
            "locf_value"
        ),
    )


def _parquet_footer_span(events: DataFrame, ts_col: str):
    """``(lo, hi)`` of ``ts_col`` from parquet row-group footer
    statistics, or None when the fast path does not apply (non-parquet
    scan, column absent from the physical schema — e.g. a derived
    column, missing/typeless statistics). Driver-side metadata only: the
    file listing is already cached in the plan, and each footer read is
    O(KB). Bounds are over the UNFILTERED files — an upper bound of the
    true span, which callers must only use for conservative routing.
    TIMESTAMP(NANOS) statistics arrive micro-truncated, matching the
    reader's nanos→micros normalization (sources/tables.load_table)."""
    import datetime

    try:
        files = events.inputFiles()
    except Exception:
        return None
    if not files or not all(f.endswith(".parquet") for f in files):
        return None
    import pyarrow.parquet as pq

    lo = hi = None
    for uri in files:
        path = uri
        for prefix in ("file://", "file:"):
            if path.startswith(prefix):
                path = path[len(prefix):]
                break
        try:
            md = pq.ParquetFile(path).metadata
        except Exception:
            return None
        names = md.schema.names
        if ts_col not in names:
            return None
        ci = names.index(ts_col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                return None
            mn, mx = st.min, st.max
            if not isinstance(mn, datetime.datetime) or not isinstance(
                mx, datetime.datetime
            ):
                return None
            mn, mx = mn.replace(tzinfo=None), mx.replace(tzinfo=None)
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
    return (lo, hi)


def _is_wall_preserving_ts_cast(alias_expr, tgt: str) -> bool:
    """True iff a JVM ``Alias`` expression is exactly
    ``cast(<attr tgt>: TIMESTAMP_NTZ AS TIMESTAMP) AS tgt`` — the one
    redefinition of a probed ts column that preserves parquet footer
    min/max verbatim (wall-clock reinterpretation; see
    :func:`_is_bare_scan`). Anything unrecognized is False —
    conservative like the caller."""
    try:
        child = alias_expr.child()
        if child.getClass().getSimpleName().rstrip("$") != "Cast":
            return False
        if child.dataType().getClass().getSimpleName().rstrip("$") != (
            "TimestampType"
        ):
            return False
        src = child.child()
        return (
            src.getClass().getSimpleName().rstrip("$") == "AttributeReference"
            and str(src.name()).lower() == tgt
            and src.dataType().getClass().getSimpleName().rstrip("$")
            == "TimestampNTZType"
        )
    except Exception:  # noqa: BLE001 — unrecognized shape means "not bare"
        return False


def _is_bare_scan(df: DataFrame, ts_col: str | None = None) -> bool:
    """True when the optimized logical plan is a relation under 1:1
    nodes only (Project / SubqueryAlias) — i.e. no Filter/Join/Generate/
    Aggregate can have dropped or added rows, so parquet footer
    statistics over the scan's files are EXACT row bounds for this
    DataFrame, not just an upper bound.

    Row preservation alone is not enough for ``ts_col`` (ADVICE r10):
    a Project can *redefine* the column under its physical name —
    ``select((ts + interval 1 hour).alias('ts'))`` — while the footer
    still describes the raw values, so the second check rejects any
    plan in which an alias defines ``ts_col`` (a bare passthrough
    renders as ``ts#12``; a redefinition as ``... AS ts#45``). This
    also conservatively rejects the harmless ``col('ts').alias('ts')``.
    Conservative by construction: an unrecognized node name, or any
    alias onto the probed name, means "not bare".

    One WHITELISTED redefinition (r12): ``cast(ts: TIMESTAMP_NTZ AS
    TIMESTAMP).alias(ts)`` — exactly ``load_table``'s microsecond-
    fixture normalization. The NTZ→TZ cast reinterprets the same wall-
    clock value in the session zone, and footer statistics are wall
    values too, so min/max are preserved VERBATIM in any session
    timezone — REQUIRING that the injected bound literals are mapped
    wall→instant by the same session-zone rules as the cast itself,
    which :func:`gapfill_locf` guarantees by injecting them as
    string→timestamp casts (r13; end-to-end pinned under a non-UTC
    DST-observing session zone across a spring-forward gap,
    tests/test_skew.py). Without this, every footer-bounds fast path was dead for
    parquet TIMESTAMP(MICROS) fixtures — the driver's events table
    always routed to the aggregate-bounds plan with its second scan
    branch + broadcast-nested-loop join (the exact shape the r10
    literal-injection win deleted; OPTIMIZATION_r12.md §5).

    The walk inspects the JVM plan tree directly (ADVICE r11), not
    ``optimizedPlan().toString()``: the string render elides Project
    fields past ``spark.sql.debug.maxToStringFields`` (default 25), so
    a wide projection that redefined ``ts_col`` beyond the cutoff
    rendered as ``... N more fields``, the alias went unseen, and
    footer bounds were wrongly claimed exact — the grid-shift bug this
    guard exists to prevent."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        allowed = {"Project", "Relation", "SubqueryAlias", "LogicalRelation"}
        tgt = None if ts_col is None else ts_col.lower()
        stack = [plan]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName().rstrip("$")
            if cls not in allowed:
                return False
            if cls == "Project" and tgt is not None:
                # every named expression in the project list,
                # untruncated: a passthrough is an AttributeReference,
                # a redefinition is Alias(child) AS ts_col
                pl = node.projectList()
                for j in range(pl.size()):
                    e = pl.apply(j)
                    if (
                        e.getClass().getSimpleName().rstrip("$") == "Alias"
                        and str(e.name()).lower() == tgt
                        and not _is_wall_preserving_ts_cast(e, tgt)
                    ):
                        return False
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return True
    except Exception:  # noqa: BLE001
        return False


def gapfill_locf_auto(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    bucket_unit: str = "day",
    hot_window_rows: int = 500_000,
    stats: dict | None = None,
) -> DataFrame:
    """:func:`gapfill_locf` with the skew hardening applied *only when
    needed* — a stat-driven switch instead of paying the bucketed plan's
    premium (extra seed join + window) unconditionally.

    What makes the gapfill window hot is NOT per-key event skew: the
    window runs over GRID rows, and the grid gives every key the same
    ``(max_minute - min_minute)`` span — so the single window partition
    for a key holds exactly the global minute span, whatever the raw
    event distribution looks like. (Event-count skew lands on the
    (key, minute) aggregation, which partial aggregation already
    handles.) The hot condition is therefore just the span. It is probed
    from **parquet row-group footer statistics** when the plan reads
    parquet files — a driver-side read of O(#row-groups) footers, no
    Spark job, at 100 TB exactly as cheap as at 100 MB. Footer min/max
    over the *unfiltered* files is an upper bound of the true span of a
    filtered DataFrame, which is the safe direction here: an over-span
    can only route to the bucketed plan, never under-protect the window
    (results are identical either way). Non-parquet inputs, files
    without statistics, or non-timestamp stats fall back to a
    column-pruned ``min(ts)/max(ts)`` aggregate (one narrow-column
    scan). Spans at or under ``hot_window_rows`` minutes (default
    500k ≈ one year) run the global-window plan; longer histories run
    the (key, day)-bucketed plan. Both are result-identical
    (pytest-pinned), so the switch is a pure physical-plan decision —
    the oracle does not change.

    ``stats['gapfill_plan']`` records the choice when a dict is passed.

    Bound INJECTION (r10): routing tolerates an over-span, but the grid
    bounds themselves must be exact (wider bounds widen the grid and
    change results). They are exact on two paths: the min/max aggregate
    fallback (any input), and the footer span when the plan is a **bare
    scan** (no Filter/Join/Generate below — checked on the optimized
    plan, :func:`_is_bare_scan`; 1:1 projections cannot drop rows).
    When exact, the span doubles as :func:`gapfill_locf`'s ``bounds``
    literals, deleting the bounds subquery + broadcast join from the
    global plan (measured -41% solo, r10; OPTIMIZATION_r12.md §5).
    """
    lo, hi, exact = resident(events, ("span", ts_col), lambda: _span(events, ts_col))
    span_minutes = (
        0 if lo is None else int((hi - lo).total_seconds() // 60) + 1
    )
    if span_minutes <= hot_window_rows:
        if stats is not None:
            stats["gapfill_plan"] = "global" + ("_bounds" if exact else "")
        return gapfill_locf(
            events, ts_col, key_col, value_col,
            bounds=(lo, hi) if exact and lo is not None else None,
        )
    if stats is not None:
        stats["gapfill_plan"] = "bucketed"
    return gapfill_locf_bucketed(events, ts_col, key_col, value_col, bucket_unit)


def _span(events: DataFrame, ts_col: str) -> tuple:
    """``(lo, hi, exact)``: :func:`gapfill_locf_auto`'s span probe, a
    catalog-style min/max statistic (parquet footer metadata, no row
    scan) kept once per frame in the resident store, as ANALYZE TABLE
    would persist it; ``exact`` when the bounds are the rows' own."""
    bounds = _parquet_footer_span(events, ts_col)
    if bounds is None:
        lo, hi = events.agg(F.min(ts_col), F.max(ts_col)).first()
        return lo, hi, True  # aggregate of the actual rows
    # footer stats == row bounds only if no node drops rows AND
    # no Project redefines ts_col under its physical name
    return (*bounds, _is_bare_scan(events, ts_col))


def gapfill_locf_bucketed(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    bucket_unit: str = "day",
) -> DataFrame:
    """Skew-hardened :func:`gapfill_locf`: the LOCF window partitions by
    ``(key, time bucket)`` instead of key alone, so one key's dense grid
    (a year of minutes = ~500k rows) spreads across its days instead of
    sorting in a single partition.

    The carry-in per (key, bucket) is the last non-null value from any
    earlier bucket, computed from the per-bucket last values (one row per
    key per bucket) and coalesced under the bucket-local running last —
    exactly what the global window would have carried in.
    Result-identical to :func:`gapfill_locf` (pytest-pinned; the registry
    entry runs this implementation against the unchanged oracle).
    """
    b = F.date_trunc("minute", F.col(ts_col))
    agg = events.groupBy(F.col(key_col).alias("k"), b.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(25,6)"))
        .cast("double")
        .alias("total_value"),
    )
    kb = agg.agg(
        F.collect_set("k").alias("ks"),
        F.min("bucket").alias("lo"),
        F.max("bucket").alias("hi"),
    )
    grid = kb.select(F.explode("ks").alias("k"), "lo", "hi").select(
        "k",
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 minute"))
        ).alias("bucket"),
    )
    joined = grid.join(agg, ["k", "bucket"], "left").withColumn(
        "_rb", F.date_trunc(bucket_unit, F.col("bucket"))
    )
    # last non-null value per (key, bucket-range): one row per key per day
    blast = joined.groupBy("k", "_rb").agg(
        F.max(
            F.when(
                F.col("total_value").isNotNull(),
                F.struct("bucket", "total_value"),
            )
        ).alias("_m")
    )
    w_prev = (
        Window.partitionBy("k")
        .orderBy("_rb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seeds = blast.select(
        "k",
        "_rb",
        F.last("_m", ignorenulls=True).over(w_prev)["total_value"].alias("_seed"),
    )
    w = (
        Window.partitionBy("k", "_rb")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.join(seeds, ["k", "_rb"], "left")
        .select(
            F.col("k").alias(key_col),
            F.col("bucket").alias("bucket_start"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            "total_value",
            F.coalesce(
                F.last("total_value", ignorenulls=True).over(w), F.col("_seed")
            ).alias("locf_value"),
        )
    )


def ohlc_downsample(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    bucket: str = "hour",
) -> DataFrame:
    """OHLC bar downsampling — the classic hypertable resample: per
    (key, time bucket), the opening value (at the earliest row), high,
    low, and closing value (at the latest row).

    One aggregation exchange on (key, bucket); open/close use
    ``min_by``/``max_by`` ordered by the (ts, id) STRUCT so same-
    timestamp ties break deterministically on the row id — both engines
    compare the struct lexicographically, so the oracle replays the tie
    rule with ``arg_min/arg_max(value, (ts, id))``.
    """
    b = F.date_trunc(bucket, F.col(ts_col)).alias("bucket_start")
    order = F.struct(F.col(ts_col), F.col(id_col))
    return events.groupBy(F.col(key_col), b).agg(
        F.min_by(F.col(value_col), order).alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max_by(F.col(value_col), order).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )
