"""Overlap-weighted interval averaging — the engine's core operator.

Semantics reproduce ``interval_weighted_avg_f`` from the reference
(/root/reference/timeperiod_functions.R:117-354; output contract
README.md:74-110): measurements ``x`` are values averaged over closed
integer/date intervals, non-overlapping within group combinations;
target periods ``y`` are arbitrary (possibly overlapping, possibly
non-aligned) intervals; the output has exactly one row per distinct
``(group, y-interval)`` carrying the overlap-duration-weighted mean of
each value column plus coverage metadata (yduration, xduration,
nobs_<v>, xminstart, xmaxend) and a ``required_percentage`` coverage
mask.

The implementation is Spark-first, NOT a port: the reference's
``foverlaps`` binary-search join + GForce group-by become a
range-join (with a selectable physical strategy, see
:mod:`timeperiods_spark.plans.strategy`) followed by a hash aggregate
that Catalyst executes with partial (map-side) + final aggregation and
whole-stage codegen. All expressions are native ``pyspark.sql.functions``
— no Python UDFs anywhere on this path.

Closed-interval arithmetic: a unit difference is the smallest observable
increment; duration = end - start + 1 (reference
timeperiod_functions.R:83, :265, :334).
"""

from __future__ import annotations

import warnings
from typing import Optional, Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from ..errors import (
    DuplicateIntervalError,
    IntervalValidationError,
    OverlapError,
    RoleValidationError,
)
from ..plans.cachectl import managed_persist
from ..plans.strategy import build_overlap_pairs

#: Output column names reserved by the operator
#: (reference timeperiod_functions.R:126-130).
RESERVED_OUTPUT_NAMES = ("yduration", "xduration", "xminstart", "xmaxend")

_EPOCH = "1970-01-01"

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

#: per-call persist gates for the double-consumed join inputs (rows).
#: xw is ~40 B/row after projection, so the cap bounds the cache at a
#: couple of GB cluster-wide — far cheaper than re-running the upstream
#: pipeline for the bin-width sample; above the cap the persist is
#: skipped and behavior is unchanged.
_X_PERSIST_MAX_ROWS = 50_000_000
_Y_PERSIST_MAX_ROWS = 100_000_000


def _is_intervalish(dtype: T.DataType) -> bool:
    return isinstance(dtype, _INT_TYPES) or isinstance(dtype, T.DateType)


def _grid(colname: str, dtype: T.DataType) -> Column:
    """Normalize an interval endpoint to long grid units.

    Dates become day counts since 1970-01-01 (the reference treats Date
    as its integer day count, timeperiod_functions.R:52, :491-494)."""
    c = F.col(colname)
    if isinstance(dtype, T.DateType):
        return F.datediff(c, F.lit(_EPOCH).cast("date")).cast("long")
    return c.cast("long")


def _sweep_checked_end(gs: Column, ge: Column, op: str) -> Column:
    """Row-local validity guard for the boundary-sweep operators
    (merge_intervals / interval_difference / find_gaps): a NULL endpoint
    or a reversed interval would emit its -1 delta before (or without)
    its +1 and silently drive the running coverage negative, corrupting
    island detection for the whole group. The guard is threaded INTO the
    end-grid expression so it costs no extra scan — it raises inside the
    first Spark job that reads the frame (surfacing as a
    SparkRuntimeException carrying this message)."""
    bad = gs.isNull() | ge.isNull() | (ge < gs)
    return F.when(
        bad,
        F.raise_error(
            F.lit(
                f"{op}: invalid interval row (NULL endpoint or end < "
                "start); interval columns must be non-NULL with end >= "
                "start on the closed integer grid"
            )
        ).cast("long"),
    ).otherwise(ge)


def _ungrid(col: Column, dtype: T.DataType) -> Column:
    """Restore a long grid value to the user-facing endpoint type."""
    if isinstance(dtype, T.DateType):
        return F.date_add(F.lit(_EPOCH).cast("date"), col.cast("int"))
    return col.cast(dtype)


def _validate_roles(
    x: DataFrame,
    y: DataFrame,
    interval_vars: Sequence[str],
    value_vars: Sequence[str],
    group_vars: Sequence[str],
) -> T.DataType:
    """Schema-only validation (no Spark action). Returns the interval dtype.

    Mirrors the reference's checks at timeperiod_functions.R:126-187
    (reserved names, column existence, role disjointness, endpoint types).
    """
    if len(interval_vars) != 2:
        raise RoleValidationError("interval_vars must name exactly (start, end)")
    if not value_vars:
        raise RoleValidationError("value_vars must name at least one column")
    roles = list(interval_vars) + list(value_vars) + list(group_vars)
    reserved = [c for c in roles if c in RESERVED_OUTPUT_NAMES]
    if reserved:
        raise RoleValidationError(
            f"column(s) {reserved} are reserved for the output "
            f"(yduration/xduration/xminstart/xmaxend); rename them"
        )
    for name, need, df in (
        ("x", list(group_vars) + list(interval_vars) + list(value_vars), x),
        ("y", list(group_vars) + list(interval_vars), y),
    ):
        missing = [c for c in need if c not in df.columns]
        if missing:
            raise RoleValidationError(f"columns {missing} not present in {name}")
    if len(set(roles)) != len(roles):
        raise RoleValidationError(
            "interval_vars, value_vars and group_vars must be pairwise disjoint"
        )
    xf = dict(zip(x.schema.names, [f.dataType for f in x.schema.fields]))
    yf = dict(zip(y.schema.names, [f.dataType for f in y.schema.fields]))
    xs_t, xe_t = xf[interval_vars[0]], xf[interval_vars[1]]
    ys_t, ye_t = yf[interval_vars[0]], yf[interval_vars[1]]
    for t, where in ((xs_t, "x"), (xe_t, "x"), (ys_t, "y"), (ye_t, "y")):
        if not _is_intervalish(t):
            raise IntervalValidationError(
                f"interval_vars in {where} must be integer or date, got {t.simpleString()}"
            )
    x_is_date = isinstance(xs_t, T.DateType)
    if x_is_date != isinstance(xe_t, T.DateType) or x_is_date != isinstance(
        ys_t, T.DateType
    ) or x_is_date != isinstance(ye_t, T.DateType):
        raise IntervalValidationError(
            "interval_vars must be the same class (all integer or all date) in x and y"
        )
    return xs_t


def _integrity_flags_frame(xw: DataFrame, gcols: Sequence[str]) -> DataFrame:
    """Per-row integrity flags (nul, rev, dup, ovl) with parallelism
    independent of group cardinality.

    A window partitioned by the group columns caps the scan at one task
    per group (and one task TOTAL when ungrouped) — a hang at scale.
    Instead the scan windows within (group…, start-bucket) with a
    per-bucket carry-in of the group's max end over strictly earlier
    buckets — the shared machinery in plans/carry.py, which also guards
    the carry broadcast by group cardinality (many groups → plain
    per-group windows, already parallel). Duplicates never straddle
    buckets (equal starts share a bucket), so the lag-based dup check
    stays local; null and reversed endpoints are row-local.
    """
    from pyspark.sql import Window

    from ..plans.carry import attach_carry, plan_buckets

    gcols = list(gcols)
    plan = plan_buckets(xw, gcols, "__xs")
    if plan.empty:
        # empty, or every start NULL: flag rows directly (no windows)
        return xw.select(
            (F.col("__xs").isNull() | F.col("__xe").isNull()).alias("nul"),
            (F.col("__xe") < F.col("__xs")).alias("rev"),
            F.lit(False).alias("dup"),
            F.lit(False).alias("ovl"),
        )
    w = Window.partitionBy(*gcols, "__bk").orderBy("__xs", "__xe")
    local_prev_max = F.max("__xe").over(w.rowsBetween(Window.unboundedPreceding, -1))
    prev_s = F.lag("__xs").over(w)
    prev_e = F.lag("__xe").over(w)
    stitched = attach_carry(
        plan,
        [F.max("__xe").alias("__bmax")],
        lambda wg: [
            F.max("__bmax")
            .over(wg.rowsBetween(Window.unboundedPreceding, -1))
            .alias("__carry_max")
        ],
    )
    # greatest() skips NULLs: first row of the first bucket has neither
    # a local predecessor nor a carry-in → NULL → not an overlap
    prev_max_end = F.greatest(local_prev_max, F.col("__carry_max"))
    return stitched.select(
        (F.col("__xs").isNull() | F.col("__xe").isNull()).alias("nul"),
        (F.col("__xe") < F.col("__xs")).alias("rev"),
        (prev_s.eqNullSafe(F.col("__xs")) & prev_e.eqNullSafe(F.col("__xe"))).alias("dup"),
        (F.col("__xs") <= prev_max_end).alias("ovl"),
    )


def _integrity_totals(xw: DataFrame, gcols: Sequence[str]) -> dict:
    row = (
        _integrity_flags_frame(xw, gcols)
        .agg(
            F.sum(F.when(F.col("nul"), 1).otherwise(0)).alias("nulls"),
            F.sum(F.when(F.col("rev"), 1).otherwise(0)).alias("rev"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("dup"),
            F.sum(F.when(F.col("ovl"), 1).otherwise(0)).alias("ovl"),
        )
        .first()
    )
    if row is None:
        return {"nulls": 0, "rev": 0, "dup": 0, "ovl": 0}
    return {k: row[k] or 0 for k in ("nulls", "rev", "dup", "ovl")}


def _check_x_integrity(
    xw: DataFrame, n_groups: int, skip_overlap_check: bool
) -> None:
    """One-pass eager integrity check over the measurement table.

    Replaces the reference's O(n log n) self-``foverlaps`` assertion
    (timeperiod_functions.R:216) with a window scan: within each group,
    sorted by (start, end), an interval overlaps some predecessor iff
    its start <= running max of previous ends (closed intervals, so a
    shared endpoint counts). Exact duplicates (hard error,
    timeperiod_functions.R:198-202) ride along in the same single job.
    The scan windows within (group, start-bucket) with a per-bucket
    carry-in (see _integrity_flags_frame), so its parallelism does not
    collapse to one task per group — or one task total when ungrouped.
    """
    row = _integrity_totals(xw, [f"__g{i}" for i in range(n_groups)])
    if row is None:
        return
    if (row["nulls"] or 0) > 0:
        raise IntervalValidationError(
            "interval_vars columns cannot be NULL in x (reference "
            "timeperiod_functions.R:154-160)"
        )
    if (row["rev"] or 0) > 0:
        raise IntervalValidationError(
            "x has intervals with end < start; interval_vars must be "
            "(start, end) of increasing intervals"
        )
    if (row["dup"] or 0) > 0:
        raise DuplicateIntervalError(
            "duplicate (group, start, end) intervals in x; average them "
            "together first (reference timeperiod_functions.R:198-202)"
        )
    if not skip_overlap_check and (row["ovl"] or 0) > 0:
        raise OverlapError(
            "overlapping intervals within groups of x (closed intervals: "
            "a shared endpoint is an overlap). Decompose with "
            "remove_overlaps() first."
        )


def _check_y_intervals(yw: DataFrame) -> None:
    row = yw.agg(
        F.sum(
            F.when(F.col("__ys").isNull() | F.col("__ye").isNull(), 1).otherwise(0)
        ).alias("nulls"),
        F.sum(F.when(F.col("__ye") < F.col("__ys"), 1).otherwise(0)).alias("rev"),
        F.count(F.lit(1)).alias("n"),
        # struct-wrap: count_distinct over bare columns drops rows where
        # ANY column is NULL, but NULL group keys are legal (tests.R:564-580)
        F.count_distinct(F.struct(*[F.col(c) for c in yw.columns])).alias("nd"),
    ).first()
    if row is None:
        return
    if (row["nulls"] or 0) > 0:
        raise IntervalValidationError("interval_vars columns cannot be NULL in y")
    if (row["rev"] or 0) > 0:
        raise IntervalValidationError("y has intervals with end < start")
    if row["n"] != row["nd"]:
        warnings.warn(
            "duplicate (group, start, end) rows in y; deduplicating "
            "(reference timeperiod_functions.R:205-211)",
            stacklevel=3,
        )


def interval_weighted_avg(
    x: DataFrame,
    y: DataFrame,
    interval_vars: Sequence[str],
    value_vars: Sequence[str],
    group_vars: Optional[Sequence[str]] = None,
    required_percentage: float = 100.0,
    skip_overlap_check: bool = False,
    verbose: bool = False,
    *,
    validate: bool = True,
    assume_y_distinct: bool = False,
    join_strategy: str = "auto",
    bin_width: Optional[int] = None,
    skew_salt: Optional[int] = None,
    join_stats: Optional[tuple] = None,
    sort_output: bool = False,
    extra_stats: bool = False,
) -> DataFrame:
    """Average interval-measured values onto an arbitrary period schedule.

    Parameters mirror the reference API (timeperiod_functions.R:117-120),
    including ``verbose`` (the reference's step-timing flag,
    timeperiod_functions.R:117 used at :223+): here it prints the eager
    validation timings and the physical choices (join strategy, y
    dedup) — the lazy stages are visible in the Spark UI instead.
    The keyword-only extras are scale controls with no semantic effect:

    - ``validate=False`` skips every eager (action-triggering) integrity
      check — for production pipelines over pre-validated data. The
      reference's equivalent is ``skip_overlap_check`` but at 100 TB the
      duplicate/NULL checks are equally worth skipping once enforced
      upstream.
    - ``assume_y_distinct=True`` skips the y deduplication shuffle.
    - ``join_strategy``/``bin_width``/``skew_salt`` select the physical
      range-join plan (see plans.strategy.build_overlap_pairs);
      ``join_stats=(nx, ny, n_groups_distinct)`` lets the ``auto``
      picker decide without its stats action on hot paths.

    Returns one row per distinct (group, y-interval):
    ``group_vars…, interval_vars…, value_vars… (weighted means, masked
    NULL below required_percentage coverage), yduration, xduration,
    nobs_<v>…, xminstart, xmaxend`` (reference output contract
    timeperiod_functions.R:345-347, README.md:74-110).
    """
    group_vars = list(group_vars or [])
    ivl_dtype = _validate_roles(x, y, interval_vars, value_vars, group_vars)
    n_g, n_v = len(group_vars), len(value_vars)
    gcols = [f"__g{i}" for i in range(n_g)]
    ygcols = [f"__yg{i}" for i in range(n_g)]
    vcols = [f"__v{i}" for i in range(n_v)]

    xf = {f.name: f.dataType for f in x.schema.fields}
    # Canonical internal frames: collision-free, side-disjoint names,
    # long grid units. (The reference renames to placeholder g*/v*/i*
    # names for the same reason, timeperiod_functions.R:229-232, 252-255.)
    xw = x.select(
        *[F.col(g).alias(gc) for g, gc in zip(group_vars, gcols)],
        _grid(interval_vars[0], xf[interval_vars[0]]).alias("__xs"),
        _grid(interval_vars[1], xf[interval_vars[1]]).alias("__xe"),
        *[F.col(v).cast("double").alias(vc) for v, vc in zip(value_vars, vcols)],
    )
    yf = {f.name: f.dataType for f in y.schema.fields}
    yw = y.select(
        *[F.col(g).alias(gc) for g, gc in zip(group_vars, ygcols)],
        _grid(interval_vars[0], yf[interval_vars[0]]).alias("__ys"),
        _grid(interval_vars[1], yf[interval_vars[1]]).alias("__ye"),
    )

    import time as _time

    def _vlog(msg: str) -> None:
        if verbose:
            print(f"[interval_weighted_avg] {msg}", flush=True)

    if validate:
        _t0 = _time.time()
        _check_y_intervals(yw)
        _vlog(f"y validation (null/reversed/dup scan): {_time.time() - _t0:.2f}s")
        _t0 = _time.time()
        _check_x_integrity(xw, n_g, skip_overlap_check)
        _vlog(
            f"x integrity (null/reversed/dup{'' if skip_overlap_check else '/overlap'}"
            f" scan): {_time.time() - _t0:.2f}s"
        )
    else:
        _vlog("validation skipped (validate=False)")

    caller_join_stats = join_stats is not None
    if join_strategy == "auto" and join_stats is None and n_g:
        # compute the auto picker's stats HERE on the pre-dedup frames:
        # build_overlap_pairs' own fallback would yd.count() and pay
        # the y-dedup shuffle once for planning and again in the join.
        # Pre-dedup ny is an upper bound — it can only steer the pick
        # toward the (safe at any size) bin join.
        _t0 = _time.time()
        _row = xw.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(F.struct(*gcols)).alias("g"),
        ).first()
        join_stats = (_row["n"], yw.count(), _row["g"])
        _vlog(
            f"auto-join stats nx={join_stats[0]} ny<={join_stats[1]} "
            f"groups~{join_stats[2]} ({_time.time() - _t0:.2f}s)"
        )

    yd = yw if assume_y_distinct else yw.dropDuplicates(ygcols + ["__ys", "__ye"])

    # Size-gated per-call persists (pure plan reuse, no semantic
    # effect on any VALUE — but see the gate below). yd always has TWO
    # consumers — the overlap join and the completion join — so
    # unpersisted, the whole y subtree (dedup shuffle included)
    # executes twice. xw gains a second consumer whenever the bin
    # strategy must SAMPLE interval lengths to pick a width (strategy
    # auto/bin with no explicit bin_width): the sample otherwise
    # re-executes the full upstream x pipeline (measured: the r6
    # iwa_orders plan held two live copies of the y distinct+cross
    # subtree). Gated on CALLER-provided join_stats only, never on the
    # auto-computed ones: a persist changes the partition layout
    # feeding the weighted-mean aggregate, which reorders float partial
    # sums — measured flipping a 6dp-boundary mean (2-decimal prices x
    # integer durations land exactly on rounding boundaries) against a
    # differential oracle. Callers that pass join_stats are hot-path
    # production callers opting into physical tuning; size caps keep a
    # 100 TB x from being spooled to cache to save a 10k-row sample.
    if caller_join_stats:
        _nx = join_stats[0] if len(join_stats) > 0 else None
        _ny = join_stats[1] if len(join_stats) > 1 else None
        if (
            _nx is not None
            and int(_nx) <= _X_PERSIST_MAX_ROWS
            and bin_width is None
            and join_strategy in ("auto", "bin")
        ):
            xw = managed_persist(
                xw, "interval_weighted_avg.x", StorageLevel.DISK_ONLY
            )
        if _ny is not None and int(_ny) <= _Y_PERSIST_MAX_ROWS:
            yd = managed_persist(
                yd, "interval_weighted_avg.y", StorageLevel.DISK_ONLY
            )
    _vlog(
        f"plan: join_strategy={join_strategy!r} n_groups={n_g} "
        f"n_values={n_v} y_dedup={not assume_y_distinct} "
        f"required_percentage={required_percentage}"
    )

    # --- pair stage: every (y period, x interval) overlap, inner ---
    pairs = build_overlap_pairs(
        xw,
        yd,
        n_g,
        strategy=join_strategy,
        bin_width=bin_width,
        skew_salt=skew_salt,
        auto_stats=join_stats,
    )

    # clip (O3), weight (O4), per-value weights/products (O5, O6)
    cs = F.greatest("__xs", "__ys")
    ce = F.least("__xe", "__ye")
    dur = (ce - cs + F.lit(1)).alias("__dur")
    enriched = pairs.select(
        *ygcols,
        "__ys",
        "__ye",
        cs.alias("__cs"),
        ce.alias("__ce"),
        dur,
        *vcols,
    ).select(
        *ygcols,
        "__ys",
        "__ye",
        "__cs",
        "__ce",
        "__dur",
        *[
            F.when(F.col(vc).isNotNull(), F.col("__dur")).otherwise(F.lit(0)).alias(f"__nm{i}")
            for i, vc in enumerate(vcols)
        ],
        *[(F.col(vc) * F.col("__dur")).alias(f"__p{i}") for i, vc in enumerate(vcols)],
        *(
            [
                (F.col(vc) * F.col(vc) * F.col("__dur")).alias(f"__q{i}")
                for i, vc in enumerate(vcols)
            ]
            if extra_stats
            else []
        ),
    )

    # grouped hash aggregation (O7) — partial+final, whole-stage codegen
    agg = enriched.groupBy(*ygcols, "__ys", "__ye").agg(
        F.sum("__dur").alias("__xdur"),
        *[F.sum(f"__nm{i}").alias(f"__nobs{i}") for i in range(n_v)],
        *[F.sum(f"__p{i}").alias(f"__sp{i}") for i in range(n_v)],
        *(
            [F.sum(f"__q{i}").alias(f"__sq{i}") for i in range(n_v)]
            if extra_stats
            else []
        ),
        F.min("__cs").alias("__minstart"),
        F.max("__ce").alias("__maxend"),
    )

    # completion join (O10): every deduped y row survives, zero-filled.
    # The agg side is keyed identically; rename to avoid ambiguity.
    agg_r = agg.select(
        *[F.col(g).alias(f"__a{g}") for g in ygcols],
        F.col("__ys").alias("__as"),
        F.col("__ye").alias("__ae"),
        "__xdur",
        *[F.col(f"__nobs{i}") for i in range(n_v)],
        *[F.col(f"__sp{i}") for i in range(n_v)],
        *([F.col(f"__sq{i}") for i in range(n_v)] if extra_stats else []),
        "__minstart",
        "__maxend",
    )
    cond = (F.col("__ys") == F.col("__as")) & (F.col("__ye") == F.col("__ae"))
    for g in ygcols:
        cond = cond & F.col(g).eqNullSafe(F.col(f"__a{g}"))
    joined = yd.join(agg_r, cond, "left")

    ydur = (F.col("__ye") - F.col("__ys") + F.lit(1)).cast("double")
    # O11 sanity invariant (reference stopifnot, timeperiod_functions.R:337):
    # overlapped duration can never exceed the period length. Threaded
    # through the output column (a dropped assert would be pruned); fires
    # at runtime, e.g. if a caller bypasses the overlap check on
    # overlapping x. Costs one comparison per output row.
    xdur_raw = F.coalesce(F.col("__xdur"), F.lit(0)).cast("long")
    xdur = F.when(
        F.assert_true(
            xdur_raw <= ydur,
            F.lit("internal invariant violated: xduration > yduration "
                  "(overlapping x intervals slipped past the check?)"),
        ).isNull(),
        xdur_raw,
    )
    req = F.lit(float(required_percentage))

    out_cols: list[Column] = []
    for g, orig in zip(ygcols, group_vars):
        out_cols.append(F.col(g).alias(orig))
    out_cols.append(_ungrid(F.col("__ys"), ivl_dtype).alias(interval_vars[0]))
    out_cols.append(_ungrid(F.col("__ye"), ivl_dtype).alias(interval_vars[1]))
    for i, v in enumerate(value_vars):
        nobs = F.coalesce(F.col(f"__nobs{i}"), F.lit(0))
        mean = F.col(f"__sp{i}") / nobs  # 0/0 and NULL/0 → NULL (R NaN→NULL)
        masked = F.when(F.lit(100.0) * nobs / ydur < req, F.lit(None)).otherwise(mean)
        out_cols.append(masked.cast("double").alias(v))
    if extra_stats:
        # time-weighted population variance from the second moment,
        # masked identically to the mean (beyond-reference; the tier
        # path's rollup_regular(extra_stats=) is the regular-grid twin)
        for i, v in enumerate(value_vars):
            nobs = F.coalesce(F.col(f"__nobs{i}"), F.lit(0))
            mean = F.col(f"__sp{i}") / nobs
            var = F.col(f"__sq{i}") / nobs - mean * mean
            out_cols.append(
                F.when(F.lit(100.0) * nobs / ydur < req, F.lit(None))
                .otherwise(var)
                .cast("double")
                .alias(f"{v}_var")
            )
    out_cols.append(ydur.alias("yduration"))
    out_cols.append(xdur.alias("xduration"))
    for i, v in enumerate(value_vars):
        out_cols.append(
            F.coalesce(F.col(f"__nobs{i}"), F.lit(0)).cast("long").alias(f"nobs_{v}")
        )
    out_cols.append(_ungrid(F.col("__minstart"), ivl_dtype).alias("xminstart"))
    out_cols.append(_ungrid(F.col("__maxend"), ivl_dtype).alias("xmaxend"))

    out = joined.select(*out_cols)
    if sort_output:
        # O14: the reference returns keyed by (group, start, end)
        # (timeperiod_functions.R:310, :521). Opt-in here — a global
        # sort is a range exchange worth paying only for fixture
        # determinism or sorted sinks.
        out = out.orderBy(*group_vars, *interval_vars)
    return out
