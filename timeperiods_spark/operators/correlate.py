"""Lagged cross-correlation between gridded series.

Pearson correlation of series a at period t with series b at period
t + lag, for a declared set of (a, b) pairs and integer lags — lead/lag
discovery between signals (does deploys' error rate lead user drops by
k days?), autocorrelation when a == b. The reference's interval algebra
has no order-aware pairing operator (timeperiod_functions.R covers
overlap joins only); this is the standard companion any timeseries
store ships.

Scale shape: the input is a GRIDDED series (one row per series x
period — typically a tier rollup output, already tiny relative to raw
data). The pair table broadcasts (it is a declared literal), the lag
fan-out multiplies the a-side by len(lags) before the shuffle, and the
lagged pairing is an EQUI join — Catalyst extracts
``(series, period + lag) = (series, period)`` as plain join keys, so
the plan is one shuffle join plus one hash aggregate keyed
(series_a, series_b, lag); no range predicate, no window, no cartesian.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from ..errors import RoleValidationError
from ..plans.cachectl import managed_persist


def cross_correlation(
    df: DataFrame,
    period_col: str,
    value_col: str,
    series_col: str,
    *,
    pairs: Sequence[Tuple[str, str]],
    lags: Sequence[int],
    min_overlap: int = 2,
) -> DataFrame:
    """Per (series_a, series_b, lag): ``n_overlap`` (periods where both
    sides observe a non-NULL value) and ``xcorr`` — the Pearson
    correlation of a(t) with b(t + lag).

    - ``pairs``: the (a, b) series-name pairs to correlate; a == b
      gives the autocorrelation function at the requested lags.
    - ``lags``: integer period offsets (0, positive, or negative).
    - Bars with fewer than ``min_overlap`` paired observations are
      dropped (Pearson needs >= 2 points; degenerate (zero-variance)
      windows yield NULL ``xcorr``, never NaN, so results compare
      cleanly across engines).
    """
    pairs = [(str(a), str(b)) for a, b in pairs]
    lags = [int(k) for k in lags]
    if not pairs or not lags:
        raise RoleValidationError("pairs and lags must be non-empty")
    if min_overlap < 2:
        raise RoleValidationError("min_overlap must be >= 2")
    spark = df.sparkSession
    pair_df = spark.createDataFrame(pairs, ["series_a", "series_b"])

    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(series_col).cast("string").alias("__s"),
        F.col(period_col).cast("long").alias("__p"),
        F.col(value_col).cast("double").alias("__v"),
    )
    # both join sides consume the narrow series frame: persist so the
    # upstream pipeline (typically a tier rollup) executes once per
    # call instead of twice
    base = managed_persist(
        base, "cross_correlation.base", StorageLevel.DISK_ONLY
    )
    a = (
        base.join(F.broadcast(pair_df), F.col("__s") == F.col("series_a"))
        .withColumn("lag", F.explode(F.array(*[F.lit(k) for k in lags])))
        .select(
            "series_a",
            "series_b",
            "lag",
            (F.col("__p") + F.col("lag")).alias("__pb"),
            F.col("__v").alias("__va"),
        )
    )
    b = base.select(
        F.col("__s").alias("__sb"),
        F.col("__p").alias("__pb"),
        F.col("__v").alias("__vb"),
    )
    joined = a.join(b, (a["series_b"] == b["__sb"]) & (a["__pb"] == b["__pb"]))
    # corr assembled from the Welford-style co-moment aggregates rather
    # than F.corr: ANSI mode makes corr RAISE on a zero-variance side,
    # while try_divide turns the degenerate case into NULL (the SQL
    # engines' corr semantics)
    agg = joined.groupBy("series_a", "series_b", "lag").agg(
        F.count(F.lit(1)).alias("n_overlap"),
        F.covar_samp("__va", "__vb").alias("__cov"),
        F.stddev_samp("__va").alias("__sa"),
        F.stddev_samp("__vb").alias("__sb"),
    )
    return agg.filter(F.col("n_overlap") >= int(min_overlap)).select(
        "series_a",
        "series_b",
        "lag",
        "n_overlap",
        F.try_divide(F.col("__cov"), F.col("__sa") * F.col("__sb")).alias("xcorr"),
    )
