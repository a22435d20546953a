"""Time-series operators: resample + gap-fill, weighted moving averages,
trailing-window anomaly detection.

The reference has no time-series layer (its only time handling is the B2
time-range predicate, /root/reference/utils/data_acquisition.py:86-99);
these are the ops a metrics/feature pipeline needs once events become
training signals — regular grids for sequence models, smoothed features,
outlier rows dropped before aggregation.

Scale notes (100 TB):
- The hourly grid is generated per key with ``sequence()`` + ``explode`` —
  map-side, no shuffle beyond the per-key agg that precedes it; grid size
  is (span-hours × keys), never (rows).
- Forward-fill and the trailing-window stats are single ``Window.partitionBy
  (key).orderBy(time)`` passes — one shuffle on the key, each partition
  streamed in time order (Spark's window operator sorts within partitions;
  with a range-partitioned/bucketed layout on the key the exchange
  disappears entirely, see sources/layout.py).
- The WMA uses a fixed bank of ``lag()`` taps instead of a join against a
  weight table: k extra columns per row, zero extra shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def resample_hourly(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key hourly buckets: (key, hour, n_events, sum_value). The base
    aggregation every grid/fill below builds on. One partial+final hash agg."""
    return events.groupBy(
        key_col, F.date_trunc("hour", F.col(ts_col)).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(value_col).alias("sum_value"),
    )


def gap_fill_forward(
    hourly: DataFrame,
    key_col: str = "user_id",
    hour_col: str = "hour",
) -> DataFrame:
    """Complete each key's hourly grid from its own min to max hour and
    forward-fill the value columns over the gaps.

    Missing hours appear with ``n_events = 0`` and ``sum_value`` carried
    forward from the last observed hour (classic last-observation-carried-
    forward resampling). The grid is built with ``sequence(min, max,
    1 hour)`` + ``explode`` off a per-key min/max agg — its size is
    span-hours × keys regardless of the input row count, and the fill is
    one window pass ordered by hour within each key."""
    # hourly feeds BOTH the span agg and the join probe; without a persist
    # the whole upstream (raw scan + agg) executes twice — measured as 2
    # FileScans with no ReusedExchange. The agg output is keys x hours
    # small, so pinning it costs little and halves the raw-event reads.
    hourly = hourly.persist(StorageLevel.MEMORY_AND_DISK)
    span = hourly.groupBy(key_col).agg(
        F.min(hour_col).alias("_lo"), F.max(hour_col).alias("_hi")
    )
    grid = span.select(
        key_col,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.expr("interval 1 hour"))
        ).alias(hour_col),
    )
    joined = grid.join(hourly, on=[key_col, hour_col], how="left")
    w = (
        Window.partitionBy(key_col)
        .orderBy(hour_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key_col,
        hour_col,
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_ff"),
        F.col("sum_value").isNull().alias("filled"),
    )


def weighted_moving_average(
    events: DataFrame,
    weights: list[float],
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    value_col: str = "value",
) -> DataFrame:
    """Finite-impulse-response smoothing: wma_t = Σ_k weights[k] · x_{t-k},
    normalized by the weight mass actually available (so the first rows of
    each key are averages of what exists, not biased low).

    ``weights[0]`` multiplies the current row. Implemented as a bank of
    ``lag()`` taps in ONE window pass — no self-join, no weight-table
    shuffle; an EWMA is the ``weights=[a*(1-a)**k ...]`` special case
    truncated at len(weights) taps."""
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    x = F.col(value_col)
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k, wk in enumerate(weights):
        tap = x if k == 0 else F.lag(x, k).over(w)
        num = num + F.when(tap.isNotNull(), F.lit(wk) * tap).otherwise(F.lit(0.0))
        den = den + F.when(tap.isNotNull(), F.lit(wk)).otherwise(F.lit(0.0))
    return events.select(
        key_col,
        *[c for c in order_cols if c != key_col],
        x.alias(value_col),
        # den == 0 only when every tap is NULL; emit NULL, not an ANSI
        # divide-by-zero error (Spark 4 default)
        F.when(den > 0, num / den).alias("wma"),
    )


def trailing_anomalies(
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    value_col: str = "value",
    lookback: int = 20,
    z_threshold: float = 3.0,
    min_history: int = 5,
) -> DataFrame:
    """Flag rows whose value deviates > ``z_threshold`` sample standard
    deviations from the mean of the previous ``lookback`` rows of the same
    key (the row itself excluded, so a spike can't mask itself).

    Rows with fewer than ``min_history`` prior observations are never
    flagged (the trailing std is meaningless at n=2). One window pass per
    key; the ROWS frame keeps state bounded at ``lookback`` rows per task
    regardless of key size."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-lookback, -1)
    )
    x = F.col(value_col)
    mean = F.avg(x).over(w)
    std = F.stddev_samp(x).over(w)
    nhist = F.count(x).over(w)
    # constant history -> std == 0: such rows are filtered anyway, but the
    # division must not raise under ANSI mode
    z = F.when(std > 0, (x - mean) / std)
    return (
        events.select(
            key_col,
            *[c for c in order_cols if c != key_col],
            x.alias(value_col),
            F.round(mean, 6).alias("trailing_mean"),
            F.round(std, 6).alias("trailing_std"),
            nhist.alias("n_history"),
            F.round(z, 6).alias("zscore"),
        )
        .where(
            (F.col("n_history") >= min_history)
            & (F.col("trailing_std") > 0)
            & (F.abs(F.col("zscore")) > z_threshold)
        )
    )


def gap_fill_linear(
    hourly: DataFrame,
    key_col: str = "user_id",
    hour_col: str = "hour",
    value_col: str = "sum_value",
) -> DataFrame:
    """Complete each key's hourly grid and LINEARLY interpolate the value
    over gaps (the resampling mode for continuous signals, where
    forward-fill's step function is wrong). Edges degrade gracefully:
    before the first observation the next value is used, after the last
    the previous one.

    Same grid construction as ``gap_fill_forward``; the interpolation
    needs the previous AND next observed (hour, value) per row — two
    window passes over the same (key, hour) sort, so Spark plans one
    exchange + one sort feeding both window operators."""
    hourly = hourly.persist(StorageLevel.MEMORY_AND_DISK)  # see gap_fill_forward
    span = hourly.groupBy(key_col).agg(
        F.min(hour_col).alias("_lo"), F.max(hour_col).alias("_hi")
    )
    grid = span.select(
        key_col,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.expr("interval 1 hour"))
        ).alias(hour_col),
    )
    j = grid.join(hourly, on=[key_col, hour_col], how="left")
    v = F.col(value_col)
    h = F.col(hour_col).cast("long")
    wb = (
        Window.partitionBy(key_col)
        .orderBy(hour_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(key_col)
        .orderBy(hour_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    pv = F.last(v, ignorenulls=True).over(wb)
    ph = F.last(F.when(v.isNotNull(), h), ignorenulls=True).over(wb)
    nv = F.first(v, ignorenulls=True).over(wf)
    nh = F.first(F.when(v.isNotNull(), h), ignorenulls=True).over(wf)
    interp = (
        F.when(v.isNotNull(), v)
        .when(pv.isNull(), nv)
        .when(nv.isNull(), pv)
        .otherwise(pv + (nv - pv) * (h - ph) / (nh - ph))
    )
    return j.select(
        key_col,
        hour_col,
        v.isNull().alias("filled"),
        interp.alias("value_interp"),
    )


def seasonal_profile(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Hour-of-day seasonal profile per group: (group, hod, n, mean,
    std). Moments are computed from DECIMAL-cast sums (exact for
    2-decimal metrics), so the profile is digit-identical on any engine
    and the anomaly threshold derived from it is deterministic."""
    v = F.col(value_col).cast("decimal(18,2)")
    v2 = (F.col(value_col).cast("decimal(18,2)") * F.col(value_col).cast("decimal(18,2)"))
    g = events.groupBy(
        group_col, F.hour(F.col(ts_col)).alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("_s"),
        F.sum(v2).cast("double").alias("_sq"),
    )
    mean = F.col("_s") / F.col("n")
    var = (F.col("_sq") - F.col("_s") * F.col("_s") / F.col("n")) / (
        F.col("n") - 1
    )
    return g.select(
        group_col,
        "hod",
        "n",
        mean.alias("mean"),
        F.when(F.col("n") > 1, F.sqrt(var)).alias("std"),
    )


def deseasonalized_anomalies(
    events: DataFrame,
    profile: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Flag rows whose value deviates > z_threshold·std from THEIR
    seasonal slot's mean (the calendar-aware counterpart of the trailing
    window in ``trailing_anomalies``: a nightly lull is not an anomaly at
    3 am, and a 3 am spike isn't excused by the daily average). One
    broadcast join of the (groups × 24)-row profile onto the stream."""
    keyed = events.withColumn("hod", F.hour(F.col(ts_col)))
    j = keyed.join(F.broadcast(profile), [group_col, "hod"])
    resid = F.col(value_col) - F.col("mean")
    return j.where(
        F.col("std").isNotNull()
        & (F.col("std") > 0)
        & (F.abs(resid) > F.lit(z_threshold) * F.col("std"))
    ).select(
        group_col,
        "hod",
        F.col(ts_col),
        "event_id",
        F.col(value_col),
        F.round("mean", 6).alias("slot_mean"),
        F.round("std", 6).alias("slot_std"),
        F.round(resid / F.col("std"), 6).alias("zscore"),
    )


def ewma(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.25,
) -> DataFrame:
    """Per-row exponentially-weighted moving average per key:
    y_1 = x_1, y_t = alpha * x_t + (1 - alpha) * y_{t-1} over the
    (ts, tiebreak) order. Returns (key, tiebreak, ts, value, ewma).

    The recursion is computed as ONE left fold per key that carries the
    whole prefix (collect ordered values -> F.aggregate appending
    ``alpha*x + (1-alpha)*last`` to the accumulator array -> explode
    aligned with the input order). A left fold fixes the float op ORDER,
    so the result is bit-reproducible across runs/engines (the ir03/px01
    ordered-fold discipline) — a window SUM of alpha*(1-alpha)^k terms
    would not be.

    One shuffle (the groupBy), map-side everything else. State is one
    key's series in memory — same per-key boundedness contract as the
    session/window operators. The accumulator-array append makes the
    fold O(n^2) in the KEY length — fine for the per-user series here,
    painful for million-row keys; the ts05/ts06 oracles pin the fold's
    bit-exact op order, so no reordered formulation can replace it.
    """
    a = float(alpha)
    seq = df.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(ts_col).alias("ts"),
                    F.col(tiebreak_col).alias("tb"),
                    F.col(value_col).cast("double").alias("v"),
                )
            )
        ).alias("seq")
    )
    folded = F.expr(
        f"aggregate(slice(seq, 2, size(seq) - 1), "
        f"array(double(seq[0].v)), "
        f"(acc, s) -> array_append(acc, {a}D * s.v + {1.0 - a}D * element_at(acc, -1)))"
    )
    out = seq.select(
        F.col(key_col),
        F.arrays_zip(F.col("seq"), folded.alias("ew")).alias("z"),
    ).select(key_col, F.explode("z").alias("r"))
    return out.select(
        F.col(key_col),
        F.col("r.seq.tb").alias(tiebreak_col),
        F.col("r.seq.ts").alias(ts_col),
        F.col("r.seq.v").alias(value_col),
        F.col("r.ew").alias("ewma"),
    )


def brown_double_smoothing(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.5,
) -> DataFrame:
    """Brown's linear (double) exponential smoothing per key, final
    state: (key, n, s1, s2, level, trend, forecast) over the
    (ts, tiebreak) order, where s1 = EWMA(x), s2 = EWMA(s1) (both
    initialized at the first element), level = 2*s1 - s2, trend =
    alpha/(1-alpha) * (s1 - s2), forecast = level + trend (one step
    ahead). The trend-aware upgrade of ``ewma`` for drifting metrics.

    Why Brown and not Holt: Holt's coupled recursion (b_t needs BOTH
    l_t and l_{t-1}) requires a struct accumulator whose fields
    cross-reference each other — DuckDB's list_reduce evaluates struct
    fields sequentially and REBINDS acc fields as it goes, so the same
    lambda text computes a different recursion than Spark's aggregate()
    (measured, not theorized). Brown's model needs only two INDEPENDENT
    scalar folds — the ts05 ordered-fold discipline, engine-reproducible
    by construction — and spans the same level+trend model class. One
    shuffle; per-key state is the key's series (ewma's contract)."""
    a = float(alpha)
    seq = df.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(ts_col).alias("ts"),
                    F.col(tiebreak_col).alias("tb"),
                    F.col(value_col).cast("double").alias("v"),
                )
            )
        ).alias("seq")
    )
    s1_arr = F.expr(
        f"aggregate(slice(seq, 2, size(seq) - 1), "
        f"array(double(seq[0].v)), "
        f"(acc, s) -> array_append(acc, {a}D * s.v + {1.0 - a}D * element_at(acc, -1)))"
    ).alias("s1_arr")
    base = seq.select(F.col(key_col), F.size("seq").alias("n"), s1_arr)
    s1 = F.element_at("s1_arr", -1)
    s2 = F.expr(
        f"aggregate(slice(s1_arr, 2, size(s1_arr) - 1), "
        f"double(s1_arr[0]), "
        f"(acc, x) -> {a}D * x + {1.0 - a}D * acc)"
    )
    u6 = lambda c: F.floor(c * 1000000) / 1000000  # noqa: E731 — ts05 tie rule
    coeff = a / (1.0 - a)
    return base.select(
        key_col,
        F.col("n").cast("long").alias("n"),
        u6(s1).alias("s1"),
        u6(s2).alias("s2"),
        u6(F.lit(2.0) * s1 - s2).alias("level"),
        u6(F.lit(coeff) * (s1 - s2)).alias("trend"),
        u6((F.lit(2.0) * s1 - s2) + F.lit(coeff) * (s1 - s2)).alias("forecast"),
    )


def cusum_breaches(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
    slack_k: float = 0.5,
    threshold_h: float = 5.0,
) -> DataFrame:
    """Upper-CUSUM change-point detection per key: with mu = the key's
    series mean and sigma = its population stddev,

        s_0 = 0,  s_t = max(0, s_{t-1} + ((x_t - mu)/sigma - k))

    and a row BREACHES when s_t > h — the standard drift detector for a
    sustained upward shift (a single spike decays, a level change
    accumulates). Returns only the breaching rows (key, tiebreak, ts,
    value, cusum), keeping the output alarm-sized.

    Two passes over one shuffle's worth of state: the mean/std come from
    the same grouped fold that orders the series, and the CUSUM is a
    SCALAR ordered left fold (engine-portable — struct accumulators are
    not, see brown_double_smoothing) carried as a running prefix array.
    mu/sigma use exact integer-weighted sums (sum/sumsq of 2-decimal
    inputs are exact in doubles), so both engines standardize
    identically."""
    kk, hh = float(slack_k), float(threshold_h)
    seq = df.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(ts_col).alias("ts"),
                    F.col(tiebreak_col).alias("tb"),
                    F.col(value_col).cast("double").alias("v"),
                )
            )
        ).alias("seq")
    )
    n = F.size("seq")
    mu = F.expr("aggregate(seq, 0.0D, (a, s) -> a + s.v)") / n
    var = (
        F.expr("aggregate(seq, 0.0D, (a, s) -> a + s.v * s.v)") / n
    ) - mu * mu
    base = seq.select(
        F.col(key_col),
        "seq",
        mu.alias("mu"),
        F.sqrt(var).alias("sigma"),
    ).where(F.col("sigma") > 0)
    # the sigma>0 filter does NOT stop ANSI mode evaluating the fold's
    # division on filtered rows (Catalyst may collapse the projection past
    # the filter) — nullif() inside the fold makes sigma=0 keys yield NULL
    # cusum, which the breach predicate then drops, same as the oracle's
    # WHERE sigma > 0
    cus = F.expr(
        f"aggregate(slice(seq, 2, size(seq) - 1), "
        f"array(greatest(0.0D, (double(seq[0].v) - mu) / nullif(sigma, 0.0D) - {kk}D)), "
        f"(acc, s) -> array_append(acc, "
        f"greatest(0.0D, element_at(acc, -1) + ((s.v - mu) / nullif(sigma, 0.0D) - {kk}D))))"
    ).alias("cus")
    rows = base.select(
        F.col(key_col),
        F.arrays_zip(F.col("seq"), cus).alias("z"),
    ).select(key_col, F.explode("z").alias("r"))
    return rows.where(F.col("r.cus") > hh).select(
        F.col(key_col),
        F.col("r.seq.tb").alias(tiebreak_col),
        F.col("r.seq.ts").alias(ts_col),
        F.col("r.seq.v").alias(value_col),
        (F.floor(F.col("r.cus") * 1000000) / 1000000).alias("cusum"),
    )


def ohlc_bars(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    value_col: str = "value",
    bar: str = "hour",
) -> DataFrame:
    """OHLC candlestick downsampling: per (key, time bar) the open/close
    (first/last value in (ts, tiebreak) order), high/low, event count
    and an EXACT bar total — the classic tick->bar compression that
    turns a raw event firehose into fixed-grid sequence-model input.

    One groupBy((key, date_trunc(bar))) aggregation — fully map-side
    combinable, one shuffle whose width is bars x keys, never rows.
    open/close are ``min_by``/``max_by`` on the (ts, tiebreak) struct, so
    ties at the same timestamp resolve deterministically without a sort
    or window. The bar total is summed as DECIMAL(18,2), not double:
    decimal addition is exact and associative, so the result is
    independent of partial-aggregation order on any cluster size — the
    scale-safe discipline for money-like columns (a double sum is
    order-dependent in the last ulp and would not hash-match an oracle).
    """
    bar_ts = F.date_trunc(bar, F.col(ts_col))
    ordk = F.struct(F.col(ts_col), F.col(tiebreak_col))
    v = F.col(value_col).cast("double")
    return df.groupBy(F.col(key_col), bar_ts.alias("bar_ts")).agg(
        F.min_by(v, ordk).alias("open_v"),
        F.max(v).alias("high_v"),
        F.min(v).alias("low_v"),
        F.max_by(v, ordk).alias("close_v"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(18,2)"))
        .cast("double")
        .alias("total_v"),
    )
