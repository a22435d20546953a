from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from querysight_spark.operators.timeseries import (
    gap_fill_forward,
    resample_hourly,
    trailing_anomalies,
    weighted_moving_average,
)


def _h(hour: int, minute: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, hour, minute)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )


def test_gap_fill_inserts_missing_hours_and_carries_value(spark):
    ev = _events(
        spark,
        [
            (1, _h(0, 10), 7, 10.0),
            (2, _h(0, 40), 7, 5.0),
            # hours 1 and 2 missing entirely for user 7
            (3, _h(3, 5), 7, 2.0),
            (4, _h(1, 0), 8, 1.0),  # single-hour user: no gaps
        ],
    )
    out = gap_fill_forward(resample_hourly(ev)).orderBy("user_id", "hour")
    rows = [r.asDict() for r in out.collect()]
    u7 = [r for r in rows if r["user_id"] == 7]
    assert [r["hour"].hour for r in u7] == [0, 1, 2, 3]
    assert [r["n_events"] for r in u7] == [2, 0, 0, 1]
    # gaps carry the last observed sum forward and are marked filled
    assert [r["sum_value_ff"] for r in u7] == [15.0, 15.0, 15.0, 2.0]
    assert [r["filled"] for r in u7] == [False, True, True, False]
    u8 = [r for r in rows if r["user_id"] == 8]
    assert len(u8) == 1 and u8[0]["filled"] is False


def test_wma_normalizes_partial_history(spark):
    ev = _events(
        spark,
        [(i, _h(0, i), 1, float(v)) for i, v in enumerate([10, 20, 30, 40, 50])],
    )
    out = (
        weighted_moving_average(ev, [0.4, 0.3, 0.2, 0.1])
        .orderBy("event_id")
        .collect()
    )
    # first row: only the current tap exists -> wma == value exactly
    assert abs(out[0]["wma"] - 10.0) < 1e-12
    # second row: (0.4*20 + 0.3*10) / 0.7
    assert abs(out[1]["wma"] - (0.4 * 20 + 0.3 * 10) / 0.7) < 1e-12
    # steady state: full 4-tap window, weights sum to 1
    expect = 0.4 * 50 + 0.3 * 40 + 0.2 * 30 + 0.1 * 20
    assert abs(out[4]["wma"] - expect) < 1e-12


def test_trailing_anomaly_flags_spike_not_itself_masked(spark):
    base = [(i, _h(0, i), 1, 10.0 + (i % 3)) for i in range(10)]
    spike = [(99, _h(1, 0), 1, 500.0)]
    after = [(100, _h(1, 1), 1, 11.0)]
    ev = _events(spark, base + spike + after)
    out = trailing_anomalies(ev, lookback=20, z_threshold=3.0, min_history=5)
    flagged = [r["event_id"] for r in out.collect()]
    # the spike is flagged against the stable history...
    assert flagged == [99]
    # ...and a normal row right after is NOT flagged even though the spike
    # inflated the trailing std (it raises the std, never lowers |z| past 3)


def test_trailing_anomaly_needs_history(spark):
    # 3 wild rows then a spike: n_history < 5 at the spike -> never flagged
    ev = _events(
        spark,
        [(0, _h(0, 0), 1, 1.0), (1, _h(0, 1), 1, 2.0), (2, _h(0, 2), 1, 1.5),
         (3, _h(0, 3), 1, 900.0)],
    )
    assert trailing_anomalies(ev).count() == 0


def test_gap_fill_grid_is_spanwise_not_rowwise(spark):
    # 2 events 100 hours apart -> grid has 101 rows, 99 filled
    ev = _events(
        spark,
        [(1, dt.datetime(2024, 1, 1, 0), 1, 1.0),
         (2, dt.datetime(2024, 1, 5, 4), 1, 2.0)],
    )
    out = gap_fill_forward(resample_hourly(ev))
    assert out.count() == 101
    assert out.where(F.col("filled")).count() == 99


def test_gap_fill_linear_interpolates_and_edges(spark):
    import datetime as dt

    from querysight_spark.operators.timeseries import gap_fill_linear

    hourly = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0), 10.0),
            # hours 1,2,3 missing -> linear ramp toward 50 at hour 4
            (1, dt.datetime(2024, 1, 1, 4), 50.0),
        ],
        "user_id long, hour timestamp, sum_value double",
    )
    out = {r.hour.hour: r for r in gap_fill_linear(hourly).collect()}
    assert [out[h].value_interp for h in range(5)] == [10.0, 20.0, 30.0, 40.0, 50.0]
    assert [out[h].filled for h in range(5)] == [False, True, True, True, False]


def test_seasonal_profile_flags_out_of_slot_values(spark):
    import datetime as dt

    from querysight_spark.operators.timeseries import (
        deseasonalized_anomalies,
        seasonal_profile,
    )

    rows = []
    eid = 0
    # hour 3 runs cold (~5), hour 12 runs hot (~100): neither is anomalous
    for day in range(1, 11):
        for hod, base in ((3, 5.0), (12, 100.0)):
            rows.append((eid, dt.datetime(2024, 1, day, hod), 1, "view",
                         base + (day % 3)))
            eid += 1
    # a "hot" value at 3am IS an anomaly even though it's normal at noon
    rows.append((999, dt.datetime(2024, 1, 15, 3), 1, "view", 100.0))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double"
    )
    prof = seasonal_profile(ev)
    flagged = deseasonalized_anomalies(ev, prof).collect()
    assert [r.event_id for r in flagged] == [999]
    assert flagged[0].hod == 3 and flagged[0].zscore > 3


def test_ewma_hand_values_and_order(spark):
    import datetime as dt

    from querysight_spark.operators.timeseries import ewma

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("u", 2, t0 + dt.timedelta(hours=1), 2.0),
        ("u", 1, t0, 4.0),  # out of order on purpose: ts sorts first
        ("u", 3, t0 + dt.timedelta(hours=2), 8.0),
        ("v", 9, t0, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp, value double"
    )
    out = {
        (r.user_id, r.event_id): r.ewma
        for r in ewma(df, "user_id", "ts", "event_id", "value", 0.25).collect()
    }
    # y1 = 4; y2 = .25*2 + .75*4 = 3.5; y3 = .25*8 + .75*3.5 = 4.625
    assert out[("u", 1)] == 4.0
    assert out[("u", 2)] == 3.5
    assert out[("u", 3)] == 4.625
    assert out[("v", 9)] == 5.0  # singleton key: y1 = x1


def test_ewma_ties_broken_by_tiebreak_col(spark):
    import datetime as dt

    from querysight_spark.operators.timeseries import ewma

    t0 = dt.datetime(2024, 1, 1)
    rows = [("u", 2, t0, 10.0), ("u", 1, t0, 0.0)]  # same ts
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp, value double"
    )
    out = {
        r.event_id: r.ewma
        for r in ewma(df, "user_id", "ts", "event_id", "value", 0.5).collect()
    }
    assert out[1] == 0.0 and out[2] == 5.0  # event_id 1 folds first


def test_brown_smoothing_hand_values(spark):
    import datetime as dt

    from querysight_spark.operators.timeseries import brown_double_smoothing

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("u", i + 1, t0 + dt.timedelta(hours=i), float(v))
        for i, v in enumerate([1, 2, 4, 8])
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp, value double"
    )
    r = brown_double_smoothing(df, alpha=0.5).collect()[0]
    # s1 series: 1, 1.5, 2.75, 5.375 -> s1 = 5.375
    # s2 = EWMA of that series = 3.6875
    # level = 2*5.375 - 3.6875 = 7.0625; trend = 1.0*(s1-s2) = 1.6875
    assert r.n == 4
    assert r.s1 == 5.375 and r.s2 == 3.6875
    assert r.level == 7.0625 and r.trend == 1.6875
    assert r.forecast == 8.75


def test_brown_smoothing_constant_series_no_trend(spark):
    import datetime as dt

    from querysight_spark.operators.timeseries import brown_double_smoothing

    t0 = dt.datetime(2024, 1, 1)
    rows = [("u", i, t0 + dt.timedelta(hours=i), 3.5) for i in range(6)]
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp, value double"
    )
    r = brown_double_smoothing(df).collect()[0]
    assert r.level == 3.5 and r.trend == 0.0 and r.forecast == 3.5


def test_cusum_flags_sustained_shift_not_single_spike(spark):
    import datetime as dt

    from querysight_spark.operators.timeseries import cusum_breaches

    t0 = dt.datetime(2024, 1, 1)

    def series(uid, vals):
        return [
            (uid, i, t0 + dt.timedelta(hours=i), float(v))
            for i, v in enumerate(vals)
        ]

    # "shift": flat 10s then a sustained jump to 14 -> CUSUM accumulates
    # (z ~ +1.8 per post-shift row at k=0.5, so ~5 rows to breach h=5)
    # "spike": one 20 in a sea of 10s -> a single excursion decays,
    #          never reaching h
    rows = series("shift", [10] * 12 + [14] * 12) + series(
        "spike", [10] * 12 + [20] + [10] * 11
    )
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp, value double"
    )
    out = cusum_breaches(df, slack_k=0.5, threshold_h=5.0).collect()
    users = {r.user_id for r in out}
    assert users == {"shift"}
    # breaches only appear after the level change, and cusum is
    # monotonically growing across them (no decay while shifted)
    evs = sorted(r.event_id for r in out if r.user_id == "shift")
    assert min(evs) >= 12
    cus = [r.cusum for r in sorted(out, key=lambda r: r.event_id)]
    assert cus == sorted(cus)


def test_cusum_constant_series_excluded(spark):
    import datetime as dt

    from querysight_spark.operators.timeseries import cusum_breaches

    t0 = dt.datetime(2024, 1, 1)
    rows = [("c", i, t0 + dt.timedelta(hours=i), 5.0) for i in range(10)]
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp, value double"
    )
    # sigma = 0 -> key excluded entirely rather than dividing by zero
    assert cusum_breaches(df).count() == 0
