from __future__ import annotations

import pytest

from querysight_spark.operators.quality import expect_report, orphan_keys


def test_expect_report_flags_violations(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (2, 150.0)],
        "id long, v double",
    )
    out = {(r.check, r.column): r for r in expect_report(
        df, not_null=["v"], unique=["id"], bounds={"v": (0.0, 100.0)}
    ).collect()}
    nn = out[("not_null", "v")]
    assert not nn.ok and abs(nn.metric - 1 / 3) < 1e-6
    uq = out[("unique", "id")]
    assert not uq.ok and abs(uq.metric - 1 / 3) < 1e-6  # one dup in 3 rows
    assert out[("min_bound", "v")].ok          # min 5.0 >= 0
    assert not out[("max_bound", "v")].ok      # max 150 > 100


def test_expect_report_all_green(spark):
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    out = expect_report(
        df, not_null=["id", "v"], unique=["id"], bounds={"v": (0.0, 10.0)}
    ).collect()
    assert len(out) == 5 and all(r.ok for r in out)


def test_expect_report_tolerates_null_ratio(spark):
    df = spark.createDataFrame(
        [(i, None if i == 0 else 1.0) for i in range(10)], "id long, v double"
    )
    row = expect_report(df, not_null=["v"], max_null_ratio=0.2).collect()[0]
    assert row.ok and row.metric == 0.1


def test_orphan_keys_returns_only_violations(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99)], "row_id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    got = orphan_keys(child, parent, "fk", "pk").collect()
    assert [(r.fk, r.row_id) for r in got] == [(99, 3)]


def test_orphan_keys_empty_when_clean(spark):
    child = spark.createDataFrame([(1, 10)], "row_id long, fk long")
    parent = spark.createDataFrame([(10,)], "pk long")
    assert orphan_keys(child, parent, "fk", "pk").count() == 0


# ---------------------------------------------------------------------------
# KS drift (operators.quality.ks_drift)
# ---------------------------------------------------------------------------


def test_ks_drift_hand_value_and_decision(spark):
    from querysight_spark.operators.quality import ks_drift

    # A = {1,2,3,4}, B = {3,4,5,6}: ECDFs diverge most at v=2 (1.0-0.0 on
    # A-side cum 2/4 vs 0/4) -> D = 0.5
    rows = [("a", float(v)) for v in (1, 2, 3, 4)] + [
        ("b", float(v)) for v in (3, 4, 5, 6)
    ]
    df = spark.createDataFrame(rows, "g string, value double")
    r = ks_drift(df, "value", "g", "a", "b").collect()[0]
    assert (r.n_a, r.n_b) == (4, 4)
    assert r.ks_stat == 0.5
    # critical = 1.358 * sqrt(8/16) ~= 0.96 -> no drift at n=4
    assert not r.drift


def test_ks_drift_identical_distributions_zero(spark):
    from querysight_spark.operators.quality import ks_drift

    rows = [(g, float(v)) for g in ("a", "b") for v in (1, 2, 2, 5)]
    df = spark.createDataFrame(rows, "g string, value double")
    r = ks_drift(df, "value", "g", "a", "b").collect()[0]
    assert r.ks_stat == 0.0 and not r.drift


def test_ks_drift_detects_large_shift(spark):
    from querysight_spark.operators.quality import ks_drift

    rows = [("a", float(i)) for i in range(100)] + [
        ("b", float(i + 80)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "g string, value double")
    r = ks_drift(df, "value", "g", "a", "b").collect()[0]
    assert r.ks_stat == 0.8  # 80 of 100 values are disjoint
    assert r.drift


def test_mutual_information_perfect_and_independent(spark):
    import math

    from querysight_spark.operators.quality import mutual_information

    # f_perfect = label itself -> I = H(label) = ln(2) for a 50/50 label;
    # f_noise is constant -> I = 0
    rows = [(str(i % 2), str(i % 2), "k") for i in range(8)]
    df = spark.createDataFrame(rows, "label string, f_perfect string, f_noise string")
    out = {
        r.feature: r
        for r in mutual_information(
            df, "label", ["f_perfect", "f_noise"]
        ).collect()
    }
    assert out["f_perfect"].mi == round(math.log(2), 6)
    assert out["f_noise"].mi == 0.0
    assert out["f_perfect"].n_cells == 2 and out["f_noise"].n_cells == 2


def test_mutual_information_never_negative(spark):
    import random

    from querysight_spark.operators.quality import mutual_information

    rng = random.Random(5)
    rows = [
        (rng.choice("ab"), rng.choice("xyz"), rng.choice("pq"))
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "label string, f1 string, f2 string")
    for r in mutual_information(df, "label", ["f1", "f2"]).collect():
        assert r.mi >= 0.0  # MI is nonnegative up to rounding


def test_ks_drift_binned_bounds_exact_on_gate_fixture(spark):
    """The binned statistic evaluates the ECDF gap at bin edges only, so
    it LOWER-bounds the exact D with error <= the largest bin's mass
    (~1/n_bins for quantile bins) — compared here on the real gate
    fixture (events, purchase vs view), per VERDICT r4 ask #6."""
    from querysight_spark.operators.quality import ks_drift, ks_drift_binned
    from querysight_spark.sources.catalog import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_type", "value"
    )
    exact = ks_drift(ev, "value", "event_type", "purchase", "view").collect()[0]
    binned = ks_drift_binned(
        ev, "value", "event_type", "purchase", "view", n_bins=64
    ).collect()[0]
    assert binned.n_a == exact.n_a and binned.n_b == exact.n_b
    assert binned.critical == exact.critical
    # rounded-to-6 outputs: allow the rounding epsilon on the bound
    assert binned.ks_stat <= exact.ks_stat + 1e-6
    assert exact.ks_stat - binned.ks_stat <= 2.0 / 64 + 1e-6
    # both sides of the decision agree at this separation
    assert binned.drift == exact.drift


def test_ks_drift_binned_identical_distributions_zero(spark):
    from querysight_spark.operators.quality import ks_drift_binned

    rows = [(float(i % 13), "a") for i in range(120)] + [
        (float(i % 13), "b") for i in range(120)
    ]
    df = spark.createDataFrame(rows, "value double, g string")
    r = ks_drift_binned(df, "value", "g", "a", "b", n_bins=8).collect()[0]
    assert r.ks_stat == 0.0 and not r.drift


def test_ks_drift_binned_approx_edges_close_to_exact(spark):
    """relative_error switches edge computation to the bounded-memory
    approx_percentile sketch; at a tight epsilon the statistic must sit
    within epsilon + bin mass of the exact-edge variant."""
    from querysight_spark.operators.quality import ks_drift_binned
    from querysight_spark.sources.catalog import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_type", "value"
    )
    exact_edges = ks_drift_binned(
        ev, "value", "event_type", "purchase", "view", n_bins=32
    ).collect()[0]
    approx_edges = ks_drift_binned(
        ev, "value", "event_type", "purchase", "view", n_bins=32,
        relative_error=0.001,
    ).collect()[0]
    assert approx_edges.n_a == exact_edges.n_a
    assert abs(approx_edges.ks_stat - exact_edges.ks_stat) <= 1.0 / 32 + 0.001 + 1e-6
    assert approx_edges.drift == exact_edges.drift


def test_corpus_diff_statuses(spark):
    """Hand vintages: one added, one removed, one changed, one unchanged
    — statuses exact."""
    from querysight_spark.operators.quality import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (3, "c2"), (4, "d")], "doc_id long, text string"
    )
    d = {r.id: r.status for r in corpus_diff(old, new).collect()}
    assert d == {1: "unchanged", 2: "removed", 3: "changed", 4: "added"}


def test_column_profile_one_pass_and_values(spark):
    from querysight_spark.operators.quality import column_profile

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, None, 20.0), (3, "b", None), (4, "a", 30.0)],
        "id long, tag string, val double",
    )
    prof = {r.column: r for r in column_profile(df, ["tag", "val"]).collect()}
    assert prof["tag"].n_rows == 4 and prof["tag"].n_nulls == 1
    assert prof["tag"].n_distinct == 2 and prof["tag"].mean is None
    assert prof["val"].n_nulls == 1 and prof["val"].mean == 20.0
    with pytest.raises(ValueError, match="not in"):
        column_profile(df, ["nope"])


def test_profile_drift_added_removed_and_flags(spark):
    from querysight_spark.operators.quality import column_profile, profile_drift

    old = spark.createDataFrame(
        [(1, "x", 100), (2, "y", 200)], "id long, gone string, v long"
    )
    new = spark.createDataFrame(
        [(1, 1.0, "n"), (2, None, "n")], "id long, v double, fresh string"
    )
    drift = {
        r.column: r
        for r in profile_drift(
            column_profile(old, ["gone", "v"]),
            column_profile(new, ["v", "fresh"]),
        ).collect()
    }
    assert drift["gone"].status == "removed" and drift["gone"].type_changed
    assert drift["fresh"].status == "added" and drift["fresh"].null_drifted
    v = drift["v"]
    assert v.status == "common" and v.type_changed  # bigint -> double
    assert v.null_drifted  # 0 -> 0.5
    assert v.mean_drifted  # 150 -> 1.0
    assert v.null_ratio_new == 0.5 and v.mean_old == 150.0
