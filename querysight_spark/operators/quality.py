"""Data-quality operators: expectation checks over tables (the validation
gate a training pipeline runs before ingesting a new data drop).

Great-Expectations-style checks expressed as ONE aggregation pass per
table: each expectation is a conditional aggregate column, so a 50-check
suite over a 100 TB table costs exactly one scan + one partial/final agg
— never one job per check. Referential checks are left-anti joins (the
orphan side only, no full materialization of the join).

Output contract: one row per check — (check, column, metric, threshold,
ok) — so the report is itself a DataFrame any sink or alerting query can
consume.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _ratio(num: Column, den: Column) -> Column:
    return F.when(den > 0, F.round(num / den.cast("double"), 6)).otherwise(
        F.lit(0.0)
    )


def expect_report(
    df: DataFrame,
    not_null: list[str] = (),
    unique: list[str] = (),
    bounds: dict[str, tuple[float, float]] | None = None,
    max_null_ratio: float = 0.0,
) -> DataFrame:
    """Run a suite of expectations in ONE aggregation pass:

    - ``not_null``: columns whose null ratio must be <= max_null_ratio
    - ``unique``: columns whose distinct count must equal the row count
    - ``bounds``: column -> (lo, hi) inclusive range for min/max

    Returns (check, column, metric, threshold, ok), one row per check."""
    bounds = bounds or {}
    n = F.count(F.lit(1))
    aggs = [n.alias("_n")]
    for c in not_null:
        aggs.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"_null_{c}")
        )
    for c in unique:
        aggs.append(F.countDistinct(c).alias(f"_dist_{c}"))
    for c in bounds:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"_min_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"_max_{c}"))
    # every check row SELECTs off this 1-row aggregate; persist it or each
    # union branch re-executes the whole scan+agg (6 checks were measured
    # as 6 FileScans — the exact failure the one-pass design exists to
    # avoid)
    from pyspark.storagelevel import StorageLevel

    stats = df.agg(*aggs).persist(StorageLevel.MEMORY_AND_DISK)

    rows = []
    for c in not_null:
        ratio = _ratio(F.col(f"_null_{c}"), F.col("_n"))
        rows.append(
            (F.lit("not_null"), F.lit(c), ratio, F.lit(float(max_null_ratio)),
             ratio <= max_null_ratio)
        )
    for c in unique:
        dup = _ratio(F.col("_n") - F.col(f"_dist_{c}"), F.col("_n"))
        rows.append(
            (F.lit("unique"), F.lit(c), dup, F.lit(0.0), dup <= 0.0)
        )
    for c, (lo, hi) in bounds.items():
        rows.append(
            (F.lit("min_bound"), F.lit(c), F.round(F.col(f"_min_{c}"), 6),
             F.lit(float(lo)), F.col(f"_min_{c}") >= lo)
        )
        rows.append(
            (F.lit("max_bound"), F.lit(c), F.round(F.col(f"_max_{c}"), 6),
             F.lit(float(hi)), F.col(f"_max_{c}") <= hi)
        )
    checks = None
    for check, col, metric, thr, ok in rows:
        one = stats.select(
            check.alias("check"),
            col.alias("column"),
            metric.cast("double").alias("metric"),
            thr.alias("threshold"),
            ok.alias("ok"),
        )
        checks = one if checks is None else checks.unionByName(one)
    return checks


def orphan_keys(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """Referential-integrity check: child rows whose key has no parent.
    A left-anti join — only the orphans materialize; at scale this is a
    broadcast-anti when the parent key set is small, shuffle-anti
    otherwise, either way no wider than the violation set."""
    return child.join(
        parent.select(F.col(parent_key).alias(child_key)).distinct(),
        on=child_key,
        how="left_anti",
    )


def ks_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    critical_coeff: float = 1.358,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift check between the ``value_col``
    distributions of two groups: one row with (n_a, n_b, ks_stat,
    critical, drift). ks_stat = max over observed values v of
    |ECDF_a(v) - ECDF_b(v)|; ``drift`` compares it against the
    large-sample critical value c * sqrt((n_a+n_b)/(n_a*n_b))
    (c = 1.358 at alpha = 0.05). The production use: compare a metric's
    distribution across corpus vintages / pipeline stages and alarm on
    shift — mean/stddev checks (dq01) miss shape changes; KS doesn't.

    EXACT, no sampling: group per distinct value (distinct metric values
    are bounded in practice — far fewer than rows), one cumulative window
    over that distinct-value table, integer cumulative counts so the
    statistic is engine-reproducible. The ordered window runs on the
    DISTINCT table, not the stream; for metrics with unbounded distinct
    values, pre-bin (vx02) before calling."""
    from pyspark.sql import Window

    tagged = df.where(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value_col).alias("v"),
        (F.col(group_col) == group_a).cast("long").alias("a"),
    )
    # the distinct-value table feeds BOTH the ECDF window and the totals
    # agg — localCheckpoint (not a session-lived persist, which leaks the
    # cached blocks until LRU pressure) so the stream is scanned once
    per_v = tagged.groupBy("v").agg(
        F.sum("a").alias("ca"),
        F.sum(F.lit(1) - F.col("a")).alias("cb"),
    ).localCheckpoint(eager=True)
    # totals from the (small) distinct-value table, not a second pass
    # over the stream: sums of per-value group counts == group sizes
    totals = per_v.agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = per_v.select(
        F.sum("ca").over(w).alias("cum_a"), F.sum("cb").over(w).alias("cum_b")
    ).crossJoin(F.broadcast(totals))
    return ecdf.agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.round(
            F.max(
                F.abs(
                    F.col("cum_a") / F.col("n_a") - F.col("cum_b") / F.col("n_b")
                )
            ),
            6,
        ).alias("ks_stat"),
        F.round(
            F.lit(critical_coeff)
            * F.sqrt(
                (F.first("n_a") + F.first("n_b"))
                / (F.first("n_a") * F.first("n_b"))
            ),
            6,
        ).alias("critical"),
        (
            F.max(
                F.abs(
                    F.col("cum_a") / F.col("n_a") - F.col("cum_b") / F.col("n_b")
                )
            )
            > F.lit(critical_coeff)
            * F.sqrt(
                (F.first("n_a") + F.first("n_b"))
                / (F.first("n_a") * F.first("n_b"))
            )
        ).alias("drift"),
    )


def ks_drift_binned(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    n_bins: int = 64,
    critical_coeff: float = 1.358,
) -> DataFrame:
    """``ks_drift``'s scale path: bucket by interpolated quantile edges
    of the combined sample, then run the KS max-gap on the <= ``n_bins``
    cumulative bin table instead of the distinct-value table. The binned
    statistic evaluates the ECDF gap at the bin edges only, so
    ks_stat_binned <= exact D and the underestimate is bounded by the
    largest bin's probability mass (~1/n_bins for quantile bins) — pick
    n_bins so that bound sits below the critical value's resolution.
    Same output contract as ks_drift ((n_a, n_b, ks_stat, critical,
    drift)); the ordered ECDF window runs over <= n_bins rows whatever
    the corpus size.

    Edge computation is the remaining cardinality-sensitive stage: the
    EXACT ``percentile`` (the vx02 percentile <-> quantile_cont parity
    that makes the an06 gate hash-checkable) merges a distinct-value
    counts map on one final task — fine for bounded-distinct metrics."""
    from pyspark.sql import Window

    tagged = df.where(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value_col).cast("double").alias("v"),
        (F.col(group_col) == group_a).cast("long").alias("a"),
    )
    probs = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    edges = tagged.agg(F.expr(f"percentile(v, array({probs}))").alias("edges"))
    # bucket = how many edges the value has passed (0..n_bins-1): the
    # 1-row edge array broadcasts onto the stream, bucketing is one
    # JVM-side size(filter(...)) per row, and the heavy groupBy shuffles
    # <= n_bins keys
    binned = tagged.crossJoin(F.broadcast(edges)).select(
        F.expr("size(filter(edges, e -> v >= e))").alias("bucket"),
        "a",
    )
    per_b = binned.groupBy("bucket").agg(
        F.sum("a").alias("ca"),
        F.sum(F.lit(1) - F.col("a")).alias("cb"),
    )
    totals = per_b.agg(F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = per_b.select(
        F.sum("ca").over(w).alias("cum_a"), F.sum("cb").over(w).alias("cum_b")
    ).crossJoin(F.broadcast(totals))
    gap = F.abs(F.col("cum_a") / F.col("n_a") - F.col("cum_b") / F.col("n_b"))
    crit = F.lit(critical_coeff) * F.sqrt(
        (F.first("n_a") + F.first("n_b")) / (F.first("n_a") * F.first("n_b"))
    )
    return ecdf.agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.round(F.max(gap), 6).alias("ks_stat"),
        F.round(crit, 6).alias("critical"),
        (F.max(gap) > crit).alias("drift"),
    )


def mutual_information(
    df: DataFrame,
    label_col: str,
    feature_cols: list[str],
) -> DataFrame:
    """Mutual information I(feature; label) per categorical feature, in
    nats: one row (feature, n_cells, mi) per feature, the
    feature-selection ranking for curation classifiers (which cheap
    signals actually predict the label before training anything).

    I = sum over (x, y) cells of p_xy * ln(p_xy / (p_x * p_y)), with
    every probability an exact count ratio and the cell sum an ORDERED
    fold over (x, y) — the ir03 float discipline, so the statistic is
    engine-reproducible. Plan per feature: one (feature, label) hash agg
    + two margin aggs joined back; features loop as a small union, each
    its own scan-pruned column pair."""
    out = None
    for fc in feature_cols:
        # four consumers (margins x2, total, scored join) — checkpoint the
        # (cells-sized, tiny) contingency table so the corpus scan runs
        # once per feature, not four times (r5 plan-audit finding)
        cells = (
            df.select(
                F.col(fc).cast("string").alias("x"),
                F.col(label_col).cast("string").alias("y"),
            )
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint(eager=True)
        )
        fx = cells.groupBy("x").agg(F.sum("c").alias("cx"))
        fy = cells.groupBy("y").agg(F.sum("c").alias("cy"))
        tot = cells.agg(F.sum("c").alias("n"))
        scored = (
            cells.join(fx, "x")
            .join(fy, "y")
            .crossJoin(F.broadcast(tot))
            .select(
                "x",
                "y",
                (
                    (F.col("c") / F.col("n"))
                    * F.log(
                        (F.col("c") * F.col("n")).cast("double")
                        / (F.col("cx") * F.col("cy")).cast("double")
                    )
                ).alias("term"),
            )
        )
        mi = scored.agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(x, y, term))), "
                "s -> s.term), 0.0D, (acc, t) -> acc + t)"
            ).alias("mi_raw"),
        ).select(
            F.lit(fc).alias("feature"),
            F.col("n_cells").cast("long").alias("n_cells"),
            F.round("mi_raw", 6).alias("mi"),
        )
        out = mi if out is None else out.unionByName(mi)
    return out


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Vintage diff between two corpus snapshots — the training-data ops
    question "what changed since the last crawl": one row per id with
    status ``added`` (only in new), ``removed`` (only in old),
    ``changed`` (both, content hash differs), ``unchanged``. Content
    compares by md5, so the full text never joins — two narrow
    (id, hash) projections meet in one full-outer equi-join on the id
    (a column-pruned scan on each side; at 100 TB this is the standard
    snapshot-reconciliation shape, shuffle keyed by id only)."""
    o = old.select(
        F.col(id_col).alias("id"), F.md5(F.col(content_col)).alias("h_old")
    )
    n = new.select(
        F.col(id_col).alias("id"), F.md5(F.col(content_col)).alias("h_new")
    )
    j = o.join(n, "id", "full_outer")
    return j.select(
        "id",
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def mad_outliers(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    id_col: str = "event_id",
    k: float = 3.0,
    method: str = "exact",
    accuracy: int = 10000,
) -> DataFrame:
    """Robust outlier flags per group: median absolute deviation. A row
    is flagged when |x - median| > k * MAD — the standard-deviation-free
    test that a handful of extreme rows cannot drag (the failure mode of
    z-score trims on heavy-tailed quality signals).

    Three narrow passes over the table, each a pushdown-friendly scan,
    with only GROUP-CARDINALITY state between them: (1) exact per-group
    median, (2) exact median of |x - median| with the medians broadcast
    on, (3) the flag scan with the (group, med, mad) stats broadcast.
    The exact ``percentile`` is the gate/oracle path (interpolation
    parity with DuckDB quantile_cont, the vx02 precedent); at 100 TB
    swap both calls for ``approx_percentile`` and the shape is a single
    pass per statistic with bounded sketch state. Groups whose MAD is 0
    (>= half the group at the median) flag nothing, matching the
    oracle's ``mad > 0`` guard.

    ``method='approx'`` IS that 100 TB path made concrete: both medians
    come from ``approx_percentile`` (bounded KLL-style sketch state,
    partial-aggregated — a single pass per statistic, no per-group value
    sort), trading exact flag boundaries for scan economy; an08 gate-
    checks the drift between the two methods within a declared
    tolerance."""
    if method not in ("exact", "approx"):
        raise ValueError(f"method must be 'exact' or 'approx', got {method!r}")
    if method == "exact":
        p50 = lambda c: F.expr(f"percentile({c}, 0.5D)")  # noqa: E731
    else:
        p50 = lambda c: F.expr(  # noqa: E731
            f"approx_percentile({c}, 0.5D, {int(accuracy)})"
        ).cast("double")
    med = df.groupBy(group_col).agg(p50(value_col).alias("med"))
    stats = (
        df.join(F.broadcast(med), group_col)
        .groupBy(group_col)
        .agg(
            p50(f"abs({value_col} - med)").alias("mad"),
            F.first("med").alias("med"),
        )
    )
    dev = F.abs(F.col(value_col) - F.col("med"))
    return (
        df.join(F.broadcast(stats), group_col)
        .where((F.col("mad") > 0) & (dev > F.lit(float(k)) * F.col("mad")))
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col(value_col),
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            F.round(dev / F.col("mad"), 6).alias("score"),
        )
    )


_NUMERIC_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal"
)


def column_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column profile in ONE aggregation pass (the expect_report
    discipline): returns (column, dtype, n_rows, n_nulls, n_distinct,
    mean), one row per requested column. ``mean`` is NULL for
    non-numeric columns. Exact COUNT(DISTINCT) — swap in
    approx_count_distinct at the marked seam when cardinality itself
    is the bottleneck (the sk01 trade, tolerance then gate-checked the
    an08 way)."""
    dtypes = dict(df.dtypes)
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(f"column_profile: {missing} not in {sorted(dtypes)}")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"_null_{c}"))
        aggs.append(F.countDistinct(c).alias(f"_dist_{c}"))  # exactness seam
        if dtypes[c].startswith(_NUMERIC_PREFIXES):
            aggs.append(F.avg(F.col(c).cast("double")).alias(f"_mean_{c}"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"_mean_{c}"))
    from pyspark.storagelevel import StorageLevel

    stats = df.agg(*aggs).persist(StorageLevel.MEMORY_AND_DISK)
    out = None
    for c in cols:
        one = stats.select(
            F.lit(c).alias("column"),
            F.lit(dtypes[c]).alias("dtype"),
            F.col("_n").alias("n_rows"),
            F.col(f"_null_{c}").alias("n_nulls"),
            F.col(f"_dist_{c}").alias("n_distinct"),
            F.col(f"_mean_{c}").alias("mean"),
        )
        out = one if out is None else out.unionByName(one)
    return out


def profile_drift(
    old_profile: DataFrame,
    new_profile: DataFrame,
    null_tol: float = 0.01,
    mean_rel_tol: float = 0.02,
) -> DataFrame:
    """Schema + statistics drift between two vintages' column profiles
    (``column_profile`` output): one full-outer join on column name.
    Emits per column — status ('common'/'added'/'removed'),
    type_changed, floored null ratios (FLOOR(x*1e6)/1e6, the tie-free
    rounding ts05 documents), distinct counts, floored means, and two
    verdicts: null_drifted (absolute ratio delta > null_tol) and
    mean_drifted (relative mean shift > mean_rel_tol; NULL-safe FALSE
    for non-numerics). The check a 100 TB ingest runs between
    yesterday's corpus and today's drop before any training job reads
    it — two single-pass profiles and a columns-sized join, never a
    row-level diff (dq03 is the row-level complement)."""
    f6 = lambda col: F.floor(col * 1e6) / 1e6  # noqa: E731
    o, n = old_profile.alias("o"), new_profile.alias("n")
    j = o.join(n, "column", "full_outer")
    null_o = f6(F.col("o.n_nulls") / F.col("o.n_rows"))
    null_n = f6(F.col("n.n_nulls") / F.col("n.n_rows"))
    mean_o, mean_n = f6(F.col("o.mean")), f6(F.col("n.mean"))
    rel_shift = F.abs(F.col("n.mean") - F.col("o.mean")) / F.abs(F.col("o.mean"))
    return j.select(
        "column",
        F.when(F.col("o.dtype").isNull(), F.lit("added"))
        .when(F.col("n.dtype").isNull(), F.lit("removed"))
        .otherwise(F.lit("common"))
        .alias("status"),
        F.coalesce(F.col("o.dtype") != F.col("n.dtype"), F.lit(True)).alias(
            "type_changed"
        ),
        null_o.alias("null_ratio_old"),
        null_n.alias("null_ratio_new"),
        F.col("o.n_distinct").alias("n_distinct_old"),
        F.col("n.n_distinct").alias("n_distinct_new"),
        mean_o.alias("mean_old"),
        mean_n.alias("mean_new"),
        F.coalesce(
            F.abs(null_n - null_o) > F.lit(float(null_tol)), F.lit(True)
        ).alias("null_drifted"),
        F.coalesce(rel_shift > F.lit(float(mean_rel_tol)), F.lit(False)).alias(
            "mean_drifted"
        ),
    )
