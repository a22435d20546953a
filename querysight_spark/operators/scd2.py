"""Slowly-changing-dimension type-2 maintenance: history build + MERGE.

The warehouse-side complement of the engine's upsert family (A7 pattern
upsert, E7 latest-per-key, ir09/ss13 index upserts): dimension rows keep
FULL history — every attribute change closes the open row
(``valid_to = change time``) and opens a new one — and the day-to-day
operation is an incremental MERGE of a small change batch into a huge
dimension snapshot. The reference's pattern store keeps only
latest-per-key (dataflow/repository.py upsert discipline); SCD2 is what
the same store needs the moment "what did this look like in March"
becomes a query, so it is built here as a first-class operator.

Two paths, pinned equal by pytest and both under the gate:

- ``apply_scd2_history`` — the BATCH path: initial dimension + the full
  update log chained into compressed history in one pass. Plan: one
  union, one hash exchange on the business key, then two windows over
  that SAME partitioning (lag to compress no-op updates, lead to close
  rows) — Catalyst reuses the exchange, so the whole chain is a single
  shuffle regardless of how many updates a key has.
- ``merge_scd2`` — the INCREMENTAL path (MERGE INTO semantics): only
  keys present in the delta are touched. Untouched keys pass through an
  anti-join; touched keys' CLOSED rows pass through unchanged; each
  touched key's open row seeds a re-chain with its delta rows through
  the same window machinery.

Scale notes (100 TB): the batch path is one exchange keyed on the
business key, per-key work bounded by that key's update count. The
incremental path broadcasts the delta's key set (a change batch is
small by definition) so the trillion-row dimension is filtered
map-side; re-chain work is O(open rows of touched keys + delta). With
the dimension bucketed on the key (sources/layout.py), the final
union's writer can dynamic-partition-overwrite only touched buckets —
the tr02 discipline.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SEQ = "__scd2_seq"
_PREV = "__scd2_prev"


def _changed(value_cols: Sequence[str]) -> Column:
    """True when any tracked attribute differs from the previous row.

    Null-safe per column (``<=>`` negated) so NULL -> value and
    value -> NULL transitions count as changes, matching the SQL
    ``IS DISTINCT FROM`` the oracle uses."""
    cond = F.lit(False)
    for c in value_cols:
        cond = cond | ~F.col(c).eqNullSafe(F.col(f"{_PREV}{c}"))
    return cond


def _chain(
    seeds: DataFrame,
    updates: DataFrame,
    key: str,
    value_cols: Sequence[str],
    effective_col: str,
) -> DataFrame:
    """Chain seed rows (seq 0) and update rows (seq 1) per key into
    compressed SCD2 intervals. Both inputs must carry
    (key, *value_cols, effective_col)."""
    tagged = seeds.withColumn(_SEQ, F.lit(0)).unionByName(
        updates.withColumn(_SEQ, F.lit(1))
    )
    w = Window.partitionBy(key).orderBy(effective_col, _SEQ)
    with_prev = tagged.select(
        key,
        *value_cols,
        effective_col,
        _SEQ,
        *[F.lag(c).over(w).alias(f"{_PREV}{c}") for c in value_cols],
        F.row_number().over(w).alias("__rn"),
    )
    kept = with_prev.where((F.col("__rn") == 1) | _changed(value_cols))
    # Same partitioning key -> Catalyst reuses the exchange for this
    # second window; no extra shuffle (pinned in test_plan_inspect).
    return kept.select(
        key,
        *value_cols,
        F.col(effective_col).alias("valid_from"),
        F.lead(effective_col).over(w).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def apply_scd2_history(
    initial: DataFrame,
    updates: DataFrame,
    key: str,
    value_cols: Sequence[str],
    effective_col: str,
    initial_effective,
) -> DataFrame:
    """Batch SCD2: build the full compressed history from an initial
    dimension snapshot plus the complete update log.

    ``initial`` carries (key, *value_cols); every row opens at
    ``initial_effective``. ``updates`` carries
    (key, *value_cols, effective_col) with AT MOST ONE row per
    (key, effective) — pre-aggregate ties, order among them is
    undefined. Updates whose values equal the in-effect row are
    compressed away (classic SCD2 no-op suppression).

    Returns (key, *value_cols, valid_from, valid_to, is_current);
    ``valid_to`` is NULL on the open row."""
    seeds = initial.select(
        key, *value_cols, F.lit(initial_effective).alias(effective_col)
    )
    return _chain(
        seeds,
        updates.select(key, *value_cols, effective_col),
        key,
        value_cols,
        effective_col,
    )


def merge_scd2(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    value_cols: Sequence[str],
    effective_col: str,
) -> DataFrame:
    """Incremental SCD2 MERGE: fold one change batch into an existing
    history snapshot (the output shape of ``apply_scd2_history``).

    Semantics: for each key in ``updates``, re-chain that key's OPEN
    row with its delta rows — closing the open row at the first
    effective change, suppressing no-ops — while closed rows and
    untouched keys pass through byte-identical. Keys new to the
    dimension insert an open row at their first update. Every update's
    ``effective_col`` must be >= the touched key's open ``valid_from``
    (late-arriving rewrites need the batch path).

    Equal to rebuilding with ``apply_scd2_history`` over the full log
    (pinned by pytest across randomized batch splits, and by the wh02
    gate entry against the batch oracle).

    Scale: the delta key set is broadcast so the dimension-side
    semi/anti joins stay map-side — right for the small-batch MERGE."""
    delta_keys = F.broadcast(updates.select(key).distinct())
    untouched = current.join(delta_keys, key, "left_anti")
    touched = current.join(delta_keys, key, "left_semi")
    closed = touched.where(~F.col("is_current"))
    open_rows = touched.where(F.col("is_current")).select(
        key, *value_cols, F.col("valid_from").alias(effective_col)
    )
    rechained = _chain(
        open_rows,
        updates.select(key, *value_cols, effective_col),
        key,
        value_cols,
        effective_col,
    )
    return untouched.unionByName(closed.unionByName(rechained))
