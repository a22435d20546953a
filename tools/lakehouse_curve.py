"""Lakehouse-maintenance cost curves: does merge_into / compact_table
work really track the TOUCHED region, not the table?

Builds a key-clustered versioned table (1M rows, 32 files, zone maps on
the key) and measures, for source selectivities 0.1% / 1% / 10% of the
key space (contiguous low ranges — the zone-prunable shape a
date-partitioned upsert has in production):

  * merge_into (zone-map pruned): wall time + files rewritten
  * delete_keys -> compact_table: compaction time + files rewritten

Each measurement rebuilds the table fresh (merges mutate it). Prints
one JSON line per point; paste the table into SCALE.md.

Usage: python tools/lakehouse_curve.py [n_rows] [n_files]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
N_FILES = int(sys.argv[2]) if len(sys.argv) > 2 else 32


def main() -> None:
    from pyspark.sql import functions as F

    from querysight_spark.session import get_spark
    from querysight_spark.sources.versioned import (
        compact_table,
        delete_keys,
        merge_into,
        read_manifest,
        table_version,
        write_version,
    )

    spark = get_spark(app_name="lakehouse-curve")
    work = tempfile.mkdtemp(prefix="qs_lakehouse_curve_")

    def fresh_table(tag: str) -> str:
        root = os.path.join(work, tag)
        base = spark.range(0, N_ROWS).select(
            "id",
            (F.col("id") * 3 % 997).alias("v"),
            F.concat(F.lit("row-"), F.col("id").cast("string")).alias("pad"),
        )
        write_version(
            spark,
            base.repartitionByRange(N_FILES, "id"),
            root,
            stats_cols=["id"],
        )
        return root

    try:
        for frac in (0.001, 0.01, 0.1):
            hi = int(N_ROWS * frac)
            src = spark.range(0, hi).select(
                "id",
                F.lit(-1).alias("v"),
                F.lit("updated").alias("pad"),
            )
            root = fresh_table(f"m_{frac}")
            t0 = time.time()
            merge_into(spark, src, root, ["id"])
            dt = time.time() - t0
            m = read_manifest(root, table_version(root))
            print(
                json.dumps(
                    {
                        "op": "merge",
                        "selectivity": frac,
                        "sec": round(dt, 2),
                        "files_rewritten": len(m["removed"]),
                        "files_total_before": N_FILES,
                    }
                )
            )
            root = fresh_table(f"d_{frac}")
            delete_keys(spark, root, spark.range(0, hi).select("id"))
            t0 = time.time()
            compact_table(spark, root)
            dt = time.time() - t0
            m = read_manifest(root, table_version(root))
            print(
                json.dumps(
                    {
                        "op": "compact",
                        "selectivity": frac,
                        "sec": round(dt, 2),
                        "files_rewritten": len(m["removed"]),
                        "files_total_before": N_FILES,
                    }
                )
            )
        # incremental zorder: does the re-cluster cost track the DELTA
        # (files appended since the last zorder), not the table? Each
        # point: fully zordered table + one wide-span append of
        # frac*N_ROWS rows; measure incremental vs full rewrite.
        from querysight_spark.sources.versioned import zorder_table

        def zorder_base(tag: str) -> str:
            root = os.path.join(work, tag)
            base = spark.range(0, N_ROWS).select(
                (F.col("id")).alias("x"),
                ((F.col("id") * 2654435761) % N_ROWS).alias("y"),
                F.concat(
                    F.lit("row-"), F.col("id").cast("string")
                ).alias("pad"),
            )
            write_version(
                spark,
                base.repartitionByRange(N_FILES, "x"),
                root,
                stats_cols=["x", "y"],
            )
            zorder_table(spark, root, ["x", "y"], target_files=N_FILES)
            return root

        for frac in (0.001, 0.01, 0.1):
            hi = int(N_ROWS * frac)
            delta = spark.range(0, hi).select(
                ((F.col("id") * 7919) % N_ROWS).alias("x"),
                ((F.col("id") * 104729) % N_ROWS).alias("y"),
                F.lit("delta").alias("pad"),
            )
            for mode in ("incremental", "full"):
                root = zorder_base(f"z_{frac}_{mode}")
                write_version(spark, delta.repartition(2), root)
                t0 = time.time()
                zorder_table(
                    spark, root, ["x", "y"],
                    # size the output to the rewrite set: the delta for
                    # incremental, the whole table for full
                    target_files=(
                        max(2, int(N_FILES * frac))
                        if mode == "incremental"
                        else N_FILES
                    ),
                    incremental=(mode == "incremental"),
                )
                dt = time.time() - t0
                m = read_manifest(root, table_version(root))
                print(
                    json.dumps(
                        {
                            "op": f"zorder_{mode}",
                            "delta_frac": frac,
                            "sec": round(dt, 2),
                            "files_rewritten": len(m["removed"]),
                            "files_total_before": N_FILES + 2,
                        }
                    )
                )
        # key-membership PLANNING curve (round 9): does planning time
        # stay flat as the zone-admitted candidate count grows? Past
        # _KF_DRIVER_LOAD_MAX the probe broadcasts sidecar PATHS and
        # executors load the bitmaps, so the driver does O(candidates)
        # metadata work only. One unclustered-key table per point, all
        # files probed (no stats_cols -> zone stage admits everything).
        from querysight_spark.sources.versioned import _touched_by_keys

        for n_files in (16, 64, 256):
            root = os.path.join(work, f"kf_{n_files}")
            rows = 20_000 * n_files
            base = spark.range(0, rows).select(
                ((F.col("id") * 2654435761) % rows).alias("k"),
                F.col("id").alias("v"),
            )
            write_version(
                spark, base.repartition(n_files), root,
                key_filter_cols=["k"],
            )
            m = read_manifest(root, 1)
            sidecars = sum(
                1 for f in m["kf"].values() if "p" in f.get("k", {})
            )
            keys = spark.createDataFrame(
                [(i * 7919 % rows,) for i in range(8)], "k long"
            )
            t0 = time.time()
            touched, _un = _touched_by_keys(spark, root, m, keys, "k")
            cold = time.time() - t0
            t0 = time.time()
            _touched_by_keys(spark, root, m, keys, "k")
            warm = time.time() - t0  # executor bitmap caches hot
            print(
                json.dumps(
                    {
                        "op": "kf_planning",
                        "candidate_files": n_files,
                        "sidecar_filters": sidecars,
                        "plan_cold_sec": round(cold, 2),
                        "plan_warm_sec": round(warm, 2),
                        "files_touched": len(touched),
                    }
                )
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
