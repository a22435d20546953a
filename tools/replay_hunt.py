"""Randomized CDC replay hunt (round 14).

The in-repo hypothesis property (tests/test_round14_ops.py) runs 6
DERANDOMIZED examples of length <= 4 per CI run — deliberately cheap.
This harness runs the same replay protocol over random
seeds with op logs up to length 6, which is what caught X203 (seed 33:
delete -> compact -> rollback re-adding DV-covered files) and X204
(seed 94: DV-only rollback transitions) after the derandomized
examples passed. Worth one ~100-seed run per round after any
versioned.py change: python tools/replay_hunt.py <seed_from> <seed_to>
"""
import random, sys, traceback
sys.path.insert(0, "/root/repo")
import tempfile, os
from pyspark.sql import functions as F
from querysight_spark.session import get_spark
from querysight_spark.sources.versioned import (
    compact_table, delete_keys, evolve_table_schema, merge_into,
    optimize_table, read_changes, read_version, rollback, table_version,
    write_version, zorder_table,
)

spark = get_spark(app_name="replay-hunt", master="local[8]", shuffle_partitions=8)

def _kv(ids):
    return spark.createDataFrame([(int(i), int(i) * 10) for i in ids], "id long, v long")

OPS = ["append", "merge", "delete", "compact", "optimize", "zorder", "evolve", "rollback", "overwrite"]

def run_case(seed):
    rng = random.Random(seed)
    ops = [(rng.choice(OPS), rng.randint(0, 5)) for _ in range(rng.randint(2, 6))]
    root = os.path.join(tempfile.mkdtemp(), "t")
    write_version(spark, _kv(range(0, 12)).repartition(2), root)
    for kind, arg in ops:
        try:
            if kind == "append":
                write_version(spark, _kv(range(100 + arg * 10, 104 + arg * 10)), root)
            elif kind == "merge":
                upd = spark.createDataFrame(
                    [(int(i), int(i) * 1000 + arg) for i in range(arg, arg + 6)],
                    "id long, v long")
                merge_into(spark, upd, root, ["id"])
            elif kind == "delete":
                m = max(2, arg)
                delete_keys(spark, root,
                    spark.range(0, 200).where((F.col("id") % m) == 0).select("id"))
            elif kind == "compact":
                compact_table(spark, root)
            elif kind == "optimize":
                optimize_table(spark, root, min_rows_per_file=100)
            elif kind == "zorder":
                zorder_table(spark, root, ["id", "v"])
            elif kind == "evolve":
                evolve_table_schema(spark, root, {f"w{arg}": "long"})
            elif kind == "overwrite":
                write_version(
                    spark, _kv(range(arg, arg + 8)).repartition(2), root,
                    mode="overwrite",
                )
            else:  # rollback
                cur = table_version(root)
                target = max(1, cur - max(1, arg % 4))
                if target < cur:
                    rollback(root, target)
        except ValueError:
            continue
    V = table_version(root)
    def snap(v):
        return {r["id"]: r["v"] for r in read_version(spark, root, v).collect()}
    prev = snap(1)
    for v in range(2, V + 1):
        cur = snap(v)
        try:
            events = read_changes(spark, root, v - 1, v, key_cols=["id"]).collect()
        except ValueError:
            assert cur == prev, f"v{v}: silent commit moved rows (ops={ops})"
            prev = cur
            continue
        state = dict(prev)
        for r in events:
            ct = r["_change_type"]
            if ct == "insert":
                state[r["id"]] = r["v"]
            elif ct == "delete":
                assert state.pop(r["id"], None) is not None, f"v{v}: delete of absent key {r['id']} (ops={ops})"
            elif ct == "update_pre":
                assert state.get(r["id"]) == r["v"], f"v{v}: wrong pre-image {r['id']} (ops={ops})"
            else:
                state[r["id"]] = r["v"]
        assert state == cur, f"v{v}: replay != snapshot (ops={ops})"
        prev = cur
    return ops

fails = 0
for seed in range(int(sys.argv[1]), int(sys.argv[2])):
    try:
        ops = run_case(seed)
        print(f"seed {seed}: OK  {ops}", flush=True)
    except AssertionError as e:
        fails += 1
        print(f"seed {seed}: FAIL {e}", flush=True)
    except Exception as e:
        fails += 1
        print(f"seed {seed}: ERROR {type(e).__name__}: {str(e)[:300]}", flush=True)
        traceback.print_exc()
print("fails:", fails)
