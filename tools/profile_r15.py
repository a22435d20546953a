"""Round-15 optimization profiler: per-query noop-sink timing + formatted
plans (output under plans/r15/).

For each named queries() entry this times the computation against the
noop sink (guide §1.4 — ``df.write.format("noop")`` computes every column
of every row, unlike ``.count()`` which lets Catalyst prune), best-of-3
after one untimed warm run, and writes ``plans/r15/<name>_<tag>.txt``
with the ``explain("formatted")`` output so plan claims are checkable
without running Spark.

``--split`` additionally reports, per probe, the CONSTRUCTION time (the
queries()/ANN_BENCH callable itself: metadata load, LUT build,
createDataFrame, plan analysis) separately from the ACTION time
(optimize + codegen + execute on a pre-built frame) — the decomposition
behind VERDICT r14 ask #4 (ANN probe driver latency).

Usage:
  python tools/profile_r15.py <tag> name [name ...]      # tag = before|after
  python tools/profile_r15.py --time-only name [...]     # no plan files
  python tools/profile_r15.py --split name [...]         # build/exec split
  SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS honored as in bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_TIMED = 3


def main() -> None:
    args = [a for a in sys.argv[1:] if a]
    time_only = "--time-only" in args
    split = "--split" in args
    if time_only:
        args.remove("--time-only")
        tag, names = None, args
    elif split:
        args.remove("--split")
        tag, names = None, args
    else:
        tag, names = args[0], args[1:]

    import __spark_entry__ as entrymod
    from querysight_spark.extension_queries import ANN_BENCH
    from querysight_spark.session import get_spark

    spark = get_spark(app_name="qs-profile-r15")
    qs = entrymod.queries()
    # warm the scan path once (same discipline as bench.py)
    qs["p01_scan_filter_project"](spark, SF_DIR).count()

    out: dict[str, dict] = {}
    for name in names:
        if name in ANN_BENCH:
            prepare, probe = ANN_BENCH[name]
            prepare(spark, SF_DIR)  # untimed, same as bench.py
            fn = probe
        else:
            fn = qs[name]

        spark.sparkContext.setJobDescription(name)
        if split:
            # one untimed warm pass of each phase
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            build = exec_ = float("inf")
            for _ in range(N_TIMED):
                t0 = time.time()
                df = fn(spark, SF_DIR)
                t1 = time.time()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
                build = min(build, t1 - t0)
                exec_ = min(exec_, t2 - t1)
            out[name] = {"build": round(build, 3), "exec": round(exec_, 3)}
        else:
            def run():
                df = fn(spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()

            t0 = time.time()
            run()
            cold = time.time() - t0
            best = float("inf")
            for _ in range(N_TIMED):
                t0 = time.time()
                run()
                best = min(best, time.time() - t0)
            out[name] = {"cold": round(cold, 3), "best": round(best, 3)}
        spark.sparkContext.setJobDescription(None)
        if tag is not None:
            df = fn(spark, SF_DIR)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            path = os.path.join(REPO, "plans", "r15", f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(txt)
        print(json.dumps({name: out[name]}), flush=True)
    print("TOTAL " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
