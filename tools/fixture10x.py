"""Whole-query scaling exponents at a 10x (sf1-equivalent) fixture
(VERDICT r5 ask #3): tools/scale_curve.py measures per-OPERATOR growth
curves, but no whole HEADLINE query had a measured exponent — this runs
every headline_v1 + headline_v2 query at sf0.1 and at a 10x-grown
fixture and prints the observed exponent per query
(log10(t_10x / t_sf01)); 1.0 = linear, anything well above is a
super-linear outlier to triage.

Fixture (built once into the temp dir, keyed to the sf0.1 corpus identity):
every table grown 10x the way the corpus actually grows —
 * facts (events / orders / lineitem / customer / supplier / part /
   documents / embeddings): 10 key-shifted copies with FOREIGN KEYS
   SHIFTED CONSISTENTLY (copy c of lineitem points at copy c of
   orders/part/supplier), so join cardinalities scale like a real sf1;
 * names tagged per copy (a real corpus does not have 10 customers
   sharing every name — untagged copies would inflate linkage blocks
   quadratically BY FIXTURE CONSTRUCTION, not operator behavior);
 * document text re-written per copy through distinct affine
   substitution ciphers (tools/text_curve.py's growth model) so the
   shingle vocabulary genuinely grows ~10x;
 * dims (region / nation) stay fixed, as in TPC-H.
Tables are written as SINGLE parquet files (DuckDB COPY) matching the
testdata layout — the streaming entries symlink `{table}.parquet` as a
file, so a directory-per-table fixture would break them.

Usage: python tools/fixture10x.py [name_filter...]
Prints one JSON line per query; paste the table into SCALE.md.
"""

from __future__ import annotations

import json
import os
import string
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
MULT = 10

_ALPHA = string.ascii_lowercase
_COPRIMES = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]


def _cipher(c: int) -> str:
    a = _COPRIMES[c % len(_COPRIMES)]
    b = c // len(_COPRIMES)
    return "".join(_ALPHA[(a * i + b) % 26] for i in range(26))


def build_fixture() -> str:
    import duckdb

    from querysight_spark.sources.catalog import fixture_dir, mark_built

    # v2: p_name copy-tagged (v1 left 10 copies of every part name, which
    # inflated lk03's name blocks quadratically by construction)
    out, built = fixture_dir(SRC, "events", "sf1_fixture_v2")
    if built:
        return out
    os.makedirs(out)
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SRC}/{t}.parquet'"
        )

    def copy(sql: str, name: str) -> None:
        con.execute(
            f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)"
        )

    # dims: unchanged
    copy("SELECT * FROM region", "region")
    copy("SELECT * FROM nation", "nation")
    # key shifts: customer +1e7, supplier +1e6, part +1e7, orders +1e9,
    # events ids +1e9 / users +1e6, documents +1e7, embeddings +1e7
    copy(
        """SELECT c_custkey + c * 10000000 AS c_custkey,
                  c_name || '~' || c AS c_name,
                  c_nationkey, c_acctbal, c_mktsegment
           FROM customer CROSS JOIN range(10) t(c)""",
        "customer",
    )
    copy(
        """SELECT s_suppkey + c * 1000000 AS s_suppkey,
                  s_name || '~' || c AS s_name, s_nationkey, s_acctbal
           FROM supplier CROSS JOIN range(10) t(c)""",
        "supplier",
    )
    copy(
        """SELECT p_partkey + c * 10000000 AS p_partkey,
                  CASE WHEN c = 0 THEN p_name
                       ELSE p_name || '~' || c END AS p_name,
                  p_brand, p_type, p_size, p_retailprice
           FROM part CROSS JOIN range(10) t(c)""",
        "part",
    )
    copy(
        """SELECT o_orderkey + c * 1000000000 AS o_orderkey,
                  o_custkey + c * 10000000 AS o_custkey,
                  o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
           FROM orders CROSS JOIN range(10) t(c)""",
        "orders",
    )
    copy(
        """SELECT l_orderkey + c * 1000000000 AS l_orderkey,
                  l_partkey + c * 10000000 AS l_partkey,
                  l_suppkey + c * 1000000 AS l_suppkey,
                  l_linenumber, l_quantity, l_extendedprice, l_discount,
                  l_tax, l_returnflag, l_linestatus, l_shipdate
           FROM lineitem CROSS JOIN range(10) t(c)""",
        "lineitem",
    )
    copy(
        """SELECT event_id + c * 1000000000 AS event_id, ts,
                  user_id + c * 1000000 AS user_id,
                  event_type, value, props
           FROM events CROSS JOIN range(10) t(c)""",
        "events",
    )
    cipher_cases = " ".join(
        f"WHEN {c} THEN translate(text, '{_ALPHA}', '{_cipher(c)}')"
        for c in range(1, MULT)
    )
    copy(
        f"""SELECT doc_id + c * 10000000 AS doc_id,
                   CASE c WHEN 0 THEN text {cipher_cases} END AS text,
                   lang, source, n_chars
            FROM documents CROSS JOIN range(10) t(c)""",
        "documents",
    )
    copy(
        """SELECT vec_id + c * 10000000 AS vec_id, embedding, label
           FROM embeddings CROSS JOIN range(10) t(c)""",
        "embeddings",
    )
    con.close()
    mark_built(out)
    return out


def main() -> int:
    import math

    import __spark_entry__ as entrymod
    from bench import HEADLINE, HEADLINE_V2
    from querysight_spark.session import get_spark

    args = sys.argv[1:]
    # --entries: measure ANY gate entries (exact-name filters against the
    # full queries() inventory) instead of the headline lists — used for
    # the per-round "new additions" exponent tables in SCALE.md
    all_entries = "--entries" in args
    filters = [a for a in args if a != "--entries"]
    fixture = build_fixture()
    print(json.dumps({"fixture": fixture}), flush=True)
    spark = get_spark(app_name="fixture10x")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    def timed(run) -> float:
        run()  # compile + warm (bench.py discipline)
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            run()
            best = min(best, time.time() - t0)
        return best

    names = sorted(qs) if all_entries else list(HEADLINE + HEADLINE_V2)
    for name in names:
        if filters and not any(f in name for f in filters):
            continue
        t1 = timed(lambda: qs[name](spark, SRC).count())
        t10 = timed(lambda: qs[name](spark, fixture).count())
        exp = math.log10(max(t10, 1e-4) / max(t1, 1e-4))
        print(
            json.dumps(
                {
                    "query": name,
                    "sf0.1_sec": round(t1, 3),
                    "x10_sec": round(t10, 3),
                    "exponent": round(exp, 2),
                }
            ),
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
