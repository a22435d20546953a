"""Vector arithmetic helpers shared by dedup and similarity operators.

Two dot-product strategies with IDENTICAL numeric results:
  * ``dot_unrolled(a, b, dim)`` — an explicit left-associated sum of
    element products. Pure codegen arithmetic (no higher-order functions),
    ~10× faster than the fold below; requires the dimension statically.
  * ``dot_fold(a, b)`` — aggregate(zip_with(...)) sequential fold for
    unknown dimensions.

Both accumulate left-to-right from index 0, which is also how DuckDB's
list_dot_product accumulates — so results are bit-identical across the
three paths (the fold's leading 0.0+x0 is exact), and the oracle gate can
hash-match either.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _elem_sql(vec_sql: str, i: int) -> str:
    return f"CAST(element_at(`{vec_sql}`, {i}) AS DOUBLE)"


def _dot_sql(vec_sql: str, factors) -> str:
    """``Σ_i vec[i] · factors[i]`` as one left-associated SQL sum, each
    vector element cast to double (cast-then-index == index-then-cast)."""
    return " + ".join(
        f"({_elem_sql(vec_sql, i)} * {x})" for i, x in enumerate(factors, 1)
    )


def dot_query_sql(vec_sql: str, q: list[float]) -> str:
    """``vec · literal-query`` as ONE SQL string (r14, the _adc_sum
    precedent): building the unrolled chain with PySpark Column ops
    costs ~4 py4j round-trips per dimension of pure DRIVER latency —
    measured ~1 s per brute_force_topk plan at dim 64 — while one parse
    of the equivalent string is milliseconds. Same left-associated
    addition order; ``repr(float)`` round-trips through Spark's double
    literal ('…D' suffix) bit-exactly.

    The query's values are literals of the plan, so every new query
    vector compiles new codegen classes. ``brute_force_topk`` and so
    every PQ/IVF-PQ rerank read the query as data instead
    (``dot_column_sql``). The literal form stays where the data form
    buys nothing: the LSH probes (their median stayed ≈350 ms with the
    column form: the query row's broadcast job costs about what the
    compile saves), the graph-beam scorer (a query row would add one
    broadcast per hop), ``ivf_topk`` and ``grouped_topk``."""
    return _dot_sql(vec_sql, (f"{x!r}D" for x in q))


def dot_column_sql(vec_sql: str, q_sql: str, dim: int) -> str:
    """``vec · q`` with ``q`` an ``array<double>`` COLUMN (typically
    carried by a broadcast one-row local relation): the plan text is the
    same for every query vector, so a new query re-uses the compiled
    codegen classes. Same left-associated order and the same double
    products as ``dot_query_sql``, so scores are bit-identical."""
    return _dot_sql(
        vec_sql, (f"element_at(`{q_sql}`, {i})" for i in range(1, dim + 1))
    )


def dot_self_sql(vec_sql: str, dim: int) -> str:
    """``vec · vec`` (squared norm) as one SQL string; see dot_query_sql."""
    return " + ".join(
        f"({_elem_sql(vec_sql, i)} * {_elem_sql(vec_sql, i)})"
        for i in range(1, dim + 1)
    )


def cosine_vs_query(vec_sql: str, q: list[float], qn: float) -> Column:
    """round(cosine(vec, q), 6) against a LITERAL query, built as two
    parsed SQL strings. The literals stay for the callers listed in
    ``dot_query_sql``; see ``cosine_vs_column`` for the query-as-data
    form."""
    return F.round(
        F.expr(dot_query_sql(vec_sql, q))
        / (F.sqrt(F.expr(dot_self_sql(vec_sql, len(q)))) * F.lit(qn)),
        6,
    )


def cosine_vs_column(vec_sql: str, q_sql: str, qn_sql: str, dim: int) -> Column:
    """round(cosine(vec, q), 6) with the query vector ``q_sql`` and its
    norm ``qn_sql`` read from columns, as ONE parsed SQL string. The
    expression tree is ``cosine_vs_query``'s with each literal replaced
    by the column holding the same double, so the rounded scores are
    bit-identical while the plan no longer depends on the query."""
    return F.expr(
        f"round(({dot_column_sql(vec_sql, q_sql, dim)}) / "
        f"(sqrt({dot_self_sql(vec_sql, dim)}) * `{qn_sql}`), 6)"
    )


def dot_fold(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    out: Column | None = None
    for i in range(1, dim + 1):
        term = F.element_at(a, i) * F.element_at(b, i)
        out = term if out is None else (out + term)
    assert out is not None
    return out


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot_unrolled(a, b, dim) if dim else dot_fold(a, b)


def norm(v: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(v, v, dim))


def feature_correlation(
    emb,
    vec_id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_dims: int = 8,
):
    """Pairwise Pearson correlation between the first ``n_dims`` embedding
    dimensions — the redundancy scan run before feature pruning / PCA /
    OPQ rotation training (near-duplicate dimensions waste codebook
    bits; see similarity.py's OPQ notes).

    The d*(d-1)/2 cross products are generated MAP-SIDE from each row's
    array (one struct per pair, no exploded self-join — the oracle's
    ex-JOIN-ex shape is the naive plan this operator exists to avoid),
    so the only exchange carries pair-keyed products. Per-dimension
    sums/sumsqs ride the same exploded stream as vx01, and both folds
    are ORDERED over vec_id (the px01 discipline) so the statistics are
    digit-for-digit portable; at 100 TB swap the ordered folds for plain
    partial-aggregated sums — (d^2)-row state per partition, one
    exchange — and accept last-ulp nondeterminism. Output is the
    bounded d*(d-1)/2-row correlation table; constant dimensions yield
    NULL (denominator guard), matching the oracle."""
    from pyspark.sql import functions as F

    pairs = [(i, j) for i in range(n_dims) for j in range(i + 1, n_dims)]
    vid = F.col(vec_id_col)
    arr = F.col(emb_col)

    def _ordered_sum(value_col):
        vals = F.transform(
            F.array_sort(F.collect_list(F.struct(vid.alias("o"), value_col.alias("x")))),
            lambda s: s["x"],
        )
        return F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)

    ex = emb.select(
        vid, F.posexplode(F.slice(arr, 1, n_dims)).alias("pos", "v0")
    ).select(vid, "pos", F.col("v0").cast("double").alias("v"))
    st = ex.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        _ordered_sum(F.col("v")).alias("s"),
        _ordered_sum(F.col("v") * F.col("v")).alias("sq"),
    )
    prod = emb.select(
        vid,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        F.lit(j).alias("j"),
                        (
                            F.element_at(arr, i + 1).cast("double")
                            * F.element_at(arr, j + 1).cast("double")
                        ).alias("xy"),
                    )
                    for i, j in pairs
                ]
            )
        ).alias("p"),
    ).select(vid, "p.i", "p.j", "p.xy")
    sxy = prod.groupBy("i", "j").agg(_ordered_sum(F.col("xy")).alias("sxy"))
    si = st.select(
        F.col("pos").alias("i"),
        F.col("n"),
        F.col("s").alias("s_i"),
        F.col("sq").alias("sq_i"),
    )
    sj = st.select(
        F.col("pos").alias("j"),
        F.col("s").alias("s_j"),
        F.col("sq").alias("sq_j"),
    )
    joined = sxy.join(F.broadcast(si), "i").join(F.broadcast(sj), "j")
    den_i = F.col("sq_i") - F.col("s_i") * F.col("s_i") / F.col("n")
    den_j = F.col("sq_j") - F.col("s_j") * F.col("s_j") / F.col("n")
    num = F.col("sxy") - F.col("s_i") * F.col("s_j") / F.col("n")
    return joined.select(
        "i",
        "j",
        "n",
        F.when(
            (den_i > 0) & (den_j > 0),
            F.round(num / F.sqrt(den_i * den_j), 6),
        ).alias("corr"),
    )
