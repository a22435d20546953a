"""Approximate-nearest-neighbor similarity search over an embedding column.

Two tiers (SURVEY §7.2 phase 8):
  * ``brute_force_topk`` — exact cosine top-k; the correctness baseline and
    the per-bucket kernel. All JVM-side (zip_with/aggregate fold).
  * ``lsh_bucketed_topk`` — random-hyperplane LSH: sign-pattern bucket per
    vector, probe only the query's bucket(s). The 100 TB path: bucketing is
    a map-side projection; the candidate set shrinks ~2^bits-fold.

Hyperplanes are derived deterministically from a seed (numpy RandomState on
the driver, broadcast as literals) so results are reproducible run-to-run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from querysight_spark.operators.vectors import as_double as _as_double
from querysight_spark.operators.vectors import cosine_vs_column as _cosine_vs_column
from querysight_spark.operators.vectors import cosine_vs_query as _cosine_vs_query
from querysight_spark.operators.vectors import dot as _dot_dim
from querysight_spark.sources.catalog import local_frame

_DOUBLES = ArrayType(DoubleType(), False)
# per-probe rows that make a probe plan the same for every query: the
# values arrive as data of a broadcast local relation, not as literals
_QUERY_ROW = StructType(
    [StructField("_q", _DOUBLES, False), StructField("_qn", DoubleType(), False)]
)
_PQ_LUT = StructType(
    [
        StructField("ld", _DOUBLES, False),
        StructField("ls", _DOUBLES, False),
        StructField("qn", DoubleType(), False),
    ]
)
_IVFPQ_LUT = StructType(
    [
        StructField("list_id", IntegerType(), False),
        StructField("qc", DoubleType(), False),
        StructField("cc", DoubleType(), False),
        StructField("ld", _DOUBLES, False),
        StructField("lcd", _DOUBLES, False),
        StructField("lsq", _DOUBLES, False),
        StructField("qn", DoubleType(), False),
    ]
)
_NODE_ROW = StructType([StructField("node", LongType(), False)])


def _dot(a, b, dim=None):
    return _dot_dim(a, b, dim)


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of ``query_vec``. Cosine is rounded to 6 digits
    BEFORE ranking (with id tie-break) so the top-k frontier is stable
    across engines/partitionings.

    The query vector and its norm ride ONE broadcast local row
    (``local_frame``: no RDD, so no Python-worker job to broadcast it)
    and the score is one parsed expression over those columns
    (``vectors.cosine_vs_column``): the plan is the same for every
    query, so a new query re-uses the compiled codegen classes, where
    the query's values as literals compile new ones per query. Same
    multiplication and addition order and the same ``round(…, 6)`` as
    the literal form (``vectors.cosine_vs_query``), so scores are
    bit-identical. This is the rerank every ``*_rerank`` path ends in."""
    q = [float(x) for x in query_vec]
    qn = float(np.sqrt(sum(x * x for x in q)))
    qrow = local_frame(df.sparkSession, [(q, qn)], _QUERY_ROW)
    scored = df.crossJoin(F.broadcast(qrow)).select(
        F.col(id_col),
        _cosine_vs_column(vec_col, "_q", "_qn", len(q)).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def hyperplanes(dim: int, bits: int = 8, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim).tolist()


def bucket_ids(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-pattern bucket id per vector: bit b = (v · plane_b) >= 0.
    Map-side only — no shuffle; at scale, write bucketed/partitioned by
    ``bucket`` so probes prune to one partition. Computed as one
    Arrow-batched matmul against the plane matrix (the unrolled
    bits·dim-term expression form compiles slowly and runs interpreted
    once it outgrows JIT method limits)."""
    from pyspark.sql.functions import pandas_udf

    P = np.array(planes, dtype=np.float64)
    weights = 1 << np.arange(len(planes))

    @pandas_udf("int")
    def bucket_of(vs: pd.Series) -> pd.Series:
        X = np.array(vs.tolist(), dtype=np.float64)
        S = (X @ P.T) >= 0
        return pd.Series((S * weights).sum(axis=1).astype(np.int32))

    v = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    return v.withColumn("bucket", bucket_of(F.col("v")))


def lsh_probe_buckets(
    query_vec: list[float], bits: int = 8, seed: int = 42, n_probes: int = 1
) -> list[int]:
    """Driver-side multiprobe bucket set for a query: its own sign-pattern
    bucket, then buckets in increasing total flip cost (sum of |margin|
    over flipped hyperplanes — the standard multiprobe ordering). With
    ``n_probes >= 2**bits`` every bucket is probed, which makes the ANN
    EXACT by construction (candidate set = whole corpus) — the oracle-mode
    invocation the driver gate hash-checks against brute force.

    Single-bit flips cover ``n_probes <= bits + 1`` (the common recall
    knob) without enumeration; beyond that the full 2**bits mask set is
    ranked driver-side (bits is small — <= 16ish — by design; buckets
    multiply storage partitions, not quality, past that)."""
    q = [float(x) for x in query_vec]
    planes = hyperplanes(len(q), bits, seed)
    margins = [sum(a * b for a, b in zip(q, p)) for p in planes]
    qbucket = sum(1 << i for i, m in enumerate(margins) if m >= 0)
    if n_probes <= bits + 1:
        flip_order = sorted(range(bits), key=lambda i: abs(margins[i]))
        probes = [qbucket]
        for i in flip_order:
            if len(probes) >= n_probes:
                break
            probes.append(qbucket ^ (1 << i))
        return probes
    cost = [
        (sum(abs(margins[i]) for i in range(bits) if mask >> i & 1), mask)
        for mask in range(1 << bits)
    ]
    cost.sort()
    return [qbucket ^ mask for _c, mask in cost[:n_probes]]


def lsh_bucketed_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 1,
) -> DataFrame:
    """ANN top-k: rank only vectors in the query's bucket(s).

    ``n_probes`` enables MULTIPROBE: beyond the query's own bucket, probe
    the buckets reached by flipping the hyperplane bits with the smallest
    |margin| (the bits most likely to disagree for true neighbors) — the
    standard recall knob that costs extra candidates, not extra passes.
    Probe buckets are computed driver-side (tiny); the plan stays
    scan → bucket filter (isin) → score → TakeOrderedAndProject."""
    q = [float(x) for x in query_vec]
    probes = lsh_probe_buckets(q, bits, seed, n_probes)
    bucketed = bucket_ids(df, hyperplanes(len(q), bits, seed), id_col, vec_col)
    qn = float(np.sqrt(sum(x * x for x in q)))
    cand = bucketed.where(F.col("bucket").isin(probes))
    scored = cand.select(
        F.col(id_col), _cosine_vs_query("v", q, qn).alias("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def train_ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    sample_size: int = 4096,
    iters: int = 5,
    seed: int = 42,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Spherical k-means coarse quantizer for IVF, trained on a bounded
    seeded sample (the ONLY driver-side collection in the ANN path — at
    100 TB the sample stays ``sample_size`` rows regardless of corpus).
    Deterministic: seeded sample, seeded init, fixed Lloyd iterations."""
    rows = (
        df.select(vec_col).sample(False, 0.5, seed).limit(sample_size).collect()
    )
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                c = members.sum(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
    return C.tolist()


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid (max cosine) list assignment, map-side, as ONE
    Arrow-batched matmul against the centroid matrix. The previous
    unrolled-expression argmax generated n_centroids·dim-term codegen
    (~1000 terms at 16×64) that blew past JIT method limits and ran ~10×
    slower — same lesson as the LSH dedup bucketing. At scale, write the
    output partitioned by ``list_id`` so probes prune partitions."""
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @pandas_udf("int")
    def nearest(vs: pd.Series) -> pd.Series:
        X = np.array(vs.tolist(), dtype=np.float64)
        sims = X @ Cn.T  # row norms don't change the argmax
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    v = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    return v.withColumn("list_id", nearest(F.col("v")))


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probes: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN top-k: restrict exact cosine ranking to the ``n_probes``
    inverted lists whose centroids are nearest the query. Recall rises with
    n_probes/n_centroids; plan shape is identical to the LSH variant."""
    if centroids is None:
        centroids = train_ivf_centroids(
            df, n_centroids=n_centroids, seed=seed, vec_col=vec_col
        )
    q = np.array([float(x) for x in query_vec])
    qn_ = np.linalg.norm(q)
    C = np.array(centroids)
    sims = (C @ q) / np.maximum(np.linalg.norm(C, axis=1) * qn_, 1e-12)
    probe_ids = [int(i) for i in np.argsort(-sims)[:n_probes]]
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    cand = assigned.where(F.col("list_id").isin(probe_ids))
    scored = cand.select(
        F.col(id_col),
        _cosine_vs_query("v", [float(x) for x in q], float(qn_)).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def build_lsh_index(
    df: DataFrame,
    path: str,
    dim: int,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Write the corpus partitioned by LSH bucket — the "index once, probe
    a partition" storage layout the in-flight ``lsh_bucketed_topk`` only
    simulates. One map-side pass (bucketing shuffles nothing; the write
    redistributes rows into ``bucket=N/`` directories), after which every
    probe is a partition-pruned scan reading ~n_probes/2^bits of the data —
    at 100 TB the probe never touches the other buckets' files."""
    planes = hyperplanes(dim, bits, seed)
    bucket_ids(df, planes, id_col, vec_col).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path)


def probe_lsh_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    seed: int = 42,
    n_probes: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k against a ``build_lsh_index`` layout. The ``bucket`` filter
    hits a partition column, so Catalyst prunes directories at planning
    time (``PartitionFilters`` in the scan node) — same results as
    ``lsh_bucketed_topk`` with the same (bits, seed, n_probes), but the
    candidate scan is I/O-pruned, not post-scan filtered."""
    from querysight_spark.sources.catalog import read_parquet_known_schema

    q = [float(x) for x in query_vec]
    probes = lsh_probe_buckets(q, bits, seed, n_probes)
    qn = float(np.sqrt(sum(x * x for x in q)))
    # r15: schema-memoized read (sources.catalog) — skips the per-probe
    # footer inference (~0.1 s driver latency; invalidates on rewrite)
    cand = read_parquet_known_schema(spark, path).where(
        F.col("bucket").isin(probes)
    )
    scored = cand.select(
        F.col(id_col), _cosine_vs_query("v", q, qn).alias("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def train_pq_codebooks(
    df: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    sample_size: int = 4096,
    iters: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split ``dim`` into ``m`` contiguous
    subspaces and run Lloyd k-means (k centroids) independently in each.
    Trained on a bounded seeded sample — like ``train_ivf_centroids``, the
    driver never holds more than ``sample_size`` rows no matter the corpus
    size. Returns ``m × k × (dim//m)`` nested lists (broadcast as literals
    / closure constants downstream). Requires ``dim % m == 0``."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    rows = df.select(vec_col).sample(False, 0.5, seed).limit(sample_size).collect()
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    rng = np.random.RandomState(seed)
    books = []
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        C = Xs[rng.choice(len(Xs), size=min(k, len(Xs)), replace=False)].copy()
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for j in range(len(C)):
                members = Xs[assign == j]
                if len(members):
                    C[j] = members.mean(axis=0)
        books.append(C.tolist())
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` one-byte-ish codes (nearest centroid per
    subspace) — the write-once compression pass of a PQ index. Arrow-batched
    pandas UDF (one numpy distance matrix per subspace per batch); output is
    ``dim//m × 8 bytes → m ints`` per row, so a 100 TB float corpus stores
    as a few TB of codes. Map-side only — no shuffle."""
    from pyspark.sql.functions import pandas_udf

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]

    @pandas_udf("array<int>")
    def encode(vs: pd.Series) -> pd.Series:
        X = np.array(vs.tolist(), dtype=np.float64)
        codes = np.empty((len(X), len(books)), dtype=np.int32)
        for s, C in enumerate(books):
            Xs = X[:, s * dsub : (s + 1) * dsub]
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return df.select(F.col(id_col), encode(_as_double(F.col(vec_col))).alias("codes"))


def _adc_sum(arr: str, kk: int, m: int, codes: str = "codes"):
    """Unrolled asymmetric-distance LUT fold:
    ``Σ_s arr[s·kk + codes[s]]`` as an explicit left-to-right addition
    chain, bit-identical to the previous ``F.aggregate(seq, 0.0, ...)``
    fold (same start value, same order of double additions).

    Why unrolled (r14 opt, guide §4.1 "built-ins with codegen"):
    higher-order functions are CodegenFallback in Spark — one
    ``aggregate`` in a projection drops the WHOLE stage to interpreted
    row-at-a-time evaluation with per-step lambda-variable updates. The
    unrolled chain is plain ``Add``/``ElementAt`` nodes, so the scoring
    projection compiles with whole-stage codegen (microbenched 1.5-2×
    on a 600k-row code table; the win grows with corpus size). The LUT
    stays a broadcast COLUMN (only ``m`` small int literals appear in
    the expression), so this does not reintroduce the ~4k-literal
    codegen blowup the broadcast-LUT design exists to avoid.

    Built as ONE ``F.expr`` SQL string: constructing the chain with
    ``m`` PySpark Column operations costs ~3·m py4j round-trips of
    driver latency per probe (measured +1.5 s per ivfpq probe call);
    one parse of a 4 KB string is milliseconds. ``0.0D``: a bare
    ``0.0`` literal parses as DECIMAL in Spark SQL — the D suffix
    keeps the fold in doubles, and the explicit parens keep the
    addition order exactly the old fold's ``((0.0+t0)+t1)+…``."""
    # element_at is 1-based; codes and subspace index are 0-based
    expr = "0.0D"
    for s in range(m):
        expr = (
            f"({expr} + element_at(`{arr}`, "
            f"cast(element_at(`{codes}`, {s + 1}) + {s * kk + 1} as int)))"
        )
    return F.expr(expr)


def pq_topk(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes. The query side of every
    possible centroid dot product is a tiny ``m × k`` lookup table computed
    on the driver and shipped as a BROADCAST one-row local relation (two
    flat ``m·k`` arrays plus ``qn`` = ‖q‖); per row the approximate cosine
    is ``Σ_s ld[s·k + code_s] / (sqrt(Σ_s ls[s·k + code_s])·qn)``, an
    unrolled codegen fold (``_adc_sum``) — all JVM, no Python and no
    shuffle in the probe path, finishing in ``TakeOrderedAndProject``.

    No query value is a literal of the plan, so the plan and its
    compiled codegen classes are the same for every query: LUT values
    as literals cost ~9 s of codegen per query vector, and ``qn`` alone
    as a literal still compiled a few classes per probe. The LUT is a
    ``local_frame`` (Arrow → LocalRelation), so its broadcast runs no
    Python-worker job as an RDD-backed ``createDataFrame(list)`` does."""
    q = np.array([float(x) for x in query_vec], dtype=np.float64)
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]
    kk = books[0].shape[0]
    m = len(books)
    qn = float(np.linalg.norm(q))
    ld = np.concatenate(
        [C @ q[s * dsub : (s + 1) * dsub] for s, C in enumerate(books)]
    )
    ls = np.concatenate([(C * C).sum(axis=1) for C in books])
    lut = local_frame(
        codes_df.sparkSession, [(ld.tolist(), ls.tolist(), qn)], _PQ_LUT
    )

    scored = codes_df.crossJoin(F.broadcast(lut)).select(
        F.col(id_col),
        F.round(
            _adc_sum("ld", kk, m)
            / (F.sqrt(_adc_sum("ls", kk, m)) * F.col("qn")),
            6,
        ).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


# shortlist sizes up to this take the collect + In-pushdown rerank path;
# larger shortlists (the exact-mode corpus-sized gate construct) keep the
# broadcast join, whose build side Spark caps at 8 GB anyway
_RERANK_ISIN_MAX = 1024


def _in_filter(col: str, values: list) -> Column:
    """``col IN (values)`` as ONE parsed expression: ``Column.isin``
    makes one py4j ``lit`` call per value (~65 ms for 100 ids). Ints and
    strings are written as SQL literals (strings backslash-escaped, the
    default string-literal syntax); any other id type falls back to
    ``isin``. An empty list is a constant-false filter, which the
    optimizer prunes to an empty relation. Either way the optimizer
    turns a long list into ``InSet``, and both reach a parquet scan as
    ``PushedFilters: [In(…)]``."""
    if not values:
        return F.lit(False)
    if all(isinstance(v, int) and not isinstance(v, bool) for v in values):
        lits = [str(v) for v in values]
    elif all(isinstance(v, str) for v in values):
        lits = [
            "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
            for v in values
        ]
    else:
        return F.col(col).isin(values)
    name = col.replace("`", "``")
    return F.expr(f"`{name}` IN ({', '.join(lits)})")


def _in_array(col: str, values: list[int]) -> Column:
    """``array_contains(array(values), col)``: membership in ONE array
    literal, which codegen references as an object instead of inlining
    each value as ``In`` does. The join on ``col`` copies the filter to
    the other side, and over a local relation the optimizer compiles that
    copy into a predicate, so with ``In`` each new set of values compiled
    a new class. It still prunes partitions on a partition column, but a
    parquet scan cannot push it down as a row-group filter (use
    ``_in_filter`` for that)."""
    if not values:
        return F.lit(False)
    return F.expr(
        f"array_contains(array({', '.join(str(int(v)) for v in values)}), "
        f"`{col}`)"
    )


def _rerank_candidates(
    df: DataFrame, short: DataFrame, n_short: int, id_col: str
) -> DataFrame:
    """Attach a top-k shortlist to the full-precision table for reranking.

    r15 (guide §6 "pushdown must reach the scan", §8 "audit how the
    proxy's decisions re-attach to the payload"): the old broadcast
    join never pruned the rerank SCAN — the whole vector table was read
    to fetch ~k·oversample rows (harmless at sf0.1, a full-corpus read
    at 100 TB). For production-sized shortlists the ids are collected
    (one driver round-trip for ≤1024 longs — the shortlist job ran
    either way as the broadcast build) and applied as an In filter,
    which reaches the parquet scan as PushedFilters and prunes row
    groups by statistics. Same candidate set, same rerank result; the
    corpus-sized exact-mode shortlists keep the broadcast join.

    The ids are applied as one parsed ``id IN (…)`` (``_in_filter``),
    one parse instead of a py4j call per id; an empty shortlist gives an
    empty frame, and string ids are quoted. The ids are the only
    per-query literals of the rerank: for long and string ids ``InSet``
    holds them in a referenced hash set, so its compiled code is shared
    across probes, while for int ids (up to 400 values) it compiles a
    ``switch`` on the values, i.e. new classes per shortlist."""
    if n_short <= _RERANK_ISIN_MAX:
        ids = [r[0] for r in short.select(id_col).collect()]
        return df.where(_in_filter(id_col, ids))
    return df.join(F.broadcast(short.select(id_col)), id_col)


def pq_topk_rerank(
    df: DataFrame,
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    oversample: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ search: ADC shortlist of ``k·oversample`` ids from the
    compressed codes, then exact cosine over just those rows — fetched
    via In-pushdown on the id (row groups pruned by statistics), see
    ``_rerank_candidates``."""
    short = pq_topk(codes_df, codebooks, query_vec, k=k * oversample, id_col=id_col)
    cand = _rerank_candidates(df, short, k * oversample, id_col)
    return brute_force_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def build_pq_index(
    df: DataFrame,
    path: str,
    dim: int,
    m: int = 32,
    k: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Materialize a PQ index: train codebooks, encode the corpus once, and
    write ``(id, codes)`` parquet plus the codebooks as JSON alongside
    (``_codebooks.json`` — driver-size metadata, not a data file). After
    this, probes never touch the full-precision vectors: they scan only
    the code table (~1-2% of the corpus bytes at dim=64, m=32)."""
    import json

    books = train_pq_codebooks(
        df, dim=dim, m=m, k=k, seed=seed, vec_col=vec_col
    )
    pq_encode(df, books, id_col=id_col, vec_col=vec_col).write.mode(
        "overwrite"
    ).parquet(path)
    with open(path + "/_codebooks.json", "w") as f:
        json.dump(books, f)
    return books


def probe_pq_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    rerank_df: DataFrame | None = None,
    oversample: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a ``build_pq_index`` layout. Reads the codebooks JSON
    (driver-side) and scores the persisted codes via ADC; pass the original
    vector table as ``rerank_df`` to finish with an exact rerank of the
    shortlist (full-precision rows fetched for ~k·oversample ids only)."""
    import json

    from querysight_spark.sources.catalog import read_parquet_known_schema

    with open(path + "/_codebooks.json") as f:
        books = json.load(f)
    # r15: schema-memoized read — skips per-probe footer inference
    codes = read_parquet_known_schema(spark, path)
    if rerank_df is None:
        return pq_topk(codes, books, query_vec, k=k, id_col=id_col)
    return pq_topk_rerank(
        rerank_df, codes, books, query_vec, k=k,
        oversample=oversample, id_col=id_col, vec_col=vec_col,
    )


def train_opq(
    df: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    sample_size: int = 4096,
    outer_iters: int = 5,
    pq_iters: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """OPQ: learn an orthonormal rotation R that minimizes PQ quantization
    error before the subspace split (the classic alternating scheme —
    fix R, train codebooks on X·R; fix codebooks, solve R by orthogonal
    Procrustes on X vs its reconstruction). Plain PQ assumes the natural
    coordinate split balances variance across subspaces; OPQ removes that
    assumption, and its sample quantization error is never worse.

    Driver-side on the same bounded seeded sample as PQ training; returns
    ``(R, codebooks)`` with R as ``dim × dim`` nested lists. Corpus-side
    encoding just rotates each Arrow batch (one matmul) before the normal
    PQ encode — see ``opq_encode`` / ``opq_topk_rerank``."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    rows = df.select(vec_col).sample(False, 0.5, seed).limit(sample_size).collect()
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    rng = np.random.RandomState(seed)
    R = np.linalg.qr(rng.randn(dim, dim))[0]

    def _train_books(Z: np.ndarray) -> list[np.ndarray]:
        books = []
        for s in range(m):
            Zs = Z[:, s * dsub : (s + 1) * dsub]
            C = Zs[rng.choice(len(Zs), size=min(k, len(Zs)), replace=False)].copy()
            for _ in range(pq_iters):
                d2 = (
                    (Zs * Zs).sum(axis=1)[:, None]
                    + (C * C).sum(axis=1)[None, :]
                    - 2.0 * (Zs @ C.T)
                )
                assign = np.argmin(d2, axis=1)
                for j in range(len(C)):
                    members = Zs[assign == j]
                    if len(members):
                        C[j] = members.mean(axis=0)
            books.append(C)
        return books

    def _reconstruct(Z: np.ndarray, books: list[np.ndarray]) -> np.ndarray:
        out = np.empty_like(Z)
        for s, C in enumerate(books):
            Zs = Z[:, s * dsub : (s + 1) * dsub]
            d2 = (
                (Zs * Zs).sum(axis=1)[:, None]
                + (C * C).sum(axis=1)[None, :]
                - 2.0 * (Zs @ C.T)
            )
            out[:, s * dsub : (s + 1) * dsub] = C[np.argmin(d2, axis=1)]
        return out

    books = _train_books(X @ R)
    for _ in range(outer_iters):
        Xhat = _reconstruct(X @ R, books)
        U, _sv, Vt = np.linalg.svd(X.T @ Xhat)
        R = U @ Vt
        books = _train_books(X @ R)
    return R.tolist(), [b.tolist() for b in books]


def opq_encode(
    df: DataFrame,
    rotation: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode under the learned rotation: one extra Arrow-batched matmul
    per batch, then the standard nearest-centroid coding."""
    from pyspark.sql.functions import pandas_udf

    R = np.array(rotation, dtype=np.float64)
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]

    @pandas_udf("array<int>")
    def encode(vs: pd.Series) -> pd.Series:
        X = np.array(vs.tolist(), dtype=np.float64) @ R
        codes = np.empty((len(X), len(books)), dtype=np.int32)
        for s, C in enumerate(books):
            Xs = X[:, s * dsub : (s + 1) * dsub]
            d2 = (
                (Xs * Xs).sum(axis=1)[:, None]
                + (C * C).sum(axis=1)[None, :]
                - 2.0 * (Xs @ C.T)
            )
            codes[:, s] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return df.select(F.col(id_col), encode(_as_double(F.col(vec_col))).alias("codes"))


def opq_topk_rerank(
    df: DataFrame,
    codes_df: DataFrame,
    rotation: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    oversample: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """OPQ search: rotate the query driver-side (rotation preserves dot
    products, so ADC over rotated codes scores the original cosine), take
    the ADC shortlist, rerank exactly on the ORIGINAL vectors."""
    q = np.array([float(x) for x in query_vec], dtype=np.float64)
    qr = (q @ np.array(rotation, dtype=np.float64)).tolist()
    short = pq_topk(codes_df, codebooks, qr, k=k * oversample, id_col=id_col)
    cand = _rerank_candidates(df, short, k * oversample, id_col)
    return brute_force_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def train_ivfpq(
    df: DataFrame,
    dim: int,
    n_centroids: int = 16,
    m: int = 8,
    k: int = 16,
    sample_size: int = 4096,
    coarse_iters: int = 8,
    pq_iters: int = 6,
    seed: int = 42,
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """IVF+PQ training (the composed index every large-scale ANN system
    ships): a euclidean coarse quantizer partitions the space into
    ``n_centroids`` lists, and ONE shared set of PQ codebooks is trained on
    the RESIDUALS ``v − c(v)`` — residuals are centered and far smaller in
    norm than raw vectors, so the same code budget quantizes them much more
    accurately. Driver-side on the usual bounded seeded sample; returns
    ``(coarse_centroids, residual_codebooks)``."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    rows = df.select(vec_col).sample(False, 0.5, seed).limit(sample_size).collect()
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)].copy()
    for _ in range(coarse_iters):
        d2 = (
            (X * X).sum(axis=1)[:, None]
            + (C * C).sum(axis=1)[None, :]
            - 2.0 * (X @ C.T)
        )
        assign = np.argmin(d2, axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    d2 = (
        (X * X).sum(axis=1)[:, None] + (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
    )
    Rres = X - C[np.argmin(d2, axis=1)]
    books = []
    for s in range(m):
        Rs = Rres[:, s * dsub : (s + 1) * dsub]
        B = Rs[rng.choice(len(Rs), size=min(k, len(Rs)), replace=False)].copy()
        for _ in range(pq_iters):
            bd2 = (
                (Rs * Rs).sum(axis=1)[:, None]
                + (B * B).sum(axis=1)[None, :]
                - 2.0 * (Rs @ B.T)
            )
            a = np.argmin(bd2, axis=1)
            for j in range(len(B)):
                members = Rs[a == j]
                if len(members):
                    B[j] = members.mean(axis=0)
        books.append(B.tolist())
    return C.tolist(), books


def ivfpq_encode(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, list_id, codes): coarse-assign each vector, PQ-encode its
    residual. One Arrow batch = two matmuls + per-subspace argmins; at
    scale, write the output partitioned by ``list_id`` so probes prune to
    the visited lists' files."""
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]

    @pandas_udf("struct<list_id:int, codes:array<int>>")
    def encode(vs: pd.Series) -> pd.DataFrame:
        X = np.array(vs.tolist(), dtype=np.float64)
        d2 = (
            (X * X).sum(axis=1)[:, None]
            + (C * C).sum(axis=1)[None, :]
            - 2.0 * (X @ C.T)
        )
        assign = np.argmin(d2, axis=1)
        R = X - C[assign]
        codes = np.empty((len(X), len(books)), dtype=np.int32)
        for s, B in enumerate(books):
            Rs = R[:, s * dsub : (s + 1) * dsub]
            bd2 = (
                (Rs * Rs).sum(axis=1)[:, None]
                + (B * B).sum(axis=1)[None, :]
                - 2.0 * (Rs @ B.T)
            )
            codes[:, s] = np.argmin(bd2, axis=1)
        return pd.DataFrame(
            {"list_id": assign.astype(np.int32), "codes": list(codes)}
        )

    return df.select(
        F.col(id_col), encode(_as_double(F.col(vec_col))).alias("e")
    ).select(id_col, "e.list_id", "e.codes")


def ivfpq_topk(
    codes_df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    n_probes: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over an IVF+PQ index. Driver side: pick the ``n_probes``
    nearest coarse lists and build PER-LIST lookup tables (the query
    residual differs per list); executor side: filter codes to the probed
    lists, broadcast-join the tiny LUT table on ``list_id``, and fold

      cos ≈ (q·c_l + Σ_s ld[code_s] + Σ_s lcd[code_s]) /
            (‖q‖ · sqrt(‖c_l‖² + 2·Σ_s lcd[code_s] + Σ_s lsq[code_s]))

    where ld = (q−c_l)·B, lcd = c_slice·B, lsq = ‖B‖². The numerator needs
    BOTH folds: Σ ld = q·r̂ − c·r̂ (ld is against the query RESIDUAL), so
    q·v̂ = q·c + Σ ld + Σ lcd — exact given the code approximation (subspace
    blocks are orthogonal coordinates). The probe
    plan is scan(codes, list-pruned) → broadcast join → codegen fold →
    TakeOrderedAndProject: no Python, and with list-partitioned storage
    the scan never opens unprobed lists.

    The LUT rows (one per probed list, ‖q‖ carried as the ``qn`` column)
    are a ``local_frame`` LocalRelation, so broadcasting them starts no
    Python-worker job, and the scoring plan holds no query value: a new
    query re-uses the compiled codegen classes. The probed lists are
    one array literal (``_in_array``), which prunes ``list_id=``
    partitions like ``IN`` does."""
    q = np.array([float(x) for x in query_vec], dtype=np.float64)
    qn = float(np.linalg.norm(q))
    C = np.array(centroids, dtype=np.float64)
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]
    m = len(books)
    kk = books[0].shape[0]
    d2 = ((q - C) ** 2).sum(axis=1)
    probe_ids = [int(i) for i in np.argsort(d2)[:n_probes]]

    lut_rows = []
    for lid in probe_ids:
        c = C[lid]
        qr = q - c
        ld = np.concatenate(
            [B @ qr[s * dsub : (s + 1) * dsub] for s, B in enumerate(books)]
        )
        lcd = np.concatenate(
            [B @ c[s * dsub : (s + 1) * dsub] for s, B in enumerate(books)]
        )
        lsq = np.concatenate([(B * B).sum(axis=1) for B in books])
        lut_rows.append(
            (
                lid,
                float(q @ c),
                float(c @ c),
                ld.tolist(),
                lcd.tolist(),
                lsq.tolist(),
                qn,
            )
        )
    lut = local_frame(codes_df.sparkSession, lut_rows, _IVFPQ_LUT)

    # unrolled codegen-able ADC sums (see _adc_sum); the lcd fold feeds
    # both numerator and denominator, so it is computed ONCE in a prior
    # projection instead of twice per row (bit-identical: same value)
    scored = (
        codes_df.where(_in_array("list_id", probe_ids))
        .join(F.broadcast(lut), "list_id")
        .select(
            F.col(id_col),
            F.col("qn"),
            F.col("qc"),
            F.col("cc"),
            _adc_sum("ld", kk, m).alias("_sld"),
            _adc_sum("lcd", kk, m).alias("_slcd"),
            _adc_sum("lsq", kk, m).alias("_slsq"),
        )
        .select(
            F.col(id_col),
            F.round(
                (F.col("qc") + F.col("_sld") + F.col("_slcd"))
                / (
                    F.col("qn")
                    * F.sqrt(
                        F.col("cc") + 2.0 * F.col("_slcd") + F.col("_slsq")
                    )
                ),
                6,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def ivfpq_topk_rerank(
    df: DataFrame,
    codes_df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    n_probes: int = 4,
    oversample: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ shortlist → exact cosine rerank on the original vectors
    (In-pushdown candidate fetch, see ``_rerank_candidates``)."""
    short = ivfpq_topk(
        codes_df, centroids, codebooks, query_vec,
        k=k * oversample, n_probes=n_probes, id_col=id_col,
    )
    cand = _rerank_candidates(df, short, k * oversample, id_col)
    return brute_force_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    dim: int,
    n_centroids: int = 16,
    m: int = 32,
    k: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Materialize the composed IVF+PQ index (the billion-vector layout):
    train coarse centroids + shared residual codebooks, encode the corpus
    once, and write ``(id, codes)`` parquet PARTITIONED BY ``list_id``,
    with the centroids/codebooks as driver-size JSON alongside. A probe
    visiting ``n_probes`` of ``n_centroids`` lists then reads only those
    ``list_id=`` directories (PartitionFilters, no footer reads of the
    rest) — the scan cost scales with the probed fraction of an already
    ~1-2%-of-corpus code table, independent of total corpus size."""
    import json

    cents, books = train_ivfpq(
        df, dim=dim, n_centroids=n_centroids, m=m, k=k, seed=seed,
        vec_col=vec_col,
    )
    ivfpq_encode(df, cents, books, id_col=id_col, vec_col=vec_col).write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(path)
    with open(path + "/_ivfpq.json", "w") as f:
        json.dump({"centroids": cents, "codebooks": books}, f)
    return cents, books


def upsert_ivfpq_index(
    spark,
    path: str,
    delta_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incremental index maintenance: encode a DELTA batch with the
    index's EXISTING coarse centroids + residual codebooks (no retrain)
    and append the (id, codes) rows into the same ``list_id``-partitioned
    layout — new files land inside the matching ``list_id=`` directories,
    so probes see base + delta with partition pruning unchanged. Returns
    the number of rows appended.

    Same amortization discipline as the minhash band index (dd09): the
    per-batch cost is O(delta) — one Arrow-batched encode + an append
    write; the corpus never re-encodes. Quantizer drift is the retrain
    trigger: when delta distribution shifts (coarse-assignment entropy or
    ADC error trending up), rebuild with ``build_ivfpq_index``."""
    import json

    with open(path + "/_ivfpq.json") as f:
        meta = json.load(f)
    enc = ivfpq_encode(
        delta_df, meta["centroids"], meta["codebooks"],
        id_col=id_col, vec_col=vec_col,
    )
    n = enc.count()
    enc.write.mode("append").partitionBy("list_id").parquet(path)
    return n


def ivfpq_batch_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    n_probes: int = 4,
    id_col: str = "vec_id",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    rerank_df: DataFrame | None = None,
    oversample: int = 10,
) -> DataFrame:
    """BATCH serving over the persisted IVF+PQ index — the true 100 TB
    serving shape (st12's docstring seam made real): a bounded batch of
    Q query vectors is answered with ONE partition-pruned scan of the
    UNION of every query's ``n_probes`` nearest lists; each code row is
    ADC-scored only for the queries probing ITS list (candidate work =
    Σ_q Σ_{l∈probes(q)} |list_l|, the canonical IVF batch cost — never
    Q × corpus).

    Driver side (all bounded): collect the batch, pick per-query probe
    lists against the coarse centroids, precompute the per-list
    query-independent tables (lcd, lsq, ‖c‖²) once and the per-(query,
    list) residual table (ld, q·c). Executor side: mapInPandas over the
    pruned codes — numpy LUT gathers score each (row, probing-query)
    pair with the SAME algebra as ``ivfpq_topk`` (identical rounding),
    each partition emits only its local top-k per query (rounded-cosine
    + id tie-break — the total order the final window applies, so the
    merge is exact; the batch_topk GEMM discipline).

    With ``rerank_df`` the ADC shortlist (k·oversample per query)
    reranks exactly against the original vectors — at full ``n_probes``
    coverage this is exact-mode, equal to per-query brute force."""
    import json

    from pyspark.sql.window import Window

    with open(path + "/_ivfpq.json") as f:
        meta = json.load(f)
    C = np.array(meta["centroids"], dtype=np.float64)
    books = [np.array(b, dtype=np.float64) for b in meta["codebooks"]]
    dsub = books[0].shape[1]
    m = len(books)

    q_rows = queries.select(
        F.col(qid_col).alias("_qid"), F.col(qvec_col).alias("_qv")
    ).collect()
    if not q_rows:
        raise ValueError("empty query batch")
    qids = [int(r._qid) for r in q_rows]
    Q = np.array([[float(x) for x in r._qv] for r in q_rows], np.float64)
    qn = np.linalg.norm(Q, axis=1)
    d2 = (
        (Q * Q).sum(axis=1)[:, None]
        + (C * C).sum(axis=1)[None, :]
        - 2.0 * (Q @ C.T)
    )
    probes = np.argsort(d2, axis=1)[:, :n_probes]  # Q x n_probes list ids

    # query-independent per-list tables, computed once for the batch
    lcd = {}  # list -> (m*kk,) c-slice · codebook entries
    lsq = np.concatenate([(B * B).sum(axis=1) for B in books])
    cc = (C * C).sum(axis=1)
    probed_lists = sorted({int(l) for row in probes for l in row})
    for lid in probed_lists:
        c = C[lid]
        lcd[lid] = np.concatenate(
            [B @ c[s * dsub : (s + 1) * dsub] for s, B in enumerate(books)]
        )
    # per-(list, query) residual tables: which queries probe each list
    by_list = {}  # lid -> (qidx array, LD matrix [nq_l, m*kk], qc [nq_l])
    for lid in probed_lists:
        qi = np.array(
            [i for i in range(len(qids)) if lid in probes[i]], dtype=np.int64
        )
        R = Q[qi] - C[lid]
        LD = np.concatenate(
            [R[:, s * dsub : (s + 1) * dsub] @ B.T for s, B in enumerate(books)],
            axis=1,
        )
        by_list[lid] = (qi, LD, Q[qi] @ C[lid])
    kk_codes = books[0].shape[0]
    want = int(k * (oversample if rerank_df is not None else 1))
    qid_arr = np.array(qids, dtype=np.int64)
    qn_arr = qn

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out_q, out_i, out_c = [], [], []
            for lid, grp in pdf.groupby("list_id"):
                ent = by_list.get(int(lid))
                if ent is None:
                    continue
                qi, LD, qc = ent
                codes = np.array(grp["codes"].tolist(), dtype=np.int64)
                flat = codes + (
                    np.arange(m, dtype=np.int64) * kk_codes
                )[None, :]
                ids = grp[id_col].to_numpy()
                lcd_sum = lcd[int(lid)][flat].sum(axis=1)
                lsq_sum = lsq[flat].sum(axis=1)
                denom_row = np.sqrt(cc[int(lid)] + 2.0 * lcd_sum + lsq_sum)
                ld_sums = LD[:, flat].sum(axis=2)  # nq_l x n_rows
                S = np.round(
                    (qc[:, None] + ld_sums + lcd_sum[None, :])
                    / (qn_arr[qi][:, None] * denom_row[None, :]),
                    6,
                )
                for j in range(len(qi)):
                    top = np.lexsort((ids, -S[j]))[:want]
                    out_q.extend([int(qid_arr[qi[j]])] * len(top))
                    out_i.extend(ids[top].tolist())
                    out_c.extend(S[j][top].tolist())
            yield pd.DataFrame(
                {qid_col: out_q, id_col: out_i, "cosine": out_c}
            )

    from querysight_spark.sources.catalog import read_parquet_known_schema

    # r15: schema-memoized reads — skip per-probe footer inference
    codes_df = read_parquet_known_schema(spark, path).where(
        F.col("list_id").isin(probed_lists)
    )
    cand = codes_df.mapInPandas(
        _score, schema=f"{qid_col} long, {id_col} long, cosine double"
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine"), F.col(id_col))
    short = (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= want)
        .select(qid_col, "rk", id_col, "cosine")
    )
    if rerank_df is None:
        return short.where(F.col("rk") <= k)
    # exact rerank with the engine-portable ordered-fold dot — the SAME
    # numerics as batch_topk's declared expr form, so exact-mode results
    # replay digit-for-digit in the oracle
    from querysight_spark.operators.vectors import as_double, dot, norm

    qdf = queries.select(
        F.col(qid_col), as_double(F.col(qvec_col)).alias("_qv")
    )
    exact = (
        short.select(qid_col, id_col)
        .join(
            rerank_df.select(
                F.col(id_col), as_double(F.col("embedding")).alias("_v")
            ),
            id_col,
        )
        .join(F.broadcast(qdf), qid_col)
        .select(
            qid_col,
            id_col,
            F.round(
                dot(F.col("_v"), F.col("_qv"))
                / (norm(F.col("_v")) * norm(F.col("_qv"))),
                6,
            ).alias("cosine"),
        )
    )
    w2 = Window.partitionBy(qid_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        exact.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= k)
        .select(qid_col, "rk", id_col, "cosine")
    )


def probe_ivfpq_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probes: int = 4,
    id_col: str = "vec_id",
    rerank_df: DataFrame | None = None,
    oversample: int = 10,
    vec_col: str = "embedding",
    filter_keys: DataFrame | None = None,
) -> DataFrame:
    """Top-k against a ``build_ivfpq_index`` layout: load centroids and
    codebooks driver-side, ADC-score the persisted codes (the ``list_id
    IN (probes)`` filter prunes whole partition directories before IO),
    optionally exact-rerank the shortlist against ``rerank_df``.

    ``filter_keys`` (a one-column frame of qualifying ids) makes this
    the PERSISTED-index half of ``filtered_topk`` — metadata-filtered
    vector search on the billion-vector layout: the semi-join lands
    after partition pruning and BEFORE any ADC math, so candidate work
    shrinks to qualifying rows inside the probed lists. Note the
    recall caveat every vector DB documents: under a highly selective
    filter, fixed n_probes may leave too few qualifying candidates —
    raise n_probes (or run all lists, as the exact-mode gate entry
    does) as selectivity tightens."""
    import json

    from querysight_spark.sources.catalog import read_parquet_known_schema

    with open(path + "/_ivfpq.json") as f:
        meta = json.load(f)
    # r15: schema-memoized reads — skip per-probe footer inference
    codes = read_parquet_known_schema(spark, path)
    if filter_keys is not None:
        codes = codes.join(
            filter_keys.select(F.col(filter_keys.columns[0]).alias(id_col)),
            id_col,
            "left_semi",
        )
    if rerank_df is None:
        return ivfpq_topk(
            codes, meta["centroids"], meta["codebooks"], query_vec,
            k=k, n_probes=n_probes, id_col=id_col,
        )
    return ivfpq_topk_rerank(
        rerank_df, codes, meta["centroids"], meta["codebooks"], query_vec,
        k=k, n_probes=n_probes, oversample=oversample,
        id_col=id_col, vec_col=vec_col,
    )


def filtered_topk(
    df: DataFrame,
    query_vec: list[float],
    predicate,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Metadata-filtered exact top-k — THE vector-database feature
    (search only rows passing a predicate). The filter lands BEFORE any
    distance math, so Catalyst pushes it to the scan and the GEMM/rank
    work shrinks to the qualifying subset; with a persisted index the
    same pre-filter applies to the code table before ADC."""
    return brute_force_topk(df.where(predicate), query_vec, k, id_col, vec_col)


def grouped_topk(
    df: DataFrame,
    query_vec: list[float],
    group_col: str,
    k_per_group: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k nearest per GROUP (per-label / per-source diversification):
    one scan scores every row, one window per group ranks — the shuffle
    is on the group key, never a global sort. Cosine rounded before
    ranking (id tie-break) for cross-engine-stable frontiers."""
    from pyspark.sql.window import Window

    q = [float(x) for x in query_vec]
    qn = float(np.sqrt(sum(x * x for x in q)))
    scored = df.select(
        F.col(id_col),
        F.col(group_col),
        _cosine_vs_query(vec_col, q, qn).alias("cosine"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k_per_group)
        .select(group_col, "rk", id_col, "cosine")
    )


def batch_topk(
    vecs: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    dim: int | None = None,
    method: str = "expr",
) -> DataFrame:
    """Batch multi-query exact top-k — the search-SERVING shape (a batch
    of query vectors answered in one pass): one corpus scan regardless
    of batch size.

    ``method='expr'`` (the declared expression form): broadcast the
    query batch, score every (row, query) pair with the engine-portable
    dot (pass ``dim`` for the unrolled codegen variant — bit-identical
    to the fold, vectors.py's contract), rank per query with one window
    on qid. The shuffle carries |batch| x |corpus| scored rows — fine
    for interactive batches, and the numerics the oracle replays
    digit-for-digit.

    ``method='gemm'`` (the serving scale path — the ivf_assign/dd04
    Arrow-matmul lesson applied here): the query batch broadcasts as a
    normalized numpy matrix, each corpus partition scores with ONE BLAS
    matmul and emits only its LOCAL top-k per query (rounded-cosine
    ordering with id tie-break, so the global merge is exact), and the
    final window ranks |batch| x k x partitions candidate rows instead
    of |batch| x |corpus| — the scored-pair materialization and its
    shuffle disappear. Measured 125.5 s -> 1.7 s on a 400-query x 20k-vector
    batch (SCALE.md, warm best-of-2). BLAS accumulation order differs from the
    sequential fold in the last ulp; at the 6-decimal rounding the gate
    hashes this has never moved a result (dd04's standing GEMM
    precedent), and the st12 entry pins it against the exact oracle
    every round."""
    from pyspark.sql.window import Window

    from querysight_spark.operators.vectors import as_double, dot, norm

    if method not in ("expr", "gemm"):
        raise ValueError(f"method must be 'expr' or 'gemm', got {method!r}")
    v = vecs.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    q = queries.select(
        F.col(qid_col).alias("_qid"), as_double(F.col(qvec_col)).alias("qv")
    )
    if method == "gemm":
        q_rows = q.collect()  # bounded: the serving batch, not the corpus
        qids = [int(r._qid) for r in q_rows]
        Q = np.array([list(r.qv) for r in q_rows], dtype=np.float64)
        Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
        kk = int(k)

        def _local_topk(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.array(pdf["v"].tolist(), dtype=np.float64)
                Xn = X / np.maximum(
                    np.linalg.norm(X, axis=1, keepdims=True), 1e-12
                )
                S = np.round(Xn @ Qn.T, 6)
                ids = pdf[id_col].to_numpy()
                out_q, out_i, out_c = [], [], []
                for j, qid in enumerate(qids):
                    col = S[:, j]
                    # exact tie handling: rounded cosine desc, id asc —
                    # the same total order the final window applies
                    top = np.lexsort((ids, -col))[:kk]
                    out_q.extend([qid] * len(top))
                    out_i.extend(ids[top].tolist())
                    out_c.extend(col[top].tolist())
                yield pd.DataFrame(
                    {qid_col: out_q, id_col: out_i, "cosine": out_c}
                )

        cand = v.mapInPandas(
            _local_topk,
            schema=f"{qid_col} long, {id_col} long, cosine double",
        )
        w = Window.partitionBy(qid_col).orderBy(
            F.desc("cosine"), F.col(id_col)
        )
        return (
            cand.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= kk)
            .select(qid_col, "rk", id_col, "cosine")
        )
    scored = v.crossJoin(F.broadcast(q)).select(
        F.col("_qid").alias(qid_col),
        F.col(id_col),
        F.round(
            dot(F.col("v"), F.col("qv"), dim)
            / (norm(F.col("v"), dim) * norm(F.col("qv"), dim)),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(qid_col, "rk", id_col, "cosine")
    )


def build_nsw_index(
    df: DataFrame,
    path: str,
    dim: int,
    k_neighbors: int = 12,
    n_lists: int = 16,
    n_link_probes: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Disk-resident graph ANN index — the "HNSW-style next point" the
    README roadmap names, as a simplified single-layer navigable-small-
    world graph (no insertion-order hierarchy; public algorithm family:
    Malkov et al.'s NSW/HNSW papers).

    Distributed build, never all-pairs:
      1. coarse spherical-k-means lists (``train_ivf_centroids`` —
         bounded driver sample);
      2. neighbor CANDIDATES per node = members of its ``n_link_probes``
         nearest lists (explode + list-keyed join — the IVF economy);
      3. exact cosine over candidates, per-node top-``k_neighbors`` via
         a node-partitioned window;
      4. links symmetrized, PLUS a connectivity backbone: every node
         links to its list's hub (min id in list) and the <= n_lists
         hubs form a ring (driver-side, bounded by n_lists) — so the
         graph is CONNECTED BY CONSTRUCTION and exact-mode traversal
         provably covers the corpus.

    Persists ``path/adj`` (node, nbr) and ``path/vecs`` (node, v)."""
    spark = df.sparkSession
    v = df.select(
        F.col(id_col).cast("long").alias("node"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    v.write.mode("overwrite").parquet(path + "/vecs")
    v = spark.read.parquet(path + "/vecs")  # truncate lineage
    sym = _nsw_graph_edges(
        v, dim, k_neighbors, n_lists, n_link_probes, seed
    )
    sym.write.mode("overwrite").parquet(path + "/adj")


def _nsw_graph_edges(
    v: DataFrame,
    dim: int,
    k_neighbors: int,
    n_lists: int,
    n_link_probes: int,
    seed: int,
    centroids: list[list[float]] | None = None,
    with_home: bool = False,
):
    """The NSW link builder shared by the single-layer (ss14) and
    hierarchical (ss15) indexes: coarse-list candidates -> exact-cosine
    per-node top-k -> symmetrize + hub-spoke/hub-ring backbone. Takes a
    (node, v) frame, returns the symmetric (node, nbr) edge set,
    connected by construction. ``centroids`` overrides the internal
    coarse training (the hierarchical build persists them for upserts);
    ``with_home`` additionally returns the (node, list_id) home
    assignment frame the upsert path appends to."""
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    # id dtype is normalized ONCE here: every downstream edge/assign/vecs
    # write must be int64 — an append-mode layout with int32 files from
    # one writer and int64 from another fails at scan time with a
    # per-file column-type mismatch (found the hard way in the upsert
    # tests; the ring union silently promoted the build's files to long
    # while appends stayed int)
    v = v.select(F.col("node").cast("long").alias("node"), "v")
    if centroids is None:
        centroids = train_ivf_centroids(
            v, n_centroids=n_lists, seed=seed, vec_col="v"
        )
    C = np.array(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    L = int(min(n_link_probes, len(centroids)))

    @pandas_udf("array<int>")
    def nearest_lists(vs: pd.Series) -> pd.Series:
        X = np.array(vs.tolist(), dtype=np.float64)
        sims = X @ Cn.T
        top = np.argsort(-sims, axis=1)[:, :L]
        return pd.Series([[int(x) for x in row] for row in top])

    assigned = v.withColumn("lists", nearest_lists(F.col("v")))
    home = assigned.select(
        "node", "v", F.col("lists")[0].alias("list_id")
    )
    probe_lists = assigned.select(
        "node", "v", F.explode("lists").alias("list_id")
    )
    cand = probe_lists.alias("a").join(
        home.select(F.col("node").alias("nbr"), F.col("v").alias("nv"),
                    "list_id").alias("b"),
        "list_id",
    ).where(F.col("node") != F.col("nbr"))
    qn = F.sqrt(_dot(F.col("v"), F.col("v"), dim))
    nn = F.sqrt(_dot(F.col("nv"), F.col("nv"), dim))
    scored = cand.select(
        "node", "nbr",
        (_dot(F.col("v"), F.col("nv"), dim) / (qn * nn)).alias("cos"),
    )
    w = Window.partitionBy("node").orderBy(F.col("cos").desc(), "nbr")
    links = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k_neighbors)
        .select("node", "nbr")
    )
    # connectivity backbone: node -> list hub, hubs -> ring
    hubs = home.groupBy("list_id").agg(F.min("node").alias("hub"))
    spokes = home.join(hubs, "list_id").where(
        F.col("node") != F.col("hub")
    ).select("node", F.col("hub").alias("nbr"))
    hub_ids = sorted(r.hub for r in hubs.collect())  # bounded: <= n_lists
    ring_rows = [
        (int(hub_ids[i]), int(hub_ids[(i + 1) % len(hub_ids)]))
        for i in range(len(hub_ids))
        if len(hub_ids) > 1
    ]
    edges = links.unionByName(spokes)
    if ring_rows:
        edges = edges.unionByName(
            v.sparkSession.createDataFrame(ring_rows, "node long, nbr long")
        )
    sym = edges.unionByName(
        edges.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))
    ).distinct()
    if with_home:
        return sym, home.select("node", "list_id")
    return sym


def probe_nsw_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    beam_width: int = 32,
    max_hops: int = 50,
    id_col: str = "vec_id",
) -> DataFrame:
    """Beam search over a ``build_nsw_index`` graph: the frontier starts
    at the global hub (min node id — deterministic), each hop expands
    frontier -> adjacency -> vectors, scores by exact cosine, and keeps
    the best ``beam_width`` UNVISITED nodes; terminates when a hop
    surfaces nothing new. Per-hop work touches only frontier-incident
    adjacency rows + their vectors (the BFS discipline with scoring);
    lineage capped per hop. Returns exact top-k over everything VISITED.

    EXACT MODE (the declared gate form, ss01-ss09's convention): with
    ``beam_width`` >= corpus size the traversal floods the connected-by-
    construction graph, the visited set IS the corpus, and the read-out
    equals brute force. Production operating points (small beams) live
    in the pytest recall tests."""
    adj = spark.read.parquet(path + "/adj")
    vecs = spark.read.parquet(path + "/vecs")
    entry = vecs.select(F.min("node").alias("node"))
    return _graph_beam_topk(
        adj, vecs, query_vec, k, beam_width, max_hops, entry, id_col
    )


def _scorer(vecs: DataFrame, query_vec: list[float]):
    """(node)-frame -> (node, cosine) closure shared by the graph
    probes: joins the persisted vectors and scores by exact cosine."""
    q = [float(x) for x in query_vec]
    qn = float(np.sqrt(sum(x * x for x in q)))
    # one parsed-SQL scoring column (r14): score() runs PER HOP in the
    # beam loop, so the old per-call Column-op chain paid its ~4 py4j
    # round-trips per dimension on every hop
    cos = _cosine_vs_query("v", q, qn)

    def score(frame):
        return frame.join(vecs, "node").select("node", cos.alias("cosine"))

    return score


def _graph_beam_topk(
    adj: DataFrame,
    vecs: DataFrame,
    query_vec: list[float],
    k: int,
    beam_width: int,
    max_hops: int,
    entry: DataFrame,
    id_col: str,
) -> DataFrame:
    """The beam-search loop shared by ss14 (single layer) and ss15
    (layer 0 of the hierarchy): expand frontier -> adjacency -> vectors,
    keep the best ``beam_width`` unvisited nodes, stop when a hop
    surfaces nothing new; exact top-k over everything visited."""
    score = _scorer(vecs, query_vec)
    visited = score(entry).localCheckpoint(eager=True)
    frontier = visited.select("node")
    for _ in range(max_hops):
        nxt = (
            frontier.join(adj, "node")
            .select(F.col("nbr").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        top_new = score(nxt).orderBy(
            F.col("cosine").desc(), "node"
        ).limit(beam_width).localCheckpoint(eager=True)
        if top_new.limit(1).count() == 0:
            break
        visited = visited.unionByName(top_new).localCheckpoint(eager=True)
        frontier = top_new.select("node")
    return (
        visited.select(F.col("node").alias(id_col), "cosine")
        .orderBy(F.col("cosine").desc(), id_col)
        .limit(k)
    )


def build_hnsw_index(
    df: DataFrame,
    path: str,
    dim: int,
    level_fanout: int = 4,
    max_level: int = 4,
    k_neighbors: int = 12,
    n_lists: int = 16,
    n_link_probes: int = 2,
    target_list_size: int = 256,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Hierarchical NSW (the multi-layer HNSW variant the README roadmap
    names after ss14; public algorithm family: Malkov & Yashunin's HNSW
    paper): layer 0 holds EVERY node, and each level up keeps a
    deterministic 1/``level_fanout`` geometric subset, so upper layers
    form the coarse "express lanes" a probe descends before the layer-0
    beam search.

    Level assignment is hash-derived (xxhash64(node, seed) divisible by
    fanout^l), not random — rebuilds are reproducible and an incremental
    upsert would assign new nodes consistently. Each layer's links come
    from the SAME distributed builder as ss14 (`_nsw_graph_edges`:
    coarse-list candidates, per-node top-k, hub backbone — connected by
    construction per layer), with the coarse-list count scaled to the
    layer size (floor ``n_lists``, then layer_size /
    ``target_list_size`` — per-node candidate work stays
    ~``n_link_probes * target_list_size`` at ANY corpus size, keeping
    the build linear; SCALE.md records the 30x-at-10x blowup a fixed
    list count produced before this); geometric layer sizes mean total
    build work is a
    (fanout/(fanout-1)) factor over the layer-0 build, and the adjacency
    is persisted PARTITIONED BY layer so probes prune to the layer they
    are walking. Persists ``path/vecs`` (node, v, level) and
    ``path/adj`` (node, nbr) under layer= partitions."""
    spark = df.sparkSession
    h = F.pmod(
        # hash the CAST id so the level is dtype-invariant (xxhash64 of
        # an int32 and the same value as int64 differ)
        F.xxhash64(F.col(id_col).cast("long"), F.lit(int(seed))),
        F.lit(int(level_fanout) ** int(max_level)),
    )
    lvl = F.lit(0)
    for l in range(1, int(max_level) + 1):
        lvl = F.when(h % (int(level_fanout) ** l) == 0, l).otherwise(lvl)
    v = df.select(
        F.col(id_col).cast("long").alias("node"),
        _as_double(F.col(vec_col)).alias("v"),
        lvl.alias("level"),
    )
    v.write.mode("overwrite").parquet(path + "/vecs")
    v = spark.read.parquet(path + "/vecs")  # truncate lineage
    per_level = {
        int(r.level): int(r.n)
        for r in v.groupBy("level").agg(F.count(F.lit(1)).alias("n")).collect()
    }  # bounded: <= max_level + 1 rows
    layers = []
    for l in range(0, int(max_level) + 1):
        cum = sum(n for lev, n in per_level.items() if lev >= l)
        if cum >= 2:
            layers.append((l, cum))
    import json

    edges = None
    assigns = None
    layer_meta: dict[str, list[list[float]]] = {}
    for l, cum in layers:
        sub = v.where(F.col("level") >= l).select("node", "v")
        # list count scales with the layer: at least n_lists once the
        # layer outgrows them, then cum/target_list_size — candidate
        # work per node stays ~n_link_probes * target_list_size however
        # large the layer gets (a FIXED n_lists makes list sizes, and so
        # the scored candidate-pair count, grow linearly per node: the
        # measured 10x corpus -> 30x build blowup in SCALE.md)
        lists_l = max(
            1, min(cum // 8, max(int(n_lists), cum // int(target_list_size)))
        )
        cents = train_ivf_centroids(
            sub, n_centroids=lists_l, seed=seed + l, vec_col="v"
        )
        e, home = _nsw_graph_edges(
            sub, dim, k_neighbors, lists_l, n_link_probes, seed + l,
            centroids=cents, with_home=True,
        )
        e = e.withColumn("layer", F.lit(l))
        home = home.withColumn("layer", F.lit(l))
        layer_meta[str(l)] = cents
        edges = e if edges is None else edges.unionByName(e)
        assigns = home if assigns is None else assigns.unionByName(home)
    edges.write.mode("overwrite").partitionBy("layer").parquet(path + "/adj")
    # home assignments + per-layer centroids persist so INCREMENTAL
    # upserts can link new nodes with the build's own candidate
    # machinery (no retrain) — the ss13 discipline for the graph index
    assigns.write.mode("overwrite").partitionBy("layer").parquet(
        path + "/assign"
    )
    with open(path + "/_hnsw.json", "w") as f:
        json.dump(
            {
                "dim": int(dim),
                "level_fanout": int(level_fanout),
                "max_level": int(max_level),
                "k_neighbors": int(k_neighbors),
                "n_link_probes": int(n_link_probes),
                "seed": int(seed),
                "layer_centroids": layer_meta,
            },
            f,
        )


def probe_hnsw_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    beam_width: int = 32,
    max_hops: int = 50,
    id_col: str = "vec_id",
) -> DataFrame:
    """HNSW probe: greedy descent through the upper layers (start at the
    top layer's deterministic min-id node, hop to the best-scoring
    neighbor while it strictly improves, drop a layer), then the ss14
    beam search on layer 0 seeded at the descent's landing node.

    Each descent hop reads ONE node's adjacency from the walked layer's
    partition (layer-pruned scan) and collects a single row — driver
    state is one (node, cosine) pair, and upper layers are geometrically
    small, so the descent is O(log n) tiny jobs; all heavy lifting stays
    in the layer-0 beam loop, which touches only frontier-incident
    adjacency + vectors per hop.

    EXACT MODE (the ss01-ss09/ss14 gate convention): layer 0 contains
    the whole corpus and is connected by construction, so with
    ``beam_width`` >= corpus size the beam floods it and the read-out
    equals brute force regardless of where the descent lands."""
    adj = spark.read.parquet(path + "/adj")
    vecs = spark.read.parquet(path + "/vecs")
    score = _scorer(vecs, query_vec)
    upper = sorted(
        (int(r.layer) for r in adj.select("layer").distinct().collect()),
        reverse=True,
    )  # bounded: <= max_level + 1 rows
    top = upper[0] if upper else 0
    cur = score(
        vecs.where(F.col("level") >= top).select(F.min("node").alias("node"))
    ).collect()[0]
    for l in [x for x in upper if x > 0]:
        for _ in range(max_hops):
            nbrs = (
                adj.where((F.col("layer") == l) & (F.col("node") == cur.node))
                .select(F.col("nbr").alias("node"))
            )
            best = (
                score(nbrs)
                .orderBy(F.col("cosine").desc(), "node")
                .limit(1)
                .collect()
            )
            if best and best[0].cosine > cur.cosine:
                cur = best[0]
            else:
                break
    entry = local_frame(spark, [(int(cur.node),)], _NODE_ROW)
    adj0 = adj.where(F.col("layer") == 0).select("node", "nbr")
    return _graph_beam_topk(
        adj0, vecs, query_vec, k, beam_width, max_hops, entry, id_col
    )


def upsert_hnsw_index(
    spark,
    path: str,
    delta_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incremental HNSW maintenance (round-7 continuity item #1 — the
    ss13 append discipline applied to the graph index): new vectors are
    leveled with the build's OWN hash formula (so a node gets the same
    layers an original build would give it), linked per layer through
    the persisted coarse centroids + home assignments (candidates = the
    existing members of the new node's nearest lists, plus same-list
    delta peers), and appended — vectors, home assignments, and
    symmetric adjacency rows land inside the matching ``layer=``
    partitions. No retrain, no corpus re-link: per-batch work is
    O(delta x n_link_probes x list size).

    Connectivity: every new node gets its exact-cosine top-k links PLUS
    a spoke to its home list's hub (the list's min existing node,
    falling back to the layer's min node for an empty list), both
    directions appended, so the flood-mode invariant — layer 0 connected,
    exact-mode probe == brute force — survives any upsert sequence.
    Existing nodes keep their link lists (degrees only grow); periodic
    ``build_hnsw_index`` rebuilds re-prune, the LSM-style compaction
    trade every append-only index makes. Caller contract (as ss13): ids
    in ``delta_df`` are NEW — re-upserting an existing id duplicates its
    rows. Returns the number of vectors appended."""
    import json

    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    with open(path + "/_hnsw.json") as f:
        meta = json.load(f)
    dim = int(meta["dim"])
    fanout = int(meta["level_fanout"])
    max_level = int(meta["max_level"])
    k_neighbors = int(meta["k_neighbors"])
    n_link_probes = int(meta["n_link_probes"])
    seed = int(meta["seed"])
    built_layers = sorted(int(l) for l in meta["layer_centroids"])
    top_built = max(built_layers)

    h = F.pmod(
        F.xxhash64(F.col(id_col).cast("long"), F.lit(seed)),
        F.lit(fanout ** max_level),
    )
    lvl = F.lit(0)
    for l in range(1, max_level + 1):
        lvl = F.when(h % (fanout ** l) == 0, l).otherwise(lvl)
    delta = delta_df.select(
        F.col(id_col).cast("long").alias("node"),
        _as_double(F.col(vec_col)).alias("v"),
        F.least(lvl, F.lit(top_built)).alias("level"),
    ).localCheckpoint(eager=True)  # consumed once per touched layer + append
    n = delta.count()
    if n == 0:
        return 0

    assign_all = spark.read.parquet(path + "/assign")
    vecs_all = spark.read.parquet(path + "/vecs")
    for l in built_layers:
        dsub = delta.where(F.col("level") >= l).select("node", "v")
        if dsub.limit(1).count() == 0:
            continue
        C = np.array(meta["layer_centroids"][str(l)], dtype=np.float64)
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        L = int(min(n_link_probes, len(C)))

        @pandas_udf("array<int>")
        def nearest_lists(vs: pd.Series) -> pd.Series:
            X = np.array(vs.tolist(), dtype=np.float64)
            top = np.argsort(-(X @ Cn.T), axis=1)[:, :L]
            return pd.Series([[int(x) for x in row] for row in top])

        dl = dsub.withColumn("lists", nearest_lists(F.col("v")))
        d_home = dl.select("node", "v", F.col("lists")[0].alias("list_id"))
        d_probe = dl.select("node", "v", F.explode("lists").alias("list_id"))
        members = (
            assign_all.where(F.col("layer") == l)  # partition-pruned
            .select(F.col("node").alias("nbr"), "list_id")
            .join(
                vecs_all.select(F.col("node").alias("nbr"), F.col("v").alias("nv")),
                "nbr",
            )
        )
        # same-list delta peers are candidates too (a batch of related
        # vectors must interlink, not only attach to the old corpus)
        members = members.unionByName(
            d_home.select(
                F.col("node").alias("nbr"), "list_id", F.col("v").alias("nv")
            )
        )
        cand = d_probe.join(members, "list_id").where(
            F.col("node") != F.col("nbr")
        )
        qn = F.sqrt(_dot(F.col("v"), F.col("v"), dim))
        nn = F.sqrt(_dot(F.col("nv"), F.col("nv"), dim))
        scored = cand.select(
            "node", "nbr",
            (_dot(F.col("v"), F.col("nv"), dim) / (qn * nn)).alias("cos"),
        )
        w = Window.partitionBy("node").orderBy(F.col("cos").desc(), "nbr")
        links = (
            scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k_neighbors)
            .select("node", "nbr")
        )
        hubs = (
            assign_all.where(F.col("layer") == l)
            .groupBy("list_id")
            .agg(F.min("node").alias("hub"))
        )
        layer_min_rows = (
            assign_all.where(F.col("layer") == l)
            .agg(F.min("node").alias("m"))
            .collect()
        )
        layer_min = layer_min_rows[0].m
        spokes = (
            d_home.join(F.broadcast(hubs), "list_id", "left")
            .select(
                "node",
                F.coalesce(F.col("hub"), F.lit(layer_min)).alias("nbr"),
            )
            .where(F.col("nbr").isNotNull() & (F.col("node") != F.col("nbr")))
        )
        new_edges = links.unionByName(spokes).distinct()
        sym = new_edges.unionByName(
            new_edges.select(
                F.col("nbr").alias("node"), F.col("node").alias("nbr")
            )
        ).distinct().withColumn("layer", F.lit(l))
        sym.write.mode("append").partitionBy("layer").parquet(path + "/adj")
        d_home.select("node", "list_id").withColumn(
            "layer", F.lit(l)
        ).write.mode("append").partitionBy("layer").parquet(path + "/assign")
    delta.write.mode("append").parquet(path + "/vecs")
    return n
