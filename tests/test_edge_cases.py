"""Degenerate-input hardening: empty frames, all-null payloads, single
rows — the shapes a driver smoke test or a filtered-to-nothing pipeline
hands the operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from querysight_spark.plans.coverage import (
    patterns_with_models,
    resolve_models,
    uncovered_tables,
)
from querysight_spark.plans.patterns import aggregate_patterns, merge_patterns
from querysight_spark.plans.recommend import recommendations
from querysight_spark.schemas import (
    DBT_MODEL_MAP_SCHEMA,
    DBT_SOURCES_SCHEMA,
    QUERY_LOG_SCHEMA,
)


@pytest.fixture()
def empty_log(spark):
    return spark.createDataFrame([], QUERY_LOG_SCHEMA)


@pytest.fixture()
def empty_map(spark):
    return spark.createDataFrame([], DBT_MODEL_MAP_SCHEMA)


def test_pattern_agg_empty(spark, empty_log):
    out = aggregate_patterns(empty_log, min_frequency=1)
    assert out.count() == 0
    assert "pattern_id" in out.columns  # schema intact for downstream joins


def test_merge_empty_prior(spark, query_log, empty_log):
    batch = aggregate_patterns(query_log, min_frequency=1, extract_from_sql=False)
    prior = aggregate_patterns(empty_log, min_frequency=1, extract_from_sql=False)
    merged = merge_patterns(prior, batch)
    assert merged.count() == batch.count()


def test_coverage_empty_model_map(spark, query_log, empty_map):
    p = aggregate_patterns(query_log, min_frequency=1, extract_from_sql=False)
    resolved = resolve_models(p, empty_map)
    enriched = patterns_with_models(p, resolved)
    assert all(r.dbt_models_used == [] for r in enriched.collect())
    sources = spark.createDataFrame([], DBT_SOURCES_SCHEMA)
    unc = {r.tname for r in uncovered_tables(resolved, sources).collect()}
    assert "orders" in unc  # everything uncovered when the catalog is empty


def test_recommendations_empty_patterns(spark, empty_log, empty_map):
    p = aggregate_patterns(empty_log, min_frequency=1, extract_from_sql=False)
    assert recommendations(p, resolve_models(p, empty_map)).count() == 0


def test_dedup_ops_empty(spark):
    from querysight_spark.operators.dedup import (
        embedding_cosine_duplicates,
        exact_duplicates,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert exact_duplicates(docs).count() == 0
    assert minhash_lsh_candidates(docs).count() == 0
    assert ngram_jaccard_pairs(docs).count() == 0
    vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert embedding_cosine_duplicates(vecs).count() == 0


def test_asof_empty_right(spark):
    import datetime as dt

    from querysight_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("L1", "k", dt.datetime(2024, 1, 1))], "lid string, key string, lt timestamp"
    )
    right = spark.createDataFrame([], "rid string, key string, rt timestamp, v double")
    row = asof_join(left, right, on=["key"], left_time="lt", right_time="rt",
                    right_values=["rid", "v"]).first()
    assert row.lid == "L1" and row.rid_asof is None


def test_single_word_doc_shingles(spark):
    from querysight_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame([(1, "word"), (2, "")], "doc_id long, text string")
    # docs shorter than the shingle size yield no signature rows, not errors
    assert minhash_signatures(docs, shingle_size=3).count() == 0

def _corpus_without_vec_id_zero(tmp_path) -> str:
    """Embeddings corpus whose ids run 1..30: no vec_id 0."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    ids = list(range(1, 31))
    vecs = rng.standard_normal((len(ids), 8)).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
        }),
        tmp_path / "embeddings.parquet",
    )
    return str(tmp_path)


def test_dd06_corpus_without_vec_id_zero(spark, tmp_path):
    """dd06 sizes its LSH planes from the corpus itself, not from the
    vec_id-0 query vector, so a corpus that lacks id 0 still runs."""
    from querysight_spark.extension_queries import dd06

    sf_dir = _corpus_without_vec_id_zero(tmp_path)
    pairs = {(r.vec_a, r.vec_b) for r in dd06(spark, sf_dir).collect()}
    # _vecs_aug duplicates every id divisible by 25 at id + 100000
    assert (25, 100025) in pairs


def test_ss01_corpus_without_vec_id_zero(spark, tmp_path):
    """The ANN queries probe with vec_id 0's embedding; without that row
    they fail with a message naming it."""
    from querysight_spark.extension_queries import ss01

    sf_dir = _corpus_without_vec_id_zero(tmp_path)
    with pytest.raises(ValueError, match=r"embeddings\.parquet.*vec_id 0"):
        ss01(spark, sf_dir)


def _source(tmp_path):
    src = tmp_path / "sf"
    src.mkdir(exist_ok=True)
    (src / "t.parquet").write_bytes(b"v1")
    return str(src), str(tmp_path / "fixtures")


def _ensure(sf_dir, root, build):
    from querysight_spark.sources.catalog import fixture_dir, mark_built

    path, built = fixture_dir(sf_dir, "t", "k", root=root)
    if not built:
        build(path)
        mark_built(path)
    return path


def test_fixture_dir_builds_once_per_identity(tmp_path):
    import os

    sf_dir, root = _source(tmp_path)
    builds = []

    def build(path):
        builds.append(path)
        os.makedirs(path)

    first = _ensure(sf_dir, root, build)
    assert _ensure(sf_dir, root, build) == first and builds == [first]
    # a new source identity (mtime) binds a new dir and builds again
    src = os.path.join(sf_dir, "t.parquet")
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    second = _ensure(sf_dir, root, build)
    assert second != first and builds == [first, second]


def test_fixture_dir_failed_build_is_redone_from_empty(tmp_path):
    import os

    from querysight_spark.sources.catalog import fixture_dir

    sf_dir, root = _source(tmp_path)

    def crash(path):
        os.makedirs(path)
        open(os.path.join(path, "partial"), "w").close()
        raise RuntimeError("crash mid-build")

    with pytest.raises(RuntimeError):
        _ensure(sf_dir, root, crash)
    path, built = fixture_dir(sf_dir, "t", "k", root=root)
    assert not built and not os.path.exists(path)  # no marker, dir cleared
    seen = []
    _ensure(sf_dir, root, lambda p: seen.append(os.path.exists(p)) or os.makedirs(p))
    assert seen == [False]
    assert fixture_dir(sf_dir, "t", "k", root=root) == (path, True)


def test_schema_memo_reinfers_after_rewrite(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from querysight_spark.sources.catalog import read_parquet_known_schema

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet_known_schema(spark, path).columns == ["a"]
    assert read_parquet_known_schema(spark, path).columns == ["a"]  # memo hit
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = read_parquet_known_schema(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_column_minmax_footer_and_agg_agree(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from querysight_spark.sources.catalog import column_minmax

    t = pa.table({"k": pa.array([5, -3, 9, 2], pa.int64())})
    pq.write_table(t, tmp_path / "with.parquet", row_group_size=2)
    pq.write_table(t, tmp_path / "without.parquet", write_statistics=False)
    # footer stats on one file, the agg fallback on the other
    for table in ("with", "without"):
        assert column_minmax(spark, str(tmp_path), table, ["k"]) == {"k": (-3, 9)}


def test_snapshot_put_failure_leaves_no_valid_manifest(spark, tmp_path):
    from querysight_spark.sources.snapshot_cache import SnapshotCache

    cache = SnapshotCache(str(tmp_path))
    cache.put(spark.range(3), "optimization", "k", now=0.0)
    assert cache.get(spark, "optimization", "k", now=1.0).count() == 3
    failing = spark.range(3).select(F.raise_error(F.lit("boom")).cast("long").alias("id"))
    with pytest.raises(Exception, match="boom"):
        cache.put(failing, "optimization", "k", now=2.0)
    assert cache.get(spark, "optimization", "k", now=3.0) is None
