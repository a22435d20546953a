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

def test_dd06_corpus_without_vec_id_zero(spark, tmp_path):
    """dd06 sizes its LSH planes from the corpus itself, not from the
    vec_id-0 query vector, so a corpus that lacks id 0 still runs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from querysight_spark.extension_queries import dd06

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
    pairs = {(r.vec_a, r.vec_b) for r in dd06(spark, str(tmp_path)).collect()}
    # _vecs_aug duplicates every id divisible by 25 at id + 100000
    assert (25, 100025) in pairs
