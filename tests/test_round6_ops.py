"""Round-6 additions: OHLC bars, MAD outliers, feature correlation."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from querysight_spark.operators.quality import mad_outliers
from querysight_spark.operators.timeseries import ohlc_bars
from querysight_spark.operators.vectors import feature_correlation


def _ts(hour: int, minute: int = 0) -> dt.datetime:
    return dt.datetime(2024, 3, 1, hour, minute)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )


# --- ohlc_bars ---------------------------------------------------------------


def test_ohlc_open_close_tiebreak_and_extremes(spark):
    ev = _events(
        spark,
        [
            # same timestamp twice: event_id must break the tie for open
            (2, _ts(9, 0), "buy", 50.0),
            (1, _ts(9, 0), "buy", 10.0),
            (3, _ts(9, 30), "buy", 99.0),
            (4, _ts(9, 59), "buy", 20.0),
        ],
    )
    row = ohlc_bars(ev).collect()[0]
    assert row.open_v == 10.0  # event_id 1 wins the 9:00 tie
    assert row.high_v == 99.0
    assert row.low_v == 10.0
    assert row.close_v == 20.0
    assert row.n_events == 4
    assert row.total_v == 179.0


def test_ohlc_bars_split_by_key_and_hour(spark):
    ev = _events(
        spark,
        [
            (1, _ts(9, 5), "a", 1.0),
            (2, _ts(10, 5), "a", 2.0),
            (3, _ts(9, 5), "b", 3.0),
        ],
    )
    out = {
        (r.event_type, r.bar_ts.hour): r.n_events
        for r in ohlc_bars(ev).collect()
    }
    assert out == {("a", 9): 1, ("a", 10): 1, ("b", 9): 1}


def test_ohlc_decimal_total_is_exact(spark):
    # 0.1 + 0.2 in doubles is 0.30000000000000004; the decimal path must
    # produce exactly 0.3 regardless of partial-aggregation order
    ev = _events(
        spark,
        [(i, _ts(9, i % 60), "t", v) for i, v in enumerate([0.1, 0.2] * 50)],
    ).repartition(8)
    row = ohlc_bars(ev).collect()[0]
    assert row.total_v == 15.0


# --- mad_outliers ------------------------------------------------------------


def test_mad_flags_only_the_extreme_row(spark):
    # group "a": tight cluster around 10 with one wild row.
    # med = 10, MAD = 1 -> only |x-10| > 3 flags.
    vals = [9.0, 9.0, 10.0, 10.0, 11.0, 11.0, 50.0]
    ev = _events(
        spark,
        [(i, _ts(9, i), "a", v) for i, v in enumerate(vals)],
    )
    out = mad_outliers(ev).collect()
    assert [(r.event_id, r.value) for r in out] == [(6, 50.0)]
    r = out[0]
    assert r.med == 10.0 and r.mad == 1.0
    assert math.isclose(r.score, 40.0)


def test_mad_zero_group_flags_nothing(spark):
    # >= half the group at the median -> MAD 0 -> no division, no flags
    ev = _events(
        spark,
        [(i, _ts(9, i), "c", 5.0) for i in range(6)] + [(9, _ts(9, 9), "c", 500.0)],
    )
    assert mad_outliers(ev).count() == 0


def test_mad_k_widens_the_fence(spark):
    vals = [9.0, 9.0, 10.0, 10.0, 11.0, 11.0, 14.5, 50.0]
    ev = _events(
        spark,
        [(i, _ts(9, i), "a", v) for i, v in enumerate(vals)],
    )
    tight = {r.event_id for r in mad_outliers(ev, k=3.0).collect()}
    loose = {r.event_id for r in mad_outliers(ev, k=10.0).collect()}
    assert tight == {6, 7} and loose == {7}


# --- feature_correlation -----------------------------------------------------


def test_feature_correlation_known_structure(spark):
    # dim0 = t, dim1 = 2t (corr +1), dim2 = -t (corr -1), dim3 constant
    rows = [
        (i, [float(i), 2.0 * i, -float(i), 7.0]) for i in range(1, 9)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r.i, r.j): r.corr for r in feature_correlation(emb, n_dims=4).collect()}
    assert len(out) == 6  # 4 choose 2
    assert out[(0, 1)] == 1.0
    assert out[(0, 2)] == -1.0
    assert out[(1, 2)] == -1.0
    # constant dimension: NULL corr for every pair touching dim 3
    assert out[(0, 3)] is None and out[(1, 3)] is None and out[(2, 3)] is None


def test_feature_correlation_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    mat = rng.rand(40, 5).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    out = {(r.i, r.j): r.corr for r in feature_correlation(emb, n_dims=5).collect()}
    ref = np.corrcoef(mat.astype("float64").T)
    for (i, j), c in out.items():
        assert math.isclose(c, round(ref[i, j], 6), abs_tol=1e-6)


def test_feature_correlation_row_count_is_bounded(spark):
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0 * i, 2.0, 3.0 * i, 4.0, float(i % 5)]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    assert feature_correlation(emb, n_dims=6).count() == 15


# --- hnsw (ss15) -------------------------------------------------------------


def test_hnsw_levels_are_geometric_and_deterministic(spark, tmp_path):
    from querysight_spark.operators.similarity import build_hnsw_index
    from querysight_spark.testing import make_clustered_embeddings

    vecs = make_clustered_embeddings(spark, n=400, dim=16, n_clusters=8)
    path = str(tmp_path / "h1")
    build_hnsw_index(vecs, path, dim=16, level_fanout=4, max_level=4)
    lv = {
        r.level: r.n
        for r in spark.read.parquet(path + "/vecs")
        .groupBy("level")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    # layer 0 holds everything; each level up keeps roughly 1/4
    assert sum(lv.values()) == 400
    upper = sum(n for l, n in lv.items() if l >= 1)
    assert 400 // 4 * 0.4 <= upper <= 400 // 4 * 2.5
    # deterministic: a rebuild assigns identical levels
    path2 = str(tmp_path / "h2")
    build_hnsw_index(vecs, path2, dim=16, level_fanout=4, max_level=4)
    a = {(r.node, r.level) for r in spark.read.parquet(path + "/vecs").select("node", "level").collect()}
    b = {(r.node, r.level) for r in spark.read.parquet(path2 + "/vecs").select("node", "level").collect()}
    assert a == b


def test_hnsw_recall_pruning_and_flood_equals_brute(spark, tmp_path):
    """ss15's production point must reach a recall floor with a small
    beam, and flood mode must equal brute force exactly (the layer-0
    connectivity-by-construction claim, descent landing irrelevant)."""
    from querysight_spark.operators.similarity import (
        brute_force_topk,
        build_hnsw_index,
        probe_hnsw_index,
    )
    from querysight_spark.testing import make_clustered_embeddings

    k = 10
    vecs = make_clustered_embeddings(spark, n=400, dim=32, n_clusters=10).cache()
    path = str(tmp_path / "hnsw")
    build_hnsw_index(vecs, path, dim=32, k_neighbors=10, n_lists=8)
    queries = [[float(x) for x in r.embedding]
               for r in vecs.where("vec_id % 100 = 1").collect()]

    hits = 0
    for q in queries:
        truth = {r.vec_id for r in brute_force_topk(vecs, q, k=k).collect()}
        got = {r.vec_id
               for r in probe_hnsw_index(spark, path, q, k=k, beam_width=24,
                                         max_hops=12).collect()}
        hits += len(got & truth)
    assert hits / (k * len(queries)) >= 0.6, hits
    assert 1 + 24 * 12 < 400  # the beam bound proves pruning

    q = queries[0]
    truth_rows = [(r.vec_id, r.cosine)
                  for r in brute_force_topk(vecs, q, k=k).collect()]
    flood_rows = [(r.vec_id, r.cosine)
                  for r in probe_hnsw_index(spark, path, q, k=k,
                                            beam_width=400, max_hops=64).collect()]
    assert flood_rows == truth_rows


def test_hnsw_adjacency_is_layer_partitioned(spark, tmp_path):
    import os

    from querysight_spark.operators.similarity import build_hnsw_index
    from querysight_spark.testing import make_clustered_embeddings

    vecs = make_clustered_embeddings(spark, n=300, dim=16, n_clusters=6)
    path = str(tmp_path / "h3")
    build_hnsw_index(vecs, path, dim=16)
    parts = [d for d in os.listdir(path + "/adj") if d.startswith("layer=")]
    assert "layer=0" in parts and len(parts) >= 2
    # every layer's edge set is symmetric
    adj = spark.read.parquet(path + "/adj")
    fwd = {(r.layer, r.node, r.nbr) for r in adj.collect()}
    assert all((l, b, a) in fwd for (l, a, b) in fwd)


def test_hnsw_upsert_flood_equals_brute_over_merged_corpus(spark, tmp_path):
    """ss16: build on 80%, upsert 20%, flood probe == brute force over
    the WHOLE corpus — proves delta leveling, linking, and connectivity."""
    from querysight_spark.operators.similarity import (
        brute_force_topk,
        build_hnsw_index,
        probe_hnsw_index,
        upsert_hnsw_index,
    )
    from querysight_spark.testing import make_clustered_embeddings

    vecs = make_clustered_embeddings(spark, n=300, dim=16, n_clusters=6).cache()
    path = str(tmp_path / "up")
    build_hnsw_index(vecs.where("vec_id % 5 != 0"), path, dim=16, n_lists=6)
    n_new = upsert_hnsw_index(spark, path, vecs.where("vec_id % 5 = 0"))
    assert n_new == vecs.where("vec_id % 5 = 0").count()
    q = [float(x) for x in vecs.where("vec_id = 3").first().embedding]
    truth = [(r.vec_id, r.cosine) for r in brute_force_topk(vecs, q, k=10).collect()]
    got = [(r.vec_id, r.cosine)
           for r in probe_hnsw_index(spark, path, q, k=10, beam_width=300,
                                     max_hops=64).collect()]
    assert got == truth


def test_hnsw_upsert_appends_into_layer_partitions(spark, tmp_path):
    from querysight_spark.operators.similarity import (
        build_hnsw_index,
        upsert_hnsw_index,
    )
    from querysight_spark.testing import make_clustered_embeddings

    vecs = make_clustered_embeddings(spark, n=240, dim=16, n_clusters=6)
    path = str(tmp_path / "up2")
    build_hnsw_index(vecs.where("vec_id < 200"), path, dim=16, n_lists=6)
    before = spark.read.parquet(path + "/adj").count()
    upsert_hnsw_index(spark, path, vecs.where("vec_id >= 200"))
    adj = spark.read.parquet(path + "/adj")
    assert adj.count() > before
    # appended adjacency stays symmetric
    fwd = {(r.layer, r.node, r.nbr) for r in adj.collect()}
    assert all((l, b, a) in fwd for (l, a, b) in fwd)
    # every new node present in layer-0 adjacency (connectivity floor)
    new_nodes = {r.vec_id for r in vecs.where("vec_id >= 200").collect()}
    l0 = {r.node for r in adj.where("layer = 0").select("node").collect()}
    assert new_nodes <= l0


def test_hnsw_upsert_levels_match_fresh_build(spark, tmp_path):
    """A node's hash-derived level must be identical whether it arrives
    in the original build or in a later upsert (rebuild consistency)."""
    from querysight_spark.operators.similarity import (
        build_hnsw_index,
        upsert_hnsw_index,
    )
    from querysight_spark.testing import make_clustered_embeddings

    vecs = make_clustered_embeddings(spark, n=200, dim=16, n_clusters=4)
    full, part = str(tmp_path / "f"), str(tmp_path / "p")
    build_hnsw_index(vecs, full, dim=16, n_lists=4)
    build_hnsw_index(vecs.where("vec_id % 3 != 0"), part, dim=16, n_lists=4)
    upsert_hnsw_index(spark, part, vecs.where("vec_id % 3 = 0"))
    a = {(r.node, r.level) for r in spark.read.parquet(full + "/vecs").select("node", "level").collect()}
    b = {(r.node, r.level) for r in spark.read.parquet(part + "/vecs").select("node", "level").collect()}
    # levels agree except where the partial build's top layer clamped
    top_b = max(l for _n, l in b)
    assert {(n, min(l, top_b)) for n, l in a} == b


# --- mad_outliers approx twin (an08) ----------------------------------------


def test_mad_approx_matches_exact_on_clean_groups(spark):
    vals = [9.0, 9.0, 10.0, 10.0, 11.0, 11.0, 50.0] * 8
    ev = _events(
        spark,
        [(i, _ts(9 + i // 60, i % 60), "a", v) for i, v in enumerate(vals)],
    )
    exact = {r.event_id for r in mad_outliers(ev).collect()}
    approx = {r.event_id for r in mad_outliers(ev, method="approx").collect()}
    assert exact == approx and len(exact) == 8


def test_mad_method_validation(spark):
    import pytest

    ev = _events(spark, [(1, _ts(9), "a", 1.0)])
    with pytest.raises(ValueError):
        mad_outliers(ev, method="bogus")


# --- streaming ANN serving (st12) --------------------------------------------


def test_ann_serving_replay_rewrites_not_appends(spark, tmp_path):
    """Re-draining the same query stream into the same results root
    (fresh checkpoint, epochs restart) must leave the read-out
    IDENTICAL — the dynamic-overwrite journal rewrites epoch partitions
    instead of appending duplicates."""
    from querysight_spark.operators.similarity import batch_topk
    from querysight_spark.streaming.incremental import (
        latest_served_topk,
        start_ann_serving,
    )
    from querysight_spark.testing import make_clustered_embeddings

    vecs = make_clustered_embeddings(spark, n=120, dim=8, n_clusters=4).cache()
    src = str(tmp_path / "src")
    vecs.write.parquet(src)
    out = str(tmp_path / "served")

    def drain(ck):
        stream = (
            spark.readStream.schema("vec_id bigint, embedding array<float>, label int")
            .parquet(src)
            .where("vec_id % 40 = 1")
        )
        q = start_ann_serving(stream, vecs, out, str(tmp_path / ck), k=3)
        q.awaitTermination()

    drain("ck1")
    first = [(r.qid, r.rk, r.vec_id, r.cosine)
             for r in latest_served_topk(spark, out).orderBy("qid", "rk").collect()]
    drain("ck2")  # full replay into the same journal
    second = [(r.qid, r.rk, r.vec_id, r.cosine)
              for r in latest_served_topk(spark, out).orderBy("qid", "rk").collect()]
    assert first == second and len(first) == 3 * 3  # 3 queries x top-3

    # read-out equals the direct batch answer
    qs = vecs.where("vec_id % 40 = 1").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    direct = [(r.qid, r.rk, r.vec_id, r.cosine)
              for r in batch_topk(vecs, qs, k=3).orderBy("qid", "rk").collect()]
    assert first == direct


def test_batch_topk_gemm_equals_expr(spark):
    from querysight_spark.operators.similarity import batch_topk
    from querysight_spark.testing import make_clustered_embeddings

    vecs = make_clustered_embeddings(spark, n=250, dim=16, n_clusters=5).cache()
    qs = vecs.where("vec_id % 60 = 2").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    a = [(r.qid, r.rk, r.vec_id, r.cosine)
         for r in batch_topk(vecs, qs, k=5, dim=16).orderBy("qid", "rk").collect()]
    b = [(r.qid, r.rk, r.vec_id, r.cosine)
         for r in batch_topk(vecs, qs, k=5, method="gemm").orderBy("qid", "rk").collect()]
    assert a == b and len(a) == 5 * qs.count()


def test_px04_pipeline_deterministic_and_shard_consistent(spark):
    from querysight_spark.extension_queries import EXTENSION_QUERIES

    fn, _oracle = EXTENSION_QUERIES["px04_corpus_to_index_pipeline"]
    sf = "/root/testdata/sf0.001"
    rows = lambda: [tuple(r) for r in fn(spark, sf).collect()]  # noqa: E731
    a = rows()
    assert a == rows()  # re-run identical (warm index + seeded shuffle)
    assert len(a) == 10
    assert all(0 <= r[3] < 4 and r[4] >= 1 for r in a)  # shard_id, shard_pos
    # scores strictly ordered desc with doc_id tiebreak
    keys = [(-r[1], r[0]) for r in a]
    assert keys == sorted(keys)


def test_stream_index_absorb_replay_is_noop(spark, tmp_path):
    """start_index_absorb: duplicate delivery (same docs re-streamed with
    a FRESH checkpoint — full replay, not just intra-run re-delivery)
    absorbs nothing, because the absorb anti-joins the index's own lens."""
    import os

    from querysight_spark.operators.search import (
        bm25_topk,
        bm25_topk_upsertable,
        build_text_index_upsertable,
    )
    from querysight_spark.sources.text_corpus import (
        DOCUMENTS_SCHEMA,
        write_jsonl,
    )
    from querysight_spark.streaming.incremental import start_index_absorb

    rows = [
        (i, f"alpha beta doc{i} " + ("spark " * (i % 3 + 1)).strip(),
         "en", "s", 10)
        for i in range(1, 21)
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    index = str(tmp_path / "ix")
    build_text_index_upsertable(
        docs.where("doc_id % 4 != 0").select("doc_id", "text"), index
    )
    export = str(tmp_path / "jsonl")
    write_jsonl(docs.where("doc_id % 4 = 0").repartition(2), export)

    def drain(ck):
        stream = (
            spark.readStream.schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(export)
        )
        q = start_index_absorb(stream, index, str(tmp_path / ck))
        q.awaitTermination()

    drain("ck1")
    probe = lambda: [  # noqa: E731
        (r.doc_id, r.score)
        for r in bm25_topk_upsertable(spark, index, ["spark", "alpha"], k=25)
        .orderBy("doc_id").collect()
    ]
    first = probe()
    n_lens_files = len(os.listdir(os.path.join(index, "lens")))
    drain("ck2")  # full replay from scratch
    assert probe() == first
    # not even an empty append happened on the replay
    assert len(os.listdir(os.path.join(index, "lens"))) == n_lens_files
    # and the absorbed index equals the in-flight scorer on the union
    flight = [
        (r.doc_id, r.score)
        for r in bm25_topk(
            docs.select("doc_id", "text"), ["spark", "alpha"], k=25
        ).orderBy("doc_id").collect()
    ]
    assert first == flight


def test_filtered_index_probe_respects_filter_and_matches_brute(spark, tmp_path):
    """ss18's production point: the persisted-index filtered probe must
    (a) never return an id outside the filter, and (b) at all-lists +
    full oversample equal the brute-force filtered top-k exactly."""
    from querysight_spark.operators.similarity import (
        build_ivfpq_index,
        filtered_topk,
        probe_ivfpq_index,
    )

    rng_rows = [
        (
            i,
            [float((i * 7 + j * 3) % 17 - 8) for j in range(8)],
            i % 5,
        )
        for i in range(400)
    ]
    vecs = spark.createDataFrame(
        rng_rows, "vec_id long, embedding array<float>, label int"
    )
    ix = str(tmp_path / "ix")
    build_ivfpq_index(vecs, ix, dim=8, n_centroids=4, m=2, k=8)
    q = [1.0] * 8
    keys = vecs.where(F.col("label") == 2).select("vec_id")
    got = probe_ivfpq_index(
        spark, ix, q, k=5, n_probes=4, rerank_df=vecs, oversample=100,
        filter_keys=keys,
    )
    got_rows = [(r.vec_id, r.cosine) for r in got.collect()]
    assert all(vid % 5 == 2 for vid, _ in got_rows)
    want = [
        (r.vec_id, r.cosine)
        for r in filtered_topk(vecs, q, F.col("label") == 2, k=5).collect()
    ]
    assert got_rows == want
