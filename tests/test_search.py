"""Unit tests for operators/search.py (BM25 / tf-idf / unigram LM).

The driver-contract oracle equivalence (ir01–ir03 vs DuckDB) is covered by
test_oracle_gate.py; these tests pin the IR semantics themselves on a tiny
hand-checkable fixture.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from querysight_spark.operators.search import (
    bm25_topk,
    term_postings,
    tfidf_scores,
    unigram_lm_scores,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "spark query engine runs spark jobs"),
        (2, "query planner and query optimizer"),
        (3, "distributed engine shuffles data"),
        (4, "spark spark spark spark spark spark"),
        (5, "totally unrelated words here now"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_term_postings(corpus):
    rows = {(r.term, r.doc_id): r.tf for r in term_postings(corpus).collect()}
    assert rows[("spark", 1)] == 2
    assert rows[("spark", 4)] == 6
    assert rows[("query", 2)] == 2
    assert ("spark", 2) not in rows


def test_bm25_ranks_and_saturates(corpus):
    got = bm25_topk(corpus, ["spark", "query"], k=5).collect()
    ids = [r.doc_id for r in got]
    # docs 1, 2, 4 match; doc 1 matches BOTH terms so it outranks the
    # single-term docs; tf saturation keeps doc 4's six 'spark's from
    # dominating doc 2's two 'query's by 3x
    assert set(ids) == {1, 2, 4}
    assert ids[0] == 1
    scores = {r.doc_id: r.score for r in got}
    assert scores[4] < 3 * scores[2]
    matched = {r.doc_id: r.n_terms_matched for r in got}
    assert matched == {1: 2, 2: 1, 4: 1}


def test_bm25_hand_value(spark):
    # single doc matching one term once: score = idf * (k1+1)/(1 + k1)
    # with dl == avgdl (all docs same length)
    rows = [(1, "a b c"), (2, "d e f"), (3, "g h i")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = bm25_topk(df, ["a"], k=1, k1=1.2, b=0.75).collect()[0]
    idf = math.log(1.0 + (3 - 1 + 0.5) / (1 + 0.5))
    expect = idf * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 1.0))
    assert got.doc_id == 1
    assert got.score == pytest.approx(expect, abs=1e-6)


def test_tfidf_scores(corpus):
    got = {r.doc_id: r for r in tfidf_scores(corpus, ["spark", "query"]).collect()}
    assert set(got) == {1, 2, 4}
    # 'spark' appears in 2 of 5 docs -> idf ln(5/2); 'query' in 2 of 5
    idf = math.log(5 / 2)
    assert got[4].tfidf == pytest.approx(6 * idf, abs=1e-6)
    assert got[1].tfidf == pytest.approx(2 * idf + 1 * idf, abs=1e-6)
    assert got[1].total_tf == 3


def test_bm25_indexed_matches_inflight(corpus, spark, tmp_path):
    from querysight_spark.operators.search import (
        bm25_topk_indexed,
        build_text_index,
    )

    path = str(tmp_path / "text_index")
    build_text_index(corpus, path)
    terms = ["spark", "query", "engine"]
    inflight = bm25_topk(corpus, terms, k=5).collect()
    indexed = bm25_topk_indexed(spark, path, terms, k=5).collect()
    assert [(r.doc_id, r.score, r.n_terms_matched) for r in indexed] == [
        (r.doc_id, r.score, r.n_terms_matched) for r in inflight
    ]
    # the probe's postings scan pushes the term filter to parquet
    plan = (
        spark.read.parquet(f"{path}/postings")
        .where(F.col("term").isin(terms))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [In(term" in plan


def test_unigram_lm_prefers_common_words(spark):
    rows = [
        (1, "common common common common"),
        (2, "common common common rare"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in unigram_lm_scores(df).collect()}
    # doc 2 contains the rare token, so its mean logprob is lower
    assert got[1].mean_logprob > got[2].mean_logprob
    # hand value: p(common) = 7/8, p(rare) = 1/8
    lp1 = 4 * math.log(7 / 8) / 4
    lp2 = (3 * math.log(7 / 8) + math.log(1 / 8)) / 4
    assert got[1].mean_logprob == pytest.approx(lp1, abs=1e-6)
    assert got[2].mean_logprob == pytest.approx(lp2, abs=1e-6)
    assert got[1].n_tokens == 4


def _py_bm25(docs: dict[int, str], terms: list[str], k1=1.2, b=0.75):
    """Reference BM25 implementation, straight from the formula."""
    toks = {d: t.split(" ") for d, t in docs.items()}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = {}
    for d, words in toks.items():
        s, matched = 0.0, 0
        for t in sorted(terms):
            tf = words.count(t)
            if tf == 0 or df[t] == 0:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * len(words) / avgdl)
            )
            matched += 1
        if matched:
            out[d] = (round(s, 6), matched)
    return out


def test_bm25_differential_random_corpora(spark):
    """Seeded random corpora vs the pure-Python reference — guards the
    whole plan (postings, df window, stats broadcast, fold) against the
    formula, not just the hand-built fixtures."""
    import random

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(30)]
        docs = {
            d: " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40)))
            for d in range(1, 26)
        }
        terms = rng.sample(vocab, 4)
        expect = _py_bm25(docs, terms)
        df = spark.createDataFrame(list(docs.items()), ["doc_id", "text"])
        got = {
            r.doc_id: (r.score, r.n_terms_matched)
            for r in bm25_topk(df, terms, k=100).collect()
        }
        assert got == expect, f"seed {seed}"


def test_bigram_lm_hand_value(spark):
    from querysight_spark.operators.search import bigram_lm_scores

    rows = [(1, "a b a b"), (2, "a b c")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in bigram_lm_scores(df).collect()}
    # corpus bigrams: doc1: (a b)x2, (b a); doc2: (a b), (b c)
    # c(a b)=3, c(b a)=1, c(b c)=1; left counts: a->3, b->2
    lab = math.log(3 / 3)   # 0
    lba = math.log(1 / 2)
    lbc = math.log(1 / 2)
    assert got[1].mean_bigram_logprob == pytest.approx(
        (2 * lab + lba) / 3, abs=1e-6
    )
    assert got[2].mean_bigram_logprob == pytest.approx(
        (lab + lbc) / 2, abs=1e-6
    )
    # single-token docs carry no bigrams and drop out
    single = spark.createDataFrame([(9, "only")], ["doc_id", "text"])
    assert bigram_lm_scores(single).count() == 0


def test_ivfpq_upsert_appends_into_existing_lists(spark, tmp_path):
    """Upserted vectors land in the same list_id partition layout and are
    findable by a probe; base rows are untouched."""
    import numpy as np
    from pyspark.sql import functions as F

    from querysight_spark.operators.similarity import (
        build_ivfpq_index,
        probe_ivfpq_index,
        upsert_ivfpq_index,
    )

    rng = np.random.RandomState(7)
    vecs = [(i, [float(x) for x in rng.randn(16)]) for i in range(120)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    base = df.where(F.col("vec_id") < 100)
    delta = df.where(F.col("vec_id") >= 100)
    path = str(tmp_path / "idx")
    build_ivfpq_index(base, path, dim=16, n_centroids=4, m=4, k=8)
    n = upsert_ivfpq_index(spark, path, delta)
    assert n == 20
    codes = spark.read.parquet(path)
    assert codes.count() == 120
    # delta rows coarse-assigned into the existing list space
    lists = {r.list_id for r in codes.select("list_id").distinct().collect()}
    assert lists <= set(range(4))
    # exact-mode probe over base+delta == brute force over the union
    target = vecs[110][1]
    out = probe_ivfpq_index(
        spark, path, target, k=1, n_probes=4, rerank_df=df, oversample=200
    ).collect()
    assert out[0].vec_id == 110  # the upserted vector finds itself


def test_phrase_match_requires_adjacency_and_order(spark):
    from querysight_spark.operators.search import phrase_match

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox"),          # phrase present
            (2, "quick the brown fox"),          # words present, wrong order
            (3, "the slow quick brown thing"),   # adjacent pair present
            (4, "the quick red brown fox"),      # gap breaks adjacency
            (5, "quick brown quick brown"),      # two occurrences
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in phrase_match(docs, "quick brown").collect()}
    assert set(out) == {1, 3, 5}
    assert out[5].n_occurrences == 2 and out[5].first_pos == 0
    assert out[1].first_pos == 1


def test_phrase_match_three_words(spark):
    from querysight_spark.operators.search import phrase_match

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x c"), (3, "x a b c")],
        "doc_id long, text string",
    )
    out = {r.doc_id for r in phrase_match(docs, "a b c").collect()}
    assert out == {1, 3}


def test_collocations_rank_and_floor(spark):
    from querysight_spark.operators.search import collocations

    # "strong pair" appears 6x and its words appear nowhere else ->
    # maximal PMI; "the cat"/"the dog" share the left word -> lower PMI;
    # "rare once" misses the min_count floor entirely
    docs = spark.createDataFrame(
        [
            (1, "strong pair strong pair strong pair"),
            (2, "strong pair strong pair strong pair"),
            (3, "the cat sat the dog sat"),
            (4, "the cat sat the dog ran"),
            (5, "rare once"),
        ],
        "doc_id long, text string",
    )
    out = collocations(docs, min_count=2, k=10).collect()
    by_bg = {r.bigram: r for r in out}
    assert "rare once" not in by_bg  # c_pair = 1 < min_count
    import math

    n = 5 * 4 + 1  # total bigrams in the corpus
    # hand PMI: "sat the" occurs 2x with exclusive contexts (c_left=2,
    # c_right=2) -> ln(2N/4); "strong pair" occurs 6x but its words are
    # saturated contexts (c_left=c_right=6) -> ln(6N/36), LOWER — PMI
    # rewards exclusivity, not raw frequency
    assert by_bg["sat the"].pmi == round(math.log(2 * n / 4), 6)
    assert by_bg["strong pair"].pmi == round(math.log(6 * n / 36), 6)
    assert by_bg["sat the"].pmi > by_bg["strong pair"].pmi
    assert by_bg["strong pair"].c_pair == 6
    assert by_bg["the cat"].c_left == by_bg["the dog"].c_left  # shared 'the'


def test_ranking_metrics_hand_values(spark):
    import math

    from querysight_spark.operators.search import ranking_metrics

    # one query, 5 ranked docs, relevant = {d2 (rank 2), d5 (rank 5), d9
    # (never ranked)} -> n_relevant = 3
    ranked = spark.createDataFrame(
        [("q", f"d{i}", i) for i in range(1, 6)],
        "query string, doc_id string, rank long",
    )
    relevant = spark.createDataFrame(
        [("q", "d2"), ("q", "d5"), ("q", "d9")],
        "query string, doc_id string",
    )
    r = ranking_metrics(ranked, relevant, k=3).collect()[0]
    assert r.n_relevant == 3
    assert r.precision_at_k == round(1 / 3, 6)  # only d2 in top-3
    assert r.mrr == 0.5  # first relevant at rank 2
    # dcg@3 = 1/log2(3); ideal@3 = 1/log2(2) + 1/log2(3) + 1/log2(4)
    ideal = 1 / math.log2(2) + 1 / math.log2(3) + 1 / math.log2(4)
    assert r.ndcg_at_k == round((1 / math.log2(3)) / ideal, 6)


def test_ranking_metrics_no_relevant_found(spark):
    from querysight_spark.operators.search import ranking_metrics

    ranked = spark.createDataFrame(
        [("q", "d1", 1), ("q", "d2", 2)],
        "query string, doc_id string, rank long",
    )
    relevant = spark.createDataFrame(
        [("q", "zz")], "query string, doc_id string"
    )
    r = ranking_metrics(ranked, relevant, k=2).collect()[0]
    assert r.precision_at_k == 0.0 and r.mrr == 0.0 and r.ndcg_at_k == 0.0


# --- upsertable index (build_text_index_upsertable / upsert / probe) ---------


def _index_files(path):
    import os

    out = set()
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")) and not f.endswith(".crc"):
                out.add(os.path.join(root, f))
    return out


def test_upsertable_index_equals_full_build_probe(spark, corpus, tmp_path):
    from querysight_spark.operators.search import (
        bm25_topk_upsertable,
        build_text_index_upsertable,
        upsert_text_index,
    )

    base = corpus.where("doc_id <= 3")
    delta = corpus.where("doc_id > 3")
    inc = str(tmp_path / "inc")
    build_text_index_upsertable(base, inc, n_buckets=4)
    assert upsert_text_index(spark, inc, delta) == 2

    full = str(tmp_path / "full")
    build_text_index_upsertable(corpus, full, n_buckets=4)

    terms = ["spark", "query", "engine"]
    got = [
        (r.doc_id, r.score, r.n_terms_matched)
        for r in bm25_topk_upsertable(spark, inc, terms, k=5).collect()
    ]
    want = [
        (r.doc_id, r.score, r.n_terms_matched)
        for r in bm25_topk_upsertable(spark, full, terms, k=5).collect()
    ]
    assert got == want and len(got) == 4  # docs 1-4 match some term
    # ...and both equal the in-flight scorer over the union corpus
    flight = [
        (r.doc_id, r.score, r.n_terms_matched)
        for r in bm25_topk(corpus, terms, k=5).collect()
    ]
    assert got == flight


def test_upsert_appends_postings_and_rewrites_only_touched_termdf(
    spark, corpus, tmp_path
):
    from querysight_spark.operators.search import (
        _term_bucket_py,
        build_text_index_upsertable,
        upsert_text_index,
    )

    path = str(tmp_path / "ix")
    build_text_index_upsertable(corpus.where("doc_id <= 3"), path, n_buckets=8)
    post_before = _index_files(path + "/postings")
    termdf_before = _index_files(path + "/termdf")

    # delta = one new doc with a single repeated known term
    delta = spark.createDataFrame([(9, "spark spark")], ["doc_id", "text"])
    upsert_text_index(spark, path, delta)

    # postings are append-only: every pre-existing file survives untouched
    assert post_before <= _index_files(path + "/postings")
    # termdf: only the touched bucket's files changed
    b = _term_bucket_py("spark", 8)
    touched = {f for f in termdf_before if f"term_bucket={b}/" in f}
    untouched = termdf_before - touched
    after = _index_files(path + "/termdf")
    assert untouched <= after          # other buckets' files still there
    assert not (touched & after)       # the spark bucket was rewritten

    # df_t merged: 'spark' now in docs 1 and 9
    got = {
        r.term: r.df_t
        for r in spark.read.parquet(path + "/termdf").collect()
    }
    assert got["spark"] == 2
    assert got["query"] == 2  # untouched counts preserved (docs 1, 2)


def test_upsertable_probe_prunes_term_buckets(spark, corpus, tmp_path):
    from querysight_spark.operators.search import (
        bm25_topk_upsertable,
        build_text_index_upsertable,
    )

    path = str(tmp_path / "ix")
    build_text_index_upsertable(corpus, path, n_buckets=8)
    plan = bm25_topk_upsertable(
        spark, path, ["spark"], k=3
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "term_bucket" in plan


def test_delete_decrements_and_tombstones(spark, corpus, tmp_path):
    from querysight_spark.operators.search import (
        bm25_topk,
        bm25_topk_upsertable,
        build_text_index_upsertable,
        delete_from_text_index,
    )

    path = str(tmp_path / "ix")
    build_text_index_upsertable(corpus, path, n_buckets=4)
    ids = spark.createDataFrame([(4,), (99,)], ["doc_id"])  # 99 never indexed
    assert delete_from_text_index(spark, path, ids) == 1

    terms = ["spark", "query", "engine"]
    got = [
        (r.doc_id, r.score, r.n_terms_matched)
        for r in bm25_topk_upsertable(spark, path, terms, k=5).collect()
    ]
    want = [
        (r.doc_id, r.score, r.n_terms_matched)
        for r in bm25_topk(
            corpus.where("doc_id != 4"), terms, k=5
        ).collect()
    ]
    assert got == want and 4 not in {r[0] for r in got}
    # df_t decremented: 'spark' was in docs 1 and 4 -> now 1
    dft = {
        r.term: r.df_t for r in spark.read.parquet(path + "/termdf").collect()
    }
    assert dft["spark"] == 1
    # re-delivering the same delete is a no-op (data-level idempotency)
    assert delete_from_text_index(spark, path, ids) == 0
    assert dft == {
        r.term: r.df_t for r in spark.read.parquet(path + "/termdf").collect()
    }


def test_delete_drops_zero_df_terms_and_adjusts_stats(spark, corpus, tmp_path):
    from querysight_spark.operators.search import (
        build_text_index_upsertable,
        delete_from_text_index,
    )

    path = str(tmp_path / "ix")
    build_text_index_upsertable(corpus, path, n_buckets=4)
    # doc 5 is the only doc with 'unrelated' -> its terms must vanish
    delete_from_text_index(
        spark, path, spark.createDataFrame([(5,)], ["doc_id"])
    )
    terms = {r.term for r in spark.read.parquet(path + "/termdf").collect()}
    assert "unrelated" not in terms and "spark" in terms
    s = spark.read.parquet(path + "/stats").collect()[0]
    assert s.n_docs == 4
    # avgdl over remaining docs 1-4 (6+5+4+6 words)/4
    assert abs(s.avgdl - (6 + 5 + 4 + 6) / 4) < 1e-9


def test_upsert_delete_algebra_random_sequences(spark, tmp_path):
    """Seeded randomized op sequences: any interleaving of upserts and
    deletes must leave the index probe equal to in-flight BM25 over the
    surviving corpus. The algebra check for the maintenance pair."""
    import random

    from querysight_spark.operators.search import (
        bm25_topk,
        bm25_topk_upsertable,
        build_text_index_upsertable,
        delete_from_text_index,
        upsert_text_index,
    )

    vocab = ["spark", "query", "engine", "stream", "data", "fast", "slow"]
    terms = ["spark", "query", "stream"]

    def doc(rng, i):
        return (i, " ".join(rng.choices(vocab, k=rng.randint(3, 9))))

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        next_id = 100
        docs = {i: t for i, t in (doc(rng, i) for i in range(20))}
        path = str(tmp_path / f"ix{seed}")
        build_text_index_upsertable(
            spark.createDataFrame(list(docs.items()), ["doc_id", "text"]),
            path,
            n_buckets=4,
        )
        for step in range(3):
            if rng.random() < 0.5 and len(docs) > 4:
                dead = rng.sample(sorted(docs), rng.randint(1, 3))
                delete_from_text_index(
                    spark,
                    path,
                    spark.createDataFrame([(i,) for i in dead], ["doc_id"]),
                )
                for i in dead:
                    del docs[i]
            else:
                fresh = dict(
                    doc(rng, next_id + j) for j in range(rng.randint(1, 4))
                )
                next_id += len(fresh) + 1
                upsert_text_index(
                    spark,
                    path,
                    spark.createDataFrame(
                        list(fresh.items()), ["doc_id", "text"]
                    ),
                )
                docs.update(fresh)
        truth_df = spark.createDataFrame(list(docs.items()), ["doc_id", "text"])
        want = [tuple(r) for r in bm25_topk(truth_df, terms, k=30).collect()]
        got = [
            tuple(r)
            for r in bm25_topk_upsertable(spark, path, terms, k=30).collect()
        ]
        assert got == want, f"seed {seed}: divergence after op sequence"


def test_upsert_txn_crash_rollback_and_replay(spark, corpus, tmp_path, monkeypatch):
    """A txn-stamped upsert that dies BETWEEN its writes (after the live
    postings append) is rolled back and replayed exactly once on retry:
    no duplicate postings, no double-counted df_t, scores identical to
    the in-flight scorer; a retry of the COMMITTED txn no-ops."""
    import glob

    import pyspark.sql.readwriter as rw

    from querysight_spark.operators.search import (
        bm25_topk,
        bm25_topk_upsertable,
        build_text_index_upsertable,
        upsert_text_index,
    )

    base = corpus.where("doc_id <= 3")
    delta = corpus.where("doc_id > 3")
    path = str(tmp_path / "ix")
    build_text_index_upsertable(base, path, n_buckets=4)

    real = rw.DataFrameWriter.parquet
    state = {"crash": True}

    def flaky(self, p, *a, **kw):
        out = real(self, p, *a, **kw)
        if state["crash"] and "txns" not in p and p.endswith("/postings"):
            state["crash"] = False
            raise RuntimeError("simulated crash after postings append")
        return out

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", flaky)
    with pytest.raises(RuntimeError, match="simulated crash"):
        upsert_text_index(spark, path, delta, txn_id="q:7")
    # the crashed attempt left stray postings files behind
    assert upsert_text_index(spark, path, delta, txn_id="q:7") == 2

    terms = ["spark", "query", "engine"]
    got = [
        (r.doc_id, r.score, r.n_terms_matched)
        for r in bm25_topk_upsertable(spark, path, terms, k=5).collect()
    ]
    flight = [
        (r.doc_id, r.score, r.n_terms_matched)
        for r in bm25_topk(corpus, terms, k=5).collect()
    ]
    assert got == flight
    post = spark.read.parquet(path + "/postings")
    assert (
        post.groupBy("term", "doc_id").count().where("count > 1").count()
        == 0
    )
    # committed txn: a further retry returns the recorded count and
    # writes nothing new
    files_before = sorted(
        glob.glob(path + "/postings/**/*.parquet", recursive=True)
    )
    assert upsert_text_index(spark, path, delta, txn_id="q:7") == 2
    assert files_before == sorted(
        glob.glob(path + "/postings/**/*.parquet", recursive=True)
    )


def test_delete_txn_crash_rollback_and_replay(spark, corpus, tmp_path, monkeypatch):
    """Same crash-atomicity for deletes: a txn attempt dying after the
    tombstone append rolls back and replays without double-decrementing
    df_t or double-subtracting stats."""
    import pyspark.sql.readwriter as rw

    from querysight_spark.operators.search import (
        build_text_index_upsertable,
        delete_from_text_index,
    )

    path = str(tmp_path / "ix")
    build_text_index_upsertable(corpus, path, n_buckets=4)
    s0 = spark.read.parquet(path + "/stats").collect()[0]

    real = rw.DataFrameWriter.parquet
    state = {"crash": True}

    def flaky(self, p, *a, **kw):
        out = real(self, p, *a, **kw)
        if state["crash"] and "txns" not in p and p.endswith("/deletes"):
            state["crash"] = False
            raise RuntimeError("simulated crash after tombstone append")
        return out

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", flaky)
    ids = spark.createDataFrame([(4,)], ["doc_id"])
    with pytest.raises(RuntimeError, match="simulated crash"):
        delete_from_text_index(spark, path, ids, txn_id="d:1")
    assert delete_from_text_index(spark, path, ids, txn_id="d:1") == 1
    # df_t decremented exactly once ('spark' in docs 1 and 4 -> 1)
    dft = {
        r.term: r.df_t
        for r in spark.read.parquet(path + "/termdf").collect()
    }
    assert dft["spark"] == 1
    # one tombstone row, stats subtracted exactly once (doc 4 dl = 6)
    assert spark.read.parquet(path + "/deletes").count() == 1
    s1 = spark.read.parquet(path + "/stats").collect()[0]
    assert int(s1.n_docs) == int(s0.n_docs) - 1
    assert int(s1.total_dl) == int(s0.total_dl) - 6
    # committed txn retries no-op
    assert delete_from_text_index(spark, path, ids, txn_id="d:1") == 1
    assert spark.read.parquet(path + "/deletes").count() == 1


def test_incremental_stats_exact_total(spark, corpus, tmp_path):
    """Many small upserts accumulate ZERO stats drift: the integer
    total_dl merges exactly, and avgdl (derived at write) is
    bit-identical to a one-shot rebuild's."""
    from querysight_spark.operators.search import (
        build_text_index_upsertable,
        upsert_text_index,
    )

    inc = str(tmp_path / "inc")
    build_text_index_upsertable(corpus.where("doc_id = 1"), inc, n_buckets=4)
    for d in range(2, 6):
        upsert_text_index(spark, inc, corpus.where(f"doc_id = {d}"))
    full = str(tmp_path / "full")
    build_text_index_upsertable(corpus, full, n_buckets=4)
    si = spark.read.parquet(inc + "/stats").collect()[0]
    sf = spark.read.parquet(full + "/stats").collect()[0]
    assert (si.n_docs, si.total_dl) == (sf.n_docs, sf.total_dl)
    assert si.avgdl == sf.avgdl

