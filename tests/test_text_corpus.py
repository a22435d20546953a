"""Tests for the JSONL corpus source/sink and small-files compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from querysight_spark.sources.layout import compact_files, dataset_file_stats
from querysight_spark.sources.text_corpus import (
    DOCUMENTS_SCHEMA,
    assert_clean,
    read_jsonl,
    write_jsonl,
)


def test_jsonl_roundtrip_lossless(spark, tmp_path):
    rows = [
        (1, "hello world", "en", "web", 11),
        (2, 'quotes " and \\ specials\nnewline', "en", "books", 30),
        (3, None, None, "web", None),  # nulls survive
    ]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(df, path)
    back = assert_clean(read_jsonl(spark, path))
    assert sorted(back.collect(), key=lambda r: r.doc_id) == sorted(
        df.collect(), key=lambda r: r.doc_id
    )


def test_jsonl_corrupt_lines_surface(spark, tmp_path):
    path = tmp_path / "bad_jsonl"
    path.mkdir()
    (path / "part-0.json").write_text(
        '{"doc_id": 1, "text": "ok", "lang": "en", "source": "web", "n_chars": 2}\n'
        "this is not json at all\n"
    )
    df = read_jsonl(spark, str(path))
    bad = df.where(F.col("_corrupt_record").isNotNull())
    # count() would prune the projection back down to the internal column
    # alone (disallowed) - collect the tiny audit rows instead
    assert len(bad.select("doc_id", "_corrupt_record").collect()) == 1
    with pytest.raises(ValueError, match="corrupt JSONL"):
        assert_clean(df)
    # good line still parses
    ok = df.where(F.col("_corrupt_record").isNull())
    assert ok.select("doc_id").collect()[0][0] == 1


def test_compact_files(spark, tmp_path):
    src = str(tmp_path / "fragmented")
    out = str(tmp_path / "compacted")
    df = spark.range(0, 10000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.md5(F.col("id").cast("string")).alias("pad")
    )
    df.repartition(64).write.parquet(src)
    n_before, total = dataset_file_stats(src)
    assert n_before == 64
    n_out = compact_files(spark, src, out, target_file_bytes=total)
    assert n_out == 1
    n_after, _ = dataset_file_stats(out)
    assert n_after == 1
    # data identical
    a = sorted(spark.read.parquet(src).collect())
    b = sorted(spark.read.parquet(out).collect())
    assert a == b


def test_unicode_normalize_collapses_decomposed(spark):
    from querysight_spark.operators.textstats import normalize_unicode

    decomposed = "e\u0301cole"   # e + combining acute (6 codepoints)
    precomposed = "\u00e9cole"   # é precomposed (5 codepoints)
    docs = spark.createDataFrame(
        [(1, decomposed), (2, "plain"), (3, precomposed)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in normalize_unicode(docs).collect()}
    assert out[1].changed and out[1].n_chars_norm == 5  # e+acute -> e-acute
    assert out[1].norm_text == out[3].norm_text  # both forms converge
    assert not out[2].changed and not out[3].changed


def test_strip_boilerplate_exact_lines_only(spark):
    from querysight_spark.operators.textstats import strip_boilerplate_lines

    # "COOKIE BANNER" appears in 3 docs (>= threshold) -> stripped
    # everywhere; "almost banner" in 2 (< threshold) -> kept; unique
    # bodies always survive in original order
    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nbody one\nalmost banner"),
            (2, "COOKIE BANNER\nbody two\nalmost banner"),
            (3, "body three\nCOOKIE BANNER"),
            (4, "only unique text"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in strip_boilerplate_lines(docs, min_doc_freq=3).collect()
    }
    assert out[1].clean_text == "body one\nalmost banner"
    assert out[2].clean_text == "body two\nalmost banner"
    assert out[3].clean_text == "body three"
    assert out[4].clean_text == "only unique text"
    assert (out[1].n_lines_in, out[1].n_lines_kept) == (3, 2)


def test_strip_boilerplate_fully_boilerplate_doc_survives_empty(spark):
    from querysight_spark.operators.textstats import strip_boilerplate_lines

    docs = spark.createDataFrame(
        [(i, "same line") for i in range(5)], "doc_id long, text string"
    )
    out = strip_boilerplate_lines(docs, min_doc_freq=2).collect()
    assert len(out) == 5  # docs are reported, not dropped
    assert all(r.clean_text == "" and r.n_lines_kept == 0 for r in out)


def test_remove_duplicate_spans_keep_first(spark):
    from querysight_spark.operators.textstats import remove_duplicate_spans

    base = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly one 8-gram
    docs = spark.createDataFrame(
        [
            (1, base + " tail1"),          # first occurrence -> intact
            (2, base + " tail2 tail3"),    # later copy -> 8-gram cut
            (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),  # unique -> intact
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(docs, n=8).collect()}
    assert out[1].clean_text == base + " tail1" and out[1].n_removed == 0
    # doc 2: tokens 1..8 covered (both its 8-grams containing them are
    # non-first? its first window w1..w8 is a later copy of doc1's) ->
    # only the tail survives
    assert out[2].clean_text == "tail2 tail3"
    assert out[2].n_removed == 8
    assert out[3].n_removed == 0


def test_remove_duplicate_spans_string_ids(spark):
    """r15 regression (ADVICE r14): the decimal first-occurrence encoding
    casts the id to decimal — NULL for string ids, which silently turned
    dup removal into a no-op. String-keyed corpora must take the
    struct-min fallback and still dedup with keep-first semantics."""
    from querysight_spark.operators.textstats import remove_duplicate_spans

    base = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly one 8-gram
    docs = spark.createDataFrame(
        [
            ("docA", base + " tail1"),
            ("docB", base + " tail2 tail3"),
            ("docC", "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
        ],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(docs, n=8).collect()}
    # lexicographic min id keeps the span; the later copy loses it
    assert out["docA"].clean_text == base + " tail1"
    assert out["docA"].n_removed == 0
    assert out["docB"].clean_text == "tail2 tail3"
    assert out["docB"].n_removed == 8
    assert out["docC"].n_removed == 0


def test_remove_duplicate_spans_within_doc_repeat(spark):
    from querysight_spark.operators.textstats import remove_duplicate_spans

    span = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(1, span + " x " + span)], "doc_id long, text string"
    )
    out = remove_duplicate_spans(docs, n=8).collect()[0]
    # the second within-doc occurrence is removed; first + separator stay
    assert out.clean_text == span + " x"
    assert out.n_removed == 8


def test_remove_duplicate_spans_short_docs_untouched(spark):
    from querysight_spark.operators.textstats import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(1, "too short"), (2, "too short")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(docs, n=8).collect()}
    # no 8-grams exist -> nothing can be marked duplicate
    assert out[1].n_removed == 0 and out[2].n_removed == 0
    assert out[2].clean_text == "too short"


def test_bpe_merges_hand_corpus(spark):
    from querysight_spark.operators.textstats import bpe_merge_steps

    # corpus: "low low low lower" -> char pairs weighted by word freq:
    # 'l o' appears in low(x3) and lower(x1) = 4; 'o w' same = 4;
    # tie-break picks 'l o' (lexicographic); step 2 then sees 'lo w' 4x
    docs = spark.createDataFrame(
        [(1, "low low low lower")], "doc_id long, text string"
    )
    out = bpe_merge_steps(docs, n_merges=2).orderBy("step").collect()
    assert (out[0].pair, out[0].merged, out[0].pair_count) == ("l o", "lo", 4)
    assert (out[1].pair, out[1].merged, out[1].pair_count) == ("lo w", "low", 4)


def test_bpe_merge_application_respects_token_boundaries(spark):
    from querysight_spark.operators.textstats import bpe_merge_steps

    # after 'a b'->'ab', the pair 'b a' must NOT be found inside the new
    # 'ab' symbol; and back-to-back occurrences both merge ('abab' has
    # 'a b' twice) — exactly where a string replace() goes wrong
    docs = spark.createDataFrame(
        [(1, "abab abab ba")], "doc_id long, text string"
    )
    out = bpe_merge_steps(docs, n_merges=2).orderBy("step").collect()
    assert out[0].pair == "a b" and out[0].pair_count == 4  # 2 per 'abab' x2
    # step 2 counts pairs over ['ab','ab'] and ['b','a']: 'ab ab' freq 2,
    # 'b a' freq 1 -> 'ab ab' wins
    assert out[1].pair == "ab ab" and out[1].merged == "abab"
    assert out[1].pair_count == 2


def test_pack_sequences_hand_offsets_and_partition_invariance(spark):
    """Placement map matches the hand-computed concat-and-chunk layout,
    and is IDENTICAL for any partition count (the distributed prefix sum
    must not depend on how ranges were cut)."""
    from querysight_spark.operators.textstats import pack_sequences

    docs = spark.createDataFrame(
        [
            (1, "a b c"),          # 3 tokens, start 0,  packs 0-0
            (2, "d e f g"),        # 4 tokens, start 3,  packs 0-1 (crosses 5)
            (3, "h"),              # 1 token,  start 7,  packs 1-1
            (4, "i j k l m n o"),  # 7 tokens, start 8,  packs 1-2
        ],
        "doc_id long, text string",
    )
    want = {
        1: (3, 0, 0, 0, 1),
        2: (4, 3, 0, 1, 2),
        3: (1, 7, 1, 1, 1),
        4: (7, 8, 1, 2, 2),
    }
    for parts in (1, 2, 7):
        out = {
            r.doc_id: (
                r.n_tokens,
                r.start_offset,
                r.pack_first,
                r.pack_last,
                r.packs_spanned,
            )
            for r in pack_sequences(docs, seq_len=5, num_partitions=parts).collect()
        }
        assert out == want, parts


def test_pack_sequences_plan_has_no_single_partition_exchange(spark):
    """The whole point vs a global-window cumsum: per-partition windows
    in parallel + a bounded offsets broadcast. Asserted on the
    PRE-checkpoint placement frame — the public function checkpoints it,
    which truncates the plan, so the returned frame's plan could never
    witness the window stage (a global-window regression would pass a
    post-checkpoint assertion vacuously; r5 review finding)."""
    from querysight_spark.operators.textstats import _pack_placement_frame
    from querysight_spark.plans.inspect import plan_summary
    from querysight_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    inner = _pack_placement_frame(docs, "doc_id", "text", 4)
    inner.collect()
    s = plan_summary(inner)
    assert s["n_single_partition"] == 0
    # and the cumsum window really is there, partitioned on pid
    plan = inner._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "partitionBy" not in plan  # toString spells spec inline
    assert "pid" in plan


def test_pack_sequences_empty_input_returns_empty_map(spark):
    """Zero documents must yield an empty placement map with the
    contract schema, not an AnalysisException from a zero-arg
    create_map (r5 review finding)."""
    from querysight_spark.operators.textstats import (
        emit_packed_sequences,
        pack_sequences,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = pack_sequences(empty, seq_len=8)
    assert out.columns == [
        "doc_id", "n_tokens", "start_offset",
        "pack_first", "pack_last", "packs_spanned",
    ]
    assert out.count() == 0
    assert emit_packed_sequences(empty, seq_len=8).count() == 0


def test_emit_packed_sequences_rebuilds_the_stream(spark):
    """Every pack but the last is exactly seq_len tokens, boundary docs
    split mid-document, and concatenating the packs in order reproduces
    the original concatenated token stream exactly."""
    from querysight_spark.operators.textstats import emit_packed_sequences

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g"), (3, "h"), (4, "i j k l m n o")],
        "doc_id long, text string",
    )
    rows = sorted(
        emit_packed_sequences(docs, seq_len=5).collect(), key=lambda r: r.pack_id
    )
    assert [r.pack_id for r in rows] == [0, 1, 2]
    assert [r.n_tokens for r in rows] == [5, 5, 5]  # 15 tokens pack evenly
    assert rows[0].text == "a b c d e"      # doc 2 split mid-document
    assert rows[1].text == "f g h i j"
    assert rows[2].text == "k l m n o"
    assert [r.n_docs for r in rows] == [2, 3, 1]
    stream = " ".join(r.text for r in rows)
    assert stream == "a b c d e f g h i j k l m n o"


def test_shard_layout_deterministic_and_balanced(spark):
    """tx25's layout: a pure function of (salt, id) — identical across
    re-runs and input partitionings; uniform-ish shard sizes; every
    shard's positions are a contiguous 1..n sequence in shuffle_key
    order; a different salt draws a genuinely different shuffle."""
    from querysight_spark.operators.textstats import shard_layout

    rows = [(i, 10 + i % 7) for i in range(400)]
    df = spark.createDataFrame(rows, "pack_id long, n_tokens long")

    def key(frame):
        return sorted(
            (r.pack_id, r.shard_id, r.shard_pos, r.shuffle_key)
            for r in frame.collect()
        )

    a = key(shard_layout(df, n_shards=8))
    b = key(shard_layout(df.repartition(13), n_shards=8))
    assert a == b  # partitioning-independent, re-run-stable

    by_shard = {}
    for pid, sid, pos, k in a:
        by_shard.setdefault(sid, []).append((k, pid, pos))
    assert set(by_shard) == set(range(8))
    sizes = [len(v) for v in by_shard.values()]
    # 400 rows over 8 md5-uniform shards: expect ~50 each; a loose 2x
    # band catches a broken hash without flaking
    assert min(sizes) >= 25 and max(sizes) <= 100
    for sid, members in by_shard.items():
        members.sort()  # shuffle_key order == write order
        assert [pos for _k, _p, pos in members] == list(
            range(1, len(members) + 1)
        )

    salted = key(shard_layout(df, n_shards=8, salt="other"))
    assert salted != a

    import pytest

    with pytest.raises(ValueError, match="n_shards"):
        shard_layout(df, n_shards=0)


def test_bpe_encode_hand_corpus_and_boundaries(spark):
    """Encode must apply merges with the learner's exact fold: greedy
    left-to-right, boundary-respecting, correct on back-to-back
    occurrences — and encode(learn(corpus)) reproduces the learner's
    final vocabulary tokenization."""
    from querysight_spark.operators.textstats import bpe_encode, bpe_merge_steps

    docs = spark.createDataFrame(
        [(1, "aaab aab"), (2, "ab aaab")], "doc_id long, text string"
    )
    learned = bpe_merge_steps(docs.select("text"), n_merges=2).collect()
    merges = [
        (r.pair.split(" ")[0], r.pair.split(" ")[1], r.merged) for r in learned
    ]
    # corpus pairs: 'a a' freq: aaab has 2, aab 1, ab 0, aaab 2 => 5;
    # 'a b': 4 occurrences; merge1 = 'a a' -> 'aa' (count 5)
    assert (learned[0].pair, learned[0].merged) == ("a a", "aa")
    out = {r.doc_id: r for r in bpe_encode(docs, merges).collect()}
    # after m1: aaab -> [aa, a, b] (greedy left-to-right, no overlap)
    enc1 = out[1].encoded.split(" / ")
    enc2 = out[2].encoded.split(" / ")
    m2 = learned[1].merged
    # whatever merge 2 is, the encodings must match re-applying the
    # folds by hand
    def fold(word, a, b, m):
        toks, out_t = list(word), []
        for t in toks:
            if out_t and out_t[-1] == a and t == b:
                out_t[-1] = m
            else:
                out_t.append(t)
        return out_t

    def apply_all(word):
        toks = list(word)
        for a, b, m in merges:
            nxt, cur = [], toks
            for t in cur:
                if nxt and nxt[-1] == a and t == b:
                    nxt[-1] = m
                else:
                    nxt.append(t)
            toks = nxt
        return toks

    assert enc1 == [" ".join(apply_all("aaab")), " ".join(apply_all("aab"))]
    assert enc2 == [" ".join(apply_all("ab")), " ".join(apply_all("aaab"))]
    assert out[1].n_tokens == len(apply_all("aaab")) + len(apply_all("aab"))
    assert out[1].n_words == 2 and out[2].n_words == 2
    # boundary check: the merged symbol never spans two words — each
    # word's tokens re-concatenate to exactly that word
    for r in out.values():
        for word_toks, word in zip(
            r.encoded.split(" / "), ["aaab aab", "ab aaab"][r.doc_id - 1].split()
        ):
            assert "".join(word_toks.split(" ")) == word
