"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting. All JVM-side expressions (split / regexp / filter /
md5) — zero Python on the data path, so they run inside whole-stage codegen
and scale linearly with no shuffle (fingerprint shuffles once on doc_id).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation marks.
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately minimal — real deployments plug in fasttext-style
# models via the same column contract.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "los", "las"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "une", "les", "des"],
    "de": ["der", "die", "das", "und", "zu", "in", "ein", "eine", "ist", "von"],
    "zh": ["de5", "le5", "shi4", "zai4", "he2", "you3", "wo3", "ta1", "men5", "bu4"],
}


def token_counts(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), r"\s+")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), 0)).alias(
            "bpe_tokens"
        ),
    )


def quality_scores(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio quality features and a
    composite score in [0,1]. Ratios are int/int divisions of identical
    values in any engine — oracle-exact."""
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    n_chars = F.length(F.col(text_col))
    n_punct = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[^\w\s]"), 0))
    en = STOPWORDS["en"]
    n_stop = F.size(F.filter(words, lambda w: w.isin(en)))
    out = df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(n_stop / F.greatest(n_words, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(
            (n_chars - (n_words - 1)) / F.greatest(n_words, F.lit(1)), 6
        ).alias("avg_word_len"),
    )
    # rounded at 7, not 6: the composite of 6-decimal components has exactly
    # 7 decimals, so a 6-digit round sits ON the tie boundary where engines'
    # rounding implementations disagree; 7 digits recovers the exact value.
    return out.withColumn(
        "quality_score",
        F.round(
            0.4 * F.least(F.col("n_words") / 100.0, F.lit(1.0))
            + 0.3 * (1.0 - F.least(F.col("punct_ratio") * 10.0, F.lit(1.0)))
            + 0.3 * F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)),
            7,
        ),
    )


def language_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID: score each language by the fraction of
    words in its stopword list; argmax wins (ties broken by language code).
    Pure expressions: one filter() per language, greatest() for the argmax."""
    words = F.split(F.lower(F.col(text_col)), " ")
    n = F.greatest(F.size(words), F.lit(1))

    def _in_list(sw: list[str]):
        # closure factory — a default-arg lambda would change the arity
        # pyspark infers for higher-order functions
        return lambda w: w.isin(sw)

    scores = {
        lang: (F.size(F.filter(words, _in_list(list(sw)))) / n)
        for lang, sw in STOPWORDS.items()
    }
    # argmax via a struct sort: (score desc, lang asc)
    pairs = F.array(
        *[
            F.struct(s.alias("score"), F.lit(lang).alias("lang"))
            for lang, s in scores.items()
        ]
    )
    best = F.array_sort(
        pairs,
        lambda a, b: F.when(a["score"] > b["score"], -1)
        .when(a["score"] < b["score"], 1)
        .otherwise(F.when(a["lang"] < b["lang"], -1).when(a["lang"] > b["lang"], 1).otherwise(0)),
    )[0]
    return df.select(
        F.col(id_col),
        best["lang"].alias("predicted_lang"),
        F.round(best["score"], 6).alias("lang_score"),
    )


def document_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
) -> DataFrame:
    """Winnowing-style fingerprint: min md5 over word n-gram shingles (the
    k=1 MinHash). Equal fingerprints ⇒ likely shared content; engine-portable
    (md5-hex min) and exactly the rolling-hash selection the reference-class
    pipelines use for copy detection."""
    from querysight_spark.operators.dedup import _shingles

    sh = df.select(F.col(id_col), F.explode(_shingles(text_col, shingle_size)).alias("sh"))
    return sh.groupBy(id_col).agg(F.min(F.md5("sh")).alias("fingerprint"))


# PII patterns kept to RE2-compatible constructs (no backrefs/lookaround) so
# the same strings run verbatim in Spark (Java regex) and the DuckDB oracle.
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"(?:\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>"),
    (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
]


def scrub_pii(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Mask common PII shapes (emails, phone numbers, IPv4, SSN-style ids)
    with typed placeholders — the standard pre-training scrub pass. A
    regexp_replace chain: JVM-side, codegen, no shuffle; order matters
    (emails first so their digits don't half-match the phone pattern)."""
    c = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return df.withColumn(out_col or text_col, c)


def dedupe_keep_best(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: str | None = None,
) -> DataFrame:
    """Canonical-document selection: one keeper per exact-content group,
    the highest-scoring member (quality_score by default; id as a
    deterministic tie-break). One window over a hash-shuffle — the
    "dedup but keep the best copy" pass that follows exact dedup in
    training pipelines."""
    from pyspark.sql.window import Window

    if score_col is None:
        scored = quality_scores(df, id_col, text_col).select(
            F.col(id_col), F.col("quality_score").alias("_score")
        )
        df = df.join(scored, id_col)
        score_col = "_score"
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_score")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 50,
    overlap: int = 10,
) -> DataFrame:
    """Split each document into overlapping word-window chunks — the
    context-window preparation step of an LLM training pipeline. Pure JVM
    expressions: one let-bound split per row, chunk starts from
    ``sequence``, each chunk a ``slice`` + ``concat_ws`` (no Python, no
    shuffle; at 100 TB this is a map-only stage that parallelizes per
    parquet split).

    Chunk grid: starts at 0, step = chunk_tokens - overlap;
    n_chunks = max(1, ceil((n_words - overlap) / step)) so the final chunk
    always reaches the tail and short docs yield exactly one chunk."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    chunks = F.expr(
        f"transform(array(split(`{text_col}`, ' ')), w -> "
        f"transform(sequence(0, greatest(1, (size(w) - {overlap} + {step} - 1) div {step}) - 1), "
        f"i -> struct(i AS chunk_id, "
        f"concat_ws(' ', slice(w, i * {step} + 1, {chunk_tokens})) AS chunk_text, "
        f"size(slice(w, i * {step} + 1, {chunk_tokens})) AS n_tokens)))[0]"
    )
    return (
        df.select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(id_col, "c.chunk_id", "c.chunk_text", "c.n_tokens")
    )


def assign_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: bucket = the first 8 hex
    digits of md5(salt || id) mod 10000, thresholded by the cumulative
    weights. Engine-portable (md5 is identical everywhere — the DuckDB
    oracle reproduces the same buckets), reshuffle-free, and stable under
    any repartitioning or re-run — properties rand()-based splits lack.
    ``salt`` lets different experiments draw independent splits from the
    same corpus."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    train_cut = int(weights[0] * 10000)
    val_cut = train_cut + int(weights[1] * 10000)
    return df.withColumn("bucket", bucket).withColumn(
        "split",
        F.when(F.col("bucket") < train_cut, "train")
        .when(F.col("bucket") < val_cut, "val")
        .otherwise("test"),
    )


def interleave_corpora(
    sources: list[tuple[str, DataFrame, float]],
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Weighted dataset mixing: union of per-source deterministic samples —
    the step that blends corpora at fixed proportions for a training run.
    Each source keeps rows whose md5 bucket (same scheme as
    ``assign_split``) falls under its sampling fraction, and rows carry a
    ``source`` tag. Deterministic and engine-portable: the mix is
    reproducible row-for-row across runs, partitionings, and engines —
    properties a rand()-based sampler lacks. ``sources`` is
    ``[(name, df, keep_fraction)]`` with fractions in [0, 1]."""
    out = None
    for name, df, fraction in sources:
        cut = int(fraction * 10000)
        bucket = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit(salt), F.lit(name), F.col(id_col).cast("string"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 10000
        )
        part = df.where(bucket < cut).withColumn("source", F.lit(name))
        out = part if out is None else out.unionByName(part)
    return out


def dup_span_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Exact-substring duplication rate per document — the
    train-set-hygiene metric of Lee et al. 2021 ("Deduplicating Training
    Data Makes Language Models Better"): the fraction of a doc's tokens
    covered by some word n-gram that also appears in ANOTHER doc.

    Positional n-gram hashes (md5, engine-portable) → duplicated-hash set
    (COUNT(DISTINCT doc) ≥ 2, one groupBy on the hash) → covered token
    positions via a bounded sequence-explode (each hit covers exactly n
    positions) → distinct-position count per doc. All work is linear in
    corpus tokens plus the duplicated-posting join; the full
    suffix-array construction this approximates is unnecessary when
    spans are measured at n-gram resolution."""
    w = F.split(F.col(text_col), " ")
    # CASE guard: sequence(1, 0) counts DOWN (same trap _shingles in
    # operators/dedup.py documents), so short docs yield an empty array
    # unhex: same 128 bits as the hex string at half the persisted/
    # shuffled bytes (r14, the tx21 key change applied to the coverage
    # metric's posting table)
    sh = F.expr(
        f"transform(array(split(`{text_col}`, ' ')), w -> "
        f"CASE WHEN size(w) >= {n} THEN "
        f"transform(sequence(1, size(w) - {n} + 1), "
        f"i -> struct(i AS pos, unhex(md5(concat_ws(' ', slice(w, i, {n})))) AS h)) "
        f"ELSE array() END)[0]"
    )
    from pyspark.storagelevel import StorageLevel

    # the positional-hash table feeds the duplicated-hash agg AND the
    # coverage join; persist it or the md5-heavy shingling re-executes
    # per consumer (measured via plans.inspect). At 100 TB write it to a
    # temp parquet table instead — same shape, memory-independent.
    posed = df.select(F.col(id_col), F.explode(sh).alias("s")).select(
        F.col(id_col), F.col("s.pos").alias("pos"), F.col("s.h").alias("h")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    dup_h = (
        posed.groupBy("h")
        .agg(F.countDistinct(id_col).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    covered = (
        posed.join(dup_h, "h")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias(
                "p"
            ),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("covered_tokens"))
    )
    lens = df.select(F.col(id_col), F.size(w).alias("n_tokens"))
    return lens.join(covered, id_col, "left").select(
        F.col(id_col),
        "n_tokens",
        F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
        F.round(
            F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens"), 6
        ).alias("dup_coverage"),
    )


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """EXACT-quota stratified sampling: precisely ``n_per_stratum`` rows
    from every stratum (fewer only if the stratum is smaller), chosen by
    md5 rank so the draw is deterministic, engine-portable, and
    independent of row order — the balanced-mix primitive fraction-based
    sampling (``interleave_corpora``) can't provide. One row_number
    window per stratum = a single shuffle on the strata key."""
    from pyspark.sql.window import Window

    rk = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(*strata_cols).orderBy(rk, F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def upsample_epochs(
    df: DataFrame,
    epochs: float,
    id_col: str = "doc_id",
    salt: str = "epoch",
) -> DataFrame:
    """Fractional-epoch upsampling: replicate the corpus ``floor(epochs)``
    times and draw the fractional remainder as a deterministic md5-bucket
    sample — how training recipes weight a source at e.g. 2.7 epochs.
    Rows carry an ``epoch`` index (0-based); (id, epoch) stays unique so
    downstream shuffles see distinct keys rather than a hot duplicate.
    Map-side only: one sequence-explode, no shuffle, no rand()."""
    k = int(epochs)
    frac_cut = int(round((epochs - k) * 10000))
    full = df.withColumn(
        "epoch", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
    ) if k > 0 else None
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    frac = (
        df.where(bucket < frac_cut).withColumn("epoch", F.lit(k))
        if frac_cut > 0
        else None
    )
    if full is not None and frac is not None:
        return full.unionByName(frac)
    if full is not None:
        return full
    if frac is not None:
        return frac
    return df.withColumn("epoch", F.lit(0)).where(F.lit(False))


def clean_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Standard text-cleaning stage: lowercase, strip non-word punctuation
    (keeping word-internal apostrophes), collapse whitespace, trim. Pure
    regexp_replace chain — same codegen-friendly shape as the G1 query
    normalizer."""
    c = F.col(text_col)
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^\w\s']", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return df.select(F.col(id_col), F.trim(c).alias("clean_text"))


def repetition_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_top_word_ratio: float = 0.2,
    min_distinct_ratio: float = 0.5,
) -> DataFrame:
    """Gopher-style repetition quality signals, all JVM expressions over
    one let-bound split: top-word dominance (most frequent word's share)
    and distinct-word ratio, plus pass/fail flags at the standard
    thresholds. Docs failing either flag are the boilerplate/spam shapes
    repetition filters exist to drop."""
    expr = F.expr(
        f"transform(array(split(`{text_col}`, ' ')), w -> struct("
        "size(w) AS n_words, "
        "size(array_distinct(w)) AS n_distinct, "
        "array_max(transform(array_distinct(w), "
        "d -> size(filter(w, x -> x = d)))) AS top_word_freq))[0]"
    )
    out = df.select(F.col(id_col), expr.alias("s")).select(
        id_col,
        "s.n_words",
        "s.n_distinct",
        "s.top_word_freq",
        F.round(F.col("s.top_word_freq") / F.greatest("s.n_words", F.lit(1)), 6).alias(
            "top_word_ratio"
        ),
        F.round(F.col("s.n_distinct") / F.greatest("s.n_words", F.lit(1)), 6).alias(
            "distinct_ratio"
        ),
    )
    return out.withColumn(
        "pass_repetition",
        (F.col("top_word_ratio") <= max_top_word_ratio)
        & (F.col("distinct_ratio") >= min_distinct_ratio),
    )


def contamination_check(
    train: DataFrame,
    test: DataFrame,
    shingle_size: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/test contamination detection: for every test document, how
    many of its word n-gram OCCURRENCES also occur anywhere in the train
    corpus (occurrence-weighted: a shingle repeated in the test doc
    counts each time, so verbatim-repeated leaked spans weigh more; the
    train side IS deduped to a distinct vocabulary). The
    eval-integrity pass every training pipeline needs — a
    test doc whose n-grams are largely covered by train data leaks the
    benchmark (the reference has no analog; standard decontamination
    practice, cf. n-gram overlap checks in public LM training reports).

    Output: (id, n_shingles, n_contaminated, contamination_rate) per test
    doc, including zero-overlap docs.

    Scale shape: test shingles explode map-side; the train VOCABULARY is
    one distinct (its own aggregation exchange) and the overlap is a
    shuffled equi-join on the shingle — no pairwise doc×doc work, cost ∝
    corpus shingle count, skew bounded because vocab rows are distinct.
    The join is on the shingle string, exact (no hash-collision risk)."""
    from querysight_spark.operators.dedup import _shingles

    from pyspark.storagelevel import StorageLevel

    t_sh = test.select(
        F.col(id_col), F.explode(_shingles(text_col, shingle_size)).alias("sh")
    )
    vocab = train.select(
        F.explode(_shingles(text_col, shingle_size)).alias("sh")
    ).distinct()
    # the test-side shingles feed the size agg AND the vocab join;
    # persist them (test sets are the small side) to avoid re-shingling
    t_sh = t_sh.persist(StorageLevel.MEMORY_AND_DISK)
    per = t_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        t_sh.join(vocab, "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    n_cont = F.coalesce("n_contaminated", F.lit(0))
    return per.join(hits, id_col, "left").select(
        id_col,
        "n_shingles",
        n_cont.alias("n_contaminated"),
        F.round(n_cont / F.col("n_shingles"), 6).alias("contamination_rate"),
    )


def budgeted_mix(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    salt: str = "mix",
) -> DataFrame:
    """PLANNED corpus mixing: given per-source weights and a total token
    budget, derive each source's sampling rate from its MEASURED token
    total (cut = min(1, weight·budget / tokens_s), in integer 1/10000
    arithmetic), then apply the deterministic md5-bucket draw. The
    planning step ``interleave_corpora`` leaves to the caller — here the
    rates come from the corpus statistics, which is how real training
    mixes are specified ("60/30/10 capped at N tokens"), and stay
    deterministic end to end (floor arithmetic, no rand()). Sources
    absent from ``weights`` are dropped. One stats aggregate + one
    broadcast join; map-side filter does the sampling."""
    toks = df.withColumn("_tk", F.size(F.split(F.col(text_col), " ")))
    totals = toks.groupBy(source_col).agg(F.sum("_tk").alias("_T"))
    pairs: list = []
    for k, v in sorted(weights.items()):
        pairs += [F.lit(k), F.lit(float(v))]
    wmap = F.create_map(*pairs)
    cuts = (
        totals.withColumn("_w", wmap[F.col(source_col)])
        .where(F.col("_w").isNotNull())
        .withColumn(
            "_target", F.floor(F.col("_w") * F.lit(int(token_budget))).cast("long")
        )
        .withColumn(
            "_cut",
            F.least(F.lit(10000).cast("long"), F.expr("(_target * 10000) div _T")),
        )
        .select(source_col, "_cut")
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    return (
        toks.join(F.broadcast(cuts), source_col)
        .where(bucket < F.col("_cut"))
        .select(F.col(id_col), F.col(source_col), F.col("_tk").alias("n_tokens"))
    )


def model_quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bias: float = -1.0,
    w_length: float = 2.0,
    w_punct: float = -8.0,
    w_stopword: float = 3.0,
    w_word_len: float = 1.0,
    threshold: float = 0.5,
) -> DataFrame:
    """Model-based quality filtering: a fixed logistic scorer over the
    ``quality_scores`` features (the fasttext-classifier stage of a
    training-data pipeline, with published weights instead of a learned
    binary — the Spark-side plumbing is identical: per-doc features ->
    linear logit -> sigmoid -> threshold).

    The logit is built from the ROUNDED feature columns so the score is
    reproducible digit-for-digit anywhere the features are. Map-only: no
    shuffle, whole-stage-codegen arithmetic, the filter verdict is a
    column (``keep``) so downstream stages choose drop vs route."""
    feats = quality_scores(df, id_col=id_col, text_col=text_col)
    f_len = F.least(F.col("n_words") / 100.0, F.lit(1.0))
    z = F.round(
        F.lit(bias)
        + F.lit(w_length) * f_len
        + F.lit(w_punct) * F.col("punct_ratio")
        + F.lit(w_stopword) * F.col("stopword_ratio")
        + F.lit(w_word_len) * (F.col("avg_word_len") / 10.0),
        # 7, not 6: the weighted sum of 6-decimal features (one divided by
        # 10) has exactly 7 decimals, so a 6-digit round sits on the tie
        # boundary where engines' rounding disagrees; 7 recovers it exactly
        7,
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return feats.select(
        id_col,
        z.alias("logit"),
        score.alias("model_score"),
        (score >= F.lit(threshold)).alias("keep"),
    )


def normalize_unicode(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization (NFC by default) — the canonicalization pass
    a multilingual crawl needs before hashing/dedup: visually identical
    strings with different codepoint sequences (precomposed é vs e +
    combining acute) hash differently and defeat exact dedup until
    normalized.

    Spark has no built-in normalizer, so this is an Arrow-batched pandas
    UDF over ``unicodedata.normalize`` — both it and DuckDB's
    ``nfc_normalize`` implement the same Unicode standard, which is what
    makes the operator oracle-checkable digit-for-digit. Map-only."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: None if t is None else unicodedata.normalize(form, t)
        )

    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars_raw"),
        _norm(F.col(text_col)).alias("norm_text"),
    ).select(
        id_col,
        "n_chars_raw",
        F.length("norm_text").alias("n_chars_norm"),
        (F.col("n_chars_raw") != F.length("norm_text")).alias("changed"),
        "norm_text",
    )


def strip_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 10,
) -> DataFrame:
    """C4-style line-level boilerplate removal: split each document into
    lines, count each EXACT line's document frequency across the corpus,
    and drop lines appearing in >= ``min_doc_freq`` distinct documents
    (navigation bars, cookie banners, share footers — content that
    repeats verbatim across pages). Returns (id, n_lines_in,
    n_lines_kept, clean_text) with surviving lines rejoined in original
    order; a fully-boilerplate document survives as an empty string (the
    caller's length filter decides its fate, not this operator).

    Plan: one line explode feeding (a) the line-frequency agg — partial
    count-distinct on the line hash, vocabulary-sized output — and (b)
    the keep join back on the line key; the exploded stream is persisted
    so the split runs once (X98). Reassembly is a per-doc sorted fold,
    deterministic by line position."""
    from pyspark.storagelevel import StorageLevel

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    freq = lines.groupBy("line").agg(
        F.countDistinct(id_col).alias("line_df")
    )
    kept = lines.join(freq, "line").where(F.col("line_df") < min_doc_freq)
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines_in"))
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        "n_lines_in",
        F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Exact-substring deduplication with keep-first semantics (the
    TRANSFORM completing tx15's measurement, after Lee et al. 2021):
    every word n-gram occurrence except the globally FIRST one (minimum
    (doc, pos)) of its hash is a duplicate span; tokens covered by any
    duplicate span are removed and the document is rebuilt from the
    survivors in order. A full-doc duplicate collapses to nothing; a doc
    quoting an earlier doc loses exactly the quoted span.

    Returns (id, n_tokens, n_removed, clean_text).

    Same linear machinery as ``dup_span_coverage``: positional md5
    n-gram hashes (persisted — two consumers), first-occurrence via one
    min per hash, covered positions by a bounded sequence-explode,
    rebuild from the original text and the per-doc removed-position
    set. No suffix array; resolution is the n-gram, the standard
    large-corpus trade-off.

    r14 plan shape (guide §2.3/§2.4/§8):

    * the span hash is ``unhex(md5(..))`` — the same 128 bits as the
      hex string at half the checkpoint/shuffle bytes;
    * first-occurrence is ``min(doc_id·10¹⁰ + pos)`` over a
      decimal(38,0) — injective and order-isomorphic to the old
      lexicographic min(struct(doc_id, pos)) for any bigint doc_id
      (positions are Spark array indices, so 0 < pos < 2³¹ < 10¹⁰; two
      encodings differ by ≥10¹⁰ whenever the doc_ids differ), and a
      fixed-width decimal min is a plain partially-aggregating
      HashAggregate where the struct min forced SortAggregate — i.e. a
      full sort of the span table on both sides of the exchange;
    * the rebuild shuffles POSITIONS, not words: the old path
      posexploded every token of every doc through a left-anti join
      and re-assembled docs with collect_list (the whole corpus
      crossed an exchange as (doc, pos, word) rows). Only duplicate
      positions are shuffled now — each doc's kept text is rebuilt in
      one projection as array_except(sequence(1, n_tokens), removed)
      mapped over the original token array, which keeps token order by
      construction and is byte-identical to the old sorted
      collect_list rebuild (both emit the doc's kept tokens in
      position order, space-joined)."""
    sh = F.expr(
        f"transform(array(split(`{text_col}`, ' ')), w -> "
        f"CASE WHEN size(w) >= {n} THEN "
        f"transform(sequence(1, size(w) - {n} + 1), "
        f"i -> struct(i AS pos, unhex(md5(concat_ws(' ', slice(w, i, {n})))) AS h)) "
        f"ELSE array() END)[0]"
    )
    # two consumers (first-occurrence agg + the dup join) — checkpoint
    # rather than persist so the md5-heavy stream is materialized once
    # but its blocks are released when the result is dropped, instead of
    # sitting in the cache manager for the session (r4 ADVICE finding)
    posed = (
        df.select(F.col(id_col), F.explode(sh).alias("s"))
        .select(F.col(id_col), F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
        .localCheckpoint(eager=True)
    )
    # r15 guard (ADVICE r14): the decimal encoding requires an INTEGRAL
    # doc id — for a string-keyed corpus the cast yields NULL, min()
    # ignores NULLs, and `enc != keep_enc` is NULL for every row, so dup
    # removal silently became a no-op. Non-integral ids keep the old
    # lexicographic min(struct(id, pos)) — same first-occurrence pick,
    # SortAggregate instead of HashAggregate (the price of opaque keys).
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if isinstance(
        df.schema[id_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    ):
        enc = (
            F.col(id_col).cast("decimal(38,0)") * F.lit(10_000_000_000)
            + F.col("pos")
        )
    else:
        enc = F.struct(F.col(id_col), F.col("pos"))
    first = posed.groupBy("h").agg(
        F.min(enc).alias("keep_enc"),
        F.count(F.lit(1)).alias("occ"),
    )
    dup_occ = (
        posed.join(first, "h")
        .where((F.col("occ") > 1) & (enc != F.col("keep_enc")))
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("p"),
        )
        .distinct()
    )
    removed = dup_occ.groupBy(id_col).agg(F.collect_list("p").alias("_rm"))
    w = F.split(F.col(text_col), " ")
    return (
        df.select(F.col(id_col), w.alias("_w"), F.size(w).alias("n_tokens"))
        .join(removed, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            F.when(
                F.col("n_tokens").isNotNull(),
                F.coalesce(F.size("_rm"), F.lit(0)).cast("long"),
            ).alias("n_removed"),
            F.coalesce(
                F.when(
                    F.col("_rm").isNull(), F.array_join(F.col("_w"), " ")
                ).otherwise(
                    F.array_join(
                        F.transform(
                            F.array_except(
                                F.sequence(F.lit(1), F.col("n_tokens")),
                                F.col("_rm"),
                            ),
                            lambda p: F.element_at(F.col("_w"), p),
                        ),
                        " ",
                    )
                ),
                F.lit(""),
            ).alias("clean_text"),
        )
    )


def _bpe_merge_fold(a: str, b: str, merged: str):
    """Greedy left-to-right application of one BPE merge to a ``toks``
    array column: the exact fold both the learner and the encoder use —
    respects token boundaries and back-to-back occurrences, where an
    in-string replace() is wrong (pinned by pytest)."""
    a_l, b_l, m_l = F.lit(a), F.lit(b), F.lit(merged)
    singles = F.expr("transform(toks, t -> array(t))")
    return F.aggregate(
        F.slice(singles, 2, F.size("toks") - 1),
        F.slice(singles, 1, 1)[0],
        lambda acc, x: F.when(
            (F.element_at(acc, -1) == a_l) & (F.element_at(x, 1) == b_l),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(m_l)),
        ).otherwise(F.concat(acc, x)),
    )


def bpe_merge_steps(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from the corpus word
    stream (tokenizer-training prep): words become character-token
    sequences, each step counts adjacent token pairs weighted by word
    frequency, adopts the most frequent pair (count desc, pair asc
    tie-break) as a new symbol, and rewrites the vocabulary by a greedy
    left-to-right fold — the exact merge application (an in-string
    replace() would merge across token boundaries once symbols grow
    multi-char, and misses back-to-back occurrences).

    Returns (step, pair, merged, pair_count), one row per learned merge.
    All arithmetic is integer counts and string equality — no floats
    anywhere, so the oracle replay is trivially exact. Pair counting
    runs on the word-TYPE table (distinct word x frequency), which is
    vocabulary-sized however large the corpus; the only driver
    round-trip per step is the single winning pair (same bounded-scalar
    contract as pagerank's node count)."""
    from pyspark.storagelevel import StorageLevel

    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("toks"),
            "freq",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cur, prev = words, None
    merges = []
    for step in range(1, n_merges + 1):
        pairs = cur.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> concat(element_at(toks, i), ' ', "
                    "element_at(toks, i + 1)))"
                )
            ).alias("pr"),
            "freq",
        ).where(F.size("toks") >= 2)
        top = (
            pairs.groupBy("pr")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), "pr")
            .limit(1)
            .first()
        )
        if top is None:
            break
        a, b = top.pr.split(" ")
        merged = a + b
        merges.append((step, top.pr, merged, int(top.c)))
        nxt = cur.select(
            _bpe_merge_fold(a, b, merged).alias("toks"), "freq"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        nxt.count()  # materialize; caps lineage per step
        if prev is not None:
            prev.unpersist()  # each step needs only its predecessor
        cur, prev = nxt, nxt
    # the output is driver-local merge rows — every cached vocabulary
    # frame is garbage once the loop ends, so release them all now
    if prev is not None:
        prev.unpersist()
    words.unpersist()
    spark = df.sparkSession
    return spark.createDataFrame(
        merges, "step int, pair string, merged string, pair_count long"
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-scale BPE ENCODE — the apply step completing
    ``bpe_merge_steps``'s learn step (the tokenizer story end to end):
    every document's words are re-tokenized through the learned merges
    in order, using the same boundary-respecting greedy fold the learner
    used, so encode(learn(corpus)) is self-consistent by construction.
    ``merges`` is the learner's (pair_a, pair_b, merged) list in learned
    order. Returns one row per document: (id, n_words, n_tokens,
    encoded) with ``encoded`` the per-word token lists space-joined and
    ' / '-separated — the full encoding sits under the gate hash.

    Scale shape: merges apply to the WORD-TYPE table (vocabulary-sized
    however large the corpus — the same economy as the learner), and the
    encoded vocabulary joins back onto the position-exploded doc stream
    by word key; per-doc reassembly is one sorted-collect fold. The k
    folds unroll into one projection over the vocab table, so the corpus
    itself is scanned once."""
    words = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w"),
    ).where(F.col("w") != "")
    vocab = words.select("w").distinct().select(
        "w",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("toks"),
    )
    for a, b, merged in merges:
        vocab = vocab.select(
            "w", _bpe_merge_fold(a, b, merged).alias("toks")
        )
    enc = vocab.select(
        "w",
        F.array_join("toks", " ").alias("etoks"),
        F.size("toks").cast("long").alias("ntoks"),
    )
    return (
        words.join(enc, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("ntoks").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "etoks"))),
                    lambda s: s["etoks"],
                ),
                " / ",
            ).alias("encoded"),
        )
    )


def _pack_placement_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_partitions: int | None,
) -> DataFrame:
    """The un-checkpointed distributed-prefix-sum frame behind
    ``pack_sequences``: (id, n_tokens, pid, cum_in) with cum_in the
    within-range-partition cumulative token count. Exposed separately so
    plan tests can assert the window runs per-partition (the public
    function checkpoints this frame, which truncates the plan)."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    if num_partitions is None:
        num_partitions = max(1, toks.sparkSession.sparkContext.defaultParallelism)
    part = (
        toks.repartitionByRange(num_partitions, id_col)
        .withColumn("pid", F.spark_partition_id())
    )
    w_in = (
        Window.partitionBy("pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return part.withColumn("cum_in", F.sum("n_tokens").over(w_in))


def pack_sequences(
    df: DataFrame,
    seq_len: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
) -> DataFrame:
    """GPT-style sequence packing layout: conceptually concatenate every
    document's whitespace tokens in ``id_col`` order into one stream and
    cut it into fixed ``seq_len`` training sequences. Returns one row per
    document — (id, n_tokens, start_offset, pack_first, pack_last,
    packs_spanned) — the placement map a training-data writer needs to
    emit packed sequences (and the lineage map to trace a sequence back
    to its documents). Zero padding waste by construction; boundary docs
    span two (or more) packs.

    The global token offset is a DISTRIBUTED prefix sum, never a global
    window: range-partition by id, cumsum WITHIN each partition (windows
    run in parallel, one per partition), then shift each partition by
    the exclusive prefix of the per-partition totals — a
    partitions-sized table folded on the driver (bounded: one row per
    partition) and broadcast back. This is the textbook scan
    decomposition; the single-partition `Window.orderBy(id)` spelling of
    the same thing is the top-k anti-pattern the r4 VERDICT flagged.

    Chunk-level complement of ``chunk_documents`` (which splits each doc
    independently and pads the tail): ``pack_sequences`` is what
    pretraining pipelines use when examples are separator-joined and
    attention masks handle document boundaries."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    # plan-shape guards (test_text_corpus) inspect the PRE-checkpoint
    # frame from _pack_placement_frame: the checkpoint below truncates
    # lineage, so the returned frame's plan cannot witness the window
    # stage at all — asserting on it would be vacuous
    part = _pack_placement_frame(df, id_col, text_col, num_partitions)
    # two consumers (totals + final projection) and the totals round-trip
    # through the driver — materialize once
    part = part.localCheckpoint(eager=True)
    totals = {
        r.pid: r.tot
        for r in part.groupBy("pid").agg(F.sum("n_tokens").alias("tot")).collect()
    }  # bounded: one row per partition
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    if not offsets:
        # empty corpus: F.create_map() with zero args is map<void,void>
        # and the pid lookup then fails analysis — return the empty
        # placement map with the contract schema instead
        return part.select(
            F.col(id_col),
            "n_tokens",
            *[
                F.lit(0).cast("long").alias(c)
                for c in ("start_offset", "pack_first", "pack_last", "packs_spanned")
            ],
        )
    off = F.create_map(
        *[
            c
            for pid in sorted(offsets)
            for c in (F.lit(pid), F.lit(offsets[pid]).cast("long"))
        ]
    )  # pid -> exclusive prefix of partition totals, broadcast literal
    start = off[F.col("pid")] + F.col("cum_in") - F.col("n_tokens")
    return part.select(
        F.col(id_col),
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / seq_len).cast("long").alias("pack_first"),
        F.floor((start + F.col("n_tokens") - 1) / seq_len)
        .cast("long")
        .alias("pack_last"),
        (
            F.floor((start + F.col("n_tokens") - 1) / seq_len)
            - F.floor(start / seq_len)
            + 1
        )
        .cast("long")
        .alias("packs_spanned"),
    )


def emit_packed_sequences(
    df: DataFrame,
    seq_len: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
) -> DataFrame:
    """Materialize the training sequences ``pack_sequences`` lays out:
    one row per pack — (pack_id, n_tokens, n_docs, text) — with each
    pack's tokens assembled in global stream order. The writer half of
    sequence packing: the placement map says where every doc lands,
    this emits the actual fixed-length examples (the final pack may be
    partial; all others carry exactly ``seq_len`` tokens, zero padding).

    Plan: the placement map's start offsets broadcast/shuffle-join onto
    the posexploded token stream (one scan of the corpus, linear), and
    each pack's tokens regroup by ``floor(global_pos / seq_len)`` — one
    token-keyed shuffle whose per-group state is bounded by seq_len
    tokens (the whole point of fixed-length packs), assembled by the
    repo's standard sorted-collect fold."""
    place = pack_sequences(df, seq_len, id_col, text_col, num_partitions)
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("p0", "word"),
    )
    g = toks.join(place.select(F.col(id_col), "start_offset"), id_col).select(
        F.col(id_col),
        (F.col("start_offset") + F.col("p0")).alias("gpos"),
        "word",
    )
    return (
        g.groupBy(
            F.floor(F.col("gpos") / seq_len).cast("long").alias("pack_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct(F.col(id_col)).alias("n_docs"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("gpos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("text"),
        )
    )

def shard_layout(
    df: DataFrame,
    n_shards: int = 8,
    id_col: str = "pack_id",
    salt: str = "shard",
) -> DataFrame:
    """Seeded deterministic global shuffle into ``n_shards`` output shards
    — the training-data last mile after ``emit_packed_sequences``: a
    writer needs examples distributed uniformly across N shard files in
    an order uncorrelated with the source order, reproducible run-to-run.

    Adds (shuffle_key, shard_id, shard_pos): shuffle_key = md5(salt||id)
    (the seeded shuffle order — same md5-bucket discipline as
    ``assign_split``/tx08, so the layout is a pure function of ids,
    stable under any input partitioning, re-run, or cluster size);
    shard_id = first-8-hex-digits(shuffle_key) mod n_shards; shard_pos =
    the row's 1-based write position within its shard in shuffle_key
    order. Changing ``salt`` draws an independent shuffle.

    Plan: one md5 projection (codegen, no data movement) + one
    shard-keyed window for the positions — the window partitions by
    shard_id, so at 100 TB each sort is a per-shard local sort (the sort
    a shard writer performs anyway), never a single-partition funnel."""
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    bucket = F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
    out = df.withColumn("shuffle_key", key).withColumn(
        "shard_id", (bucket % n_shards).cast("long")
    )
    w = Window.partitionBy("shard_id").orderBy("shuffle_key", id_col)
    return out.withColumn("shard_pos", F.row_number().over(w).cast("long"))


def shard_accounting(
    sharded: DataFrame, token_col: str = "n_tokens"
) -> DataFrame:
    """Per-shard size accounting over a ``shard_layout`` frame: rows,
    tokens, and the first/last shuffle keys (the write-order fingerprint
    a deterministic-layout audit checks). One shard-keyed partial agg."""
    return (
        sharded.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(token_col)).cast("long").alias("total_tokens"),
            F.min("shuffle_key").alias("first_key"),
            F.max("shuffle_key").alias("last_key"),
        )
        .orderBy("shard_id")
    )

