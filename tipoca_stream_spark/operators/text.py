"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All pure Catalyst column expressions over the ``documents`` table — per-row
map work, embarrassingly parallel at any scale. Deterministic by
construction so the DuckDB oracle reproduces every value exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A small function-word inventory per language for the n-gram/stopword
# language-ID heuristic. Real corpora would use character n-gram profiles;
# the classifier shape (score per language → argmax) is the same.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
}

STOPWORDS = ["the", "a", "of", "and", "is", "in", "to"]

# BPE-ish tokenization: runs of letters, runs of digits, or single
# non-alphanumeric glyphs — the shape GPT-style pre-tokenizers use.
BPE_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _words(text: Column) -> Column:
    return F.split(text, " ")


def token_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(_words(text)).cast("long").alias("n_ws_tokens"),
        # idx=0 → whole match (Spark defaults to capture group 1)
        F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_TOKEN_RE), F.lit(0))).cast("long").alias("n_bpe_tokens"),
    )


def _count_in(words: Column, vocab: list[str]) -> Column:
    return F.size(F.filter(words, lambda w: w.isin(vocab))).cast("long")


def quality_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Length / distinctness / stopword-ratio quality features. All ratios
    are single double divisions of exact ints → deterministic."""
    words = _words(F.col(text_col))
    n = F.size(words).cast("long")
    n_distinct = F.size(F.array_distinct(words)).cast("long")
    n_stop = _count_in(words, STOPWORDS)
    total_chars = F.length(F.col(text_col)).cast("long")
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        (n_distinct.cast("double") / n).alias("distinct_ratio"),
        (n_stop.cast("double") / n).alias("stopword_ratio"),
        ((total_chars - (n - 1)).cast("double") / n).alias("mean_token_len"),
    )


def langid(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Marker-word language ID: score per language, argmax with a
    deterministic tie-break (language order as listed, 'und' when all 0)."""
    words = _words(F.lower(F.col(text_col)))
    scores = {lang: _count_in(words, markers) for lang, markers in LANG_MARKERS.items()}
    best = F.lit("und")
    best_score = F.lit(0).cast("long")
    for lang, score in LANG_MARKERS.items():  # first-listed wins ties
        s = scores[lang]
        cond = s > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    return df.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS],
        best.alias("lang_guess"),
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Key-collision fingerprint (OpenRefine-style): md5 of the sorted
    distinct word set — robust to word order and repetition."""
    words = _words(F.lower(F.col(text_col)))
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(words)))
    # NULL text → NULL fingerprint (concat_ws would silently coerce the
    # NULL word array to '' and alias NULL docs with genuinely-empty ones)
    fp = F.when(F.col(text_col).isNotNull(), F.md5(canon))
    return df.select(F.col(id_col), fp.alias("fingerprint"))


ROLLING_BASE = 31
ROLLING_MOD = 1_000_000_007


def rolling_hash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Polynomial (Rabin-Karp) rolling hash over the character stream:
    ``h = (h*31 + code(c)) mod 1e9+7`` — a deterministic content hash whose
    fold form also yields substring hashes for chunk-level dedup. Pure
    ``aggregate`` fold, JVM-side; intermediate values stay < 2^35 so ANSI
    overflow checking never trips."""
    chars = F.filter(F.split(F.col(text_col), ""), lambda c: c != "")
    h = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * ROLLING_BASE + F.ascii(c), F.lit(ROLLING_MOD)),
    )
    return df.select(F.col(id_col), h.alias("rolling_hash"))


def ngram_novelty(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Per-document n-gram NOVELTY (round 13): the fraction of a doc's
    distinct word n-grams whose global first occurrence (smallest id of
    any doc containing the shingle) is this document. A curation-side
    diversity signal: near-1 documents introduce new content, near-0
    documents restate what an earlier doc already contributed — the
    soft (fractional) counterpart of hard near-dup removal, usable as a
    sampling weight instead of a drop rule. Docs with fewer than ``n``
    words contribute no shingles and are absent from the output.

    100 TB shape: distinct (id, shingle) → one shingle-keyed aggregate
    for the global min (map-side combinable) → join back → one id-keyed
    aggregate. No self-join, no window over the corpus; the widest
    shuffle carries (shingle, id) pairs, the same footprint as the LSH
    shingle stage."""
    from tipoca_stream_spark.operators.corpus_dedup import word_shingles

    sh = word_shingles(
        df.filter(F.col(text_col).isNotNull()), text_col, id_col, n=n
    ).distinct()
    first = sh.groupBy("shingle").agg(F.min(id_col).alias("_first"))
    per = (
        sh.join(first, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("_first") == F.col(id_col)).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per.select(
        id_col,
        "n_shingles",
        "n_novel",
        F.round(
            F.col("n_novel").cast("double") / F.col("n_shingles"), 6
        ).alias("novelty"),
    )


# --- Gopher-style quality rules (Rae et al. 2021, §A1.1 heuristics) ---------

GOPHER_MIN_WORDS = 5
GOPHER_MAX_WORDS = 10_000
GOPHER_MIN_MEAN_WORD_LEN = 2.0
GOPHER_MAX_MEAN_WORD_LEN = 12.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2


def gopher_quality(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-rule document filter: the classic pre-training quality gates
    (word-count bounds, mean word length, symbol-to-word ratio, fraction of
    words containing a letter, distinct-stopword floor) as one pure
    projection — per-row map work inside codegen, no shuffle at any scale.
    Thresholds are module constants tuned to the synthetic corpus; the rule
    SHAPE is the published one."""
    text = F.lower(F.col(text_col))
    words = _words(text)
    n = F.size(words).cast("long")
    mean_len = (F.length(text) - (n - 1)).cast("double") / n
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]"))).cast("long")
    n_symbols = F.length(F.regexp_replace(text, "[a-z0-9 ]", "")).cast("long")
    stop_distinct = F.size(
        F.filter(F.array_distinct(words), lambda w: w.isin(STOPWORDS))
    ).cast("long")
    checks = {
        "ok_word_count": (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS),
        "ok_mean_word_len": (mean_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN),
        "ok_symbol_ratio": (n_symbols.cast("double") / n) <= GOPHER_MAX_SYMBOL_RATIO,
        "ok_alpha_words": (n_alpha.cast("double") / n) >= GOPHER_MIN_ALPHA_WORD_FRAC,
        "ok_stopwords": stop_distinct >= GOPHER_MIN_STOPWORDS,
    }
    passes = None
    for c in checks.values():
        passes = c if passes is None else (passes & c)
    return df.select(
        F.col(id_col),
        n.alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        *[col.alias(name) for name, col in checks.items()],
        passes.alias("passes_gopher"),
    )


def repetition_scores(df: DataFrame, text_col: str, id_col: str, gram_n: int = 2) -> DataFrame:
    """Within-document repetition: the most-frequent n-gram's share of all
    n-grams (boilerplate/pathology detector) and the duplicate-word
    fraction. One shuffle keyed by (doc, gram) then a per-doc aggregate —
    cardinality is bounded by total grams, scales like word count."""
    from tipoca_stream_spark.operators.corpus_dedup import word_shingles

    grams = word_shingles(df, text_col, id_col, n=gram_n)
    per_gram = grams.groupBy(id_col, "shingle").agg(F.count("*").alias("c"))
    per_doc = per_gram.groupBy(id_col).agg(
        F.sum("c").alias("total_grams"), F.max("c").alias("top_gram_count")
    )
    words = _words(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.size(words).cast("long").alias("n_words"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct"),
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(
                F.col("top_gram_count").cast("double") / F.col("total_grams"), F.lit(0.0)
            ).alias("top_gram_fraction"),
            (F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_words")).alias(
                "dup_word_fraction"
            ),
        )
    )


def contamination_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    benchmark_filter,
    gram_n: int = 3,
) -> DataFrame:
    """Benchmark contamination: per training doc, how many of its distinct
    n-gram shingles also appear in the benchmark/eval set
    (``benchmark_filter`` selects benchmark rows). The shingle equi-join is
    an inverted-index join — shuffles (shingle, id) pairs, never doc
    bodies, the standard decontamination shape at corpus scale."""
    from tipoca_stream_spark.operators.corpus_dedup import word_shingles

    bench = df.filter(benchmark_filter)
    train = df.filter(~benchmark_filter)
    bench_shingles = word_shingles(bench, text_col, id_col, n=gram_n).select(
        "shingle"
    ).distinct()
    train_shingles = word_shingles(train, text_col, id_col, n=gram_n).distinct()
    totals = train_shingles.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    hits = (
        train_shingles.join(bench_shingles, "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        totals.join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_shingles"),
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
            F.coalesce(
                F.col("n_contaminated").cast("double") / F.col("n_shingles"), F.lit(0.0)
            ).alias("contamination_ratio"),
        )
    )


def tfidf_top_terms(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Per-document top-k terms by TF-IDF (idf = ln((N+1)/(df+1))).

    Plan at scale: one explode → (doc, term) aggregate riding a single
    shuffle; document frequency is a second aggregate of the already-reduced
    tf table keyed on term (vocab cardinality — never broadcast by hint, the
    term join is an equi-join AQE can pick a strategy for); the corpus size
    N is a 1-row broadcast. Scores are rounded to 6dp BEFORE ranking so the
    (score, term) order is reproducible across engines.
    """
    tokens = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tokens.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfreq"))
    n = df.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n))
        .select(
            F.col(id_col),
            F.col("term"),
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("dfreq") + 1)), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """BM25 retrieval: top-k documents for a bag of query terms.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) with
    the Robertson-Sparck-Jones idf = ln((N − df + 0.5)/(df + 0.5) + 1).
    The workhorse of retrieval-based corpus construction (decontamination
    lookups, dedup-by-query, retrieval-mix curation).

    Plan at scale: the token explode feeds ONE (doc, term) aggregate;
    document length is a second aggregate of the same exploded frame
    (separate shuffle but same key — AQE coalesces); only tokens matching
    the query survive into the tf table, so the per-term side is
    |Q|-bounded and the (N, avgdl) totals are 1-row broadcasts. The final
    top-k is an orderBy+limit → TakeOrderedAndProject, never a full sort.
    Per-term scores are rounded to 6dp before summing and the sum rounded
    again, so the (score, doc) order reproduces across engines.
    """
    tokens = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).filter(F.col("term") != "")
    doclen = tokens.groupBy(id_col).agg(F.count("*").alias("dl"))
    totals = doclen.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        tokens.filter(F.col("term").isin(list(query_terms)))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfreq"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(doclen, id_col)
        .join(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("dfreq") + 0.5)
                    / (F.col("dfreq") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ).alias("term_score"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def bigram_pmi(
    df: DataFrame, text_col: str, id_col: str, min_count: int = 10, k: int = 20
) -> DataFrame:
    """Top-k collocations by pointwise mutual information.

    pmi(x,y) = ln(c_xy · T² / (B · c_x · c_y)) with T = total tokens and
    B = total bigrams — all counts exact longs (products stay < 2⁵³), one
    IEEE division + ln at the end, so both engines agree bit-for-bit.
    Bigrams come from slicing the token array against itself (no
    posexplode self-join); three aggregates total, each map-side combined.
    """
    toks = df.select(F.split(F.col(text_col), " ").alias("w"))
    bigrams = (
        toks.select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(w, 1, size(w) - 1)"),
                    F.expr("slice(w, 2, size(w) - 1)"),
                )
            ).alias("bg")
        )
        .select(F.col("bg.0").alias("t1"), F.col("bg.1").alias("t2"))
    )
    bg_counts = bigrams.groupBy("t1", "t2").agg(F.count("*").alias("c_xy"))
    unigrams = toks.select(F.explode("w").alias("term")).groupBy("term").agg(
        F.count("*").alias("c")
    )
    totals = toks.agg(
        F.sum(F.size("w")).cast("long").alias("t_tokens"),
        F.sum(F.size("w") - 1).cast("long").alias("b_bigrams"),
    )
    u1 = unigrams.select(F.col("term").alias("t1"), F.col("c").alias("c_x"))
    u2 = unigrams.select(F.col("term").alias("t2"), F.col("c").alias("c_y"))
    return (
        bg_counts.filter(F.col("c_xy") >= min_count)
        .join(u1, "t1")
        .join(u2, "t2")
        .join(F.broadcast(totals))
        .select(
            "t1",
            "t2",
            F.col("c_xy"),
            F.round(
                F.log(
                    (F.col("c_xy") * F.col("t_tokens") * F.col("t_tokens")).cast("double")
                    / (F.col("b_bigrams") * F.col("c_x") * F.col("c_y")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("t1"), F.asc("t2"))
        .limit(k)
    )


def vocab_coverage(df: DataFrame, text_col: str, k: int = 50) -> DataFrame:
    """Corpus vocabulary head: top-k terms by frequency with cumulative
    coverage share.

    Round 15 (VERDICT r14 #7): the k is declared, so the top-k is taken
    FIRST with orderBy().limit(k) — a TakeOrderedAndProject, i.e. a
    per-partition top-k + single merge of k-row heads (the two-level
    rank) — and the rank/cumsum window runs over only those k rows
    instead of the whole vocabulary. (c desc, term asc) is a total order
    (terms are unique), so the limit keeps exactly the rows the old
    rank<=k filter kept, and the cumulative sum over ranks 1..k only
    reads those rows — identical output. At 100 TB the vocabulary never
    funnels through one window task anymore; only k rows do. (The window
    is unpartitioned, so Spark's single-partition WindowExec WARN prints
    — spurious for the k-row input; rank-after-limit is the real fix.) Coverage divides by
    the all-terms total, computed before the limit.
    """
    from pyspark.sql import Window

    tokens = df.select(F.explode(F.split(F.col(text_col), " ")).alias("term")).filter(
        F.col("term") != ""
    )
    counts = tokens.groupBy("term").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").cast("double").alias("t"))
    topk = counts.orderBy(F.desc("c"), F.asc("term")).limit(k)
    w = Window.orderBy(F.desc("c"), F.asc("term"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .withColumn("cum_c", F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .join(F.broadcast(total))
        .select(
            "rank",
            "term",
            "c",
            F.round(F.col("cum_c") / F.col("t"), 6).alias("coverage"),
        )
    )
