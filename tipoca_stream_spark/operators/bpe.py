"""Distributed BPE tokenizer training over a document corpus
(byte-pair encoding, Sennrich et al. 2016 — the subword scheme GPT-style
pre-tokenizers build on).

Reference parity note: the reference system (practo/tipoca-stream) has
no tokenizer; this module belongs to the training-data-pipeline surface
(SURVEY.md "beyond the reference" brief: token counting already exists
in operators/text.py — this adds the trainer that PRODUCES the merge
table, and the segmenter that applies it).

100 TB design
-------------
The only corpus-sized stage is the word-frequency aggregation
(``word_frequencies``): explode → groupBy(word) → sum, the classic
map-side-combinable shuffle — one pass over the corpus, ever. All
iteration runs on the aggregated word VOCABULARY, which is heavy-tailed
(orders of magnitude smaller than the corpus) and boundable with
``min_count`` — the standard practice for production tokenizers.

Training then takes one of two paths on the vocabulary:

- vocab ≤ ``collect_threshold`` (the common case even for web-scale
  corpora once ``min_count`` prunes the tail): collect ``(word, cnt)``
  once and run the fastBPE-style delta-maintained trainer driver-side —
  each merge updates only the pair counts of words that contain the
  winning pair, never a full recount. This is how production tokenizer
  trainers work (the corpus-sized stage is distributed; the vocab-sized
  iteration is not worth a cluster round-trip per merge).
- vocab above the threshold: a fully distributed loop. Each round is an
  adjacent-pair count (``arrays_zip`` of two array slices → explode →
  groupBy sum; JVM-side, map-side combined), ONE bounded driver read
  (the single best pair under a deterministic total order: count desc,
  then lexicographic pair asc), and a vocab-sized conditional merge
  rewrite applied as a single-reference ``withColumn`` (an Arrow-batched
  pandas UDF guarded by ``F.when(has_pair, ...)`` — one plan node per
  round, NOT a filter/anti-filter/union fan-out, which doubles the plan
  DAG per round and blows the driver heap by round ~10), with a
  ``localCheckpoint`` per ``checkpoint_every`` rounds to cut lineage
  (the operators/pagerank.py discipline for iterative plans; the
  per-round driver read re-executes everything since the last
  checkpoint, so the default checkpoints every round).

Both paths implement the same deterministic order and are
equality-pinned against each other and against an independent reference
implementation in tests/test_bpe.py.

Tokenization convention matches plans/textvec.py: split on single
spaces, drop empties, no case folding (the testdata corpus is already
lower-case; DuckDB oracles share the convention byte-for-byte).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F, types as T

from tipoca_stream_spark.operators.checkpoint import SPILL_LEVEL

END_OF_WORD = "</w>"

#: (left, right, weighted_count) — the count is the pair's corpus
#: frequency at the time it was chosen (what the merge-table consumers
#: and the DuckDB oracle both see).
Merge = tuple[str, str, int]


def word_frequencies(
    docs: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus → (word, cnt): the single corpus-sized aggregation."""
    words = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).filter(F.col("word") != "")
    out = words.groupBy("word").agg(F.count("*").alias("cnt"))
    if min_count > 1:
        out = out.filter(F.col("cnt") >= min_count)
    return out


def initial_symbols(words: DataFrame) -> DataFrame:
    """(word, cnt) → (word, cnt, syms) with syms = characters + the
    terminal ``</w>`` marker (Sennrich's word-boundary convention).

    ``F.split(col, "")`` keeps a trailing empty string (Java ``split``
    with limit -1); it is filtered so the symbol array is exactly the
    characters — DuckDB's ``string_split(word, '')`` agrees."""
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != "")
    return words.select(
        "word", "cnt", F.concat(chars, F.array(F.lit(END_OF_WORD))).alias("syms")
    )


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<l,r>> of adjacent symbol pairs."""
    n = F.size(syms)
    return F.arrays_zip(
        F.slice(syms, 1, n - 1).alias("l"), F.slice(syms, 2, n - 1).alias("r")
    )


def pair_counts(symbols: DataFrame) -> DataFrame:
    """(word, cnt, syms) → (l, r, cnt): adjacent-pair frequencies
    weighted by word count. JVM-side explode + map-side-combined sum."""
    return (
        symbols.select("cnt", F.explode(_adjacent_pairs(F.col("syms"))).alias("p"))
        .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "cnt")
        .groupBy("l", "r")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _apply_merge(syms: list, left: str, right: str) -> list:
    """Replace adjacent (left, right) with the concatenation,
    left-to-right non-overlapping — the exact Sennrich semantics."""
    res = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            res.append(left + right)
            i += 2
        else:
            res.append(syms[i])
            i += 1
    return res


def _merge_pair_udf(left: str, right: str):
    """Arrow-batched merge application for the distributed path."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def merge(syms: pd.Series) -> pd.Series:
        return pd.Series([_apply_merge(list(arr), left, right) for arr in syms])

    return merge


def _train_local(
    vocab: list[tuple[str, int]], num_merges: int, min_pair_count: int
) -> list[Merge]:
    """fastBPE-style delta-maintained trainer over a collected vocab:
    each merge touches only the words containing the winning pair."""
    words = [list(w) + [END_OF_WORD] for w, _ in vocab]
    cnts = [c for _, c in vocab]
    pair_cnt: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set] = {}
    for idx, syms in enumerate(words):
        c = cnts[idx]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_cnt[p] = pair_cnt.get(p, 0) + c
            pair_words.setdefault(p, set()).add(idx)
    merges: list[Merge] = []
    for _ in range(num_merges):
        if not pair_cnt:
            break
        (left, right), best_cnt = min(
            pair_cnt.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if best_cnt < min_pair_count:
            break
        merges.append((left, right, best_cnt))
        # pair_words entries go stale (a word may have lost the pair in an
        # earlier merge); subtract-then-re-add from the word's CURRENT
        # symbols is a net no-op for stale members, so staleness is safe.
        for idx in pair_words.pop((left, right), ()):
            syms = words[idx]
            c = cnts[idx]
            changed = _apply_merge(syms, left, right)
            if len(changed) == len(syms):
                continue
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                left_over = pair_cnt.get(p, 0) - c
                if left_over > 0:
                    pair_cnt[p] = left_over
                else:
                    pair_cnt.pop(p, None)
            words[idx] = changed
            for i in range(len(changed) - 1):
                p = (changed[i], changed[i + 1])
                pair_cnt[p] = pair_cnt.get(p, 0) + c
                pair_words.setdefault(p, set()).add(idx)
    return merges


def _train_distributed(
    symbols: DataFrame,
    num_merges: int,
    min_pair_count: int,
    checkpoint_every: int,
) -> list[Merge]:
    symbols = symbols.localCheckpoint(eager=True, storageLevel=SPILL_LEVEL)
    merges: list[Merge] = []
    for round_no in range(num_merges):
        top = (
            pair_counts(symbols)
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < min_pair_count:
            break
        left, right = top[0]["l"], top[0]["r"]
        merges.append((left, right, top[0]["cnt"]))
        has_pair = F.exists(
            _adjacent_pairs(F.col("syms")),
            lambda p: (p["l"] == F.lit(left)) & (p["r"] == F.lit(right)),
        )
        # Single reference to `symbols` per round: a filter/anti-filter/
        # union shape references it twice and doubles the plan DAG every
        # round (exponential analysis cost -> driver OOM by round ~10).
        symbols = symbols.withColumn(
            "syms",
            F.when(has_pair, _merge_pair_udf(left, right)(F.col("syms"))).otherwise(
                F.col("syms")
            ),
        )
        if (round_no + 1) % checkpoint_every == 0:
            symbols = symbols.localCheckpoint(eager=True, storageLevel=SPILL_LEVEL)
    return merges


def train_bpe(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 100,
    min_count: int = 1,
    min_pair_count: int = 2,
    checkpoint_every: int = 1,
    collect_threshold: int = 2_000_000,
) -> list[Merge]:
    """Learn an ordered BPE merge list from a corpus.

    Returns up to ``num_merges`` (left, right, count) merges; stops early
    when no pair reaches ``min_pair_count``. Deterministic: ties broken
    by (count desc, l asc, r asc). The corpus-sized work is always the
    distributed word-frequency aggregate; the vocab-sized iteration runs
    driver-side (delta-maintained) when the vocabulary fits under
    ``collect_threshold`` rows, distributed otherwise — both paths are
    equality-pinned in tests."""
    vocab = word_frequencies(docs, text_col=text_col, min_count=min_count)
    vocab = vocab.localCheckpoint(eager=True, storageLevel=SPILL_LEVEL)
    if vocab.count() <= collect_threshold:
        rows = [(r["word"], r["cnt"]) for r in vocab.collect()]
        return _train_local(rows, num_merges, min_pair_count)
    return _train_distributed(
        initial_symbols(vocab), num_merges, min_pair_count, checkpoint_every
    )


def token_vocabulary(seg: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Segmented corpus → (token_id, token, freq): the id-assignment
    table, deterministically ordered (freq desc, token asc; ids from 0 —
    hot tokens get the small ids, the convention embedding tables like).

    The corpus-sized stage is the explode → map-side-combined groupBy;
    the id-assigning window then runs over the VOCABULARY, whose size is
    bounded by the tokenizer spec itself — every emitted token is either
    an initial symbol or one merge's output, so |vocab| ≤ |alphabet| +
    num_merges + 1 regardless of corpus size. The single-task global
    window is therefore bounded by construction, not by data."""
    freqs = (
        seg.select(F.explode(F.col(tokens_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    from pyspark.sql import Window

    # the single window task is spec-bounded (|vocab| <= |alphabet| +
    # num_merges + 1, see docstring) — safe at any corpus size. (Spark's
    # single-partition WindowExec WARN prints; it is spurious here.)
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return freqs.select(
        (F.row_number().over(w) - 1).cast("int").alias("token_id"),
        "token",
        "freq",
    )


def tokens_to_ids(
    seg: DataFrame,
    vocab,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, tokens) → (id, ids): map token strings to vocabulary ids.

    ``vocab`` is a ``token_vocabulary`` DataFrame or a {token: id} dict.
    The mapping is tokenizer-spec-sized (see ``token_vocabulary``), so it
    collects to the driver and ships in the UDF closure — the same
    broadcast discipline as ``segment_with_merges``'s rank table; the
    encode itself is an Arrow-batched column map with no shuffle. Tokens
    absent from the vocabulary map to -1 (can't happen when the vocab
    was built from the same segmentation)."""
    if isinstance(vocab, dict):
        mapping = dict(vocab)
    else:
        mapping = {
            r["token"]: r["token_id"]
            for r in vocab.select("token_id", "token").collect()
        }

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def to_ids(tok: pd.Series) -> pd.Series:
        return pd.Series(
            [[mapping.get(t, -1) for t in arr] for arr in tok]
        )

    return seg.select(F.col(id_col), to_ids(F.col(tokens_col)).alias("ids"))


def segment_with_merges(
    docs: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained merge list to documents → (id, tokens).

    The standard encode algorithm: per word, repeatedly apply the
    LOWEST-RANK applicable merge until none applies (equivalent to
    replaying the merges in learned order — pinned in tests).
    Embarrassingly parallel over document partitions (merge ranks
    broadcast in the closure); word-level results are memoised per batch
    because corpus word frequency is heavy-tailed. Accepts (l, r) pairs
    or the (l, r, cnt) triples ``train_bpe`` returns."""
    ranks = {(m[0], m[1]): i for i, m in enumerate(merges)}

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def encode(texts: pd.Series) -> pd.Series:
        cache: dict[str, list] = {}

        def enc_word(word: str) -> list:
            got = cache.get(word)
            if got is not None:
                return got
            syms = list(word) + [END_OF_WORD]
            while len(syms) > 1:
                best = None
                best_rank = len(ranks)
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]), best_rank)
                    if r < best_rank:
                        best_rank = r
                        best = (syms[i], syms[i + 1])
                if best is None:
                    break
                syms = _apply_merge(syms, best[0], best[1])
            cache[word] = syms
            return syms

        out = []
        for text in texts:
            toks: list = []
            # NULL text segments to no tokens — str(None) would otherwise
            # smuggle a literal "None" token into the corpus
            if isinstance(text, str):
                for w in text.split(" "):
                    if w:
                        toks.extend(enc_word(w))
            out.append(toks)
        return pd.Series(out)

    return docs.select(F.col(id_col), encode(F.col(text_col)).alias("tokens"))
