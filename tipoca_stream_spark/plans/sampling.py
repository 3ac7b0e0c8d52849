"""Deterministic corpus splitting & sampling — train/eval assignment must
be a pure function of stable ids (reproducible across runs, engines, and
cluster sizes), never `rand()`. The split key is the first 8 hex chars of
md5(doc_id || salt) mod 100: identical arithmetic in Spark and DuckDB, so
the assignment itself is oracle-checked."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tipoca_stream_spark.plans.registry import query
from tipoca_stream_spark.sources.tables import load_table

SPLIT_SALT = "split-v1"
EVAL_PCT = 10  # percent of docs assigned to eval


def _bucket(col, salt: str):
    """0-99 bucket from the top 32 bits of md5(id || salt) — stable under
    repartitioning and engine choice, uniform enough for split purposes."""
    return (
        F.conv(F.substring(F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 8), 16, 10)
        .cast("long") % 100
    )


@query(
    "corpus_train_split",
    f"""
    SELECT doc_id, source,
           CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || '{SPLIT_SALT}'), 1, 8))::BIGINT % 100
                     < {EVAL_PCT}
                THEN 'eval' ELSE 'train' END AS split
    FROM documents
    """,
    survey_ref="training: deterministic train/eval split",
)
def corpus_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-salted split assignment: ~10% eval, stable under any
    partitioning. Pure projection — no shuffle, no state, no RNG."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "source",
        F.when(_bucket(F.col("doc_id"), SPLIT_SALT) < EVAL_PCT, "eval")
        .otherwise("train")
        .alias("split"),
    )


@query(
    "corpus_split_balance",
    f"""
    SELECT source, split, count(*) AS n FROM (
      SELECT source,
             CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || '{SPLIT_SALT}'), 1, 8))::BIGINT % 100
                       < {EVAL_PCT}
                  THEN 'eval' ELSE 'train' END AS split
      FROM documents)
    GROUP BY source, split
    """,
    survey_ref="training: split balance audit",
)
def corpus_split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source split sizes — the audit query run after any split change
    to confirm stratification didn't skew a source."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "source",
            F.when(_bucket(F.col("doc_id"), SPLIT_SALT) < EVAL_PCT, "eval")
            .otherwise("train")
            .alias("split"),
        )
        .groupBy("source", "split")
        .agg(F.count("*").alias("n"))
    )


PSI_SALT = "psi-v1"
PSI_BIN_WIDTH = 50.0  # fixed-width bins over events.value
PSI_BINS = 10
PSI_EPS = 1e-6  # clamp for empty bins (standard PSI practice)


@query(
    "dq_psi_drift",
    f"""
    WITH ev AS (
      SELECT least({PSI_BINS - 1}, floor(value / {PSI_BIN_WIDTH}))::BIGINT AS bin,
             CASE WHEN ('0x' || substr(md5(event_id::VARCHAR || '{PSI_SALT}'), 1, 8))::BIGINT
                       % 100 < {EVAL_PCT}
                  THEN 'eval' ELSE 'train' END AS split
      FROM events),
    c AS (SELECT bin,
                 count(*) FILTER (split = 'train')::DOUBLE AS n_t,
                 count(*) FILTER (split = 'eval')::DOUBLE AS n_e
          FROM ev GROUP BY bin),
    t AS (SELECT bin, n_t, n_e,
                 sum(n_t) OVER () AS tot_t, sum(n_e) OVER () AS tot_e
          FROM c),
    p AS (SELECT bin,
                 greatest(n_t / tot_t, {PSI_EPS}) AS p_train,
                 greatest(n_e / tot_e, {PSI_EPS}) AS p_eval
          FROM t)
    SELECT bin,
           round(p_train, 6) AS p_train,
           round(p_eval, 6) AS p_eval,
           round((p_train - p_eval) * ln(p_train / p_eval), 6) AS psi_term,
           round(sum((p_train - p_eval) * ln(p_train / p_eval)) OVER (), 6) AS psi_total
    FROM p
    """,
    survey_ref="dq: population-stability (drift) gate between splits",
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the train and eval split of
    events.value, binned fixed-width — the drift gate run before shipping
    a refreshed training mix (PSI > 0.2 = investigate). One groupBy on
    (bin) with conditional counts, then window totals over <= PSI_BINS
    rows — the per-bin table is tiny at any corpus size, so the global
    window is driver-cheap; the scan is the only O(data) stage."""
    ev = load_table(spark, sf_dir, "events").select(
        F.least(
            F.lit(PSI_BINS - 1), F.floor(F.col("value") / PSI_BIN_WIDTH)
        ).cast("long").alias("bin"),
        F.when(_bucket(F.col("event_id"), PSI_SALT) < EVAL_PCT, "eval")
        .otherwise("train")
        .alias("split"),
    )
    c = ev.groupBy("bin").agg(
        F.count(F.when(F.col("split") == "train", 1)).cast("double").alias("n_t"),
        F.count(F.when(F.col("split") == "eval", 1)).cast("double").alias("n_e"),
    )
    # whole-frame sum over the ≤PSI_BINS-row bin table: the single window
    # task is bounded by construction. (Spark's single-partition
    # WindowExec WARN prints for this unpartitioned window; it is
    # spurious here — the bounded input is the real fix.)
    w = Window.partitionBy()
    # try_divide: a split with zero rows overall has tot = 0; DuckDB's
    # double division by zero yields NULL and greatest() skips NULLs in
    # BOTH engines, so the proportion floors to PSI_EPS identically
    t = c.select(
        "bin",
        F.try_divide(F.col("n_t"), F.sum("n_t").over(w)).alias("p_t_raw"),
        F.try_divide(F.col("n_e"), F.sum("n_e").over(w)).alias("p_e_raw"),
    )
    p = t.select(
        "bin",
        F.greatest(F.col("p_t_raw"), F.lit(PSI_EPS)).alias("p_train"),
        F.greatest(F.col("p_e_raw"), F.lit(PSI_EPS)).alias("p_eval"),
    )
    term = (F.col("p_train") - F.col("p_eval")) * F.log(F.col("p_train") / F.col("p_eval"))
    return p.select(
        "bin",
        F.round("p_train", 6).alias("p_train"),
        F.round("p_eval", 6).alias("p_eval"),
        F.round(term, 6).alias("psi_term"),
        F.round(F.sum(term).over(w), 6).alias("psi_total"),
    )


WRS_SALT = "wrs-v1"
WRS_K = 5  # keep per source


@query(
    "corpus_weighted_sample",
    f"""
    WITH u AS (
      SELECT doc_id, source, n_chars,
             (('0x' || substr(md5(doc_id::VARCHAR || '{WRS_SALT}'), 1, 8))::BIGINT + 0.5)
               / 4294967296.0 AS u
      FROM documents),
    keyed AS (
      SELECT doc_id, source, n_chars,
             round(pow(u, 1.0 / n_chars), 9) AS k
      FROM u),
    ranked AS (
      SELECT doc_id, source, n_chars, k,
             row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rn
      FROM keyed)
    SELECT source, doc_id, n_chars, round(k, 6) AS sample_key
    FROM ranked WHERE rn <= {WRS_K}
    """,
    survey_ref="training: weighted reservoir sampling (A-ES, deterministic)",
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement: key =
    u^(1/w) with w = n_chars, keep the top WRS_K keys per source. The
    uniform u comes from the md5 split-hash (not rand()), so the draw is
    reproducible across runs, engines, and partitionings — the property a
    training-mix pipeline actually needs from its sampler. Keys are
    rounded to 9 dp BEFORE ranking so the (key, doc_id) order is identical
    in both engines despite last-ulp pow() differences. One window over
    source partitions; at scale Spark's WindowGroupLimit pushes the rn
    filter down to a per-partition top-k heap."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        (
            F.conv(
                F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(WRS_SALT))), 1, 8),
                16,
                10,
            ).cast("long")
            + F.lit(0.5)
        )
        / F.lit(4294967296.0)
    )
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.pow(u, F.lit(1.0) / F.col("n_chars")), 9).alias("k"),
    )
    w = Window.partitionBy("source").orderBy(F.col("k").desc(), "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= WRS_K)
        .select("source", "doc_id", "n_chars", F.round("k", 6).alias("sample_key"))
    )


@query(
    "dq_chisq_drift",
    f"""
    WITH ev AS (
      SELECT event_type,
             CASE WHEN ('0x' || substr(md5(event_id::VARCHAR || '{PSI_SALT}'), 1, 8))::BIGINT
                       % 100 < {EVAL_PCT}
                  THEN 'eval' ELSE 'train' END AS split
      FROM events),
    o AS (SELECT event_type, split, count(*)::DOUBLE AS n FROM ev GROUP BY 1, 2),
    m AS (SELECT event_type, split, n,
                 sum(n) OVER (PARTITION BY event_type) AS row_tot,
                 sum(n) OVER (PARTITION BY split) AS col_tot,
                 sum(n) OVER () AS grand
          FROM o),
    x AS (SELECT event_type, split, n,
                 row_tot * col_tot / grand AS expected
          FROM m)
    SELECT event_type, split, n::BIGINT AS n,
           round(expected, 6) AS expected,
           round((n - expected) * (n - expected) / expected, 6) AS chisq_term,
           round(sum((n - expected) * (n - expected) / expected) OVER (), 6) AS chisq_total
    FROM x
    """,
    survey_ref="dq: categorical drift (chi-square independence of split x category)",
)
def dq_chisq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between the train/eval assignment and
    the event_type distribution — the categorical companion to
    dq_psi_drift (a sound split shows chisq_total ≈ dof). Everything
    after the one (event_type, split) count aggregate runs over a
    categories×2 table, so the windows are cost-free at any scale."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(_bucket(F.col("event_id"), PSI_SALT) < EVAL_PCT, "eval")
        .otherwise("train")
        .alias("split"),
    )
    o = ev.groupBy("event_type", "split").agg(F.count(F.lit(1)).cast("double").alias("n"))
    m = o.select(
        "event_type",
        "split",
        "n",
        F.sum("n").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("n").over(Window.partitionBy("split")).alias("col_tot"),
        F.sum("n").over(Window.partitionBy()).alias("grand"),
    )
    x = m.withColumn("expected", F.col("row_tot") * F.col("col_tot") / F.col("grand"))
    term = (F.col("n") - F.col("expected")) ** 2 / F.col("expected")
    return x.select(
        "event_type",
        "split",
        F.col("n").cast("long").alias("n"),
        F.round("expected", 6).alias("expected"),
        F.round(term, 6).alias("chisq_term"),
        F.round(F.sum(term).over(Window.partitionBy()), 6).alias("chisq_total"),
    )


MIX_SALT = "mix-v1"
MIX_ALPHA = 0.5
MIX_COEFF = 16.0
# the documents table's 20 sources are deliberately uniform; regroup by a
# skewed key so the temperature actually has something to flatten
_MIX_TIER_SQL = (
    "CASE WHEN doc_id % 7 < 1 THEN 'rare' "
    "WHEN doc_id % 7 < 3 THEN 'mid' ELSE 'common' END"
)

_MIX_BASE = f"""
    WITH t AS (
      SELECT doc_id, {_MIX_TIER_SQL} AS tier FROM documents),
    r AS (
      SELECT tier, count(*)::BIGINT AS n_docs,
             round({MIX_COEFF} * pow(count(*), {MIX_ALPHA}) / count(*), 9) AS rate
      FROM t GROUP BY tier),
    j AS (
      SELECT t.doc_id, t.tier, r.n_docs, r.rate,
             floor(r.rate)::BIGINT
               + CASE WHEN (('0x' || substr(md5(t.doc_id::VARCHAR || '{MIX_SALT}'), 1, 8))::BIGINT
                            + 0.5) / 4294967296.0
                           < round(r.rate - floor(r.rate), 9)
                      THEN 1 ELSE 0 END AS n_copies
      FROM t JOIN r USING (tier))
"""


def _mix_tier() -> F.Column:
    m = F.col("doc_id") % 7
    return (
        F.when(m < 1, "rare").when(m < 3, "mid").otherwise("common").alias("tier")
    )


@query(
    "mixture_temperature_sample",
    _MIX_BASE
    + """
    SELECT doc_id, tier, round(rate, 6) AS rate,
           unnest(range(1, n_copies + 1)) AS epoch
    FROM j
    """,
    survey_ref="training: temperature mixture sampling (fractional epochs)",
)
def mixture_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized training mix: every (document, epoch-copy) row under a
    temperature-α source reweighting (operators/mixture.py). rate>1 tiers
    upsample (floor + hash-selected extra copy), rate<1 tiers downsample —
    all deterministic in the document id, shuffle-free past one tiny
    per-tier count + broadcast join."""
    from tipoca_stream_spark.operators import mixture

    docs = load_table(spark, sf_dir, "documents").select("doc_id", _mix_tier())
    samp = mixture.temperature_sample(
        docs, "tier", "doc_id", MIX_ALPHA, MIX_COEFF, MIX_SALT
    )
    return samp.select(
        "doc_id", "tier", F.round("rate", 6).alias("rate"), "epoch"
    )


@query(
    "mixture_epoch_totals",
    _MIX_BASE
    + """
    SELECT tier, n_docs, round(rate, 6) AS rate,
           count(*) FILTER (n_copies > 0)::BIGINT AS n_docs_in,
           sum(n_copies)::BIGINT AS n_emitted
    FROM j GROUP BY tier, n_docs, rate
    """,
    survey_ref="training: mixture audit (realized vs target epochs)",
)
def mixture_epoch_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture audit: per tier, the realized copy totals next to the
    target rate — the check that the deterministic rounding lands within
    one document of n_docs·rate."""
    from tipoca_stream_spark.operators import mixture

    docs = load_table(spark, sf_dir, "documents").select("doc_id", _mix_tier())
    rates = mixture.source_rates(docs, "tier", MIX_ALPHA, MIX_COEFF)
    samp = mixture.temperature_sample(
        docs, "tier", "doc_id", MIX_ALPHA, MIX_COEFF, MIX_SALT
    )
    per = samp.groupBy("tier").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs_in"),
        F.count("*").cast("long").alias("n_emitted"),
    )
    return rates.join(per, "tier").select(
        "tier",
        "n_docs",
        F.round("rate", 6).alias("rate"),
        "n_docs_in",
        "n_emitted",
    )


# --- DSIR: data selection via importance resampling ---------------------------

DSIR_SELECT_K = 100
_DSIR_B = 4096  # 3 hex chars of md5 → 4096 hashed-feature buckets

_DSIR_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS pos
      FROM (SELECT doc_id, lang,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws
            FROM documents)
    ),
    feats AS (
      SELECT a.doc_id, a.lang, substr(md5(a.w || ' ' || b.w), 1, 3) AS f
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    tgt AS (SELECT f, count(*)::DOUBLE AS c FROM feats WHERE lang = 'en' GROUP BY f),
    raw AS (SELECT f, count(*)::DOUBLE AS c FROM feats WHERE lang IS NOT NULL GROUP BY f),
    nt AS (SELECT coalesce(sum(c), 0) AS n FROM tgt),
    nr AS (SELECT coalesce(sum(c), 0) AS n FROM raw),
    lw AS (
      SELECT raw.f,
             ln((coalesce(tgt.c, 0) + 1) / (nt.n + {_DSIR_B}))
             - ln((raw.c + 1) / (nr.n + {_DSIR_B})) AS lw
      FROM raw LEFT JOIN tgt USING (f) CROSS JOIN nt CROSS JOIN nr
    ),
    scored AS (
      SELECT doc_id, count(*)::BIGINT AS n_feats, round(sum(lw), 6) AS dsir_logweight
      FROM feats JOIN lw USING (f)
      GROUP BY doc_id
    )
    SELECT doc_id, n_feats, dsir_logweight,
           row_number() OVER (ORDER BY dsir_logweight DESC, doc_id) AS sel_rank
    FROM scored
    ORDER BY dsir_logweight DESC, doc_id LIMIT {DSIR_SELECT_K}
    """


@query(
    "corpus_dsir_select",
    _DSIR_ORACLE,
    survey_ref="training: importance-resampling data selection (DSIR, hashed n-grams)",
)
def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023): weight
    every document by how much more likely its hashed-bigram features are
    under a target domain than under the raw pool, then keep the top-K.
    Target here is the ``lang = 'en'`` slice, pool is every labeled doc;
    features are 4096-bucket md5-hashed word bigrams (the paper's hashed
    n-gram estimator — bucket collisions are part of the estimator, not a
    shortcut). Add-1 smoothing on both distributions; features never seen
    in the pool are skipped (inner join).

    Scale shape: the two distributions are ONE explode→groupBy each over
    a 4096-row key space (map-side combinable, broadcast-sized forever);
    scoring joins the feature stream map-side and aggregates per doc; the
    top-K is orderBy+limit — Spark pins TakeOrderedAndProject, a
    distributed partial top-K, never a global sort. The final rank is a
    window over the K survivors only (bounded single task of K rows).
    Ranking keys use the ROUNDED weight so both engines order ties
    identically."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    # adjacent-pair bigrams without a self-join: zip the array with its
    # own shift (two slices), one explode — no shuffle to build features
    bigrams = F.zip_with(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    feats = docs.select(
        "doc_id", "lang", F.explode(bigrams).alias("bg")
    ).select(
        "doc_id",
        "lang",
        F.substring(F.md5(F.col("bg")), 1, 3).alias("f"),
    )
    # both distributions in ONE pass over the feature stream (conditional
    # sums per bucket) — the naive two-groupBy form re-executes the
    # corpus-sized bigram explode once per distribution
    dist = (
        feats.filter(F.col("lang").isNotNull())
        .groupBy("f")
        .agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("double")
            .alias("ct"),
            F.count(F.lit(1)).cast("double").alias("cr"),
        )
    )
    tots = dist.agg(
        F.coalesce(F.sum("ct"), F.lit(0.0)).alias("nt"),
        F.coalesce(F.sum("cr"), F.lit(0.0)).alias("nr"),
    )
    lw = dist.crossJoin(F.broadcast(tots)).select(
        "f",
        (
            F.log((F.col("ct") + 1) / (F.col("nt") + _DSIR_B))
            - F.log((F.col("cr") + 1) / (F.col("nr") + _DSIR_B))
        ).alias("lw"),
    )
    scored = (
        feats.join(F.broadcast(lw), "f")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.round(F.sum("lw"), 6).alias("dsir_logweight"),
        )
    )
    topk = scored.orderBy(
        F.col("dsir_logweight").desc(), "doc_id"
    ).limit(DSIR_SELECT_K)
    return topk.withColumn(
        "sel_rank",
        F.row_number().over(
            # rank-after-limit: DSIR_SELECT_K-bounded input, so the single
            # window task is safe by construction. (The single-partition
            # WindowExec WARN prints and is spurious for this k-row input.)
            Window.orderBy(F.col("dsir_logweight").desc(), "doc_id")
        ),
    )


# --- split-leakage detector (round 13) ---------------------------------------

_SPLIT_CASE = (
    f"CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || '{SPLIT_SALT}'), 1, 8))::BIGINT"
    f" % 100 < {EVAL_PCT} THEN 'eval' ELSE 'train' END"
)


@query(
    "dq_split_leakage",
    f"""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
                 string_split(lower(text), ' '))), ' ')) AS fingerprint,
             {_SPLIT_CASE} AS split
      FROM documents WHERE text IS NOT NULL)
    SELECT fingerprint,
           count(*)::bigint AS n_members,
           sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)::bigint AS n_train,
           sum(CASE WHEN split = 'eval' THEN 1 ELSE 0 END)::bigint AS n_eval
    FROM fp GROUP BY fingerprint
    HAVING count(DISTINCT split) > 1
    """,
    survey_ref="training: train/eval split leakage detector (near-dup across split)",
)
def dq_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-integrity gate: near-identical documents (same word-set
    fingerprint) that landed on BOTH sides of the deterministic
    train/eval split — each such group silently leaks training content
    into evaluation, the failure mode benchmark decontamination exists
    to catch INSIDE one's own corpus. Reports every leaking group with
    its side counts; an empty result is the passing state a real
    pipeline gates on.

    100 TB shape: the split is a pure projection (no shuffle) and the
    leak check is ONE fingerprint-keyed aggregate with two conditional
    sums — the same single-shuffle footprint as exact dedup; no join of
    the corpus against itself."""
    from tipoca_stream_spark.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    fp = fingerprint(docs, "text", "doc_id")
    split = F.when(_bucket(F.col("doc_id"), SPLIT_SALT) < EVAL_PCT, "eval").otherwise(
        "train"
    )
    tagged = fp.select("fingerprint", split.alias("split"))
    return (
        tagged.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum((F.col("split") == "train").cast("long"))
            .cast("long")
            .alias("n_train"),
            F.sum((F.col("split") == "eval").cast("long"))
            .cast("long")
            .alias("n_eval"),
        )
        .filter((F.col("n_train") > 0) & (F.col("n_eval") > 0))
    )
