"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine as the exact baseline, and random-hyperplane LSH as the
scale path (bucketed candidate generation → exact re-rank within buckets).
Everything is built-in higher-order functions (``zip_with`` + ``aggregate``)
— JVM-side, no Python in the loop. The fold over the array is sequential
and deterministic, so scores are bit-identical across engines (the DuckDB
oracle reproduces them exactly).

At 100 TB / billions of vectors: the brute-force path is one broadcast of
the query vector and a full scan (embarrassingly parallel, no shuffle); the
LSH path shuffles only (vec_id, bucket) pairs, then re-ranks within buckets.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tipoca_stream_spark.operators.exprcache import memo_expr


def _planes_key(planes: list[list[float]]) -> tuple:
    return tuple(tuple(p) for p in planes)


def _dot(a: Column, b: Column) -> Column:
    """Deterministic left-fold dot product of two array<float/double> cols."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine(a, b)`` with the norms supplied as columns (round 15, guide
    §1.2 per-task work): the HOF kernels are CodegenFallback — interpreted,
    re-evaluated at every call site — so a vector that participates in many
    pairs (pair joins) or against many seeds (crossJoin assigns) was paying
    its own norm fold once PER PAIR. Hoisting ``_norm`` to a projection
    before the join evaluates it once per vector; the final expression is
    the same ``dot / (na * nb)`` over the same doubles in the same order —
    bit-identical scores."""
    return _dot(a, b) / (na * nb)


def cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against the embedding of ``query_id``.
    The 1-row query side is broadcast; ranking is a global top-k
    (TakeOrderedAndProject — per-partition heaps, no full sort)."""
    q = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_q"), _norm(F.col(vec_col)).alias("_qn")
    )
    scored = (
        embeddings.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(
                cosine_prenormed(
                    F.col(vec_col), F.col("_q"), _norm(F.col(vec_col)), F.col("_qn")
                ),
                6,
            ).alias("sim"),
        )
    )
    return scored.orderBy(F.col("sim").desc(), F.col(id_col)).limit(k)


def lsh_band_assignments(
    embeddings: DataFrame,
    planes: list[list[float]],
    band_size: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded random-hyperplane signatures: group the planes into bands of
    ``band_size`` sign bits and emit one ``(id, band_no, band_val)`` row per
    band. Pairs agreeing on ANY band are near-dup candidates — the classic
    AND-within-band / OR-across-bands LSH amplification."""
    def build() -> Column:
        n_bands = len(planes) // band_size
        vec = F.col(vec_col)
        band_vals = []
        for b in range(n_bands):
            acc = F.lit(0)
            for j in range(band_size):
                lit_plane = F.array(*[F.lit(x) for x in planes[b * band_size + j]])
                acc = acc + F.when(_dot(vec, lit_plane) > 0, F.lit(1 << j)).otherwise(F.lit(0))
            band_vals.append(acc.cast("int"))
        return F.array(*band_vals)

    bands_arr = memo_expr(
        ("lsh_band_vals", vec_col, band_size, _planes_key(planes)), build
    )
    return embeddings.select(
        F.col(id_col), F.posexplode(bands_arr).alias("band_no", "band_val")
    )


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float,
    planes: list[list[float]],
    band_size: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs above a cosine threshold via banded-LSH candidate
    generation + exact cosine verify — no cross join anywhere in the plan.

    Shape at scale: the band pass shuffles (id, band_no, band_val) rows —
    ``n_bands`` small rows per vector, never the vectors themselves; the
    distinct candidate set then equi-joins back to the embedding table twice
    to fetch vectors for the exact verify. Every join is keyed; the candidate
    count is governed by the band collision probability (1-θ/π)^band_size.

    Recall is probabilistic in general (hyperplane LSH has no pigeonhole
    guarantee, unlike the simhash banding in corpus_dedup): with 24 seed-42
    planes in 12 bands of 2, measured recall vs the exact all-pairs result on
    the sf0.01 embeddings table is 100% (59/59 pairs at threshold 0.4). At
    genuinely near-dup thresholds (≥0.9, θ≤26°) the per-band collision rate
    for random pairs drops and the candidate fraction collapses, which is the
    regime this operator targets at 100 TB."""
    bands = lsh_band_assignments(embeddings, planes, band_size, id_col, vec_col)
    cands = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            [F.col("a.band_no") == F.col("b.band_no"), F.col("a.band_val") == F.col("b.band_val")],
        )
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    # norms hoisted to one projection per vector (cosine_prenormed): each
    # candidate id appears in many pairs, and the interpreted norm fold was
    # re-run per pair
    ea = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    eb = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        _norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        cands.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_prenormed(F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")), 6
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def random_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (stdlib RNG so the exact literals
    can be embedded in both the Spark plan and the SQL oracle)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit p = 1 iff dot(vec, plane_p) > 0.

    Pass ``vec`` as a column NAME to memoize the finished expression
    (round 14): the fragment embeds len(planes)·dim literals and costs
    ~0.6 s of py4j round trips to rebuild per query — see exprcache."""
    if isinstance(vec, str):
        return memo_expr(
            ("lsh_bucket", vec, _planes_key(planes)),
            lambda: lsh_bucket(F.col(vec), planes),
        )
    acc = F.lit(0)
    for p, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        acc = acc + F.when(_dot(vec, lit_plane) > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return acc.cast("int")


def lsh_buckets(
    embeddings: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    return embeddings.select(F.col(id_col), lsh_bucket(vec_col, planes).alias("bucket"))


def cosine_batch_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k per query for a small batch of query vectors.

    The query set broadcasts (bounded by the caller — dozens to thousands
    of rows, never corpus-scale), so the corpus is scanned ONCE for all
    queries with no shuffle of the embedding table; ranking is a
    per-query-key window over |queries|·|corpus| scored rows that AQE
    partitions by qid. For corpus-×-corpus ranking use the LSH/IVF paths
    instead — this operator is the many-query analogue of cosine_topk.
    """
    from pyspark.sql import Window

    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("_q"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    scored = (
        embeddings.withColumn("_vn", _norm(F.col(vec_col)))
        .crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("qid"))
        .select(
            "qid",
            F.col(id_col),
            F.round(
                cosine_prenormed(F.col(vec_col), F.col("_q"), F.col("_vn"), F.col("_qn")),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: scale = 127/max|x|,
    q_i = round(x_i·scale). A narrow no-shuffle projection (pure Catalyst
    array expressions — embarrassingly parallel at any scale); the scale
    is emitted alongside so a consumer can dequantize. Zero vectors get
    scale 0 and an all-zero code."""
    absmax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    scale = F.when(absmax > 0, F.lit(127.0) / absmax).otherwise(F.lit(0.0))
    return embeddings.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("int")
        ).alias("qvec"),
    )
