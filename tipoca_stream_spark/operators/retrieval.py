"""Hybrid retrieval: fuse a lexical (BM25) ranking and a dense
(embedding-cosine) ranking with Reciprocal Rank Fusion — the standard
two-tower retrieval shape a training-data pipeline uses for
decontamination lookups, retrieval-mix curation, and eval-set mining
(RRF: Cormack, Clarke & Buettcher, SIGIR 2009 — public literature;
score(d) = Σ_lists 1/(k + rank_list(d))).

Reference contrast: tipoca-stream has no retrieval operators; this
composes the repo's existing BM25 (operators/text.py) and exact-cosine
(operators/similarity.py) primitives.

100 TB shape: each leg produces its own top-k FIRST (BM25 ends in
TakeOrderedAndProject; the cosine leg is the broadcast-query scored
scan), so the fusion itself — rank windows, full-outer join, RRF sum —
runs on ≤ 2k rows regardless of corpus size. The global rank windows
are single-partition BY DESIGN: their input is already k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tipoca_stream_spark.operators.similarity import cosine_batch_topk
from tipoca_stream_spark.operators.text import bm25_topk


def hybrid_rrf_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    k_each: int = 20,
    k_out: int = 10,
    rrf_k: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, lex_rank, sem_rank, rrf): top ``k_out`` documents by
    reciprocal-rank fusion of the BM25 top-``k_each`` (for
    ``query_terms``) and the cosine top-``k_each`` (for the query
    vector ``query_vec_id``). A document missing from one leg carries
    rank 0 in that leg's column and contributes only its present leg's
    1/(rrf_k + rank) to the fused score."""
    # both rank windows run over top-k_each-bounded legs (each leg ends
    # in a limit), so the single window task is k-row-bounded by
    # construction. (Spark's single-partition WindowExec WARN prints —
    # spurious for these k-row inputs.)
    lex = bm25_topk(docs, "text", id_col, query_terms, k=k_each)
    wl = Window.orderBy(F.desc("bm25"), id_col)
    lex = lex.select(
        F.col(id_col), F.row_number().over(wl).alias("lex_rank")
    )
    sem = cosine_batch_topk(embeddings, [query_vec_id], k_each, id_col="vec_id")
    ws = Window.orderBy(F.desc("sim"), "vec_id")
    sem = sem.select(
        F.col("vec_id").alias(id_col),
        F.row_number().over(ws).alias("sem_rank"),
    )
    rrf = F.round(
        F.coalesce(1.0 / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("sem_rank")), F.lit(0.0)),
        6,
    )
    return (
        lex.join(sem, id_col, "full_outer")
        .select(
            id_col,
            F.coalesce("lex_rank", F.lit(0)).cast("int").alias("lex_rank"),
            F.coalesce("sem_rank", F.lit(0)).cast("int").alias("sem_rank"),
            rrf.alias("rrf"),
        )
        .orderBy(F.desc("rrf"), id_col)
        .limit(k_out)
    )
