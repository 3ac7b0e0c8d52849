"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

PRIMARY forcing is a materializing noop sink (round 10, VERDICT r9 next
#6): a bare count() lets Catalyst elide computed columns nothing
downstream consumes, so projection-only queries (mask_pipeline, the rank
windows, text_fingerprint) measured 2-5x less than their real work —
optimizing against the count-forced number optimizes the wrong thing.
The count-forced HEADLINE rows retired in round 11 as planned (r10 kept
them one round for continuity; compare noop-vs-noop across r10+).
Extras that exercise non-query surfaces (steady-state merges, streaming,
index refresh) still force with count()/action where a noop sink does
not apply.

Capture robustness (round 11, VERDICT r10 wrong #1): the driver's
tail-based harness truncated the r10 headline line. The record is now
ALSO written to BENCH_LOCAL.json before printing, and the printed line
is the final stdout content.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time


HEADLINE = [
    "cdc_merge_lww",
    "m2_dedupe_latest",
    "mask_pipeline",
    "agg_pricing_summary",
    "agg_cube_lineitem",
    "join_revenue_by_nation",
    "window_topk_orders_per_customer",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_cosine_topk",
    "similarity_lsh_buckets",
    "similarity_ivf_topk",
    "topk_unshipped_revenue",
    "window_rank_suite",
    "text_quality_scores",
    "text_fingerprint",
    "events_windowed_agg",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from tipoca_stream_spark.plans import QUERIES
    from tipoca_stream_spark.session import get_spark

    spark = get_spark("tipoca_stream_spark_bench")

    # warm the JVM (codegen/JIT) + parquet footers so timings measure query
    # work, not first-query compilation: run two representative queries
    # untimed before the clock starts
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    for warm in ("m2_dedupe_latest", "agg_pricing_summary"):
        QUERIES[warm].fn(spark, sf_dir).count()

    # min-of-N per query: the container shares a host, and single-shot
    # timings swing ±30% with neighbor load; the min is the standard
    # noise-robust latency estimate (Spark re-executes the full plan each
    # run — nothing is result-cached between reps). Round 3 showed +20%
    # phantom "regressions" on unchanged code from single-shot extras, so
    # EVERYTHING here is min-of-N now: headline min-of-3, extras min-of-2.
    def best_of(reps: int, run) -> float:
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            run()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    # noop-sink forcing — THE PRIMARY metric since round 10; the legacy
    # count-forced headline rows retired this round as planned (r9
    # count=10.668 / r10 count=7.95-9.93 remain in the archived records).
    # min-of-3 now that the count pass no longer shares the budget.
    noop_timings: dict[str, float] = {}
    for name in HEADLINE:
        qdef = QUERIES[name]
        noop_timings[name] = best_of(
            3,
            lambda: qdef.fn(spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
    noop_total = round(sum(noop_timings.values()), 3)

    # out-of-HEADLINE extras (HEADLINE stays stable for round-over-round
    # comparability):
    # - cdc_merge_lww steady-state: the headline number is first-run and
    #   codegen-dominated; re-run a FRESH query instance with the cache
    #   cleared first, so Spark's cache manager cannot resurrect run 1's
    #   persisted dedupe and fake the number — what remains is JIT warmth.
    # - dedup_components: too slow for HEADLINE (pair join dominates), but
    #   tracked so regressions are visible.
    extras: dict[str, float] = {}

    def merge_steady() -> None:
        spark.catalog.clearCache()
        QUERIES["cdc_merge_lww"].fn(spark, sf_dir).count()

    extras["cdc_merge_lww_steady"] = best_of(2, merge_steady)
    extras["dedup_components"] = best_of(
        2, lambda: QUERIES["dedup_components"].fn(spark, sf_dir).count()
    )
    # - tpch_total: the 16-query TPC-H family in one number (round 2+);
    #   one representative star join reported individually.
    tpch_rest = sorted(
        q for q in QUERIES if q.startswith("tpch_") and q != "tpch_q9_product_profit"
    )

    def tpch_family() -> None:
        for name in tpch_rest:
            QUERIES[name].fn(spark, sf_dir).count()

    t_family = best_of(2, tpch_family)
    extras["tpch_q9_product_profit"] = best_of(
        2, lambda: QUERIES["tpch_q9_product_profit"].fn(spark, sf_dir).count()
    )
    extras["tpch_total"] = round(t_family + extras["tpch_q9_product_profit"], 3)
    # - graph_pagerank: the iterative-operator family's representative
    #   (3 rounds of keyed join + group-sum with lineage truncation)
    extras["graph_pagerank"] = best_of(
        2, lambda: QUERIES["graph_pagerank_supplier_part"].fn(spark, sf_dir).count()
    )
    # - cdc_merge_bucketed_steady: steady-state merge against a CATALOG-
    #   bucketed target (BucketedTargetTable) — read only the batch's
    #   bucket files, broadcast merge, bucket-delta commit hard-linking
    #   untouched buckets. This is the O(batch) per-epoch shape that holds
    #   at 100 TB; the bootstrap write is untimed setup.
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from tipoca_stream_spark.operators.merge import merge_into_target
    from tipoca_stream_spark.plans.relational import _events_as_cdc
    from tipoca_stream_spark.sources.target import BucketedTargetTable

    bt_root = tempfile.mkdtemp(prefix="bench_bt_")
    try:
        bt = BucketedTargetTable(spark, bt_root, "bench_cdc", buckets=32, keys=["user_id"])
        full = _events_as_cdc(spark, sf_dir)
        empty = spark.createDataFrame(
            [], "user_id long, event_type string, value double"
        )
        bt.write(merge_into_target(empty, full, ["user_id"]))  # bootstrap, untimed
        batch = full.filter(F.col("user_id") % 997 == 0)  # ~0.1% of keys

        def bucketed_steady() -> None:
            registry: list = []
            touched = sorted(
                r["b"] for r in batch.select(bt.bucket_of().alias("b")).distinct().collect()
            )
            current = bt.read_buckets(touched)
            merged = merge_into_target(
                current, batch, ["user_id"], persist_registry=registry
            )
            bt.write_bucket_delta(merged, touched)
            for df in registry:
                df.unpersist()

        extras["cdc_merge_bucketed_steady"] = best_of(2, bucketed_steady)
    finally:
        shutil.rmtree(bt_root, ignore_errors=True)

    # - index-sidecar refresh (round 6): a bucket-delta commit on a
    #   text+bloom-indexed target re-tokenizes and re-hashes ONLY the
    #   touched buckets and hard-links every other bucket's posting files;
    #   the full rebuild is timed beside it so O(batch)-vs-O(table) is a
    #   measured ratio, not a claim. The update touches 3 keys -> <=3 of
    #   32 buckets.
    from tipoca_stream_spark.sources.tables import load_table as _lt

    idx_root = tempfile.mkdtemp(prefix="bench_idx_")
    try:
        docs = _lt(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
        it = BucketedTargetTable(
            spark, idx_root, "bench_docs_idx", buckets=32, keys=["doc_id"],
            bloom_col="n_chars", text_col="text", text_id_col="doc_id",
        )
        it.write(docs)  # bootstrap, untimed
        final = docs.withColumn(
            "text",
            F.when(
                F.col("doc_id").isin([0, 1, 2]), F.concat("text", F.lit(" reindexed"))
            ).otherwise(F.col("text")),
        )
        touched = sorted(
            r["b"]
            for r in docs.filter(F.col("doc_id").isin([0, 1, 2]))
            .select(it.bucket_of().alias("b"))
            .distinct()
            .collect()
        )
        changed = final.filter(it.bucket_of().isin(touched))

        extras["index_delta_refresh"] = best_of(
            2, lambda: it.write_bucket_delta(changed, touched)
        )
        extras["index_full_rebuild"] = best_of(2, lambda: it.write(final))
    finally:
        shutil.rmtree(idx_root, ignore_errors=True)

    # - skew stress (round 5): one key owning ~10% of all rows through the
    #   three shapes a hot key can break — the latest-wins merge (map-side
    #   max_by combine), MinHash-LSH banding (hot-bucket cap), and the
    #   co-occurrence group expansion (hot-group cap). These time the
    #   CAPPED plans: presence proves the guards hold at this SF without a
    #   straggler task; the caps' drop metrics are asserted in
    #   tests/test_skew_stress.py.
    from tipoca_stream_spark.operators.corpus_dedup import (
        lsh_band_keys,
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )
    from tipoca_stream_spark.plans.analytics import cooccurrence_pairs
    from tipoca_stream_spark.sources.tables import load_table

    skewed_cdc = _events_as_cdc(spark, sf_dir).withColumn(
        "user_id",
        F.when(F.col("user_id") % 10 == 0, F.lit(42)).otherwise(F.col("user_id")),
    )
    empty_t = spark.createDataFrame([], "user_id long, event_type string, value double")
    extras["skew_cdc_merge_hot_key"] = best_of(
        2, lambda: merge_into_target(empty_t, skewed_cdc, ["user_id"]).count()
    )
    boiler = "the quick brown fox jumps over the lazy dog again and again forever"
    skew_docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 0, F.lit(boiler)).otherwise(F.col("text")),
    )

    def skew_minhash() -> None:
        bands = lsh_band_keys(
            minhash_signatures(word_shingles(skew_docs, "text", "doc_id"), "doc_id"),
            "doc_id",
        )
        lsh_candidate_pairs(bands, "doc_id", max_bucket_size=64).count()

    extras["skew_minhash_hot_bucket"] = best_of(2, skew_minhash)
    skew_li = load_table(spark, sf_dir, "lineitem").withColumn(
        "l_orderkey",
        F.when(F.col("l_orderkey") % 10 == 0, F.lit(1)).otherwise(F.col("l_orderkey")),
    )
    extras["skew_cooccurrence_hot_group"] = best_of(
        2,
        lambda: cooccurrence_pairs(
            skew_li, key_col="l_orderkey", item_col="l_partkey",
            min_count=2, max_group_size=256,
        ).count(),
    )
    # - graph_triangles (round 5): the degree-ordered wedge enumeration —
    #   two self-joins over the co-purchase edge table; tracked so a
    #   regression to a hub-quadratic plan shows up as a time cliff.
    extras["graph_triangles"] = best_of(
        2, lambda: QUERIES["graph_triangle_counts"].fn(spark, sf_dir).count()
    )
    # - heavy hitters (round 5): candidate-pruned exact frequent items — a
    #   regression back to the full-cardinality groupBy shuffle shows here.
    extras["agg_heavy_hitters"] = best_of(
        2, lambda: QUERIES["agg_heavy_hitters"].fn(spark, sf_dir).count()
    )
    # - BFS: level-synchronous frontier expansion (4 hops, per-round
    #   lineage truncation) — the reachability member of the iterative set.
    extras["graph_bfs"] = best_of(
        2, lambda: QUERIES["graph_bfs_distances"].fn(spark, sf_dir).count()
    )
    # - semantic dedup (round 7): cosine-seed quantize -> cluster-confined
    #   pair join -> threshold gate. Tracked because the pair join is the
    #   n²/k term — a quantizer regression (everything in one cell) shows
    #   up as a time cliff here long before it breaks an answer.
    extras["dedup_semantic"] = best_of(
        2, lambda: QUERIES["dedup_semantic"].fn(spark, sf_dir).count()
    )
    # - two-level quantizer (round 9): routes to ceil(sqrt(k)) supers then
    #   argmaxes within the routed group — tracked at k = n/2 (2500 seeds
    #   at this SF, 50 supers), a k 32x larger than dedup_semantic's
    #   (n/64), where flat assignment would be ~10x the cost (probe:
    #   SCALE_PROBE_r09_assignment.json). A regression to a flat-shaped
    #   plan shows as a time cliff here.
    extras["dedup_semantic_two_level"] = best_of(
        2, lambda: QUERIES["dedup_semantic_two_level"].fn(spark, sf_dir).count()
    )
    # - wide-frame rolling median (round 7): the skiplist order-statistic
    #   path (applyInPandas); a silent fallback to the per-row-sort
    #   expression plan would regress ~7x at this width.
    extras["rolling_median_wide"] = best_of(
        2, lambda: QUERIES["window_rolling_median_wide"].fn(spark, sf_dir).count()
    )
    # - tokenizer + packing family (round 8): BPE train/segment/chunk and
    #   the full curation pipeline. Tracked because the trainer's only
    #   corpus-sized stage is the word-frequency aggregate — a regression
    #   to per-merge corpus passes would show as a cliff here — and the
    #   packer's prefix sum must never route the corpus through one task.
    extras["bpe_pack_sequences"] = best_of(
        2, lambda: QUERIES["bpe_pack_sequences"].fn(spark, sf_dir).count()
    )
    extras["training_pipeline_pack"] = best_of(
        2, lambda: QUERIES["training_pipeline_pack"].fn(spark, sf_dir).count()
    )
    # - curation additions (round 8, second wave): whole-doc bin packing
    #   (hierarchical per-class ranks — a regression to a per-class global
    #   window serializes the hot class) and DSIR importance selection
    #   (feature explode + broadcast score join + TakeOrderedAndProject —
    #   the costliest of the new audits at 10x in the curation probe).
    extras["pack_bins_harmonic"] = best_of(
        2, lambda: QUERIES["pack_bins_harmonic"].fn(spark, sf_dir).count()
    )
    extras["corpus_dsir_select"] = best_of(
        2, lambda: QUERIES["corpus_dsir_select"].fn(spark, sf_dir).count()
    )
    # - curation funnel: composes gopher + exact-dedup + NB + perplexity
    #   gates in one plan — a regression in ANY gate's plan shape (or a
    #   semi-join degrading to a shuffle of the corpus) surfaces here.
    extras["training_curation_funnel"] = best_of(
        2, lambda: QUERIES["training_curation_funnel"].fn(spark, sf_dir).count()
    )
    # - streaming plane steady state (round 9, VERDICT r8 next #4): the
    #   actual readStream → foreachBatch → bucketed-merge deployment shape
    #   (streaming/pipeline.CdcPipeline) had soak tests but no bench row.
    #   One untimed bootstrap micro-batch, then N file-fed micro-batches
    #   through a fresh availableNow run with maxFilesPerTrigger=1:
    #   streaming_microbatch_latency = wall seconds per steady micro-batch
    #   (transform + LWW dedupe + bucket-delta merge + CAS commit),
    #   streaming_throughput_mb_per_s = raw envelope MiB/s over the same
    #   run. BASELINE.md envelope: the reference sizes batches >=0.8 MiB
    #   and flushes within 450 s (~0.0018 MiB/s floor); the merge latency
    #   histogram brackets a batch at 10-900 s.
    from tipoca_stream_spark.streaming.pipeline import (
        CdcPipeline,
        CdcPipelineConfig,
    )

    # Two rows: the round-9 tiny-batch shape (1 file ≈ 0.3 MiB, fixed
    # micro-batch overhead dominates — kept for continuity) and the
    # round-10 REFERENCE-ENVELOPE shape (VERDICT r9 next #4): batches at
    # or above the reference batcher's 0.8 MiB floor
    # (controllers/batcher_deployment.go:51), where throughput reflects
    # steady-state merge work instead of trigger overhead.
    def stream_row(prefix: str, n_rows: int, n_steady: int) -> None:
        from pyspark.sql import types as T

        stream_root = tempfile.mkdtemp(prefix=f"bench_{prefix}_")
        try:
            row_schema = T.StructType(
                [
                    T.StructField("user_id", T.LongType()),
                    T.StructField("event_type", T.StringType()),
                    T.StructField("value", T.DoubleType()),
                ]
            )
            raw_schema = (
                "topic string, partition int, offset long, value string"
            )
            in_dir = os.path.join(stream_root, "in")
            ev = (
                load_table(spark, sf_dir, "events")
                .select("user_id", "event_type", "value")
                .limit(n_rows)
            )
            env = ev.select(
                F.lit(f"db.server.bench_{prefix}").alias("topic"),
                F.lit(0).alias("partition"),
                F.monotonically_increasing_id().alias("offset"),
                F.to_json(
                    F.struct(
                        F.lit(None).cast(row_schema).alias("before"),
                        F.struct("user_id", "event_type", "value").alias("after"),
                        F.lit("c").alias("op"),
                        F.monotonically_increasing_id().alias("ts_ms"),
                    )
                ).alias("value"),
            )
            env.repartition(n_steady + 1).write.mode("overwrite").json(in_dir)
            cfg = CdcPipelineConfig(
                table=f"bench_{prefix}",
                primary_keys=["user_id"],
                row_schema=row_schema,
                target_root=os.path.join(stream_root, "targets"),
                checkpoint_dir=os.path.join(stream_root, "ckpt"),
                catalog_buckets=32,
            )
            p = CdcPipeline(spark, cfg)

            def run_stream():
                raw = (
                    spark.readStream.schema(raw_schema)
                    .option("maxFilesPerTrigger", 1)
                    .json(in_dir)
                )
                q = p.start(raw, trigger_available_now=True)
                q.awaitTermination()

            # bootstrap: drain ONE file untimed (first-batch full write)
            first = sorted(glob.glob(os.path.join(in_dir, "part-*.json")))
            held_dir = os.path.join(stream_root, "held")
            os.makedirs(held_dir, exist_ok=True)
            for f in first[1:]:
                os.rename(f, os.path.join(held_dir, os.path.basename(f)))
            run_stream()
            # steady state: release the remaining files, time the drain
            steady_bytes, steady_rows = 0, 0
            for f in os.listdir(held_dir):
                src = os.path.join(held_dir, f)
                steady_bytes += os.path.getsize(src)
                with open(src) as fh:
                    steady_rows += sum(1 for _ in fh)
                os.rename(src, os.path.join(in_dir, f))
            t0 = time.perf_counter()
            run_stream()
            dt = time.perf_counter() - t0
            extras[f"{prefix}_microbatch_latency"] = round(dt / n_steady, 3)
            extras[f"{prefix}_throughput_mb_per_s"] = round(
                steady_bytes / 1048576 / dt, 3
            )
            extras[f"{prefix}_batch_mib"] = round(
                steady_bytes / 1048576 / n_steady, 3
            )
            extras[f"{prefix}_events_per_s"] = round(steady_rows / dt, 1)
        finally:
            shutil.rmtree(stream_root, ignore_errors=True)

    stream_row("streaming", 20000, 8)  # legacy keys keep their r9 names
    stream_row("streaming_envelope", 45000, 4)  # ≥0.8 MiB per micro-batch

    # the multimodal fingerprint/near-dup family (r10b queries 216-222):
    # codec round-trips + banding through the registered query surface
    for q in ("multimodal_phash", "multimodal_audio_near_dup",
              "multimodal_dedup_funnel", "multimodal_phash_group_rep",
              # round-12 additions: decontamination broadcast screen and
              # the hybrid-retrieval fusion
              "corpus_contamination_screen", "retrieval_hybrid_rrf"):
        try:
            extras[q] = best_of(
                2,
                lambda q=q: QUERIES[q].fn(spark, sf_dir)
                .write.format("noop").mode("overwrite").save(),
            )
        except Exception as e:
            extras[f"{q}_error"] = f"{type(e).__name__}: {e}"[:300]

    record = {
        "metric": "headline_queries_total_noop",
        "value": noop_total,
        "unit": "sec",
        "forcing": "noop",
        "queries": noop_timings,
        "note": (
            "count-forced headline rows retired in r11 (noop primary "
            "since r10: r10 noop=9.72-9.81); full record also written "
            "to BENCH_LOCAL.json for the tail-capture harness"
        ),
        "extras": extras,
        "sf": sf,
        # host-load evidence IN the artifact (VERDICT r12 wrong #2): the
        # r11→r12 driver-vs-local bench disagreement was adjudicated as
        # load-window noise only via separate ABBA runs; with the 1/5/15 min
        # loadavg stamped on every record, the artifact self-adjudicates
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    # capture-robust: persist the FULL record BEFORE printing so a
    # truncated stdout tail (BENCH_r10.json parsed:null) can never lose
    # the round
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"),
        "w",
    ) as fh:
        json.dump(record, fh)
    # the PRINTED line is a compact subset — headline total + per-query
    # headline timings only. r11 printed the full record (extras: 37 keys)
    # and the driver's tail capture clipped the HEAD of the line, so
    # BENCH_r11.json parsed:null despite the BENCH_LOCAL fallback
    # (VERDICT r11 wrong #2). ~700 bytes fits any tail window.
    compact = {
        "metric": record["metric"],
        "value": record["value"],
        "unit": record["unit"],
        "forcing": record["forcing"],
        "queries": record["queries"],
        "sf": record["sf"],
        "loadavg": record["loadavg"],
        "full_record": "BENCH_LOCAL.json",
    }
    print(json.dumps(compact))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
