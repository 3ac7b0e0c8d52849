"""CDC benchmark: one run of one workload, printing one JSON result line.

    python3 perfbench/run.py --workload steady_upsert --seed 1 --seconds 15 --trace 0

Run from the repository root. The streaming path under test is
``streaming.pipeline`` -> ``sources.debezium``/``sources.avro_wire`` ->
``functions.masking`` -> ``operators.merge`` -> ``sources.target``.

- ``steady_upsert`` (open loop): a generator process releases one
  Debezium-JSON file per tick into the source directory of a continuous
  query over a preloaded, catalog-bucketed target, while one reader thread
  issues point and range reads on a fixed schedule.
- ``backfill_avro`` (closed loop): a pre-staged Confluent-Avro backlog
  with two writer schemas drains, masked, into an empty reload target.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the calls
into each layer with spans and prints the per-layer metrics instead. The
last line of standard output is the JSON result; the exit code is 0 only
when a result was printed.
"""

from __future__ import annotations

import argparse
import datetime
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import spans as spans_mod  # noqa: E402
import workloads as W  # noqa: E402

STEADY_BUCKETS = 4
# after the bootstrap commit: on a 4-core host trigger time falls from
# about 4 s to about 2 s over the first ten triggers, and by a few percent
# more after them
STEADY_WARMUP_TRIGGERS = 10
READ_INTERVAL_S = 0.6
READ_PATTERN = ("point", "point", "range")
RANGE_KEYS = 20  # reserved rows per range read
BACKFILL_BUCKETS = 32
BACKFILL_PROBE_READS = 18
BACKFILL_PROBE_INTERVAL_S = 0.25
STAGE_TIMEOUT_S = 150.0
DECODE_REPS = 3
# spans that name a layer; trace.accounted_share counts only these
LAYER_SPANS = ("pipeline.transform", "pipeline.materialize", "pipeline.epoch_guard",
               "merge.build", "target.write", "target.read_buckets")


class BenchError(RuntimeError):
    pass


# --- helpers ----------------------------------------------------------------


def pct(values, q: float) -> float:
    """Nearest-rank percentile ``q`` in [0, 100]."""
    vs = sorted(values)
    if not vs:
        raise BenchError("percentile of no samples")
    return vs[max(0, math.ceil(q / 100.0 * len(vs)) - 1)]


def median(values) -> float:
    vs = list(values)
    return statistics.median(vs) if vs else 0.0


_T0 = time.monotonic()


def phase(what: str) -> None:
    print(f"perfbench: {time.monotonic() - _T0:7.2f} s {what}", file=sys.stderr, flush=True)


def touch(path: str) -> None:
    with open(path + ".tmp", "w") as f:
        f.write(str(time.monotonic()))
    os.replace(path + ".tmp", path)


def wait_until(cond, timeout: float, what: str, poll: float = 0.05) -> None:
    deadline = time.monotonic() + timeout
    while not cond():
        if time.monotonic() > deadline:
            raise BenchError(f"timed out waiting for {what}")
        time.sleep(poll)


def pin_host(root: str, work: str) -> None:
    """Host settings the run depends on, set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    driver_gib = max(1, min(4, mem_kib // (1024 * 1024) // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_gib}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # python workers (the Avro decode's mapInPandas) import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None


def start_spark(work: str):
    from tipoca_stream_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    # the heap starts at its full size, so heap growth is not part of the
    # warm-up triggers
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -Xms{heap}",
        },
    )


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


class FlipLog:
    """Wall time of every ``_CURRENT`` flip, keyed by the streaming epoch
    that committed it. Always on: freshness and throughput are measured to
    the flip."""

    def __init__(self):
        self.flips: list[dict] = []
        self._local = threading.local()
        self._patched = []

    def install(self) -> None:
        from tipoca_stream_spark.sources.target import ParquetTargetTable
        from tipoca_stream_spark.streaming.pipeline import CdcPipeline

        log = self
        orig_flip = ParquetTargetTable._flip
        orig_merge = CdcPipeline.merge_batch

        def _flip(tbl, v, *a, **kw):
            out = orig_flip(tbl, v, *a, **kw)
            log.flips.append(
                {"t": time.monotonic(), "table": tbl.path, "version": out,
                 "epoch": getattr(log._local, "epoch", None)}
            )
            return out

        def merge_batch(pipe, batch_df, epoch_id):
            log._local.epoch = epoch_id
            try:
                return orig_merge(pipe, batch_df, epoch_id)
            finally:
                log._local.epoch = None

        self._patched = [(ParquetTargetTable, "_flip", orig_flip), (CdcPipeline, "merge_batch", orig_merge)]
        ParquetTargetTable._flip = _flip
        CdcPipeline.merge_batch = merge_batch

    def restore(self) -> None:
        for owner, attr, orig in self._patched:
            setattr(owner, attr, orig)

    def by_epoch(self, table_path: str) -> dict[int, dict]:
        return {f["epoch"]: f for f in self.flips if f["table"] == table_path and f["epoch"] is not None}


def install_tracer(tracer: spans_mod.Tracer) -> None:
    """Spans around the calls into each layer (benchmark-side wrappers)."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    import tipoca_stream_spark.streaming.pipeline as pl
    from tipoca_stream_spark.sources.target import BucketedTargetTable, ParquetTargetTable

    orig_fb = DataStreamWriter.foreachBatch

    def foreach_batch(writer, func):
        def traced(bdf, eid):
            return tracer.call("pipeline.batch", func, (bdf, eid), {}, lambda b, e: {"epoch": e})

        return orig_fb(writer, traced)

    tracer._patched.append((DataStreamWriter, "foreachBatch", orig_fb))
    DataStreamWriter.foreachBatch = foreach_batch
    tracer.wrap(pl.CdcPipeline, "merge_batch", "pipeline.merge_batch")
    tracer.wrap(pl.CdcPipeline, "transform", "pipeline.transform")
    tracer.wrap(pl.CdcPipeline, "_counts_and_buckets", "pipeline.materialize")
    tracer.wrap(ParquetTargetTable, "read_metadata", "pipeline.epoch_guard")
    tracer.wrap(pl, "merge_with_offsets", "merge.build")
    tracer.wrap(BucketedTargetTable, "read_buckets", "target.read_buckets")
    tracer.wrap(
        BucketedTargetTable, "write_bucket_delta", "target.write",
        lambda tbl, df, buckets, *a, **kw: {"buckets": len(buckets)},
    )
    tracer.wrap(
        BucketedTargetTable, "write", "target.write",
        lambda tbl, *a, **kw: {"buckets": tbl.buckets},
    )


def data_progress(q) -> list:
    return [p for p in q.recentProgress if "addBatch" in (p.durationMs or {})]


def source_batches(ckpt: str) -> dict[str, int]:
    """File name -> streaming batch id, from the file source's metadata log."""
    d = os.path.join(ckpt, "spark", "sources", "0")
    out: dict[str, int] = {}
    for fn in os.listdir(d):
        if fn.startswith("."):
            continue
        with open(os.path.join(d, fn)) as f:
            for line in f:
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def version_files(vdir: str) -> dict[str, int]:
    """Data file -> inode for one target version."""
    out = {}
    for base, dirs, files in os.walk(vdir):
        dirs[:] = [d for d in dirs if "=" in d or not d.startswith(("_", "."))]
        for fn in files:
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                p = os.path.join(base, fn)
                out[p] = os.stat(p).st_ino
    return out


# --- reads ------------------------------------------------------------------


def read_plan(rng: random.Random, n: int, interval: float, point_arg, range_arg) -> list:
    """``n`` reads in READ_PATTERN order, one per ``interval`` slot at a
    seeded uniform offset inside its slot, so the schedule does not lock
    onto the period of the triggers. Entries are (offset_s, kind, arg)."""
    plan = []
    for i in range(n):
        kind = READ_PATTERN[i % len(READ_PATTERN)]
        arg = point_arg(rng) if kind == "point" else range_arg(rng)
        plan.append(((i + rng.random()) * interval, kind, arg))
    return plan


class Reader(threading.Thread):
    """One reader on a fixed schedule; each read is timed from its due time."""

    def __init__(self, target, plan, expected_fn):
        super().__init__(name="perfbench-reader", daemon=True)
        self.target = target
        self.plan = plan
        self.expected_fn = expected_fn
        self.results: list[dict] = []
        self.stop_at: float | None = None
        self.t0 = 0.0

    def halt(self) -> None:
        if self.stop_at is None:
            self.stop_at = time.monotonic()
        self.join(timeout=STAGE_TIMEOUT_S)

    def run(self) -> None:
        self.t0 = time.monotonic()
        for offset, kind, arg in self.plan:
            due = self.t0 + offset
            if self.stop_at is not None and due > self.stop_at:
                break
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            if self.stop_at is not None and due > self.stop_at:
                break
            self.results.append(self.one(kind, arg, due))

    def one(self, kind: str, arg, due: float) -> dict:
        t_start = time.monotonic()
        rec = {"kind": kind, "arg": arg, "due": due, "start": t_start, "ok": False}
        try:
            if kind == "point":
                rr = self.target.route_read(eq=("id", arg))
                df, route = rr.df, rr.route
            else:
                # the version is pinned here: route_read(between=...) looks
                # _CURRENT up twice and fails when a commit lands in between
                col, lo, hi = arg
                v = self.target.current_version()
                df, route = self.target.read_range(lo, hi, col, version=v), "range"
            t_routed = time.monotonic()
            rows = [r.asDict() for r in df.collect()]
            t_end = time.monotonic()
            rows.sort(key=lambda r: r["id"])
            if kind == "point":
                n_files, total = rr.n_files, rr.total_files
            else:
                n_files = len(df.inputFiles())
                total = len(version_files(os.path.join(self.target.path, f"v={v}")))
            rec.update(
                ok=rows == self.expected_fn(kind, arg),
                end=t_end,
                route=route,
                route_s=t_routed - t_start,
                collect_s=t_end - t_routed,
                files_ratio=n_files / total if total else 0.0,
            )
        except Exception as e:  # a failed read is counted, not fatal
            rec.update(end=time.monotonic(), error=f"{type(e).__name__}: {e}"[:300])
        return rec


def freshness_e2e(fresh: list[float]) -> dict:
    return {"freshness_p50_s": pct(fresh, 50), "freshness_p90_s": pct(fresh, 90)}


def count_failed(reads: list[dict]) -> int:
    """Failed reads, each reported on standard error."""
    bad = [r for r in reads if not r["ok"]]
    for r in bad:
        why = r.get("error") or f"wrong answer via route {r.get('route')}"
        print(f"perfbench: failed {r['kind']} read {r['arg']!r}: {why}", file=sys.stderr, flush=True)
    return len(bad)


def read_metrics(reads: list[dict]) -> dict:
    """Read latencies timed from each read's due time (failed reads are
    counted, not timed), and the split of a read into its calls."""
    ok = [r for r in reads if "route_s" in r]
    points = [r["end"] - r["due"] for r in reads if r["kind"] == "point" and r["ok"]]
    ranges = [r["end"] - r["due"] for r in reads if r["kind"] == "range" and r["ok"]]
    return {
        "read.point_p50_ms": 1000 * pct(points, 50),
        "read.point_p90_ms": 1000 * pct(points, 90),
        "read.range_p50_ms": 1000 * pct(ranges, 50),
        "target.route_read_ms": 1000 * median(r["route_s"] for r in ok),
        "target.read_collect_ms": 1000 * median(r["collect_s"] for r in ok),
        "target.files_scanned_ratio": statistics.fmean(r["files_ratio"] for r in ok) if ok else 0.0,
        "read.late_p99_ms": 1000 * pct([r["start"] - r["due"] for r in reads], 99),
    }


# --- per-layer accounting (traced runs) ---------------------------------------


def status_store_jobs(spark, group: str) -> list[dict]:
    """Jobs of one job group with their completed stages' task time, shuffle
    bytes and stage count, from Spark's in-process status store."""
    from py4j.protocol import Py4JJavaError

    jsc = spark.sparkContext._jsc.sc()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.length()):
        j = jobs.apply(i)
        if not (j.jobGroup().isDefined() and j.jobGroup().get() == group):
            continue
        sub = j.submissionTime()
        stage_ids = j.stageIds()
        task_ms = shuffle = n_stages = 0
        for k in range(stage_ids.length()):
            try:
                st = store.lastStageAttempt(stage_ids.apply(k))
            except Py4JJavaError:  # stage evicted from the store
                continue
            if str(st.status()) != "COMPLETE":
                continue
            n_stages += 1
            task_ms += st.executorRunTime()
            shuffle += st.shuffleWriteBytes()
        out.append(
            {
                "submitted_ms": sub.get().getTime() if sub.isDefined() else 0,
                "task_s": task_ms / 1000.0,
                "shuffle_bytes": shuffle,
                "stages": n_stages,
            }
        )
    return out


def progress_start_ms(p) -> float:
    ts = datetime.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def layer_metrics(spark, q, progress, tracer, flips_by_epoch, target_path) -> dict:
    """Per-trigger split of the measured triggers into layers."""
    spans = tracer.spans
    selfs = spans_mod.self_times(spans)
    roots = {s.attrs.get("epoch"): i for i, s in enumerate(spans) if s.name == "pipeline.batch"}
    jobs = status_store_jobs(spark, str(q.runId))
    per = {k: [] for k in (
        "trigger", "overhead", "jobs", "stages", "task_s", "shuffle", "accounted",
        "trace_ovh", "buckets",
    )}
    by_name: dict[str, list[float]] = {}
    names = LAYER_SPANS + ("pipeline.merge_batch",)
    for p in progress:
        trig = p.durationMs["triggerExecution"] / 1000.0
        add = p.durationMs["addBatch"] / 1000.0
        per["trigger"].append(trig)
        per["overhead"].append(trig - add)
        t0 = progress_start_ms(p)
        mine = [j for j in jobs if t0 <= j["submitted_ms"] <= t0 + trig * 1000.0]
        per["jobs"].append(len(mine))
        per["stages"].append(sum(j["stages"] for j in mine))
        per["task_s"].append(sum(j["task_s"] for j in mine))
        per["shuffle"].append(sum(j["shuffle_bytes"] for j in mine))
        root = roots.get(p.batchId)
        sums = dict.fromkeys(names, 0.0)
        if root is not None:
            idx = spans_mod.descendants(spans, root)
            for i in idx:
                if spans[i].name in sums:
                    sums[spans[i].name] += selfs[i]
                if spans[i].name == "target.write":
                    per["buckets"].append(spans[i].attrs.get("buckets", 0))
            # only the named layers count: the self time of the batch root
            # and of merge_batch is the part of addBatch the spans leave open
            per["accounted"].append((trig - add + sum(sums[n] for n in LAYER_SPANS)) / trig)
            per["trace_ovh"].append(sum(spans[i].overhead for i in idx) / trig)
        for n in names:
            by_name.setdefault(n, []).append(sums[n])

    # files written vs hard-linked between consecutive versions
    written, linked = [], []
    for p in progress:
        f = flips_by_epoch.get(p.batchId)
        if f is None:
            continue
        v = f["version"]
        cur = version_files(os.path.join(target_path, f"v={v}"))
        prev_dir = os.path.join(target_path, f"v={v - 1}")
        prev = set(version_files(prev_dir).values()) if os.path.isdir(prev_dir) else set()
        n_linked = sum(1 for ino in cur.values() if ino in prev)
        linked.append(n_linked)
        written.append(len(cur) - n_linked)
    final_v = max(f["version"] for f in flips_by_epoch.values())
    final_dir = os.path.join(target_path, f"v={final_v}")
    meta = os.path.join(final_dir, "_meta.json")
    return {
        "pipeline.triggers": len(progress),
        "pipeline.trigger_p50_s": median(per["trigger"]),
        "pipeline.engine_overhead_p50_s": median(per["overhead"]),
        "pipeline.jobs_per_trigger": median(per["jobs"]),
        "pipeline.transform_s": median(by_name["pipeline.transform"]),
        "pipeline.materialize_s": median(by_name["pipeline.materialize"]),
        "pipeline.epoch_guard_s": median(by_name["pipeline.epoch_guard"]),
        "pipeline.merge_batch_self_s": median(by_name["pipeline.merge_batch"]),
        "merge.build_s": median(by_name["merge.build"]),
        "target.write_s": median(by_name["target.write"]),
        "target.read_buckets_s": median(by_name["target.read_buckets"]),
        "target.buckets_touched_per_trigger": median(per["buckets"]),
        "target.files_written_per_trigger": median(written),
        "target.files_linked_per_trigger": median(linked),
        "target.meta_bytes_end": os.path.getsize(meta) if os.path.exists(meta) else 0,
        "target.files_end": len(version_files(final_dir)),
        "spark.task_s_per_trigger": median(per["task_s"]),
        "spark.shuffle_bytes_per_trigger": median(per["shuffle"]),
        "spark.stages_per_trigger": median(per["stages"]),
        "trace.accounted_share": median(per["accounted"]),
        "trace.overhead": median(per["trace_ovh"]),
    }


def layer_throughputs(spark, raw_df, n_events: int, row_schema, decode_kwargs, mask_cfg, mask_table) -> dict:
    """``decode_envelope`` alone and ``apply_mask`` alone over a fixed
    sample, each forced with the noop sink; median of DECODE_REPS runs."""
    from tipoca_stream_spark.functions.masking import apply_mask
    from tipoca_stream_spark.operators.cdc import COL_DEBEZIUM_OP, COL_KAFKA_OFFSET, extract_row_image
    from tipoca_stream_spark.sources.debezium import decode_envelope

    def timed(make_df) -> float:
        runs = []
        for _ in range(DECODE_REPS + 1):  # first run warms the plan
            t = time.perf_counter()
            make_df().write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t)
        return median(runs[1:])

    decode_s = timed(lambda: decode_envelope(raw_df, row_schema, **decode_kwargs))
    rows = extract_row_image(decode_envelope(raw_df, row_schema, **decode_kwargs)).persist()
    n_rows = rows.count()
    mask_s = timed(
        lambda: apply_mask(
            rows, mask_cfg, mask_table,
            schema_columns=[f.name for f in row_schema.fields],
            passthrough=[COL_KAFKA_OFFSET, COL_DEBEZIUM_OP],
        )
    )
    rows.unpersist()
    return {
        "debezium.decode_events_per_s": n_events / decode_s,
        "masking.rows_per_s": n_rows / mask_s,
    }


# --- workloads --------------------------------------------------------------


def struct_of(fields):
    from pyspark.sql import types as T

    types = {"long": T.LongType(), "string": T.StringType(), "double": T.DoubleType()}
    return T.StructType([T.StructField(n, types[t]) for n, t in fields])


def run_steady(ctx) -> dict:
    from tipoca_stream_spark.sources.target import BucketedTargetTable
    from tipoca_stream_spark.streaming.pipeline import CdcPipeline, CdcPipelineConfig

    spark, work = ctx["spark"], ctx["work"]
    row_schema = struct_of(W.STEADY_FIELDS)
    cfg = CdcPipelineConfig(
        table="orders",
        primary_keys=["id"],
        row_schema=row_schema,
        target_root=os.path.join(work, "targets"),
        checkpoint_dir=os.path.join(work, "ckpt"),
        catalog_buckets=STEADY_BUCKETS,
        zone_cols=["score"],
    )
    pipe = CdcPipeline(spark, cfg)
    raw = spark.readStream.schema(W.RAW_SCHEMA).json(os.path.join(work, "src"))
    q = pipe.start(raw, trigger_available_now=False)
    try:
        wait_until(lambda: len(data_progress(q)) >= 1, STAGE_TIMEOUT_S, "the bootstrap commit")
        phase("bootstrap done")

        # readers use reserved keys only: their rows never change
        preload = ctx["preload"]
        reserved = sorted(k for k in preload if k % W.STEADY_RESERVED_EVERY == 0)
        def range_arg(rng):
            j = rng.randrange(len(reserved) - RANGE_KEYS)
            return ("score", W.RESERVED_SCORE_BASE + reserved[j],
                    W.RESERVED_SCORE_BASE + reserved[j + RANGE_KEYS - 1])

        plan = read_plan(
            random.Random(f"reads/{ctx['seed']}"), int(4 * STAGE_TIMEOUT_S / READ_INTERVAL_S),
            READ_INTERVAL_S, lambda rng: rng.choice(reserved), range_arg,
        )

        def expected(kind, arg):
            if kind == "point":
                return [preload[arg]]
            _, lo, hi = arg
            return [preload[k] for k in reserved if lo <= W.RESERVED_SCORE_BASE + k <= hi]

        reader_tbl = BucketedTargetTable(
            spark, cfg.target_root, cfg.table, buckets=STEADY_BUCKETS, keys=["id"], zone_cols=["score"]
        )
        reader = Reader(reader_tbl, plan, expected)
        reader.start()
        ctx["stop"].append(reader.halt)
        touch(os.path.join(work, "go"))
        wait_until(
            lambda: len(data_progress(q)) >= 1 + STEADY_WARMUP_TRIGGERS,
            STAGE_TIMEOUT_S, "the warm-up triggers",
        )
        t_measure = time.monotonic()
        phase("warm-up done")
        touch(os.path.join(work, "measure"))
        setup_s = t_measure - ctx["t_clock"]

        gen = ctx["gen"]
        gen.wait(timeout=STAGE_TIMEOUT_S)
        if gen.returncode != 0:
            raise BenchError(f"generator exited with {gen.returncode}")
        with open(os.path.join(work, "releases.json")) as f:
            rel = json.load(f)
        if rel["measure_from"] is None:
            raise BenchError("generator ran out of warm-up ticks")
        releases = rel["releases"]
        n_released = len(ctx["preload_events"]) + len(releases) * int(W.STEADY_RATE * W.STEADY_TICK_S)
        wait_until(
            lambda: sum(p.numInputRows for p in data_progress(q)) >= n_released,
            STAGE_TIMEOUT_S, "the last released events to commit",
        )
        t_done = time.monotonic()
        phase("drained")
        reader.stop_at = t_done
        reader.halt()
        wait_until(lambda: not q.status["isTriggerActive"], 30, "the query to go idle")
    finally:
        q.stop()

    # --- freshness ---------------------------------------------------------
    file_batch = source_batches(cfg.checkpoint_dir)
    flips = ctx["flips"].by_epoch(pipe.target.path)
    measured = releases[rel["measure_from"]:]
    per_file = int(W.STEADY_RATE * W.STEADY_TICK_S)
    fresh = []
    missing_files = []
    for name, due, actual in measured:
        b = file_batch.get(name)
        f = flips.get(b)
        if f is None:
            missing_files.append(name)
            continue
        fresh.extend([f["t"] - actual] * per_file)
    measured_batches = sorted({file_batch[n] for n, _, _ in measured if n in file_batch})
    phase("measured trigger s: " + " ".join(
        f"{p.durationMs['triggerExecution'] / 1000:.2f}"
        for p in data_progress(q) if p.batchId in set(measured_batches)
    ))
    # every read is checked; latencies cover the measured window only
    reads = reader.results
    timed_reads = [r for r in reads if r["due"] >= t_measure]

    # --- correctness: final target vs. last-write-wins replay ----------------
    released = {"preload.json"} | {n for n, _, _ in releases}
    events = list(oracle.read_events(os.path.join(work, "events.jsonl"), released))
    truth = oracle.replay((o, op, img) for _, o, op, img in events)
    expected_rows = {k: dict(img, kafkaoffset=off) for k, (off, img) in truth.items()}
    pdf = pipe.target.read().toPandas()
    actual_rows = {int(r["id"]): r for r in pdf.to_dict("records")}
    for r in actual_rows.values():
        for c in ("id", "score", "qty", "kafkaoffset"):
            r[c] = int(r[c])
        r["amount"] = float(r["amount"])
    bad_keys = oracle.diff_keys(expected_rows, actual_rows)
    failed_events = sum(1 for _, _, _, img in events if img["id"] in bad_keys)
    failed_reads = count_failed(reads)
    phase("checked")
    print(
        f"steady_upsert: {len(fresh)} measured events in {len(measured)} files over "
        f"{len(measured_batches)} triggers; {len(reads)} reads; "
        f"{len(bad_keys)} wrong keys, {failed_reads} failed reads",
        flush=True,
    )
    if missing_files:
        raise BenchError(f"{len(missing_files)} released files never committed")

    t_last = max(flips[b]["t"] for b in measured_batches)
    e2e = {
        "setup_s": setup_s,
        **freshness_e2e(fresh),
        # open loop: this only echoes the offered rate, stretched by the
        # commit lag of the last files; every run reports every end-to-end metric
        "events_per_s": len(fresh) / (t_last - measured[0][2]),
    }
    result = {
        "attempted": len(events) + len(reads),
        "failed": failed_events + failed_reads,
        "e2e": e2e,
    }
    if ctx["trace"]:
        progress = [p for p in data_progress(q) if p.batchId in set(measured_batches)]
        layers = layer_metrics(spark, q, progress, ctx["tracer"], flips, pipe.target.path)
        layers.update(read_metrics(timed_reads))
        layers["gen.late_p99_ms"] = 1000 * pct([a - d for _, d, a in releases], 99)
        from tipoca_stream_spark.functions.masking import MaskConfig

        sample = spark.read.schema(W.RAW_SCHEMA).json(os.path.join(work, "src", "preload.json"))
        layers.update(
            layer_throughputs(
                spark, sample, len(ctx["preload_events"]), row_schema, {"fmt": "json"},
                MaskConfig(salt="perfbench-salt"), "orders",
            )
        )
        result["layers"] = layers
    return result


def run_backfill(ctx) -> dict:
    from pyspark.sql import functions as F

    from tipoca_stream_spark.functions.masking import MaskConfig, apply_mask
    from tipoca_stream_spark.operators.cdc import COL_DEBEZIUM_OP, COL_KAFKA_OFFSET
    from tipoca_stream_spark.sources.debezium import SchemaRegistry
    from tipoca_stream_spark.sources.target import BucketedTargetTable
    from tipoca_stream_spark.streaming.pipeline import CdcPipeline, CdcPipelineConfig

    spark, work = ctx["spark"], ctx["work"]
    row_schema = struct_of(W.BACKFILL_V2_FIELDS)
    with open(os.path.join(work, "schemas.json")) as f:
        schemas = {int(k): v for k, v in json.load(f).items()}
    registry = SchemaRegistry()
    for sid, js in schemas.items():
        registry.register_avro(sid, js)
    mask = MaskConfig.from_dict(W.BACKFILL_MASK)

    def pipeline(table: str, src: str, ckpt: str) -> tuple:
        cfg = CdcPipelineConfig(
            table=table,
            primary_keys=["id"],
            row_schema=row_schema,
            target_root=os.path.join(work, "targets"),
            checkpoint_dir=os.path.join(work, ckpt),
            mask_config=mask,
            mask_table="customers",
            envelope_format="avro",
            schema_registry=registry,
            catalog_buckets=BACKFILL_BUCKETS,
        )
        raw = (
            spark.readStream.schema(W.RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(os.path.join(work, src))
            .withColumn("value", F.unbase64("value"))
        )
        return CdcPipeline(spark, cfg), raw

    # set-up: the same pipeline shape drains a small warm-up backlog into a
    # separate target, so the measured drain starts warm
    warm, warm_raw = pipeline("customers_warm", "src_warm", "ckpt_warm")
    qw = warm.start(warm_raw, trigger_available_now=True)
    qw.awaitTermination(STAGE_TIMEOUT_S)
    if qw.isActive:
        qw.stop()
        raise BenchError("warm-up drain did not finish")
    if qw.exception() is not None:
        raise BenchError(f"warm-up drain failed: {qw.exception()}")

    phase("warm-up done")
    gen = ctx["gen"]
    touch(os.path.join(work, "go"))
    gen.wait(timeout=STAGE_TIMEOUT_S)
    if gen.returncode != 0:
        raise BenchError(f"generator exited with {gen.returncode}")
    with open(os.path.join(work, "releases.json")) as f:
        releases = json.load(f)["releases"]
    t_release = max(a for _, _, a in releases)
    setup_s = t_release - ctx["t_clock"]

    ctx["tracer"].spans.clear()  # per-layer figures cover the measured drain only
    pipe, raw = pipeline("customers_reload", "src", "ckpt")
    q = pipe.start(raw, trigger_available_now=True)
    q.awaitTermination(STAGE_TIMEOUT_S)
    if q.isActive:
        q.stop()
        raise BenchError("backlog drain did not finish")
    if q.exception() is not None:
        raise BenchError(f"backlog drain failed: {q.exception()}")
    flips = ctx["flips"].by_epoch(pipe.target.path)
    if not flips:
        raise BenchError("backlog drain committed nothing")
    t_last = max(f["t"] for f in flips.values())
    phase("drained")

    # --- correctness --------------------------------------------------------
    events = list(oracle.read_events(os.path.join(work, "events.jsonl")))
    truth = oracle.replay((o, op, img) for _, o, op, img in events)
    fields = [n for n, _ in W.BACKFILL_V2_FIELDS]
    replayed = [
        tuple(img.get(c) for c in fields) + (off, "UPDATE")
        for off, img in (truth[k] for k in sorted(truth))
    ]
    from pyspark.sql import types as T

    rep_schema = T.StructType(
        row_schema.fields
        + [T.StructField(COL_KAFKA_OFFSET, T.LongType()), T.StructField(COL_DEBEZIUM_OP, T.StringType())]
    )
    masked = apply_mask(
        spark.createDataFrame(replayed, rep_schema), mask, "customers",
        schema_columns=fields, passthrough=[COL_KAFKA_OFFSET, COL_DEBEZIUM_OP],
    ).drop(COL_DEBEZIUM_OP)
    exp_rows = [r.asDict() for r in masked.collect()]
    got_rows = [r.asDict() for r in pipe.target.read().collect()]
    expected_rows = {r["id"]: r for r in exp_rows}
    actual_rows = {r["id"]: r for r in got_rows}
    bad_keys = oracle.diff_keys(expected_rows, actual_rows)
    # keys and unmasked columns straight from the replay, without Spark
    plain = {str(k): (img["status"], img["amount"]) for k, (off, img) in truth.items()}
    got_plain = {
        r["id"]: (r["status"], float(r["amount"]) if r["amount"] is not None else None)
        for r in got_rows
    }
    bad_keys |= oracle.diff_keys(plain, got_plain)
    failed_events = sum(1 for _, _, _, img in events if str(img["id"]) in bad_keys)
    phase("checked")
    print(
        f"backfill_avro: {len(events)} events in {len(releases)} files over {len(flips)} triggers; "
        f"{len(bad_keys)} wrong keys",
        flush=True,
    )
    # backlog freshness: release to the flip of the version holding each file
    file_batch = source_batches(pipe.config.checkpoint_dir)
    per_file: dict[str, int] = {}
    for name, *_ in events:
        per_file[name] = per_file.get(name, 0) + 1
    fresh = []
    for name, n in per_file.items():
        fresh.extend([flips[file_batch[name]]["t"] - t_release] * n)
    result = {
        "attempted": len(events),
        "failed": failed_events,
        "e2e": {
            "setup_s": setup_s,
            **freshness_e2e(fresh),
            "events_per_s": len(events) / (t_last - t_release),
        },
    }
    if ctx["trace"]:
        layers = layer_metrics(spark, q, data_progress(q), ctx["tracer"], flips, pipe.target.path)
        # the drain has no concurrent reads; a probe of point and range
        # reads against the final reload target gives the read layers
        ids = sorted(actual_rows)

        def range_arg(rng):
            j = rng.randrange(len(ids) - RANGE_KEYS)
            return ("id", ids[j], ids[j + RANGE_KEYS - 1])

        def expected(kind, arg):
            if kind == "point":
                return [actual_rows[arg]]
            _, lo, hi = arg
            return [actual_rows[k] for k in ids if lo <= k <= hi]

        plan = read_plan(
            random.Random(f"reads/{ctx['seed']}"), BACKFILL_PROBE_READS, BACKFILL_PROBE_INTERVAL_S,
            lambda rng: rng.choice(ids), range_arg,
        )
        reader = Reader(
            BucketedTargetTable(spark, pipe.config.target_root, pipe.config.table,
                                buckets=BACKFILL_BUCKETS, keys=["id"]),
            plan, expected,
        )
        reader.run()
        result["attempted"] += len(reader.results)
        result["failed"] += count_failed(reader.results)
        layers.update(read_metrics(reader.results))
        layers["gen.late_p99_ms"] = 1000 * pct([a - d for _, d, a in releases], 99)
        first = sorted(n for n, _, _ in releases)[0]
        sample = spark.read.schema(W.RAW_SCHEMA).json(os.path.join(work, "src", first)).withColumn(
            "value", F.unbase64("value")
        )
        n_sample = sum(1 for _ in open(os.path.join(work, "src", first)))
        layers.update(
            layer_throughputs(
                spark, sample, n_sample, row_schema, {"fmt": "avro", "registry": registry},
                mask, "customers",
            )
        )
        result["layers"] = layers
    return result


WORKLOADS = {"steady_upsert": run_steady, "backfill_avro": run_backfill}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tipoca_stream_spark", "streaming", "pipeline.py")):
        print("perfbench: run from the repository root (tipoca_stream_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_host(root, work)

    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--work", work],
    )
    spark = None
    stop = []  # threads to halt before Spark stops
    flips = FlipLog()
    tracer = spans_mod.Tracer()
    try:
        wait_until(
            lambda: os.path.exists(os.path.join(work, "ready")) or gen.poll() is not None,
            STAGE_TIMEOUT_S, "the generator", poll=0.01,
        )
        if gen.poll() is not None:
            raise BenchError(f"generator exited with {gen.returncode} before it was ready")
        ctx = {"work": work, "seed": args.seed, "trace": args.trace, "gen": gen,
               "flips": flips, "tracer": tracer, "stop": stop}
        if args.workload == "steady_upsert":
            ctx["preload_events"] = next(
                rec["events"] for rec in map(json.loads, open(os.path.join(work, "events.jsonl")))
                if rec["file"] == "preload.json"
            )
            ctx["preload"] = {
                img["id"]: dict(img, kafkaoffset=off) for off, _, img in ctx["preload_events"]
            }
        # the clock starts once the inputs exist: generation is not set-up
        ctx["t_clock"] = time.monotonic()
        phase("inputs ready")
        spark = start_spark(work)
        phase("spark up")
        ctx["spark"] = spark
        flips.install()
        if args.trace:
            install_tracer(tracer)
        result = WORKLOADS[args.workload](ctx)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        for halt in stop:
            halt()
        tracer.restore()
        flips.restore()
        if gen.poll() is None:
            gen.kill()
        gen.wait()
        if spark is not None:
            stop_spark(spark)
            phase("spark stopped")
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = result["layers"] if args.trace else result["e2e"]
    out = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in declared},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
