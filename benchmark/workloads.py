"""The benchmark's workloads. Each takes a :class:`harness.Run`, performs whole
operations until the run's seconds are spent (with a minimum count), checks
every output, and returns its per-layer figures (filled only when the run
is traced)."""

from __future__ import annotations

import io
import os
import shutil
import sys
import time
from contextlib import redirect_stdout

from benchmark import checks, inputs
from benchmark.harness import median

TIERS = ("1h", "1d", "1mo")

# ---- per-layer metric table: name -> unit ---------------------------------
PER_LAYER = {
    **{f"store.build_tier.{t}_s": "s" for t in TIERS},
    "store.build_tier.jobs": "count",
    "store.build_tier.1h.cpu_s": "s",
    "store.build_tier.1h.gc_s": "s",
    "store.build_tier.1h.shuffle_mb": "MB",
    "store.build_tier.1h.spill_mb": "MB",
    "rollup.cascade_s": "s",
    **{f"store.{op}{suffix}": unit for op in ("apply_retention", "compact", "gc")
       for suffix, unit in (("_s", "s"), (".jobs", "count"))},
    "store.read_tier_s": "s",
    "store.read_tier.calls": "count",
    "store.files": "count",
    "store.bytes": "bytes",
    "codec.compress_tier_s": "s",
    "codec.compress_tier.jobs": "count",
    "codec.verify_s": "s",
    "codec.verify.jobs": "count",
    "codec.bytes_per_point": "bytes",
    **{f"codec.{k}_mpts": "Mpt/s" for k in
       ("encode_values", "decode_values", "encode_timestamps", "decode_timestamps")},
    "streaming.drain_s": "s",
    "streaming.drain.jobs": "count",
    "streaming.drain.cpu_s": "s",
    "streaming.drain.shuffle_mb": "MB",
    "store.read_tier.fresh_s": "s",
    "gapfill.fresh_read.jobs": "count",
    "store.max_stack_depth": "count",
    "store.files.stream": "count",
    "gapfill.persisted_after": "count",
    "proc.peak_rss_mb": "MB",
}


def _trace_store(tracer) -> None:
    """Spans around the store, codec, rollup and gap-fill entry points."""
    from ingestr_spark import pipeline, retention
    from ingestr_spark.compression import gorilla
    from ingestr_spark.operators import gapfill

    store = retention.AggregateStore
    tracer.wrap(store, "build_tier", lambda self, tier, *a, **k: f"store.build_tier.{tier}")
    for m in ("read_tier", "apply_retention", "compact", "gc", "gc_job_records",
              "incremental_update", "cascade_refresh", "fold_hot_stacks", "build_all"):
        tracer.wrap(store, m, f"store.{m}")
    for owner in (gorilla, pipeline):
        tracer.wrap(owner, "compress_tier", "codec.compress_tier", sticky=True)
    tracer.wrap(gorilla, "decompress_tier", "codec.verify", sticky=True)
    for f in ("spine_join", "locf", "interpolate_linear"):
        tracer.wrap(gapfill, f, f"gapfill.{f}", sticky=True)


# ---- batch_pipeline --------------------------------------------------------

BATCH_ROWS = 100_000
WARMUP_ROWS = 5_000
RETAIN_BEFORE = "2023-07"


class _Report(io.StringIO):
    """Stdout sink that notes when the pipeline prints its report."""

    at = None

    def write(self, s):
        if self.at is None and s.strip():
            self.at = time.perf_counter()
        return super().write(s)


def _pipeline(run, inp: str, store: str) -> tuple[float, dict]:
    """One ``pipeline.main`` run; returns (session ready -> report, report)."""
    import json

    from ingestr_spark import pipeline

    ready = {}
    get_spark = pipeline.get_spark

    def timed_get_spark(*a, **k):
        t0 = time.perf_counter()
        spark = get_spark(*a, **k)
        ready["at"] = time.perf_counter()
        run.setups.append(ready["at"] - t0)
        return spark

    out = _Report()
    pipeline.get_spark = timed_get_spark
    try:
        with redirect_stdout(out):
            rc = pipeline.main([
                "--input", inp, "--store", store, "--tiers", ",".join(TIERS),
                "--retain-before", RETAIN_BEFORE, "--compress", "--verify-codec",
                "--compact", "--gc", "--gc-min-age", "0", "--master", run.master,
            ])
    finally:
        pipeline.get_spark = get_spark
    if rc != 0:
        raise RuntimeError(f"pipeline exited with {rc}")
    return out.at - ready["at"], json.loads(out.getvalue().strip().splitlines()[-1])


def batch_pipeline(run) -> dict:
    from ingestr_spark.compression.gorilla import decode_timestamps, decode_values

    inp = inputs.batch_table(run.root, run.seed, BATCH_ROWS)
    files = checks.data_files([inp])
    con = checks.connect()
    expected = {t: checks.raw_rollup(con, files, t) for t in TIERS}
    # an untimed pipeline run over a small table starts the JVM (the first
    # set-up) and compiles the pipeline's code paths; each timed run then
    # sets up again in the same JVM
    warm = inputs.batch_table(run.root, run.seed, WARMUP_ROWS)
    _pipeline(run, warm, os.path.join(run.work, "store-warmup"))
    _trace_store(run.tracer)
    store = None
    t_start = time.perf_counter()
    while not run.attempted or time.perf_counter() - t_start < run.seconds:
        store = os.path.join(run.work, f"store-{run.attempted}")
        with run.operation():
            wall, report = _pipeline(run, inp, store)
            run.ops.append(wall)
            if report.get("codec_roundtrip_ok") != {t: True for t in TIERS}:
                run.check([f"pipeline codec verification: {report.get('codec_roundtrip_ok')}"])
            run.check(checks.check_pipeline(con, store, expected, RETAIN_BEFORE,
                                            decode_values, decode_timestamps))
    if not run.tracer.enabled:
        return {"store": store}

    from benchmark.kernels import codec_kernels

    chunks = [(t, v) for tier in TIERS for _, t, v in checks.codec_chunks(store, tier)]
    kernel_rates, errs = codec_kernels(chunks)
    run.check(errs)
    spark = run.open_session("bench-rollup")
    from ingestr_spark.operators.rollup import build_all_tiers

    with run.tracer.span("rollup.cascade"):
        build_all_tiers(spark.read.parquet(inp), TIERS)["1mo"].write.format("noop").mode(
            "overwrite").save()
    spark.stop()
    return {"kernels": kernel_rates, "store": store, "n_ops": len(run.ops)}


def batch_layers(run, tracer, extra: dict) -> dict:
    n = extra["n_ops"]
    out = {}
    build = {}
    for t in TIERS:
        build[t] = tracer.totals(tracer.named(f"store.build_tier.{t}"))
        out[f"store.build_tier.{t}_s"] = build[t]["wall_s"] / n
    out["store.build_tier.jobs"] = sum(b["jobs"] for b in build.values()) / n
    for k in ("cpu_s", "gc_s", "shuffle_mb", "spill_mb"):
        out[f"store.build_tier.1h.{k}"] = build["1h"][k] / n
    out["rollup.cascade_s"] = tracer.totals(tracer.named("rollup.cascade"))["wall_s"]
    for op in ("apply_retention", "compact", "gc"):
        tot = tracer.totals(tracer.named(f"store.{op}"))
        out[f"store.{op}_s"] = tot["wall_s"] / n
        out[f"store.{op}.jobs"] = tot["jobs"] / n
    reads = tracer.named("store.read_tier")
    out["store.read_tier_s"] = sum(tracer.wall(s) for s in reads) / n
    out["store.read_tier.calls"] = len(reads) / n
    out["store.files"], out["store.bytes"], _ = checks.live_bytes_rows(extra["store"], TIERS)
    for layer in ("codec.compress_tier", "codec.verify"):
        tot = tracer.totals(tracer.named(layer))
        out[f"{layer}_s"] = tot["wall_s"] / n
        out[f"{layer}.jobs"] = tot["jobs"] / n
    sizes = [checks.codec_size(extra["store"], t) for t in TIERS]
    out["codec.bytes_per_point"] = sum(b for b, _ in sizes) / sum(p for _, p in sizes)
    out.update(extra["kernels"])
    return out


# ---- stream_maintain -------------------------------------------------------

HISTORY_ROWS = 20_000
BATCH_ROWS_STREAM = 3_000
MIN_STEPS = 2
FOLD_DEPTH = 16  # refresh_store_availablenow's default


def _fresh_read(spark, store):
    """The hot source's gap-filled daily series: read_tier -> spine_join ->
    locf -> interpolate_linear, collected."""
    from pyspark.sql import functions as F

    from ingestr_spark.operators import gapfill

    t = store.read_tier("1d").filter(F.col("source") == "hot").select(
        "source", "bucket", "n_seq", "sum_n_tok")
    j = gapfill.spine_join(t)
    j = j.withColumn("sum_locf", F.col("sum_n_tok")).withColumn(
        "avg_lin", F.col("sum_n_tok") / F.col("n_seq"))
    out = gapfill.interpolate_linear(gapfill.locf(j, ["sum_locf"]), ["avg_lin"])
    return out.select("bucket", "gap", "sum_locf", "avg_lin").toPandas()


def stream_maintain(run) -> dict:
    from ingestr_spark.retention import AggregateStore
    from ingestr_spark.streaming.jobs import refresh_store_availablenow

    feed = inputs.StreamFeed(run.seed, HISTORY_ROWS, BATCH_ROWS_STREAM)
    hist = feed.history(run.root)
    input_dir = os.path.join(run.work, "stream-input")
    store_root = os.path.join(run.work, "stream-store")
    ckpt = os.path.join(run.work, "stream-ckpt")
    os.makedirs(input_dir)
    landed = []
    for f in checks.data_files([hist]):
        landed.append(shutil.copy(f, input_dir))
    rows = HISTORY_ROWS
    con = checks.connect()
    spark = run.sessions("bench-stream")
    _trace_store(run.tracer)

    def drain():
        refresh_store_availablenow(spark, input_dir, store_root, ckpt, tiers=TIERS, cascade=True)

    reader = AggregateStore(spark, store_root)
    with run.tracer.paused():  # untimed: drain the history, warm the read path
        drain()
        _fresh_read(spark, reader)
    drains, reads, persisted = [], [], []  # drains and reads are logged to stderr
    t_start = time.perf_counter()
    while run.attempted < MIN_STEPS or time.perf_counter() - t_start < run.seconds:
        batch = feed.micro_batch(run.attempted)
        landed.append(inputs.land(batch, input_dir, f"batch-{run.attempted:05d}.parquet"))
        rows += batch.num_rows
        with run.operation():
            t0 = time.perf_counter()
            with run.tracer.span("streaming.drain"):
                drain()
            t1 = time.perf_counter()
            with run.tracer.span("store.read_tier.fresh"):
                got = _fresh_read(spark, reader)
            t2 = time.perf_counter()
            drains.append(t1 - t0)
            reads.append(t2 - t1)
            run.ops.append(t2 - t0)
            persisted.append(spark.sparkContext._jsc.getPersistentRDDs().size())
            run.check(checks.check_fresh_read(got, checks.hot_daily(con, landed)))
    print(f"stream: drains {[round(x, 2) for x in drains]} reads {[round(x, 2) for x in reads]}",
          file=sys.stderr)
    run.check(checks.check_stream_store(con, store_root, landed, rows, FOLD_DEPTH + 1))
    spark.stop()
    depth = max(len(d) for t in TIERS for d in checks.month_dirs(store_root, t).values())
    files, _, _ = checks.live_bytes_rows(store_root, TIERS)
    return {"store": store_root, "persisted": persisted, "max_depth": depth, "files": files}


def stream_layers(run, tracer, extra: dict) -> dict:
    drains = tracer.named("streaming.drain")
    per = [tracer.totals([s]) for s in drains]
    fresh = [tracer.totals([s]) for s in tracer.named("store.read_tier.fresh")]
    return {
        "streaming.drain_s": median(p["wall_s"] for p in per),
        "streaming.drain.jobs": median(p["jobs"] for p in per),
        "streaming.drain.cpu_s": median(p["cpu_s"] for p in per),
        "streaming.drain.shuffle_mb": median(p["shuffle_mb"] for p in per),
        "store.read_tier.fresh_s": median(p["wall_s"] for p in fresh),
        "gapfill.fresh_read.jobs": median(p["jobs"] for p in fresh),
        "store.max_stack_depth": extra["max_depth"],
        "store.files.stream": extra["files"],
        "gapfill.persisted_after": extra["persisted"][-1],
    }


WORKLOADS = {
    "batch_pipeline": (batch_pipeline, batch_layers),
    "stream_maintain": (stream_maintain, stream_layers),
}
