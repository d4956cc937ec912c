"""Benchmark command for ingestr_spark.

    python3 benchmark/run.py --workload <batch_pipeline|stream_maintain>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds every input from ``--seed``, runs
whole operations of the workload for about ``--seconds`` seconds, checks
every output against DuckDB / numpy computations made apart from the
program, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run is traced and
the metrics are the per-layer ones (spans and the table are also written
to ``.bench_results/``). See benchmark/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _environment(work: str, cpus: int, trace: bool) -> None:
    """Spark settings are the program's defaults; only the parallelism is
    pinned to the machine, and every scratch path points inside the
    checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false pyspark-shell")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import ingestr_spark  # noqa: F401  (the program under test)
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"benchmark: the program cannot be imported: {e}", file=sys.stderr)
        return 2
    from benchmark.checks import live_bytes_rows
    from benchmark.harness import RssSampler, Run, median, stop_spark
    from benchmark.trace import Tracer
    from benchmark.workloads import PER_LAYER, TIERS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"benchmark: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    trace = bool(args.trace)
    _environment(work, cpus, trace)
    run = Run(root=ROOT, work=work, seed=args.seed, seconds=args.seconds,
              tracer=Tracer(trace), cpus=cpus)
    measure, layers = WORKLOADS[args.workload]
    try:
        with RssSampler() as rss:
            extra = measure(run)
            stop_spark()
        if trace:
            run.tracer.load_event_log(os.path.join(work, "eventlog"))
            metrics = dict.fromkeys(PER_LAYER, 0.0)
            metrics.update(layers(run, run.tracer, extra))
            metrics["proc.peak_rss_mb"] = rss.peak_mb
            out_dir = os.path.join(ROOT, ".bench_results")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
                            metrics)
            metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in metrics.items()}
        else:
            _, size, rows = live_bytes_rows(extra["store"], TIERS)
            metrics = {
                "setup_s": {"value": median(run.setups), "unit": "s"},
                "op_p50_s": {"value": median(run.ops), "unit": "s"},
                "tier_bytes_per_row": {"value": size / rows, "unit": "bytes"},
            }
    finally:
        run.tracer.unwrap_all()
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(f"benchmark: setups {[round(x, 2) for x in run.setups]} ops {[round(x, 2) for x in run.ops]}",
          file=sys.stderr)
    sys.stdout.flush()
    print(json.dumps({"correct": not run.errors, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
