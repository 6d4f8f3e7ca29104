"""Benchmark of the engine's serving path.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One process, one closed-loop client
thread, Spark `local[<cores>]` through `mlvectordb_spark.session.get_spark`.
The inputs come from `--seed` only. Every answer is checked; the last line
of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json,
scaled to a reference host speed by a probe timed before each request;
with `--trace 1` the run wraps the engine's layers with spans and reports
the per-layer ones instead (spans go to `.perfbench_out/`). Everything the
run writes stays under the checkout and the scratch directory is removed at
exit. See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _host_env(workdir: str) -> None:
    """Spark sized to this host, with every temporary file under workdir."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1024, min(4096, total_mb // 4))}m"
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM the session starts, the launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp


def _stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — kill whatever is still running
            proc.kill()
            proc.wait()


def _finite(v: float) -> float:
    # a failed operation enters the percentiles as +inf; JSON has no inf
    return v if math.isfinite(v) else 1e12


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "mlvectordb_spark", "__init__.py")):
        print(f"no mlvectordb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    workdir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    spark = None
    try:
        _host_env(workdir)
        t0 = time.perf_counter()
        from mlvectordb_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        run = workloads.Run(spark, workdir, args.seed, args.seconds, bool(args.trace))
        run.setup_phases["session"] = session_s
        if run.tracer is not None:
            from layers import instrument

            instrument(run.tracer)
        workloads.WORKLOADS[args.workload](run)

        lines = workloads.report_lines(run)
        if args.trace:
            from layers import METRICS, per_layer

            values, extra = per_layer(run)
            lines += extra
            metrics = {k: {"value": _finite(values[k]), "unit": METRICS[k]} for k in METRICS}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            run.tracer.unwrap_all()
        else:
            metrics = {
                k: {"value": _finite(v), "unit": u}
                for k, (v, u) in workloads.end_to_end(run).items()
            }
        n_failed = sum(run.failed.values())
        correct = n_failed == 0
        if run.recalls:
            mean_recall = sum(run.recalls) / len(run.recalls)
            if mean_recall < workloads.MIN_MEAN_RECALL:
                correct = False
                run.errors.append(f"approx recall@10 {mean_recall:.3f} below "
                                  f"{workloads.MIN_MEAN_RECALL}")
        for line in lines:
            print(line)
        for err in run.errors:
            print(f"ERROR {err}")
        print(json.dumps({
            "correct": correct,
            "attempted": run.attempted,
            "failed": n_failed,
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run is still using it


if __name__ == "__main__":
    sys.exit(main())
