"""lakewriter benchmark: one command, three workloads, seeded load.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload against the package's public API on a local Spark
session (``local[nproc]``, all load from this one process), checks the
outputs, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run (spans kept in memory and
written to ``.perfbench-out/`` when the run ends). Workloads, metrics
and the layer each per-layer metric should move are described in
``perfbench/README.md``.

Everything the run writes (Spark local dirs, tables, temp files) stays
under ``.perfbench-work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep __pycache__ out of the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# Workload set-up runs this many times per run; setup_s counts the median.
SETUP_REPS = 3


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json.

    A workload reports the per-layer metrics of the layers it exercises;
    the others read 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple(
        {m["name"]: m["unit"] for m in spec[key]}
        for key in ("end_to_end", "per_layer")
    )


class Ctx:
    """What a workload gets: the session, its seed and time, a tracer,
    and a private scratch directory."""

    def __init__(self, spark, seed: int, seconds: float, tracer, work: str):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}-{self._n}")


def _pin_environment(work: str, cpu_share: float) -> None:
    """Run settings come from the machine, not from source edits: Spark
    gets ``cpu_share`` of the CPUs this process may use."""
    cpus = max(1, round(len(os.sched_getaffinity(0)) * cpu_share))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # well below physical RAM: the host is shared
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(mem_gb // 4)))}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no /tmp/hsperfdata: every file the JVM writes stays in the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import importlib

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {WORKLOADS}")
    # the program under test; fails fast when the checkout lacks it
    import iceberg_file_writer_spark.session as session

    from tracing import Tracer, span_cost_us

    # Flush what earlier runs left for the disk to do (writeback, discards
    # of deleted tables), so it does not land inside this run's timings.
    os.sync()
    work = os.path.join(ROOT, ".perfbench-work", f"run-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        wl = importlib.import_module(args.workload)
        _pin_environment(work, getattr(wl, "CPU_SHARE", 1.0))
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        tracer = Tracer(bool(args.trace))
        ctx = Ctx(spark, args.seed, args.seconds, Tracer(False), work)
        t0 = time.perf_counter()
        wl.warm(ctx)
        warm_s = time.perf_counter() - t0
        setups, state = [], None
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            state = wl.setup(ctx)
            setups.append(time.perf_counter() - t0)
        ctx.tracer = tracer
        os.sync()  # the set-up's own writes, likewise
        t0 = time.perf_counter()
        out = wl.measure(ctx, state)
        print(f"session {session_s:.2f}s, warm {warm_s:.2f}s, setups "
              f"{' '.join(f'{s:.2f}' for s in setups)}s, "
              f"measure+check {time.perf_counter() - t0:.2f}s", file=sys.stderr)

        end_to_end, per_layer = _metric_units()
        p50 = statistics.median(out.latencies_ms)
        if args.trace:
            vals = {name: out.layers.get(name, 0.0) for name in per_layer}
            vals["trace.latency_ms_p50"] = p50
            vals["trace.spans"] = sum(1 for s in tracer.spans if s)
            vals["trace.span_cost_us"] = span_cost_us()
            units = per_layer
            os.makedirs(os.path.join(ROOT, ".perfbench-out"), exist_ok=True)
            tracer.dump(
                os.path.join(ROOT, ".perfbench-out",
                             f"trace-{args.workload}-{args.seed}.jsonl"),
                {"workload": args.workload, "seed": args.seed, "metrics": vals,
                 "latencies_ms": out.latencies_ms, **out.detail},
            )
        else:
            vals = {
                "setup_s": session_s + warm_s + statistics.median(setups),
                "latency_ms_p50": p50,
                "throughput_per_s": out.throughput,
            }
            units = end_to_end
        for e in out.errors[:10]:
            print(f"check failed: {e}", file=sys.stderr)
        result = {
            "correct": out.failed == 0 and not out.errors,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": {
                k: {"value": float(vals[k]), "unit": u} for k, u in units.items()
            },
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
