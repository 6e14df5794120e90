"""Benchmark entry point: one workload, one seed, one Spark process.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates its inputs from the
seed, sets up, then repeats whole rounds of the workload's operations
(one client, closed loop) until ``--seconds`` have passed, checks every
output against the NumPy oracle and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the per-layer probes instead
and writes its spans to ``perfbench/traces/``. Load and steal stamps go
to standard error. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import host  # noqa: E402


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Keep every file Spark and its workers write inside ``work`` and let
    the Python workers import the engine and the benchmark."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def start_spark(work: str, cores: int, heap: str, conf: dict):
    from geomesa_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    return build_session(
        cores=cores,
        shuffle_partitions=2 * cores,
        app="perfbench",
        extra_conf={
            "spark.driver.memory": heap,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap: heap resizing is one source of run-to-run spread
            "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp}",
            **conf,
        },
    )


def jvm_ms(spark) -> tuple[int, int]:
    """The driver JVM's cumulative GC and JIT-compile milliseconds."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc, mf.getCompilationMXBean().getTotalCompilationTime()


def timed_rounds(wl, seconds: float):
    """Whole rounds until ``seconds`` have passed. Returns [(op, s, ok)]."""
    samples = []
    jvm = jvm_ms(wl.spark)
    start = time.monotonic()
    r = 0
    while r == 0 or time.monotonic() - start < seconds:
        for name, op in wl.round(r):
            cpu0 = host.tree_cpu_s()
            t = time.perf_counter()
            try:
                op()
                ok = True
            except Exception:  # a failed operation is counted, not fatal
                log(f"operation {name} failed:\n{traceback.format_exc()}")
                ok = False
            samples.append((name, time.perf_counter() - t, ok))
            cpu = host.tree_cpu_s() - cpu0
            gc, jit = jvm_ms(wl.spark)
            log(
                f"perfbench: round {r} {name} {samples[-1][1]:.3f}s "
                f"cpu {cpu:.2f}s gc {gc - jvm[0]}ms jit {jit - jvm[1]}ms"
            )
            jvm = (gc, jit)
        r += 1
    return samples


def end_to_end(samples, setup_s: float) -> dict:
    times = [s for _, s, ok in samples if ok]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ops_per_s": {"value": len(times) / sum(times), "unit": "1/s"},
        "op_p50_s": {"value": statistics.median(times), "unit": "s"},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "geomesa_spark", "session.py")):
        log(f"perfbench: engine sources not found under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    cores, heap = host.cores(), host.driver_heap()
    stamp = host.Stamp()
    log(f"perfbench: {args.workload} seed={args.seed} local[{cores}] driver heap {heap}")
    spark = start_spark(work, cores, heap, WORKLOADS[args.workload].spark_conf)
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        setup_s = host.process_age_s()
        if args.trace:
            import trace_layers

            samples, metrics = trace_layers.run(wl, args)
        else:
            samples = timed_rounds(wl, args.seconds)
            metrics = end_to_end(samples, setup_s)
        wl.verify()
    finally:
        host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    stamps = stamp.close()
    log(f"perfbench: stamps {json.dumps(stamps)}")
    for e in wl.errors[:20]:
        log(f"perfbench: CHECK FAILED: {e}")
    failed = sum(1 for _, _, ok in samples if not ok)
    print(
        json.dumps(
            {
                "correct": not wl.errors,
                "attempted": len(samples),
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
