"""Benchmark entry point: one workload, one fresh process, one closed-loop client.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run builds its inputs from
``--seed`` under ``perfbench/_work/``, sets up a ``local[nproc]`` session
with ``nproc`` shuffle partitions, runs the workload's fixed op list,
checks every output, and prints one metric per line followed by a JSON
line ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
carries the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1``
records spans and Spark counters and carries its per-layer metrics.
Exit code 0 means every output was correct; 1 means a wrong output;
2 means the program or its fixture is missing.

Workloads are described in ``olap_mix.py`` and ``etl_merge.py``, the
metrics in ``README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from harness import (  # noqa: E402
    ROOT,
    WORK,
    Result,
    SparkStatus,
    Tracer,
    confine_scratch,
    cores,
    jvm_memory_mb,
    process_age_s,
    session_conf,
)

WORKLOADS = ("olap_mix", "etl_merge")


class Context:
    def __init__(self, spark, seed: int, seconds: int, tracer: Tracer, status):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.status = status
        self.extra: dict = {}
        self.shape: dict = {}


def _program_and_fixture() -> str:
    """The fixture directory, after checking the program imports and the
    fixture holds every table; exits with code 2 otherwise."""
    sys.path.insert(0, str(ROOT))
    try:
        from hive_release_spark import catalog
    except ImportError as e:
        print(f"error: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        raise SystemExit(2)
    missing = [t for t in catalog.TABLES if not os.path.exists(catalog.table_path(catalog.DEFAULT_SF_DIR, t))]
    if missing:
        print(f"error: fixture {catalog.DEFAULT_SF_DIR} lacks {missing}", file=sys.stderr)
        raise SystemExit(2)
    return catalog.DEFAULT_SF_DIR


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    fixture = _program_and_fixture()
    mod = importlib.import_module(args.workload)

    work = WORK / args.workload
    if work.exists():
        shutil.rmtree(work)
    confine_scratch(work)
    t = time.perf_counter()
    inputs = mod.build_inputs(work, fixture, args.seed)
    gen_s = time.perf_counter() - t

    from hive_release_spark import catalog
    from hive_release_spark.session import get_session

    tracer = Tracer(trace)
    n = cores()
    t = time.perf_counter()
    with tracer.span("session.get_session"):
        spark = get_session(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf=session_conf(work, trace),
        )
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    t = time.perf_counter()
    with tracer.span("catalog.register_views"):
        catalog.register_views(spark, inputs["sf_dir"])
    views_s = time.perf_counter() - t
    setup_s = process_age_s() - gen_s

    res = Result()
    try:
        ctx = Context(spark, args.seed, args.seconds, tracer, SparkStatus(spark) if trace else None)
        ctx.shape.update(inputs["shape"])
        mod.run(ctx, inputs, res)
        res.put("setup_s", setup_s, "s")
        retained, rss = jvm_memory_mb(spark)
        res.put("retained_mb", retained, "MB")
        res.put("rss_mb", rss, "MB")
        res.put("input_gen_s", gen_s, "s")
        heap_mb = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
        ctx.shape.update(driver_heap_max_mb=heap_mb, cores=n)
        if trace:
            res.put("session.start_s", session_s, "s")
            res.put("catalog.register_views_s", views_s, "s")
            for name, secs in tracer.self_time_by_name().items():
                res.put(f"self.{name}_s", secs, "s")
    finally:
        _stop(spark)

    out = WORK / "out"
    out.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (out / f"{stem}.json").write_text(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "correct": res.correct,
                "notes": res.notes,
                "shape": ctx.shape,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res.metrics.items()},
            },
            indent=1,
        )
    )
    if trace:
        tracer.dump(out / f"{stem}-spans.json")
    names = [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]
    res.emit(names)
    return 0 if res.correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
