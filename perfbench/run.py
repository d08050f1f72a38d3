#!/usr/bin/env python3
"""The repository's benchmark: seeded workloads over the real engine, with
every result checked against an independent oracle.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
named in ``BENCHMARK.json``; ``--trace 1`` turns on Spark's event log and the
benchmark's own spans and prints the per-layer metrics instead. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The lines before it are
``# ``-prefixed notes (environment, per-class latencies, the per-layer
table). See ``perfbench/README.md`` for the workloads and metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")


def note(tag: str, obj) -> None:
    print(f"# {tag} {json.dumps(obj, sort_keys=True)}", flush=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def prepare_env(work: str) -> None:
    """Keep every file Spark and its Python workers write inside ``work``
    and make the workers import the engine from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                mnt = parts[1]
                if path.startswith(mnt) and len(mnt) > len(best):
                    best, kind = mnt, parts[2]
    except OSError:
        pass
    return kind


def environment(work: str) -> dict:
    import hashlib

    import pyspark

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "rdf_indexer_spark")
    for dirpath, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    try:
        java = subprocess.run(["java", "-version"], capture_output=True,
                              text=True, timeout=30).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    return {
        "nproc": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "java": java,
        "python": sys.version.split()[0],
        "src_sha256": h.hexdigest()[:16],
        "work_fs": fs_type(work),
        "dev_shm_used": fs_type(work) == "tmpfs",
    }


def start_spark(work: str, cpus: int, trace: bool):
    from rdf_indexer_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(cpus=cpus, app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
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


def _worker_probe(batches):
    import pandas as pd

    import rdf_indexer_spark

    for pdf in batches:
        yield pd.DataFrame({"path": [rdf_indexer_spark.__file__] * len(pdf)})


def guard_workers(spark) -> None:
    """Fail loudly unless the Python workers import this checkout's
    engine (the kernels run inside ``mapInPandas`` on the workers)."""
    par = spark.sparkContext.defaultParallelism
    rows = (spark.range(par, numPartitions=par)
            .mapInPandas(_worker_probe, "path string").collect())
    want = os.path.join(ROOT, "rdf_indexer_spark")
    bad = {r["path"] for r in rows if not r["path"].startswith(want)}
    if bad or len(rows) != par:
        raise SystemExit(
            f"python workers import rdf_indexer_spark from {sorted(bad)}, "
            f"expected {want}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_setup0 = time.perf_counter()
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {names}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import rdf_indexer_spark  # noqa: F401  (fail here, before Spark)
    except ImportError as exc:
        raise SystemExit(f"cannot import the engine from {ROOT}: {exc}")

    from spans import Tracer
    from workloads import WORKLOADS, Run

    work = os.path.join(WORK_ROOT,
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, spec, work, t_setup0, Tracer, WORKLOADS, Run)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


def _run(args, spec, work, t_setup0, Tracer, WORKLOADS, Run) -> int:
    prepare_env(work)
    env = environment(work)
    note("env", env)
    cpus = len(os.sched_getaffinity(0))
    run = Run(args.seed, args.seconds, work, Tracer(bool(args.trace)),
              t_setup0)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cpus, bool(args.trace))
        spark.range(1).collect()
        run.session_start_s = time.perf_counter() - t0
        guard_workers(spark)
        result = WORKLOADS[args.workload](spark, run)
    finally:
        if spark is not None:
            stop_spark(spark)
    if args.trace:
        from layers import per_layer

        layer = per_layer(run, result, os.path.join(work, "eventlog"))
        metrics = {m["name"]: layer.get(m["name"], 0.0)
                   for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        os.makedirs(OUT_ROOT, exist_ok=True)
        out = os.path.join(OUT_ROOT,
                           f"trace-{args.workload}-{args.seed}.json")
        with open(out, "w") as fh:
            json.dump({"env": env, "workload": args.workload,
                       "seed": args.seed, "per_layer": metrics,
                       "end_to_end": result.e2e, "detail": result.detail},
                      fh, indent=1, sort_keys=True)
        for name, v in metrics.items():
            print(f"# layer {name:44s} {v:16.6g} {units[name]}")
    else:
        metrics = {m["name"]: result.e2e[m["name"]]
                   for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    note("detail", result.detail)
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
