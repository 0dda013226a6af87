"""BM25 serving benchmark: one workload, one seed, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload point --seed 1 --seconds 5 --trace 0

``--workload``: ``point`` (driver point-read route) or ``cluster``
(filtered queries on the cluster shard-scorer route); see workloads.py.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans and per-layer probes and prints the per-layer metrics.
The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``; the exit code is 1 when any output check failed. The full
record of a run (environment, every metric, checks, spans) goes to
``perfbench/results/``.

Spark runs ``local[nproc]`` in this process, with one client thread.
Everything the run writes stays under ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

import probes
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1  # held-out seed for claims: 7919 (see README.md)


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def start_spark(work: str):
    from search_engine_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # no HotSpot perf-data file: it goes to /tmp/hsperfdata_<user>
    # whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    n = os.cpu_count() or 1
    spark = build_session(
        f"local[{n}]", app_name="perfbench", shuffle_partitions=n,
        spark__driver__memory="2g",
        spark__driver__extraJavaOptions=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        spark__local__dir=os.environ["SPARK_LOCAL_DIRS"],
        spark__sql__warehouse__dir=os.path.join(work, "warehouse"),
        spark__sql__session__timeZone="UTC",
        spark__ui__enabled="false",
        spark__ui__showConsoleProgress="false",
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait until the JVM and
    every Python worker it forked have exited."""
    from pyspark import SparkContext

    kids = probes.descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    # the workers exit once the JVM's end closes their sockets
    wait_gone(kids, 30)
    for p in kids:
        if probes.alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    wait_gone(kids, 10)


def wait_gone(pids, seconds: float) -> None:
    deadline = time.monotonic() + seconds
    while any(probes.alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("point", "cluster"))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "search_engine_spark", "__init__.py")):
        print(f"perfbench: no search_engine_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    env = probes.environment(ROOT)
    work = os.path.join(HERE, "work", str(os.getpid()))
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    t_run = time.perf_counter()
    spark = start_spark(work)
    phases = {"start": time.perf_counter() - t_run}
    try:
        tr = probes.Tracer(bool(args.trace))
        run = workloads.Run(spark, args.workload, args.seed, args.seconds, tr, work)
        steps = [run.setup, run.inputs, run.warm_up, run.window, run.checks]
        if args.trace:
            steps += [run.span_layers, run.layer_probes]
        for step in steps:
            t0 = time.perf_counter()
            step()
            phases[step.__name__] = time.perf_counter() - t0
        run.metrics["peak_rss_mb"] = probes.tree_peak_rss_mb()
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop"] = time.perf_counter() - t0

    units = metric_units("per_layer" if args.trace else "end_to_end")
    values = {**run.metrics, **run.layers}
    missing = [n for n in units if n not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    out = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
    }
    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}"
    record = {
        "args": vars(args), "environment": probes.finish_environment(env),
        "run_wall_s": time.perf_counter() - t_run, "phases_s": phases,
        "error_ratio": run.failed / run.attempted,
        "end_to_end": run.metrics, "per_layer": run.layers, **run.extra,
        "result": out,
    }
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tr.write(os.path.join(results, tag + ".spans.json"))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
