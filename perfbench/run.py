"""Benchmark entry point.

    python3 perfbench/run.py --workload elt_cycles --seed 1 --seconds 8 --trace 0

Runs one workload (``elt_cycles`` or ``catalog_light``, see
``workloads.json``) against the engine package in the current
directory, from one process with one client thread, on a Spark session
pinned to every core of the machine. Inputs are generated from
``--seed``; the timed section lasts at least ``--seconds``; outputs are
checked after it. A human-readable report goes to stderr and the last
line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics of
a traced run (``--trace 1``). Everything the run writes lives in a private
work directory under ``.perfbench_work/`` that is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
CONFIG = os.path.join(HERE, "workloads.json")
# the metric names and units printed: end_to_end (--trace 0), per_layer (--trace 1)
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _shape_environment(root: str, work_dir: str, cpus: int) -> None:
    """Session shape, set before Spark starts (recorded in workloads.json)."""
    # Python workers import the engine's UDF modules from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_BENCH"] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work_dir, d), exist_ok=True)


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def _peak_rss_mb(spark) -> float:
    import resource

    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    try:
        pid = spark._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            hwm = next(line for line in fh if line.startswith("VmHWM:"))
        return py + int(hwm.split()[1]) / 1024.0
    except (OSError, StopIteration):
        return py


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-fault", action="store_true",
                    help="self-test: corrupt one expected answer; the check must fail")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(CONFIG) as fh:
        cfg = json.load(fh)
    with open(BENCHMARK) as fh:
        metric_list = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    if args.workload not in cfg["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = cfg["workloads"][args.workload]
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "pubic_multi_platform_to_postgres_spark")):
        print("perfbench: the engine package is not in the current directory", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(1, HERE)
    cpus = len(os.sched_getaffinity(0))
    work_dir = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        _shape_environment(root, work_dir, cpus)
        return _run(args, cfg, wl, work_dir, cpus, metric_list)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass


def _run(args, cfg: dict, wl: dict, work_dir: str, cpus: int, metric_list: list[dict]) -> int:
    import catalog
    import datagen
    import elt
    from harness import Result, Runner, cpu_ticks, start_session, steal_share

    t0 = time.perf_counter()
    spark = start_session(work_dir, cpus)
    session_s = time.perf_counter() - t0
    runner = Runner(spark, cfg["op_limit_s"])
    res = Result(start=T_START)
    try:
        if wl["kind"] == "elt":
            elt.run(spark, runner, wl, work_dir, args.seed, args.seconds, bool(args.trace), res,
                    plant_fault=args.plant_fault)
        else:
            sf_dir = os.path.join(work_dir, "data")
            t_gen = time.perf_counter()
            datagen.write(sf_dir, wl["sf"], args.seed)
            res.input_s += time.perf_counter() - t_gen
            catalog.run(spark, runner, dict(wl, cpus=cpus), sf_dir, args.seconds,
                        bool(args.trace), res, plant_fault=args.plant_fault)
        res.counts["cpu_steal_share"] = round(steal_share(res.counts.pop("ticks_at_setup_done"), cpu_ticks()), 4)
        res.put("session.start_s", session_s)
        res.put("session.peak_rss_mb", _peak_rss_mb(spark))
    finally:
        runner.close()
        _stop(spark)

    metrics = {}
    for m in metric_list:
        value = res.metrics.get(m["name"], 0.0)
        if value != value:  # NaN: no successful op produced the metric
            value = 0.0
            res.correct = False
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    attempted = max(res.attempted, 1)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cpus": cpus,
        "fail_rate": res.failed / attempted, **res.counts, "problems": res.problems[:10],
    }
    print(json.dumps(report, default=str), file=sys.stderr)
    for n, m in metrics.items():
        print(f"  {n:44s} {m['value']:>14.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({"correct": res.correct, "attempted": attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
