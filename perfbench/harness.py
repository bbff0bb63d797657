"""Measurement core shared by every workload: the Spark session, one op
runner with a job counter and a watchdog, stage metrics from the status
store, and the percentile summary.

Jobs are counted as the change in the scheduler's next job id across an
op, not through a job group: ``Pipeline.run`` lands streams on a thread
pool whose workers do not inherit the caller's job group, so a group set
around the op would miss most of its jobs.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field


def start_session(work_dir: str, cpus: int):
    """The engine's own session factory, pinned to ``cpus`` cores, with
    the warehouse under the run's private work directory and the job and
    stage history kept long enough to attribute every op's stages."""
    from pubic_multi_platform_to_postgres_spark.session import get_session

    return get_session(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "200",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work_dir}",
        },
    )


def next_job_id(spark) -> int:
    """Id the scheduler will give the next job (jobs launched so far)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


class Watchdog:
    """One thread that cancels every running job of an op that outlives
    its time limit, and keeps cancelling until the op returns."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._cv = threading.Condition()
        self._deadline: float | None = None
        self._fired = False
        self._stop = False
        self._thread = threading.Thread(target=self._loop, name="perfbench-watchdog", daemon=True)
        self._thread.start()

    def arm(self, limit_s: float) -> None:
        with self._cv:
            self._deadline = time.monotonic() + limit_s
            self._fired = False
            self._cv.notify()

    def disarm(self) -> bool:
        """Stop watching the current op; True when it was cancelled."""
        with self._cv:
            self._deadline = None
            return self._fired

    def close(self) -> None:
        with self._cv:
            self._stop = True
            self._cv.notify()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        with self._cv:
            while not self._stop:
                if self._deadline is None:
                    self._cv.wait()
                    continue
                left = self._deadline - time.monotonic()
                if left > 0:
                    self._cv.wait(left)
                    continue
                self._fired = True
                self._sc.cancelAllJobs()
                self._cv.wait(1.0)


@dataclass
class Op:
    name: str
    seconds: float
    jobs: int
    status: str  # "ok" | "error" | "timed_out" | "wrong"
    detail: str = ""
    value: object = None


class Runner:
    """Runs ops one at a time under the watchdog and records each."""

    def __init__(self, spark, limit_s: float) -> None:
        self.spark = spark
        self.limit_s = limit_s
        self.watchdog = Watchdog(spark)
        self.ops: list[Op] = []

    def run(self, name: str, fn, record: bool = True) -> Op:
        j0 = next_job_id(self.spark)
        self.watchdog.arm(self.limit_s)
        t0 = time.perf_counter()
        value, status, detail = None, "ok", ""
        try:
            value = fn()
        except Exception as exc:  # noqa: BLE001 — one failed op must not end the run
            status, detail = "error", f"{type(exc).__name__}: {str(exc)[:300]}"
        seconds = time.perf_counter() - t0
        if self.watchdog.disarm():
            status = "timed_out"
        op = Op(name, seconds, next_job_id(self.spark) - j0, status, detail, value)
        if record:
            self.ops.append(op)
        return op

    def close(self) -> None:
        self.watchdog.close()


def stage_metrics(spark, job_ids) -> dict[str, float]:
    """Summed task metrics of every stage the given jobs ran, read from
    the live status store (works with the UI disabled)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(
        ("tasks", "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes", "executor_run_s"),
        0.0,
    )
    store = sc._jsc.sc().statusStore()
    for sid in stage_ids:
        try:
            attempts = store.stageData(sid, False, None, False, sc._gateway.new_array(sc._jvm.double, 0))
        except Exception:  # noqa: BLE001 — a stage evicted from the store adds nothing
            continue
        for i in range(attempts.size()):
            s = attempts.apply(i)
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"], s.peakExecutionMemory())
            out["executor_run_s"] += s.executorRunTime() / 1000.0
    return out


def round_plan(seconds: float, min_rounds: int, trace: bool):
    """Yield, per timed round, whether it runs traced. A plain run times
    rounds until ``seconds`` have passed and ``min_rounds`` are done. A
    traced run alternates untraced and traced rounds, starting and ending
    untraced, under the same limits on its traced rounds, so drift along
    the run (the JVM still warming, the host's load) falls alike on both
    sides of the tracing overhead."""
    t_end = time.perf_counter() + seconds
    n = 0
    while n < min_rounds or time.perf_counter() < t_end:
        if trace:
            yield False
        yield trace
        n += 1
    if trace:
        yield False


def cpu_ticks() -> list[int]:
    """Machine-wide CPU tick counters (user … steal) from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: a noisy-neighbour gauge for the timed section."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile that leaves at least ten samples above it:
    ``(value, percentile)``. Below 21 samples no percentile above the
    median leaves ten above it, so the maximum is reported instead."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


@dataclass
class Result:
    start: float = 0.0  # perf_counter() at process start
    input_s: float = 0.0  # time the benchmark spent generating inputs
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, float] = field(default_factory=dict)
    counts: dict[str, object] = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)

    def put(self, name: str, value: float) -> None:
        self.metrics[name] = float(value)

    def setup_done(self) -> None:
        """Mark the first timed op: ``setup_s`` is the time since process
        start less the benchmark's own input generation."""
        self.put("setup_s", time.perf_counter() - self.start - self.input_s)
        self.counts["input_s"] = round(self.input_s, 2)
        self.counts["ticks_at_setup_done"] = cpu_ticks()

    def overhead(self, untraced: list[float], traced: list[float]) -> None:
        """Tracing overhead: median traced round minus median untraced round."""
        if untraced and traced:
            self.put("trace.overhead_s", statistics.median(traced) - statistics.median(untraced))


def summarize_ops(ops: list[Op], rounds: list[float], res: Result, by_kind: bool = False) -> None:
    """End-to-end op metrics shared by every workload. With ``by_kind``
    the median and tail are taken per op name and averaged over the names,
    for rounds made of a few ops of very different kinds."""
    ok = [o for o in ops if o.status == "ok"]
    res.attempted += len(ops)
    res.failed += len(ops) - len(ok)
    groups: dict[str, list[float]] = {}
    for o in ok:
        groups.setdefault(o.name if by_kind else "", []).append(o.seconds)
    if groups:
        tails = [tail(g) for g in groups.values()]
        res.put("op_s_p50", statistics.mean(statistics.median(g) for g in groups.values()))
        res.put("op_s_tail", statistics.mean(t for t, _ in tails))
        pct = min(p for _, p in tails)
    else:
        res.put("op_s_p50", float("nan"))
        res.put("op_s_tail", float("nan"))
        pct = float("nan")
    res.put("round_s", statistics.median(rounds) if rounds else float("nan"))
    res.put("jobs_per_op", statistics.mean(o.jobs for o in ok) if ok else float("nan"))
    res.counts.update(
        ops=len(ops), rounds=len(rounds), op_s_tail_percentile=round(pct, 1),
        op_samples={k or "all": len(g) for k, g in groups.items()},
        failures=[f"{o.name}: {o.status} {o.detail}" for o in ops if o.status != "ok"][:10],
    )
