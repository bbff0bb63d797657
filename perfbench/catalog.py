"""Catalog workloads: rounds over a fixed sample of registry rows.

Each op builds one row with ``REGISTRY[name].fn(spark, sf_dir)`` and writes
it to the ``noop`` sink, in bench mode, as ``bench.py`` does. A round runs
every sampled row once, in sample order; the run's seed generates the
tables the rows read. ``warmup_rounds`` untimed rounds warm the session
before the timed rounds. After them, every sampled row is collected once
through the same production path and compared with its DuckDB oracle.
"""

from __future__ import annotations

import math
import os
import random
import time
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from harness import Result, next_job_id, round_plan, stage_metrics, summarize_ops


def stratified_sample(pool: dict[str, float], k: int, seed: int) -> list[str]:
    """``k`` rows from ``pool`` (name → seconds per op at the workload's
    scale): the pool is sorted by time, cut into ``k`` equal strata, and
    one row is drawn from each, so every sample spans the pool's range."""
    rng = random.Random(seed)
    names = sorted(pool, key=lambda n: (pool[n], n))
    edges = [round(i * len(names) / k) for i in range(k + 1)]
    return [rng.choice(names[edges[i]:edges[i + 1]]) for i in range(k)]


def module_of(query) -> str:
    return query.fn.__module__.rsplit(".", 1)[1]


# -- correctness -------------------------------------------------------------


def _norm(v):
    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, pd.Timestamp) or type(v).__name__ == "datetime":
        v = pd.Timestamp(v)
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if v is pd.NaT or (not isinstance(v, str) and pd.isna(v)):
        return None
    return v if isinstance(v, str) else str(v)


def _key(v):
    """Sort key that tolerates mixed NULL/number/string cells and rounds
    floats, so near-equal rows of both sides sort to the same place."""
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, float(f"{v:.6g}"))
    if isinstance(v, (int, bool)):
        return (1, float(v))
    if isinstance(v, tuple):
        return (2, tuple(_key(x) for x in v))
    return (3, str(v))


def _close(a, b, rel: float) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y, rel) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not (
        isinstance(a, bool) or isinstance(b, bool)
    ):
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)
    return a == b


def frames_match(got, want, rel: float = 1e-6) -> str | None:
    """None when two pandas frames hold the same rows (any order): equal
    column sets and row counts, values equal as multisets with a relative
    tolerance on numbers. Otherwise a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    cols = sorted(want.columns)
    rows = [
        [tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
        for df in (got, want)
    ]
    if Counter(rows[0]) == Counter(rows[1]):
        return None
    a, b = (sorted(rs, key=lambda r: tuple(_key(v) for v in r)) for rs in rows)
    for x, y in zip(a, b):
        if not _close(x, y, rel):
            return f"row {x} != oracle {y}"
    return None


def oracle_frame(sql: str, sf_dir: str, tables):
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return con.execute(sql).df()
    finally:
        con.close()


# -- workload ------------------------------------------------------------------


def run(spark, runner, cfg: dict, sf_dir: str, seconds: float,
        trace: bool, res: Result, plant_fault: bool = False) -> None:
    """Warm up, time rounds for ``seconds`` (every other round traced when
    ``trace``), then check every sampled row; fills ``res``."""
    from pubic_multi_platform_to_postgres_spark.queries import REGISTRY

    names = stratified_sample(cfg["pool"], cfg["sample_rows"], cfg["sample_seed"])
    res.counts["sampled_rows"] = len(names)
    for _ in range(cfg["warmup_rounds"]):
        for name in names:
            runner.run(name, lambda q=REGISTRY[name]: _op(spark, q, sf_dir), record=False)

    # timed rounds: every sampled row once per round, in sample order (the
    # seed varies the data, not the work); a traced run interleaves
    # untraced rounds to measure the overhead
    res.setup_done()
    layers: dict[str, float] = {}
    rounds: list[float] = []
    traced_rounds: list[float] = []
    for traced in round_plan(seconds, cfg["min_rounds"], trace):
        t0 = time.perf_counter()
        for name in names:
            q = REGISTRY[name]
            runner.run(name, (lambda q=q: _traced_op(spark, q, sf_dir, layers))
                       if traced else (lambda q=q: _op(spark, q, sf_dir)))
        (traced_rounds if traced else rounds).append(time.perf_counter() - t0)

    out_rows = _check(spark, runner, names, sf_dir, res, plant_fault)
    summarize_ops(runner.ops, rounds, res)
    res.counts["round_times"] = [round(r, 2) for r in rounds + traced_rounds]
    ok = [o for o in runner.ops if o.status == "ok"]
    ok_s = sum(o.seconds for o in ok)
    res.put("rows_per_s", sum(out_rows[o.name] for o in ok) / ok_s if ok_s else float("nan"))
    # the generated tables' bytes per row: fixed by the seed, reported
    # because every end-to-end metric is reported for every workload
    res.put("lake_bytes_per_row", _lake_bytes_per_row(sf_dir))
    if trace:
        res.overhead(rounds, traced_rounds)
        busy, wall = layers.pop("busy_run_s", 0.0), layers.pop("busy_wall_s", 0.0) * cfg["cpus"]
        res.put("catalog.busy_share", busy / wall if wall else 0.0)
        for key, v in layers.items():  # per-round sums per module; the memory peak is a max
            res.put(f"queries.{key}", v if key.endswith("peak_exec_mem_bytes") else v / len(traced_rounds))


def _check(spark, runner, names: list[str], sf_dir: str, res: Result,
           plant_fault: bool) -> dict[str, int]:
    """Untimed: collect every sampled row once through the production path
    and compare it with its DuckDB oracle. A row that fails marks all its
    timed ops ``wrong``. Returns result rows per row name."""
    from pubic_multi_platform_to_postgres_spark.queries import REGISTRY
    from pubic_multi_platform_to_postgres_spark.queries.registry import TABLES

    out_rows: dict[str, int] = {}
    t_check = time.perf_counter()
    for name in names:
        q = REGISTRY[name]
        op = runner.run(name, lambda q=q: q.fn(spark, sf_dir).toPandas(), record=False)
        if op.status == "ok":
            got = op.value
            if plant_fault and name == names[0]:
                got = got.iloc[1:] if len(got) else got.iloc[:0]
            why = frames_match(got, oracle_frame(q.oracle, sf_dir, TABLES))
            out_rows[name] = len(got)
        else:
            why = f"check collect {op.status}: {op.detail}"
        if why is not None:
            res.correct = False
            res.problems.append(f"{name}: {why}")
            for o in runner.ops:
                if o.name == name and o.status == "ok":
                    o.status, o.detail = "wrong", why
    res.counts["check_s"] = round(time.perf_counter() - t_check, 2)
    return out_rows


def _op(spark, q, sf_dir: str) -> None:
    q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def _traced_op(spark, q, sf_dir: str, layers: dict[str, float]) -> None:
    """The same op split at the build/execute boundary: the ``fn`` call
    (plan construction, eager checkpoints and probes) and the noop write.
    Per-module sums go into ``layers``."""
    m = module_of(q)
    j0, t0 = next_job_id(spark), time.perf_counter()
    df = q.fn(spark, sf_dir)
    j1, t1 = next_job_id(spark), time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    j2, t2 = next_job_id(spark), time.perf_counter()
    stages = stage_metrics(spark, range(j0, j2))
    exec_stages = stage_metrics(spark, range(j1, j2))
    add = {"build_s": t1 - t0, "build_jobs": j1 - j0, "exec_s": t2 - t1, "exec_jobs": j2 - j1}
    add.update(stages)
    for f, v in add.items():
        key = f"{m}.{f}"
        layers[key] = max(layers.get(key, 0.0), v) if f == "peak_exec_mem_bytes" else layers.get(key, 0.0) + v
    layers["busy_run_s"] = layers.get("busy_run_s", 0.0) + exec_stages["executor_run_s"]
    layers["busy_wall_s"] = layers.get("busy_wall_s", 0.0) + (t2 - t1)


def _lake_bytes_per_row(sf_dir: str) -> float:
    from pubic_multi_platform_to_postgres_spark.queries.registry import TABLES

    size = rows = 0
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        size += os.path.getsize(path)
        rows += pq.ParquetFile(path).metadata.num_rows
    return size / rows
