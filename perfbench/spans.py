"""Spans around the ELT layers, recorded from outside the package.

``install`` wraps the public entry points of each layer for a traced
round, and ``uninstall`` puts the originals back:

- the stream's REST scan (the ``extract`` callable of each ``StreamSpec``);
- ``sources.pipeline.rows_to_df`` (JSON parse, with schema inference);
- the stream's transform callable (``operators.flatten`` / ``unnest``);
- ``Pipeline.sync_stream`` (what remains is its self time: persist, the
  quarantine probe and write, the typed projection, the row count);
- ``operators.upsert.ParquetUpsertSink.write``.

Each wrapper runs on the thread that makes the call, which for streams is
a worker of ``Pipeline.run``'s pool, and labels the Spark jobs it launches
with a job group of its own, so each span's jobs and stages can be read
back from the status store after the op. Spans stay in memory.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from dataclasses import dataclass, field

from harness import stage_metrics


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    attrs: dict = field(default_factory=dict)


class EltTracer:
    def __init__(self, spark, lake) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.lake = lake
        self.spans: list[Span] = []
        self.runs: list[tuple[float, int]] = []  # (seconds, pages) per Pipeline.run
        self.view_rounds: list[tuple[float, int]] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    # -- span plumbing -------------------------------------------------------

    def _span(self, name: str, fn, *args, **kwargs):
        stack = self._local.__dict__.setdefault("stack", [])
        sp = Span(name, time.perf_counter(), parent=stack[-1] if stack else None,
                  group=f"perfbench-{next(self._ids)}")
        with self._lock:
            idx = len(self.spans)
            self.spans.append(sp)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        stack.append(idx)
        try:
            return fn(*args, **kwargs), sp
        finally:
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            sp.end = time.perf_counter()

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from pubic_multi_platform_to_postgres_spark.operators.upsert import ParquetUpsertSink
        from pubic_multi_platform_to_postgres_spark.sources import pipeline as pl

        tr = self
        rows_to_df, sync_stream, write = pl.rows_to_df, pl.Pipeline.sync_stream, ParquetUpsertSink.write

        def traced_rows_to_df(spark, rows, stream):
            return tr._span("pipeline.parse", rows_to_df, spark, rows, stream)[0]

        def traced_sync_stream(self_, spark, spec, *a, **k):
            report, sp = tr._span("pipeline.stream", sync_stream, self_, spark, spec, *a, **k)
            sp.attrs["landed"] = sum(report.tables.values())
            sp.attrs["quarantined"] = sum(report.quarantined.values())
            return report

        def traced_write(self_, batch):
            _, sp = tr._span("upsert.write", write, self_, batch)
            sp.attrs["table_rows"] = _parquet_rows(str(self_.path))

        self._patch(pl, "rows_to_df", traced_rows_to_df)
        self._patch(pl.Pipeline, "sync_stream", traced_sync_stream)
        self._patch(ParquetUpsertSink, "write", traced_write)
        for specs in self.lake.specs.values():
            for spec in specs:
                ex, tf = spec.extract, spec.transform
                self._patch(spec, "extract", lambda bm, ex=ex: self._extract(ex, bm))
                self._patch(spec, "transform", lambda df, tf=tf: self._span("transform", tf, df)[0])

    def _extract(self, ex, bookmark):
        rows, sp = self._span("rest.extract", lambda: list(ex(bookmark)))
        sp.attrs["records"] = len(rows)
        return rows

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # -- per op --------------------------------------------------------------

    def begin_run(self, source: str) -> None:
        self._calls0 = len(self.lake.fetchers[source].transport.calls)
        self._source = source

    def end_run(self, seconds: float) -> None:
        pages = len(self.lake.fetchers[self._source].transport.calls) - self._calls0
        self.runs.append((seconds, pages))

    def views(self, seconds: float, jobs: int) -> None:
        self.view_rounds.append((seconds, jobs))

    # -- summary -------------------------------------------------------------

    def metrics(self) -> dict[str, float]:
        """Per-op sums of every layer, averaged over the traced ops."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        n = max(1, len(self.runs))
        tot: dict[str, float] = {}

        def add(key, v):
            tot[key] = tot.get(key, 0.0) + v

        child_s: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_s[sp.parent] = child_s.get(sp.parent, 0.0) + (sp.end - sp.start)
        batch_rows = rewritten = 0
        for i, sp in enumerate(self.spans):
            dur = sp.end - sp.start
            jobs = list(tracker.getJobIdsForGroup(sp.group))
            if sp.name == "rest.extract":
                add("rest.extract_s", dur)
                add("rest.records", sp.attrs["records"])
            elif sp.name == "pipeline.parse":
                add("pipeline.parse_s", dur)
                add("pipeline.parse_jobs", len(jobs))
            elif sp.name == "transform":
                add("transform.s", dur)
                add("transform.jobs", len(jobs))
            elif sp.name == "pipeline.stream":
                add("pipeline.stream_self_s", dur - child_s.get(i, 0.0))
                add("pipeline.stream_self_jobs", len(jobs))
                add("pipeline.landed_rows", sp.attrs.get("landed", 0))
                add("pipeline.quarantined_rows", sp.attrs.get("quarantined", 0))
                batch_rows += sp.attrs.get("landed", 0)
                add("stream_s", dur)
            elif sp.name == "upsert.write":
                st = stage_metrics(self.spark, jobs)
                add("upsert.write_s", dur)
                add("upsert.write_jobs", len(jobs))
                add("upsert.shuffle_write_bytes", st["shuffle_write_bytes"])
                add("upsert.spill_bytes", st["spill_bytes"])
                rewritten += sp.attrs.get("table_rows", 0)
        add("rest.pages", sum(pages for _, pages in self.runs))
        out = {k: v / n for k, v in tot.items() if k != "stream_s"}
        run_s = sum(seconds for seconds, _ in self.runs)
        out["pipeline.concurrency"] = tot.get("stream_s", 0.0) / run_s if run_s else 0.0
        out["upsert.rewrite_ratio"] = rewritten / batch_rows if batch_rows else 0.0
        if self.view_rounds:
            out["views.refresh_s"] = sum(s for s, _ in self.view_rounds) / len(self.view_rounds)
            out["views.jobs"] = sum(j for _, j in self.view_rounds) / len(self.view_rounds)
        return out


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path) if f.endswith(".parquet")
    )
