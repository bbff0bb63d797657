"""ELT workload: steady landing cycles into an already-populated lake.

Three Singer-shaped sources are replayed from recorded REST sessions
(``sources.rest.RecordedTransport``), one per pagination style of the
reference taps:

- ``wrike``: token pages; ``tasks`` carries a nested ``dates`` struct that
  ``operators.flatten`` flattens;
- ``hubspot``: cursor pages; ``deals`` merges its ``properties`` struct and
  unnests ``associations.contacts`` into ``deals_contacts``, whose
  ``contacts_id`` key statistic the sink folds every landing;
- ``xero``: numbered pages; ``invoices`` flattens its ``Contact`` struct
  and splits ``LineItems`` into ``invoices_lines``.

Set-up lands a bootstrap cycle of over ten thousand rows per main table
through the same pipelines. Every later cycle delivers a batch much
smaller than the landed table: about three quarters of it re-deliveries
(identical, stale or updated) of landed keys, a quarter new keys, and 1%
rows whose value fails the declared cast and must land in
``_quarantine``. A round is one
scheduler cycle: ``Pipeline.run`` per source (one op each), then the
view models are materialized and read (one op).

The generator also computes, in plain Python, the lake the cycles must
produce (last write wins per key: by replication key, then delivery
order), and the checks compare the landed tables with it after the
timed section.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from harness import Result, next_job_id, round_plan, summarize_ops

# -- stream declarations (the reference's JSON-Schema dialect) ---------------

_S = {"type": ["null", "string"]}
_N = {"type": ["null", "number"]}
_I = {"type": ["null", "integer"]}
_TS = {"type": ["null", "string"], "format": "date-time"}


def _obj(*names, **typed):
    props = {n: _S for n in names}
    props.update(typed)
    return {"type": "object", "properties": props, "additionalProperties": False}


SCHEMAS = {
    "tasks": _obj("id", "title", "status", "importance", "updatedDate",
                  "dates-start", "dates-due", "dates-type",
                  effort=_I, createdDate=_TS, completedDate=_TS),
    "deals": _obj("id", "dealname", "dealstage", "pipeline", "updatedAt", amount=_N),
    "deals_contacts": _obj("id", "parent_id", "contacts_id", "contacts_type"),
    "invoices": _obj("InvoiceID", "InvoiceNumber", "Type", "Status", "CurrencyCode",
                     "UpdatedDateUTC", "Contact-ContactID", "Contact-Name", Total=_N),
    "invoices_lines": _obj("id", "parent_id", "LineItemID", "Description", "AccountCode",
                           Quantity=_N, UnitAmount=_N),
}
KEYS = {"invoices": "InvoiceID"}  # every other table is keyed on "id"
REPLICATION = {"tasks": "updatedDate", "deals": "updatedAt", "invoices": "UpdatedDateUTC"}
# the field a bad delivery corrupts, per main stream
BAD_FIELD = {"tasks": "effort", "deals": "amount", "invoices": "Total"}
CHILD = {"tasks": None, "deals": "deals_contacts", "invoices": "invoices_lines"}
SOURCES = ("wrike", "hubspot", "xero")
KEY_PREFIX = {"tasks": "t", "deals": "d", "invoices": "i"}
WORDS = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "theta"]
_T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _iso(seconds: int) -> str:
    return (_T0 + timedelta(seconds=seconds)).strftime("%Y-%m-%dT%H:%M:%S.000Z")


# -- seeded generator + golden lake ------------------------------------------


@dataclass
class Generator:
    """Entity versions per stream, the recorded page sessions delivering
    them, and the golden lake those deliveries must produce."""

    seed: int
    sizes: dict
    rng: random.Random = field(init=False)
    clock: int = 0
    versions: dict = field(default_factory=dict)  # stream -> key -> [row,…]
    golden: dict = field(default_factory=dict)  # table -> key -> flat row
    expect: list = field(default_factory=list)  # per cycle: table -> (landed, quarantined)

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        self.versions = {s: {} for s in CHILD}
        self.golden = {t: {} for t in SCHEMAS}
        self.next_key = dict.fromkeys(CHILD, 0)

    # raw wire rows, one constructor per stream -------------------------------

    def _tick(self) -> str:
        self.clock += 1
        return _iso(self.clock)

    def _task(self, key: str, created: str | None) -> dict:
        r = self.rng
        status = r.choice(["Active", "Completed", "Deferred"])
        created = created or self._tick()
        start = (_T0 + timedelta(days=r.randrange(300))).strftime("%Y-%m-%d")
        return {
            "id": key, "title": f"{r.choice(['Proposal', 'Quote', 'Task'])} {r.choice(WORDS)} {key}",
            "status": status, "importance": r.choice(["High", "Normal", "Low"]),
            "effort": r.randrange(1, 400), "createdDate": created,
            "updatedDate": self._tick(),
            "completedDate": self._tick() if status == "Completed" else None,
            "dates": {"start": start, "due": start[:8] + "28", "type": r.choice(["Planned", "Milestone"])},
            "permalink": f"https://example.invalid/{key}",
        }

    def _deal(self, key: str) -> dict:
        r = self.rng
        updated = self._tick()
        return {
            "id": key, "updatedAt": updated, "archived": False,
            "properties": {
                "dealname": f"{r.choice(WORDS)} deal {key}", "amount": round(r.uniform(100, 90000), 2),
                "dealstage": r.choice(["appointment", "qualified", "closedwon", "closedlost"]),
                "pipeline": r.choice(["default", "enterprise"]),
            },
            "associations": {"contacts": {"results": [
                {"id": f"c{c}", "type": "deal_to_contact"}
                for c in r.sample(range(self.sizes["deals"]), r.randint(1, 3))
            ]}},
        }

    def _invoice(self, key: str) -> dict:
        r = self.rng
        lines = [
            {"LineItemID": f"L{i}", "Description": f"{r.choice(WORDS)} service",
             "AccountCode": str(r.choice([200, 310, 400, 429])),
             "Quantity": float(r.randint(1, 20)), "UnitAmount": round(r.uniform(5, 900), 2)}
            for i in range(r.randint(1, 4))
        ]
        return {
            "InvoiceID": key, "InvoiceNumber": f"INV-{key}", "Type": r.choice(["ACCREC", "ACCPAY"]),
            "Status": r.choice(["DRAFT", "AUTHORISED", "PAID"]), "CurrencyCode": "USD",
            "UpdatedDateUTC": self._tick(),
            "Contact": {"ContactID": f"x{r.randrange(5000)}", "Name": r.choice(WORDS).title()},
            "Total": round(sum(li["Quantity"] * li["UnitAmount"] for li in lines), 2),
            "LineItems": lines,
        }

    def _new_version(self, stream: str, key: str) -> dict:
        old = self.versions[stream].get(key)
        if stream == "tasks":
            return self._task(key, old[0]["createdDate"] if old else None)
        if stream == "deals":
            return self._deal(key)
        return self._invoice(key)

    # flat landed rows the pipeline must produce for one delivered row --------

    @staticmethod
    def flat(stream: str, row: dict) -> dict[str, list[dict]]:
        if stream == "tasks":
            main = {k: row[k] for k in SCHEMAS["tasks"]["properties"] if k in row}
            main.update({f"dates-{k}": v for k, v in row["dates"].items()})
            return {"tasks": [main]}
        if stream == "deals":
            main = {"id": row["id"], "updatedAt": row["updatedAt"], **row["properties"]}
            kids = [{"id": f"{row['id']}_{a['id']}", "parent_id": row["id"],
                     "contacts_id": a["id"], "contacts_type": a["type"]}
                    for a in row["associations"]["contacts"]["results"]]
            return {"deals": [main], "deals_contacts": kids}
        main = {k: v for k, v in row.items() if k not in ("Contact", "LineItems")}
        main.update({f"Contact-{k}": v for k, v in row["Contact"].items()})
        kids = [{"id": f"{row['InvoiceID']}_{li['LineItemID']}", "parent_id": row["InvoiceID"], **li}
                for li in row["LineItems"]]
        return {"invoices": [main], "invoices_lines": kids}

    def _apply(self, stream: str, row: dict, bad: bool) -> dict[str, int]:
        """Fold one delivered row into the golden lake; returns rows per
        table it lands (the bad parent row lands nowhere, its children do)."""
        landed = {}
        for table, rows in self.flat(stream, row).items():
            if bad and table == stream:
                continue
            key_col, rk = KEYS.get(table, "id"), REPLICATION.get(table)
            for flat in rows:
                key = flat[key_col]
                cur = self.golden[table].get(key)
                if cur is None or rk is None or flat[rk] >= cur[rk]:
                    self.golden[table][key] = flat
            landed[table] = landed.get(table, 0) + len(rows)
        return landed

    # one cycle ----------------------------------------------------------------

    def cycle(self, bootstrap: bool) -> dict[str, list[dict]]:
        """Rows delivered per main stream this cycle (golden lake and the
        per-table expectations are updated as a side effect)."""
        r = self.rng
        out: dict[str, list[dict]] = {}
        expect: dict[str, list[int]] = {t: [0, 0] for t in SCHEMAS}
        for stream in CHILD:
            store = self.versions[stream]
            n = self.sizes[stream] if bootstrap else self.sizes[f"{stream}_batch"]
            n_new = n if bootstrap else n // 4
            landed_keys = list(store)
            old_keys = r.sample(landed_keys, n - n_new) if n > n_new else []
            first = self.next_key[stream]
            new_keys = [f"{KEY_PREFIX[stream]}{k}" for k in range(first, first + n_new)]
            self.next_key[stream] += n_new
            rows = []
            n_bad = 0 if bootstrap or stream not in BAD_FIELD else max(1, n // 100)
            bad_slots = set(r.sample(range(len(old_keys)), n_bad))
            for i, key in enumerate(old_keys + new_keys):
                hist = store.get(key)
                kind = r.random()
                if i in bad_slots:
                    # a corrupt re-send: newer stamp, a value failing its cast
                    row = json.loads(json.dumps(hist[-1]))
                    row[REPLICATION[stream]] = self._tick()
                    if stream == "deals":
                        row["properties"]["amount"] = "TBD"
                    else:
                        row[BAD_FIELD[stream]] = "n/a"
                    expect[stream][1] += 1
                elif hist is None or kind < 0.5:
                    row = self._new_version(stream, key)
                    store.setdefault(key, []).append(row)
                elif kind < 0.85 or len(hist) == 1:
                    row = hist[-1]  # identical re-delivery
                else:
                    row = r.choice(hist[:-1])  # stale re-delivery of an old version
                for t, k in self._apply(stream, row, i in bad_slots).items():
                    expect[t][0] += k
                rows.append(row)
            r.shuffle(rows)
            out[stream] = rows
        self.expect.append({t: tuple(v) for t, v in expect.items() if v != [0, 0]})
        return out


def recordings(delivered: dict[str, list[dict]], page: int) -> dict[str, dict[str, list]]:
    """Recorded page sessions per source, one pagination style each."""
    def chunks(rows):
        return [rows[i:i + page] for i in range(0, len(rows), page)] or [[]]

    rec: dict[str, dict[str, list]] = {s: {} for s in SOURCES}
    cs = chunks(delivered["tasks"])  # token pages
    rec["wrike"]["tasks"] = [
        {"data": c, "responseSize": len(c), **({"nextPageToken": f"p{i + 1}"} if i + 1 < len(cs) else {})}
        for i, c in enumerate(cs)
    ]
    cs = chunks(delivered["deals"])  # cursor pages
    rec["hubspot"]["deals"] = [
        {"results": c, **({"paging": {"next": {"after": f"a{i + 1}"}}} if i + 1 < len(cs) else {})}
        for i, c in enumerate(cs)
    ]
    cs = chunks(delivered["invoices"])  # numbered pages
    rec["xero"]["Invoices"] = [{"Invoices": c, "pagination": {"pageCount": len(cs)}} for c in cs]
    return rec


# -- the engine's pipelines ------------------------------------------------------


class Lake:
    """Three ``Pipeline`` objects over one lake root; ``feed`` swaps in the
    next cycle's recorded sessions."""

    def __init__(self, root: str, page: int) -> None:
        from pubic_multi_platform_to_postgres_spark.operators.flatten import flatten, merge_struct
        from pubic_multi_platform_to_postgres_spark.operators.unnest import (
            split_substream,
            unnest_association,
        )
        from pubic_multi_platform_to_postgres_spark.plans.catalog import Catalog
        from pubic_multi_platform_to_postgres_spark.sources import rest
        from pubic_multi_platform_to_postgres_spark.sources.pipeline import Pipeline, StreamSpec

        self.root = root
        self.fetchers: dict[str, rest.Fetcher] = {}
        cat = Catalog()
        for table, schema in SCHEMAS.items():
            cat.register_json_schema(
                table, schema, key_properties=[KEYS.get(table, "id")],
                replication_key=REPLICATION.get(table),
                parent=next((p for p, c in CHILD.items() if c == table), None),
            )

        def f(src):
            return lambda: self.fetchers[src]

        wrike, hubspot, xero = f("wrike"), f("hubspot"), f("xero")

        def tasks_t(df):
            return {"tasks": flatten(df)}

        def deals_t(df):
            kids = unnest_association(df, "contacts", "id")
            return {"deals": merge_struct(df.drop("associations"), "properties"), "deals_contacts": kids}

        def invoices_t(df):
            kids = split_substream(df, "LineItems", parent_key="InvoiceID", key_parts=["LineItemID"])
            return {"invoices": flatten(df.drop("LineItems")), "invoices_lines": kids}

        self.specs = {
            "wrike": [
                StreamSpec(cat.get("tasks"), lambda bm: rest.scan_token(wrike(), "tasks", page_size=page), tasks_t),
            ],
            "hubspot": [
                StreamSpec(cat.get("deals"), lambda bm: rest.scan_cursor(hubspot(), "deals", page_size=page),
                           deals_t, key_stat_cols=["contacts_id"]),
            ],
            "xero": [
                StreamSpec(cat.get("invoices"), lambda bm: rest.scan_numbered(xero(), "Invoices", results_key="Invoices"),
                           invoices_t),
            ],
        }
        self.pipelines = {s: Pipeline(s, cat, specs, root) for s, specs in self.specs.items()}
        self._rest = rest

    def feed(self, rec: dict[str, dict[str, list]]) -> None:
        rest = self._rest
        self.fetchers = {
            s: rest.Fetcher(transport=rest.RecordedTransport(pages), retry=rest.RetryPolicy(sleep=lambda s: None))
            for s, pages in rec.items()
        }

    def refresh_views(self, spark) -> int:
        """``plans.views`` refresh over the landed ``tasks`` table and a
        read of both view models; returns the rows read."""
        from pubic_multi_platform_to_postgres_spark.plans.views import reference_models

        spark.read.parquet(os.path.join(self.root, "tasks")).createOrReplaceTempView("tasks")
        reference_models().materialize(spark)
        return sum(spark.table(v).count() for v in ("proposal_durations", "quote_durations"))

    def bookmarks(self) -> dict[str, str]:
        from pubic_multi_platform_to_postgres_spark.sources.state import BookmarkManager

        out: dict[str, str] = {}
        for s in SOURCES:
            out.update(BookmarkManager.load(os.path.join(self.root, f"state_{s}.json")).as_dict())
        return out


def _report_problem(reports, want: dict) -> str | None:
    bad = [r.error for r in reports if not r.ok]
    if bad:
        return f"stream error: {bad[0][:300]}"
    for r in reports:
        for t, n in r.tables.items():
            if (n, r.quarantined.get(t, 0)) != want.get(t, (0, 0)):
                return f"{t}: landed/quarantined {(n, r.quarantined.get(t, 0))} != {want.get(t)}"
    return None


# -- workload --------------------------------------------------------------------


def _views_expected(golden) -> int:
    n = 0
    for row in golden["tasks"].values():
        title = (row.get("title") or "").lower()
        if row["status"] == "Completed" and row.get("createdDate") and row.get("completedDate"):
            n += ("proposal" in title) + ("quote" in title)
    return n


def _read_table(path: str) -> list[dict]:
    """A landed parquet table as rows, read with pyarrow (independently of
    the engine); timestamps in the wire format the sources deliver."""
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    ts_cols = [f.name for f in t.schema if str(f.type).startswith("timestamp")]
    rows = t.to_pylist()
    for r in rows:
        for c in ts_cols:
            if r[c] is not None:
                r[c] = r[c].strftime("%Y-%m-%dT%H:%M:%S.") + f"{r[c].microsecond // 1000:03d}Z"
    return rows


def check_lake(lake: Lake, gen: Generator) -> list[str]:
    """Landed tables vs the golden lake, exact quarantine totals."""
    import pyarrow.parquet as pq

    problems = []
    for table, cols in SCHEMAS.items():
        names = list(cols["properties"])
        key = KEYS.get(table, "id")
        got = {r[key]: r for r in _read_table(os.path.join(lake.root, table))}
        want = {k: {c: v.get(c) for c in names} for k, v in gen.golden[table].items()}
        if got.keys() != want.keys():
            miss, extra = want.keys() - got.keys(), got.keys() - want.keys()
            problems.append(f"{table}: {len(miss)} keys missing {sorted(miss)[:3]}, {len(extra)} extra {sorted(extra)[:3]}")
            continue
        diff = next((k for k in want if _row_diff(got[k], want[k])), None)
        if diff is not None:
            problems.append(f"{table}: row {diff} landed {got[diff]} != golden {want[diff]}")
    for table in BAD_FIELD:
        want_q = sum(e.get(table, (0, 0))[1] for e in gen.expect)
        qpath = os.path.join(lake.root, "_quarantine", table)
        got_q = pq.read_table(qpath).num_rows if os.path.exists(qpath) else 0
        if got_q != want_q:
            problems.append(f"_quarantine/{table}: {got_q} rows != {want_q}")
    return problems


def _row_diff(got: dict, want: dict) -> bool:
    for c, w in want.items():
        g = got.get(c)
        if isinstance(w, float) or isinstance(g, float):
            if g is None or w is None or abs(float(g) - float(w)) > 1e-9 * max(1.0, abs(float(w))):
                return True
        elif g != w:
            return True
    return False


def lake_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def run(spark, runner, cfg: dict, work_dir: str, seed: int, seconds: float,
        trace: bool, res: Result, plant_fault: bool = False) -> None:
    """Set up, time landing cycles for ``seconds`` (every other cycle under
    the tracer when ``trace``), then check the lake; fills ``res``."""
    from spans import EltTracer

    gen = Generator(seed, cfg["sizes"])
    lake = Lake(os.path.join(work_dir, "lake"), cfg["page_rows"])
    tracer = EltTracer(spark, lake) if trace else None
    problems = res.problems

    def one_cycle(bootstrap: bool, record: bool, traced: bool) -> tuple[float, int]:
        t_gen = time.perf_counter()
        lake.feed(recordings(gen.cycle(bootstrap), cfg["page_rows"]))
        res.input_s += time.perf_counter() - t_gen
        want = gen.expect[-1]
        landed = 0
        t0 = time.perf_counter()
        for src, pipe in lake.pipelines.items():
            if traced:
                tracer.begin_run(src)
            op = runner.run(src, lambda p=pipe: p.run(spark), record=record)
            if traced:
                tracer.end_run(op.seconds)
            if op.status == "ok":
                why = _report_problem(op.value, want)
                if why is not None:
                    op.status, op.detail = "wrong", why
                    res.correct = False
                    problems.append(f"{src}: {why}")
                else:
                    landed += sum(n for r in op.value for n in r.tables.values())
        j0, tv = next_job_id(spark), time.perf_counter()
        op = runner.run("views", lambda: lake.refresh_views(spark), record=record)
        if traced:
            tracer.views(time.perf_counter() - tv, next_job_id(spark) - j0)
        if op.status == "ok" and op.value != _views_expected(gen.golden):
            op.status, op.detail = "wrong", f"view rows {op.value} != {_views_expected(gen.golden)}"
            res.correct = False
            problems.append(op.detail)
        return time.perf_counter() - t0, landed

    # set-up: land the bootstrap cycle (the JVM's cold pass over every
    # landing path), then warm up until cycle time levels off
    one_cycle(bootstrap=True, record=False, traced=False)
    for _ in range(cfg["warmup_cycles"]):
        one_cycle(bootstrap=False, record=False, traced=False)
    res.setup_done()

    rounds, landed, traced_rounds = [], 0, []
    marks = [lake.bookmarks()]
    for traced in round_plan(seconds, cfg["min_rounds"], tracer is not None):
        if traced:
            tracer.install()
        try:
            secs, n = one_cycle(bootstrap=False, record=True, traced=traced)
        finally:
            if traced:
                tracer.uninstall()
        (traced_rounds if traced else rounds).append(secs)
        landed += n
        marks.append(lake.bookmarks())

    # checks, untimed; the lake is the work of every timed op, so a wrong
    # lake marks them all wrong
    run_problems = []
    for a, b in zip(marks, marks[1:]):
        stale = [s for s in b if not (s in a and b[s] > a[s])]
        if stale or len(b) != len(CHILD):
            run_problems.append(f"bookmarks did not advance: {stale or sorted(b)}")
            break
    if plant_fault:
        gen.golden["deals"].pop(next(iter(gen.golden["deals"])))
    t_check = time.perf_counter()
    run_problems += check_lake(lake, gen)
    res.counts["check_s"] = round(time.perf_counter() - t_check, 2)
    if run_problems:
        res.correct = False
        problems.extend(run_problems)
        for o in runner.ops:
            if o.status == "ok":
                o.status, o.detail = "wrong", run_problems[0]
    all_rounds = rounds + traced_rounds
    summarize_ops(runner.ops, rounds or all_rounds, res, by_kind=True)
    res.counts["round_times"] = [round(r, 2) for r in all_rounds]
    res.put("rows_per_s", landed / sum(all_rounds))
    n_rows = sum(len(t) for t in gen.golden.values())
    res.put("lake_bytes_per_row", lake_bytes(lake.root) / n_rows)
    res.counts.update(
        lake_rows={t: len(v) for t, v in gen.golden.items()},
        batch_rows={s: cfg["sizes"][f"{s}_batch"] for s in CHILD},
    )
    if tracer is not None:
        res.metrics.update(tracer.metrics())
        res.overhead(rounds, traced_rounds)
