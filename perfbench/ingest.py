"""``ingest`` workload: one delta through the product pipeline, then query it.

One timed unit is what ``main.py`` does per delta plus the first reads a
dashboard makes once the delta is committed:

1. ``Pipeline.ingest_pages`` of one seeded delta parquet (``--ingest``),
2. one ``Pipeline.run`` with the default ``parse_impl="hybrid"``,
3. ``read_all_sinks`` + ``server.make_server``, exactly as ``--serve``,
4. a fixed request mix over HTTP from one closed-loop client: a
   filter-tree search, its cursor page 2, a DSL search, facets over the
   search's filter and a ``query_range``. One client, not two, because
   the traced run charges handler spans to the one request in flight.

The first unit runs on the fresh warehouse that set-up made, in a fresh
JVM. Every warm unit starts, untimed, from a copy of the warehouse as the
first unit left it, so each appends the second delta to a warehouse that
holds one: the incremental read from the checkpoint, the full-sink
aggregate overwrite and the two-group sink scans all run, and every warm
unit does the same work. (On one growing warehouse each unit is slower
than the last, so the median of a few units would be the time of one.)

Checks run after each unit, untimed: each response against the DuckDB
search/facets/range twins over the committed sink files, the checkpoint against
the pages head, and the sinks and aggregates against
``oracle.route_counts_sql`` / ``oracle.windowed_counts_sql`` over the
pages the warehouse holds.
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import threading
import time

from perfbench import checks, inputs, stats

DELTA_PAGES = 1000

# seeded request parameters; each is valid on every delta
LEVELS = ["ERROR", "WARN", "INFO"]
HOSTS = ["hot0.example", "hot1.example", "hot2.example"]
SERVICES = [f"svc{i}" for i in range(7)]
SELECT = ["id", "timestamp", "level", "message", "source"]


def request_mix(rng) -> list[tuple[str, str, dict]]:
    day = int(rng.integers(1, 6))
    start, end = f"2024-01-0{day}T00:00:00Z", f"2024-01-0{day + 2}T00:00:00Z"
    tree = {
        "start": start, "end": end, "limit": 50, "select_columns": SELECT,
        "node": {"or": [
            {"field": "level", "op": "eq", "value": LEVELS[int(rng.integers(0, 3))]},
            {"field": "source", "op": "eq", "value": HOSTS[int(rng.integers(0, 3))]},
        ]},
    }
    dsl = {
        "q": f"level:{LEVELS[int(rng.integers(0, 3))]} "
             f"metadata.service:{SERVICES[int(rng.integers(0, 7))]} "
             f"since:{start} until:{end}",
        "limit": 50, "select_columns": SELECT,
    }
    facets = {"start": start, "end": end, "node": tree["node"],
              "facets": ["level", "source"], "histogram": "hour", "top_k": 5}
    rng_body = {"start": "2024-01-01T00:00:00Z", "end": "2024-01-08T00:00:00Z",
                "step": "6h", "by": ["level"]}
    return [("search", "/api/logs/search", tree), ("page2", "/api/logs/search", tree),
            ("dsl", "/api/logs/search", dsl), ("facets", "/api/logs/facets", facets),
            ("range", "/api/logs/query_range", rng_body)]


def post(port: int, path: str, body: dict) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", path, json.dumps(body), {"Content-Type": "application/json"})
        return json.loads(conn.getresponse().read())
    finally:
        conn.close()


class Ingest:
    name = "ingest"

    def __init__(self, spark, work: str, seed: int, tracer):
        import numpy as np

        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.rng = np.random.default_rng([seed, 3])
        self.dims_dir = os.path.join(work, "dims")
        self.records_routed: list[int] = []
        self.sink_records: list[int] = []  # records in the sinks after each unit
        self.sink_files: list[int] = []  # sink data files after each unit
        self.failures: list[str] = []
        self.requests: list[dict] = []  # kind, client_s, span, rows, sink_files
        self.sizes = {"delta_pages": DELTA_PAGES}

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        """Fresh warehouse with the dims committed, first delta written."""
        from logzilla_spark.plans.pipeline import Pipeline
        from logzilla_spark.sources.catalog import LocalCatalog
        from logzilla_spark.testdata import dim_lang_pdf, dim_severity_pdf

        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.dims_dir)
        dims = self.dims_dir
        dim_lang_pdf().to_parquet(os.path.join(dims, "dim_lang.parquet"), index=False)
        dim_severity_pdf().to_parquet(os.path.join(dims, "dim_severity.parquet"), index=False)
        self.base = None  # warehouse and delta as the first unit leaves them
        self.n_units = 0
        self.next_page = inputs.page_offset(self.seed)
        self._new_unit_dirs()
        self.cat = LocalCatalog(self.warehouse)
        self.pipe = Pipeline(self.spark, self.cat, parse_impl="hybrid")
        self.pipe.set_dims(
            self.spark.read.parquet(os.path.join(dims, "dim_lang.parquet")),
            self.spark.read.parquet(os.path.join(dims, "dim_severity.parquet")),
        )

    def _new_unit_dirs(self) -> None:
        """A warehouse and a pages directory for the next unit, and its delta."""
        unit = os.path.join(self.work, f"unit-{self.n_units:04d}")
        self.warehouse = os.path.join(unit, "warehouse")
        self.pages_dir = os.path.join(unit, "pages")
        os.makedirs(self.pages_dir)
        self.delta = os.path.join(self.pages_dir, "delta.parquet")
        self.delta_lines = inputs.write_pages(self.delta, DELTA_PAGES, self.next_page)
        self.next_page += DELTA_PAGES

    def _restore_base(self) -> None:
        """Start the next unit from the warehouse the first unit left.

        Only the metadata is copied: snapshot manifests, bloom sidecars
        and the checkpoint log. Manifests name data files by absolute
        path, so the copy reads the first unit's data files, which no
        pipeline step deletes; the unit writes its own new files into
        its own warehouse."""
        from logzilla_spark.plans.pipeline import Pipeline
        from logzilla_spark.sources.catalog import LocalCatalog

        prev = os.path.dirname(self.warehouse)
        self._new_unit_dirs()
        base_wh, base_delta = self.base
        shutil.copytree(base_wh, self.warehouse,
                        ignore=lambda d, names: {"data"} if os.path.dirname(d) == base_wh else ())
        os.link(base_delta, os.path.join(self.pages_dir, "base.parquet"))
        self.cat = LocalCatalog(self.warehouse)
        self.pipe = Pipeline(self.spark, self.cat, parse_impl="hybrid")
        if prev != os.path.dirname(base_wh):
            shutil.rmtree(prev, ignore_errors=True)

    # -- one timed unit -------------------------------------------------
    def unit(self) -> stats.Interval:
        from logzilla_spark.operators.route import read_all_sinks
        from logzilla_spark.server import make_server

        if self.base is not None:
            self._restore_base()
        tr = self.tracer
        mix = request_mix(self.rng)
        timed = stats.Interval()
        with tr.span("unit", "ingest"):
            with tr.span("plans.pipeline", "ingest_pages"):
                self.pipe.ingest_pages(self.spark.read.parquet(self.delta))
            with tr.span("plans.pipeline", "run"):
                report = self.pipe.run()
            with tr.span("server", "refresh"):
                records = read_all_sinks(self.spark, self.cat, self.pipe.categories)
                srv = make_server(records, port=0, recordings=self.cat,
                                  tail=(self.cat, self.spark))
                th = threading.Thread(target=srv.serve_forever, daemon=True)
                th.start()
            responses = []
            try:
                for kind, path, body in mix:
                    if kind == "page2":
                        cursor = responses[0][2]["metadata"]["cursor"]
                        if cursor is None:
                            continue
                        body = {**body, "cursor": cursor}
                    c0 = time.perf_counter()
                    with tr.span("server", kind) as sp:
                        tr.request_parent = sp.id if sp is not None else None
                        resp = post(srv.server_address[1], path, body)
                        tr.request_parent = None
                    responses.append((kind, body, resp, sp, time.perf_counter() - c0))
            finally:
                timed.stop()
                srv.shutdown()
                srv.server_close()
                th.join(timeout=30)
        files = self._all_sink_files()
        self.sink_files.append(len(files))
        for kind, _, resp, sp, client_s in responses:
            self.requests.append({"kind": kind, "client_s": client_s, "span": sp,
                                  "rows": len(resp.get("data") or []),
                                  "sink_files": len(files)})
        self._check_unit(report, responses, files)
        self.records_routed.append(sum(report.rows_routed.values()))
        if self.base is None:
            self.base = (self.warehouse, self.delta)
        self.n_units += 1
        return timed

    def _check_unit(self, report, responses, files) -> None:
        head = self.cat.last_snapshot_id("pages")
        if report.input_snapshot_id != head or self.pipe.ckpts.last() != head:
            self.failures.append(f"checkpoint at {self.pipe.ckpts.last()}, pages head {head}")
        if sum(report.rows_routed.values()) != self.delta_lines:
            self.failures.append(
                f"routed {sum(report.rows_routed.values())} records, delta has {self.delta_lines} lines")
        con = checks.connect()
        checks.records_view(con, files)
        self.sink_records.append(con.sql("SELECT count(*) FROM records").fetchone()[0])
        for kind, body, resp, _, _ in responses:
            self.failures += checks.check_response(con, kind, body, resp)
        pages = os.path.join(self.pages_dir, "*.parquet")
        self.failures += checks.check_routing(con, self.cat, self.pipe.categories, pages)
        self.failures += checks.check_aggregates(con, self.cat, self.pipe.categories, pages)
        con.close()

    def _all_sink_files(self) -> list[str]:
        from logzilla_spark.operators.route import sink_name

        return [f for c in self.pipe.categories for f in checks.sink_files(self.cat, sink_name(c))]

    def probe_delta(self) -> str:
        """The last delta ingested, for the traced run's parse probe."""
        return self.delta

    def final_checks(self) -> list[str]:
        return [] if self.records_routed else ["no delta was ingested"]

    def detail(self) -> dict:
        return {"request_s": [(r["kind"], r["client_s"]) for r in self.requests],
                "sink_records": self.sink_records}

    def rows_per_unit(self) -> list[int]:
        return self.records_routed
