"""``api_requests``: one client in a closed loop replaying a seeded mix
of the five ``api.service`` calls, like the reference's single-user UI
that waits for each reply. Fixed per-request cost dominates: job
launch, planning, the collect and ``to_csv``; data volume is small.

The requests come in blocks of UI tasks whose call order follows what
each endpoint needs as input (see ``inputs.py``): a health probe, an
export task (connect, get_columns per table read, export) of each export
shape and two import tasks (connect, import)."""

from __future__ import annotations

import os
import time

import checks
import inputs
from data_ingestion_tool_spark.api import service
from data_ingestion_tool_spark.api.models import ColumnSelection, ConnectionInfo
from measure import median, tail_percentile
from workload import Workload

IMPORT_TABLES = 4  # imports append round-robin to this many tables
WARM_UP = [{"kind": "health"}, {"kind": "connect"}, {"kind": "get_columns", "table": "customers"},
           {"kind": "get_columns", "table": "orders"}, {"kind": "export", "index": 0},
           {"kind": "export", "index": 1}, {"kind": "import", "index": 0}]


class ApiRequests(Workload):
    name = "api_requests"
    item = "request"
    # Every block has the same composition, so its latency does not jump
    # between the export and the import population as a median over
    # single requests or tasks would.
    op = "block (health probe, 2 export tasks, 2 import tasks)"

    def generate(self) -> None:
        self.data = inputs.gen_api(os.path.join(self.inputs, "api"), self.seed)
        self.conn = ConnectionInfo()
        self.by_kind: dict[str, list[float]] = {}
        self.next = 0

    def install(self) -> None:
        t = self.tracer
        for fn in ("import_flatfile", "export_flatfile", "get_columns", "connect", "health"):
            t.wrap(service, fn, f"api.{fn}")
        # the names service.py calls, so only the API path is timed
        t.wrap(service, "build_export_dataframe", "api.models.build_export_dataframe")
        t.wrap(service, "export_csv_rows", "sources.csv_io.export_csv_rows")

    def warm_up(self, spark) -> None:
        for table, body in self.data["base"].items():
            resp = service.import_flatfile(spark, self.conn, f"{table}.csv", body, table=table)
            if checks.check_import(resp, body.count(b"\n") - 1, resp["columns"]):
                raise RuntimeError(f"could not load base table {table}")
        # each kind of request, and each export shape
        for req in WARM_UP:
            self._call(spark, req)

    def _call(self, spark, req: dict) -> list[str]:
        """Send one request; returns the problems its check found."""
        kind = req["kind"]
        if kind == "import":
            up = self.data["uploads"][req["index"] % len(self.data["uploads"])]
            table = f"upload{req['index'] % IMPORT_TABLES}"
            resp = service.import_flatfile(spark, self.conn, up["filename"], up["contents"], table=table)
            return checks.check_import(resp, up["rows"], inputs.UPLOAD_COLUMNS)
        if kind == "export":
            spec = self.data["exports"][req["index"]]
            sel = ColumnSelection(
                table=spec["table"], columns=spec["columns"],
                join_tables=spec.get("join_tables"), join_condition=spec.get("join_condition"),
            )
            return checks.check_export(service.export_flatfile(spark, self.conn, sel), spec["columns"], spec["rows"])
        if kind == "get_columns":
            table = req["table"]
            return checks.check_columns(service.get_columns(spark, self.conn, table), inputs.TABLE_COLUMNS[table])
        if kind == "connect":
            return checks.check_connect(service.connect(spark, self.conn), list(inputs.TABLE_COLUMNS))
        return checks.check_health(service.health(spark))

    def step(self, spark) -> None:
        """One block of requests, so that every run replays whole blocks
        and thus the same mix of request kinds."""
        block = self.data["blocks"][self.next % len(self.data["blocks"])]
        self.next += 1
        requests = [req for _task, reqs in block for req in reqs]
        self.add_unit(len(requests), sum(self._request(spark, req) for req in requests))

    def _request(self, spark, req: dict) -> float:
        """Send, time and check one request; returns its latency in s."""
        t0 = time.perf_counter()
        try:
            with self.tracer.op(req["kind"]):
                problems = self._call(spark, req)
        except Exception as e:  # noqa: BLE001 - a failed request is counted, not fatal
            problems = [f"{req['kind']} raised {type(e).__name__}: {e}"]
        dt = time.perf_counter() - t0
        self.record(problems)
        self.items += 1
        self.busy_s += dt
        self.by_kind.setdefault(req["kind"], []).append(dt * 1000)
        return dt

    def report(self):
        rows = [("requests_per_s", self.items / self.busy_s if self.busy_s else 0.0, "1/s", self.items)]
        for kind in ("import", "export"):
            lat = self.by_kind.get(kind, [])
            rows.append((f"{kind}_p50_ms", median(lat), "ms", len(lat)))
            tail = tail_percentile(lat)
            if tail:
                rows.append((f"{kind}_p90_ms (as p{tail[0]})", tail[1], "ms", len(lat)))
            else:
                rows.append((f"{kind}_p90_ms (too few samples)", float("nan"), "ms", len(lat)))
        return rows
