"""``data_pipeline``: the north star's data path, one pass per unit: a
bulk CSV ingest round (``bulk_ingest.py``), a streaming drain of a
backlog into the txn log (``stream_ingest.py``) and a curation pass over
a corpus (``curation.py``), in that order, each checked as on its own.

It measures the ``sources``, ``streaming`` and ``operators`` layers in
one workload, so that each run of the benchmark can be long enough to
be steady: per-layer figures come from each stage's spans, and a pass's
latency is the sum of its stages' timed parts (checks excluded)."""

from __future__ import annotations

from bulk_ingest import BulkIngest
from curation import Curation
from stream_ingest import StreamIngest
from workload import Workload


class DataPipeline(Workload):
    name = "data_pipeline"
    item = "input record"  # CSV rows, events and documents
    op = "pass (bulk ingest round, stream drain, curation pass)"

    def __init__(self, run_dir: str, seed: int, tracer) -> None:
        super().__init__(run_dir, seed, tracer)
        self.stages = [cls(run_dir, seed, tracer) for cls in (BulkIngest, StreamIngest, Curation)]

    def generate(self) -> None:
        for s in self.stages:
            s.generate()

    def install(self) -> None:
        for s in self.stages:
            s.install()

    def warm_up(self, spark) -> None:
        for s in self.stages:
            s.warm_up(spark)

    def step(self, spark) -> None:
        failed, items, busy_s = self.failed, self.items, self.busy_s
        for s in self.stages:
            s.step(spark)
        self.attempted = sum(s.attempted for s in self.stages)
        self.failed = sum(s.failed for s in self.stages)
        self.items = sum(s.items for s in self.stages)
        self.busy_s = sum(s.busy_s for s in self.stages)
        self.problems = [p for s in self.stages for p in s.problems]
        if self.failed == failed:  # a pass counts only if every stage passed
            self.add_unit(self.items - items, self.busy_s - busy_s)

    def report(self):
        return [row for s in self.stages for row in s.report()]

    def layer_values(self) -> dict[str, float]:
        return {k: v for s in self.stages for k, v in s.layer_values().items()}
