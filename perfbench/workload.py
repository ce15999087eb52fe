"""What every workload shares: its directories, its tally of checked
operations and the latency samples of its unit operation."""

from __future__ import annotations

import os
import shutil

from tracing import Tracer


class Workload:
    """One seeded workload. Subclasses generate inputs, warm up, run one
    operation per :meth:`step` and report their own metrics.

    :meth:`add_unit` records one sample per unit operation: its latency,
    whose median the report prints as ``unit_p50_ms``, and its items per
    second, whose median is ``items_per_s``. Medians, so that one unit
    slowed by a burst of load on the host does not move them. ``items`` and
    ``busy_s`` total the run for the report."""

    name = ""
    item = ""  # what items_per_s counts
    op = ""  # what one latency sample times

    def __init__(self, run_dir: str, seed: int, tracer: Tracer) -> None:
        self.seed = seed
        self.tracer = tracer
        self.inputs = os.path.join(run_dir, "inputs")
        self.out = os.path.join(run_dir, "out")
        self.latencies_ms: list[float] = []
        self.unit_rates: list[float] = []
        self.items = 0
        self.busy_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def generate(self) -> None:
        raise NotImplementedError

    def install(self) -> None:
        """Wrap the engine functions this workload's layers expose."""

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def step(self, spark) -> None:
        raise NotImplementedError

    def report(self) -> list[tuple[str, float, str, int]]:
        """Workload-specific end-to-end figures as (name, value, unit,
        sample count), printed for people; see README.md."""
        return []

    def layer_values(self) -> dict[str, float]:
        """Per-layer figures only this workload can compute."""
        return {}

    def reset_outputs(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def add_unit(self, items: int, seconds: float) -> None:
        """One unit operation that completed ``items`` in ``seconds``."""
        self.latencies_ms.append(seconds * 1000)
        self.unit_rates.append(items / seconds)

    def record(self, problems: list[str], n: int = 1) -> None:
        """Count ``n`` attempted operations, all failed if the check
        found problems."""
        self.attempted += n
        if problems:
            self.failed += n
            self.problems.extend(problems[:3])
