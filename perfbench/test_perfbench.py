"""The benchmark's own tests: generator determinism, output checks that
catch a dropped row, the percentile helper's ten-samples rule and the
tracer's span bookkeeping. No Spark session is needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import checks
import inputs
import pytest
from measure import nearest_rank, tail_percentile
from tracing import Tracer


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dp, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dp, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


GENERATORS = {
    "api": lambda root, seed: inputs.gen_api(root, seed, n_uploads=4, n_customers=50, n_orders=200,
                                             n_blocks=8),
    "bulk": lambda root, seed: inputs.gen_bulk(root, seed, rows=2000, n_files=2),
    "stream": lambda root, seed: inputs.gen_stream(root, seed, n_files=3, events_per_file=100),
    "curation": lambda root, seed: inputs.gen_curation(root, seed, n_clusters=6, n_unique=30, n_exact=4,
                                                       n_german=3, n_short=3, n_queries=5),
}


def _comparable(desc: dict) -> dict:
    """The description minus its path and the embedding array, both of
    which compare through the files written."""
    return {k: v for k, v in desc.items() if k not in ("path", "vectors")}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_gives_identical_inputs(tmp_path, name):
    gen = GENERATORS[name]
    a, b, c = (str(tmp_path / d) for d in "abc")
    da, db, dc = gen(a, 7), gen(b, 7), gen(c, 8)
    assert _comparable(da) == _comparable(db)
    files_a, files_b, files_c = _tree_bytes(a), _tree_bytes(b), _tree_bytes(c)
    if name == "api":  # uploads are returned in memory, not written
        files_a, files_b, files_c = ({u["filename"]: u["contents"] for u in d["uploads"]} for d in (da, db, dc))
    assert files_a and files_a == files_b
    assert files_a != files_c


def test_blocks_pair_small_and_large_uploads(tmp_path):
    d = inputs.gen_api(str(tmp_path), 3, n_uploads=8, n_customers=10, n_orders=10, n_blocks=4)
    sizes = [u["rows"] for u in d["uploads"]]
    assert sizes == sorted(sizes) and sizes[0] < sizes[-1]
    assert inputs.bit_reversal_order(4) == [0, 2, 1, 3]
    imports = [sorted(r["index"] for _, reqs in b for r in reqs if r["kind"] == "import") for b in d["blocks"]]
    assert imports == [[0, 7], [2, 5], [1, 6], [3, 4]]
    for block in d["blocks"]:
        assert sorted(task for task, _ in block) == ["export", "export", "health", "import", "import"]


def test_curation_ground_truth_is_consistent(tmp_path):
    d = GENERATORS["curation"](str(tmp_path), 5)
    assert set(d["kept_ids"]) <= set(d["exact_ids"]) <= set(d["quality_ids"])
    assert len(d["kept_ids"]) == d["keepers"] == 6 + 30
    assert len(d["near_dup_pairs"]) == sum(n * (n - 1) // 2 for n in (2, 3, 4, 2, 3, 4))


def _export(rows: list[str]) -> dict:
    return {"count": len(rows) - 1, "data": "\n".join(rows) + "\n"}


def test_export_check_catches_a_dropped_row():
    rows = ["o_id,c_name", '1,"Doe, Jane"', "2,", '3,"say ""hi"""']
    assert checks.check_export(_export(rows), ["o_id", "c_name"], 3) == []
    dropped = _export(rows[:2] + rows[3:])
    assert checks.check_export(dropped, ["o_id", "c_name"], 3)
    # a body missing a row is caught even when ``count`` is right
    assert checks.check_export({**dropped, "count": 3}, ["o_id", "c_name"], 3)
    assert checks.check_export(_export(rows), ["c_name", "o_id"], 3)


def test_row_checks_catch_a_dropped_row():
    want = {"id": 6, "qty": 30}
    assert checks.check_rows("parquet", 3, {"id": 6, "qty": 30}, 3, want) == []
    assert checks.check_rows("parquet", 2, {"id": 3, "qty": 20}, 3, want)
    assert checks.check_import({"status": "success", "count": 2, "columns": ["a"]}, 3, ["a"])
    assert checks.check_txnlog(2, 1, [0, 1], 2, 3, 3)
    assert checks.check_txnlog(3, 3, [0, 1, 1], 3, 3, 3)  # a replayed batch id
    assert checks.check_ids("kept", [1, 2], [1, 2, 3])


@pytest.mark.parametrize("n, pct", [(100, 90), (99, 89), (200, 90), (50, 80), (20, 50), (19, None), (0, None)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    samples = [float(i) for i in range(n, 0, -1)]
    got = tail_percentile(samples)
    if pct is None:
        assert got is None
        return
    assert got[0] == pct
    assert got[1] == nearest_rank(samples, pct)
    assert sum(1 for s in samples if s > got[1]) >= 10


def test_nearest_rank():
    assert nearest_rank([3.0, 1.0, 2.0], 50) == 2.0
    assert nearest_rank([1.0, 2.0, 3.0, 4.0], 90) == 4.0
    assert nearest_rank([5.0], 1) == 5.0


class _FakeContext:
    def __init__(self):
        self.groups = []
        self.local = {}

    def setJobGroup(self, group, description):
        self.groups.append(group)
        self.local["spark.jobGroup.id"] = group

    def getLocalProperty(self, key):
        return self.local.get(key)


def test_tracer_records_spans_only_inside_operations():
    sc = _FakeContext()
    t = Tracer(enabled=True)
    t.bind(sc)
    with t.span("warm_up"):
        pass
    with t.op("request"):
        with t.span("outer"):
            with t.span("inner", own_jobs=True):
                sc.local["spark.jobGroup.id"] = "stream-run"
                t.note_current_group()
    names = [s["name"] for s in t.spans]
    assert names == ["op.request", "outer", "inner"]
    assert [s["parent"] for s in t.spans] == [None, 0, 1]
    assert {s["op"] for s in t.spans} == {0}
    assert t.ops[0]["groups"] == ["perfbench-op-0", "stream-run", "perfbench-span-2"]
    assert sc.groups[-1] == "perfbench-idle"


def test_disabled_tracer_wraps_nothing():
    class Owner:
        @staticmethod
        def f():
            return 1

    orig = Owner.f
    t = Tracer(enabled=False)
    t.wrap(Owner, "f", "owner.f")
    assert Owner.f is orig
    with t.op("x"):
        assert Owner.f() == 1
    assert t.spans == [] and t.ops == []
