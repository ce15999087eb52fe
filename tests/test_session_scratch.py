"""The session's scratch contract: one root per process, removed at
normal exit; ``spark.local.dir`` only from ``SPARK_GRAFT_LOCAL_DIR``;
a warehouse kept across processes keeps its tables."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from data_ingestion_tool_spark import session as S

REPO = Path(__file__).resolve().parent.parent


def test_local_dir_env_reaches_spark_local_dir(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/somewhere/else")
    assert S._conf(None, None)["spark.local.dir"] == "/somewhere/else"


def test_spark_local_dir_unset_without_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    assert "spark.local.dir" not in S._conf(None, None)


def test_ckpt_dirs_distinct_under_one_root():
    a, b = S.ckpt_dir("probe"), S.ckpt_dir("probe")
    assert a != b
    assert os.path.dirname(a) == os.path.dirname(b) == os.path.join(S.scratch_base(), "ckpt")
    assert S.scratch_base() == S.scratch_base()


def _run(script: str, **env: str) -> dict:
    """Run ``script`` in a fresh interpreter with a one-core session;
    it prints one JSON line last."""
    full = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    full.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=str(REPO), **env)
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, env=full, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


_PRELUDE = """
import json, os
from data_ingestion_tool_spark.api import ColumnSelection, ConnectionInfo, service
from data_ingestion_tool_spark.session import get_spark, scratch_base
spark = get_spark(app_name="scratch-test")
spark.sparkContext.setLogLevel("ERROR")
"""


def test_normal_exit_leaves_scratch_dir_empty(tmp_path):
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    out = _run(
        _PRELUDE
        + """
from data_ingestion_tool_spark.streaming.ingest import stream_ingest_parquet
src, dst = os.path.join(scratch_base(), "src"), os.path.join(scratch_base(), "dst")
spark.range(3).write.parquet(src)
batches = stream_ingest_parquet(spark, src, "id long", dst)
service.import_flatfile(spark, ConnectionInfo(), "up.csv", b"a,b\\n1,x\\n", table="t1")
print(json.dumps({
    "root": scratch_base(),
    "warehouse": spark.conf.get("spark.sql.warehouse.dir"),
    "ckpts": os.listdir(os.path.join(scratch_base(), "ckpt")),
    "tables": os.listdir(os.path.join(scratch_base(), "warehouse")),
    "batches": len(batches),
}))
""",
        SPARK_GRAFT_SCRATCH_DIR=str(scratch),
    )
    assert Path(out["root"]).parent == scratch
    assert out["warehouse"].removeprefix("file:") == os.path.join(out["root"], "warehouse")
    assert len(out["ckpts"]) == 1 and out["batches"] >= 1
    assert out["tables"] == ["t1"]
    assert os.listdir(scratch) == []


_IMPORT = _PRELUDE + """
rows = {rows!r}
up = service.import_flatfile(spark, ConnectionInfo(), "up.csv", rows.encode(), table="t1")
listed = service.connect(spark, ConnectionInfo())["tables"]
out = service.export_flatfile(spark, ConnectionInfo(), ColumnSelection("t1", ["a", "b"]))
print(json.dumps({{"imported": up["count"], "tables": listed, "exported": out["count"]}}))
"""


def test_kept_warehouse_keeps_tables_across_restart(tmp_path):
    env = {"SPARK_GRAFT_WAREHOUSE": str(tmp_path / "warehouse"),
           "SPARK_GRAFT_SCRATCH_DIR": str(tmp_path / "scratch")}
    (tmp_path / "scratch").mkdir()
    first = _run(_IMPORT.format(rows="a,b\n1,x\n2,y\n"), **env)
    assert first == {"imported": 2, "tables": ["t1"], "exported": 2}
    second = _run(_IMPORT.format(rows="a,b\n3,z\n4,w\n5,v\n"), **env)
    assert second == {"imported": 3, "tables": ["t1"], "exported": 5}


def test_ensure_bucketed_rebuilds_a_table_registered_back_as_plain(spark, sf_dir):
    """A kept warehouse brings a bucketed table back without its bucket
    spec; ``ensure_bucketed`` must rebuild it, not reuse it."""
    from data_ingestion_tool_spark.catalog import persistent_table
    from data_ingestion_tool_spark.operators.bucketing import ensure_bucketed

    name = "nation_bkt2_sf0_001"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.mode("overwrite").parquet(
        os.path.join(wh, name)
    )
    S._register_warehouse_tables(spark)
    assert not persistent_table(spark, name)[1].bucketed

    df = ensure_bucketed(spark, sf_dir, "nation", "n_nationkey", buckets=2)
    assert persistent_table(spark, name)[1].bucketed
    assert df.count() == spark.read.parquet(f"{sf_dir}/nation.parquet").count()
