"""End-to-end tests for the service façade — the five reference
endpoints' behavior (response shapes, status codes, compat semantics)
backed by Spark instead of ClickHouse."""

from __future__ import annotations

import os
import uuid
from urllib.parse import unquote, urlsplit

import pytest

from data_ingestion_tool_spark import catalog as catalog_mod
from data_ingestion_tool_spark.api import (
    ApiError,
    ColumnSelection,
    ConnectionInfo,
)
from data_ingestion_tool_spark.api import service
from data_ingestion_tool_spark.api.models import build_export_dataframe
from data_ingestion_tool_spark.sources import csv_io


@pytest.fixture(scope="module")
def catalog(spark, sf_dir):
    """Register the customer/orders test tables as temp views (the
    service works against the session catalog, like the reference
    against the CH database)."""
    for t in ("customer", "orders"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    yield spark


CONN = ConnectionInfo()


def test_connect_lists_tables(catalog):
    out = service.connect(catalog, CONN)
    assert out["status"] == "success"
    assert {"customer", "orders"} <= set(out["tables"])
    assert out["connection"] == "localhost:8123"


def test_get_columns_shape(catalog):
    out = service.get_columns(catalog, CONN, "customer")
    assert out["status"] == "success"
    assert out["count"] == len(out["columns"])
    first = out["columns"][0]
    assert set(first) == {"name", "type", "default", "comment"}
    names = [c["name"] for c in out["columns"]]
    assert "c_custkey" in names


def test_get_columns_404(catalog):
    with pytest.raises(ApiError) as e:
        service.get_columns(catalog, CONN, "no_such_table")
    assert e.value.status_code == 404


def test_export_single_table(catalog):
    sel = ColumnSelection("customer", ["c_custkey", "c_name"])
    out = service.export_flatfile(catalog, CONN, sel)
    assert out["status"] == "success"
    # NO BOM: main.py:194's encoding='utf-8-sig' is ignored by to_csv
    # without a path — the reference's actual body is BOM-less
    assert not out["data"].startswith("﻿")
    header = out["data"].splitlines()[0]
    assert header == "c_custkey,c_name"
    assert out["count"] == out["data"].count("\n") - 1
    assert out["query"] == "SELECT c_custkey, c_name FROM customer"


def test_export_count_with_embedded_newlines(catalog):
    """count must equal the row count even when field values carry
    quoted embedded newlines (newline-counting would overcount)."""
    catalog.createDataFrame(
        [(1, "line1\nline2"), (2, "plain")], "id int, note string"
    ).createOrReplaceTempView("notes_nl")
    out = service.export_flatfile(
        catalog, CONN, ColumnSelection("notes_nl", ["id", "note"])
    )
    assert out["count"] == 2
    assert out["data"].count("\n") == 4  # header + 2 rows + 1 embedded


def test_export_over_limit_maps_to_500(catalog, monkeypatch):
    """The bounded-collect guard surfaces as the reference's blanket
    500, not an unbounded driver collect."""
    from data_ingestion_tool_spark.sources.csv_io import export_csv_rows

    monkeypatch.setattr(
        service,
        "export_csv_rows",
        lambda df, columns=None: export_csv_rows(df, columns, max_rows=1),
    )
    with pytest.raises(ApiError) as e:
        service.export_flatfile(
            catalog, CONN, ColumnSelection("customer", ["c_custkey"])
        )
    assert e.value.status_code == 500
    assert "max_rows" in e.value.detail


def test_export_comma_join(catalog):
    sel = ColumnSelection(
        "orders",
        ["c_name", "o_orderkey"],
        join_tables=["customer"],
        join_condition="o_custkey = c_custkey AND o_totalprice > 400000.0",
    )
    out = service.export_flatfile(catalog, CONN, sel)
    assert out["count"] > 0
    assert "WHERE o_custkey = c_custkey" in out["query"]


def test_export_empty_short_circuit(catalog):
    sel = ColumnSelection(
        "orders",
        ["o_orderkey"],
        join_tables=["customer"],
        join_condition="o_custkey = c_custkey AND o_totalprice < 0",
    )
    out = service.export_flatfile(catalog, CONN, sel)
    assert out == {
        "status": "success", "data": "", "count": 0, "message": "No data found",
    }


def test_import_roundtrip(catalog, tmp_path):
    csv = "a,b,c\n1,x,\n2,,z\n"
    out = service.import_flatfile(
        catalog, CONN, "up.csv", csv.encode(), table="svc_imported"
    )
    assert out["status"] == "success"
    assert out["count"] == 2
    assert out["columns"] == ["a", "b", "c"]
    # compat semantics: all-string schema, empty cells are '' not NULL
    df = catalog.table("svc_imported")
    assert all(f.dataType.simpleString() == "string" for f in df.schema.fields)
    rows = {tuple(r) for r in df.collect()}
    assert ("1", "x", "") in rows and ("2", "", "z") in rows
    # append-wins policy: second import appends to the existing schema
    service.import_flatfile(
        catalog, CONN, "up.csv", csv.encode(), table="svc_imported"
    )
    assert catalog.table("svc_imported").count() == 4
    catalog.sql("DROP TABLE svc_imported")


def test_import_extension_gate(catalog):
    with pytest.raises(ApiError) as e:
        service.import_flatfile(catalog, CONN, "evil.parquet", b"x")
    assert e.value.status_code == 400


def test_import_empty_400(catalog):
    with pytest.raises(ApiError) as e:
        service.import_flatfile(catalog, CONN, "empty.csv", b"")
    assert e.value.status_code == 400


RAGGED = b"a,b,c\n1,2,3\n4,5,6,7\n8,9\n"


def test_import_ragged_row_500_nothing_written(catalog):
    """A row with more fields than the header fails like the
    reference's pandas parse (ParserError → 500); it is never repaired
    by dropping the extra field, and no table is created or appended."""
    with pytest.raises(ApiError) as e:
        service.import_flatfile(catalog, CONN, "r.csv", RAGGED, table="svc_ragged_new")
    assert e.value.status_code == 500
    assert e.value.detail.startswith("Import failed: ")
    assert not catalog.catalog.tableExists("svc_ragged_new")

    service.import_flatfile(catalog, CONN, "ok.csv", b"a,b,c\n1,2,3\n", table="svc_ragged")
    with pytest.raises(ApiError) as e:
        service.import_flatfile(catalog, CONN, "r.csv", RAGGED, table="svc_ragged")
    assert e.value.status_code == 500
    assert catalog.table("svc_ragged").count() == 1
    catalog.sql("DROP TABLE svc_ragged")


def test_import_header_only_400(catalog):
    with pytest.raises(ApiError) as e:
        service.import_flatfile(catalog, CONN, "h.csv", b"a,b,c\n", table="svc_header_only")
    assert e.value.status_code == 400
    assert e.value.detail == "File is empty or invalid format"
    assert not catalog.catalog.tableExists("svc_header_only")


def test_import_short_row_pads_empty(catalog):
    """A row with fewer fields than the header is padded with '', as
    pandas does with ``na_filter=False``."""
    out = service.import_flatfile(
        catalog, CONN, "s.csv", b"a,b,c\n1,2,3\n8,9\n", table="svc_short_row"
    )
    assert out["count"] == 2
    rows = {tuple(r) for r in catalog.table("svc_short_row").collect()}
    assert rows == {("1", "2", "3"), ("8", "9", "")}
    catalog.sql("DROP TABLE svc_short_row")


def test_connect_lists_like_list_tables(catalog, monkeypatch):
    """Same names, same order as ``spark.catalog.listTables()``: temp
    views and persistent tables alike; the 1000-name cap still holds."""
    catalog.createDataFrame([(1,)], "x int").write.mode("overwrite").saveAsTable("svc_persist")
    catalog.createDataFrame([(1,)], "x int").createOrReplaceTempView("svc_view")
    try:
        expected = [t.name for t in catalog.catalog.listTables()]
        assert {"svc_persist", "svc_view", "customer"} <= set(expected)
        assert service.connect(catalog, CONN)["tables"] == expected
        monkeypatch.setattr(catalog_mod, "MAX_LIST_TABLES", 2)
        assert service.connect(catalog, CONN)["tables"] == expected[:2]
    finally:
        catalog.sql("DROP TABLE svc_persist")
        catalog.catalog.dropTempView("svc_view")


def _import_status(spark, body, table):
    """The status code one import answers with."""
    try:
        service.import_flatfile(spark, CONN, "u.csv", body, table=table)
    except ApiError as e:
        return e.status_code
    return 200


def _rows_files(spark, table):
    """(rows, Parquet files) of a persistent table, None when absent."""
    if not spark.catalog.tableExists(table):
        return None
    df = spark.table(table)
    return df.count(), len([f for f in df.inputFiles() if f.endswith(".parquet")])


ABC = b"a,b,c\n1,2,3\n"


@pytest.mark.parametrize(
    "label, body", [("reordered", b"c,b,a\n3,2,1\n"), ("upper", b"A,B,C\n1,2,3\n")]
)
def test_import_appends_by_name(catalog, label, body):
    """An upload whose header names the table's columns in another order
    or case is appended column by column by name."""
    table = f"svc_byname_{label}"
    assert _import_status(catalog, ABC, table) == 200
    try:
        assert _import_status(catalog, body, table) == 200
        assert _rows_files(catalog, table) == (2, 2)
        assert catalog.table(table).columns == ["a", "b", "c"]
        assert {tuple(r) for r in catalog.table(table).collect()} == {("1", "2", "3")}
    finally:
        catalog.sql(f"DROP TABLE {table}")


@pytest.mark.parametrize(
    "label, body",
    [
        ("fewer", b"a,b\n1,2\n"),
        ("extra", b"a,b,c,d\n1,2,3,4\n"),
        ("renamed", b"a,b,x\n1,2,3\n"),
    ],
)
def test_import_mismatched_header_500_nothing_written(catalog, label, body):
    table = f"svc_mismatch_{label}"
    assert _import_status(catalog, ABC, table) == 200
    try:
        assert _import_status(catalog, body, table) == 500
        assert _rows_files(catalog, table) == (1, 1)
    finally:
        catalog.sql(f"DROP TABLE {table}")


@pytest.mark.parametrize(
    "label, ddl",
    [
        ("int", "(a INT, b STRING) USING parquet"),  # CANNOT_SAFELY_CAST
        ("partitioned", "(a STRING, b STRING) USING parquet PARTITIONED BY (b)"),
        ("bucketed", "(a STRING, b STRING) USING parquet CLUSTERED BY (a) INTO 2 BUCKETS"),
        ("csv", "(a STRING, b STRING) USING csv"),
    ],
)
def test_import_into_incompatible_table_500(catalog, label, ddl):
    """An existing table the all-string append cannot go into as it is
    fails with 500 and stays empty."""
    table = f"svc_target_{label}"
    catalog.sql(f"CREATE TABLE {table} {ddl}")
    try:
        assert _import_status(catalog, b"a,b\n1,x\n", table) == 500
        assert catalog.table(table).count() == 0
        assert not [f for f in catalog.table(table).inputFiles() if f.endswith(".parquet")]
    finally:
        catalog.sql(f"DROP TABLE {table}")


@pytest.mark.parametrize("kind, stored", [("char", "1  "), ("varchar", "1")])
def test_import_into_char_varchar_table(catalog, kind, stored):
    """A char(n)/varchar(n) target takes values of at most n characters
    (char pads them to n); a longer value fails with nothing written."""
    table = f"svc_target_{kind}"
    catalog.sql(f"CREATE TABLE {table} (a {kind.upper()}(3), b STRING) USING parquet")
    try:
        assert _import_status(catalog, b"a,b\n1,x\n", table) == 200
        assert _import_status(catalog, b"a,b\n1234,x\n", table) == 500
        assert _rows_files(catalog, table) == (1, 1)
        assert [tuple(r) for r in catalog.table(table).collect()] == [(stored, "x")]
    finally:
        catalog.sql(f"DROP TABLE {table}")


def test_import_case_duplicate_header_500_no_table(catalog):
    """``A,a`` names one column twice under case-insensitive resolution."""
    assert _import_status(catalog, b"A,a\n1,2\n", "svc_dup_case") == 500
    assert not catalog.catalog.tableExists("svc_dup_case")


def test_import_beside_temp_view(catalog):
    """A temp view with the target's name shadows it for readers, but an
    import creates and then appends the persistent table of that name
    in the current database and leaves the view alone."""
    catalog.createDataFrame([(9,)], "x int").createOrReplaceTempView("svc_shadow")
    try:
        for call in (1, 2):
            assert _import_status(catalog, b"a,b\n1,2\n", "svc_shadow") == 200
            assert _rows_files(catalog, "default.svc_shadow") == (call, call)
        assert [tuple(r) for r in catalog.table("svc_shadow").collect()] == [(9,)]
    finally:
        catalog.catalog.dropTempView("svc_shadow")
        catalog.sql("DROP TABLE default.svc_shadow")


def test_import_odd_headers_roundtrip(catalog):
    """A header with a space, an empty name and a duplicate imports under
    pandas' names, and an export returns them."""
    out = service.import_flatfile(
        catalog, CONN, "o.csv", b"my col,,a,a\n1,2,3,4\n", table="svc_odd"
    )
    try:
        assert out["columns"] == ["my col", "Unnamed: 1", "a", "a.1"]
        assert _rows_files(catalog, "svc_odd") == (1, 1)
        sel = ColumnSelection("svc_odd", ["my col", "Unnamed: 1", "a", "`a.1`"])
        exported = service.export_flatfile(catalog, CONN, sel)
        assert exported["data"] == "my col,Unnamed: 1,a,a.1\n1,2,3,4\n"
    finally:
        catalog.sql("DROP TABLE svc_odd")


def _with_job_count(spark, group, call):
    """``call()``'s result and the number of Spark jobs it ran, counted
    from job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store fills in from the listener bus; drain it
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_endpoint_job_counts(catalog):
    """Each request runs only the Spark jobs its answer needs: no job
    to list or describe tables or to import an upload, which adds
    exactly one Parquet file; no job to export from a persistent string
    table, whose files are read on the driver; one bounded collect to
    export from a temp view, and a comma-join export first broadcasts
    its build side (the empty join is optimized away, leaving the
    collect)."""
    table = "svc_jobs"
    body = b"a,b\n" + b"".join(b"%d,x%d\n" % (i, i) for i in range(500))
    for call in range(1, 3):
        _, jobs = _with_job_count(
            catalog, f"svc-import-{call}",
            lambda: service.import_flatfile(catalog, CONN, "j.csv", body, table=table),
        )
        assert jobs == 0
        files = [f for f in catalog.table(table).inputFiles() if f.endswith(".parquet")]
        assert len(files) == call
    out, jobs = _with_job_count(catalog, "svc-connect", lambda: service.connect(catalog, CONN))
    assert table in out["tables"] and jobs == 0
    out, jobs = _with_job_count(
        catalog, "svc-get-columns", lambda: service.get_columns(catalog, CONN, table)
    )
    assert out["count"] == 2 and jobs == 0
    out, jobs = _with_job_count(
        catalog, "svc-export",
        lambda: service.export_flatfile(catalog, CONN, ColumnSelection(table, ["a", "b"])),
    )
    assert out["count"] == 1000 and jobs == 0
    catalog.table(table).createOrReplaceTempView("svc_jobs_view")
    out, jobs = _with_job_count(
        catalog, "svc-export-view",
        lambda: service.export_flatfile(catalog, CONN, ColumnSelection("svc_jobs_view", ["a"])),
    )
    catalog.catalog.dropTempView("svc_jobs_view")
    assert out["count"] == 1000 and jobs == 1
    join = ColumnSelection(
        table, ["a", "c_name"], join_tables=["customer"], join_condition="a = c_custkey"
    )
    out, jobs = _with_job_count(
        catalog, "svc-export-join", lambda: service.export_flatfile(catalog, CONN, join)
    )
    assert out["count"] > 0 and jobs == 2
    empty = ColumnSelection(table, ["a"], join_tables=["customer"], join_condition="1 = 0")
    out, jobs = _with_job_count(
        catalog, "svc-export-empty", lambda: service.export_flatfile(catalog, CONN, empty)
    )
    assert out["message"] == "No data found" and jobs == 1
    catalog.sql(f"DROP TABLE {table}")


def _location(spark, table):
    """Local directory of a persistent table."""
    _, meta = catalog_mod.persistent_table(spark, table)
    return unquote(urlsplit(meta.location).path)


def _data_sizes(spark, table):
    """Sizes of a table's Parquet files, in listing order."""
    return [e.stat().st_size for e in os.scandir(_location(spark, table)) if e.name.endswith(".parquet")]


def _import_files(spark, table, uploads):
    """One import, so one Parquet file, per upload body."""
    for body in uploads:
        assert _import_status(spark, body, table) == 200


def _export_jobs(spark, sel):
    """The export response (or its ApiError) and its Spark job count."""

    def call():
        try:
            return service.export_flatfile(spark, CONN, sel)
        except ApiError as e:
            return e

    return _with_job_count(spark, f"svc-{uuid.uuid4().hex}", call)


def _assert_same_as_spark(spark, sel):
    """The export reads on the driver, without a Spark job, and answers
    what one bounded collect of the DataFrame plan answers."""
    out, jobs = _export_jobs(spark, sel)
    assert jobs == 0
    data, count = csv_io.export_csv_rows(build_export_dataframe(spark, sel))
    assert out["count"] == count
    if count:
        assert out["data"] == data
    else:
        assert out["data"] == "" and out["message"] == "No data found"
    return out


def _rows(tag, n, width=1):
    return b"".join(b"%s%0*d,v%s%d\n" % (tag, width, i, tag, i % 10) for i in range(n))


def test_export_parity_files_of_distinct_sizes(catalog):
    """Rows come file by file, largest first; hidden and empty files
    are skipped, as Spark's listing skips them."""
    table = "svc_parity_sizes"
    _import_files(catalog, table, [b"a,b\n" + _rows(t, n) for t, n in
                                   [(b"p", 3), (b"q", 9), (b"r", 5), (b"s", 2)]])
    try:
        open(os.path.join(_location(catalog, table), "part-empty.parquet"), "wb").close()
        open(os.path.join(_location(catalog, table), "_SUCCESS"), "wb").close()
        catalog.catalog.refreshTable(table)
        sizes = _data_sizes(catalog, table)
        assert len(set(sizes)) == 5 and 0 in sizes
        out = _assert_same_as_spark(catalog, ColumnSelection(table, ["b", "a"]))
        assert out["count"] == 19
        files = dict.fromkeys(row.split(",")[1][0] for row in out["data"].splitlines()[1:])
        assert "".join(files) == "qrps"
    finally:
        catalog.sql(f"DROP TABLE {table}")


def test_export_parity_files_of_equal_sizes(catalog):
    """Files of one size come in listing order, as in Spark's scan."""
    table = "svc_parity_equal"
    _import_files(catalog, table, [b"a,b\n" + _rows(t, 4, 3) for t in (b"k", b"m", b"n", b"j")])
    try:
        sizes = _data_sizes(catalog, table)
        assert len(sizes) == 4 and len(set(sizes)) == 1
        _assert_same_as_spark(catalog, ColumnSelection(table, ["a", "b"]))
    finally:
        catalog.sql(f"DROP TABLE {table}")


@pytest.mark.parametrize(
    "columns, header",
    [(["A", "B"], "A,B"), (["`a`", "`B`", "b"], "a,B,b"), (["B"], "B")],
)
def test_export_parity_names_by_case_and_backticks(catalog, columns, header):
    """A name resolves ignoring case and may be backticked; the header
    is the name as parsed, as Spark prints it. A file Spark wrote, with
    a null, reads like the imported ones."""
    table = "svc_parity_names"
    _import_files(catalog, table, [b"a,b\n" + _rows(b"x", 3), b"a,b\n" + _rows(b"y", 2)])
    catalog.sql(f"INSERT INTO {table} VALUES (NULL, 'z'), ('w', NULL)")
    try:
        out = _assert_same_as_spark(catalog, ColumnSelection(table, columns))
        assert out["data"].splitlines()[0] == header
    finally:
        catalog.sql(f"DROP TABLE {table}")


def test_export_parity_odd_headers(catalog):
    table = "svc_parity_odd"
    _import_files(catalog, table, [b"my col,,a,a\n1,2,3,4\n5,,7,\"8,9\"\n"])
    try:
        sel = ColumnSelection(table, ["my col", "Unnamed: 1", "a", "`a.1`"])
        out = _assert_same_as_spark(catalog, sel)
        assert out["data"] == 'my col,Unnamed: 1,a,a.1\n1,2,3,4\n5,,7,"8,9"\n'
    finally:
        catalog.sql(f"DROP TABLE {table}")


def test_export_parity_empty_table(catalog):
    table = "svc_parity_empty"
    catalog.sql(f"CREATE TABLE {table} (a STRING, b STRING) USING parquet")
    try:
        out = _assert_same_as_spark(catalog, ColumnSelection(table, ["a"]))
        assert out == {"status": "success", "data": "", "count": 0, "message": "No data found"}
    finally:
        catalog.sql(f"DROP TABLE {table}")


def test_export_driver_read_over_bound_500(catalog, monkeypatch):
    """The footers' row counts are checked against the bound before
    any data is read: over it, the export fails with 500."""
    table = "svc_bound"
    _import_files(catalog, table, [b"a,b\n" + _rows(b"x", 3), b"a,b\n" + _rows(b"y", 2)])
    try:
        monkeypatch.setattr(csv_io, "EXPORT_MAX_ROWS", 5)
        out, jobs = _export_jobs(catalog, ColumnSelection(table, ["a"]))
        assert out["count"] == 5 and jobs == 0
        monkeypatch.setattr(csv_io, "EXPORT_MAX_ROWS", 4)
        out, jobs = _export_jobs(catalog, ColumnSelection(table, ["a"]))
        assert isinstance(out, ApiError) and jobs == 0
        assert out.status_code == 500 and "max_rows" in out.detail
    finally:
        catalog.sql(f"DROP TABLE {table}")


def _shadowed_by_view(spark, table):
    spark.sql(f"CREATE TABLE {table}_src (a STRING) USING parquet")
    spark.sql(f"INSERT INTO {table}_src VALUES ('from view')")
    spark.table(f"{table}_src").createOrReplaceTempView(table)
    return "a\nfrom view\n"


def _int_column(spark, table):
    spark.sql(f"INSERT INTO {table} VALUES (7, 'x')")
    return "a\n7\n"


def _char_column(spark, table):
    spark.sql(f"INSERT INTO {table} VALUES ('1', 'x')")
    return "a\n1  \n"


def _partitioned(spark, table):
    spark.sql(f"INSERT INTO {table} VALUES ('1', 'x')")
    return "a\n1\n"


def _subdirectory(spark, table):
    spark.sql(f"INSERT INTO {table} VALUES ('1', 'x')")
    os.mkdir(os.path.join(_location(spark, table), "_temporary"))
    return "a\n1\n"


@pytest.mark.parametrize(
    "ddl, setup",
    [
        ("(a STRING) USING parquet", _shadowed_by_view),
        ("(a INT, b STRING) USING parquet", _int_column),
        ("(a CHAR(3), b STRING) USING parquet", _char_column),
        ("(a STRING, b STRING) USING parquet PARTITIONED BY (b)", _partitioned),
        ("(a STRING, b STRING) USING parquet", _subdirectory),
    ],
    ids=["temp-view", "int", "char", "partitioned", "subdirectory"],
)
def test_export_falls_back_to_spark(catalog, ddl, setup):
    """Where the driver read cannot be sure of Spark's answer, the
    export runs its one Spark job and returns Spark's rows."""
    table = f"svc_fallback_{setup.__name__.strip('_')}"
    catalog.sql(f"CREATE TABLE {table} {ddl}")
    try:
        expected = setup(catalog, table)
        out, jobs = _export_jobs(catalog, ColumnSelection(table, ["a"]))
        assert out["data"] == expected and jobs == 1
    finally:
        catalog.catalog.dropTempView(table)
        catalog.sql(f"DROP TABLE IF EXISTS {table}_src")
        catalog.sql(f"DROP TABLE {table}")


def test_export_unresolved_column_500(catalog):
    """A missing column or a field of a string still fails with 500; a
    star is Spark's to expand."""
    table = "svc_unresolved"
    _import_files(catalog, table, [b"a,b\n1,2\n"])
    try:
        for columns in (["c"], ["a", "b.c"]):
            out, _ = _export_jobs(catalog, ColumnSelection(table, columns))
            assert isinstance(out, ApiError) and out.status_code == 500, columns
        out, jobs = _export_jobs(catalog, ColumnSelection(table, ["*"]))
        assert out["data"] == "a,b\n1,2\n" and jobs == 1
    finally:
        catalog.sql(f"DROP TABLE {table}")


def test_list_tables_unknown_db_raises(catalog):
    with pytest.raises(Exception, match="SCHEMA_NOT_FOUND"):
        catalog_mod.list_tables(catalog, "svc_no_such_db")


def test_health(catalog):
    out = service.health(catalog)
    assert out["status"] == "healthy"
    assert out["services"] == {"database": "available", "storage": "ok"}


def test_fastapi_wrapper_importable():
    """app.py must import cleanly without fastapi and raise the guard
    error from create_app."""
    from data_ingestion_tool_spark.api import app as app_mod

    if not app_mod.HAVE_FASTAPI:
        with pytest.raises(ImportError, match="fastapi"):
            app_mod.create_app(None)
