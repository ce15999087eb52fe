"""Output checks. Each returns a list of problems; an empty list means
the output is correct. They take plain Python values so the tests can
feed them deliberately wrong outputs without a Spark session."""

from __future__ import annotations

import csv
import io


def expect(problems: list[str], what: str, got, want) -> None:
    if got != want:
        problems.append(f"{what}: got {got!r}, want {want!r}")


def check_import(resp: dict, rows: int, columns: list[str]) -> list[str]:
    """``import_flatfile`` reports every uploaded row and the header."""
    p: list[str] = []
    expect(p, "import status", resp.get("status"), "success")
    expect(p, "import count", resp.get("count"), rows)
    expect(p, "import columns", list(resp.get("columns", [])), columns)
    return p


def check_export(resp: dict, columns: list[str], rows: int) -> list[str]:
    """The CSV body's header is the selected columns and it holds
    exactly the expected number of records, as does ``count``."""
    p: list[str] = []
    expect(p, "export count", resp.get("count"), rows)
    records = list(csv.reader(io.StringIO(resp.get("data", ""))))
    if not records:
        return p + ["export body is empty"]
    expect(p, "export header", records[0], columns)
    expect(p, "export records", len(records) - 1, rows)
    return p


def check_columns(resp: dict, columns: list[str]) -> list[str]:
    p: list[str] = []
    expect(p, "get_columns names", [c["name"] for c in resp.get("columns", [])], columns)
    expect(p, "get_columns count", resp.get("count"), len(columns))
    return p


def check_connect(resp: dict, tables: list[str]) -> list[str]:
    missing = sorted(set(tables) - set(resp.get("tables", [])))
    return [f"connect misses tables {missing}"] if missing else []


def check_health(resp: dict) -> list[str]:
    p: list[str] = []
    expect(p, "health status", resp.get("status"), "healthy")
    return p


def check_rows(what: str, rows: int, sums: dict[str, int], want_rows: int,
               want_sums: dict[str, int]) -> list[str]:
    """A row count plus numeric checksums, as a table round-trip must
    preserve them."""
    p: list[str] = []
    expect(p, f"{what} rows", rows, want_rows)
    for k, v in want_sums.items():
        expect(p, f"{what} sum({k})", sums.get(k), v)
    return p


def check_txnlog(snapshot_rows: int, id_sum: int, src_batches: list, micro_batches: int,
                 want_rows: int, want_id_sum: int) -> list[str]:
    """The snapshot holds exactly the staged rows, and the log holds
    one version per distinct micro-batch id."""
    p = check_rows("txnlog snapshot", snapshot_rows, {"event_id": id_sum}, want_rows,
                   {"event_id": want_id_sum})
    expect(p, "txnlog versions", len(src_batches), micro_batches)
    expect(p, "txnlog distinct src_batch", len(set(src_batches)), len(src_batches))
    return p


def check_ids(what: str, got: list[int], want: list[int]) -> list[str]:
    got_s, want_s = set(got), set(want)
    if len(got) != len(got_s):
        return [f"{what}: {len(got) - len(got_s)} duplicate ids"]
    if got_s == want_s:
        return []
    return [f"{what}: {len(got_s - want_s)} unexpected, {len(want_s - got_s)} missing"]


def check_at_least(what: str, got: float, floor: float) -> list[str]:
    return [] if got >= floor else [f"{what}: {got:.4f} below {floor}"]
