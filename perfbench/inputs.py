"""Seeded input generators for the four benchmark workloads.

Each generator writes only under the directory it is given and returns
a small description of what it wrote, including the expected results
the output checks compare against. The same seed gives byte-identical
files (``test_perfbench.py`` checks this).

Sizes are stratified: the seed moves each value inside a fixed stratum
instead of drawing it freely, so two seeds produce different bytes with
the same size distribution. That keeps the run-to-run spread of the
end-to-end metrics small while no two seeds share an input.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Stopwords the engine's language ID knows (operators/text.py). Generated
# vocabulary must avoid all of them so that only the planted stopwords
# decide a document's language.
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that"]
DE_STOPWORDS = ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"]
_ALL_STOPWORDS = set(EN_STOPWORDS + DE_STOPWORDS) | {
    "le", "la", "les", "et", "est", "un", "une", "des",
    "el", "los", "y", "es", "una", "de",
}


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lower-case pseudo-words of 2-3 consonant-vowel
    syllables, none of them a stopword of any language ID list."""
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))] for _ in range(k))
        if w not in seen and w not in _ALL_STOPWORDS:
            seen.add(w)
            words.append(w)
    return words


def stratified_log_uniform(rng: np.random.Generator, n: int, lo: float, hi: float) -> list[int]:
    """``n`` integers log-uniform on [lo, hi]: one per equal-width stratum
    of log-space, jittered inside it, in stratum order."""
    u = (np.arange(n) + rng.random(n)) / n
    return [int(v) for v in np.exp(math.log(lo) + u * (math.log(hi) - math.log(lo))).round()]


def bit_reversal_order(n: int) -> list[int]:
    """0..n-1 (n a power of two) in bit-reversed order: every aligned
    prefix of length 2**k takes one item from each of 2**k equal strata,
    so a run that gets through only part of the list still sees the
    whole range of sizes."""
    bits = n.bit_length() - 1
    return [int(format(i, f"0{bits}b")[::-1], 2) for i in range(n)]


def _csv_field(s: str) -> str:
    if any(ch in s for ch in ',"\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def _csv_text(header: list[str], rows: list[list[str]]) -> str:
    lines = [",".join(header)]
    lines.extend(",".join(_csv_field(v) for v in r) for r in rows)
    return "\n".join(lines) + "\n"


# -- api_requests -------------------------------------------------------

UPLOAD_COLUMNS = ["u_id", "u_name", "u_city", "u_amount", "u_note"]
CUSTOMER_COLUMNS = ["c_id", "c_name", "c_city"]
ORDER_COLUMNS = ["o_id", "o_cust", "o_amount", "o_status"]

TABLE_COLUMNS = {"customers": CUSTOMER_COLUMNS, "orders": ORDER_COLUMNS}

# The request flow follows what each reference endpoint needs as input
# (``api/service.py`` maps each call to its endpoint in the reference's
# ``backend/main.py``). An export names a table and its columns, which
# only ``connect`` (the table list, main.py:88-118) and ``get_columns``
# (main.py:120-161) return, so an export task is connect, get_columns for
# each table the export reads, then export (main.py:163-208). An import
# needs only the connection and the file, so an import task is connect
# (the UI's connection check) then import (main.py:210-302).
#
# Assumed, because the reference's frontend source is not in its
# snapshot: each block holds one health probe (main.py:304-334), one
# export task of each shape and two import tasks, in seeded order; upload
# sizes are log-uniform on 20..5000 rows. Every block has the same
# composition, and its two uploads come from opposite ends of the size
# range, so that block latencies differ little and their median does not
# depend on which blocks a short run reaches.


def _upload_rows(rng, words, n: int, id0: int) -> list[list[str]]:
    rows = []
    for i in range(n):
        name = f"{words[rng.integers(len(words))].title()}, {words[rng.integers(len(words))].title()}"
        r = rng.random()
        if r < 0.25:
            note = ""
        elif r < 0.35:
            note = f'said "{words[rng.integers(len(words))]}", twice'
        else:
            note = words[rng.integers(len(words))]
        rows.append([
            str(id0 + i), name, words[rng.integers(len(words))].title(),
            f"{rng.integers(1, 100000) / 100:.2f}", note,
        ])
    return rows


def gen_api(root: str, seed: int, n_uploads: int = 16, n_customers: int = 1000,
            n_orders: int = 5000, n_blocks: int = 400) -> dict:
    """Upload files (log-uniform 20..5000 rows in ascending order, quoted
    fields, embedded commas, empty cells; ``n_uploads`` a power of two),
    the two base tables every export reads, the export specs with each
    one's expected row count, and the seeded blocks of requests. Block
    ``b`` imports the uploads ``j`` and ``n_uploads - 1 - j`` of pair
    ``j``, the pairs taken in :func:`bit_reversal_order`."""
    os.makedirs(root, exist_ok=True)
    rng = _rng(seed, 1)
    words = vocabulary(rng, 2000)

    uploads = []
    sizes = stratified_log_uniform(rng, n_uploads, 20, 5000)
    for j, n in enumerate(sizes):
        body = _csv_text(UPLOAD_COLUMNS, _upload_rows(rng, words, n, j * 10_000)).encode()
        uploads.append({"filename": f"upload_{j:02d}.csv", "contents": body, "rows": n})

    cust = [[str(i), f"{words[rng.integers(len(words))].title()}, {words[rng.integers(len(words))].title()}",
             words[rng.integers(len(words))].title()] for i in range(n_customers)]
    amounts = rng.integers(1, 100000, n_orders) / 100
    orders = [[str(i), str(int(rng.integers(n_customers))), f"{amounts[i]:.2f}",
               "" if rng.random() < 0.2 else ("open" if rng.random() < 0.5 else "shipped")]
              for i in range(n_orders)]
    base = {
        "customers": _csv_text(CUSTOMER_COLUMNS, cust).encode(),
        "orders": _csv_text(ORDER_COLUMNS, orders).encode(),
    }
    # Both shapes return every order, so that an export's cost does not
    # depend on which shape a short run happens to replay more often.
    exports = [
        {"table": "orders", "columns": ["o_id", "o_amount", "o_status"], "rows": n_orders},
        {"table": "orders", "join_tables": ["customers"], "join_condition": "o_cust = c_id",
         "columns": ["o_id", "c_name", "o_amount"], "rows": n_orders},
    ]

    pairs = bit_reversal_order(n_uploads // 2)
    blocks = []
    for b in range(n_blocks):
        j = pairs[b % len(pairs)]
        tasks = [
            ("export", [{"kind": "connect"},
                        *({"kind": "get_columns", "table": t} for t in [spec["table"], *spec.get("join_tables", [])]),
                        {"kind": "export", "index": e}])
            for e, spec in enumerate(exports)
        ] + [
            ("import", [{"kind": "connect"}, {"kind": "import", "index": u}])
            for u in (j, n_uploads - 1 - j)
        ]
        blocks.append([("health", [{"kind": "health"}]), *(tasks[i] for i in rng.permutation(len(tasks)))])
    return {"uploads": uploads, "base": base, "exports": exports, "blocks": blocks}


# -- bulk_ingest --------------------------------------------------------

def gen_bulk(root: str, seed: int, rows: int, n_files: int = 8) -> dict:
    """A multi-file CSV directory. ``note`` carries quoted commas,
    doubled quotes and empty cells; ``day`` and ``price`` give the
    inferred reader dates and doubles to find. Returns the row count,
    the byte size and the checksums the round-trip checks compare."""
    os.makedirs(root, exist_ok=True)
    rng = _rng(seed, 2)
    words = vocabulary(rng, 500)
    notes = [""] * 16 + [words[i] for i in range(32)] + [
        f'{words[i]}, "{words[i + 1]}"' for i in range(16)
    ]
    ids = rng.permutation(rows).astype(np.int64)
    qty = rng.integers(0, 1000, rows)
    cents = rng.integers(0, 10_000_000, rows)
    days = pd.date_range("2024-01-01", periods=366, freq="D").strftime("%Y-%m-%d").to_numpy()
    cats = np.array([w.title() for w in words[100:140]])
    df = pd.DataFrame({
        "id": ids,
        "day": days[rng.integers(0, 366, rows)],
        "category": cats[rng.integers(0, len(cats), rows)],
        "qty": qty,
        "price": pd.Series(cents // 100).astype(str) + "." + pd.Series(cents % 100).astype(str).str.zfill(2),
        "note": np.array(notes, dtype=object)[rng.integers(0, len(notes), rows)],
    })
    nbytes = 0
    bounds = np.linspace(0, rows, n_files + 1).astype(int)
    for f in range(n_files):
        path = os.path.join(root, f"part-{f:03d}.csv")
        df.iloc[bounds[f]:bounds[f + 1]].to_csv(path, index=False, lineterminator="\n")
        nbytes += os.path.getsize(path)
    return {
        "path": root,
        "rows": rows,
        "bytes": nbytes,
        "id_sum": int(ids.sum()),
        "qty_sum": int(qty.sum()),
    }


# -- stream_ingest ------------------------------------------------------

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def gen_stream(root: str, seed: int, n_files: int, events_per_file: int) -> dict:
    """A backlog of events-shaped Parquet files, one micro-batch each
    under ``maxFilesPerTrigger=1``. Returns the staged row count and the
    ``event_id`` checksum the snapshot check compares."""
    os.makedirs(root, exist_ok=True)
    rng = _rng(seed, 3)
    t0 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
    total = n_files * events_per_file
    for f in range(n_files):
        ids = np.arange(f * events_per_file, (f + 1) * events_per_file, dtype=np.int64)
        ts = t0 + np.sort(rng.integers(0, 86_400_000_000, events_per_file))
        table = pa.table({
            "event_id": ids,
            "ts": ts,
            "user_id": rng.integers(0, 5000, events_per_file),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), events_per_file)],
            "value": rng.integers(0, 100_000, events_per_file) / 100,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events_per_file).tolist()],
        }, schema=EVENT_SCHEMA)
        pq.write_table(table, os.path.join(root, f"events-{f:04d}.parquet"))
    return {
        "path": root,
        "files": n_files,
        "rows": total,
        "id_sum": total * (total - 1) // 2,
    }


# -- curation -----------------------------------------------------------

EMBED_DIM = 32


def gen_curation(root: str, seed: int, n_clusters: int, n_unique: int,
                 n_exact: int, n_german: int, n_short: int, n_queries: int = 40) -> dict:
    """A corpus with planted structure, written as one Parquet file:

    - ``n_clusters`` near-duplicate clusters of 2-4 documents: a base
      text of 80 tokens and variants that each replace one token, so
      every pair in a cluster has shingle Jaccard of about 0.85 or more
      and MinHash LSH finds all of them with near certainty; a missed
      pair would change the clustering's iteration count, and with it
      the work a pass does, from seed to seed;
    - ``n_unique`` unrelated documents and ``n_exact`` verbatim copies
      of some of them (exact duplicates);
    - ``n_german`` German documents and ``n_short`` documents under 20
      tokens, both of which the quality filter must drop.

    Every document carries a 32-dim embedding near one of 24 topic
    centres; members of one cluster share an embedding up to tiny noise.
    Returns the ground truth: the doc ids that survive each stage, the
    planted near-duplicate pairs and the search queries.
    """
    os.makedirs(root, exist_ok=True)
    rng = _rng(seed, 4)
    words = vocabulary(rng, 4000)
    centres = rng.normal(size=(24, EMBED_DIM))

    def english(n_tokens: int) -> list[str]:
        toks = [words[i] for i in rng.integers(0, len(words), n_tokens)]
        for p in rng.choice(n_tokens, size=max(2, n_tokens // 8), replace=False):
            toks[p] = EN_STOPWORDS[rng.integers(len(EN_STOPWORDS))]
        return toks

    def embed(topic: int, scale: float = 0.35) -> np.ndarray:
        return centres[topic] + rng.normal(scale=scale, size=EMBED_DIM)

    docs: list[tuple[str, np.ndarray]] = []
    clusters: list[list[int]] = []
    sizes = np.repeat([2, 3, 4], math.ceil(n_clusters / 3))[:n_clusters]
    for size in rng.permutation(sizes):
        base = english(80)
        vec = embed(int(rng.integers(24)))
        members = []
        for m in range(size):
            toks = list(base)
            if m:
                pos = rng.integers(80)
                while toks[pos] == base[pos]:  # a variant never equals its base
                    toks[pos] = words[rng.integers(len(words))]
            members.append(len(docs))
            docs.append((" ".join(toks), vec + rng.normal(scale=0.01, size=EMBED_DIM)))
        clusters.append(members)
    unique_ids = []
    for _ in range(n_unique):
        unique_ids.append(len(docs))
        docs.append((" ".join(english(int(rng.integers(40, 120)))), embed(int(rng.integers(24)))))
    dropped = []
    for _ in range(n_german):
        toks = [words[i] for i in rng.integers(0, len(words), 60)]
        for p in rng.choice(60, size=8, replace=False):
            toks[p] = DE_STOPWORDS[rng.integers(len(DE_STOPWORDS))]
        dropped.append(len(docs))
        docs.append((" ".join(toks), embed(int(rng.integers(24)))))
    for _ in range(n_short):
        dropped.append(len(docs))
        docs.append((" ".join(english(int(rng.integers(5, 15)))), embed(int(rng.integers(24)))))
    copies = []  # (source, copy)
    for src in rng.choice(unique_ids, size=n_exact, replace=False):
        copies.append((int(src), len(docs)))
        docs.append(docs[int(src)])

    # Shuffle doc ids so planted structure is not in id order.
    order = rng.permutation(len(docs))
    new_id = np.empty(len(docs), dtype=np.int64)
    new_id[order] = np.arange(len(docs))
    texts = [None] * len(docs)
    vecs = np.empty((len(docs), EMBED_DIM))
    for old, (t, v) in enumerate(docs):
        texts[new_id[old]] = t
        vecs[new_id[old]] = v
    table = pa.table({
        "doc_id": np.arange(len(docs), dtype=np.int64),
        "text": texts,
        "embedding": pa.array(vecs.tolist(), type=pa.list_(pa.float64())),
    })
    path = os.path.join(root, "corpus.parquet")
    pq.write_table(table, path)

    # Ground truth. After the shuffle a copy's id may be below its
    # source's; exact dedup keeps the smaller id of the two.
    quality_ids = sorted(set(range(len(docs))) - {int(new_id[d]) for d in dropped})
    copy_dropped = {max(int(new_id[s]), int(new_id[c])) for s, c in copies}
    exact_ids = sorted(set(quality_ids) - copy_dropped)
    cluster_ids = [sorted(int(new_id[m]) for m in c) for c in clusters]
    pairs = {(a, b) for c in cluster_ids for i, a in enumerate(c) for b in c[i + 1:]}
    in_cluster = {m for c in cluster_ids for m in c[1:]}
    kept_ids = sorted(set(exact_ids) - in_cluster)
    qrng = _rng(seed, 5)
    queries = sorted(int(q) for q in qrng.choice(kept_ids, size=n_queries, replace=False))
    return {
        "path": path,
        "docs": len(docs),
        "quality_ids": quality_ids,
        "exact_ids": exact_ids,
        "near_dup_pairs": pairs,
        "keepers": len(kept_ids),
        "kept_ids": kept_ids,
        "queries": queries,
        "vectors": vecs,
    }
