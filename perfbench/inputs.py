"""Seeded inputs. The same seed always writes the same bytes; the program
under test only ever sees the files written here.

* sequences — the F1 fixture (``tsrollup.datagen``): doc-per-row token
  arrays, written as many part files so scans split like a real table.
* star tables — ``events``, ``documents`` and ``lineitem`` in the schema and
  value ranges of the shared sf fixtures (TESTDATA.md), at a chosen row
  count, for the ``__spark_entry__`` query rows.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# words of the documents table (the sf fixtures' 30-word vocabulary plus
# the marker word their planted near-duplicates carry)
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")


def write_sequence_files(path: str, seed: int, n_files: int, docs_per_file: int,
                         first_file: int = 0) -> list[str]:
    """``n_files`` F1 part files of ``docs_per_file`` docs each; file ``b``
    is the seeded batch ``seed + b`` (doc ids ``<source>-<seed+b>-<index>``),
    so files are independent and any subset regenerates byte-identically."""
    from tsrollup.datagen import generate_batch

    os.makedirs(path, exist_ok=True)
    out = []
    for b in range(first_file, first_file + n_files):
        f = os.path.join(path, f"part-{b:05d}.parquet")
        pq.write_table(generate_batch(seed + b, docs_per_file), f)
        out.append(f)
    return out


def _events(rng: np.random.Generator, n: int, n_users: int) -> pd.DataFrame:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    offs = np.sort(rng.integers(0, span_us, size=n))
    value = np.round(rng.exponential(50.0, size=n), 2)
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, size=n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=n),
        "value": np.maximum(value, 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    lengths = rng.integers(10, 100, size=n)
    flat = rng.choice(WORDS, size=int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [" ".join(flat[e - ln:e]) for e, ln in zip(ends, lengths)]
    # planted near-duplicates: ~1% of docs are a twin of an earlier doc with
    # ~5% of words replaced by the marker word, plus a few exact copies
    n_twins = max(2, n // 100)
    for i, src in enumerate(rng.choice(n // 2, size=n_twins, replace=False)):
        toks = texts[src].split()
        toks = ["dup" if rng.random() < 0.05 else t for t in toks]
        texts[n - 1 - i] = " ".join(toks)
    for i, src in enumerate(rng.choice(n // 4, size=max(1, n // 500),
                                       replace=False)):
        texts[n // 2 + i] = texts[src]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _lineitem(rng: np.random.Generator, n: int) -> pd.DataFrame:
    n_orders = max(1, n // 4)
    days = rng.integers(0, 2498, size=n).astype("timedelta64[D]")
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, size=n).astype(np.int64),
        "l_partkey": rng.integers(0, max(1, n // 30), size=n).astype(np.int64),
        "l_suppkey": rng.integers(0, max(1, n // 600), size=n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, size=n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, size=n), 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), size=n),
        "l_linestatus": rng.choice(("O", "F"), size=n),
        "l_shipdate": (np.datetime64("1995-01-02", "D") + days)
        .astype("datetime64[us]"),
    })


def write_star_tables(sf_dir: str, seed: int, n_events: int, n_docs: int,
                      n_lineitem: int) -> dict[str, int]:
    """One single-file parquet per table, like the sf fixtures;
    returns each table's byte size."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "events": _events(rng, n_events, max(1, n_events // 66)),
        "documents": _documents(rng, n_docs),
        "lineitem": _lineitem(rng, n_lineitem),
    }
    sizes = {}
    for name, df in tables.items():
        p = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), p)
        sizes[name] = os.path.getsize(p)
    return sizes


def _data_files(path: str):
    """Committed data files under ``path``: hidden and ``_``-prefixed
    bookkeeping files and directories are skipped."""
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                yield os.path.join(root, f)


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _data_files(path))


def tree_files(path: str) -> int:
    return sum(1 for _ in _data_files(path))
