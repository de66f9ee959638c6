"""Seeded input generation for the benchmark workloads.

Everything here is pure NumPy/PyArrow: the program under test receives
only the generated parquet files, never the generator's state.  Every
function takes a ``numpy.random.Generator``; the same seed therefore
gives byte-identical files and identical expected answers.

Table shapes follow the TPC-H-like ``orders`` and ``customer`` tables the
engine is tested on, and its text corpus (``documents``, ``embeddings``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Corpus vocabulary, the same word set the engine's testdata corpus uses.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
EMBED_DIM = 64
EMBED_CLUSTERS = 10

_TS0 = 694_224_000_000_000  # 1992-01-01 in microseconds


@dataclass(frozen=True)
class Shape:
    """One parity table: its pk, its value columns (name -> kind) and the
    column the pair's exclude-list names."""

    name: str
    pk: str
    columns: tuple[tuple[str, str], ...]
    excluded: str

    @property
    def compared(self) -> list[str]:
        return [c for c, _ in self.columns if c != self.excluded]


SHAPES = {
    s.name: s
    for s in (
        Shape(
            "orders",
            "o_orderkey",
            (
                ("o_custkey", "long"),
                ("o_orderstatus", "status"),
                ("o_totalprice", "money"),
                ("o_orderdate", "ts"),
                ("o_orderpriority", "priority"),
            ),
            "o_orderpriority",
        ),
        Shape(
            "customer",
            "c_custkey",
            (
                ("c_name", "custname"),
                ("c_nationkey", "int"),
                ("c_acctbal", "money"),
                ("c_mktsegment", "segment"),
            ),
            "c_mktsegment",
        ),
    )
}

_CODES = {
    "status": ("O", "F", "P"),
    "priority": ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
    "segment": ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
}
_ARROW_TYPES = {
    "long": pa.int64(),
    "int": pa.int32(),
    "money": pa.float64(),
    "ts": pa.timestamp("us"),
}


def _column(kind: str, pks: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    n = len(pks)
    if kind == "long":
        return rng.integers(1, 200_000, n, dtype=np.int64)
    if kind == "int":
        return rng.integers(0, 50, n).astype(np.int32)
    if kind == "money":
        return np.round(rng.uniform(1.0, 100_000.0, n), 2)
    if kind == "ts":
        days = rng.integers(0, 2400, n, dtype=np.int64)
        return _TS0 + days * 86_400_000_000
    if kind == "custname":
        return np.array([f"Customer#{k:09d}" for k in pks], dtype=object)
    codes = _CODES[kind]
    return np.array(codes, dtype=object)[rng.integers(0, len(codes), n)]


def base_table(
    shape: Shape, n: int, rng: np.random.Generator, pk_start: int = 1
) -> dict[str, np.ndarray]:
    """``n`` rows with unique pks ``pk_start .. pk_start+n-1`` in seeded
    row order."""
    pks = rng.permutation(n).astype(np.int64) + pk_start
    cols = {shape.pk: pks}
    for name, kind in shape.columns:
        cols[name] = _column(kind, pks, rng)
    return cols


def _edited(kind: str, v):
    """A value that differs from ``v`` under the diff's canonical
    rendering (4 decimal places, second-precision timestamps)."""
    if kind in ("long", "int", "ts"):
        return v + (86_400_000_000 if kind == "ts" else 1)
    if kind == "money":
        return round(v + 1.0, 2)
    return v + "x"


def _take(cols: dict[str, np.ndarray], idx: np.ndarray) -> dict[str, np.ndarray]:
    return {k: v[idx] for k, v in cols.items()}


def _concat(a: dict, b: dict) -> dict:
    return {k: np.concatenate([a[k], b[k]]) for k in a}


def drift(
    shape: Shape,
    hive: dict[str, np.ndarray],
    rng: np.random.Generator,
    n_missing: int,
    n_extra: int,
    n_edits: int,
    n_excluded_edits: int,
) -> tuple[dict[str, np.ndarray], dict]:
    """The sf side of a pair: ``hive`` with rows removed, rows added,
    one compared cell edited in ``n_edits`` rows and only the excluded
    column edited in ``n_excluded_edits`` rows (disjoint row sets).

    Returns the sf columns and the expected ``table_metrics`` counts."""
    n = len(hive[shape.pk])
    rows = rng.permutation(n)
    missing = rows[:n_missing]
    edits = rows[n_missing : n_missing + n_edits]
    excl = rows[n_missing + n_edits : n_missing + n_edits + n_excluded_edits]
    sf = {k: v.copy() for k, v in hive.items()}
    kinds = dict(shape.columns)
    compared = shape.compared
    edit_cols = rng.integers(0, len(compared), len(edits))
    per_column: dict[str, int] = {}
    for r, ci in zip(edits, edit_cols):
        c = compared[ci]
        sf[c][r] = _edited(kinds[c], sf[c][r])
        per_column[c] = per_column.get(c, 0) + 1
    for r in excl:
        sf[shape.excluded][r] = _edited(kinds[shape.excluded], sf[shape.excluded][r])
    keep = np.ones(n, dtype=bool)
    keep[missing] = False
    sf = _take(sf, np.flatnonzero(keep))
    if n_extra:
        pk_start = int(hive[shape.pk].max()) + 1
        sf = _concat(sf, base_table(shape, n_extra, rng, pk_start))
    expected = {
        "total_record_count_hive": n,
        "total_record_count_sf": n - n_missing + n_extra,
        "row_count_only_in_hive": n_missing,
        "row_count_only_in_sf": n_extra,
        "row_count_data_discrepancy": n_edits,
        "cells_per_column": dict(sorted(per_column.items())),
    }
    return sf, expected


def drift_counts(n: int, rate: float, rng: np.random.Generator) -> tuple[int, ...]:
    """Split ``rate * n`` drifted rows into (missing, extra, edits,
    excluded edits), each at least one."""
    k = max(4, int(round(rate * n)))
    return tuple(int(x) + 1 for x in rng.multinomial(k - 4, [0.25] * 4))


def write_table(shape: Shape, cols: dict[str, np.ndarray], path: str) -> None:
    fields = [(shape.pk, pa.int64())] + [
        (c, _ARROW_TYPES.get(kind, pa.string())) for c, kind in shape.columns
    ]
    arrays = [pa.array(cols[name], type=t) for name, t in fields]
    pq.write_table(pa.Table.from_arrays(arrays, schema=pa.schema(fields)), path)


def documents(
    n_docs: int, dup_rate: float, rng: np.random.Generator
) -> dict[str, np.ndarray]:
    """Random-word documents; a ``dup_rate`` share re-uses an earlier
    document's text, half verbatim and half with one word replaced."""
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), m)) for m in lengths]
    n_dup = int(round(dup_rate * n_docs))
    targets = rng.choice(np.arange(1, n_docs), n_dup, replace=False)
    for j, t in enumerate(sorted(targets)):
        src = texts[int(rng.integers(0, t))]
        if j % 2:
            words = src.split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            src = " ".join(words)
        texts[t] = src
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": np.array([f"src{i % N_SOURCES}" for i in range(n_docs)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(
    n_vecs: int, dup_rate: float, rng: np.random.Generator
) -> dict[str, np.ndarray]:
    """Unit vectors around ``EMBED_CLUSTERS`` weak centroids; a
    ``dup_rate`` share are near-copies (1% noise) of an earlier vector."""
    centroids = rng.normal(0.0, 0.07 / np.sqrt(EMBED_DIM), (EMBED_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, EMBED_CLUSTERS, n_vecs)
    v = centroids[labels] + rng.normal(0.0, 1.0 / np.sqrt(EMBED_DIM), (n_vecs, EMBED_DIM))
    n_dup = int(round(dup_rate * n_vecs))
    for t in sorted(rng.choice(np.arange(1, n_vecs), n_dup, replace=False)):
        s = int(rng.integers(0, t))
        v[t] = v[s] + rng.normal(0.0, 0.01 / np.sqrt(EMBED_DIM), EMBED_DIM)
        labels[t] = labels[s]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": v,
        "label": labels.astype(np.int32),
    }


def write_corpus(docs: dict, vecs: dict, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(docs["doc_id"]),
                "text": pa.array(docs["text"], pa.string()),
                "lang": pa.array(docs["lang"], pa.string()),
                "source": pa.array(docs["source"], pa.string()),
                "n_chars": pa.array(docs["n_chars"]),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs["embedding"].reshape(-1)), EMBED_DIM
    ).cast(pa.list_(pa.float32()))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(vecs["vec_id"]),
                "embedding": emb,
                "label": pa.array(vecs["label"]),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
