"""The workloads: seeded inputs, one request, and the check of its output.

A workload is a mix of request *kinds*.  Each kind builds its inputs at
set-up from the seeded generator and contributes specs to every *round*;
the timed loop repeats whole rounds, so every run executes the same mix
and the per-request counts of a traced run repeat exactly.  Within a
round the kinds take turns in a fixed order; the seed picks the data,
the drift and the queries, not the order.

Each request drives the ``sparkdiff`` public API the way its users do,
from plan construction through the last action, and returns what a
caller would keep.  Checks run after the timed region.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graftbench import inputs, reference


def _metrics_dict(row) -> dict:
    d = row.asDict()
    d.pop("row_created")
    return d


def _load(spark, d: str, name: str):
    from sparkdiff.session import load_table

    return load_table(spark, d, name)


class FullValidation:
    """The reference's ``/process`` flow on one drifted (hive, sf) pair:
    metrics row, per-column report sent through the JSON sink, and the
    cell-level diff written to storage."""

    kind = "full"
    params = {"shape": "orders", "rows": 60_000, "drift_rate": [0.01, 0.05]}

    def setup(self, spark, work: str, rng: np.random.Generator) -> None:
        self.spark, self.work = spark, work
        self.shape = inputs.SHAPES[self.params["shape"]]
        n = self.params["rows"]
        hive = inputs.base_table(self.shape, n, rng)
        rate = rng.uniform(*self.params["drift_rate"])
        sf, self.expected = inputs.drift(
            self.shape, hive, rng, *inputs.drift_counts(n, rate, rng)
        )
        inputs.write_table(self.shape, hive, os.path.join(work, "hive.parquet"))
        inputs.write_table(self.shape, sf, os.path.join(work, "sf.parquet"))

    def round(self, i: int) -> list:
        return [(self.kind,)]

    def rows(self, spec) -> int:
        return self.expected["total_record_count_hive"] + self.expected["total_record_count_sf"]

    def request(self, spec, n: int, tr) -> dict:
        from sparkdiff.operators.diff import table_diff
        from sparkdiff.sources.io import to_json_records

        shape = self.shape
        hive = _load(self.spark, self.work, "hive")
        sf = _load(self.spark, self.work, "sf")
        with tr.span("operators.diff.table_diff"):
            td = table_diff(hive, sf, shape.pk, shape.name, [shape.excluded])
        with tr.span("operators.diff.table_diff.metrics") as sp:
            metrics = _metrics_dict(td.metrics.collect()[0])
            sp.plan(td.metrics)
        with tr.span("operators.diff.table_diff.report") as sp:
            with tr.span("sources.io.to_json_records"):
                records = to_json_records(td.report)
            report = records.collect()
            sp.plan(records)
        sink = os.path.join(self.work, "sink", f"cells-{n}")
        with tr.span("operators.diff.table_diff.cells") as sp:
            td.cells.write.parquet(sink)
            sp.plan(td.cells)
        return {"metrics": metrics, "report": [r.json for r in report], "sink": sink}

    def check(self, spec, out: dict) -> str | None:
        import json

        exp = self.expected
        m = out["metrics"]
        for k, v in exp.items():
            if k != "cells_per_column" and m[k] != v:
                return f"{k}={m[k]}, expected {v}"
        report = {r["columnName"]: len(r["id"]) for r in map(json.loads, out["report"])}
        if report != exp["cells_per_column"]:
            return f"report {report} != {exp['cells_per_column']}"
        n_cells = pq.read_table(out["sink"]).num_rows
        if n_cells != exp["row_count_data_discrepancy"]:
            return f"{n_cells} cells written, expected {exp['row_count_data_discrepancy']}"
        return None


class ScriptPair:
    """The Hive and Snowflake fixture scripts: macro expansion, dialect
    rewrite and ``spark.sql`` over a seeded customer table, then the cell
    diff of the two results."""

    kind = "script"
    params = {"customer_rows": 15_000}

    def setup(self, spark, work: str, rng: np.random.Generator) -> None:
        self.spark, self.work = spark, work
        shape = inputs.SHAPES["customer"]
        n = self.params["customer_rows"]
        inputs.write_table(
            shape, inputs.base_table(shape, n, rng), os.path.join(work, "customer.parquet")
        )
        self._expected = None

    def round(self, i: int) -> list:
        return [(self.kind,)]

    def rows(self, spec) -> int:
        return 2 * self.params["customer_rows"]

    def request(self, spec, n: int, tr) -> dict:
        from sparkdiff.operators.diff import cell_diff
        from sparkdiff.plans.parity import run_script_pair

        with tr.span("plans.parity.run_script_pair"):
            hive_df, sf_df = run_script_pair(self.spark, self.work)
        with tr.span("operators.diff.cell_diff"):
            cells = cell_diff(hive_df, sf_df, "ID")
        with tr.span("operators.diff.cell_diff.collect") as sp:
            rows = cells.collect()
            sp.plan(cells)
        ids: dict[str, set] = {}
        for r in rows:
            ids.setdefault(r.column_name, set()).add(r.pk_value)
        return {c: len(v) for c, v in sorted(ids.items())}

    def check(self, spec, out: dict) -> str | None:
        if self._expected is None:
            self._expected = _script_pair_oracle(self.work)
        if out != self._expected:
            return f"script pair cells {out} != oracle {self._expected}"
        return None


def _script_pair_oracle(sf_dir: str) -> dict:
    """Distinct diverging ids per column, from the registry's DuckDB
    oracle for the script-pair diff."""
    import duckdb

    import __spark_entry__

    con = duckdb.connect()
    try:
        path = os.path.join(sf_dir, "customer.parquet")
        con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{path}')")
        rows = con.execute(__spark_entry__.oracle_sql()["q34_script_pair_diff"]).fetchall()
    finally:
        con.close()
    return {c: int(n) for c, n in sorted(rows)}


class Revalidation:
    """Re-validation of a pair whose live side changed by at most 0.1%
    since the last run: the checksum-store prefilter, the refined metrics
    row, then the store is rewritten from the live side.  Round ``i``
    validates live version ``i mod versions``; the store always holds the
    previous version, so every request sees the same amount of change."""

    kind = "revalidate"
    params = {"shape": "orders", "rows": 60_000, "change_rate": 0.001, "versions": 2, "n_buckets": 4096}

    def setup(self, spark, work: str, rng: np.random.Generator) -> None:
        from sparkdiff.operators.diff import write_bucket_store

        self.spark, self.work = spark, work
        shape = self.shape = inputs.SHAPES[self.params["shape"]]
        n = self.params["rows"]
        hive = inputs.base_table(shape, n, rng)
        inputs.write_table(shape, hive, os.path.join(work, "hive.parquet"))
        k = max(4, int(self.params["change_rate"] * n))
        self.versions = []
        for v in range(self.params["versions"]):
            counts = inputs.drift_counts(n, k / n, rng)[:3]
            live, expected = inputs.drift(shape, hive, rng, *counts, 0)
            inputs.write_table(shape, live, os.path.join(work, f"live{v}.parquet"))
            self.versions.append(expected)
        self.store = os.path.join(work, "store")
        if spark is not None:  # input generation alone needs no session
            last = _load(spark, work, f"live{len(self.versions) - 1}")
            write_bucket_store(last, shape.pk, shape.compared, self.store, self.params["n_buckets"])
        self._full: dict = {}

    def round(self, i: int) -> list:
        return [(self.kind, i % len(self.versions))]

    def rows(self, spec) -> int:
        exp = self.versions[spec[1]]
        return exp["total_record_count_hive"] + exp["total_record_count_sf"]

    def request(self, spec, n: int, tr) -> dict:
        from sparkdiff.operators.diff import (
            dirty_vs_store,
            refined_table_metrics,
            write_bucket_store,
        )

        shape, nb = self.shape, self.params["n_buckets"]
        hive = _load(self.spark, self.work, "hive")
        live = _load(self.spark, self.work, f"live{spec[1]}")
        with tr.span("operators.diff.dirty_vs_store") as sp:
            dirty_df = dirty_vs_store(live, self.store, shape.pk, shape.compared, nb)
            dirty = sorted(r.bucket for r in dirty_df.collect())
            sp.plan(dirty_df)
        with tr.span("operators.diff.refined_table_metrics") as sp:
            m_df = refined_table_metrics(
                hive, live, shape.pk, shape.name, [shape.excluded], n_buckets=nb
            )
            metrics = _metrics_dict(m_df.collect()[0])
            sp.plan(m_df)
        with tr.span("operators.diff.write_bucket_store"):
            write_bucket_store(live, shape.pk, shape.compared, self.store, nb)
        return {"metrics": metrics, "dirty_buckets": dirty}

    def check(self, spec, out: dict) -> str | None:
        """The refined metrics equal ``table_metrics`` over the same pair
        and the generator's counts, and the dirty buckets read against
        the store equal ``dirty_pk_buckets`` of the previous live version
        against this one -- which also checks the store the previous
        request wrote."""
        from sparkdiff.operators.diff import dirty_pk_buckets, table_metrics

        shape, exp, v = self.shape, self.versions[spec[1]], spec[1]
        if spec not in self._full:
            hive = _load(self.spark, self.work, "hive")
            live = _load(self.spark, self.work, f"live{v}")
            prev = _load(self.spark, self.work, f"live{(v - 1) % len(self.versions)}")
            row = table_metrics(hive, live, shape.pk, shape.name, [shape.excluded]).collect()[0]
            buckets = dirty_pk_buckets(prev, live, shape.pk, [shape.excluded], self.params["n_buckets"])
            self._full[spec] = (_metrics_dict(row), sorted(r.bucket for r in buckets.collect()))
        metrics, dirty = self._full[spec]
        if out["dirty_buckets"] != dirty:
            return f"version {v}: {len(out['dirty_buckets'])} dirty buckets vs the store, expected {len(dirty)}"
        if out["metrics"] != metrics:
            return f"version {v}: refined metrics != table_metrics"
        for k, want in exp.items():
            if k != "cells_per_column" and out["metrics"][k] != want:
                return f"version {v}: {k}={out['metrics'][k]}, expected {want}"
        return None

    def ratios(self, spec, out: dict) -> dict:
        """Prefilter efficiency of one request (traced runs only): the
        dirty share of the hive-vs-live buckets, and truly changed pks
        over the pks the refined path re-joins."""
        from sparkdiff.operators.diff import dirty_pk_buckets, refine_pair

        shape, nb, exp = self.shape, self.params["n_buckets"], self.versions[spec[1]]
        hive = _load(self.spark, self.work, "hive")
        live = _load(self.spark, self.work, f"live{spec[1]}")
        n_dirty = dirty_pk_buckets(hive, live, shape.pk, [shape.excluded], nb).count()
        h, s = refine_pair(hive, live, shape.pk, [shape.excluded], nb)
        rejoined = h.select(shape.pk).union(s.select(shape.pk)).distinct().count()
        changed = sum(
            exp[k]
            for k in ("row_count_only_in_hive", "row_count_only_in_sf", "row_count_data_discrepancy")
        )
        return {
            "revalidate.dirty_bucket_frac": n_dirty / nb,
            "revalidate.useful_rejoin_frac": changed / rejoined,
        }


#: Curation entries of the registry run by the benchmark, and the table
#: each one scans.
CURATION_ENTRIES = {"q74_winnow_fingerprints": "documents"}


class Curation:
    """One curation entry of the registry per request, over a seeded
    corpus with injected exact and near duplicates."""

    kind = "curation"
    params = {"documents": 1000, "embeddings": 400, "dup_rate": 0.05, "entries": sorted(CURATION_ENTRIES)}

    def setup(self, spark, work: str, rng: np.random.Generator) -> None:
        import __spark_entry__

        self.spark, self.dir = spark, work
        p = self.params
        inputs.write_corpus(
            inputs.documents(p["documents"], p["dup_rate"], rng),
            inputs.embeddings(p["embeddings"], p["dup_rate"], rng),
            work,
        )
        self.entries = __spark_entry__.queries()
        self._expected: dict = {}

    def round(self, i: int) -> list:
        return [(self.kind, name) for name in self.params["entries"]]

    def rows(self, spec) -> int:
        return self.params[CURATION_ENTRIES[spec[1]]]

    def request(self, spec, n: int, tr) -> list:
        name = spec[1]
        with tr.span(f"queries.{name}.build"):
            df = self.entries[name](self.spark, self.dir)
        with tr.span(f"queries.{name}.run") as sp:
            rows = df.collect()
            sp.plan(df)
        return _canonical_rows(rows)

    def check(self, spec, out: list) -> str | None:
        if spec not in self._expected:
            self._expected[spec] = _curation_oracle(self.dir, spec[1])
        exp = self._expected[spec]
        if out != exp:
            return f"{spec[1]}: {len(out)} rows differ from the oracle's {len(exp)}"
        return None


def _canonical_rows(rows) -> list:
    return sorted(tuple(map(repr, r)) for r in rows)


def _curation_oracle(corpus_dir: str, name: str) -> list:
    import duckdb

    import __spark_entry__

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            path = os.path.join(corpus_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return _canonical_rows(con.execute(__spark_entry__.oracle_sql()[name]).fetchall())
    finally:
        con.close()


class Search:
    """Hybrid search: BM25 over 3 seeded terms, exact cosine top-k for a
    seeded query vector, reciprocal-rank fusion of the two lists.  The
    corpus tables stay open across requests, as in a serving process."""

    kind = "search"
    params = {"documents": 5000, "embeddings": 2000, "dup_rate": 0.05, "top_k": 20, "per_round": 2, "queries": 16}

    def setup(self, spark, work: str, rng: np.random.Generator) -> None:
        self.spark, self.work = spark, work
        p = self.params
        docs = inputs.documents(p["documents"], p["dup_rate"], rng)
        vecs = inputs.embeddings(p["embeddings"], p["dup_rate"], rng)
        inputs.write_corpus(docs, vecs, work)
        words = [w for w in inputs.VOCAB if reference.tokens(w)]
        self.queries = []
        for _ in range(p["queries"]):
            terms = tuple(words[i] for i in rng.choice(len(words), 3, replace=False))
            base = vecs["embedding"][int(rng.integers(0, p["embeddings"]))].astype(np.float64)
            q = base + rng.normal(0.0, 0.05, inputs.EMBED_DIM)
            self.queries.append((terms, tuple(float(x) for x in q)))
        self._docs = [(int(i), reference.tokens(t)) for i, t in zip(docs["doc_id"], docs["text"])]
        self._vecs = [(int(i), [float(x) for x in v]) for i, v in zip(vecs["vec_id"], vecs["embedding"])]
        self._expected: dict = {}

    def round(self, i: int) -> list:
        k = self.params["per_round"]
        return [(self.kind, (i * k + j) % len(self.queries)) for j in range(k)]

    def rows(self, spec) -> int:
        return self.params["documents"] + self.params["embeddings"]

    def request(self, spec, n: int, tr) -> list:
        from sparkdiff.functions.text import tokens
        from sparkdiff.operators.retrieval import bm25_rank, rrf_fuse
        from sparkdiff.operators.similarity import cosine_topk

        spark, k = self.spark, self.params["top_k"]
        terms, qvec = self.queries[spec[1]]
        docs = _load(spark, self.work, "documents").select("doc_id", tokens("text").alias("_toks"))
        vecs = _load(spark, self.work, "embeddings")
        query = spark.createDataFrame(
            [(0, list(qvec))],
            T.StructType(
                [
                    T.StructField("qid", T.LongType()),
                    T.StructField("qv", T.ArrayType(T.DoubleType())),
                ]
            ),
        )
        with tr.span("operators.retrieval.bm25_rank"):
            lexical = bm25_rank(docs, list(terms), top_k=k)
        with tr.span("operators.similarity.cosine_topk"):
            dense = cosine_topk(query, vecs, "qid", "vec_id", "qv", "embedding", k)
        with tr.span("operators.retrieval.rrf_fuse"):
            fused = rrf_fuse(
                [
                    lexical.select("doc_id", "rank"),
                    dense.select(F.col("corpus_id").alias("doc_id"), "rank"),
                ],
                top_k=k,
            )
        with tr.span("search.collect") as sp:
            rows = fused.collect()
            sp.plan(fused)
        return [r.doc_id for r in sorted(rows, key=lambda r: r.fused_rank)]

    def check(self, spec, out: list) -> str | None:
        if spec not in self._expected:
            terms, qvec = self.queries[spec[1]]
            k = self.params["top_k"]
            lexical = reference.bm25_topk(self._docs, list(terms), k)
            dense = reference.cosine_topk(self._vecs, list(qvec), k)
            self._expected[spec] = reference.rrf_topk([lexical, dense], k)
        if out != self._expected[spec]:
            return f"search {self.queries[spec[1]][0]}: fused ids differ from the reference"
        return None


class Workload:
    """A seeded interleaving of request kinds; specs are ``(kind, ...)``."""

    def __init__(self, name: str, kinds: tuple):
        self.name = name
        self.kinds = {k.kind: k() for k in kinds}

    @property
    def params(self) -> dict:
        return {name: k.params for name, k in self.kinds.items()}

    def setup(self, spark, work: str, rng: np.random.Generator) -> None:
        for name, k in self.kinds.items():
            d = os.path.join(work, name)
            os.makedirs(d)
            k.setup(spark, d, rng)

    def round(self, i: int) -> list:
        """Round ``i``: the kinds' specs interleaved in a fixed order, so
        that the request before each request is the same in every run."""
        queues = [list(k.round(i)) for k in self.kinds.values()]
        out = []
        while any(queues):
            out += [q.pop(0) for q in queues if q]
        return out

    def _kind(self, spec):
        return self.kinds[spec[0]]

    def rows(self, spec) -> int:
        return self._kind(spec).rows(spec)

    def request(self, spec, n: int, tr):
        return self._kind(spec).request(spec, n, tr)

    def check(self, spec, out) -> str | None:
        return self._kind(spec).check(spec, out)

    def ratios(self, spec, out) -> dict:
        kind = self._kind(spec)
        return kind.ratios(spec, out) if hasattr(kind, "ratios") else {}


#: Each workload's request kinds, in round order (see README.md for why
#: each workload exists).
WORKLOADS = {
    "parity": (FullValidation, Revalidation, ScriptPair),
    "corpus": (Search, Curation),
}


def make(name: str) -> Workload:
    return Workload(name, WORKLOADS[name])


def spec_label(spec) -> str:
    return ":".join(map(str, spec))
