"""Correctness gate: engine results against the pure-Python oracle and
against the engine's other entry points. Runs outside the timed region.

``diff_hits`` and ``cross_paths`` return a list of human-readable
mismatch descriptions; an empty list means the check passed.
"""

from __future__ import annotations

import glob
import json
import math
import os

import pyarrow.parquet as pq

from search_engine_framework_spark.oracle.pyoracle import Oracle, PyIndex
from search_engine_framework_spark.plans.parser import parse_query

Hit = tuple  # (doc_id, ext_id, rank, score)


def hits(rows) -> list[Hit]:
    return [(r["doc_id"], r["ext_id"], r["rank"], r["score"]) for r in rows]


class OracleIndex:
    """The oracle's in-memory index over a corpus parquet file, plus the
    per-doc metadata the structured workload's filter reads."""

    def __init__(self, corpus: str, analyzer):
        rows = pq.read_table(corpus).to_pylist()
        self.analyzer = analyzer
        self.index = PyIndex.build(rows, fields=("body",), cfg=analyzer)
        self.role = {
            f"{r['conv_id']}:{r['turn_idx']}": r["role"] for r in rows
        }

    def expected(self, query: str, model, k: int, doc_filter=None) -> list[Hit]:
        node = parse_query(query, model, self.analyzer)
        if doc_filter is None:
            return Oracle(self.index, model).run(node, k=k)
        if doc_filter != "role = 'user'":
            raise ValueError(f"oracle has no filter {doc_filter!r}")
        full = Oracle(self.index, model).run(node, k=self.index.n_docs)
        kept = [h for h in full if self.role[h[1]] == "user"][:k]
        return [(d, e, i + 1, s) for i, (d, e, _r, s) in enumerate(kept)]


def diff_hits(label: str, got: list[Hit], want: list[Hit], exact: bool) -> list[str]:
    """Doc ids, ext ids and ranks must be equal; scores bit-equal when
    ``exact`` (two engine paths), else within 1e-9 relative (oracle)."""
    if [g[:3] for g in got] != [w[:3] for w in want]:
        return [f"{label}: ranking differs: got {got[:3]}... want {want[:3]}..."]
    for g, w in zip(got, want):
        same = g[3] == w[3] if exact else math.isclose(
            g[3], w[3], rel_tol=1e-9, abs_tol=1e-12
        )
        if not same:
            return [f"{label}: score differs at rank {g[2]}: {g[3]!r} vs {w[3]!r}"]
    return []


def cross_paths(engine, model, queries: dict[str, str], searched: dict[str, list[Hit]], k: int) -> list[str]:
    """``search`` ≡ ``search_bulk_bm25`` ≡ ``search_many`` on ``queries``
    ({qid: text}); ``searched`` holds the ``search`` results by qid."""
    out = []
    for name, df in (
        ("search_bulk_bm25", engine.search_bulk_bm25(queries, model, k=k)),
        ("search_many", engine.search_many(queries, model, k=k)),
    ):
        by_qid: dict[str, list[Hit]] = {q: [] for q in queries}
        for r in df.collect():
            by_qid[r["qid"]].append((r["doc_id"], r["ext_id"], r["rank"], r["score"]))
        for qid in queries:
            out += diff_hits(f"{name}[{qid}]", by_qid[qid], searched[qid], exact=True)
    return out


def manifest_identity(index_root: str) -> dict[int, tuple]:
    """{bucket: (n_terms, n_postings, content_hash)} of one built index."""
    out = {}
    for path in glob.glob(os.path.join(index_root, "_manifests", "bucket-*.json")):
        with open(path) as fh:
            m = json.load(fh)
        out[m["bucket"]] = (m["n_terms"], m["n_postings"], m["content_hash"])
    return out


def oracle_totals(oracle: OracleIndex) -> tuple[int, int]:
    """(n_terms, n_postings) the oracle's index holds."""
    postings = oracle.index.postings
    return len(postings), sum(len(p) for p in postings.values())
