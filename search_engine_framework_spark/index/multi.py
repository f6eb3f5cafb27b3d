"""Federated search over several physical indexes — the Lucene
MultiReader / Elasticsearch cross-index search analog.

The reference opens exactly one Lucene index per run
(/root/reference/src/QryEval.java:505-515 — a single
``Idx.open``); a sharded deployment instead holds many independently
built indexes (per tenant, per time window, per ingest wave) and wants
one query over all of them. The classic correctness trap is collection
statistics: scoring each shard with its LOCAL df/ctf/N produces
incomparable scores (the "isolated collection statistics" problem of
distributed IR). Lucene's MultiReader solves it by summing statistics
across sub-readers and offsetting doc ids; we do exactly that, at the
DataFrame level.

:class:`MultiReader` duck-types the slice of ``IndexReader`` that the
query compiler and the SearchEngine search paths consume:

* collection stats (``num_docs`` / ``sum_doclen`` / ``doc_count``) sum
  across sub-indexes — BM25 idf and Indri p_mle are computed from the
  GLOBAL integers, so scores are bit-identical to a single combined
  index (locked by tests/test_multi.py: multi(A, B) ≡ index(A ∪ B));
* ``term_stats`` merges per-pair dicts (df/ctf sum, max_tf max) — each
  sub-reader keeps its driver-side pyarrow bucket-seek fast path;
* ``fetch_postings`` / ``docmap`` / ``doclen`` / ``doc_terms`` union the
  sub-readers' frames with each sub-index's doc ids shifted by a fixed
  offset (Lucene's docBase) — no shuffle is added: the union is a plan
  concatenation, and every downstream groupBy/join shuffles exactly as
  it would over one index's frame.

Scale posture: N sub-indexes mean N metadata seeks per query (driver,
milliseconds each) and one unioned distributed scan — the same shape a
single index with N-times the segments would produce. Tombstones,
generation merging, and delete masking stay per-sub-reader.

Unsupported on purpose: the driver fast path (``fastpath_supported =
False`` — it reads ONE index's files), index mutation (build/append/
delete target a single physical index), and ``stats``-file-only
tooling (index_stats). ext_ids must be unique across sub-indexes (the
caller's contract, as with Lucene's MultiReader).
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .build import IndexPaths
from .reader import IndexReader


class MultiReader:
    fastpath_supported = False
    _n_buckets = None  # heterogeneous layouts; per-sub-reader pruning applies

    def __init__(
        self,
        spark: SparkSession,
        paths: list[str | IndexPaths] | list[IndexReader],
    ):
        if not paths:
            raise ValueError("MultiReader needs at least one index")
        self.spark = spark
        self.readers = [
            p if isinstance(p, IndexReader) else IndexReader(spark, p)
            for p in paths
        ]
        # Analyzer parity across sub-indexes: mixed analysis chains make
        # the merged df/ctf meaningless (a stemmed and an unstemmed
        # index do not share a vocabulary). Same fail-loud rule as
        # SearchEngine._resolve_analyzer.
        base = self.readers[0].lineage.get("analyzer")
        for r in self.readers[1:]:
            other = r.lineage.get("analyzer")
            if base is not None and other is not None and other != base:
                raise ValueError(
                    f"sub-index analyzer mismatch: {other} != {base}; "
                    "rebuild with one analyzer before federating"
                )
        # Lucene docBase: sub-index i's doc ids shift by the number of
        # docs in all previous sub-indexes. stats["N"] is the id
        # allocation high-water mark (appends keep ids < N), so offsets
        # never collide.
        self.offsets: list[int] = []
        off = 0
        for r in self.readers:
            self.offsets.append(off)
            off += r.num_docs
        self._num_docs = off

        # merged stats.json view (engine field validation etc.): N sums,
        # per-field sum_doclen/doc_count sum; the field SET is the union
        # (a query field is legal if ANY sub-index built it — others
        # contribute empty postings, like a Lucene segment without the
        # field)
        fields: dict[str, dict] = {}
        for r in self.readers:
            for f, fs in r.stats.get("fields", {}).items():
                tgt = fields.setdefault(f, {"sum_doclen": 0, "doc_count": 0})
                tgt["sum_doclen"] += fs.get("sum_doclen", 0)
                tgt["doc_count"] += fs.get("doc_count", 0)
        self.stats = {"N": self._num_docs, "fields": fields}

    # -- lineage / analyzer ---------------------------------------------------
    @property
    def lineage(self) -> dict:
        return self.readers[0].lineage

    # -- collection statistics (global = sum of locals) -----------------------
    @property
    def num_docs(self) -> int:
        return self._num_docs

    def sum_doclen(self, field: str) -> int:
        return sum(r.sum_doclen(field) for r in self.readers)

    def doc_count(self, field: str) -> int:
        return sum(r.doc_count(field) for r in self.readers)

    def avg_doclen(self, field: str) -> float:
        dc = self.doc_count(field)
        return self.sum_doclen(field) / dc if dc else 0.0

    def term_stats(
        self, pairs: set[tuple[str, str]]
    ) -> dict[tuple[str, str], dict]:
        merged: dict[tuple[str, str], dict] = {}
        for r in self.readers:
            for pair, s in r.term_stats(pairs).items():
                m = merged.get(pair)
                if m is None:
                    merged[pair] = dict(s)
                else:
                    m["df"] += s["df"]
                    m["ctf"] += s["ctf"]
                    m["max_tf"] = max(m["max_tf"], s["max_tf"])
        return merged

    def state_fingerprint(self) -> str:
        import hashlib

        h = hashlib.sha1()
        for r in self.readers:
            h.update(r.state_fingerprint().encode())
        return h.hexdigest()

    # -- frames (doc ids shifted by docBase) ----------------------------------
    def _shift(self, df: DataFrame, i: int) -> DataFrame:
        off = self.offsets[i]
        if off == 0:
            return df
        return df.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(off)).cast("long")
        )

    def _union(self, frames: list[DataFrame]) -> DataFrame:
        return reduce(lambda a, b: a.unionByName(b), frames)

    def fetch_postings(
        self,
        pairs: set[tuple[str, str]],
        need_positions: bool = True,
    ) -> DataFrame:
        return self._union(
            [
                self._shift(
                    r.fetch_postings(pairs, need_positions=need_positions), i
                )
                for i, r in enumerate(self.readers)
            ]
        )

    def docmap(self) -> DataFrame:
        return self._union(
            [self._shift(r.docmap(), i) for i, r in enumerate(self.readers)]
        )

    def doclen(self) -> DataFrame:
        return self._union(
            [self._shift(r.doclen(), i) for i, r in enumerate(self.readers)]
        )

    def doc_terms(self) -> DataFrame:
        return self._union(
            [self._shift(r.doc_terms(), i) for i, r in enumerate(self.readers)]
        )
