"""Query-time index access.

Opens an index built by ``index.build`` and exposes:

* ``fetch_postings(pairs)`` — ONE pruned Parquet scan for all of a query's
  (term, field) leaves. The predicate pushes ``term IN (...)`` into the
  scan; because segment files are bucketed by xxhash64(term, field) and
  sorted by term within files, Parquet row-group stats prune almost all IO
  (the Lucene term-seek analog, /root/reference/src/InvList.java:81-92).
  Blocks are decoded in one Arrow-vectorized pass.
* ``term_stats(pairs)`` — df/ctf/max_tf without decoding blocks (tiny
  projected scan; the driver-side constants BM25/Indri need).
* collection stats (N, per-field token totals) from stats.json
  (QryopSlScore.java:95,132,140-141).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.codec import decode_block
from .build import IndexPaths

POSTING_SCHEMA = (
    "term string, field string, doc_id long, tf int, positions array<int>, "
    "doclen int"
)


def read_index_lineage(paths: IndexPaths | str) -> dict:
    """Build lineage from the first bucket manifest (index/build.py writes
    it per bucket). Empty dict → unknown layout: no bucket pruning, no
    analyzer-parity check. Driver-local (no Spark session) so appends,
    purges, and the reader all consult the SAME record."""
    import os

    paths = paths if isinstance(paths, IndexPaths) else IndexPaths(paths)
    mdir = paths.manifests
    if not os.path.isdir(mdir):
        return {}
    for f in sorted(os.listdir(mdir)):
        if f.startswith("bucket-") and f.endswith(".json"):
            with open(os.path.join(mdir, f)) as fh:
                m = json.load(fh)
            lin = m.get("lineage")
            if lin:
                return dict(lin)
    return {}


class IndexReader:
    def __init__(self, spark: SparkSession, paths: IndexPaths | str):
        import os

        self.spark = spark
        self.paths = paths if isinstance(paths, IndexPaths) else IndexPaths(paths)
        if not os.path.isdir(self.paths.segments):
            # An interrupted purge (whole-root swap) or compaction
            # (segments-dir swap) leaves the live data only under
            # .purging/.old/.compacting — restore before failing.
            from ..streaming.incremental import recover_compaction
            from .deletes import recover_purge

            recover_purge(self.paths)
            recover_compaction(self.paths)
        with open(self.paths.stats) as fh:
            self.stats = json.load(fh)
        self._lineage: dict = self._read_lineage()
        nb = self._lineage.get("n_buckets")
        self._n_buckets: int | None = int(nb) if nb else None

    def _read_lineage(self) -> dict:
        return read_index_lineage(self.paths)

    @property
    def lineage(self) -> dict:
        return self._lineage

    # -- collection statistics ------------------------------------------------
    @property
    def num_docs(self) -> int:
        return self.stats["N"]

    def sum_doclen(self, field: str) -> int:
        return self.stats["fields"].get(field, {}).get("sum_doclen", 0)

    def doc_count(self, field: str) -> int:
        return self.stats["fields"].get(field, {}).get("doc_count", 0)

    def avg_doclen(self, field: str) -> float:
        dc = self.doc_count(field)
        return self.sum_doclen(field) / dc if dc else 0.0

    def state_fingerprint(self) -> str:
        """Digest of everything that can change query RESULTS: the
        bucket manifests' content hashes + completeness (builds,
        appends, compactions rewrite these) and the tombstone file
        listing (deletes append files; purges remove the dir). A
        result cached under one fingerprint is valid exactly as long
        as the fingerprint holds — the Elasticsearch request-cache
        invalidation rule (cache per index generation), driver-side
        file metadata only, no Spark job."""
        import hashlib
        import os

        h = hashlib.sha1()
        mdir = self.paths.manifests
        if os.path.isdir(mdir):
            for f in sorted(os.listdir(mdir)):
                if f.startswith("bucket-") and f.endswith(".json"):
                    with open(os.path.join(mdir, f), "rb") as fh:
                        h.update(f.encode())
                        h.update(fh.read())
        tdir = self.paths.tombstones
        if os.path.isdir(tdir):
            for root, _d, files in sorted(os.walk(tdir)):
                for f in sorted(files):
                    p = os.path.join(root, f)
                    h.update(os.path.relpath(p, tdir).encode())
                    h.update(str(os.path.getsize(p)).encode())
        return h.hexdigest()

    # -- deletes ---------------------------------------------------------------
    def tombstones(self) -> DataFrame | None:
        """Logically-deleted doc_ids (index/deletes.py), or None when no
        deletes are pending. Checked per call so a delete issued after
        the reader opened takes effect on the next query."""
        import os

        if not os.path.isdir(self.paths.tombstones):
            return None
        try:
            return (
                self.spark.read.parquet(self.paths.tombstones)
                .select("doc_id")
                .distinct()
            )
        except Exception:  # dir exists but holds no readable parquet yet
            return None

    def _mask_deleted(self, df: DataFrame) -> DataFrame:
        """Anti-join out tombstoned docs. Applied to every posting /
        doclen / doc_terms / docmap read, so a deleted doc never scores.
        The right side is the (small between purges) tombstone set; AQE
        turns this into a broadcast anti-join at runtime."""
        t = self.tombstones()
        return df.join(t, "doc_id", "left_anti") if t is not None else df

    # -- tables ---------------------------------------------------------------
    def segments(self) -> DataFrame:
        return self.spark.read.parquet(self.paths.segments)

    def docmap(self) -> DataFrame:
        return self._mask_deleted(self.spark.read.parquet(self.paths.docmap))

    def doclen(self) -> DataFrame:
        return self._mask_deleted(self.spark.read.parquet(self.paths.doclen))

    def doc_terms(self) -> DataFrame:
        """Forward index (term, field, doc_id, tf, positions, doclen) —
        the reference's TermVector analog; input to PRF and LeToR.
        Filters out the NULL-term doclen marker rows the tokenizer embeds
        (index.build.extract_postings)."""
        return self._mask_deleted(
            self.spark.read.parquet(self.paths.doc_terms)
            .where(F.col("term").isNotNull())
            # canonical posting columns only: since round 4 the marker
            # rows also carry the docmap payload (conv_id/role/...), and
            # consumers of the forward index must not see those
            .select("term", "field", "doc_id", "tf", "pos_blob", "doclen")
        )

    # -- posting access -------------------------------------------------------
    def _filter_pairs(self, pairs: set[tuple[str, str]]) -> DataFrame:
        terms = sorted({t for t, _ in pairs})
        fields = sorted({f for _, f in pairs})
        seg = self.segments()
        if self._n_buckets:
            # Directory-level partition pruning: compute each pair's bucket
            # driver-side (pure-Python twin of pmod(xxhash64(term, field),
            # B), functions/spark_hash.py) so the scan opens only the
            # query's bucket directories — the Lucene term-seek analog at
            # the file-listing level (InvList.java:81-92). Shows up as
            # PartitionFilters on `bucket` in explain().
            from ..functions.spark_hash import term_bucket

            buckets = sorted(
                {term_bucket(t, f, self._n_buckets) for t, f in pairs}
            )
            seg = seg.where(F.col("bucket").isin(buckets))
        seg = seg.where(
            F.col("term").isin(terms) & F.col("field").isin(fields)
        )
        if len(terms) > 1 and len(fields) > 1:
            pair_key = F.concat_ws("\x01", "term", "field")
            seg = seg.where(
                pair_key.isin([f"{t}\x01{f}" for t, f in sorted(pairs)])
            )
        return seg

    def term_stats_df(self) -> DataFrame:
        """(term, field, df, ctf, max_tf) with one row per (term, field).

        After incremental appends (streaming/incremental.py) the segment
        table holds one row per (term, field, generation); this aggregates
        them. On a compacted index the groupBy is a no-op pass-through.
        """
        return self.segments().groupBy("term", "field").agg(
            F.sum("df").alias("df"),
            F.sum("ctf").alias("ctf"),
            F.max("max_tf").alias("max_tf"),
        )

    def expand_prefix(
        self, prefix: str, field: str, limit: int = 128
    ) -> list[str]:
        """Distinct dictionary terms in ``field`` starting with ``prefix``,
        sorted ascending — the wildcard-expansion seek (#SYN rewrite,
        plans/wildcard.py). ``startswith`` pushes down as StringStartsWith,
        so term-sorted segment files prune by row-group min/max term
        stats; only the tiny ``term``/``field`` columns are read. Raises
        if more than ``limit`` terms match (fail loudly rather than
        silently truncate a SYN — the caller can raise the cap)."""
        rows = (
            self.segments()
            .where(
                F.col("term").startswith(prefix) & (F.col("field") == field)
            )
            .select("term")
            .distinct()
            .orderBy("term")
            .limit(limit + 1)
            .collect()
        )
        terms = [r["term"] for r in rows]
        if len(terms) > limit:
            raise ValueError(
                f"wildcard {prefix!r}* matches more than {limit} terms in "
                f"field {field!r}; raise max_expansions or narrow the prefix"
            )
        return terms

    def index_stats(self) -> dict:
        """One-call index health/usage report (the Lucene
        SegmentInfos / CheckIndex tooling analog): corpus statistics,
        build lineage, the per-bucket manifest rollup (postings, terms,
        compressed bytes, completeness), on-disk bytes per table, and
        pending-delete counts. Pure driver-side file reads — no Spark
        job — so it is safe to call from monitoring at any frequency.

        ``n_terms`` is exact: buckets partition the term space by hash,
        so per-bucket term counts are disjoint and sum. Incremental
        generations append rows to the same bucket manifests' tables;
        the rollup reflects whatever manifests exist on disk."""
        import glob
        import json as _json

        manifests = sorted(
            glob.glob(os.path.join(self.paths.manifests, "bucket-*.json"))
        )
        n_postings = n_terms = bytes_compressed = 0
        incomplete = []
        for mp in manifests:
            with open(mp) as fh:
                m = _json.load(fh)
            n_postings += int(m.get("n_postings", 0))
            n_terms += int(m.get("n_terms", 0))
            bytes_compressed += int(m.get("bytes_compressed", 0))
            if not m.get("complete", False):
                incomplete.append(int(m.get("bucket", -1)))

        def _dir_bytes(path: str) -> int:
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
            return total

        tables = {
            name: _dir_bytes(getattr(self.paths, name))
            for name in ("segments", "docmap", "doclen", "doc_terms")
            if os.path.isdir(getattr(self.paths, name))
        }
        n_deleted = 0
        if os.path.isdir(self.paths.tombstones):
            # DISTINCT ids: re-deleting a doc appends a duplicate
            # tombstone row by design (index/deletes.py) — raw row
            # counts would overcount. Tombstone files are small between
            # purges, so reading the one id column driver-side is cheap.
            try:
                import pyarrow.parquet as pq

                ids: set = set()
                for f in glob.glob(
                    os.path.join(self.paths.tombstones, "*.parquet")
                ):
                    ids.update(
                        pq.read_table(f, columns=["doc_id"])
                        .column("doc_id")
                        .to_pylist()
                    )
                n_deleted = len(ids)
            except Exception:
                t = self.tombstones()
                if t is not None:
                    n_deleted = int(
                        t.select("doc_id").distinct().count()
                    )
        return {
            "n_docs": self.num_docs,
            "fields": dict(self.stats.get("fields", {})),
            "lineage": dict(self._lineage),
            "buckets": {
                "n_buckets": len(manifests),
                "incomplete": incomplete,
                "n_postings": n_postings,
                "n_terms": n_terms,
                "bytes_compressed": bytes_compressed,
            },
            "disk_bytes": {**tables, "total": sum(tables.values())},
            "pending_deletes": n_deleted,
        }

    def expand_suffix(
        self, suffix: str, field: str, limit: int = 128
    ) -> list[str]:
        """Distinct dictionary terms in ``field`` ENDING with ``suffix``,
        sorted ascending — the leading-wildcard expansion seek
        (ast.SuffixWildcard → #SYN). An endswith cannot row-group-prune
        a term-SORTED dictionary (Lucene pays the same and answers with
        a ReverseStringFilter side index), so this is a column-pruned
        scan of the term dictionary — vocabulary-sized, never
        corpus-sized: only the tiny term/field columns are read and the
        predicate runs in the scan. Raises past ``limit`` matches."""
        rows = (
            self.segments()
            .where(
                F.col("term").endswith(suffix) & (F.col("field") == field)
            )
            .select("term")
            .distinct()
            .orderBy("term")
            .limit(limit + 1)
            .collect()
        )
        terms = [r["term"] for r in rows]
        if len(terms) > limit:
            raise ValueError(
                f"wildcard *{suffix!r} matches more than {limit} terms in "
                f"field {field!r}; raise max_expansions or narrow the suffix"
            )
        return terms

    def expand_regex(
        self, pattern: str, field: str, limit: int = 128
    ) -> list[str]:
        """Distinct dictionary terms in ``field`` FULLY matched by
        ``pattern``, sorted ascending — the regex-expansion seek
        (ast.Regex → #SYN; the Lucene RegexpQuery analog). Anchoring is
        Lucene's: the pattern must match the entire term, enforced here
        with ^(?:...)$. Like the suffix seek this cannot row-group-prune
        a term-sorted dictionary, so it is a column-pruned scan of the
        vocabulary-sized term dictionary — never corpus-sized. Raises
        past ``limit`` matches."""
        rows = (
            self.segments()
            .where(
                F.col("term").rlike(f"^(?:{pattern})$")
                & (F.col("field") == field)
            )
            .select("term")
            .distinct()
            .orderBy("term")
            .limit(limit + 1)
            .collect()
        )
        terms = [r["term"] for r in rows]
        if len(terms) > limit:
            raise ValueError(
                f"regex /{pattern}/ matches more than {limit} terms in "
                f"field {field!r}; raise max_expansions or tighten the "
                "pattern"
            )
        return terms

    def expand_fuzzy(
        self, term: str, field: str, max_edit: int = 2, limit: int = 128
    ) -> list[str]:
        """Distinct dictionary terms in ``field`` within levenshtein
        distance ``max_edit`` of ``term``, sorted ascending — the
        fuzzy-expansion seek (#SYN rewrite, plans/wildcard.py; the
        Lucene FuzzyQuery→MultiTermQuery-rewrite analog).

        Candidates come from the SymSpell deletion-neighborhood
        equi-join (spell.suggest): the dictionary side explodes to
        short deletion variants and joins the query's variants — one
        bounded shuffle linear in vocabulary size, never a levenshtein
        scan of every term. Raises if more than ``limit`` terms match
        (fail loudly rather than silently truncate a SYN)."""
        from ..spell import suggest

        dic = (
            self.term_stats_df()
            .where(F.col("field") == field)
            .select("term", "df")
        )
        rows = suggest(
            self.spark, dic, [term], max_edit=max_edit, topn=limit + 1
        ).collect()
        terms = sorted(r["term"] for r in rows)
        if len(terms) > limit:
            raise ValueError(
                f"fuzzy {term!r}~{max_edit} matches more than {limit} "
                f"terms in field {field!r}; raise max_expansions or "
                "tighten the distance"
            )
        return terms

    def term_stats(self, pairs: set[tuple[str, str]]) -> dict[tuple[str, str], dict]:
        """df/ctf/max_tf for each requested (term, field).

        Fast path: when the segments live on a filesystem the DRIVER can
        reach, this is a direct pyarrow read of the query's bucket
        directories — the Lucene term-dictionary-seek analog
        (/root/reference/src/InvList.java:81-92): bucket dirs are pruned
        by the layout hash, row groups by the term sort order, and only
        the five tiny metadata columns are touched. No Spark job at all,
        which halves the scheduler round-trips per interactive query
        (the other job being the posting decode itself). Falls back to
        the distributed scan for remote/unreachable paths — identical
        rows either way (sum over generations, locked by tests)."""
        arrow = self._term_stats_arrow(pairs)
        if arrow is not None:
            return arrow
        rows = (
            self._filter_pairs(pairs)
            .groupBy("term", "field")
            .agg(
                F.sum("df").alias("df"),
                F.sum("ctf").alias("ctf"),
                F.max("max_tf").alias("max_tf"),
            )
            .collect()
        )
        return {
            (r["term"], r["field"]): {
                "df": r["df"], "ctf": r["ctf"], "max_tf": r["max_tf"]
            }
            for r in rows
        }

    def _term_stats_arrow(
        self, pairs: set[tuple[str, str]]
    ) -> dict[tuple[str, str], dict] | None:
        """Driver-local term_stats via pyarrow, or None when the segments
        path is not driver-readable (then the Spark scan runs instead)."""
        import os

        root = self.paths.segments
        if not os.path.isdir(root):  # hdfs://, s3a://, ... → Spark path
            return None
        try:
            import pyarrow.dataset as ds

            if self._n_buckets:
                from ..functions.spark_hash import term_bucket

                buckets = sorted(
                    {term_bucket(t, f, self._n_buckets) for t, f in pairs}
                )
                dirs = [
                    p for p in (
                        os.path.join(root, f"bucket={b}") for b in buckets
                    ) if os.path.isdir(p)
                ]
            else:
                dirs = [
                    os.path.join(root, e) for e in sorted(os.listdir(root))
                    if e.startswith("bucket=")
                ] or [root]
            # ds.dataset() takes a LIST only of file paths — enumerate the
            # bucket dirs' parquet files (skipping _SUCCESS/.crc noise)
            files = [
                os.path.join(d, f)
                for d in dirs
                for f in sorted(os.listdir(d))
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            ]
            if not files:
                return {}
            terms = sorted({t for t, _ in pairs})
            fields = sorted({f for _, f in pairs})
            dataset = ds.dataset(files, format="parquet")
            tbl = dataset.to_table(
                columns=["term", "field", "df", "ctf", "max_tf"],
                filter=ds.field("term").isin(terms)
                & ds.field("field").isin(fields),
            )
        except Exception:
            # Any driver-side read failure (ArrowInvalid on a file this
            # pyarrow build can't read, unsupported codec, listing race
            # with a concurrent writer) degrades to the distributed scan
            # rather than failing the query — the documented contract.
            return None
        out: dict[tuple[str, str], dict] = {}
        for t, f, df, ctf, mtf in zip(
            tbl["term"].to_pylist(), tbl["field"].to_pylist(),
            tbl["df"].to_pylist(), tbl["ctf"].to_pylist(),
            tbl["max_tf"].to_pylist(),
        ):
            if (t, f) not in pairs:
                continue  # cross-product of a multi-term × multi-field query
            cur = out.setdefault((t, f), {"df": 0, "ctf": 0, "max_tf": 0})
            cur["df"] += df
            cur["ctf"] += ctf
            cur["max_tf"] = max(cur["max_tf"], mtf)
        return out

    def fetch_postings(
        self,
        pairs: set[tuple[str, str]],
        need_positions: bool = True,
    ) -> DataFrame:
        """Decoded postings for all (term, field) pairs, one scan.

        ``need_positions=False`` (scoring-only queries: BM25/Indri/boolean,
        no #NEAR/#WINDOW/#SYN in the tree) skips the position-blob decode —
        positions are the bulk of the blob bytes, so this roughly halves
        the Python-side decode work on the top-k hot path.
        """
        seg = self._filter_pairs(pairs).select("term", "field", "blocks")

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import numpy as np

            from ..functions.codec import decode_block_arrays, varint_decode_np

            empty_pos: list = []

            for pdf in batches:
                terms: list = []
                fields: list = []
                ids: list = []
                tfs: list = []
                dls: list = []
                poss: list = []
                for term, field, blocks in zip(
                    pdf["term"], pdf["field"], pdf["blocks"]
                ):
                    for blk in blocks:
                        if need_positions:
                            d, t, dl, counts, flat = decode_block_arrays(blk)
                        else:
                            get = (
                                blk.get
                                if isinstance(blk, dict)
                                else lambda k: getattr(blk, k)
                            )
                            gaps = varint_decode_np(get("docs")).astype(np.int64)
                            d = np.cumsum(gaps) + int(get("first_doc"))
                            t = varint_decode_np(get("tfs")).astype(np.int64)
                            dl = varint_decode_np(get("doclens")).astype(np.int64)
                            counts = flat = None
                        k = len(d)
                        if not k:
                            continue
                        terms.append(np.full(k, term, dtype=object))
                        fields.append(np.full(k, field, dtype=object))
                        ids.append(d)
                        tfs.append(t)
                        dls.append(dl)
                        if need_positions:
                            poss.extend(np.split(flat, np.cumsum(counts)[:-1]))
                        else:
                            poss.extend([empty_pos] * k)
                if ids:
                    yield pd.DataFrame(
                        {
                            "term": np.concatenate(terms),
                            "field": np.concatenate(fields),
                            "doc_id": np.concatenate(ids),
                            "tf": np.concatenate(tfs),
                            "positions": poss,
                            "doclen": np.concatenate(dls),
                        }
                    )[["term", "field", "doc_id", "tf", "positions", "doclen"]]
                else:
                    yield pd.DataFrame(
                        {
                            "term": pd.Series([], dtype=object),
                            "field": pd.Series([], dtype=object),
                            "doc_id": pd.Series([], dtype="int64"),
                            "tf": pd.Series([], dtype="int32"),
                            "positions": pd.Series([], dtype=object),
                            "doclen": pd.Series([], dtype="int32"),
                        }
                    )

        return self._mask_deleted(seg.mapInPandas(decode, schema=POSTING_SCHEMA))
