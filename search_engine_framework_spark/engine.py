"""SearchEngine — the user-facing facade.

Mirrors the reference's lifecycle (QryEval.java:199-258): parse → evaluate
→ sort (desc score, asc external id — the load-bearing tie-break,
QryEval.java:353-474) → top-k. Evaluation is a DataFrame plan; top-k is
Catalyst's distributed ``TakeOrderedAndProject``.
"""

from __future__ import annotations

from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .functions.analyzer import AnalyzerConfig
from .index.build import IndexPaths
from .index.reader import IndexReader
from .plans import ast
from .plans.compiler import QueryCompiler
from .plans.models import BM25, RetrievalModel, UnrankedBoolean
from .plans.parser import parse_query
from .session import local_frame

# Result schemas. Ranked frames carry ``rank`` 1..n in result order.
_RANKED = "doc_id long, ext_id string, rank int, score double"
_RANKED_PER_QID = "qid string, doc_id long, ext_id string, rank int, score double"
_COLLAPSED = "conv_id string, doc_id long, ext_id string, rank int, score double"
_CONVERSATIONS = "conv_id string, rank int, score double, n_turns long"
_SCORED = "doc_id long, ext_id string, score double"
_CONV_SCORED = "conv_id string, score double, n_turns long"


def _reference_order(model: RetrievalModel | None = None) -> list:
    """The reference's result order (QryEval.java:353-474): desc score,
    asc external id; external id alone under UnrankedBoolean, where every
    match scores 1.0."""
    if isinstance(model, UnrankedBoolean):
        return [F.asc("ext_id")]
    return [F.desc("score"), F.asc("ext_id")]


def _top_k_rows(frame: DataFrame, k: int, order: list | None = None) -> list:
    """order → limit → collect: Catalyst plans the cut as a distributed
    ``TakeOrderedAndProject``; the default order is the reference's."""
    return frame.orderBy(*(order or _reference_order())).limit(k).collect()


class UnknownFieldError(ValueError):
    """A query referenced a field this index never built — raised loudly
    instead of silently matching nothing (the reference fatalErrors on bad
    query syntax, QryEval.java:686-707; its index always carries the full
    web-field set, QryEval.java:529, so a valid suffix can't miss)."""


class SearchEngine:
    def __init__(
        self,
        spark: SparkSession,
        index_path: str | IndexPaths,
        analyzer: AnalyzerConfig | None = None,
    ):
        self.spark = spark
        # Accept an already-open reader (e.g. index.multi.MultiReader for
        # federated cross-index search) — anything with fetch_postings.
        if hasattr(index_path, "fetch_postings"):
            self.reader = index_path
        else:
            self.reader = IndexReader(spark, index_path)
        self.analyzer = self._resolve_analyzer(analyzer)

    def _resolve_analyzer(self, analyzer: AnalyzerConfig | None) -> AnalyzerConfig:
        """Query-side analysis MUST match the index side or recall silently
        degrades (a query stem that differs from the indexed stem matches
        nothing). Default = the analyzer recorded in the index's build
        lineage; an explicitly passed analyzer is validated against it, and
        a stemmer whose *implementation* changed since the index was built
        (functions/stemmer.py STEMMER_IMPL) fails loudly with a rebuild
        hint instead of returning quietly empty results."""
        lin = self.reader.lineage
        recorded_cfg = AnalyzerConfig.from_lineage(lin)
        if analyzer is None:
            analyzer = recorded_cfg or AnalyzerConfig.reference()
        elif recorded_cfg:
            # from_lineage fills missing keys with the field DEFAULTS
            # (the old behavior by construction), so dataclass equality
            # compares every config field — including ones added after
            # this index was built — against the right baseline, and a
            # non-default option passed against a pre-option index
            # fails loudly instead of silently drifting recall
            if analyzer != recorded_cfg:
                raise ValueError(
                    f"analyzer {analyzer} does not match the index's "
                    f"build lineage {recorded_cfg}; pass analyzer=None "
                    "to adopt the index's analyzer, or rebuild the index"
                )
        impl_recorded = lin.get("stemmer_impl")
        if impl_recorded:
            from .functions.stemmer import stemmer_impl

            current = stemmer_impl(analyzer.stemmer)
            if current != impl_recorded:
                raise ValueError(
                    f"index was built with stemmer implementation "
                    f"{impl_recorded!r} but kind {analyzer.stemmer!r} now "
                    f"resolves to {current!r} — rebuild the index or pass "
                    "the matching stemmer kind"
                )
        return analyzer

    def search(
        self,
        query: str,
        model: RetrievalModel,
        k: int = 100,
        doc_filter: str | None = None,
        boost: str | None = None,
        synonyms: dict | None = None,
    ) -> DataFrame:
        """→ DataFrame(doc_id, ext_id, rank, score), reference ordering.

        ``synonyms`` — optional query-time synonym map ({raw term: [raw
        synonyms]}, analyzed through the engine's analyzer): matching
        Term leaves rewrite to #SYN of themselves plus the synonyms —
        the Lucene query-side SynonymGraphFilter analog
        (plans/wildcard.expand_synonyms). Positional, so it composes
        with #NEAR/#WINDOW. Synonym-rewritten queries skip the driver
        fast path only if the rewrite actually fired (a flat #SUM of
        plain terms stays flat when no key matches).

        ``boost`` — optional SQL double expression over docmap metadata
        columns multiplied into the relevance score (the Lucene
        FunctionScoreQuery analog; see :meth:`search_df`). Boosted
        queries skip the driver fast path: it is exact only for the
        raw-score order, and a boost can lift a doc from anywhere in the
        raw ranking into the top-k.

        ``doc_filter`` — optional SQL boolean over the docmap's metadata
        columns (role/tool/conv_id/turn_idx/ts + any keep_extra columns),
        e.g. ``"role = 'user' AND turn_idx > 0"``: standard filtered
        retrieval. Applied AFTER scoring and before the top-k cut, so
        scores are identical to the unfiltered query (collection
        statistics are corpus-wide, the Lucene-filter semantics) and the
        filter costs one predicate on the already-joined docmap — no
        extra scan or shuffle. Filtered queries skip the driver fast
        path (it never touches the docmap's metadata columns)."""
        node = self._parse(query, model, synonyms)
        if node is None:
            return self._ranked([])
        # Driver-side fast path (fastpath.py): flat #SUM BM25 over a
        # driver-readable index whose matched postings fit the budget is
        # answered with pyarrow + the numpy codec, and its rows come back
        # as a LocalRelation (``_ranked``): no Spark job from the query
        # through the caller's collect, and bit-identical ranks AND scores
        # (identity argument in the module docstring; both locked by
        # tests/test_fastpath.py). Skipped for every query above the
        # gates — head-term queries on a 10^12-turn corpus always run the
        # distributed plan.
        if (
            doc_filter is None
            and boost is None
            and isinstance(model, BM25)
            # MultiReader federates several physical indexes — the
            # driver fast path reads ONE index's files, so it opts out
            and getattr(self.reader, "fastpath_supported", True)
        ):
            flat = QueryCompiler._flat_sum_weighted(node)
            if flat is not None:
                from .fastpath import bm25_topk_driver

                hit = bm25_topk_driver(self.reader, flat, model, k)
                if hit is not None:
                    return self._ranked(
                        {"doc_id": d, "ext_id": e, "score": s}
                        for d, e, s in hit
                    )
        with self._compiled(node, model) as (scored, _):
            withext = self._join_docmap(scored, doc_filter, boost)
            return self._ranked(
                _top_k_rows(withext, k, _reference_order(model))
            )

    def search_many(
        self,
        queries: dict[str, str],
        model: RetrievalModel,
        k: int = 100,
    ) -> DataFrame:
        """Batched evaluation: every query in ``queries`` ({qid: text}) in
        ONE stats lookup (driver-side pyarrow where the index is
        driver-reachable, else one projected scan) + ONE shared postings
        scan + ONE ranking action —
        → DataFrame(qid, doc_id, ext_id, rank, score), reference ordering
        per qid.

        The sequential ``search`` loop costs ~2 Spark jobs per query
        (term-stats, then scored top-k); at cluster scale a 1000-query
        evaluation set is 2000 scheduler round-trips of mostly idle
        executors. Here the segment scan covers the UNION of all queries'
        (term, field) pairs (still bucket-pruned — the union's buckets),
        each query's plan filters the shared decoded cache, and the per-qid
        top-k is one ``row_number`` window over the union of scored frames.

        Rank/score-identical to ``search`` per query (same plans, same
        tie-break).
        All-stopword/empty queries contribute no rows (the trec sink's
        dummy-row rule handles absent qids, sinks/trec.py).
        """
        nodes: dict[str, ast.Node] = {}
        for qid, text in queries.items():
            node = self._parse(text, model)
            if node is None:
                continue
            nodes[qid] = node
        if not nodes:
            return local_frame(self.spark, [], _RANKED_PER_QID)

        all_pairs = set()
        need_pos = False
        for node in nodes.values():
            all_pairs |= ast.query_terms(node)
            need_pos = need_pos or ast.needs_positions(node)

        stats = {
            pair: {"df": s["df"], "ctf": s["ctf"], "max_tf": s["max_tf"]}
            for pair, s in self.reader.term_stats(all_pairs).items()
        }
        shared = self.reader.fetch_postings(
            all_pairs, need_positions=need_pos
        ).persist()
        try:
            frames = []
            for qid, node in nodes.items():
                compiler = QueryCompiler(self.reader, model)
                compiler._stats = stats  # superset lookup by (term, field)
                compiler._postings = shared
                scored = compiler.compile_query(node)
                frames.append(
                    scored.select(
                        F.lit(qid).alias("qid"), "doc_id", "score"
                    )
                )
            union = frames[0]
            for f in frames[1:]:
                union = union.unionByName(f)
            return self._ranked_per_qid(
                self._join_docmap(union), k, _reference_order(model)
            )
        finally:
            shared.unpersist()

    def search_bulk_bm25(
        self,
        queries: dict[str, str],
        model=None,
        k: int = 100,
        field: str = "body",
    ) -> DataFrame:
        """Join-based whole-set BM25 evaluation for FLAT bag-of-words
        queries → DataFrame(qid, doc_id, ext_id, rank, score), bit-identical
        per qid to ``search`` / ``search_many``.

        Scale shape: ``search_many`` unions one compiled subplan per query
        — right for hundreds of queries, but at 10^5+ queries (LeToR
        training sweeps, relevance-set refreshes) plan size and driver
        analysis time grow with the query count. Here the plan is ONE
        fixed shape regardless of |queries|: pruned postings scan ⋈
        broadcast(query-term table) → per-(qid, doc) child-order score
        fold → per-qid top-k window. Only broadcast-table size grows.

        Float parity with the DAAT loop: each query child (duplicate terms
        are separate children, QryopSlSum.java:58) gets a map slot keyed by
        child index, and the fold accumulates ``0.0 + s_0·w + s_1·w + …``
        in child order — the same non-associative addition order the
        per-query #SUM plan uses, so scores match bit-for-bit, not just to
        rounding. Queries must be plain term bags (no # operators, no
        field suffixes — use search_many for structured queries)."""
        from .functions.analyzer import analyze_terms
        from .functions.scoring import bm25_tf_weight, model_idf

        model = model or BM25()
        if not isinstance(model, BM25):
            raise ValueError("search_bulk_bm25 is defined for BM25 only")
        if field not in self.reader.stats.get("fields", {}):
            raise UnknownFieldError(
                f"field {field!r} was never indexed; built fields: "
                f"{sorted(self.reader.stats.get('fields', {}))}"
            )
        from .plans.parser import TERM_FIELDS

        for qid, text in queries.items():
            # Reject exactly what the structured parser would NOT treat as
            # a bare default-field term: operators, and tokens whose
            # ``.suffix`` names a known field (plans/parser.py TERM_FIELDS).
            # A bare '.' inside a token ("3.14", "e.g") is an ordinary
            # analyzer token in the per-query path too — rejecting it here
            # would break the advertised parity with ``search``.
            if "#" in text or "^" in text or any(
                tok.endswith("." + f)
                for tok in text.split()
                for f in TERM_FIELDS
            ):
                # '^' rejected too: the per-query parser reads caret
                # boosts; the analyzer here would split 'merge^2' into
                # two plain tokens and silently score a different query
                raise ValueError(
                    f"query {qid!r} is not a flat term bag; use search_many"
                )
        terms_by_qid = {
            qid: analyze_terms(text, self.analyzer)
            for qid, text in queries.items()
        }
        pairs = {(t, field) for ts in terms_by_qid.values() for t in ts}
        empty = local_frame(self.spark, [], _RANKED_PER_QID)
        if not pairs:
            return empty

        stats = self.reader.term_stats(pairs)
        n_docs = self.reader.num_docs
        avg_dl = self.reader.avg_doclen(field)
        qtf = 1.0
        user_w = (model.k_3 + 1.0) * qtf / (model.k_3 + qtf)

        qt_rows = []
        max_children = 0
        for qid, terms in terms_by_qid.items():
            max_children = max(max_children, len(terms))
            for tix, t in enumerate(terms):
                df = stats.get((t, field), {}).get("df", 0)
                qt_rows.append((qid, tix, t, float(model_idf(model, n_docs, df))))
        if not qt_rows:
            return empty
        qt = F.broadcast(
            local_frame(
                self.spark,
                qt_rows,
                "qid string, tix int, term string, idf double",
            )
        )

        post = self.reader.fetch_postings(pairs, need_positions=False).where(
            F.col("field") == field
        )
        tf_w = bm25_tf_weight(model.k_1, model.b, avg_dl)
        scored = post.join(qt, "term").select(
            "qid", "tix", "doc_id", (F.col("idf") * tf_w).alias("s")
        )
        grouped = scored.groupBy("qid", "doc_id").agg(
            F.map_from_entries(F.collect_list(F.struct("tix", "s"))).alias("m")
        )
        expr = F.lit(0.0)  # child-order fold; x + 0.0 == x for absent slots
        for j in range(max_children):
            expr = expr + F.coalesce(
                F.col("m")[F.lit(j)] * F.lit(user_w), F.lit(0.0)
            )
        return self._ranked_per_qid(
            self._join_docmap(
                grouped.select("qid", "doc_id", expr.alias("score"))
            ),
            k,
        )

    def explain_query(self, query: str, model, k: int = 100) -> dict:
        """Query diagnostics — the evidence a plan reviewer wants in one
        call: the parsed/expanded AST, per-(term, field) dictionary
        stats, the bucket partition set the scan will prune to, whether
        the driver-side fast path would take the query, and the
        physical plan of the scored frame (where PartitionFilters /
        PushedFilters / codegen spans are visible). Builds the plan
        WITHOUT running it (no action)."""
        node = self._parse(query, model)
        if node is None:
            return {
                "ast": None, "pairs": {}, "buckets": [],
                "fastpath_eligible": False, "physical_plan": "",
            }
        pairs = sorted(ast.query_terms(node))
        buckets: list[int] = []
        if self.reader._n_buckets:
            from .functions.spark_hash import term_bucket

            buckets = sorted(
                {term_bucket(t, f, self.reader._n_buckets) for t, f in pairs}
            )
        fastpath = (
            isinstance(model, BM25)
            and QueryCompiler._flat_sum_pairs(node) is not None
        )
        # prepare()'s dictionary seek is the ONE stats lookup; its stats
        # feed the pairs report below.
        with self._compiled(node, model) as (scored, stats):
            plan = scored._jdf.queryExecution().executedPlan().toString()
        est_postings = sum(
            int(stats.get((t, f), {}).get("df", 0)) for t, f in pairs
        )
        block = int(self.reader.lineage.get("block_size") or 128)
        return {
            "ast": repr(node),
            "pairs": {f"{t}.{f}": dict(stats.get((t, f), {})) for t, f in pairs},
            "buckets": buckets,
            "fastpath_eligible": fastpath,
            # pre-execution cost estimate from dictionary stats alone:
            # the postings and blocks the scan would decode
            "est_postings": est_postings,
            "est_blocks": sum(
                -(-int(stats.get((t, f), {}).get("df", 0)) // block)
                for t, f in pairs
            ),
            "physical_plan": plan,
        }

    def explain_doc(self, query: str, model, doc_id: int) -> dict:
        """Per-document score explanation (the Lucene ``explain()``
        analog): for a flat BM25 #SUM query, the exact per-term
        components — tf, df, idf, tf_weight, contribution — whose
        child-order fold reproduces the engine's score bit-for-bit
        (same float operand order as plans/compiler._score /
        _bm25_sum, locked by tests against ``search`` output).

        Driver-side: one term-stats seek + two pushdown-filtered
        single-doc lookups (doclen + forward-index tfs) — no
        corpus-wide work. Raises for non-flat queries (positional /
        boolean / Indri trees have no per-term additive decomposition
        to report honestly)."""
        from .functions.scoring import model_idf

        if not isinstance(model, BM25):
            raise ValueError("explain_doc supports the BM25 model only")
        node = self._parse(query, model)
        flat = QueryCompiler._flat_sum_weighted(node) if node else None
        if flat is None:
            raise ValueError(
                "explain_doc supports flat BM25 #SUM(term[^boost] ...) "
                "queries"
            )
        stats = self.reader.term_stats({(t, f) for t, f, _ in flat})
        fields = sorted({f for _, f, _ in flat})
        dl_rows = (
            self.reader.doclen()
            .where(
                (F.col("doc_id") == int(doc_id))
                & F.col("field").isin(fields)
            )
            .collect()
        )
        if not dl_rows:
            raise ValueError(f"doc {doc_id} not in the index (or deleted)")
        dls = {r["field"]: int(r["doclen"]) for r in dl_rows}
        tf_rows = (
            self.reader.doc_terms()
            .where(
                (F.col("doc_id") == int(doc_id))
                & F.col("term").isin(sorted({t for t, _, _ in flat}))
            )
            .select("term", "field", "tf")
            .collect()
        )
        tfs = {(r["term"], r["field"]): int(r["tf"]) for r in tf_rows}
        n = self.reader.num_docs
        m = model
        user_w = (m.k_3 + 1.0) * 1.0 / (m.k_3 + 1.0)
        terms = []
        total = 0.0
        for t, f, boost in flat:
            df = int(stats.get((t, f), {}).get("df", 0))
            tf = tfs.get((t, f), 0)
            dl = dls.get(f, 0)
            avg = self.reader.avg_doclen(f)
            idf = model_idf(m, n, df)
            if tf > 0:
                tfw = tf / (tf + m.k_1 * ((1.0 - m.b) + m.b * (dl / avg)))
                s = idf * tfw
            else:
                tfw = 0.0
                s = 0.0
            terms.append(
                {
                    "term": t, "field": f, "tf": tf, "df": df,
                    "doclen": dl, "avg_doclen": avg, "idf": idf,
                    "tf_weight": tfw, "user_weight": user_w,
                    "boost": boost, "score": s,
                }
            )
            # child-order fold, +0.0 for absent terms — exactly _bm25_sum
            # incl. the boost multiply only when != 1.0
            if tf > 0:
                contrib = s * user_w
                if boost != 1.0:
                    contrib = contrib * boost
                total = total + contrib
            else:
                total = total + 0.0
        return {
            "doc_id": int(doc_id),
            "model": {"k_1": m.k_1, "b": m.b, "k_3": m.k_3},
            "n_docs": n,
            "terms": terms,
            "score": total,
        }

    def explain_topk(self, query: str, model, k: int = 10) -> DataFrame:
        """Distributed score explanation for the whole top-k (the
        DataFrame companion to ``explain_doc``'s one-doc dict): one row
        per (top-k doc, query child) with the exact BM25 components —
        tf, df, idf, tf_weight, per-child contribution (boost included)
        — whose child-order fold reproduces each hit's score.

        Flat BM25-family #SUM queries only (plain or ^boosted terms);
        the per-doc tf comes from the forward index, so the plan is the
        ranked search plus k-bounded broadcast joins (child table and
        hit set are both tiny). Raises for non-flat queries, mirroring
        explain_doc."""
        from .functions.scoring import model_idf

        if not isinstance(model, BM25):
            raise ValueError("explain_topk supports BM25-family models only")
        node = self._parse(query, model)
        flat = (
            QueryCompiler._flat_sum_weighted(node) if node is not None
            else None
        )
        if not flat:
            raise ValueError(
                "explain_topk supports flat BM25 #SUM(term[^boost] ...) "
                "queries"
            )
        top = self.search(query, model, k=k).select(
            "doc_id", "ext_id", "rank", F.col("score").alias("total_score")
        )
        stats = self.reader.term_stats({(t, f) for t, f, _ in flat})
        n = self.reader.num_docs
        m = model
        user_w = (m.k_3 + 1.0) * 1.0 / (m.k_3 + 1.0)
        child_rows = []
        for j, (t, f, boost) in enumerate(flat):
            df_ = int(stats.get((t, f), {}).get("df", 0))
            child_rows.append(
                (j, t, f, df_, model_idf(m, n, df_),
                 self.reader.avg_doclen(f), boost)
            )
        childs = local_frame(
            self.spark,
            child_rows,
            "child int, term string, field string, df long, idf double, "
            "avg_doclen double, boost double",
        )
        hits = top.select("doc_id")
        tfs = (
            self.reader.doc_terms()
            .join(F.broadcast(hits), "doc_id")
            .select("doc_id", "term", "field", "tf")
        )
        dls = (
            self.reader.doclen()
            .join(F.broadcast(hits), "doc_id")
            .select("doc_id", "field", "doclen")
        )
        tf_c = F.coalesce(F.col("tf"), F.lit(0)).cast("double")
        dl_c = F.coalesce(F.col("doclen"), F.lit(0)).cast("double")
        tfw = tf_c / (
            tf_c
            + F.lit(m.k_1)
            * (F.lit(1.0 - m.b) + F.lit(m.b) * (dl_c / F.col("avg_doclen")))
        )
        contrib = (
            (F.col("idf") * tfw) * F.lit(user_w) * F.col("boost")
        )
        return (
            top.crossJoin(F.broadcast(childs))
            .join(tfs, ["doc_id", "term", "field"], "left")
            .join(dls, ["doc_id", "field"], "left")
            .select(
                "doc_id",
                "ext_id",
                "rank",
                "total_score",
                "child",
                "term",
                "field",
                F.coalesce(F.col("tf"), F.lit(0)).cast("long").alias("tf"),
                "df",
                "idf",
                F.col("boost"),
                F.when(tf_c > 0, tfw).otherwise(F.lit(0.0)).alias("tf_weight"),
                F.when(tf_c > 0, contrib)
                .otherwise(F.lit(0.0))
                .alias("contribution"),
            )
            .orderBy("rank", "child")
        )

    def decode_metrics(self) -> dict:
        """Always ``{"blocks_decoded": 0, "blocks_skipped": 0}``. No query
        path skips blocks, so there is nothing to count; the method stays
        only because the benchmark (perfbench/workloads.py) reads these
        two keys on every search run."""
        return {"blocks_decoded": 0, "blocks_skipped": 0}

    def _parse(
        self, query: str, model, synonyms: dict | None = None
    ) -> "ast.Node | None":
        """parse → synonym rewrite → field validation → wildcard/fuzzy
        expansion (the shared front half of every free-text entry
        point). Dictionary expansion happens against the index's term
        dictionary, so it needs the reader — which is why it lives here
        and not in the parser."""
        node = parse_query(query, model, self.analyzer)
        if node is None:
            return None
        from .plans.wildcard import (
            expand_synonyms,
            expand_wildcards,
            has_wildcards,
        )

        if synonyms:
            node = expand_synonyms(node, synonyms, self.analyzer)
        self._check_fields(node)
        if has_wildcards(node):
            node = expand_wildcards(node, self.reader)
        return node

    def _check_fields(self, node) -> None:
        built = set(self.reader.stats.get("fields", {}))
        used = ast.query_fields(node)
        missing = sorted(used - built)
        if missing:
            raise UnknownFieldError(
                f"query references field(s) {missing} not built into this "
                f"index (built: {sorted(built)}); index the field via "
                f"build_index(fields=...) or fix the query"
            )

    @contextmanager
    def _compiled(self, node: ast.Node, model: RetrievalModel):
        """Compile scope → (scored (doc_id, score) frame, per-(term, field)
        stats). ``prepare`` persists the query's decoded postings and the
        scope releases them on exit, so actions run inside it read the
        cache, while a lazy frame returned from it runs uncached and
        leaves no persisted postings behind."""
        compiler = QueryCompiler(self.reader, model)
        try:
            compiler.prepare(node)
            yield compiler.compile_query(node), compiler._stats
        finally:
            compiler.release()

    def _join_docmap(
        self,
        scored: DataFrame,
        doc_filter: str | None = None,
        boost: str | None = None,
    ) -> DataFrame:
        """scored ⋈ docmap on doc_id, adding ``ext_id``; ``doc_filter``
        drops docs by their metadata and ``boost`` multiplies their score
        (see :meth:`search`)."""
        # No broadcast hint: the docmap is corpus-sized (10^12 rows at
        # target scale) — AQE broadcasts it when it is actually small and
        # sort-merge-joins otherwise; a forced broadcast would OOM the
        # driver on a real corpus.
        docmap = self.reader.docmap()
        if doc_filter is not None:
            docmap = docmap.where(F.expr(doc_filter))
        if boost is None:
            return scored.join(docmap.select("doc_id", "ext_id"), "doc_id")
        # NULL boost values (e.g. a NULL metadata column) leave the row
        # unboosted (factor 1) — the Elasticsearch `missing` default —
        # rather than producing NULL scores that crash the rank fold.
        bexpr = F.coalesce(F.expr(boost).cast("double"), F.lit(1.0))
        return (
            scored.withColumnRenamed("score", "_raw")
            .join(docmap, "doc_id")
            .select("doc_id", "ext_id", (F.col("_raw") * bexpr).alias("score"))
        )

    def _ranked(self, rows, schema: str = _RANKED) -> DataFrame:
        """Materialize ``rows`` (already in result order) as ``schema``
        over a LocalRelation (``session.local_frame``: collecting it runs
        no Spark job): ``rank`` is the 1-based position, every other
        column is read from the row by name, ``score`` as a Python
        float."""
        cols = [c.split()[0] for c in schema.split(",")]
        out = [
            tuple(
                i if c == "rank" else float(r[c]) if c == "score" else r[c]
                for c in cols
            )
            for i, r in enumerate(rows, 1)
        ]
        return local_frame(self.spark, out, schema)

    def _ranked_per_qid(
        self, frame: DataFrame, k: int, order: list | None = None
    ) -> DataFrame:
        """Per-qid top-k of (qid, doc_id, ext_id, score): one
        ``row_number`` window over ``order`` (default: the reference's)
        per qid, cut at ``k``, materialized in (qid, rank) order."""
        w = Window.partitionBy("qid").orderBy(*(order or _reference_order()))
        rows = (
            frame.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .collect()
        )
        out = [
            (r["qid"], r["doc_id"], r["ext_id"], int(r["rank"]), float(r["score"]))
            for r in sorted(rows, key=lambda r: (r["qid"], r["rank"]))
        ]
        return local_frame(self.spark, out, _RANKED_PER_QID)

    def vsm_search(self, query: str, k: int = 100, field: str = "body") -> DataFrame:
        """lnc.ltc vector-space retrieval (the reference's f18 scorer as a
        standalone model): → DataFrame(doc_id, ext_id, rank, score)."""
        from .functions.analyzer import analyze_terms
        from .vsm import vsm_scores

        terms = analyze_terms(query, self.analyzer)
        scored = vsm_scores(self.reader, terms, field=field)
        return self._ranked(_top_k_rows(self._join_docmap(scored), k))

    def vsm_search_rocchio(
        self,
        query: str,
        k: int = 100,
        fb_k: int = 10,
        fb_terms: int = 10,
        alpha: float = 1.0,
        beta: float = 0.75,
        field: str = "body",
    ) -> DataFrame:
        """Rocchio pseudo-relevance feedback over the VSM scorer (the
        classic 1971 companion to prf.py's Indri-style expansion): run
        the lnc.ltc query, treat the top ``fb_k`` docs as relevant,
        move the query vector toward their normalized-lnc centroid
        (q' = α·q + β·centroid, vsm.rocchio_expand), keep the
        ``fb_terms`` heaviest terms, and rescore with the weighted
        cosine (vsm.vsm_scores_weighted).

        → DataFrame(doc_id, ext_id, rank, score), reference ordering.
        An all-unknown query returns empty instead of raising."""
        from .functions.analyzer import analyze_terms
        from .vsm import rocchio_expand, vsm_scores, vsm_scores_weighted

        terms = analyze_terms(query, self.analyzer)
        # one docmap read shared by both cuts (each read lists its files)
        docmap = self.reader.docmap().select("doc_id", "ext_id")
        fb_rows = _top_k_rows(
            vsm_scores(self.reader, terms, field=field).join(docmap, "doc_id"),
            int(fb_k),
        )
        if not fb_rows:
            return self._ranked([])
        expanded = rocchio_expand(
            self.reader,
            terms,
            [r["doc_id"] for r in fb_rows],
            fb_terms=fb_terms,
            alpha=alpha,
            beta=beta,
            field=field,
        )
        scored = vsm_scores_weighted(self.reader, dict(expanded), field=field)
        return self._ranked(_top_k_rows(scored.join(docmap, "doc_id"), int(k)))

    def search_df(
        self,
        query: str,
        model: RetrievalModel,
        doc_filter: str | None = None,
        boost: str | None = None,
        synonyms: dict | None = None,
    ) -> DataFrame:
        """Lazy variant: full scored list (doc_id, ext_id, score), unranked
        — for composition into larger pipelines without a driver collect.
        ``doc_filter`` as in :meth:`search` (metadata predicate on the
        docmap, applied via the join — scores unchanged).

        ``boost`` — optional SQL double expression over the docmap's
        metadata columns (role/tool/conv_id/turn_idx/ts + keep_extra),
        multiplied into the relevance score: the Lucene
        FunctionScoreQuery / Solr boost-function analog, e.g.
        ``"1.0 / (1.0 + turn_idx)"`` for early-turn preference or a
        ts-based recency decay. One multiply per matched doc on the
        already-joined docmap — no extra scan or shuffle. Boosted
        queries can reorder docs arbitrarily, so they skip the driver
        fast path (it is sound only for the raw-score order)."""
        node = self._parse(query, model, synonyms)
        if node is None:
            return local_frame(self.spark, [], _SCORED)
        with self._compiled(node, model) as (scored, _):
            return self._join_docmap(scored, doc_filter, boost).select(
                "doc_id", "ext_id", "score"
            )

    # -- BM25F (field-weighted BM25; bm25f.py) ---------------------------------
    def search_bm25f(
        self,
        query: str,
        weights: dict[str, float],
        k: int = 100,
        k1: float = 1.2,
        b: float | dict[str, float] = 0.75,
    ) -> DataFrame:
        """Field-weighted BM25 (BM25F) top-k: per-field tf is
        length-normalized and weight-combined BEFORE saturation (see
        bm25f.py for semantics and the contrast with the reference's
        per-field #SUM). ``query`` is bare terms (duplicates collapse:
        BM25F is defined on the term set); ``weights`` maps built index
        fields to field weights. → DataFrame(doc_id, ext_id, rank, score),
        reference ordering (desc score, asc ext_id)."""
        from .bm25f import _scores_from_tilde, bm25f_tilde_tf
        from .functions.analyzer import analyze_terms

        built = set(self.reader.stats.get("fields", {}))
        missing = sorted(set(weights) - built)
        if missing:
            raise UnknownFieldError(
                f"BM25F weights reference field(s) {missing} not built "
                f"into this index (built: {sorted(built)})"
            )
        terms = list(dict.fromkeys(analyze_terms(query, self.analyzer)))
        per_dt = bm25f_tilde_tf(self.reader, terms, weights, b=b)
        # persist the combined-tf frame: the scoring plan reads it twice
        # (per-term df aggregate + the scoring fold) and the postings
        # decode behind it is the expensive subtree
        per_dt = per_dt.persist()
        try:
            scored = _scores_from_tilde(self.reader, per_dt, k1=k1)
            return self._ranked(_top_k_rows(self._join_docmap(scored), k))
        finally:
            per_dt.unpersist()

    def bm25f_scores_df(
        self,
        query: str,
        weights: dict[str, float],
        k1: float = 1.2,
        b: float | dict[str, float] = 0.75,
    ) -> DataFrame:
        """Lazy full BM25F ranking (doc_id, ext_id, score) — the
        search_df analog for BM25F (contract / pipeline composition)."""
        from .bm25f import bm25f_scores
        from .functions.analyzer import analyze_terms

        terms = list(dict.fromkeys(analyze_terms(query, self.analyzer)))
        scored = bm25f_scores(self.reader, terms, weights, k1=k1, b=b)
        return self._join_docmap(scored).select("doc_id", "ext_id", "score")

    _CACHE_MAX = 256

    def search_cached(
        self,
        query: str,
        model: RetrievalModel,
        k: int = 100,
        doc_filter: str | None = None,
    ) -> DataFrame:
        """Request-cached :meth:`search` — the Elasticsearch
        shard-request-cache analog: identical (query, model, k, filter)
        requests against an UNCHANGED index return the cached top-k rows
        with zero Spark work. Validity is keyed on
        ``IndexReader.state_fingerprint()`` (bucket manifests +
        tombstone listing — builds, appends, compactions, deletes, and
        purges all change it), so a cached entry can never serve stale
        results: any index mutation makes every old key unreachable.
        LRU-bounded at ``_CACHE_MAX`` entries of k rows each (driver
        memory ≈ entries · k · ~100 B). Results are exact — this caches
        the reference-ordered output rows, not an approximation."""
        from collections import OrderedDict

        if not hasattr(self, "_result_cache"):
            self._result_cache: OrderedDict = OrderedDict()
        key = (
            self.reader.state_fingerprint(),
            query,
            repr(model),
            int(k),
            doc_filter,
        )
        cache = self._result_cache
        if key in cache:
            cache.move_to_end(key)
            rows = cache[key]
        else:
            rows = [
                (r["doc_id"], r["ext_id"], r["rank"], r["score"])
                for r in self.search(
                    query, model, k=k, doc_filter=doc_filter
                ).collect()
            ]
            cache[key] = rows
            while len(cache) > self._CACHE_MAX:
                cache.popitem(last=False)
        return local_frame(self.spark, rows, _RANKED)

    def dismax_scores_df(
        self,
        query: str,
        fields: list[str],
        tie: float = 0.0,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """Lazy DisMax ranking (doc_id, ext_id, score) — the Lucene
        DisjunctionMaxQuery / Solr dismax ``qf`` analog: per field an
        independent BM25 stream, per term max + tie·rest, summed over
        terms (bm25f.dismax_scores). tie=1 ≡ the reference's
        operator-level #SUM(t.f1 t.f2) cross-field sum."""
        from .bm25f import dismax_scores
        from .functions.analyzer import analyze_terms

        built = set(self.reader.stats.get("fields", {}))
        for f in fields:
            if f not in built:
                raise UnknownFieldError(
                    f"field {f!r} was never indexed (built: {sorted(built)})"
                )
        terms = list(dict.fromkeys(analyze_terms(query, self.analyzer)))
        if not terms:
            return local_frame(self.spark, [], _SCORED)
        scored = dismax_scores(
            self.reader, terms, fields, tie=tie, k1=k1, b=b
        )
        return self._join_docmap(scored).select("doc_id", "ext_id", "score")

    # -- conversation-level retrieval ------------------------------------------
    _CONV_AGGS = {"sum": F.sum, "max": F.max, "avg": F.avg}

    def conversation_scores_df(
        self, query: str, model: RetrievalModel, agg: str = "sum"
    ) -> DataFrame:
        """Roll turn-level scores up to conversations (the
        passage→document aggregation of passage retrieval; the reference
        ranks turns only). → lazy (conv_id, score, n_turns) over every
        conversation with ≥1 matching turn: ``agg`` ∈ {sum, max, avg}
        combines the matching turns' scores (max-passage / sum-passage /
        mean-passage). Under UnrankedBoolean every match scores 1.0, so
        ``sum`` degrades to the matching-turn count. One extra shuffle on
        conv_id over the MATCHING turns only — scale-safe (map-side
        combinable aggregate)."""
        if agg not in self._CONV_AGGS:
            raise ValueError(f"agg must be one of {sorted(self._CONV_AGGS)}")
        node = self._parse(query, model)
        if node is None:
            return local_frame(self.spark, [], _CONV_SCORED)
        with self._compiled(node, model) as (scored, _):
            docmap = self.reader.docmap().select("doc_id", "conv_id")
            return (
                scored.join(docmap, "doc_id")
                .groupBy("conv_id")
                .agg(
                    self._CONV_AGGS[agg]("score").alias("score"),
                    F.count("*").cast("long").alias("n_turns"),
                )
            )

    def fetch_context(self, hits: DataFrame, m: int = 1) -> DataFrame:
        """Context-window expansion: for every hit turn, the turns within
        ±``m`` turn positions in the SAME conversation (the "show the
        surrounding exchange" feature of transcript search; the reference
        has no conversation structure to expand into).

        ``hits``: any frame with a ``doc_id`` column (e.g. ``search``
        output). → (hit_doc_id, doc_id, conv_id, turn_idx, ext_id,
        offset) with one row per (hit, context turn) — the hit itself
        appears at offset 0; overlapping windows of different hits stay
        separate rows (callers needing a deduped turn set select
        ``doc_id`` distinct). Text is not stored in the slim docmap, so
        callers join ``doc_id``/``ext_id`` back to the corpus for
        display text.

        Scale shape: the hit list (small) joins the docmap once to bind
        its conversation coordinates, then once more on conv_id with a
        turn_idx range predicate — AQE broadcasts the hit side, so the
        docmap is scanned, never shuffled."""
        dm = self.reader.docmap().select(
            "doc_id", "conv_id", "turn_idx", "ext_id"
        )
        h = (
            hits.select("doc_id")
            .join(dm, "doc_id")
            .select(
                F.col("doc_id").alias("hit_doc_id"),
                F.col("conv_id").alias("h_conv"),
                F.col("turn_idx").alias("h_turn"),
            )
        )
        ctx = h.join(
            dm,
            (dm["conv_id"] == h["h_conv"])
            & dm["turn_idx"].between(
                h["h_turn"] - int(m), h["h_turn"] + int(m)
            ),
        )
        return ctx.select(
            "hit_doc_id",
            "doc_id",
            "conv_id",
            "turn_idx",
            "ext_id",
            (F.col("turn_idx") - F.col("h_turn")).cast("long").alias("offset"),
        )

    def search_sorted(
        self,
        query: str,
        model: RetrievalModel,
        sort_by: list[str],
        k: int = 100,
        doc_filter: str | None = None,
    ) -> DataFrame:
        """Field-sorted retrieval — the Elasticsearch ``sort`` API
        analog: the query defines the MATCH SET, the ORDER comes from
        docmap metadata columns instead of the relevance score (which
        is still computed and returned, like ES returning _score under
        a custom sort). ``sort_by`` entries are ``"col"`` or
        ``"col asc|desc"``; ``ext_id asc`` is appended as the final
        tie-break, so the order is total and pagination-stable.

        → DataFrame(doc_id, ext_id, rank, score) in the requested
        order. Cost: the same scored-match plan as :meth:`search_df`
        plus ONE TakeOrderedAndProject on the sort keys — sorting by
        metadata never re-scans the corpus (the docmap join is already
        in the plan). NULL sort values order last on asc, first on desc
        (Spark default), matching the ES ``missing: _last`` default.
        """
        if not sort_by:
            raise ValueError("search_sorted needs at least one sort key")
        node = self._parse(query, model)
        if node is None:
            return self._ranked([])
        with self._compiled(node, model) as (scored, _):
            docmap = self.reader.docmap()
            if doc_filter is not None:
                docmap = docmap.where(F.expr(doc_filter))
            joined = scored.join(docmap, "doc_id")
            order = []
            for spec in sort_by:
                parts = spec.split()
                if len(parts) not in (1, 2) or (
                    len(parts) == 2 and parts[1].lower() not in ("asc", "desc")
                ):
                    raise ValueError(f"bad sort spec {spec!r}")
                c = F.col(parts[0])
                order.append(
                    c.desc()
                    if len(parts) == 2 and parts[1].lower() == "desc"
                    else c.asc()
                )
            order.append(F.asc("ext_id"))
            return self._ranked(_top_k_rows(joined, k, order))

    def search_rescore(
        self,
        query: str,
        model: RetrievalModel,
        rescore_query: str,
        rescore_model: RetrievalModel,
        window: int = 50,
        k: int = 10,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
    ) -> DataFrame:
        """Two-pass rescoring — the Elasticsearch ``rescore`` API
        analog: a cheap first pass ranks the corpus, then ONLY the top
        ``window`` docs are re-ranked by ``query_weight · primary +
        rescore_weight · secondary``, where the secondary score comes
        from a more expensive query (the classic use: boost exact-
        phrase matches over the bag-of-words ranking). Docs outside the
        window keep their first-pass fate — the rescore can reorder
        within the window but never pull a doc into it (exactly the ES
        contract, and why window ≥ k matters).

        → DataFrame(doc_id, ext_id, rank, score) — combined-score
        order, (score desc, ext_id asc) ties, top ``k``.

        Cost: first pass = :meth:`search` (fast path eligible as
        usual); second pass = one scored-match plan joined
        against a ``window``-row broadcast — the secondary query's cost
        is bounded by its own match set, never the window by the
        corpus."""
        if window < k:
            raise ValueError("rescore window must be >= k")
        top = self.search(query, model, k=window)
        sec = self.search_df(rescore_query, rescore_model).select(
            "doc_id", F.col("score").alias("_s2")
        )
        combined = (
            top.join(sec, "doc_id", "left")
            .select(
                "doc_id",
                "ext_id",
                (
                    F.lit(float(query_weight)) * F.col("score")
                    + F.lit(float(rescore_weight))
                    * F.coalesce(F.col("_s2"), F.lit(0.0))
                ).alias("score"),
            )
        )
        return self._ranked(_top_k_rows(combined, k))

    def search_collapsed(
        self, query: str, model: RetrievalModel, k: int = 100
    ) -> DataFrame:
        """Field-collapsed top-k (the Lucene/Solr field-collapse analog,
        collapse key = conv_id): rank turns as usual but keep only each
        conversation's best-scoring turn in the result list — the
        "one hit per conversation" SERP rule. Unlike
        ``search_conversations`` (which AGGREGATES turn scores into a
        conversation score) the collapsed list keeps the turn identity
        and its exact turn score.

        → DataFrame(conv_id, doc_id, ext_id, rank, score). Within a
        conversation the representative turn is (score desc, ext_id
        asc) — the reference's tie-break rule applied per group; the
        collapsed list is then ordered by the same rule globally.

        Scale shape: one extra shuffle on conv_id over the MATCHING
        turns only (row_number window); the global cut is a
        TakeOrderedAndProject over ≤ one row per matching conversation.
        """
        node = self._parse(query, model)
        if node is None:
            return self._ranked([], _COLLAPSED)
        with self._compiled(node, model) as (scored, _):
            dm = self.reader.docmap().select("doc_id", "conv_id", "ext_id")
            w = Window.partitionBy("conv_id").orderBy(*_reference_order())
            best = (
                scored.join(dm, "doc_id")
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
            )
            return self._ranked(
                _top_k_rows(
                    best.select("conv_id", "doc_id", "ext_id", "score"), k
                ),
                _COLLAPSED,
            )

    def search_after(
        self,
        query: str,
        model: RetrievalModel,
        after: tuple[float, str],
        k: int = 100,
        doc_filter: str | None = None,
        boost: str | None = None,
        synonyms: dict | None = None,
    ) -> DataFrame:
        """Keyset pagination (the Lucene/Elasticsearch searchAfter
        analog): the next ``k`` hits strictly after cursor ``after =
        (score, ext_id)`` — the last row of the previous page — in the
        reference's total order (desc score, asc ext_id; ext_id alone
        under UnrankedBoolean). Equivalent to OFFSET pagination because
        the order is total (ext_id is unique), but the cursor predicate
        prunes instead of recomputing and re-skipping prior pages, and
        deep pages cost the same shuffle as page one — the
        deep-pagination rule every search service enforces at scale.

        The cursor score must be the engine's own float (bit-identical
        equality is what breaks the tie chain correctly). → same schema
        as :meth:`search`; ``rank`` restarts at 1 per page.

        ``boost``/``synonyms``/``doc_filter`` MUST match page 1's: the
        cursor is a position in ONE total order, so every page must be
        computed over the same (expanded, boosted, filtered) ranking —
        pass the identical arguments you gave :meth:`search`."""
        a_score, a_ext = float(after[0]), str(after[1])
        node = self._parse(query, model, synonyms)
        if node is None:
            return self._ranked([])
        with self._compiled(node, model) as (scored, _):
            withext = self._join_docmap(scored, doc_filter, boost)
            if isinstance(model, UnrankedBoolean):
                page = withext.where(F.col("ext_id") > a_ext)
            else:
                page = withext.where(
                    (F.col("score") < F.lit(a_score))
                    | (
                        (F.col("score") == F.lit(a_score))
                        & (F.col("ext_id") > a_ext)
                    )
                )
            return self._ranked(
                _top_k_rows(page, k, _reference_order(model))
            )

    def term_vector(self, doc_id: int, field: str = "body") -> DataFrame:
        """Forward-index term vector of one document — the reference's
        ``TermVector`` (TermVector.java:35-94) / Elasticsearch
        termvectors-endpoint analog, as a public API instead of an
        internal PRF/LeToR input. → lazy DataFrame(term, tf, positions)
        with 0-based token positions decoded from the forward index's
        varint blobs (one Arrow-vectorized UDF over the doc's rows
        only — a pushdown-filtered single-doc scan, never corpus work).
        Raises if the doc has no indexed terms in the field."""
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from .functions.codec import varint_decode_np

        # no annotations: `from __future__ import annotations` stringifies
        # them, which pandas_udf's signature inspection rejects
        @pandas_udf("array<int>")
        def _decode(blobs):
            out = []
            for b in blobs:
                vals = varint_decode_np(bytes(b))
                # blob = varint(count) varint(delta0) ... → cumsum deltas
                out.append(
                    np.cumsum(vals[1:]).astype("int64").tolist()
                    if len(vals) > 1
                    else []
                )
            return pd.Series(out)

        dt = self.reader.doc_terms().where(
            (F.col("doc_id") == int(doc_id)) & (F.col("field") == field)
        )
        if not dt.limit(1).count():
            raise ValueError(
                f"doc {doc_id} has no indexed terms in field {field!r} "
                "(unknown, deleted, or empty doc)"
            )
        return dt.select(
            "term",
            F.col("tf").cast("long").alias("tf"),
            _decode(F.col("pos_blob")).alias("positions"),
        )

    def mlt_terms(
        self,
        doc_id: int,
        field: str = "body",
        max_terms: int = 10,
        min_tf: int = 2,
        min_df: int = 5,
    ) -> list[str]:
        """More-Like-This term selection (the Lucene MoreLikeThis
        analog): the source doc's indexed terms ranked by
        ``tf * ln(N / df)`` (tf·idf interestingness), gated by Lucene's
        minTermFreq/minDocFreq defaults, cut to ``max_terms``
        (maxQueryTerms), ties broken term-ascending. Returned in
        selection order — the child order of the query built from them.

        Cost: one pushdown-filtered scan of the forward index for the
        source doc's rows (bounded by its doclen) + one driver-side
        term-stats seek for their dfs — no corpus-wide work."""
        rows = (
            self.reader.doc_terms()
            .where(
                (F.col("doc_id") == int(doc_id))
                & (F.col("field") == field)
            )
            .select("term", "tf")
            .collect()
        )
        if not rows:
            raise ValueError(
                f"doc {doc_id} has no indexed terms in field {field!r} "
                "(unknown, deleted, or empty doc)"
            )
        stats = self.reader.term_stats({(r["term"], field) for r in rows})
        n = self.reader.num_docs
        import math

        cand: list[tuple[float, str]] = []
        for r in rows:
            tf = int(r["tf"])
            df = int(stats.get((r["term"], field), {}).get("df", 0))
            if tf < min_tf or df < min_df or df <= 0:
                continue
            cand.append((tf * math.log(n / df), r["term"]))
        cand.sort(key=lambda x: (-x[0], x[1]))
        return [t for _, t in cand[:max_terms]]

    def more_like_this(
        self,
        doc_id: int,
        field: str = "body",
        k: int = 100,
        max_terms: int = 10,
        min_tf: int = 2,
        min_df: int = 5,
        model: RetrievalModel | None = None,
    ) -> DataFrame:
        """More-Like-This retrieval: find the docs most similar to
        ``doc_id`` by running a BM25 #SUM over its most interesting
        terms (``mlt_terms``), excluding the source doc itself.

        → DataFrame(doc_id, ext_id, rank, score), reference ordering.
        The query AST is built directly from the selected (already
        analyzed) index terms — never re-parsed, so stemming cannot
        corrupt them."""
        model = model if model is not None else BM25()
        terms = self.mlt_terms(
            doc_id, field, max_terms=max_terms, min_tf=min_tf, min_df=min_df
        )
        if not terms:
            return self._ranked([])
        node = ast.Sum(tuple(ast.Term(t, field) for t in terms))
        with self._compiled(node, model) as (scored, _):
            scored = scored.where(F.col("doc_id") != int(doc_id))
            return self._ranked(_top_k_rows(self._join_docmap(scored), k))

    def search_conversations(
        self, query: str, model: RetrievalModel, k: int = 100, agg: str = "sum"
    ) -> DataFrame:
        """Eager top-k conversations: → DataFrame(conv_id, rank, score,
        n_turns), ordered desc score with asc conv_id tie-break (the
        reference's tie-break rule lifted to the conversation key)."""
        rows = _top_k_rows(
            self.conversation_scores_df(query, model, agg=agg),
            k,
            [F.desc("score"), F.asc("conv_id")],
        )
        return self._ranked(rows, _CONVERSATIONS)
