"""AST → DataFrame compiler.

Each query compiles to a declarative DataFrame plan (Catalyst is the real
optimizer/IR underneath): one pruned segment scan for all leaves, per-term
column-math scoring, tagged-union + groupBy folds for the N-ary operators,
Arrow-vectorized positional kernels for NEAR/WINDOW. The reference's
hand-rolled DAAT sort-merge loops (QryopSlAnd.java:145-212 etc.) become
shuffled-hash/sort-merge aggregations the engine never schedules by hand.

Scoring parity notes (bit-level where possible):
* BM25 idf and avg_doclen are computed driver-side in Python and injected
  as literals, so the Python oracle and the JVM plan share the identical
  float64 operands; the remaining per-posting arithmetic is IEEE-exact in
  both (QryopSlScore.java:127-163 — idf NOT floored at zero).
* Indri P_mle likewise (QryopSlScore.java:83-117; default score :244-257).
* N-ary folds multiply/add IN CHILD ORDER, matching the reference's
  accumulation order (e.g. QryopSlAnd.java:107-126), so float results are
  order-stable across partitionings.
* Model gating matches the reference dispatch tables: AND→{Indri,UB,RB},
  OR→{UB,RB}, SUM→{BM25}, WAND/WSUM→{Indri} (QryopSl*.java evaluate()).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf

from ..functions.scoring import bm25_idf, bm25_tf_weight, model_idf
from ..index.reader import IndexReader
from ..operators.positional import near_match, syn_merge, window_match
from ..session import local_frame
from . import ast
from .models import BM25, Indri, RankedBoolean, RetrievalModel, UnrankedBoolean


@dataclass
class ILResult:
    df: DataFrame  # (doc_id, tf, positions, doclen)
    field: str
    # list-level stats; None → must be computed from df (composed lists)
    il_df: int | None = None
    il_ctf: int | None = None

    def ensure_stats(self) -> tuple[int, int]:
        if self.il_df is None or self.il_ctf is None:
            row = self.df.agg(
                F.count("*").alias("d"), F.sum("tf").alias("c")
            ).first()
            self.il_df = int(row["d"] or 0)
            self.il_ctf = int(row["c"] or 0)
        return self.il_df, self.il_ctf


@dataclass
class SLResult:
    df: DataFrame  # (doc_id, score) — plus doclen when same_field fast path
    # Indri default score: function(doclen columns per field) → Column;
    # None where the reference has no default path (boolean/BM25 nodes).
    default_fn: object | None = None
    # fields whose doclen the default needs
    default_fields: tuple[str, ...] = ()
    statically_zero: bool = False


class QueryCompiler:
    def __init__(self, reader: IndexReader, model: RetrievalModel):
        self.reader = reader
        self.model = model
        self.spark = reader.spark
        self._postings: DataFrame | None = None
        self._stats: dict = {}

    # ------------------------------------------------------------------ setup
    def prepare(self, node: ast.Node) -> None:
        """Materialize per-pair stats and the decoded-postings cache.

        df/ctf/max_tf come from SEGMENT METADATA (a projected scan of a few
        small columns, bucket- and row-group-pruned — no block decode).
        """
        pairs = ast.query_terms(node)
        self._stats = {
            pair: {"df": s["df"], "ctf": s["ctf"], "max_tf": s["max_tf"]}
            for pair, s in self.reader.term_stats(pairs).items()
        }
        self._postings = self.reader.fetch_postings(
            pairs, need_positions=ast.needs_positions(node)
        ).persist()

    @staticmethod
    def _flat_sum_weighted(
        node: ast.Node,
    ) -> list[tuple[str, str, float]] | None:
        """[(term, field, boost)] per child (duplicates kept, boost 1.0
        for plain terms) for a flat #SUM(term[^boost] ...) tree, else
        None. Single-child #SUM wrappers (the parser's model-default
        wrapper around an explicit #SUM query) are transparent:
        #SUM(#SUM(a b)) scores identically to #SUM(a b) (user_w = 1,
        0.0 + s == s in IEEE754). Since round 3 boosted children
        qualify too — the fast path carries the per-child multiplier."""
        while (
            isinstance(node, ast.Sum)
            and len(node.children) == 1
            and isinstance(node.children[0], ast.Sum)
        ):
            node = node.children[0]
        if not isinstance(node, ast.Sum):
            return None
        out = []
        for c in node.children:
            if isinstance(c, ast.Boost) and isinstance(c.child, ast.Term):
                out.append((c.child.term, c.child.field, float(c.weight)))
            elif isinstance(c, ast.Term):
                out.append((c.term, c.field, 1.0))
            else:
                return None
        return out or None

    @staticmethod
    def _flat_sum_pairs(node: ast.Node) -> list[tuple[str, str]] | None:
        """[(term, field)] view of ``_flat_sum_weighted`` (same
        qualification rule — boosted children INCLUDED since round 3;
        callers needing the boosts use the weighted form)."""
        w = QueryCompiler._flat_sum_weighted(node)
        return None if w is None else [(t, f) for t, f, _ in w]

    def release(self) -> None:
        if self._postings is not None:
            self._postings.unpersist()
            self._postings = None

    # ------------------------------------------------------------- IL family
    def compile_il(self, node: ast.Node) -> ILResult:
        if isinstance(node, ast.Term):
            st = self._stats.get((node.term, node.field), {"df": 0, "ctf": 0})
            df = self._postings.where(
                (F.col("term") == node.term) & (F.col("field") == node.field)
            ).select("doc_id", "tf", "positions", "doclen")
            return ILResult(df, node.field, int(st["df"]), int(st["ctf"]))

        if isinstance(node, ast.Syn):
            kids = [self.compile_il(c) for c in node.children]
            self._check_same_field(kids, node)
            u = kids[0].df
            for k in kids[1:]:
                u = u.unionByName(k.df)
            merged = (
                u.groupBy("doc_id")
                .agg(
                    F.array_sort(
                        F.flatten(F.collect_list("positions"))
                    ).alias("positions"),
                    F.first("doclen").alias("doclen"),
                )
                .withColumn("tf", F.size("positions"))
                .select("doc_id", "tf", "positions", "doclen")
            )
            return ILResult(merged, kids[0].field)

        if isinstance(node, ast.First):
            # Lucene SpanFirstQuery analog: keep match positions < n,
            # recompute tf, drop emptied docs. Pure column math on the
            # child's frame — no extra shuffle or UDF.
            kid = self.compile_il(node.child)
            kept = (
                kid.df.withColumn(
                    "positions",
                    F.filter("positions", lambda p: p < F.lit(node.n)),
                )
                .where(F.size("positions") > 0)
                .withColumn("tf", F.size("positions"))
                .select("doc_id", "tf", "positions", "doclen")
            )
            return ILResult(kept, kid.field)

        if isinstance(node, (ast.Near, ast.WindowOp)):
            kids = [self.compile_il(c) for c in node.children]
            self._check_same_field(kids, node)
            k = len(kids)
            n = node.n
            kernel = near_match if isinstance(node, ast.Near) else window_match

            tagged = None
            for j, kid in enumerate(kids):
                t = kid.df.select(
                    "doc_id",
                    F.lit(j).alias("cix"),
                    "positions",
                    "doclen",
                )
                tagged = t if tagged is None else tagged.unionByName(t)

            grouped = (
                tagged.groupBy("doc_id")
                .agg(
                    F.map_from_entries(
                        F.collect_list(F.struct("cix", "positions"))
                    ).alias("m"),
                    F.count("*").alias("npresent"),
                    F.first("doclen").alias("doclen"),
                )
                .where(F.col("npresent") == k)
                .withColumn(
                    "plists",
                    F.transform(
                        F.sequence(F.lit(0), F.lit(k - 1)),
                        lambda i: F.col("m")[i],
                    ),
                )
            )

            @pandas_udf("array<int>")
            def match_udf(plists: pd.Series) -> pd.Series:
                return plists.map(
                    lambda pl: kernel([list(x) for x in pl], n)
                )

            matched = (
                grouped.withColumn("positions", match_udf("plists"))
                .where(F.size("positions") > 0)
                .withColumn("tf", F.size("positions"))
                .select("doc_id", "tf", "positions", "doclen")
            )
            return ILResult(matched, kids[0].field)

        raise TypeError(f"not an inverted-list node: {node}")

    @staticmethod
    def _check_same_field(kids: list[ILResult], node: ast.Node) -> None:
        fields = {k.field for k in kids}
        if len(fields) > 1:
            # QryopIlNear.java:163-165 / QryopIlSyn syntaxCheckArgResults
            raise ValueError(f"arguments must be in the same field: {node}")

    # ------------------------------------------------------------- SL family
    def compile_sl(self, node: ast.Node) -> SLResult:
        m = self.model
        if isinstance(node, ast.Boost):
            # consumed by _bm25_sum before recursion — reaching here
            # means the boost sits somewhere it has no semantics
            raise ValueError(
                "term boosts (term^w) are only legal as direct children "
                "of BM25 #SUM / #MSM"
            )
        if ast.is_il(node):
            return self._score(node)

        if isinstance(node, ast.And):
            if isinstance(m, Indri):
                n = len(node.children)
                return self._indri_fold(
                    node.children,
                    exponents=[1.0 / n] * n,
                    combine="product",
                )
            if isinstance(m, (UnrankedBoolean, RankedBoolean)):
                return self._boolean_and(node.children)
            raise ValueError("#AND is not defined under BM25 (reference dispatch)")

        if isinstance(node, ast.Or):
            if isinstance(m, (UnrankedBoolean, RankedBoolean)):
                return self._boolean_or(node.children)
            raise ValueError("#OR is only defined under boolean models")

        if isinstance(node, ast.Not):
            if isinstance(m, (UnrankedBoolean, RankedBoolean)):
                return self._boolean_not(node.child)
            raise ValueError("#NOT is only defined under boolean models")

        if isinstance(node, ast.Sum):
            if isinstance(m, BM25):
                return self._bm25_sum(node.children)
            raise ValueError("#SUM is only defined under BM25")

        if isinstance(node, ast.Msm):
            # Lucene minimumNumberShouldMatch analog: match docs with
            # >= n matching children; score like the operator each
            # model generalizes (#OR max under boolean, #SUM child-order
            # sum under BM25). n > len(children) matches nothing.
            if isinstance(m, (UnrankedBoolean, RankedBoolean)):
                return self._boolean_msm(node.n, node.children)
            if isinstance(m, BM25):
                return self._bm25_sum(node.children, min_match=node.n)
            raise ValueError("#MSM is not defined under Indri")

        if isinstance(node, (ast.Wand, ast.Wsum)):
            if not isinstance(m, Indri):
                raise ValueError("#WAND/#WSUM are only defined under Indri")
            if len(node.weights) != len(node.children):
                raise ValueError("WAND/WSUM: weight/arg count mismatch")
            wsum = sum(node.weights)  # reference sums in arg order (plain +)
            exps = [w / wsum for w in node.weights]
            combine = "product" if isinstance(node, ast.Wand) else "sum"
            return self._indri_fold(node.children, exps, combine)

        raise TypeError(f"not a score-list node: {node}")

    # -- SCORE operator (IL → SL), QryopSlScore.java ---------------------------
    def _score(self, node: ast.Node) -> SLResult:
        il = self.compile_il(node)
        m = self.model

        if isinstance(m, UnrankedBoolean):
            return SLResult(il.df.select("doc_id", F.lit(1.0).alias("score"), "doclen"))
        if isinstance(m, RankedBoolean):
            return SLResult(
                il.df.select(
                    "doc_id", F.col("tf").cast("double").alias("score"), "doclen"
                )
            )

        if isinstance(m, BM25):
            n_docs = self.reader.num_docs
            ildf, _ = il.ensure_stats()
            idf = model_idf(m, n_docs, ildf)
            avg_dl = self.reader.avg_doclen(il.field)
            tf_w = bm25_tf_weight(m.k_1, m.b, avg_dl)
            return SLResult(
                il.df.select(
                    "doc_id", (F.lit(idf) * tf_w).alias("score"), "doclen"
                )
            )

        if isinstance(m, Indri):
            _, ctf = il.ensure_stats()
            sum_dl = self.reader.sum_doclen(il.field)
            p_mle = ctf / sum_dl if sum_dl else 0.0
            tf = F.col("tf").cast("double")
            dl = F.col("doclen").cast("double")
            score = F.lit(m.lam) * (tf + F.lit(m.mu * p_mle)) / (
                dl + F.lit(m.mu)
            ) + F.lit((1.0 - m.lam) * p_mle)
            field = il.field

            def default_fn(dl_cols: dict[str, Column]) -> Column:
                d = dl_cols[field].cast("double")
                return F.lit(m.lam * m.mu * p_mle) / (d + F.lit(m.mu)) + F.lit(
                    (1.0 - m.lam) * p_mle
                )

            return SLResult(
                il.df.select("doc_id", score.alias("score"), "doclen"),
                default_fn=default_fn,
                default_fields=(field,),
                statically_zero=(p_mle == 0.0),
            )

        raise TypeError(f"unknown model {m}")

    # -- boolean set ops -------------------------------------------------------
    def _tagged_union(self, children: list[SLResult]) -> DataFrame:
        u = None
        for j, ch in enumerate(children):
            cols = [F.col("doc_id"), F.lit(j).alias("cix"), F.col("score")]
            cols.append(
                F.col("doclen") if "doclen" in ch.df.columns else F.lit(None).cast("int").alias("doclen")
            )
            t = ch.df.select(*cols)
            u = t if u is None else u.unionByName(t)
        return u

    def _boolean_and(self, children: tuple[ast.Node, ...]) -> SLResult:
        kids = [self.compile_sl(c) for c in children]
        if not kids:
            return self._empty_sl()
        u = self._tagged_union(kids)
        ranked = isinstance(self.model, RankedBoolean)
        agg = (
            u.groupBy("doc_id")
            .agg(
                F.count("*").alias("npresent"),
                F.min("score").alias("minscore"),
            )
            .where(F.col("npresent") == len(kids))
        )
        score = F.col("minscore") if ranked else F.lit(1.0)
        return SLResult(agg.select("doc_id", score.alias("score")))

    def _boolean_or(self, children: tuple[ast.Node, ...]) -> SLResult:
        kids = [self.compile_sl(c) for c in children]
        if not kids:
            return self._empty_sl()
        u = self._tagged_union(kids)
        ranked = isinstance(self.model, RankedBoolean)
        agg = u.groupBy("doc_id").agg(F.max("score").alias("maxscore"))
        score = F.col("maxscore") if ranked else F.lit(1.0)
        return SLResult(agg.select("doc_id", score.alias("score")))

    def _boolean_msm(
        self, min_match: int, children: tuple[ast.Node, ...]
    ) -> SLResult:
        kids = [self.compile_sl(c) for c in children]
        if not kids or min_match > len(kids):
            return self._empty_sl()
        u = self._tagged_union(kids)
        ranked = isinstance(self.model, RankedBoolean)
        agg = (
            u.groupBy("doc_id")
            .agg(
                F.count("*").alias("npresent"),
                F.max("score").alias("maxscore"),
            )
            .where(F.col("npresent") >= min_match)
        )
        score = F.col("maxscore") if ranked else F.lit(1.0)
        return SLResult(agg.select("doc_id", score.alias("score")))

    def _boolean_not(self, child: ast.Node) -> SLResult:
        matched = self.compile_sl(child).df.select("doc_id")
        corpus = self.reader.docmap().select("doc_id")
        out = corpus.join(matched, "doc_id", "left_anti").select(
            "doc_id", F.lit(1.0).alias("score")
        )
        return SLResult(out)

    # -- BM25 #SUM ---------------------------------------------------------------
    def _bm25_sum(
        self, children: tuple[ast.Node, ...], min_match: int = 1
    ) -> SLResult:
        # ast.Boost children (term^w) scale their contribution: the ONE
        # operator with a per-child additive contribution to multiply,
        # hence the only place boosts are legal (compile_sl rejects them
        # everywhere else). Boost weight 1.0 never reaches here (the
        # parser collapses it), so unboosted plans are bit-unchanged.
        boosts = [
            c.weight if isinstance(c, ast.Boost) else 1.0 for c in children
        ]
        plain = tuple(
            c.child if isinstance(c, ast.Boost) else c for c in children
        )
        kids = [self.compile_sl(c) for c in plain]
        if not kids or min_match > len(kids):
            return self._empty_sl()
        m = self.model
        qtf = 1.0  # QryopSlSum.java:58 — duplicates are separate children
        user_w = (m.k_3 + 1.0) * qtf / (m.k_3 + qtf)
        u = self._tagged_union(kids)
        grouped = u.groupBy("doc_id").agg(
            F.map_from_entries(F.collect_list(F.struct("cix", "score"))).alias("m")
        )
        if min_match > 1:  # MSM gate: plan unchanged for plain #SUM
            grouped = grouped.where(F.size("m") >= min_match)
        # accumulate IN CHILD ORDER (float-order parity with the DAAT loop);
        # boosted children multiply s * user_w * boost in that order (the
        # oracle twins replay the same operand order)
        expr = F.lit(0.0)
        for j in range(len(kids)):
            contrib = F.col("m")[F.lit(j)] * F.lit(user_w)
            if boosts[j] != 1.0:
                contrib = contrib * F.lit(boosts[j])
            expr = expr + F.coalesce(contrib, F.lit(0.0))
        return SLResult(grouped.select("doc_id", expr.alias("score")))

    # -- Indri weighted folds -----------------------------------------------------
    def _indri_fold(
        self,
        children: tuple[ast.Node, ...],
        exponents: list[float],
        combine: str,
    ) -> SLResult:
        kids = [self.compile_sl(c) for c in children]
        if not kids:
            return self._empty_sl()

        needed_fields = sorted(
            {f for k in kids for f in k.default_fields if not k.statically_zero}
        )
        u = self._tagged_union(kids)
        grouped = u.groupBy("doc_id").agg(
            F.map_from_entries(F.collect_list(F.struct("cix", "score"))).alias("m"),
            F.max("doclen").alias("doclen_any"),
        )

        # doclen acquisition for default scores
        same_field = len(needed_fields) <= 1 and all(
            len(k.default_fields) <= 1 for k in kids
        )
        if needed_fields and same_field and all(
            k.default_fields == (needed_fields[0],) or k.statically_zero
            for k in kids
        ) and self._all_leaf_fields_equal(children, needed_fields[0]):
            # fast path: every child lives in one field → any present row's
            # doclen IS doclen(doc, field); no doclen-table join.
            dl_cols = {needed_fields[0]: F.col("doclen_any")}
            joined = grouped
        elif needed_fields:
            dl = (
                self.reader.doclen()
                .where(F.col("field").isin(needed_fields))
                .groupBy("doc_id")
                .pivot("field", needed_fields)
                .agg(F.first("doclen"))
            )
            joined = grouped.join(dl, "doc_id", "left")
            dl_cols = {f: F.coalesce(F.col(f), F.lit(0)) for f in needed_fields}
        else:
            dl_cols = {}
            joined = grouped

        if combine == "product":
            expr = F.lit(1.0)
        else:
            expr = F.lit(0.0)
        for j, (kid, q) in enumerate(zip(kids, exponents)):
            if kid.statically_zero:
                # reference skips zero default scores entirely
                # (QryopSlAnd.java:119-122); a zero-ctf child also has no
                # postings, so it is never present either.
                continue
            present = F.col("m")[F.lit(j)]
            default = (
                kid.default_fn(dl_cols) if kid.default_fn is not None else F.lit(0.0)
            )
            s = F.coalesce(present, default)
            if combine == "product":
                expr = expr * F.pow(s, F.lit(q))
            else:
                expr = expr + F.lit(q) * s

        # Propagate a doclen column when this node is single-field so a
        # PARENT Indri fold's fast path still sees doclen for docs that
        # only matched through this nested node (leaves always carry
        # doclen; induction keeps it non-null up the tree).
        out_cols = [F.col("doc_id"), expr.alias("score")]
        if len(needed_fields) == 1:
            if "doclen_any" in joined.columns and needed_fields[0] not in joined.columns:
                out_cols.append(F.col("doclen_any").alias("doclen"))
            elif needed_fields[0] in joined.columns:
                out_cols.append(
                    F.coalesce(F.col(needed_fields[0]), F.lit(0)).alias("doclen")
                )
        out = joined.select(*out_cols)

        # this node's own default (for nesting under another Indri op)
        sub_fns = [(k.default_fn, q, k.statically_zero) for k, q in zip(kids, exponents)]
        is_product = combine == "product"

        def node_default(dl_cols2: dict[str, Column]) -> Column:
            e = F.lit(1.0) if is_product else F.lit(0.0)
            for fn, q, zero in sub_fns:
                if zero or fn is None:
                    continue
                s = fn(dl_cols2)
                e = e * F.pow(s, F.lit(q)) if is_product else e + F.lit(q) * s
            return e

        all_zero = all(k.statically_zero for k in kids)
        return SLResult(
            out,
            default_fn=node_default,
            default_fields=tuple(needed_fields),
            statically_zero=False if is_product else all_zero,
            # NOTE: an all-zero product node defaults to 1.0 (the reference's
            # initial docScore survives when every factor is skipped,
            # QryopSlAnd.java:297-319) — so it is NOT statically zero.
        )

    @staticmethod
    def _all_leaf_fields_equal(children: tuple[ast.Node, ...], field: str) -> bool:
        return all(
            f == field for c in children for _t, f in ast.query_terms(c)
        )

    def _empty_sl(self) -> SLResult:
        df = local_frame(self.spark, [], "doc_id long, score double")
        return SLResult(df)

    # ------------------------------------------------------------- entry point
    def compile_query(self, node: ast.Node) -> DataFrame:
        """Top level: SL nodes → (doc_id, score); bare IL queries score like
        the reference's writeResultToFile (tf for ranked models, 1.0 for
        unranked; QryEval.java:296-314)."""
        if ast.is_il(node):
            il = self.compile_il(node)
            ranked = not isinstance(self.model, UnrankedBoolean)
            score = (
                F.col("tf").cast("double") if ranked else F.lit(1.0)
            )
            return il.df.select("doc_id", score.alias("score"))
        return self.compile_sl(node).df.select("doc_id", "score")
