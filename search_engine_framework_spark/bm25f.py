"""BM25F — field-weighted BM25 over the multi-field index.

The reference engine only combines fields at the OPERATOR level: a
query like ``#SUM(apple.url apple.body)`` scores each field as an
independent BM25 evidence stream and adds the scores
(/root/reference/src/QryEval.java:686-707 field suffixes;
RetrievalModelBM25 scoring per field). BM25F (Robertson & Zaragoza,
"Simple BM25 extension to multiple weighted fields", CIKM 2004 — public
knowledge) is the principled alternative: per-field term frequencies are
length-normalized and weight-combined FIRST, then saturated once,

    tf~(t,d)  =  sum_f  w_f * tf(t,f,d) / (1 - b_f + b_f * len_f(d)/avg_f)
    score(d)  =  sum_t  idf(t) * tf~(t,d) / (k1 + tf~(t,d))

so a term matching in two fields is worth more than double evidence in
one field would be under independent saturation, and a strong title/tool
hit cannot be drowned by body length.

Conventions (kept identical to the engine's BM25, plans/compiler.py):

* ``idf(t) = ln((N - df + 0.5) / (df + 0.5))``, NOT floored at zero
  (the reference's RetrievalModelBM25 quirk);
* ``avg_f = sum_doclen(f) / doc_count(f)`` with ``doc_count`` counting
  docs whose field is non-empty (index stats.json);
* ``df`` is DOCUMENT-level: the number of live docs containing the term
  in ANY of the weighted fields (computed from the decoded postings, so
  tombstoned docs are excluded — index/reader.py masks them).

Spark shape (100 TB posture): one bucket-pruned segment scan decodes
only the query's (term, field) pairs (no positions); everything after
the decode is JVM column math; the per-(doc, term) combine and the
per-doc fold are map-side-combinable groupBys over the MATCHING docs
only. The per-term df aggregate is tiny (|terms| rows) and broadcast
back.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .index.reader import IndexReader
from .session import local_frame

__all__ = ["bm25f_scores", "bm25f_tilde_tf", "dismax_scores"]


def _b_for(b: float | dict[str, float], field: str) -> float:
    return float(b[field]) if isinstance(b, dict) else float(b)


def bm25f_tilde_tf(
    reader: IndexReader,
    terms: list[str],
    weights: dict[str, float],
    b: float | dict[str, float] = 0.75,
) -> DataFrame:
    """(doc_id, term, tft) — the field-combined, length-normalized term
    frequency ``tf~`` for every (live doc, query term) with at least one
    field match. Lazy; one postings decode."""
    fields = sorted(weights)
    pairs = {(t, f) for t in terms for f in fields}
    spark = reader.spark
    if not pairs:
        return local_frame(spark, [], "doc_id long, term string, tft double")
    post = reader.fetch_postings(pairs, need_positions=False).select(
        "term", "field", "doc_id", "tf", "doclen"
    )
    # Per-field norm: w_f * (tf / (1 - b_f + b_f * (doclen / avg_f))).
    # avg_f is a driver-side double from the index stats — identical
    # operand order to the oracle SQL (contract.py), so each summand is
    # bit-exact across engines.
    wtf = F.lit(None).cast("double")
    for f in fields:
        if reader.doc_count(f) == 0:
            continue  # empty field: no postings can exist for it
        bf = _b_for(b, f)
        avg = reader.sum_doclen(f) / reader.doc_count(f)
        wtf = F.when(
            F.col("field") == f,
            F.lit(float(weights[f]))
            * (
                F.col("tf").cast("double")
                / (
                    F.lit(1.0 - bf)
                    + F.lit(bf) * (F.col("doclen").cast("double") / F.lit(avg))
                )
            ),
        ).otherwise(wtf)
    return (
        post.withColumn("wtf", wtf)
        .groupBy("doc_id", "term")
        .agg(F.sum("wtf").alias("tft"))
    )


def bm25f_scores(
    reader: IndexReader,
    terms: list[str],
    weights: dict[str, float],
    k1: float = 1.2,
    b: float | dict[str, float] = 0.75,
) -> DataFrame:
    """Full BM25F ranking: (doc_id, score) for every matching live doc.

    Lazy — the plan contains the decode subtree twice (once under the
    per-term df aggregate, once under the scoring fold). At contract /
    interactive scale that is two cheap pruned scans; the eager top-k
    path (engine.SearchEngine.search_bm25f) persists the combined-tf
    frame so the decode runs once.
    """
    per_dt = bm25f_tilde_tf(reader, terms, weights, b=b)
    return _scores_from_tilde(reader, per_dt, k1=k1)


def _scores_from_tilde(
    reader: IndexReader, per_dt: DataFrame, k1: float = 1.2
) -> DataFrame:
    n = reader.num_docs
    df_t = per_dt.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log((F.lit(float(n)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    scored = per_dt.join(F.broadcast(df_t), "term").select(
        "doc_id",
        (idf * (F.col("tft") / (F.lit(float(k1)) + F.col("tft")))).alias("s"),
    )
    return scored.groupBy("doc_id").agg(F.sum("s").alias("score"))


def bm25f_idf(n_docs: int, df: int) -> float:
    """Driver-side twin of the idf expression (tests)."""
    return math.log((n_docs - df + 0.5) / (df + 0.5))


def dismax_scores(
    reader: IndexReader,
    terms: list[str],
    fields: list[str],
    tie: float = 0.0,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """DisMax — the Lucene DisjunctionMaxQuery / Solr dismax ``qf``
    analog, the OTHER classic multi-field combiner next to BM25F: each
    field scores the term as an independent BM25 evidence stream (its
    OWN df, idf, and length normalization), and the per-term score is

        max_f s(t,f,d)  +  tie · (sum_f s(t,f,d) − max_f s(t,f,d))

    — ``tie = 0`` is pure best-field (a title hit is not inflated by a
    body echo; the "albino elephant" fix), ``tie = 1`` degenerates to
    the reference's operator-level ``#SUM(t.f1 t.f2)`` cross-field sum.
    Per-doc score sums the per-term combinations (BooleanQuery-of-
    DisMax, the Solr qf shape). → (doc_id, score), matching docs only.

    Contrast with :func:`bm25f_scores`: BM25F combines term FREQUENCIES
    before one saturation (principled when fields are one text with
    different emphasis); DisMax combines SCORES after per-field
    saturation (right when fields are alternative representations and
    the best one should speak). Both are public-knowledge standards.

    Spark shape: ONE bucket-pruned scan decodes all (term, field)
    pairs (no positions); per-pair idf/avg_dl constants join in as a
    |terms|×|fields| broadcast; the max/sum per (doc, term) and the
    final per-doc fold are two map-side-combinable groupBys over
    matching docs only. df is computed from the decoded postings, so
    tombstoned docs never count (bm25f.py conventions).
    """
    if not terms or not fields:
        raise ValueError("dismax needs at least one term and one field")
    if not 0.0 <= tie <= 1.0:
        raise ValueError("tie must be in [0, 1]")
    pairs = {(t, f) for t in terms for f in fields}
    # Lazy like bm25f_scores: the decode subtree appears twice (df
    # aggregate now, scoring fold at the caller's action) — two cheap
    # pruned scans; an eager top-k wrapper would persist it once.
    post = reader.fetch_postings(pairs, need_positions=False).select(
        "term", "field", "doc_id", "tf", "doclen"
    )
    n_docs = reader.num_docs
    dfs = {
        (r["term"], r["field"]): r["df"]
        for r in post.groupBy("term", "field")
        .agg(F.count("*").alias("df"))
        .collect()
    }
    const_rows = []
    for t, f in pairs:
        df = dfs.get((t, f), 0)
        if df == 0:
            continue  # field never matches the term: contributes 0
        idf = math.log((n_docs - df + 0.5) / (df + 0.5))
        avg = reader.avg_doclen(f)
        const_rows.append((t, f, float(idf), float(avg)))
    if not const_rows:
        return local_frame(reader.spark, [], "doc_id long, score double")
    consts = local_frame(
        reader.spark,
        const_rows,
        "term string, field string, idf double, avg double",
    )
    tf = F.col("tf").cast("double")
    dl = F.col("doclen").cast("double")
    s = F.col("idf") * (
        tf
        / (
            tf
            + F.lit(k1)
            * ((1.0 - b) + F.lit(b) * dl / F.col("avg"))
        )
    )
    per_tf = post.join(F.broadcast(consts), ["term", "field"]).select(
        "doc_id", "term", s.alias("s")
    )
    per_term = per_tf.groupBy("doc_id", "term").agg(
        (
            F.max("s")
            + F.lit(float(tie)) * (F.sum("s") - F.max("s"))
        ).alias("c")
    )
    return per_term.groupBy("doc_id").agg(F.sum("c").alias("score"))
