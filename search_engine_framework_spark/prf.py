"""Pseudo-relevance feedback (Indri-style query expansion).

Mirrors /root/reference/src/QryExpansion.java:137-221:

  1. initial ranking: evaluate the original query (or take a supplied
     ranking), keep top ``fb_docs`` (docid, score);
  2. for every stem t in those docs (stopword slots skipped — our
     doc_terms never stores stopwords):
       s(t) = Σ_d (tf_{t,d} + fbMu·P_mle) / (doclen_d + fbMu)
                  · score_d · ln(1 / P_mle),     P_mle = ctf_t / |C_field|
  3. top ``fb_terms`` by score → "#wand( w1 t1 w2 t2 ... )" with
     %.4f-formatted weights (format kept — it affects rank identity of
     the re-parsed query, QryExpansion.java:207);
  4. final query: "#wand( w #and(orig) (1-w) #wand(...) )".

Spark shape: the top-docs list is tiny (fb_docs ≈ 10) → broadcast join
against the forward index; ctf comes from a segment-stats semi-join on
the candidate terms; one groupBy(term) aggregation; only fb_terms rows
ever reach the driver. Ties broken by term asc (the reference's HashMap
iteration order is undefined — we pin it).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .engine import SearchEngine
from .plans.models import RetrievalModel
from .session import local_frame


def expansion_terms(
    engine: SearchEngine,
    ranking: list[tuple[int, float]],
    fb_terms: int = 50,
    fb_mu: float = 0.0,
    field: str = "body",
) -> list[tuple[str, float]]:
    """[(term, score)] — top fb_terms expansion candidates from the
    given [(doc_id, score)] pseudo-relevant ranking."""
    spark = engine.spark
    reader = engine.reader
    c_total = float(reader.sum_doclen(field))

    top = F.broadcast(
        local_frame(spark, ranking, "doc_id long, doc_score double")
    )
    dt = reader.doc_terms().where(F.col("field") == field).join(top, "doc_id")

    # ctf for candidate terms only: semi-join-shaped segment-stats lookup
    # (term_stats_df merges per-generation rows after incremental appends)
    ctf = (
        reader.term_stats_df()
        .where(F.col("field") == field)
        .join(dt.select("term").distinct(), "term", "left_semi")
        .select("term", "ctf")
    )
    joined = dt.join(ctf, "term")

    p_mle = F.col("ctf").cast("double") / F.lit(c_total)
    s = (
        (F.col("tf").cast("double") + F.lit(fb_mu) * p_mle)
        / (F.col("doclen").cast("double") + F.lit(fb_mu))
        * F.col("doc_score")
        * F.log(F.lit(1.0) / p_mle)
    )
    scored = (
        joined.select("term", s.alias("s"))
        .groupBy("term")
        .agg(F.sum("s").alias("score"))
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(fb_terms)
    )
    return [(r["term"], float(r["score"])) for r in scored.collect()]


def expansion_terms_many(
    engine: SearchEngine,
    rankings: dict[str, list[tuple[int, float]]],
    fb_terms: int = 50,
    fb_mu: float = 0.0,
    field: str = "body",
) -> dict[str, list[tuple[str, float]]]:
    """Batched twin of ``expansion_terms``: {qid: [(doc_id, score)]} →
    {qid: [(term, score)]} in ONE job wave for every query.

    The per-query path joins the forward index once per query; here the
    (qid, doc_id, doc_score) union is a single broadcast against ONE
    ``doc_terms`` pass, the per-qid top-``fb_terms`` is one row_number
    window, and the scoring formula is identical
    (QryExpansion.java:137-221)."""
    from pyspark.sql import Window

    spark = engine.spark
    reader = engine.reader
    c_total = float(reader.sum_doclen(field))

    rows = [
        (qid, int(d), float(s))
        for qid, ranking in rankings.items()
        for d, s in ranking
    ]
    if not rows:
        return {qid: [] for qid in rankings}
    top = F.broadcast(
        local_frame(spark, rows, "qid string, doc_id long, doc_score double")
    )
    dt = reader.doc_terms().where(F.col("field") == field).join(top, "doc_id")
    ctf = (
        reader.term_stats_df()
        .where(F.col("field") == field)
        .join(dt.select("term").distinct(), "term", "left_semi")
        .select("term", "ctf")
    )
    joined = dt.join(ctf, "term")

    p_mle = F.col("ctf").cast("double") / F.lit(c_total)
    s = (
        (F.col("tf").cast("double") + F.lit(fb_mu) * p_mle)
        / (F.col("doclen").cast("double") + F.lit(fb_mu))
        * F.col("doc_score")
        * F.log(F.lit(1.0) / p_mle)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("term"))
    scored = (
        joined.select("qid", "term", s.alias("s"))
        .groupBy("qid", "term")
        .agg(F.sum("s").alias("score"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= fb_terms)
        .collect()
    )
    out: dict[str, list[tuple[str, float]]] = {qid: [] for qid in rankings}
    for r in sorted(scored, key=lambda r: (r["qid"], r["rk"])):
        out[r["qid"]].append((r["term"], float(r["score"])))
    return out


def expand_queries(
    engine: SearchEngine,
    queries: dict[str, str],
    model: RetrievalModel,
    fb_docs: int = 10,
    fb_terms: int = 50,
    fb_mu: float = 0.0,
    fb_orig_weight: float = 0.5,
    initial_rankings: dict[str, list[tuple[int, float]]] | None = None,
) -> dict[str, str]:
    """Batched PRF: every query's expansion in ~2 job waves — one
    ``search_many`` for the missing initial rankings, one
    ``expansion_terms_many`` wave — instead of ~4 jobs per query."""
    initial = dict(initial_rankings or {})
    missing = {qid: q for qid, q in queries.items() if qid not in initial}
    if missing:
        batch = engine.search_many(missing, model, k=fb_docs)
        for r in batch.collect():
            initial.setdefault(r["qid"], []).append(
                (r["doc_id"], float(r["score"]))
            )
    terms_by_qid = expansion_terms_many(
        engine,
        {qid: initial.get(qid, []) for qid in queries},
        fb_terms=fb_terms,
        fb_mu=fb_mu,
    )
    out = {}
    for qid, query in queries.items():
        wand = render_wand(terms_by_qid.get(qid, []))
        out[qid] = (
            f"#wand( {fb_orig_weight} #and({query}) "
            f"{1 - fb_orig_weight} {wand})"
        )
    return out


def render_wand(terms: list[tuple[str, float]]) -> str:
    """"#wand( 0.1234 t1 ... )" — %.4f weight format as the reference."""
    inner = " ".join(f"{s:.4f} {t}" for t, s in terms)
    return f"#wand( {inner} )"


def expand_query(
    engine: SearchEngine,
    query: str,
    model: RetrievalModel,
    fb_docs: int = 10,
    fb_terms: int = 50,
    fb_mu: float = 0.0,
    fb_orig_weight: float = 0.5,
    initial_ranking: list[tuple[int, float]] | None = None,
) -> str:
    """Full PRF round trip → the expanded query string, ready to be
    re-parsed and evaluated (QryEval.java:209-214)."""
    if initial_ranking is None:
        top = engine.search(query, model, k=fb_docs)
        initial_ranking = [
            (r["doc_id"], float(r["score"])) for r in top.collect()
        ]
    terms = expansion_terms(
        engine, initial_ranking, fb_terms=fb_terms, fb_mu=fb_mu
    )
    wand = render_wand(terms)
    return (
        f"#wand( {fb_orig_weight} #and({query}) "
        f"{1 - fb_orig_weight} {wand})"
    )
