"""Vector-space model scorer (lnc.ltc cosine).

Mirrors the reference's f18 LeToR feature
(/root/reference/src/LearnToRank.java:450-480), which is the
"vector-space scorer" named in BASELINE.json north_star:

  doc weight   (lnc): 1 + ln(tf)             (no idf, cosine norm)
  query weight (ltc): ln(N / df)              (tf=1 per occurrence)
  score = dot / sqrt(docVecLen * qryVecLen)
  docVecLen = Σ_{t ∈ doc} (1 + ln tf)²        — over ALL doc terms
  qryVecLen = Σ_{t ∈ query} ln(N/df)²         — duplicates count twice

Spark shape: query weights are a tiny broadcast map; the doc norm needs
the full forward index row-group of each *candidate* doc only (semi-join
before the norm aggregation — never a full-corpus pass at query time).
Reference parity note: the reference leaves df=0 terms dividing by zero
(ln(N/0) = ∞); we drop query terms with df=0, which only affects queries
that could never match anyway.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .index.reader import IndexReader
from .session import local_frame


def vsm_scores(
    reader: IndexReader,
    qterms: list[str],
    field: str = "body",
) -> DataFrame:
    """(doc_id, score): lnc.ltc cosine of every doc containing ≥1 query
    term. ``qterms`` are analyzed terms; duplicates contribute per
    occurrence (reference loops raw token list)."""
    spark = reader.spark
    n = reader.num_docs
    uniq = sorted(set(qterms))
    stats = reader.term_stats({(t, field) for t in uniq})
    qwt: dict[str, float] = {}
    qvec_len = 0.0
    for t in qterms:  # duplicates accumulate, matching the reference loop
        df = stats.get((t, field), {}).get("df", 0)
        if df <= 0:
            continue
        w = math.log(n / df)
        qwt[t] = w
        qvec_len += w * w
    if not qwt:
        return local_frame(spark, [], "doc_id long, score double")

    dt = reader.doc_terms().where(F.col("field") == field)
    qw_df = F.broadcast(
        local_frame(spark, qwt.items(), "term string, qw double")
    )
    cand = dt.join(qw_df, "term").select(
        "doc_id",
        ((F.lit(1.0) + F.log(F.col("tf").cast("double"))) * F.col("qw")).alias(
            "contrib"
        ),
    )
    dots = cand.groupBy("doc_id").agg(F.sum("contrib").alias("dot"))
    # doc norms over ALL terms, but only for candidate docs (semi-join)
    norms = (
        dt.join(dots.select("doc_id"), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.pow(F.lit(1.0) + F.log(F.col("tf").cast("double")), F.lit(2.0))
            ).alias("dlen2")
        )
    )
    return dots.join(norms, "doc_id").select(
        "doc_id",
        (F.col("dot") / F.sqrt(F.col("dlen2") * F.lit(qvec_len))).alias("score"),
    )


def vsm_scores_weighted(
    reader: IndexReader,
    qweights: dict[str, float],
    field: str = "body",
) -> DataFrame:
    """lnc cosine against an ARBITRARY weighted query vector — the
    generalization :func:`vsm_scores` is a special case of
    (w_t = ln(N/df) per occurrence). Needed by Rocchio, whose expanded
    query has data-derived real-valued weights.

    score(d) = Σ_t (1+ln tf_{t,d})·w_t / sqrt(dlen2_d · Σ_t w_t²),
    same plan shape as vsm_scores: broadcast weight map → forward-index
    join → candidate-only norm aggregation."""
    spark = reader.spark
    qwt = {t: float(w) for t, w in qweights.items() if w != 0.0}
    if not qwt:
        return local_frame(spark, [], "doc_id long, score double")
    qvec_len = sum(w * w for w in qwt.values())
    dt = reader.doc_terms().where(F.col("field") == field)
    qw_df = F.broadcast(
        local_frame(spark, qwt.items(), "term string, qw double")
    )
    cand = dt.join(qw_df, "term").select(
        "doc_id",
        ((F.lit(1.0) + F.log(F.col("tf").cast("double"))) * F.col("qw")).alias(
            "contrib"
        ),
    )
    dots = cand.groupBy("doc_id").agg(F.sum("contrib").alias("dot"))
    norms = (
        dt.join(dots.select("doc_id"), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.pow(F.lit(1.0) + F.log(F.col("tf").cast("double")), F.lit(2.0))
            ).alias("dlen2")
        )
    )
    return dots.join(norms, "doc_id").select(
        "doc_id",
        (F.col("dot") / F.sqrt(F.col("dlen2") * F.lit(qvec_len))).alias("score"),
    )


def rocchio_expand(
    reader: IndexReader,
    qterms: list[str],
    fb_doc_ids: list[int],
    fb_terms: int = 10,
    alpha: float = 1.0,
    beta: float = 0.75,
    field: str = "body",
) -> list[tuple[str, float]]:
    """Rocchio relevance feedback (Rocchio 1971; the classic VSM
    companion to the engine's Indri-style PRF in prf.py — public
    knowledge): q' = α·q + (β/|Dr|)·Σ_{d∈Dr} d̂, with q the ltc query
    vector (per-occurrence ln(N/df), exactly vsm_scores' weights) and
    d̂ each feedback doc's COSINE-NORMALIZED lnc vector
    ((1+ln tf)/sqrt(dlen2)) — so long docs don't dominate the centroid.
    Negative feedback (γ) is omitted like every production Rocchio.

    Returns the top ``fb_terms`` (term, weight) pairs by weight desc,
    term asc — feed to :func:`vsm_scores_weighted`.

    Scale shape: the centroid aggregates the forward-index rows of the
    |Dr| feedback docs only (semi-join on a broadcast id list; rows
    bounded by |Dr|·doclen), collected driver-side like PRF's term
    scores."""
    spark = reader.spark
    if not fb_doc_ids:
        raise ValueError("rocchio_expand needs at least one feedback doc")
    # dedup: a repeated id must not double the doc's centroid mass (the
    # id join would duplicate its forward rows AND inflate its norm)
    fb_doc_ids = sorted({int(d) for d in fb_doc_ids})
    n = reader.num_docs
    stats = reader.term_stats({(t, field) for t in set(qterms)})
    qvec: dict[str, float] = {}
    for t in qterms:  # per-occurrence accumulation, like vsm_scores
        df = stats.get((t, field), {}).get("df", 0)
        if df > 0:
            qvec[t] = qvec.get(t, 0.0) + math.log(n / df)

    ids_df = F.broadcast(
        local_frame(spark, [(int(d),) for d in fb_doc_ids], "doc_id long")
    )
    dt = reader.doc_terms().where(F.col("field") == field)
    fb = dt.join(ids_df, "doc_id")
    lnc = F.lit(1.0) + F.log(F.col("tf").cast("double"))
    norms = fb.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.pow(lnc, F.lit(2.0)))).alias("norm")
    )
    centroid_rows = (
        fb.join(norms, "doc_id")
        .select("term", (lnc / F.col("norm")).alias("w"))
        .groupBy("term")
        .agg(F.sum("w").alias("w"))
        .collect()
    )
    n_fb = len(fb_doc_ids)
    merged: dict[str, float] = {
        t: alpha * w for t, w in qvec.items()
    }
    for r in centroid_rows:
        merged[r["term"]] = merged.get(r["term"], 0.0) + beta * (
            r["w"] / n_fb
        )
    ranked = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[: int(fb_terms)]
