"""THE BM25 term-scoring formula — one definition, three consumers.

The reference computes a term's BM25 contribution as
``idf · tf/(tf + k1·((1−b) + b·dl/avg_dl))`` with the RSJ idf NOT floored
at zero (/root/reference/src/QryopSlScore.java:127-163 — a term with
df > N/2 contributes negatively). Three code paths advertise bit-for-bit
score parity with each other (plans/compiler.py per-query scoring,
engine.search_bulk_bm25, letor_batch's f_bm25 features);
hand-duplicating the expression in each risked silent drift — any future
tweak (flooring idf, reordering operands) must change ALL of them or the
parity claims break. So the expression lives here, once, in both of its forms:

* ``bm25_idf`` — the driver-side Python float (idf is a per-(term, field)
  constant injected into plans as a literal);
* ``bm25_tf_weight`` — the JVM Column expression, operand order fixed.

Float discipline: every consumer multiplies ``lit(idf) * tf_weight`` in
that order; the Column's operand order here is exactly the order all the
sites used, so extracting it changed no bits (locked by the contract's
hash-matched oracle entries and tests/test_engine_vs_oracle.py).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column


def bm25_idf(n_docs: int, df: int) -> float:
    """RSJ idf, not floored (QryopSlScore.java:139); 0.0 for unseen terms
    (df == 0 → the term matches nothing; the score never materializes)."""
    return math.log((n_docs - df + 0.5) / (df + 0.5)) if df > 0 else 0.0


def lucene_bm25_idf(n_docs: int, df: int) -> float:
    """Lucene 8+ BM25Similarity idf: ln(1 + (N-df+0.5)/(df+0.5)) —
    strictly positive; 0.0 for unseen terms (same convention as
    bm25_idf)."""
    return (
        math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)) if df > 0 else 0.0
    )


def model_idf(model, n_docs: int, df: int) -> float:
    """The idf the given BM25-family model uses — THE dispatch every
    scoring site must share (compiler leaf, driver fast path,
    explain_doc) so a model change can never drift one site:
    LuceneBM25 -> lucene_bm25_idf, classic BM25 -> bm25_idf."""
    from ..plans.models import LuceneBM25

    if isinstance(model, LuceneBM25):
        return lucene_bm25_idf(n_docs, df)
    return bm25_idf(n_docs, df)


def bm25_tf_weight(
    k_1: float,
    b: float,
    avg_dl: Column | float,
    tf: Column | None = None,
    doclen: Column | None = None,
) -> Column:
    """``tf/(tf + k1·((1−b) + b·dl/avg_dl))`` as a Column
    (QryopSlScore.java:127-137). ``avg_dl`` is a float for per-query plans
    (one field per leaf) or a Column for multi-field joined plans
    (letor_batch's broadcast query-term table)."""
    tf_c = (tf if tf is not None else F.col("tf")).cast("double")
    dl_c = (doclen if doclen is not None else F.col("doclen")).cast("double")
    avg_c = avg_dl if isinstance(avg_dl, Column) else F.lit(avg_dl)
    return tf_c / (
        tf_c + F.lit(k_1) * (F.lit(1.0 - b) + F.lit(b) * (dl_c / avg_c))
    )
