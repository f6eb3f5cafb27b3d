"""Rank fusion — hybrid lexical + vector retrieval.

The reference is a purely lexical engine: one ScoreList per query
(QryEval.java:214), no second retrieval channel to combine. A
transcript deployment at 10^12 turns serves BOTH BM25 postings and
embedding ANN from the same corpus, and the standard way to combine
them is Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR
2009): RRF(d) = sum over rankings r of w_r / (k0 + rank_r(d)), with
k0 = 60 in the paper. Rank-based fusion needs no score calibration
between channels whose score scales are incomparable (BM25 sums vs
cosine), which is exactly the hybrid situation.

Scale posture: every input ranking is already a top-k cut (k rows per
query per channel — a few hundred rows total), so fusion is
arithmetic over k x R rows regardless of corpus size; the expensive
work stays inside the underlying engines (BM25 postings scan,
LSH/IVF/PQ ANN). The fold is a chain of full-outer joins with
contributions added in fixed ranking order — NOT a groupBy-sum — so
the floating-point result is IEEE-deterministic under any
partitioning (same requirement as the BM25 child-order fold,
plans/compiler.py).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def rrf_fuse(
    rankings: Sequence[tuple[str, DataFrame]],
    *,
    on: Sequence[str] = ("doc_id",),
    rank_col: str = "rank",
    k0: float = 60.0,
    weights: dict[str, float] | None = None,
    k: int | None = None,
) -> DataFrame:
    """Fuse named rankings into one RRF ranking.

    rankings — ordered (name, DataFrame) pairs; each frame carries the
        join key columns ``on`` plus a 1-based ``rank_col``. The ORDER
        of the sequence fixes the floating-point summation order, so
        the same inputs always produce bit-identical scores.
    on       — join key (add "qid" for batched multi-query fusion).
    k0       — the RRF damping constant (60.0 in the original paper).
    weights  — optional per-ranking weight w_r (default 1.0).
    k        — optional top-k cut of the fused ranking.

    Returns DataFrame(*on, rrf:double, rank:int) ordered by
    (rrf desc, *on asc) — the asc-id tie-break mirrors the engine's
    load-bearing result ordering (QryEval.java:353-474).
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    weights = weights or {}
    on = list(on)

    names = [name for name, _ in rankings]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate ranking names in rrf_fuse: {names}")
    contribs = []
    for name, df in rankings:
        w = float(weights.get(name, 1.0))
        contribs.append(
            df.select(
                *on,
                (
                    F.lit(w) / (F.lit(float(k0)) + F.col(rank_col).cast("double"))
                ).alias(f"__rrf_{name}"),
            )
        )
    fused = contribs[0]
    for c in contribs[1:]:
        fused = fused.join(c, on, "full_outer")
    # Left-to-right fold in declaration order: 0.0 + c1 + c2 + ...
    expr = F.lit(0.0)
    for name, _ in rankings:
        expr = expr + F.coalesce(F.col(f"__rrf_{name}"), F.lit(0.0))
    fused = fused.select(*on, expr.alias("rrf"))
    # The fused set is at most sum(k_r) rows — a driver-safe window.
    order = [F.desc("rrf")] + [F.asc(c) for c in on]
    fused = fused.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    )
    if k is not None:
        fused = fused.where(F.col("rank") <= int(k))
    return fused.orderBy("rank")


def combsum_fuse(
    rankings: Sequence[tuple[str, DataFrame]],
    *,
    on: Sequence[str] = ("doc_id",),
    score_col: str = "score",
    per: Sequence[str] = (),
    norm: str = "minmax",
    mnz: bool = False,
    weights: dict[str, float] | None = None,
    k: int | None = None,
) -> DataFrame:
    """Score-based fusion — CombSUM / CombMNZ (Fox & Shaw, TREC-2 1994),
    the classic companion to rank-based RRF when channel scores ARE
    worth calibrating:

        CombSUM(d) = sum_r w_r * norm_r(score_r(d))
        CombMNZ(d) = CombSUM(d) * |{r : d in ranking r}|

    rankings — ordered (name, DataFrame) pairs; each frame carries the
        ``on`` key columns plus ``score_col`` (higher = better), already
        top-k cut by its engine. Sequence order fixes the float fold.
    per      — query-partition columns (subset of ``on``) for the
        normalization window; empty = one query, normalize over the
        whole frame.
    norm     — "minmax": (s - min)/(max - min) within the ranking
        (per query), 0.0 when constant — the LeToR A9 convention
        (letor.py); "none": trust the raw scores.
    mnz      — multiply by the number of rankings containing the doc
        (CombMNZ); False = CombSUM.

    Returns DataFrame(*on, n_matched:int, fused:double, rank:int)
    ordered by (fused desc, *on asc) — the engine's tie-break. Scale
    posture mirrors rrf_fuse: inputs are top-k cuts, fusion is
    arithmetic over sum(k_r) rows; min/max windows run on those same
    tiny frames, never the corpus.
    """
    if not rankings:
        raise ValueError("combsum_fuse needs at least one ranking")
    if norm not in ("minmax", "none"):
        raise ValueError(f"combsum_fuse: unknown norm {norm!r}")
    weights = weights or {}
    on = list(on)
    per = list(per)
    if any(c not in on for c in per):
        raise ValueError(f"per columns {per} must be a subset of on {on}")
    names = [name for name, _ in rankings]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate ranking names in combsum_fuse: {names}")

    nw = Window.partitionBy(*per) if per else Window.partitionBy(F.lit(1))
    contribs = []
    for name, df in rankings:
        w = float(weights.get(name, 1.0))
        s = F.col(score_col).cast("double")
        if norm == "minmax":
            lo, hi = F.min(s).over(nw), F.max(s).over(nw)
            s = F.when(hi == lo, F.lit(0.0)).otherwise((s - lo) / (hi - lo))
        contribs.append(df.select(*on, (F.lit(w) * s).alias(f"__cs_{name}")))
    fused = contribs[0]
    for c in contribs[1:]:
        fused = fused.join(c, on, "full_outer")
    total = F.lit(0.0)
    n_matched = F.lit(0)
    for name in names:
        c = F.col(f"__cs_{name}")
        total = total + F.coalesce(c, F.lit(0.0))
        n_matched = n_matched + c.isNotNull().cast("int")
    if mnz:
        total = total * n_matched.cast("double")
    fused = fused.select(
        *on, n_matched.alias("n_matched"), total.alias("fused")
    )
    order = [F.desc("fused")] + [F.asc(c) for c in on if c not in per]
    rw = (
        Window.partitionBy(*per).orderBy(*order)
        if per
        else Window.orderBy(*order)
    )
    fused = fused.withColumn("rank", F.row_number().over(rw))
    if k is not None:
        fused = fused.where(F.col("rank") <= int(k))
    return fused.orderBy(*per, "rank")


def ranked(
    df: DataFrame,
    order: Sequence,
    *,
    k: int,
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Attach a 1-based dense ``rank`` by ``order`` and cut to top-k.

    Uses row_number over an (optionally per-qid) window: correct for
    fusion (RRF needs unique ranks) and cheap because callers pass an
    already-cut or naturally small frame; for corpus-sized inputs cut
    with orderBy().limit() (TakeOrderedAndProject) FIRST, then rank
    the k survivors here.
    """
    w = Window.orderBy(*order)
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(*order)
    out = df.withColumn("rank", F.row_number().over(w))
    return out.where(F.col("rank") <= int(k))
