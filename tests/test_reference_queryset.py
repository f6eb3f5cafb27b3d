"""Rank-identity on THE reference query set (north_rule requirement).

Runs every query text from the reference's bundled query set
(/root/reference/Sample.qry:1-25, lines `qid:text`) through the Spark
engine and the pure-Python oracle over the same synthetic transcript
corpus, under the models the reference would apply (BM25 with its default
#SUM wrap, Indri with #AND, RankedBoolean with #OR — QryEval.java:553-563),
with the reference's default parameters (Sample.param:4-9).

Top-k docids AND ranks must be identical; scores equal to 1e-9 relative
tolerance. The synthetic corpus vocabulary is seeded from the reference
query vocabulary (sources/transcripts.py), so most queries have hits; the
battery also covers the empty-result path for out-of-vocabulary queries.

The query file is not part of this repository. Without it the battery
cannot run, and ``test_reference_query_set_present`` fails naming the
missing path: an absent gate is a failure, never a skip. The
reference-vocabulary rows of tests/test_engine_vs_oracle.py cover the same
operator families but are NOT the reference query set.
"""

import os

import pytest

from search_engine_framework_spark.engine import SearchEngine
from search_engine_framework_spark.functions.analyzer import AnalyzerConfig
from search_engine_framework_spark.oracle.pyoracle import Oracle, PyIndex
from search_engine_framework_spark.plans.models import BM25, Indri, RankedBoolean
from search_engine_framework_spark.plans.parser import parse_query

CFG = AnalyzerConfig.reference()
QRY_PATH = "/root/reference/Sample.qry"

MODELS = [
    BM25(k_1=1.2, b=0.75, k_3=0.0),
    Indri(mu=2500.0, lam=0.4),
    RankedBoolean(),
]


def _load_reference_queries() -> list[tuple[str, str]]:
    if not os.path.exists(QRY_PATH):
        return []
    out = []
    with open(QRY_PATH) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            qid, text = line.split(":", 1)
            out.append((qid.strip(), text.strip()))
    return out


REF_QUERIES = _load_reference_queries()


def test_reference_query_set_present():
    assert os.path.exists(QRY_PATH), (
        f"reference query set {QRY_PATH} is missing: rank identity on the "
        "reference query set cannot be verified"
    )


# Defined only when the file exists: an empty parametrization would be
# reported as a skip, and the presence test above already fails.
if REF_QUERIES:

    @pytest.fixture(scope="module")
    def engine(spark, tiny_index):
        paths, _, _ = tiny_index
        return SearchEngine(spark, paths, CFG)

    @pytest.fixture(scope="module")
    def pyoracle_index(tiny_index):
        _, rows, _ = tiny_index
        return PyIndex.build(rows, fields=("body", "role"), cfg=CFG)

    @pytest.mark.parametrize(
        "qid,text", REF_QUERIES, ids=[f"q{qid}" for qid, _ in REF_QUERIES]
    )
    @pytest.mark.parametrize("model", MODELS, ids=lambda m: type(m).__name__)
    def test_reference_query_rank_identity(
        qid, text, model, engine, pyoracle_index
    ):
        node = parse_query(text, model, CFG)
        expected = Oracle(pyoracle_index, model).run(node, k=100)
        got = [
            (r["doc_id"], r["ext_id"], r["rank"], r["score"])
            for r in engine.search(text, model, k=100).collect()
        ]
        assert [g[:3] for g in got] == [e[:3] for e in expected], (
            f"doc/rank mismatch for reference query {qid}:{text!r}"
        )
        assert [g[3] for g in got] == pytest.approx(
            [e[3] for e in expected], rel=1e-9
        )

    def test_reference_queryset_has_hits(engine):
        """Guard: the synthetic corpus must actually exercise the query set —
        a battery where every query returns 0 rows would prove nothing."""
        bm = BM25(k_1=1.2, b=0.75, k_3=0.0)
        nonempty = sum(
            1
            for _, text in REF_QUERIES
            if engine.search(text, bm, k=10).count() > 0
        )
        assert nonempty >= len(REF_QUERIES) // 2, (
            f"only {nonempty}/{len(REF_QUERIES)} reference queries hit the corpus"
        )
