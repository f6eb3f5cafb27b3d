"""Rank-identity battery: Spark engine ≡ pure-Python oracle.

For every (query, model) pair: top-k docids identical, ranks identical,
scores equal to 1e-9 relative tolerance (FIXTURES.md §6). The query set
exercises every operator family and the micro-semantics of FIXTURES.md §8.
"""

import pytest

from search_engine_framework_spark.engine import SearchEngine
from search_engine_framework_spark.functions.analyzer import AnalyzerConfig
from search_engine_framework_spark.oracle.pyoracle import Oracle, PyIndex
from search_engine_framework_spark.plans.models import (
    BM25,
    Indri,
    LuceneBM25,
    RankedBoolean,
    UnrankedBoolean,
)
from search_engine_framework_spark.plans.parser import parse_query

CFG = AnalyzerConfig.reference()

BM = BM25(k_1=1.2, b=0.75, k_3=0.0)
LB = LuceneBM25()
IND = Indri(mu=2500.0, lam=0.4)
RB = RankedBoolean()
UB = UnrankedBoolean()

BATTERY = [
    ("search engine index", BM),
    # caret boosts (round 3): contribution * boost, child-order fold
    ("search engine^3 index", BM),
    ("search^0.5 engine index^2.5", BM),
    ("#SUM(search engine^2)", BM),
    # modern-Lucene BM25 similarity (positive ln(1+x) idf)
    ("search engine index", LB),
    ("#SUM(cheap internet heart)", LB),
    ("search engine^2 index", LB),
    ("#MSM/2(search engine^2 index)", BM),
    ("search engine index", IND),
    ("search engine index", RB),
    ("search engine index", UB),
    ("#AND(search engine)", RB),
    ("#AND(search engine)", UB),
    ("#AND(search engine)", IND),
    ("#OR(#AND(data model) spark)", RB),
    ("#OR(#AND(data model) spark)", UB),
    ("#SUM(cheap internet heart)", BM),
    ("#NEAR/3(heart rate)", BM),
    ("#NEAR/1(search engine)", RB),
    ("#WINDOW/8(solar panels)", IND),
    ("#WINDOW/4(data model)", BM),
    ("#SYN(cat cats) search", BM),
    ("#SYN(index indexes) engine", IND),
    ("#WAND(0.7 search 0.3 #AND(engine index))", IND),
    ("#WSUM(0.5 search 0.5 engine)", IND),
    # every child nested (no leaf carries doclen into the union) — the
    # doclen-propagation path through stacked Indri folds
    ("#WAND(0.5 #AND(search engine) 0.5 #WAND(0.3 index 0.7 data))", IND),
    ("#WSUM(0.4 #AND(search engine) 0.6 #WSUM(0.5 index 0.5 query))", IND),
    ("#WAND(0.4 the 0.6 engine)", IND),  # stopword drops weight
    ("#NOT(search)", RB),
    ("#NOT(#AND(search engine))", UB),
    ("user.role search", RB),
    ("#WSUM(0.5 search 0.5 user.role)", IND),  # cross-field Indri defaults
    ("the of and", BM),  # all stopwords → empty
    ("#NEAR/2(search search)", BM),  # duplicate-term proximity quirk
    ("query time", BM),
    ("#AND(#SYN(data document) model)", IND),
    # IL-in-IL nesting: NEAR/WINDOW/SYN args are themselves inverted-list
    # ops (legal in the reference — QryopIl children of QryopIl; e.g.
    # QryopIlNear takes any QryopIl args). The inner op's merged
    # position list feeds the outer op's cursor sweep.
    ("#SYN(#NEAR/1(search engine) index)", BM),
    ("#NEAR/4(#SYN(search find) engine)", RB),
    ("#WINDOW/6(#SYN(data model) query)", IND),
    # minimum-should-match (Lucene minimumNumberShouldMatch analog)
    ("#MSM/2(search engine index)", BM),
    ("#MSM/2(search engine index)", RB),
    ("#MSM/2(search engine index)", UB),
    ("#MSM/1(search engine)", BM),
    ("#MSM/2(#AND(search engine) index data)", RB),
    ("#MSM/2(#NEAR/1(search engine) index query)", BM),
    # span-first (Lucene SpanFirstQuery analog): position-gated IL op,
    # alone, under every model family, and composed both ways
    ("#FIRST/3(search)", BM),
    ("#FIRST/3(search)", RB),
    ("#FIRST/5(engine)", IND),
    ("#FIRST/8(#NEAR/2(search engine))", RB),
    ("#NEAR/4(#FIRST/10(search) engine)", BM),
    ("#SYN(#FIRST/2(search) index)", RB),
    # Bag-of-words queries over the reference query set's vocabulary
    # (sources/transcripts.py _HEAD_WORDS), under each model's default
    # wrap. NOT the reference query set itself, which this repository
    # does not hold (tests/test_reference_queryset.py).
    ("obama family tree", BM),
    ("obama family tree", IND),
    ("obama family tree", RB),
    ("cheap internet", BM),
    ("cheap internet", IND),
    ("cheap internet", RB),
    ("wedding budget calculator", BM),
    ("wedding budget calculator", IND),
    ("wedding budget calculator", RB),
    ("used car parts", BM),
    ("used car parts", IND),
    ("used car parts", RB),
    ("gmat prep classes", BM),
    ("gmat prep classes", IND),
    ("gmat prep classes", RB),
]


@pytest.fixture(scope="module")
def engine(spark, tiny_index):
    paths, _, _ = tiny_index
    return SearchEngine(spark, paths, CFG)


@pytest.fixture(scope="module")
def pyoracle_index(tiny_index):
    _, rows, _ = tiny_index
    return PyIndex.build(rows, fields=("body", "role"), cfg=CFG)


@pytest.mark.parametrize("query,model", BATTERY, ids=[f"{q}|{type(m).__name__}" for q, m in BATTERY])
def test_rank_identity(query, model, engine, pyoracle_index):
    node = parse_query(query, model, CFG)
    expected = Oracle(pyoracle_index, model).run(node, k=100)
    got = [
        (r["doc_id"], r["ext_id"], r["rank"], r["score"])
        for r in engine.search(query, model, k=100).collect()
    ]
    assert [g[:3] for g in got] == [e[:3] for e in expected], (
        f"doc/rank mismatch for {query!r}"
    )
    assert [g[3] for g in got] == pytest.approx(
        [e[3] for e in expected], rel=1e-9
    )
