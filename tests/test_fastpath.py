"""Driver-side BM25 top-k fast path: rank AND score identity with the
distributed plan, gate fallbacks, and tombstone masking."""

import os

import pytest

from search_engine_framework_spark.engine import SearchEngine
from search_engine_framework_spark.plans.models import BM25, Indri

QUERIES = [
    "search engine index",
    "#SUM(cheap internet heart)",
    "#SUM(search search engine)",  # duplicate children fold twice
    "query time",
    "#SUM(#SUM(data model))",  # transparent wrapper
    "user.role search",  # multi-field flat sum
    "zzznotaterm search",  # one unseen term
]


@pytest.fixture(scope="module")
def engine(spark, tiny_index):
    paths, _, _ = tiny_index
    return SearchEngine(spark, paths)


def _rows(df):
    return [
        (r["doc_id"], r["ext_id"], r["rank"], r["score"])
        for r in df.collect()
    ]


@pytest.mark.parametrize("q", QUERIES)
def test_fastpath_identical_to_distributed(engine, q, monkeypatch):
    fast = _rows(engine.search(q, BM25(), k=25))
    monkeypatch.setenv("SEFS_DRIVER_TOPK", "0")
    slow = _rows(engine.search(q, BM25(), k=25))
    assert fast == slow  # doc ids, ext ids, ranks, AND score bits


def test_fastpath_actually_engages(engine, monkeypatch):
    """The fast path must return non-None on this index (otherwise the
    identity test above is vacuous)."""
    from search_engine_framework_spark import fastpath
    from search_engine_framework_spark.plans.compiler import QueryCompiler
    from search_engine_framework_spark.plans.parser import parse_query

    node = parse_query("search engine", BM25(), engine.analyzer)
    flat = QueryCompiler._flat_sum_pairs(node)
    got = fastpath.bm25_topk_driver(engine.reader, flat, BM25(), 10)
    assert got is not None and len(got) == 10


def test_fastpath_budget_gate_falls_back(engine):
    from search_engine_framework_spark import fastpath
    from search_engine_framework_spark.plans.compiler import QueryCompiler
    from search_engine_framework_spark.plans.parser import parse_query

    node = parse_query("search engine", BM25(), engine.analyzer)
    flat = QueryCompiler._flat_sum_pairs(node)
    assert (
        fastpath.bm25_topk_driver(
            engine.reader, flat, BM25(), 10, max_postings=1
        )
        is None
    )


def test_fastpath_ignores_other_models(engine, monkeypatch):
    """Indri must not take the BM25 fast path (search still works)."""
    calls = []
    from search_engine_framework_spark import fastpath

    orig = fastpath.bm25_topk_driver
    monkeypatch.setattr(
        fastpath, "bm25_topk_driver",
        lambda *a, **kw: calls.append(1) or orig(*a, **kw),
    )
    engine.search("search engine", Indri(), k=5).collect()
    assert not calls


def test_fastpath_respects_tombstones(spark, tmp_path):
    from search_engine_framework_spark.index.build import build_index
    from search_engine_framework_spark.index.deletes import delete_docs
    from search_engine_framework_spark.sources.transcripts import synth_transcripts

    out = str(tmp_path / "ix")
    tdf = synth_transcripts(spark, n_convs=12, seed=3)
    paths = build_index(spark, tdf, out, fields=("body",), n_buckets=4)
    eng = SearchEngine(spark, paths)
    before = _rows(eng.search("search engine", BM25(), k=5))
    assert before
    victim_conv = before[0][1].rsplit(":", 1)[0]
    delete_docs(spark, out, conv_ids=[victim_conv])
    after = _rows(eng.search("search engine", BM25(), k=5))
    assert all(not e.startswith(victim_conv + ":") for _, e, _, _ in after)
    os.environ["SEFS_DRIVER_TOPK"] = "0"
    try:
        dist = _rows(eng.search("search engine", BM25(), k=5))
    finally:
        os.environ.pop("SEFS_DRIVER_TOPK", None)
    assert after == dist


def test_fastpath_boosted_identity(engine, spark):
    """Caret-boosted flat #SUM queries take the fast path (round 3) and
    must be BIT-identical — ids, ranks, score bits — to the distributed
    plan, for both BM25 idf variants."""
    import os

    from search_engine_framework_spark.plans.models import LuceneBM25

    for q, m in [
        ("search engine^2.5 index", BM25()),
        ("search^0.5 engine index^2", LuceneBM25()),
    ]:
        fast = [tuple(r) for r in engine.search(q, m, k=20).collect()]
        os.environ["SEFS_DRIVER_TOPK"] = "0"
        try:
            slow = [tuple(r) for r in engine.search(q, m, k=20).collect()]
        finally:
            os.environ.pop("SEFS_DRIVER_TOPK", None)
        assert fast == slow, (q, type(m).__name__)


def test_fastpath_engages_on_boosted(engine):
    from search_engine_framework_spark import fastpath
    from search_engine_framework_spark.plans.compiler import QueryCompiler
    from search_engine_framework_spark.plans.parser import parse_query

    node = parse_query("search engine^2", BM25(), engine.analyzer)
    flat = QueryCompiler._flat_sum_weighted(node)
    assert flat is not None and flat[1][2] == 2.0
    got = fastpath.bm25_topk_driver(engine.reader, flat, BM25(), 10)
    assert got is not None and len(got) == 10


def _jobs_run_by(sc, group, action):
    """Spark job ids that ``action()`` ran, via a job group."""
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_fastpath_result_tail_runs_no_spark_job(engine, spark):
    """A fast-path answer and a request-cache hit hand back rows the
    driver already holds: collecting them must not start a Spark job
    (the result is a LocalRelation, not a parallelized Python list)."""
    sc = spark.sparkContext
    q = "search engine index"
    engine.search(q, BM25(), k=10).collect()  # warm the reader's caches
    engine.search_cached(q, BM25(), k=10).collect()  # fill the cache
    assert _jobs_run_by(
        sc, "fastpath-tail",
        lambda: engine.search(q, BM25(), k=10).collect(),
    ) == []
    assert _jobs_run_by(
        sc, "cache-hit-tail",
        lambda: engine.search_cached(q, BM25(), k=10).collect(),
    ) == []
