"""Federated multi-index search (index/multi.MultiReader) — the Lucene
MultiReader analog. Core correctness statement:

    search over MultiReader(A, B)  ≡  search over index(A ∪ B)

for every model and operator family, because collection statistics are
merged globally (summed N / sum_doclen / df / ctf) before any score is
computed — the distributed-IR "isolated collection statistics" problem
solved the Lucene way. ext_id is the stable cross-index key (doc ids
shift by docBase offsets, like Lucene's MultiReader)."""

import pytest

from search_engine_framework_spark.engine import SearchEngine
from search_engine_framework_spark.functions.analyzer import AnalyzerConfig
from search_engine_framework_spark.index.build import build_index
from search_engine_framework_spark.index.multi import MultiReader
from search_engine_framework_spark.plans.models import (
    BM25,
    Indri,
    RankedBoolean,
    UnrankedBoolean,
)
from search_engine_framework_spark.sources.transcripts import synth_transcripts

CFG = AnalyzerConfig.reference()


@pytest.fixture(scope="module")
def split_indexes(spark, tmp_path_factory):
    """(multi_engine, combined_engine): the same 40-conv corpus built as
    one combined index and as two disjoint halves."""
    root = tmp_path_factory.mktemp("multi")
    corpus = synth_transcripts(spark, n_convs=40, seed=13).cache()
    half_a = corpus.where("conv_id < 'conv-00000020'")
    half_b = corpus.where("conv_id >= 'conv-00000020'")
    assert 0 < half_a.count() < corpus.count()
    p_all = build_index(
        spark, corpus, str(root / "all"), fields=("body", "role"),
        n_buckets=4, n_salts=2,
    )
    p_a = build_index(
        spark, half_a, str(root / "a"), fields=("body", "role"),
        n_buckets=4, n_salts=2,
    )
    p_b = build_index(
        spark, half_b, str(root / "b"), fields=("body", "role"),
        n_buckets=4, n_salts=2,
    )
    multi = SearchEngine(spark, MultiReader(spark, [p_a, p_b]), CFG)
    combined = SearchEngine(spark, p_all, CFG)
    return multi, combined


QUERIES = [
    ("search engine index", BM25()),
    ("search engine index", Indri()),
    ("#AND(search engine)", RankedBoolean()),
    ("#OR(#AND(data model) spark)", RankedBoolean()),
    ("#AND(search engine)", UnrankedBoolean()),
    ("#NEAR/3(search engine)", BM25()),
    ("#WINDOW/8(data model)", Indri()),
    ("#SYN(index indexes) engine", BM25()),
    ("#WAND(0.7 search 0.3 #AND(engine index))", Indri()),
    ("#NOT(search)", RankedBoolean()),
    ("#MSM/2(search engine index)", BM25()),
    ("user.role search", RankedBoolean()),
]


def _by_ext(engine, query, model, k=100):
    return [
        (r["ext_id"], r["rank"], r["score"])
        for r in engine.search(query, model, k=k).collect()
    ]


@pytest.mark.parametrize(
    "query,model", QUERIES,
    ids=[f"{q}|{type(m).__name__}" for q, m in QUERIES],
)
def test_multi_equals_combined(query, model, split_indexes):
    multi, combined = split_indexes
    got = _by_ext(multi, query, model)
    want = _by_ext(combined, query, model)
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert [g[2] for g in got] == pytest.approx(
        [w[2] for w in want], rel=1e-12
    )
    assert got  # non-trivial comparison


def test_multi_global_stats_merge(split_indexes):
    multi, combined = split_indexes
    mr, cr = multi.reader, combined.reader
    assert mr.num_docs == cr.num_docs
    assert mr.sum_doclen("body") == cr.sum_doclen("body")
    assert mr.doc_count("body") == cr.doc_count("body")
    pairs = {("search", "body"), ("engine", "body")}
    ms, cs = mr.term_stats(pairs), cr.term_stats(pairs)
    for p in pairs:
        assert ms[p]["df"] == cs[p]["df"]
        assert ms[p]["ctf"] == cs[p]["ctf"]


def test_multi_docid_offsets_disjoint(split_indexes):
    multi, _ = split_indexes
    dm = multi.reader.docmap().select("doc_id", "ext_id").collect()
    ids = [r["doc_id"] for r in dm]
    assert len(ids) == len(set(ids))  # docBase offsets never collide
    exts = [r["ext_id"] for r in dm]
    assert len(exts) == len(set(exts))


def test_multi_analyzer_mismatch_raises(spark, tmp_path_factory, split_indexes):
    root = tmp_path_factory.mktemp("mismatch")
    corpus = synth_transcripts(spark, n_convs=4, seed=3)
    other = build_index(
        spark, corpus, str(root / "x"), fields=("body",),
        cfg=AnalyzerConfig.sql_safe(), n_buckets=2, n_salts=2,
    )
    multi, _ = split_indexes
    first = multi.reader.readers[0]
    with pytest.raises(ValueError, match="analyzer"):
        MultiReader(spark, [first, str(other.root)])


def test_multi_empty_list_raises(spark):
    with pytest.raises(ValueError):
        MultiReader(spark, [])
