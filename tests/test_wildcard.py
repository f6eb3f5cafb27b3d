"""Multi-term query features: prefix/leading wildcards, fuzzy terms,
quoted phrases, metadata filters, keyset pagination, synonyms, and the
explain_query plan contract — each verified against the equivalent
hand-written #SYN / driver-side recomputation, plus the error paths."""

import pytest

from search_engine_framework_spark.engine import SearchEngine
from search_engine_framework_spark.plans import ast
from search_engine_framework_spark.plans.models import BM25, Indri, RankedBoolean
from search_engine_framework_spark.plans.parser import parse_query
from search_engine_framework_spark.plans.wildcard import (
    expand_wildcards,
    has_wildcards,
)


@pytest.fixture(scope="module")
def engine(spark, tiny_index):
    paths, _, _ = tiny_index
    return SearchEngine(spark, paths)


def test_parser_emits_wildcard_nodes():
    def leaves(n):
        if isinstance(n, (ast.Term, ast.Wildcard)):
            return [n]
        kids = (n.child,) if isinstance(n, ast.Not) else n.children
        return [x for c in kids for x in leaves(c)]

    node = parse_query("#SUM(spar* engine)", BM25())
    assert has_wildcards(node)
    assert ast.Wildcard("spar", "body") in leaves(node)
    # field-qualified, lowercased, not analyzed (no stemming of prefixes)
    node2 = parse_query("ASSIST*.role", BM25())
    assert ast.Wildcard("assist", "role") in leaves(node2)


@pytest.mark.parametrize("bad", ["se*rch", "*", "**", "a*b*", "*a*"])
def test_parser_rejects_non_prefix_patterns(bad):
    with pytest.raises(ValueError):
        parse_query(bad, BM25())


def test_query_terms_refuses_unexpanded_wildcards():
    node = parse_query("spar*", BM25())
    with pytest.raises(ValueError, match="unexpanded wildcard"):
        ast.query_terms(node)


def _rows(df):
    return [(r["ext_id"], round(r["score"], 9)) for r in df.collect()]


@pytest.mark.parametrize("model", [BM25(), RankedBoolean(), Indri()])
def test_wildcard_equals_explicit_syn(engine, model):
    terms = engine.reader.expand_prefix("se", "body")
    assert len(terms) >= 1
    syn = "#SYN(" + " ".join(terms) + ")" if len(terms) > 1 else terms[0]
    got = _rows(engine.search("se*", model, k=10))
    want = _rows(engine.search(syn, model, k=10))
    assert got == want and got


def test_wildcard_inside_positional_op(engine):
    terms = engine.reader.expand_prefix("se", "body")
    syn = "#SYN(" + " ".join(terms) + ")"
    got = _rows(engine.search("#NEAR/3(se* engine)", RankedBoolean(), k=10))
    want = _rows(engine.search(f"#NEAR/3({syn} engine)", RankedBoolean(), k=10))
    assert got == want


def test_wildcard_zero_matches_is_empty_not_error(engine):
    assert engine.search("zzzzqqq*", BM25(), k=10).count() == 0


def test_expand_prefix_cap_raises(engine):
    with pytest.raises(ValueError, match="more than"):
        engine.reader.expand_prefix("s", "body", limit=1)


def test_expansion_caches_repeated_prefixes(engine):
    calls = []
    real = engine.reader.expand_prefix

    class Spy:
        def expand_prefix(self, prefix, field, limit=128):
            calls.append((prefix, field))
            return real(prefix, field, limit)

    node = parse_query("#SUM(se* se* engine)", BM25())
    expanded = expand_wildcards(node, Spy())
    assert calls == [("se", "body")]  # one dictionary seek, cached
    assert not has_wildcards(expanded)


# ---------------------------------------------------------------------------
# quoted phrases ("a b c" → #NEAR/1)
# ---------------------------------------------------------------------------

def test_phrase_rewrites_to_near1():
    node = parse_query('#SUM("search engine index" data)', BM25())
    want = parse_query("#SUM(#NEAR/1(search engine index) data)", BM25())
    assert node == want


def test_phrase_field_qualified_and_single_word():
    node = parse_query('"search engine".role', RankedBoolean())
    want = parse_query("#NEAR/1(search.role engine.role)", RankedBoolean())
    assert node == want
    assert parse_query('"engine"', BM25()) == parse_query("engine", BM25())


def test_phrase_errors():
    with pytest.raises(ValueError, match="unbalanced quote"):
        parse_query('"search engine', BM25())
    with pytest.raises(ValueError, match="unknown phrase field"):
        parse_query('"a b".nosuchfield', BM25())
    # empty phrase is elided like an empty operator
    assert parse_query('""', BM25()) is None


def test_phrase_search_equals_near(engine):
    got = _rows(engine.search('"search engine"', BM25(), k=10))
    want = _rows(engine.search("#NEAR/1(search engine)", BM25(), k=10))
    assert got == want and got


# ---------------------------------------------------------------------------
# metadata-filtered retrieval (doc_filter)
# ---------------------------------------------------------------------------

def test_doc_filter_is_membership_only(engine):
    """Filtering must not change any surviving score (corpus-wide stats),
    and must equal a post-hoc filter of the unfiltered scored list."""
    full = {
        r["ext_id"]: r["score"]
        for r in engine.search_df("search engine", BM25()).collect()
    }
    filt = engine.search_df(
        "search engine", BM25(), doc_filter="role = 'user'"
    ).collect()
    assert filt and len(filt) < len(full)
    for r in filt:
        assert r["score"] == full[r["ext_id"]]
    # ranked variant: same membership, reference ordering, no fast path
    ranked = engine.search(
        "search engine", BM25(), k=1000, doc_filter="role = 'user'"
    ).collect()
    assert {r["ext_id"] for r in ranked} == {r["ext_id"] for r in filt}
    scores = [r["score"] for r in ranked]
    assert scores == sorted(scores, reverse=True)


def test_doc_filter_unknown_column_raises(engine):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        engine.search_df("search", BM25(), doc_filter="nosuchcol = 1").collect()


def test_doc_filter_topk_equals_post_hoc_filter_of_full_list(engine):
    """The filtered top-k keeps docs ranked below the corpus-wide cut:
    it equals the post-hoc filter of the full scored list."""
    full = {
        r["ext_id"]: r["score"]
        for r in engine.search_df("search engine", BM25()).collect()
    }
    want = sorted(
        ((s, e) for e, s in full.items() if e.split(":")[0] <= "conv-00000020"),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    got = engine.search(
        "search engine", BM25(), k=5,
        doc_filter="conv_id <= 'conv-00000020'",
    ).collect()
    assert [(r["score"], r["ext_id"]) for r in got] == want


def test_phrase_slop():
    got = parse_query('"search engine"~3', RankedBoolean())
    want = parse_query("#NEAR/3(search engine)", RankedBoolean())
    assert got == want
    got2 = parse_query('"search engine"~2.role', RankedBoolean())
    want2 = parse_query("#NEAR/2(search.role engine.role)", RankedBoolean())
    assert got2 == want2
    # slop 0 clamps to 1 (NEAR/0 can never match distinct positions)
    assert parse_query('"a b"~0', BM25()) == parse_query('"a b"', BM25())


def test_explain_query_locks_plan_shape(engine):
    """explain_query is the plan-shape contract: the bucket partition
    set matches the driver-side hash twin, the segment scan prunes on
    it (PartitionFilters), and flat BM25 #SUM queries are fast-path
    eligible while positional queries are not."""
    from search_engine_framework_spark.functions.spark_hash import term_bucket

    info = engine.explain_query("search engine", BM25(), k=10)
    assert info["fastpath_eligible"] is True
    nb = engine.reader._n_buckets
    want = sorted({term_bucket(t, "body", nb) for t in ("search", "engine")})
    assert info["buckets"] == want
    assert "PartitionFilters" in info["physical_plan"]
    assert "bucket" in info["physical_plan"]
    assert info["pairs"]["search.body"]["df"] > 0

    pos = engine.explain_query("#NEAR/3(search engine)", RankedBoolean(), k=10)
    assert pos["fastpath_eligible"] is False
    # cost estimate = Σ df / ceil-blocks from the dictionary stats
    want_p = sum(info["pairs"][k]["df"] for k in info["pairs"])
    assert info["est_postings"] == want_p > 0
    assert 0 < info["est_blocks"] <= want_p
    empty = engine.explain_query("zz qq", BM25())  # all-unknown still parses
    assert empty["pairs"] == {"qq.body": {}, "zz.body": {}}
    assert empty["est_postings"] == 0 and empty["est_blocks"] == 0


# ---------------------------------------------------------------------------
# fuzzy terms (term~d → #SYN of dictionary terms within edit distance)
# ---------------------------------------------------------------------------

def _fuzzy_leaves(n):
    if isinstance(n, (ast.Term, ast.Fuzzy)):
        return [n]
    kids = (n.child,) if isinstance(n, ast.Not) else n.children
    return [x for c in kids for x in _fuzzy_leaves(c)]


def test_parser_emits_fuzzy_nodes():
    node = parse_query("#SUM(sprak~1 engine)", BM25())
    assert has_wildcards(node)
    assert ast.Fuzzy("sprak", "body", 1) in _fuzzy_leaves(node)
    # bare ~ defaults to edit distance 2 (Lucene default maxEdits);
    # field-qualified, lowercased, not analyzed
    node2 = parse_query("SPRAK~.role", BM25())
    assert ast.Fuzzy("sprak", "role", 2) in _fuzzy_leaves(node2)


@pytest.mark.parametrize("bad", ["x~3", "x~0", "a~b~1", "s?k~1", "~1"])
def test_parser_rejects_bad_fuzzy(bad):
    with pytest.raises(ValueError):
        parse_query(bad, BM25())


def test_query_terms_refuses_unexpanded_fuzzy():
    node = parse_query("sprak~1", BM25())
    with pytest.raises(ValueError, match="unexpanded fuzzy"):
        ast.query_terms(node)


def test_expand_fuzzy_matches_brute_force(engine):
    """SymSpell candidate generation + exact filter ≡ a brute-force
    levenshtein scan of the whole dictionary, at both distances."""
    import pyspark.sql.functions as F

    vocab = [
        r["term"]
        for r in engine.reader.term_stats_df()
        .where(F.col("field") == "body")
        .select("term")
        .distinct()
        .collect()
    ]

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    for tok, d in [("serch", 1), ("serch", 2), ("engin", 1), ("xrk", 2)]:
        want = sorted(t for t in vocab if lev(t, tok) <= d)
        got = engine.reader.expand_fuzzy(tok, "body", max_edit=d, limit=500)
        assert got == want, (tok, d)


@pytest.mark.parametrize("model", [BM25(), RankedBoolean(), Indri()])
def test_fuzzy_equals_explicit_syn(engine, model):
    terms = engine.reader.expand_fuzzy("serch", "body", max_edit=2)
    assert len(terms) >= 1
    syn = "#SYN(" + " ".join(terms) + ")" if len(terms) > 1 else terms[0]
    got = _rows(engine.search("serch~2", model, k=10))
    want = _rows(engine.search(syn, model, k=10))
    assert got == want and got


def test_fuzzy_inside_positional_op(engine):
    terms = engine.reader.expand_fuzzy("serch", "body", max_edit=2)
    syn = "#SYN(" + " ".join(terms) + ")"
    got = _rows(engine.search("#NEAR/3(serch~2 engine)", RankedBoolean(), k=10))
    want = _rows(engine.search(f"#NEAR/3({syn} engine)", RankedBoolean(), k=10))
    assert got == want


def test_fuzzy_zero_matches_is_empty_not_error(engine):
    assert engine.search("zzzzqqqzz~1", BM25(), k=10).count() == 0


def test_expand_fuzzy_cap_raises(engine):
    with pytest.raises(ValueError, match="more than"):
        engine.reader.expand_fuzzy("serch", "body", max_edit=2, limit=1)


# ---------------------------------------------------------------------------
# keyset pagination (search_after) and query-time synonyms
# ---------------------------------------------------------------------------

def test_search_after_pages_equal_full_ranking(engine):
    full = engine.search("search engine index", BM25(), k=30).collect()
    assert len(full) >= 20
    pages = full[:10]
    cursor = (pages[-1]["score"], pages[-1]["ext_id"])
    for _ in range(2):
        nxt = engine.search_after(
            "search engine index", BM25(), cursor, k=10
        ).collect()
        if not nxt:
            break
        pages += nxt
        cursor = (nxt[-1]["score"], nxt[-1]["ext_id"])
    want = [(r["ext_id"], round(r["score"], 9)) for r in full[: len(pages)]]
    got = [(r["ext_id"], round(r["score"], 9)) for r in pages]
    assert got == want
    # page-relative ranks restart at 1
    assert [r["rank"] for r in pages[10:20]] == list(range(1, 11))


def test_search_after_unranked_cursor_is_ext_id(engine):
    from search_engine_framework_spark.plans.models import UnrankedBoolean

    full = engine.search("#OR(search engine)", UnrankedBoolean(), k=1000).collect()
    assert len(full) > 5
    cur = (full[2]["score"], full[2]["ext_id"])
    nxt = engine.search_after("#OR(search engine)", UnrankedBoolean(), cur, k=3)
    assert [r["ext_id"] for r in nxt.collect()] == [
        r["ext_id"] for r in full[3:6]
    ]


def test_synonyms_equal_explicit_syn(engine):
    got = _rows(engine.search(
        "search", RankedBoolean(), k=20, synonyms={"search": ["engine"]}
    ))
    want = _rows(engine.search("#SYN(search engine)", RankedBoolean(), k=20))
    assert got == want and got


def test_synonyms_compose_with_positional(engine):
    got = _rows(engine.search(
        "#NEAR/3(search index)", RankedBoolean(), k=20,
        synonyms={"search": ["engine"]},
    ))
    want = _rows(engine.search(
        "#NEAR/3(#SYN(search engine) index)", RankedBoolean(), k=20
    ))
    assert got == want


def test_synonyms_analyzed_and_stopwords_dropped(engine):
    # map written in user vocabulary: key/synonym are analyzed (stemmed);
    # a stopword synonym vanishes; an unmatched key is a no-op.
    base = _rows(engine.search("search", BM25(), k=10))
    noop = _rows(engine.search(
        "search", BM25(), k=10, synonyms={"qqq": ["zzz"], "search": ["the"]}
    ))
    assert noop == base


# ---------------------------------------------------------------------------
# leading wildcards (*suffix → #SYN of dictionary terms ending with it)
# ---------------------------------------------------------------------------

def test_parser_emits_suffix_wildcard_nodes():
    node = parse_query("#SUM(*ine engine)", BM25())
    assert has_wildcards(node)

    def leaves(n):
        if isinstance(n, (ast.Term, ast.SuffixWildcard)):
            return [n]
        kids = (n.child,) if isinstance(n, ast.Not) else n.children
        return [x for c in kids for x in leaves(c)]

    assert ast.SuffixWildcard("ine", "body") in leaves(node)
    node2 = parse_query("*INE.role", BM25())
    assert ast.SuffixWildcard("ine", "role") in leaves(node2)
    with pytest.raises(ValueError, match="unexpanded wildcard"):
        ast.query_terms(node)


def test_expand_suffix_matches_brute_force(engine):
    import pyspark.sql.functions as F

    vocab = [
        r["term"]
        for r in engine.reader.term_stats_df()
        .where(F.col("field") == "body")
        .select("term").distinct().collect()
    ]
    for suf in ("ine", "e", "rch"):
        want = sorted(t for t in vocab if t.endswith(suf))
        got = engine.reader.expand_suffix(suf, "body", limit=5000)
        assert got == want, suf


@pytest.mark.parametrize("model", [BM25(), RankedBoolean()])
def test_suffix_wildcard_equals_explicit_syn(engine, model):
    terms = engine.reader.expand_suffix("ine", "body", limit=500)
    assert len(terms) >= 1
    syn = "#SYN(" + " ".join(terms) + ")" if len(terms) > 1 else terms[0]
    got = _rows(engine.search("*ine", model, k=10))
    want = _rows(engine.search(syn, model, k=10))
    assert got == want and got


def test_suffix_wildcard_zero_matches_and_cap(engine):
    assert engine.search("*zzqx", BM25(), k=10).count() == 0
    with pytest.raises(ValueError, match="more than"):
        engine.reader.expand_suffix("e", "body", limit=1)


# ---------------------------------------------------------------------------
# review regressions: boosted/synonym pagination, NULL boosts, phrase synonyms
# ---------------------------------------------------------------------------

def test_search_after_respects_boost_and_synonyms(engine):
    kw = dict(boost="1e0 / (1e0 + turn_idx)", synonyms={"search": ["index"]})
    full = engine.search("search engine", BM25(), k=30, **kw).collect()
    assert len(full) >= 12
    cur = (full[5]["score"], full[5]["ext_id"])
    nxt = engine.search_after("search engine", BM25(), cur, k=6, **kw).collect()
    assert [(r["ext_id"], round(r["score"], 9)) for r in nxt] == [
        (r["ext_id"], round(r["score"], 9)) for r in full[6:12]
    ]


def test_null_boost_value_means_unboosted(engine, spark):
    # ts is NULL for every synthetic turn? tiny_index transcripts carry ts;
    # build a guaranteed-NULL expression instead: nullif leaves turn_idx=0
    # rows NULL — they must keep their raw score, not crash or go NULL.
    raw = {r["ext_id"]: r["score"]
           for r in engine.search_df("search engine", BM25()).collect()}
    rows = engine.search(
        "search engine", BM25(), k=1000,
        boost="nullif(1e0 / (1e0 + turn_idx), 1e0)",
    ).collect()
    assert rows
    for r in rows:
        turn = int(r["ext_id"].rsplit(":", 1)[1])
        factor = 1.0 if turn == 0 else 1.0 / (1.0 + turn)
        assert r["score"] == pytest.approx(raw[r["ext_id"]] * factor, rel=1e-12)


def test_multiword_synonym_becomes_phrase(engine):
    got = _rows(engine.search(
        "search", RankedBoolean(), k=20,
        synonyms={"search": ["engine index"]},
    ))
    want = _rows(engine.search(
        "#SYN(search #NEAR/1(engine index))", RankedBoolean(), k=20
    ))
    assert got == want and got


def test_multiword_synonym_key_raises(engine):
    with pytest.raises(ValueError, match="multiple tokens"):
        engine.search("search", BM25(), synonyms={"search engine": ["x"]})


def test_rocchio_duplicate_fb_ids_dedup(engine):
    from search_engine_framework_spark.vsm import rocchio_expand

    a = rocchio_expand(engine.reader, ["search"], [0, 3], fb_terms=6)
    b = rocchio_expand(engine.reader, ["search"], [0, 3, 3, 0], fb_terms=6)
    assert a == b


# --------------------------------------------------------------- regex terms

def test_parser_emits_regex_nodes():
    node = parse_query("#SUM(/se[a-z]+/ engine)", BM25())
    assert has_wildcards(node)

    def leaves(n):
        if isinstance(n, (ast.Term, ast.Regex)):
            return [n]
        kids = (n.child,) if isinstance(n, ast.Not) else n.children
        return [x for c in kids for x in leaves(c)]

    assert ast.Regex("se[a-z]+", "body") in leaves(node)
    # field-qualified + lowercased, never analyzed
    node2 = parse_query("/ASSIST.*/.role", BM25())
    assert ast.Regex("assist.*", "role") in leaves(node2)


@pytest.mark.parametrize("bad", ["/[bad/", "/x/.nosuchfield", "//"])
def test_parser_rejects_bad_regex(bad):
    with pytest.raises(ValueError):
        parse_query(bad, BM25())


def test_query_terms_refuses_unexpanded_regex():
    node = parse_query("/se[a-z]+/", BM25())
    with pytest.raises(ValueError, match="unexpanded regex"):
        ast.query_terms(node)


def test_expand_regex_equals_bruteforce(engine):
    import re as _re

    vocab = sorted(
        r["term"]
        for r in engine.reader.term_stats_df()
        .where("field = 'body'")
        .select("term")
        .distinct()
        .collect()
    )
    for pat in ("se[a-z]+", "[a-z]*e", "x{5}"):
        want = [t for t in vocab if _re.fullmatch(pat, t)]
        got = engine.reader.expand_regex(pat, "body", limit=len(vocab))
        assert got == want, pat


@pytest.mark.parametrize("model", [BM25(), RankedBoolean(), Indri()])
def test_regex_equals_explicit_syn(engine, model):
    terms = engine.reader.expand_regex("se[a-z]+", "body")
    assert len(terms) >= 1
    syn = "#SYN(" + " ".join(terms) + ")" if len(terms) > 1 else terms[0]
    got = _rows(engine.search("/se[a-z]+/", model, k=10))
    want = _rows(engine.search(syn, model, k=10))
    assert got == want and got


def test_regex_inside_positional_op(engine):
    terms = engine.reader.expand_regex("se[a-z]+", "body")
    syn = "#SYN(" + " ".join(terms) + ")" if len(terms) > 1 else terms[0]
    got = _rows(engine.search("#NEAR/3(/se[a-z]+/ engine)", RankedBoolean(), k=10))
    want = _rows(engine.search(f"#NEAR/3({syn} engine)", RankedBoolean(), k=10))
    assert got == want


def test_regex_zero_matches_is_empty_not_error(engine):
    assert engine.search("/zz[0-9]+q/", BM25(), k=5).count() == 0


def test_regex_anchoring_is_whole_term(engine):
    # 'se' alone must NOT match 'search'-like terms: whole-term anchoring
    full = set(engine.reader.expand_regex("se[a-z]+", "body"))
    bare = set(engine.reader.expand_regex("se", "body"))
    assert bare.isdisjoint(full)


def test_regex_expansion_cap(engine):
    with pytest.raises(ValueError, match="more than"):
        engine.reader.expand_regex("[a-z0-9]+", "body", limit=1)


def test_explain_topk_fold_reproduces_scores(engine):
    """explain_topk: per-(doc, child) contributions in child order must
    fold to EXACTLY each hit's search() score, incl. boosted children
    and the LuceneBM25 idf; zero-tf rows report zero contribution."""
    from search_engine_framework_spark.plans.models import LuceneBM25

    for q, model in [
        ("search engine index", BM25()),
        ("search engine^2.5 index", BM25()),
        ("search engine", LuceneBM25()),
    ]:
        rows = engine.explain_topk(q, model, k=5).collect()
        want = {
            r["doc_id"]: r["score"]
            for r in engine.search(q, model, k=5).collect()
        }
        by: dict = {}
        for r in rows:
            by.setdefault(r["doc_id"], []).append(r)
        assert set(by) == set(want)
        for d, rs in by.items():
            rs.sort(key=lambda r: r["child"])
            total = 0.0
            for r in rs:
                total = total + r["contribution"]
                if r["tf"] == 0:
                    assert r["contribution"] == 0.0 and r["tf_weight"] == 0.0
            assert total == pytest.approx(want[d], rel=1e-12), (q, d)


def test_explain_topk_rejects_non_flat(engine):
    from search_engine_framework_spark.plans.models import Indri

    with pytest.raises(ValueError, match="flat BM25"):
        engine.explain_topk("#AND(search engine)", BM25())
    with pytest.raises(ValueError, match="BM25-family"):
        engine.explain_topk("search engine", Indri())
