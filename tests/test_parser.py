"""Parser grammar parity (QryEval.java:540-735 quirks)."""

import pytest

from search_engine_framework_spark.plans import ast
from search_engine_framework_spark.plans.models import (
    BM25,
    Indri,
    RankedBoolean,
    UnrankedBoolean,
)
from search_engine_framework_spark.plans.parser import parse_query


def test_default_wrapper_by_model():
    assert isinstance(parse_query("cat dog", BM25()), ast.Sum)
    assert isinstance(parse_query("cat dog", Indri()), ast.And)
    assert isinstance(parse_query("cat dog", RankedBoolean()), ast.Or)
    assert isinstance(parse_query("cat dog", UnrankedBoolean()), ast.Or)


def test_terms_are_analyzed_first_token_only():
    q = parse_query("Obama's cats", BM25())
    assert q.children == (ast.Term("obama"), ast.Term("cat"))


def test_stopword_terms_dropped():
    q = parse_query("the cat", BM25())
    assert q.children == (ast.Term("cat"),)


def test_field_qualified_term():
    q = parse_query("apple.title pie", BM25())
    assert q.children[0] == ast.Term("apple", "title")
    assert q.children[1] == ast.Term("pie", "body")


def test_nested_operators():
    q = parse_query("#OR(#AND(dog bird) cat)", RankedBoolean())
    # outer wrapper #or(...) contains the user's #or
    inner = q.children[0]
    assert isinstance(inner, ast.Or)
    assert isinstance(inner.children[0], ast.And)
    assert inner.children[0].children == (ast.Term("dog"), ast.Term("bird"))
    assert inner.children[1] == ast.Term("cat")


def test_near_window_n_parsing():
    q = parse_query("#NEAR/3(lower heart rate)", BM25())
    near = q.children[0]
    assert isinstance(near, ast.Near) and near.n == 3
    assert len(near.children) == 3
    q = parse_query("#WINDOW/8(solar panels)", BM25())
    assert isinstance(q.children[0], ast.WindowOp) and q.children[0].n == 8


def test_wand_weights():
    q = parse_query("#WAND(0.7 cat 0.3 #AND(dog bird))", Indri())
    wand = q.children[0]
    assert isinstance(wand, ast.Wand)
    assert wand.weights == (0.7, 0.3)
    assert wand.children[0] == ast.Term("cat")
    assert isinstance(wand.children[1], ast.And)


def test_wand_stopword_drops_weight_too():
    # QryEval.java:699-719: stopword inside weighted op drops term AND weight
    q = parse_query("#WAND(0.4 the 0.6 engine)", Indri())
    wand = q.children[0]
    assert wand.weights == (0.6,)
    assert wand.children == (ast.Term("engine"),)


def test_nested_weighted_in_weighted():
    q = parse_query("#WAND(0.5 #WSUM(0.2 dog 0.8 bird) 0.5 cat)", Indri())
    wand = q.children[0]
    assert wand.weights == (0.5, 0.5)
    inner = wand.children[0]
    assert isinstance(inner, ast.Wsum)
    assert inner.weights == (0.2, 0.8)


def test_empty_operator_elided():
    q = parse_query("#OR(#AND(the) cat)", RankedBoolean())
    inner = q.children[0]
    # #AND(the) analyzed away → elided entirely
    assert inner.children == (ast.Term("cat"),)


def test_not_operator():
    q = parse_query("#NOT(cat)", RankedBoolean())
    inner = q.children[0]
    assert isinstance(inner, ast.Not)
    assert inner.child == ast.Term("cat")


def test_all_stopwords_query_is_none_or_empty():
    q = parse_query("the of and", BM25())
    assert q is None or q.children == ()


def test_trailing_garbage_raises():
    # "a b) c" becomes "#or(a b) c)" — the ')' closes the wrapper early and
    # leaves tokens unconsumed (QryEval.java:728-732 error path)
    with pytest.raises(ValueError):
        parse_query("a b) c", RankedBoolean())


def test_user_operator_plus_sibling_term_is_valid():
    q = parse_query("#AND(a b) c", RankedBoolean())
    assert isinstance(q, ast.Or)
    assert isinstance(q.children[0], ast.And)
    assert q.children[1] == ast.Term("c")


def test_first_parses_and_validates():
    q = parse_query("#FIRST/5(cat)", RankedBoolean())
    assert isinstance(q, ast.Or)
    f = q.children[0]
    assert f == ast.First(5, ast.Term("cat"))
    # composes inside positional ops and takes composed children
    q2 = parse_query("#NEAR/2(#FIRST/9(cat) dog)", RankedBoolean())
    assert q2.children[0] == ast.Near(2, (ast.First(9, ast.Term("cat")),
                                          ast.Term("dog")))
    q3 = parse_query("#FIRST/4(#SYN(cat dog))", RankedBoolean())
    assert q3.children[0] == ast.First(
        4, ast.Syn((ast.Term("cat"), ast.Term("dog")))
    )
    with pytest.raises(ValueError):
        parse_query("#FIRST/2(cat dog)", RankedBoolean())  # exactly one arg
    with pytest.raises(ValueError):
        parse_query("#FIRST/0(cat)", RankedBoolean())  # n >= 1
    # stopword child analyzes away -> whole operator elides
    q4 = parse_query("#FIRST/3(the) cat", RankedBoolean())
    assert q4.children == (ast.Term("cat"),)


# ----------------------------------------------------------- caret boosts

def test_boost_parsing():
    from search_engine_framework_spark.plans import ast
    from search_engine_framework_spark.plans.models import BM25
    from search_engine_framework_spark.plans.parser import parse_query

    node = parse_query("spark merge^2.5 window.role^3", BM25())
    kids = node.children
    assert isinstance(kids[0], ast.Term)
    assert isinstance(kids[1], ast.Boost) and kids[1].weight == 2.5
    assert kids[1].child == ast.Term("merge", "body")
    assert isinstance(kids[2], ast.Boost) and kids[2].weight == 3.0
    assert kids[2].child.field == "role"
    # ^1.0 collapses to a plain Term (bit-identical unboosted plan)
    node = parse_query("spark^1.0 merge", BM25())
    assert all(isinstance(c, ast.Term) for c in node.children)


def test_boost_one_placement_still_validated():
    """`term^1` must be accepted/rejected in exactly the same places as
    `term^2`: the placement check runs BEFORE the neutral boost collapses
    (round-4 ADVICE fix — previously `#AND(a b^1)` silently parsed)."""
    import pytest as _pytest

    from search_engine_framework_spark.plans.models import BM25, RankedBoolean
    from search_engine_framework_spark.plans.parser import parse_query

    with _pytest.raises(ValueError, match="only.*legal.*#SUM"):
        parse_query("#AND(spark merge^1)", RankedBoolean())
    with _pytest.raises(ValueError, match="only.*legal.*#SUM"):
        parse_query("#SUM(spark #AND(merge^1.0 window))", BM25())


def test_boost_ast_rejects_nonpositive_weight():
    """Programmatically built Boost nodes fail loudly on weight <= 0 —
    the same contract the parser enforces for query strings, and the
    parser is not the only constructor (round-4 ADVICE fix)."""
    import pytest as _pytest

    from search_engine_framework_spark.plans import ast

    t = ast.Term("spark", "body")
    for bad in (0.0, -2.5):
        with _pytest.raises(ValueError, match="> 0"):
            ast.Boost(t, bad)
    assert ast.Boost(t, 0.5).weight == 0.5


def test_boost_errors():
    import pytest as _pytest

    from search_engine_framework_spark.plans.models import BM25
    from search_engine_framework_spark.plans.parser import parse_query

    with _pytest.raises(ValueError, match="> 0"):
        parse_query("spark^0", BM25())
    for bad in ("spar*^2", "*ark^2", "sprak~1^2"):
        with _pytest.raises(ValueError, match="plain terms"):
            parse_query(bad, BM25())


def test_boost_stopword_dropped():
    from search_engine_framework_spark.plans import ast
    from search_engine_framework_spark.plans.models import BM25
    from search_engine_framework_spark.plans.parser import parse_query

    node = parse_query("the^5 spark", BM25())
    assert node.children == (ast.Term("spark", "body"),)


def test_boost_walkers():
    from search_engine_framework_spark.plans import ast
    from search_engine_framework_spark.plans.models import BM25
    from search_engine_framework_spark.plans.parser import parse_query

    node = parse_query("spark merge.role^2", BM25())
    assert ast.query_terms(node) == {("spark", "body"), ("merge", "role")}
    assert ast.query_fields(node) == {"body", "role"}
    assert not ast.needs_positions(node)


def test_boost_rejected_outside_sum_contexts():
    import pytest as _pytest

    from search_engine_framework_spark.plans.models import (
        BM25,
        Indri,
        RankedBoolean,
    )
    from search_engine_framework_spark.plans.parser import parse_query

    cases = [
        ("#SYN(spark^2 merge)", BM25()),
        ("#NEAR/2(spark^2 merge)", BM25()),
        ("#WINDOW/4(spark^2 merge)", BM25()),
        ("#AND(spark^2 merge)", RankedBoolean()),
        ("#WAND(0.5 spark^2 0.5 merge)", Indri()),
        ("#NOT(spark^2)", RankedBoolean()),
    ]
    for q, m in cases:
        with _pytest.raises(ValueError, match="only legal directly under"):
            parse_query(q, m)
    # legal placements still parse
    from search_engine_framework_spark.plans import ast

    node = parse_query("#MSM/1(spark^2 merge)", BM25())
    assert isinstance(node.children[0].children[0], ast.Boost)
