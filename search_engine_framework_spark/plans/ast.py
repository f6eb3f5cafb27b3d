"""Query AST.

The reference's only IR is the ``Qryop`` tree
(/root/reference/src/Qryop.java:15-91) with two families: inverted-list
operators (TERM, SYN, NEAR/n, WINDOW/n → postings) and score-list operators
(AND, OR, SUM, WAND, WSUM, SCORE → doc scores). We keep the same two-family
split; the tree compiles to DataFrame transformations (plans/compiler.py)
or is interpreted by the pure-Python oracle (oracle/pyeval.py).

``Not`` is our addition (north_rule names AND/OR/NOT; the reference has no
anti-join operator) — implemented as a docid anti-join against the corpus.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

DEFAULT_FIELD = "body"  # QryopIlTerm.java:27


@dataclass(frozen=True)
class Node:
    pass


@dataclass(frozen=True)
class Term(Node):
    term: str
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class Syn(Node):
    children: tuple[Node, ...]


@dataclass(frozen=True)
class Wildcard(Node):
    """Prefix multi-term query (``spar*``) — our Lucene-PrefixQuery
    analog (the reference has none). Never evaluated directly: the
    engine rewrites it against the term dictionary into #SYN of the
    matching terms (plans/wildcard.expand_wildcards) before compiling,
    exactly Lucene's MultiTermQuery→rewrite design."""

    prefix: str
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SuffixWildcard(Node):
    """Leading wildcard (``*fix``) — the Lucene
    allowLeadingWildcard=true analog. Rewritten like Wildcard into
    #SYN of the dictionary terms ENDING with the pattern
    (IndexReader.expand_suffix). Unlike prefixes the term-sorted
    dictionary cannot row-group-prune an endswith, so the seek is a
    column-pruned scan of the (vocabulary-sized, never corpus-sized)
    term dictionary — the documented Lucene tradeoff (Lucene needs a
    ReverseStringFilter side index for the same feature)."""

    suffix: str
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class Fuzzy(Node):
    """Fuzzy multi-term query (``sprak~1``) — our Lucene-FuzzyQuery
    analog (the reference has none). Never evaluated directly: the
    engine rewrites it against the term dictionary into #SYN of every
    term within levenshtein distance ``max_edit`` (plans/wildcard
    .expand_wildcards → IndexReader.expand_fuzzy), the same
    MultiTermQuery→rewrite design as Wildcard. The pattern is
    lowercased but NOT analyzed (stemming a misspelling would corrupt
    it), mirroring Lucene's unanalyzed fuzzy terms."""

    term: str
    field: str = DEFAULT_FIELD
    max_edit: int = 2


@dataclass(frozen=True)
class Regex(Node):
    """Regex multi-term query (``/sp[a-z]+k/``) — our Lucene-RegexpQuery
    analog (the reference has none). The pattern must match the ENTIRE
    dictionary term (Lucene's implicit anchoring). Never evaluated
    directly: the engine rewrites it against the term dictionary into
    #SYN of the matching terms (IndexReader.expand_regex), the same
    MultiTermQuery→rewrite design as Wildcard. Patterns are lowercased
    only, never analyzed. Query-STRING syntax cannot carry whitespace,
    parens, or commas inside the pattern (they are parser delimiters) —
    build the AST directly for those."""

    pattern: str
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class Near(Node):
    n: int
    children: tuple[Node, ...]


@dataclass(frozen=True)
class WindowOp(Node):
    n: int
    children: tuple[Node, ...]


@dataclass(frozen=True)
class And(Node):
    children: tuple[Node, ...]


@dataclass(frozen=True)
class Or(Node):
    children: tuple[Node, ...]


@dataclass(frozen=True)
class Not(Node):
    child: Node


@dataclass(frozen=True)
class Sum(Node):
    children: tuple[Node, ...]


@dataclass(frozen=True)
class Wand(Node):
    children: tuple[Node, ...]
    weights: tuple[float, ...] = dc_field(default=())


@dataclass(frozen=True)
class Wsum(Node):
    children: tuple[Node, ...]
    weights: tuple[float, ...] = dc_field(default=())


@dataclass(frozen=True)
class Msm(Node):
    """Minimum-should-match — our Lucene
    BooleanQuery.setMinimumNumberShouldMatch / Elasticsearch
    ``minimum_should_match`` analog (the reference has none): a doc
    matches iff at least ``n`` children match it. Scoring follows the
    operator each model's dispatch generalizes: under boolean models
    the max of the matching children (``#MSM/1 ≡ #OR``), under BM25
    the child-order sum of the matching children (``#MSM/1 ≡ #SUM``).
    ``n > len(children)`` matches nothing (Lucene semantics). Not
    defined under Indri (no reference operator to generalize)."""

    n: int
    children: tuple[Node, ...]


@dataclass(frozen=True)
class First(Node):
    """``#FIRST/n(child)`` — our Lucene SpanFirstQuery analog (the
    reference has none): the child's match positions restricted to the
    first ``n`` token slots (0-based position < n; for composed
    positional children the EMITTED match position is tested, i.e. the
    reference's emit-last convention for #NEAR / emit-max for
    #WINDOW). An inverted-list operator, legal anywhere an il-op is —
    including as a #NEAR/#WINDOW/#SYN child — matching Lucene's span
    composability. Docs with no surviving position drop out; tf is
    recomputed over the surviving positions."""

    n: int
    child: Node


@dataclass(frozen=True)
class Boost(Node):
    """``term^w`` — our Lucene boost analog (the reference grammar has
    none): the child's BM25 score contribution is multiplied by
    ``weight``. Legal ONLY as a direct child of BM25 #SUM / #MSM (the
    one place the engine has a per-child additive contribution to
    scale); the compiler fails loudly anywhere else. Parser restricts
    the child to a plain (possibly field-qualified) term."""

    child: Node
    weight: float

    def __post_init__(self) -> None:
        # The parser accepts only strictly positive boosts (as Lucene
        # rejects negative ones); a programmatically built tree is held to
        # the same contract and fails loudly here.
        if not self.weight > 0:
            raise ValueError(
                f"Boost weight must be > 0, got {self.weight!r}"
            )


IL_NODES = (
    Term, Syn, Near, WindowOp, Wildcard, Fuzzy, SuffixWildcard, Regex, First
)
SL_NODES = (And, Or, Not, Sum, Wand, Wsum, Msm, Boost)


def is_il(node: Node) -> bool:
    return isinstance(node, IL_NODES)


def query_terms(node: Node) -> set[tuple[str, str]]:
    """All (term, field) leaves — used to fetch postings in ONE scan."""
    if isinstance(node, Wildcard):
        raise ValueError(
            f"unexpanded wildcard {node.prefix!r}* — run "
            "plans.wildcard.expand_wildcards(tree, reader) first"
        )
    if isinstance(node, Fuzzy):
        raise ValueError(
            f"unexpanded fuzzy term {node.term!r}~{node.max_edit} — run "
            "plans.wildcard.expand_wildcards(tree, reader) first"
        )
    if isinstance(node, SuffixWildcard):
        raise ValueError(
            f"unexpanded wildcard *{node.suffix!r} — run "
            "plans.wildcard.expand_wildcards(tree, reader) first"
        )
    if isinstance(node, Regex):
        raise ValueError(
            f"unexpanded regex /{node.pattern}/ — run "
            "plans.wildcard.expand_wildcards(tree, reader) first"
        )
    if isinstance(node, Term):
        return {(node.term, node.field)}
    out: set[tuple[str, str]] = set()
    kids = (
        (node.child,) if isinstance(node, (Not, First, Boost))
        else node.children
    )
    for c in kids:
        out |= query_terms(c)
    return out


def query_fields(node: Node) -> set[str]:
    """All fields referenced by leaves — unlike query_terms this is safe
    on a tree that still contains unexpanded Wildcard leaves (field
    validation runs before dictionary expansion)."""
    if isinstance(node, (Term, Wildcard, Fuzzy, SuffixWildcard, Regex)):
        return {node.field}
    out: set[str] = set()
    kids = (
        (node.child,) if isinstance(node, (Not, First, Boost))
        else node.children
    )
    for c in kids:
        out |= query_fields(c)
    return out


def needs_positions(node: Node) -> bool:
    """True iff the tree contains a positional operator (#NEAR/#WINDOW/#SYN)
    — only then does the posting scan need to decode position blobs."""
    if isinstance(node, (Near, WindowOp, Syn, First)):
        return True
    if isinstance(node, (Wildcard, Fuzzy, SuffixWildcard, Regex)):  # → #SYN
        return True
    if isinstance(node, Term):
        return False
    kids = (
        (node.child,) if isinstance(node, (Not, First, Boost))
        else node.children
    )
    return any(needs_positions(c) for c in kids)
