"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 (or a
training-data pipeline operator) over the driver's parquet tables
(`documents`, `embeddings`, `events`). The oracle SQL is written to be
**IEEE-identical** to the Spark plan, not merely equivalent:

* tokenization is the engine's ``sql_safe`` analyzer mode, whose exact
  SQL twin is ``list_filter(string_split_regex(lower(text),
  '[^a-z0-9]+'), x -> x <> '')``;
* floating-point expressions are written with the same operand order on
  both sides (BM25/Indri folds accumulate in child order);
* aggregate doubles that cross engines with different summation orders
  are rounded to 4 decimals (+0.0 to normalize -0.0).

The search-engine queries run against a real on-disk index built once
per sf_dir (cached under /tmp) — so the driver's correctness check
covers the full path: tokenize → postings → codec → segments → scan →
score → top-k, verified against plain SQL over the raw text.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from .engine import SearchEngine
from .functions.analyzer import AnalyzerConfig
from .index.build import build_index
from .pipeline import dedup, multimodal, similarity, textstats

BM25_QUERY = "#SUM(spark merge window)"
BM25_K = 20

# --------------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------------

def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _docs_as_transcripts(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, source) → transcript shape
    (input_hint schema); one document = one single-turn conversation.
    conv_id is zero-padded so lexicographic == numeric order (stable
    docid derivation requirement)."""
    return docs.select(
        F.format_string("doc-%09d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.coalesce(F.col("lang"), F.lit("")).alias("role"),
        F.col("text"),
        F.coalesce(F.col("source"), F.lit("")).alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


_ENGINES: dict[str, SearchEngine] = {}


def get_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Build (once, cached on disk + in-process) a sql_safe-mode index
    over the documents table of ``sf_dir`` and return a SearchEngine."""
    key = os.path.abspath(sf_dir)
    if key in _ENGINES:
        return _ENGINES[key]
    digest = hashlib.sha1(key.encode()).hexdigest()[:12]
    out = os.path.join("/tmp", "sefs_entry_idx", digest)
    cfg = AnalyzerConfig.sql_safe()
    if not os.path.exists(os.path.join(out, "stats.json")):
        docs = _read(spark, sf_dir, "documents")
        build_index(
            spark,
            _docs_as_transcripts(docs),
            out,
            fields=("body",),
            cfg=cfg,
            n_buckets=8,
            n_salts=4,
        )
    eng = SearchEngine(spark, out, analyzer=cfg)
    _ENGINES[key] = eng
    return eng


def _orig_id(ext_id: Column) -> Column:
    """ext_id 'doc-000000042:0' → original documents.doc_id."""
    return F.regexp_extract(ext_id, r"doc-(\d+)", 1).cast("long").alias("doc_id")


def _r4(c: Column) -> Column:
    return F.round(c, 4) + F.lit(0.0)


# DuckDB-side shared CTEs (the tokenizer twin + derived stats)
_SQL_BASE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
tokpos AS (
  SELECT doc_id, t.term AS term, t.pos AS pos FROM (
    SELECT doc_id,
           unnest(list_transform(toks,
                  (x, i) -> struct_pack(term := x, pos := i - 1))) AS t
    FROM toks) s
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tokpos GROUP BY 1, 2
),
dl AS (
  SELECT doc_id, len(toks)::BIGINT AS doclen FROM toks
),
dfreq AS (
  SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS ctf
  FROM tf GROUP BY 1
),
cstats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         sum(doclen)::BIGINT AS sum_doclen,
         count(*) FILTER (WHERE doclen > 0)::BIGINT AS doc_count
  FROM dl
)
"""

# BM25 per-term score as a SQL macro body; operand order mirrors
# plans/compiler.py::_score exactly:
#   idf = ln((N - df + 0.5) / (df + 0.5))           [not floored at 0]
#   tfw = tf / (tf + k1*((1-b) + b*(doclen/avg)))   [k1=1.2, b=0.75]
#   avg = sum_doclen / doc_count
def _bm25_term_sql(term: str) -> str:
    return f"""
  SELECT tf.doc_id,
         ln((cstats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf::DOUBLE /
              (tf.tf::DOUBLE + 1.2 * ((1.0 - 0.75)
               + 0.75 * (dl.doclen::DOUBLE
                         / (cstats.sum_doclen::DOUBLE / cstats.doc_count)))))
           AS s
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN cstats
  JOIN dfreq ON dfreq.term = tf.term
  WHERE tf.term = '{term}'
"""


# Indri two-stage smoothing, operand order mirroring compiler._score:
#   present: (0.4 * (tf + mu*pmle)) / (dl + mu) + 0.6*pmle
#   default: (1000.0 * pmle) / (dl + mu) + 0.6*pmle     [0.4*2500 = 1000]
#   pmle = ctf / sum_doclen(field)
def _indri_term_sql(term: str) -> str:
    return f"""
  SELECT d.doc_id,
         CASE WHEN tf.tf IS NOT NULL THEN
           (0.4 * (tf.tf::DOUBLE + 2500.0 * p.pmle)) / (d.doclen::DOUBLE + 2500.0)
             + 0.6 * p.pmle
         ELSE
           (1000.0 * p.pmle) / (d.doclen::DOUBLE + 2500.0) + 0.6 * p.pmle
         END AS s
  FROM dl d
  CROSS JOIN (SELECT (SELECT ctf FROM dfreq WHERE term = '{term}')::DOUBLE
                     / (SELECT sum_doclen FROM cstats)::DOUBLE AS pmle) p
  LEFT JOIN (SELECT doc_id, tf FROM tf WHERE term = '{term}') tf
         ON tf.doc_id = d.doc_id
"""


# --------------------------------------------------------------------------
# query implementations
# --------------------------------------------------------------------------

def q_term_stats_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = get_engine(spark, sf_dir)
    return (
        eng.reader.term_stats_df()
        .where(F.col("field") == "body")
        .select("term", F.col("df").cast("long"), F.col("ctf").cast("long"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(100)
    )


def q_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = get_engine(spark, sf_dir)
    dl = eng.reader.doclen().where(F.col("field") == "body")
    dm = eng.reader.docmap().select("doc_id", "ext_id")
    return dl.join(dm, "doc_id").select(
        _orig_id(F.col("ext_id")), F.col("doclen").cast("long").alias("doclen")
    )


def q_collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = get_engine(spark, sf_dir)
    r = eng.reader
    return spark.createDataFrame(
        [
            (
                r.num_docs,
                r.sum_doclen("body"),
                r.doc_count("body"),
            )
        ],
        "n_docs long, sum_doclen long, doc_count long",
    )


POSTING_TERMS = ("spark", "merge", "window", "customer")


def q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = get_engine(spark, sf_dir)
    p = eng.reader.fetch_postings({(t, "body") for t in POSTING_TERMS})
    dm = eng.reader.docmap().select("doc_id", "ext_id")
    return p.join(dm, "doc_id").select(
        "term",
        _orig_id(F.col("ext_id")),
        F.col("tf").cast("long").alias("tf"),
        F.element_at("positions", 1).cast("long").alias("first_pos"),
        F.element_at("positions", -1).cast("long").alias("last_pos"),
    )


def _search_full(spark, sf_dir, query, model) -> DataFrame:
    from .plans.models import BM25, Indri, RankedBoolean, UnrankedBoolean  # noqa

    eng = get_engine(spark, sf_dir)
    out = eng.search_df(query, model)
    return out.select(_orig_id(F.col("ext_id")), "score")


def q_bool_and_ranked(spark, sf_dir):
    from .plans.models import RankedBoolean

    return _search_full(spark, sf_dir, "#AND(spark merge)", RankedBoolean())


def q_bool_or_ranked(spark, sf_dir):
    from .plans.models import RankedBoolean

    return _search_full(spark, sf_dir, "#OR(spark merge)", RankedBoolean())


def q_bool_and_not(spark, sf_dir):
    from .plans.models import UnrankedBoolean

    return _search_full(spark, sf_dir, "#AND(window #NOT(customer))", UnrankedBoolean())


def q_near(spark, sf_dir):
    from .plans.models import UnrankedBoolean

    return _search_full(spark, sf_dir, "#NEAR/3(key agg)", UnrankedBoolean())


def q_first_op(spark, sf_dir):
    """#FIRST/n (Lucene SpanFirstQuery analog): 'key' occurrences in
    the first 5 token slots; RankedBoolean score = surviving tf."""
    from .plans.models import RankedBoolean

    return _search_full(spark, sf_dir, "#FIRST/5(key)", RankedBoolean())


def q_first_bm25(spark, sf_dir):
    """#FIRST/n under BM25: the composed list's OWN df (docs with a
    match in the first 5 slots) drives idf, exercising the
    ensure_stats list-level statistics path."""
    from .plans.models import BM25

    out = _search_full(spark, sf_dir, "#FIRST/5(key)", BM25())
    return out.select("doc_id", _r4(F.col("score")).alias("score"))


def q_phrase(spark, sf_dir):
    """Quoted exact phrase (Lucene PhraseQuery analog): '"key agg"'
    rewrites in the parser to #NEAR/1(key agg) — adjacent, in order."""
    from .plans.models import UnrankedBoolean

    return _search_full(spark, sf_dir, '"key agg"', UnrankedBoolean())


def q_window_op(spark, sf_dir):
    from .plans.models import UnrankedBoolean

    return _search_full(spark, sf_dir, "#WINDOW/8(merge batch)", UnrankedBoolean())


def q_syn_ranked(spark, sf_dir):
    from .plans.models import RankedBoolean

    return _search_full(spark, sf_dir, "#SYN(spark data)", RankedBoolean())


def q_wildcard(spark, sf_dir):
    """Prefix wildcard ``s*`` (Lucene PrefixQuery analog): term-dictionary
    expansion into #SYN of the 6 matching terms, merged-postings tf under
    RankedBoolean. The SQL twin replays the expansion with LIKE."""
    from .plans.models import RankedBoolean

    return _search_full(spark, sf_dir, "s*", RankedBoolean())


def q_fuzzy(spark, sf_dir):
    """Fuzzy term ``sparkk~1`` (Lucene FuzzyQuery analog): SymSpell
    dictionary expansion into #SYN of every term within levenshtein
    distance 1, merged-postings tf under RankedBoolean. The SQL twin
    replays the expansion with DuckDB's levenshtein()."""
    from .plans.models import RankedBoolean

    return _search_full(spark, sf_dir, "sparkk~1", RankedBoolean())


def q_wildcard_suffix(spark, sf_dir):
    """Leading wildcard ``*er`` (allowLeadingWildcard analog):
    dictionary endswith expansion into #SYN of the matching terms,
    merged-postings tf under RankedBoolean. The SQL twin replays the
    expansion with LIKE '%er'."""
    from .plans.models import RankedBoolean

    return _search_full(spark, sf_dir, "*er", RankedBoolean())


def q_regex_term(spark, sf_dir):
    """Regex term query ``/[sv][a-z]+/`` (Lucene RegexpQuery analog):
    whole-term-anchored dictionary expansion into #SYN of the 8 matching
    terms, merged-postings tf under RankedBoolean. The SQL twin replays
    the expansion with regexp_full_match."""
    from .plans.models import RankedBoolean

    return _search_full(spark, sf_dir, "/[sv][a-z]+/", RankedBoolean())


def q_bm25_single(spark, sf_dir):
    from .plans.models import BM25

    out = _search_full(spark, sf_dir, "spark", BM25())
    return out.select("doc_id", _r4(F.col("score")).alias("score"))


def q_filtered_search(spark, sf_dir):
    """Metadata-filtered retrieval: BM25 scores restricted to docs whose
    lang (indexed as the docmap's ``role`` column) is 'en'. Scores must
    be identical to the unfiltered query — collection statistics stay
    corpus-wide (Lucene-filter semantics); only membership changes."""
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    out = eng.search_df("spark", BM25(), doc_filter="role = 'en'")
    return out.select(
        _orig_id(F.col("ext_id")), _r4(F.col("score")).alias("score")
    )


def q_bm25_topk(spark, sf_dir):
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    return top.select(
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


_MULTI_ENGINES: dict[str, SearchEngine] = {}


def _half_index_paths(sf_dir: str) -> list[str]:
    """The parity half-indexes' on-disk locations — ONE derivation
    shared by get_multi_engine (which builds them) and q_merge_search
    (which merges them), so the keying scheme cannot drift apart."""
    key = os.path.abspath(sf_dir)
    digest = hashlib.sha1((key + "#multi").encode()).hexdigest()[:12]
    return [
        os.path.join("/tmp", "sefs_entry_idx", f"{digest}-{part}")
        for part in (0, 1)
    ]


def get_multi_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Federated twin of :func:`get_engine`: the SAME documents corpus
    split by doc_id parity into two physically independent indexes,
    searched through index.multi.MultiReader (the Lucene MultiReader
    analog). Global statistics merge makes its scores bit-comparable to
    the single combined index — which is exactly what the contract
    entry asserts (shared DuckDB oracle with bm25_topk)."""
    from .index.multi import MultiReader

    key = os.path.abspath(sf_dir)
    if key in _MULTI_ENGINES:
        return _MULTI_ENGINES[key]
    cfg = AnalyzerConfig.sql_safe()
    halves = []
    for out in _half_index_paths(sf_dir):
        part = int(out.rsplit("-", 1)[1])
        if not os.path.exists(os.path.join(out, "stats.json")):
            docs = _read(spark, sf_dir, "documents").where(
                F.col("doc_id") % 2 == part
            )
            build_index(
                spark,
                _docs_as_transcripts(docs),
                out,
                fields=("body",),
                cfg=cfg,
                n_buckets=8,
                n_salts=4,
            )
        halves.append(out)
    eng = SearchEngine(spark, MultiReader(spark, halves), analyzer=cfg)
    _MULTI_ENGINES[key] = eng
    return eng


def q_multi_search(spark, sf_dir):
    """Federated search over two physical half-indexes (doc_id parity
    split) via MultiReader: merged global statistics make the flagship
    BM25 top-k identical to the single combined index, so this entry
    shares bm25_topk's DuckDB oracle verbatim."""
    from .plans.models import BM25

    eng = get_multi_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    return top.select(
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


def q_merge_search(spark, sf_dir):
    """Physical index merge (index/merge.py, Lucene addIndexes analog):
    the two parity half-indexes from `multi_search` merged into ONE
    on-disk index (rebased ids, re-encoded segments) must reproduce the
    single combined index's flagship BM25 top-k exactly — shares
    bm25_topk's DuckDB oracle verbatim. Where multi_search proves the
    VIRTUAL union, this proves the PHYSICAL one."""
    from .index.merge import merge_indexes
    from .plans.models import BM25

    get_multi_engine(spark, sf_dir)  # materializes the half-indexes
    halves = _half_index_paths(sf_dir)
    out = halves[0].rsplit("-", 1)[0] + "-merged"
    marker = os.path.join(out, "_MERGED_OK")
    if not os.path.exists(marker):
        # completeness guard on a merge-written marker, NOT stats.json —
        # the build body creates stats.json before segment encode, so a
        # mid-merge crash must not read as done
        import shutil

        shutil.rmtree(out, ignore_errors=True)
        merge_indexes(spark, halves, out)
        with open(marker, "w") as fh:
            fh.write("ok")
    eng = SearchEngine(spark, out, analyzer=AnalyzerConfig.sql_safe())
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    return top.select(
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


def q_rollover_search(spark, sf_dir):
    """Index rollover (ES rollover/ILM analog): the documents corpus
    written as two size-sealed generations (first half fills gen-0 to
    max_docs exactly, second half rolls over), searched through the
    rollover federation — must reproduce the single-index flagship
    BM25 ranking exactly (shares bm25_topk's oracle)."""
    from .index.rollover import RolloverIndex
    from .plans.models import BM25

    key = os.path.abspath(sf_dir)
    digest = hashlib.sha1((key + "#roll").encode()).hexdigest()[:12]
    root = os.path.join("/tmp", "sefs_entry_idx", digest + "-roll")
    cfg = AnalyzerConfig.sql_safe()
    docs = _read(spark, sf_dir, "documents")
    n_half = docs.count() // 2
    ri = RolloverIndex(
        spark, root, max_docs=n_half, fields=("body",), cfg=cfg,
        n_buckets=8, n_salts=4,
    )
    if not ri.generations():
        ri.write_batch(
            _docs_as_transcripts(docs.where(F.col("doc_id") < n_half))
        )
        ri.write_batch(
            _docs_as_transcripts(docs.where(F.col("doc_id") >= n_half))
        )
    eng = SearchEngine(spark, ri.reader(), analyzer=cfg)
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    return top.select(
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


def q_msm_bm25(spark, sf_dir):
    """Minimum-should-match under BM25 (#MSM/2 of three terms — the
    Lucene minimumNumberShouldMatch / Elasticsearch minimum_should_match
    analog): docs matching >= 2 of the terms, scored by the child-order
    BM25 sum of the matching terms."""
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    top = eng.search("#MSM/2(spark merge window)", BM25(), k=BM25_K)
    return top.select(
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


def q_msm_boolean(spark, sf_dir):
    """Minimum-should-match under RankedBoolean (#MSM/2): docs matching
    >= 2 of the terms, scored by the max tf among ALL matching children
    (the #OR scoring rule restricted to the >= n match set)."""
    from .plans.models import RankedBoolean

    return _search_full(
        spark, sf_dir, "#MSM/2(spark merge window)", RankedBoolean()
    )


def q_search_after(spark, sf_dir):
    """Keyset pagination (searchAfter analog): page 2 of the flagship
    BM25 ranking via the (score, ext_id) cursor of page 1's last hit —
    must equal OFFSET pagination because the order is total."""
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    page1 = eng.search(BM25_QUERY, BM25(), k=BM25_K).collect()
    last = page1[-1]
    out = eng.search_after(
        BM25_QUERY, BM25(), (last["score"], last["ext_id"]), k=BM25_K
    )
    return out.select(
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


def q_synonyms(spark, sf_dir):
    """Query-time synonym expansion (SynonymGraphFilter analog):
    'spark' with {spark: [merge]} rewrites to #SYN(spark merge) —
    merged-postings tf under RankedBoolean, same twin shape as
    syn_ranked but through the rewrite path."""
    from .plans.models import RankedBoolean

    eng = get_engine(spark, sf_dir)
    out = eng.search_df(
        "spark", RankedBoolean(), synonyms={"spark": ["merge"]}
    )
    return out.select(_orig_id(F.col("ext_id")), "score")


def q_snippets(spark, sf_dir):
    """Best-window snippets (snippets.py) for the flagship BM25 top-k:
    the 8-token span with the most query-term matches per hit, rendered
    from the analyzed token stream (deterministic in both engines)."""
    from .plans.models import BM25
    from .snippets import best_window_snippets

    eng = get_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    hits = top.select(_orig_id(F.col("ext_id")), F.col("rank"))
    docs = _read(spark, sf_dir, "documents")
    return best_window_snippets(
        hits, docs, ["spark", "merge", "window"], window=8
    )


def q_snippets_multi(spark, sf_dir):
    """Multi-fragment highlighting (ES number_of_fragments analog): up
    to 2 non-overlapping best 8-token windows per hit, greedy by
    (matches desc, start asc). Hit set = the first 20 documents (NOT
    the flagship top-k: the flagship terms have negative idf in this
    corpus, so its top hits contain exactly ONE match and a second
    fragment would never fire — these docs have spread-out matches and
    genuinely exercise the disjointness constraint)."""
    from .snippets import best_fragments

    docs = _read(spark, sf_dir, "documents")
    hits = docs.where(F.col("doc_id") < 20).select(
        "doc_id", (F.col("doc_id") + 1).cast("long").alias("rank")
    )
    return best_fragments(
        hits, docs, ["spark", "merge", "window"], window=8, n_fragments=2
    )


# Batched evaluation (engine.search_many): three BM25 query plans sharing
# ONE stats job + ONE postings scan + ONE ranking window — per-qid results
# must equal running each query alone (and the DuckDB twin per query).
BATCH_QUERIES = {
    "q1": ["spark", "merge", "window"],
    "q2": ["customer", "data"],
    "q3": ["key", "batch"],
}
BATCH_K = 10


def q_bm25_batch(spark, sf_dir):
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    out = eng.search_many(
        {qid: f"#SUM({' '.join(ts)})" for qid, ts in BATCH_QUERIES.items()},
        BM25(),
        k=BATCH_K,
    )
    return out.select(
        "qid",
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


def _bm25_batch_sql() -> str:
    ctes, sels = [], []
    for qid, terms in BATCH_QUERIES.items():
        for i, t in enumerate(terms):
            ctes.append(f"{qid}t{i} AS ({_bm25_term_sql(t)})")
        ids = " UNION ".join(
            f"SELECT doc_id FROM {qid}t{i}" for i in range(len(terms))
        )
        score = " + ".join(
            f"COALESCE({qid}t{i}.s * 1.0, 0.0)" for i in range(len(terms))
        )
        joins = " ".join(
            f"LEFT JOIN {qid}t{i} ON {qid}t{i}.doc_id = ids.doc_id"
            for i in range(len(terms))
        )
        ctes.append(
            f"{qid}s AS (SELECT '{qid}' AS qid, ids.doc_id, 0.0 + {score} AS s\n"
            f"  FROM ({ids}) ids {joins})"
        )
        sels.append(f"SELECT * FROM {qid}s")
    union = " UNION ALL ".join(sels)
    return (
        _SQL_BASE
        + ", "
        + ",\n".join(ctes)
        + f"""
SELECT qid, doc_id, rank, score FROM (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY s DESC, doc_id ASC)::BIGINT
           AS rank,
         round(s, 4) + 0.0 AS score
  FROM ({union}) u
) r WHERE rank <= {BATCH_K}
"""
    )


def q_bm25_bulk(spark, sf_dir):
    """Join-based whole-set evaluator (engine.search_bulk_bm25): one
    fixed-shape plan regardless of query count, bit-identical to the
    per-query path — same queries and oracle as bm25_batch."""
    eng = get_engine(spark, sf_dir)
    out = eng.search_bulk_bm25(
        {qid: " ".join(ts) for qid, ts in BATCH_QUERIES.items()}, k=BATCH_K
    )
    return out.select(
        "qid",
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


def q_indri_and(spark, sf_dir):
    from .plans.models import Indri

    out = _search_full(spark, sf_dir, "#AND(spark merge)", Indri())
    return out.select("doc_id", _r4(F.col("score")).alias("score"))


def q_indri_wsum(spark, sf_dir):
    from .plans.models import Indri

    out = _search_full(spark, sf_dir, "#WSUM(0.7 spark 0.3 merge)", Indri())
    return out.select("doc_id", _r4(F.col("score")).alias("score"))


def q_indri_wand(spark, sf_dir):
    """#WAND (weighted AND, QryopSlWand.java): weighted geometric mean
    of Indri term scores, exponents w_i / sum(w).  Weights 0.75/0.25 sum
    to an exactly-representable 1.0, so the SQL twin's pow() exponents
    are bit-identical to the compiler's ``w / wsum``."""
    from .plans.models import Indri

    out = _search_full(spark, sf_dir, "#WAND(0.75 spark 0.25 merge)", Indri())
    return out.select("doc_id", _r4(F.col("score")).alias("score"))


def q_fingerprints(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return textstats.fingerprints(docs)


def q_minhash_sigs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(dedup.shingles(docs, k=3), num_hashes=4)
    return sigs.select(
        "doc_id",
        F.col("sigs")[0].alias("sig0"),
        F.col("sigs")[1].alias("sig1"),
        F.col("sigs")[2].alias("sig2"),
        F.col("sigs")[3].alias("sig3"),
    )


def q_bm25_lucene(spark, sf_dir):
    """Modern-Lucene BM25Similarity scorer (LuceneBM25 model, round 3):
    the flagship query under the ln(1 + (N-df+0.5)/(df+0.5)) positive
    idf — same plan shape as bm25_topk, different idf literal. Twin
    replays the Lucene idf in SQL."""
    from .plans.models import LuceneBM25

    eng = get_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, LuceneBM25(), k=BM25_K)
    return top.select(
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


def q_boosted_terms(spark, sf_dir):
    """Caret term boosts (Lucene boost analog, round 3): BM25 #SUM with
    per-child multipliers — ``spark merge^2.5 window^0.5`` — through the
    full engine path (parser → Boost AST → compiler fold). Exactly
    representable boost literals so the twin's arithmetic is
    IEEE-identical; boosted flat #SUM queries take the driver fast path
    like unboosted ones — it carries the per-child multiplier
    (compiler._flat_sum_weighted) — with scores bit-identical to the
    distributed plan."""
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    top = eng.search("spark merge^2.5 window^0.5", BM25(), k=BM25_K)
    return top.select(
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


def q_explain_bm25(spark, sf_dir):
    """Distributed Lucene-explain analog (engine.explain_topk, round 3):
    per-(top-10 doc, query child) BM25 score components — tf, df, idf,
    tf_weight, contribution — whose child-order fold reproduces each
    hit's total. The twin recomputes every component from raw text."""
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    out = eng.explain_topk(BM25_QUERY, BM25(), k=10)
    return out.select(
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        F.col("child").cast("long").alias("child"),
        "term",
        "tf",
        "df",
        _r4(F.col("idf")).alias("idf"),
        _r4(F.col("tf_weight")).alias("tf_weight"),
        _r4(F.col("contribution")).alias("contribution"),
        _r4(F.col("total_score")).alias("total_score"),
    )


def q_hybrid_combsum(spark, sf_dir):
    """CombMNZ score fusion (fusion.combsum_fuse) of the flagship BM25
    top-20 and the vec_id=0 embedding-cosine top-20: per-ranking min-max
    normalization over each top-k cut, weighted sum, times the number of
    channels containing the doc. Same channel construction as
    q_hybrid_rrf; the twin replays the min-max + MNZ arithmetic."""
    from .fusion import combsum_fuse, ranked
    from .pipeline import similarity
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    lex = eng.search(BM25_QUERY, BM25(), k=BM25_K).select(
        _orig_id(F.col("ext_id")), "score"
    )
    embs = _read(spark, sf_dir, "embeddings")
    qrow = embs.where(F.col("vec_id") == 0).select("embedding").first()
    qcol = F.array(*[F.lit(float(x)) for x in qrow["embedding"]])
    scored = embs.where(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("doc_id"),
        (
            similarity._dot(F.col("embedding"), qcol)
            / (similarity._norm(F.col("embedding")) * similarity._norm(qcol))
        ).alias("score"),
    )
    order = [F.desc("score"), F.asc("doc_id")]
    vec = ranked(scored.orderBy(*order).limit(BM25_K), order, k=BM25_K)
    fused = combsum_fuse(
        [
            ("lex", lex.select("doc_id", "score")),
            ("vec", vec.select("doc_id", "score")),
        ],
        mnz=True,
    )
    return fused.select(
        "doc_id",
        F.col("n_matched").cast("long").alias("n_matched"),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("fused")).alias("fused"),
    )


def q_letor_minmax(spark, sf_dir):
    """LeToR per-query min-max feature normalization (letor.py
    normalize_per_query — SURVEY A9, LearnToRank.java:279-314): two
    deterministic features over documents grouped into 3 qids, with
    planted NaNs (NaN excluded from min/max and passed through, the
    reference's convention). Twin replays the windows with NaN→NULL
    inside min/max (DuckDB sorts NaN greatest, so the exclusion must be
    explicit there)."""
    from .letor import normalize_per_query

    docs = _read(spark, sf_dir, "documents")
    feats = docs.select(
        F.concat(F.lit("q"), (F.col("doc_id") % 3).cast("string")).alias(
            "qid"
        ),
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.lit(float("nan")))
        .otherwise(
            F.length(F.coalesce(F.col("text"), F.lit(""))).cast("double")
        )
        .alias("f_len"),
        (F.col("doc_id") % 7).cast("double").alias("f_mod"),
    )
    out = normalize_per_query(feats)
    return out.select(
        "qid",
        "doc_id",
        _r4(F.col("f_len")).alias("f_len"),
        _r4(F.col("f_mod")).alias("f_mod"),
    )


def q_letor_rerank(spark, sf_dir):
    """End-to-end LeToR rerank (round-5 driver check for S14/S15/J12,
    LearnToRank.java:735-826's re-ranking stage with a fixed linear
    model): the letor_minmax feature frame (same planted NaNs) through
    letor.normalize_per_query → letor.rerank({f_len: 2.0, f_mod: -1.0},
    k=10).  NaN features contribute 0.0 to the dot product (the
    reference's convention for missing features at scoring time); ties
    break by asc ext_id, which equals asc doc_id under the zero-padded
    id scheme.  The twin replays the UNROUNDED min-max windows, the
    same child-order weighted sum, and the per-qid row_number cut."""
    from .letor import normalize_per_query, rerank

    docs = _read(spark, sf_dir, "documents")
    feats = docs.select(
        F.concat(F.lit("q"), (F.col("doc_id") % 3).cast("string")).alias(
            "qid"
        ),
        "doc_id",
        F.format_string("doc-%09d:0", F.col("doc_id")).alias("ext_id"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(float("nan")))
        .otherwise(
            F.length(F.coalesce(F.col("text"), F.lit(""))).cast("double")
        )
        .alias("f_len"),
        (F.col("doc_id") % 7).cast("double").alias("f_mod"),
    )
    out = rerank(
        normalize_per_query(feats), {"f_len": 2.0, "f_mod": -1.0}, k=10
    )
    return out.select(
        "qid",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


def q_conv_quality(spark, sf_dir):
    """Conversation-structure quality gates (pipeline/curate.conv_quality)
    over the synthetic 5-turn conversations (roles by doc parity, so
    half the conversations start with 'assistant' and fail the
    starts_with_user gate — both keep branches exercised)."""
    from .pipeline.curate import conv_quality

    docs = _read(spark, sf_dir, "documents")
    turns = docs.select(
        (F.col("doc_id") / 5).cast("long").alias("conv_id"),
        (F.col("doc_id") % 5).cast("int").alias("turn_idx"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        "text",
    )
    return conv_quality(turns)


def q_tool_transitions(spark, sf_dir):
    """Agent tool-transition mining (pipeline/curate.tool_transitions)
    over the synthetic 5-turn conversations, tool := the documents
    source column (the input_hint tool mapping); every fifth turn
    tool-less to exercise the transparent-NULL convention."""
    from .pipeline.curate import tool_transitions

    docs = _read(spark, sf_dir, "documents")
    turns = docs.select(
        (F.col("doc_id") / 5).cast("long").alias("conv_id"),
        (F.col("doc_id") % 5).cast("int").alias("turn_idx"),
        F.when(F.col("doc_id") % 5 == 2, F.lit(None).cast("string"))
        .otherwise(F.col("source"))
        .alias("tool"),
    )
    return tool_transitions(turns)


def q_chat_render(spark, sf_dir):
    """Chat-format training export (pipeline/render.py): documents
    grouped into the synthetic 5-turn conversations (doc_id div/mod 5,
    role alternating by doc parity), rendered to one training document
    per conversation with assistant loss-mask spans; one output row per
    loss span (conversations whose turns are all user-role drop out with
    the explode, mirrored by the twin's role filter)."""
    from .pipeline.render import render_chat

    docs = _read(spark, sf_dir, "documents")
    turns = docs.select(
        (F.col("doc_id") / 5).cast("long").alias("conv_id"),
        (F.col("doc_id") % 5).cast("int").alias("turn_idx"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        "text",
    )
    rendered = render_chat(turns)
    return rendered.select(
        "conv_id", "n_turns", "text", F.explode("loss_spans").alias("_s")
    ).select(
        "conv_id",
        "n_turns",
        "text",
        F.col("_s.start").alias("span_start"),
        F.col("_s.end").alias("span_end"),
    )


def q_conv_fp(spark, sf_dir):
    """Conversation-level exact-dedup fingerprints: documents grouped
    into 5-turn conversations (doc_id div/mod 5 — the same synthetic
    conv structure as conv_rollup), order-sensitive md5-of-turn-md5s
    per conversation."""
    docs = _read(spark, sf_dir, "documents")
    turns = docs.select(
        (F.col("doc_id") / 5).cast("long").alias("conv_id"),
        (F.col("doc_id") % 5).cast("int").alias("turn_idx"),
        "text",
    )
    return dedup.conv_fingerprints(turns).select(
        "conv_id", "n_turns", "conv_fp"
    )


def q_neardup_pairs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.near_dup_pairs(docs, threshold=0.8, k=3, num_hashes=32, bands=16)
    return pairs.select("a", "b", _r4(F.col("jaccard")).alias("jaccard"))


def q_ngram_jaccard(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, k=3)
    return pairs.select("a", "b", _r4(F.col("jaccard")).alias("jaccard"))


def q_neardup_clusters(spark, sf_dir):
    """End-to-end dedup ACTION: minhash-LSH pairs → large-star/small-star
    connected components (pipeline/cc.py) → per-doc cluster id + canonical
    election. Same pair parameterization as `neardup_pairs` (LSH provably
    exhaustive at these settings on the test corpus), so the DuckDB twin
    regenerates the pairs brute-force and closes them with a recursive CTE.
    """
    from .pipeline import cc as ccm

    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.near_dup_pairs(docs, threshold=0.8, k=3, num_hashes=32, bands=16)
    return ccm.dedup_clusters(docs, pairs).select(
        "doc_id", "cluster_id", "is_canonical"
    )


def q_dedup_keep_best(spark, sf_dir):
    """The keep-best-of-cluster dedup ACTION: same minhash-LSH pairs
    and connected components as `neardup_clusters`, but the canonical
    member is the cluster's LONGEST doc (elect_by=n_chars, ties to min
    id) — the C4/RefinedWeb keep-best rule rather than min-id."""
    from .pipeline import cc as ccm

    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.near_dup_pairs(docs, threshold=0.8, k=3, num_hashes=32, bands=16)
    return ccm.dedup_clusters(docs, pairs, elect_by="n_chars").select(
        "doc_id", "cluster_id", "is_canonical"
    )


def q_chunks(spark, sf_dir):
    """RAG-style token-window chunking (pipeline/chunking.py):
    chunk_size=32, overlap=8 over `documents`; the DuckDB twin replays
    the identical geometry with generate_series + list_slice."""
    from .pipeline.chunking import chunk_documents

    docs = _read(spark, sf_dir, "documents")
    ch = chunk_documents(docs, chunk_size=32, overlap=8)
    return ch.select(
        "doc_id", "chunk_idx", "start_tok", "end_tok", "n_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


def q_quality(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    q = textstats.quality_features(docs)
    return q.select(
        "doc_id",
        "n_tokens",
        _r4(F.col("ttr")).alias("ttr"),
        _r4(F.col("stopword_ratio")).alias("stopword_ratio"),
        _r4(F.col("digit_ratio")).alias("digit_ratio"),
        "n_chars",
    )


def q_lang_id(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return textstats.lang_id(docs)


def q_token_counts(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    tc = textstats.token_counts(docs)
    return tc.select(
        "doc_id", "n_ws", "n_bpe", _r4(F.col("bpe_per_ws")).alias("bpe_per_ws")
    )


def q_tfidf(spark, sf_dir):
    """Sparse tf-idf document vectors (TfidfVectorizer smooth-idf
    semantics) — the COO document-term-matrix export for ML training."""
    docs = _read(spark, sf_dir, "documents")
    out = textstats.tfidf_vectors(docs)
    return out.select(
        "doc_id", "term", "tf", _r4(F.col("tfidf")).alias("tfidf")
    )


def q_source_report(spark, sf_dir):
    """Per-source corpus rollup (the domain-reweighting dashboard):
    volume, length, quality band, within-source exact-dup fraction."""
    docs = _read(spark, sf_dir, "documents")
    out = textstats.source_report(docs)
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        _r4(F.col("avg_tokens")).alias("avg_tokens"),
        _r4(F.col("avg_ttr")).alias("avg_ttr"),
        _r4(F.col("avg_stopword_ratio")).alias("avg_stopword_ratio"),
        _r4(F.col("exact_dup_frac")).alias("exact_dup_frac"),
    )


def q_cooccur(spark, sf_dir):
    """Windowed skip-gram co-occurrence counts (textstats.cooccurrence,
    window=3, min_count=5); DuckDB twin is a tokpos position self-join."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.cooccurrence(docs, window=3, min_count=5)


def q_corpus_profile(spark, sf_dir):
    """One-row corpus report (textstats.corpus_profile) — exact columns
    only; the HLL sketch twin is pytest-bounded (test_textstats_extra)."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.corpus_profile(docs).drop("approx_vocab")


def q_curation(spark, sf_dir):
    """Full C4-shaped curation funnel (pipeline/curate.py): per-doc gate
    verdicts (quality, language, dedup-winner) + split assignment — the
    oracle replays every gate in SQL."""
    from .pipeline import curate as cur

    docs = _read(spark, sf_dir, "documents")
    return cur.curation_flags(
        docs, min_tokens=40, min_ttr=0.45, max_digit_ratio=0.3,
        langs=("en",), seed=42,
    )


def q_pq_exactcode(spark, sf_dir):
    """Product quantization in its provably-exact configuration
    (ksub ≥ N, refine=0 → identity codes): the full train → encode →
    ADC-scan path must reproduce brute-force squared-L2 top-10. The
    compressed production configuration (ksub ≪ N) of the SAME code is
    recall-tested in tests/test_pq.py."""
    from .pipeline import pq as pqm

    embs = _read(spark, sf_dir, "embeddings")
    books = pqm.pq_train(embs, m=8, ksub=embs.count(), refine=0)
    qvec = [
        float(x)
        for x in embs.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    codes = pqm.pq_encode(embs.where(F.col("vec_id") != 0), books)
    top = pqm.pq_query_adc(codes, books, qvec, k=10)
    return top.select("vec_id", _r4(F.col("adc_dist")).alias("adc_dist"))


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment (pipeline/sampling.py):
    per-doc split must match the oracle's md5-bucket CASE expression."""
    from .pipeline import sampling

    docs = _read(spark, sf_dir, "documents")
    return sampling.split_assign(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05}, seed=42
    ).select("doc_id", "split")


def q_hash_sample(spark, sf_dir):
    """Deterministic Bernoulli(0.25) subsample, seed 7."""
    from .pipeline import sampling

    docs = _read(spark, sf_dir, "documents")
    return sampling.hash_sample(docs, 0.25, seed=7).select("doc_id", "lang")


def q_stratified_sample(spark, sf_dir):
    """Exact 5-per-(lang, source) deterministic sample, seed 13 —
    including the bucket-threshold prefilter scale path, which must be
    invisible in the output (provably a superset of the winners)."""
    from .pipeline import sampling

    docs = _read(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs, n=5, strata=("lang", "source"), seed=13
    ).select("lang", "source", "doc_id")


MIX_WEIGHTS = {"src0": 3.0, "src1": 1.0}
MIX_N = 120
MIX_SEED = 11


def q_mixture_mix(spark, sf_dir):
    """Deterministic data mixing with fractional epochs: resample so
    src0:src1 = 3:1 at 120 rows (seed 11). At sf0.01 (25 docs per
    source) that upsamples src0 to 3 full copies + a 15-row remainder
    draw and src1 to 1 copy + 5 — both the epoch-explosion and the
    exact md5-order remainder paths are exercised and replayed by the
    twin."""
    from .pipeline import sampling

    docs = _read(spark, sf_dir, "documents")
    out = sampling.mixture_sample(
        docs, MIX_WEIGHTS, MIX_N, group_col="source", seed=MIX_SEED
    )
    return out.select("doc_id", F.col("epoch").cast("long").alias("epoch"))


DUPSPAN_N = 8


def q_dup_spans(spark, sf_dir):
    """Exact duplicated-substring spans (Lee et al. 2022-style substring
    dedup): maximal token spans covered by 8-token windows appearing
    verbatim in ≥2 distinct documents, merged per doc."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.duplicate_spans(docs, n=DUPSPAN_N, min_docs=2).select(
        "doc_id", "span_start", "span_end", "n_windows"
    )


def q_decontam(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix C / Llama 13-gram rule,
    here at the corpus-appropriate n=8): every doc_id % 23 == 0 document
    plays the held-out eval set; the rest of the corpus is checked for
    verbatim 8-token-window overlap against it."""
    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 23 == 0)
    corpus = docs.where(F.col("doc_id") % 23 != 0)
    out = dedup.decontaminate(corpus, bench, n=DUPSPAN_N)
    return out.select(
        "doc_id",
        "n_windows",
        "n_contaminated",
        _r4(F.col("contam_frac")).alias("contam_frac"),
        "is_contaminated",
    )


def q_lm_score(spark, sf_dir):
    """CCNet-style perplexity filter: add-alpha bigram LM trained on the
    corpus, each doc scored by cross-entropy under it (two count aggs +
    two scoring joins — no broadcast cap on the model size)."""
    from .pipeline import lm

    docs = _read(spark, sf_dir, "documents")
    bigrams, contexts, vocab = lm.lm_train(docs)
    out = lm.lm_score(docs, bigrams, contexts, vocab, alpha=0.1)
    return out.select(
        "doc_id", "n_bigrams", _r4(F.col("cross_entropy")).alias("cross_entropy")
    )


def q_ppl_buckets(spark, sf_dir):
    """CCNet perplexity partition (Wenzek et al. 2020): the lm_score
    pipeline's cross-entropy, rounded to the contract's 4-dp grid (so
    both engines bucket identical values — unrounded averages differ in
    summation order), split head/middle/tail at the exact 0.25/0.75
    percentiles; short docs with no bigrams labeled 'unscored'."""
    from .pipeline import lm

    docs = _read(spark, sf_dir, "documents")
    bigrams, contexts, vocab = lm.lm_train(docs)
    scored = lm.lm_score(docs, bigrams, contexts, vocab, alpha=0.1)
    scored = scored.withColumn("ce4", _r4(F.col("cross_entropy")))
    out = lm.ppl_partition(scored, col="ce4", fractions=(0.25, 0.5, 0.25))
    return out.select("doc_id", "bucket")


def q_pii_scrub(spark, sf_dir):
    """C4-style PII scrub: emails → <EMAIL>, IPv4 → <IP>, 8+-digit runs
    → <NUM>, plus per-doc match counts. Zero-UDF regexp chain; the twin
    replays the same (Java-regex ∩ RE2)-portable patterns."""
    docs = _read(spark, sf_dir, "documents")
    # The synthetic corpus is PII-free; plant deterministic PII so the
    # entry actually exercises every pattern (same expression in SQL).
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact bob.smith+x@example.co.uk or 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".1 ref 1234567890"),
            ),
        ).otherwise(F.col("text")),
    )
    return textstats.pii_scrub(planted)


def q_repetition(spark, sf_dir):
    """Gopher-style repetition quality gates per document — duplicate
    lines, top-bigram dominance, duplicated trigram occurrences. Zero
    shuffle, zero UDF (pure array expressions over the corpus scan)."""
    docs = _read(spark, sf_dir, "documents")
    out = textstats.repetition_signals(docs)
    return out.select(
        "doc_id",
        "n_lines",
        _r4(F.col("dup_line_frac")).alias("dup_line_frac"),
        _r4(F.col("dup_line_char_frac")).alias("dup_line_char_frac"),
        _r4(F.col("top_bigram_frac")).alias("top_bigram_frac"),
        _r4(F.col("dup_trigram_frac")).alias("dup_trigram_frac"),
    )


def q_shard_assign(spark, sf_dir):
    """Training-shard export assignment: deterministic shard (md5 bucket
    mod 8) + each row's position in its shard's reproducible shuffled
    order — the no-rand() global shuffle of a training pipeline."""
    from .pipeline import sampling

    docs = _read(spark, sf_dir, "documents")
    return sampling.shard_assign(docs, 8, seed=9, with_pos=True).select(
        "doc_id", "shard", "pos"
    )


def q_knn_cosine(spark, sf_dir):
    embs = _read(spark, sf_dir, "embeddings")
    qrow = embs.where(F.col("vec_id") == 0).select("embedding").first()
    qvec = [float(x) for x in qrow["embedding"]]
    scored = embs.where(F.col("vec_id") != 0).select(
        "vec_id",
        (
            similarity._dot(F.col("embedding"), F.array(*[F.lit(x) for x in qvec]))
            / (
                similarity._norm(F.col("embedding"))
                * similarity._norm(F.array(*[F.lit(x) for x in qvec]))
            )
        ).alias("cosine"),
    )
    top = scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(10)
    return top.select("vec_id", _r4(F.col("cosine")).alias("cosine"))


def q_knn_join(spark, sf_dir):
    """Batched exact kNN: the first 5 vectors each retrieve their top-5
    neighbors from the rest of the table in ONE job (numpy-matmul
    candidate generation + JVM fold-cosine rerank). Scores must be
    IEEE-identical to the oracle's per-query scans."""
    embs = _read(spark, sf_dir, "embeddings")
    queries = embs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.knn_join(embs.where(F.col("vec_id") >= 5), queries, k=5)
    return out.select(
        "query_id", "vec_id", "rank", _r4(F.col("cosine")).alias("cosine")
    )


def q_events_hourly(spark, sf_dir):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            _r4(F.sum("value")).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("hour"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def q_facet_date_hist(spark, sf_dir):
    """Calendar-interval date histogram (ES date_histogram with
    calendar_interval=week): weekly purchase-event counts (Monday-start weeks, 5 buckets at sf0.01) over the
    whole events frame (hits=None, the event-analytics shape). Months
    are not fixed-width, so this is date_trunc bucketing, not the
    epoch-seconds facet_histogram."""
    from .facets import facet_date_histogram

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _read(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    out = facet_date_histogram(None, ev, "ts", "week")
    return out.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("bucket"), "n"
    )


def q_asof_attrib(spark, sf_dir):
    """As-of join (kdb aj / pandas merge_asof / DuckDB ASOF analog,
    operators/asof.py): every purchase attributed to the user's latest
    click at-or-before it within 1 hour — single-shuffle union+window,
    never a range-join explosion. The DuckDB twin replays the exact
    latest-row election with a LEFT JOIN + row_number qualify (ties:
    ts desc, event_id desc — the payload-struct ordering)."""
    from .operators.asof import as_of_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _read(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = as_of_join(
        purchases,
        clicks,
        ["user_id"],
        tolerance=3600.0,
        right_cols=["event_id", "value"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.date_format("ts_r", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.col("event_id_r").alias("click_id"),
        _r4(F.col("value_r")).alias("click_value"),
    )


def q_interval_join(spark, sf_dir):
    """Interval join (streaming/joins.py — the Structured Streaming
    stream-stream join shape run on the batch path): ALL clicks in
    the hour at-or-before each purchase per user. Complements
    `asof_attrib`, which keeps only the latest match; the stream run
    is verified ≡ this batch plan in tests/test_streaming_joins.py."""
    from .streaming.joins import interval_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _read(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = interval_join(purchases, clicks, ["user_id"], upper=3600.0)
    return out.select(
        "event_id",
        "user_id",
        F.col("event_id_r").alias("click_id"),
        _r4(F.col("value_r")).alias("click_value"),
    )


def q_user_sessions(spark, sf_dir):
    """Gap-based sessionization (streaming/events.py user_sessions, run in
    batch mode): Spark's session_window vs the DuckDB gaps-and-islands
    twin — per-user sessions with a 30-minute inactivity gap."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from .streaming.events import user_sessions

    ev = _read(spark, sf_dir, "events")
    out = user_sessions(ev, gap="30 minutes")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("s_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("s_end"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_types").cast("long").alias("n_types"),
    )


def q_multimodal_features(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text-blob").alias("modality"),
        F.encode("text", "utf-8").cast("binary").alias("payload"),
        F.create_map(F.lit("src"), F.coalesce("source", F.lit(""))).alias("meta"),
    )
    feats = multimodal.decode_features(assets)
    return feats.select(
        "asset_id",
        "n_bytes",
        "decode_ok",
    )


def q_vsm_cosine(spark, sf_dir):
    """lnc.ltc vector-space cosine (LearnToRank.java:450-480, the
    north_star's 'vector-space scorer') — full scored set, no top-k cut."""
    from .vsm import vsm_scores

    eng = get_engine(spark, sf_dir)
    scored = vsm_scores(eng.reader, ["spark", "merge", "window"])
    docmap = eng.reader.docmap().select("doc_id", "ext_id")
    return scored.join(docmap, "doc_id").select(
        _orig_id(F.col("ext_id")), _r4(F.col("score")).alias("score")
    )


def q_prf_terms(spark, sf_dir):
    """PRF expansion-term scoring (QryExpansion.java:172-197, fbMu=0) over
    the top-10 BM25 seed ranking of the flagship query; top 25 terms by
    (rounded score desc, term asc) — rounding first keeps the cross-engine
    ordering deterministic."""
    from .plans.models import BM25
    from .prf import expansion_terms

    eng = get_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, BM25(), k=10)
    ranking = [(r["doc_id"], float(r["score"])) for r in top.collect()]
    terms = expansion_terms(eng, ranking, fb_terms=1_000_000, fb_mu=0.0)
    df = spark.createDataFrame(terms, "term string, score double")
    return (
        df.select("term", _r4(F.col("score")).alias("score"))
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(25)
    )


def q_prf_search(spark, sf_dir):
    """Full PRF loop end-to-end (entry point 2: QryEval.java:209-214 +
    QryExpansion.java:217-220, round-5 driver check): BM25 seed top-10
    of the flagship query → 5 expansion terms (fbMu=0) → the reference's
    expanded-query string
    ``#wand( 0.5 #and(spark merge) 0.5 #wand( w1 t1 ... w5 t5 ) )``
    (weights %.4f-formatted by prf.render_wand) → re-parsed and
    re-ranked under Indri through the full compiler (nested
    #wand/#and soft folds with missing-doc defaults).

    The twin recomputes the seed and candidate-term scores in SQL
    (bit-identical BM25/expansion arithmetic, already proven by the
    bm25_topk/prf_terms twins), derives the SAME weights via
    printf('%.4f'), cuts the term set by (rounded score desc, term asc)
    — the prf_terms cross-engine ordering convention — and replays the
    nested Indri folds: the inner dynamic-term #wand as an order-exact
    left-fold product ``list_reduce(list_prepend(1.0, list(pow(s,
    w/wsum) ORDER BY ord)), *)``, the outer 2-child #wand as the
    literal pow chain, over the union candidate set with two-stage
    smoothing defaults for absent terms."""
    from .plans.models import BM25, Indri
    from .prf import expand_query

    eng = get_engine(spark, sf_dir)
    seed = eng.search(BM25_QUERY, BM25(), k=10)
    ranking = [(r["doc_id"], float(r["score"])) for r in seed.collect()]
    expanded = expand_query(
        eng,
        "spark merge",
        Indri(),
        fb_docs=10,
        fb_terms=5,
        fb_mu=0.0,
        fb_orig_weight=0.5,
        initial_ranking=ranking,
    )
    top = eng.search(expanded, Indri(), k=BM25_K)
    return top.select(
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


def q_emb_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact variant; the RP-LSH
    bucketed variant is the scale path, tests/test_similarity.py checks
    its recall against this)."""
    embs = _read(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dup_pairs(embs, threshold=0.4, exact=True)
    return pairs.select("a", "b", _r4(F.col("cosine")).alias("cosine"))


# Fixed deterministic weights for the classifier inference entry: the
# TRAINING loop is float-sum-order sensitive (locked by pytest instead);
# inference with literal weights is exactly SQL-replayable.
CLS_DIM = 64
CLS_W = [round(((j * 37) % 21 - 10) / 10.0, 4) for j in range(CLS_DIM)]
CLS_B = 0.25


def q_sorted_search(spark, sf_dir):
    """Field-sorted retrieval (Elasticsearch sort-API analog): the
    #OR(spark merge) match set ordered by the source metadata column
    (asc) with the ext_id tie-break, relevance score still returned."""
    from .plans.models import RankedBoolean

    eng = get_engine(spark, sf_dir)
    out = eng.search_sorted(
        "#OR(spark merge)", RankedBoolean(), ["tool asc"], k=25
    )
    return out.select(
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        F.col("score"),
    )


def q_rescore_phrase(spark, sf_dir):
    """Two-pass rescoring (Elasticsearch rescore-API analog): BM25
    first pass, then the top window re-ranked with a +0.5 boost for
    docs containing the exact phrase "spark merge" (adjacent, in
    order) — the classic phrase-boost rescorer."""
    from .plans.models import BM25, UnrankedBoolean

    eng = get_engine(spark, sf_dir)
    out = eng.search_rescore(
        BM25_QUERY, BM25(),
        "#NEAR/1(spark merge)", UnrankedBoolean(),
        window=BM25_K, k=BM25_K, rescore_weight=0.5,
    )
    return out.select(
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


PERCOLATE_QUERIES = {
    "q_and": "#AND(spark merge)",
    "q_or": "#OR(window data)",
    "q_near": "#NEAR/2(spark merge)",
    "q_msm": "#MSM/2(spark merge window)",
    # round 4: composed IL children through the per-doc kernel path.
    # #FIRST over #SYN = any synonym position < n (positional union);
    # 2-child #NEAR with a #SYN first arg: the greedy kernel provably
    # coincides with the exists-pair semantics for k=2 (see
    # percolate.py module docstring), so an ANSI join twin is exact.
    "q_first_syn": "#FIRST/3(#SYN(spark merge))",
    "q_near_syn": "#NEAR/2(#SYN(spark data) merge)",
}


def q_percolate(spark, sf_dir):
    """Percolator (Elasticsearch percolate analog — reverse search):
    the whole documents table treated as an ingest batch, matched
    against four stored structured queries; one analyze pass, set
    algebra per query, one unioned plan."""
    from .percolate import percolate

    docs = _read(spark, sf_dir, "documents")
    return percolate(
        docs, PERCOLATE_QUERIES, cfg=AnalyzerConfig.sql_safe()
    )


def q_percolate_bulk(spark, sf_dir):
    """Registry-scale percolation path (round 5, percolate_bulk): the
    SAME stored-query registry as q_percolate, but with the flat
    boolean queries (q_and, q_or) compiled to the broadcast
    (query_id, term) side table — ONE join + ONE aggregation,
    constant plan size in registry count — and the structural tail
    (positional/#MSM) through the exact chunked branch evaluator.
    Shares q_percolate's ORACLE_SQL verbatim: both paths must produce
    the identical (query_id, doc_id) match set."""
    from .percolate import percolate_bulk

    docs = _read(spark, sf_dir, "documents")
    return percolate_bulk(
        docs, PERCOLATE_QUERIES, cfg=AnalyzerConfig.sql_safe()
    )


FUNNEL_STEPS = ["signup", "view", "purchase"]
FUNNEL_WITHIN = 7 * 86400.0
RETENTION_PERIOD = 7 * 86400.0


def q_funnel(spark, sf_dir):
    """Ordered conversion funnel over the events table (first-touch
    semantics, 7-day journey window): signup → view → purchase."""
    from .streaming.events import funnel_counts

    evd = _read(spark, sf_dir, "events")
    return funnel_counts(evd, FUNNEL_STEPS, within=FUNNEL_WITHIN)


def q_retention(spark, sf_dir):
    """Weekly cohort retention matrix over the events table: users
    bucketed by first-event week; distinct active users per (cohort,
    week offset)."""
    from .streaming.events import retention_cohorts

    evd = _read(spark, sf_dir, "events")
    return retention_cohorts(evd, period_seconds=RETENTION_PERIOD)


def q_classify_score(spark, sf_dir):
    """Linear quality-classifier inference (the fastText-style learned
    document filter): hashed bag-of-words features (md5-bucket, L1
    normalized) dotted with a fixed weight vector + sigmoid, over every
    document (empty docs score the bias alone)."""
    from .pipeline import classify

    docs = _read(spark, sf_dir, "documents")
    feats = classify.featurize(docs, dim=CLS_DIM, seed=0)
    out = classify.score(feats, CLS_W, CLS_B, all_ids=docs)
    return out.select("doc_id", _r4(F.col("p")).alias("p"))


DSIR_DIM = 256
DSIR_ALPHA = 1.0
DSIR_SEED = 0
DSIR_TARGET_LANG = "fr"
DSIR_NSEL = 120


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    bucket models fit on the lang='fr' target vs the whole pool;
    per-doc log p_t/p_r weight via the ascending-bucket deterministic
    fold so the DuckDB twin replays the double bit-for-bit."""
    from .pipeline import dsir

    docs = _read(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == DSIR_TARGET_LANG)
    fr = dsir.hashed_ngram_features(docs, dim=DSIR_DIM, seed=DSIR_SEED)
    ft = dsir.hashed_ngram_features(target, dim=DSIR_DIM, seed=DSIR_SEED)
    lp_t = dsir.fit_bucket_logprobs(ft, dim=DSIR_DIM, alpha=DSIR_ALPHA)
    lp_r = dsir.fit_bucket_logprobs(fr, dim=DSIR_DIM, alpha=DSIR_ALPHA)
    w = dsir.importance_weights(fr, lp_t, lp_r, ordered=True)
    return docs.join(w, "doc_id", "left").select(
        "doc_id", _r4(F.coalesce(F.col("logw"), F.lit(0.0))).alias("logw")
    )


def q_dsir_select(spark, sf_dir):
    """DSIR Gumbel-top-k resampling: the end-to-end selection of the
    120 most target-like (plus deterministic-noise) documents. The
    md5-derived Gumbel draw and the ordered weight fold make the
    (logw + gumbel) sort key engine-replayable, so the top-k cut is
    stable across Spark and DuckDB."""
    from .pipeline import dsir

    docs = _read(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == DSIR_TARGET_LANG)
    out = dsir.dsir_select(
        docs,
        target,
        n_select=DSIR_NSEL,
        dim=DSIR_DIM,
        alpha=DSIR_ALPHA,
        seed=DSIR_SEED,
        ordered=True,
    )
    return out.select("doc_id", _r4(F.col("key")).alias("key"))


PR_DAMPING = 0.85
PR_ITERS = 5
PR_OUTDEG = 3


def q_pagerank(spark, sf_dir):
    """Damped PageRank (pipeline/graph.py) over a deterministic
    md5-derived link graph on the documents table: each doc links to
    PR_OUTDEG targets ``bucket16(doc_id|e{j}) % N`` (the shared
    engine-portable hash family), 5 power iterations at damping 0.85
    with ordered contribution folds so the DuckDB twin replays every
    double bit-for-bit. Every node has out-degree >= 1 by construction,
    so the dangling term is exactly 0.0 on both sides."""
    from .pipeline import dsir, graph

    docs = _read(spark, sf_dir, "documents")
    n = docs.count()
    legs = [
        docs.select(
            F.col("doc_id").alias("src"),
            (
                dsir._bucket16(
                    F.concat(F.col("doc_id").cast("string"), F.lit(f"|e{j}")), 0
                )
                % n
            ).cast("long").alias("dst"),
        )
        for j in range(PR_OUTDEG)
    ]
    edges = legs[0]
    for leg in legs[1:]:
        edges = edges.union(leg)
    ranks = graph.pagerank(
        edges,
        damping=PR_DAMPING,
        iters=PR_ITERS,
        nodes=docs.select(F.col("doc_id").alias("id")),
        ordered=True,
    )
    return ranks.select(F.col("id").alias("doc_id"), _r4(F.col("p")).alias("p"))


def _pagerank_sql() -> str:
    nn = "(SELECT count(*)::DOUBLE FROM documents)"
    legs = " UNION ALL ".join(
        f"SELECT doc_id AS src, ({_b16_sql('doc_id::VARCHAR || ' + repr('|e' + str(j)), 0)}"
        f" % (SELECT count(*) FROM documents))::BIGINT AS dst FROM documents"
        for j in range(PR_OUTDEG)
    )
    sql = f"""
WITH e AS (SELECT DISTINCT src, dst FROM ({legs})),
outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
r0 AS (SELECT doc_id AS id, 1.0 / {nn} AS p FROM documents)"""
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        sql += f""",
r{i} AS (
  SELECT n.id,
         (1.0::DOUBLE - {PR_DAMPING}::DOUBLE) / {nn}
         + {PR_DAMPING}::DOUBLE * COALESCE(c.s, 0.0) AS p
  FROM r0 n LEFT JOIN (
    SELECT e.dst AS id,
           list_reduce(list_prepend(0.0, list(r.p / o.outdeg ORDER BY e.src)),
                       (a, b) -> a + b) AS s
    FROM e JOIN {prev} r ON r.id = e.src JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst
  ) c ON c.id = n.id
)"""
        prev = f"r{i}"
    sql += f"\nSELECT id AS doc_id, round(p, 4) + 0.0 AS p FROM {prev}"
    return sql


def _tmp_fixture_root(sf_dir: str, name: str) -> tuple[str, str]:
    """(root, ident) for a /tmp round-trip fixture keyed by the source
    parquet's identity (path + size + mtime) — ONE cache-invalidation
    rule shared by every source round-trip entry."""
    import hashlib
    import os

    src = os.path.join(sf_dir, "documents.parquet")
    ident = f"{sf_dir}|{os.path.getsize(src)}|{int(os.path.getmtime(src))}"
    digest = hashlib.md5(ident.encode()).hexdigest()[:12]
    return os.path.join("/tmp", f"sefs_{name}", digest), ident


def q_warc_ingest(spark, sf_dir):
    """WARC source round-trip (sources/warc.py — the Common Crawl
    ingestion format): the documents table is serialized into 4 WARC
    shards (2 plain, 2 record-gzipped .warc.gz) as HTTP response
    records, then read back with the distributed binaryFile+mapInPandas
    reader; doc_id comes from the WARC-Target-URI, text from the HTTP
    body. The builder is a driver-side test fixture (WARC is an input
    format); the READ path is the scale path under test. Oracle: the
    documents table itself."""
    import os

    from .sources import warc as warcmod

    root, ident = _tmp_fixture_root(sf_dir, "warc")
    done = os.path.join(root, "_done")
    if not os.path.exists(done):
        os.makedirs(root, exist_ok=True)
        rows = (
            _read(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .orderBy("doc_id")
            .collect()
        )
        shards = 4
        for s in range(shards):
            recs = [
                {
                    "warc_type": "response",
                    "record_id": f"<urn:uuid:{r['doc_id']:08d}>",
                    "target_uri": f"http://corpus.test/doc/{r['doc_id']}",
                    "warc_date": "2026-01-01T00:00:00Z",
                    "http_status": 200,
                    "http_content_type": "text/plain",
                    "payload": (r["text"] or "").encode(),
                }
                for r in rows
                if r["doc_id"] % shards == s
            ]
            gz = s % 2 == 1
            fn = os.path.join(root, f"part-{s}.warc" + (".gz" if gz else ""))
            # temp name must NOT match the read glob (*.warc*): a crash
            # between write and rename must leave nothing readable
            tmp = os.path.join(root, f"part-{s}.tmp")
            with open(tmp, "wb") as f:
                f.write(warcmod.build_warc_bytes(recs, gzip_members=gz))
            os.replace(tmp, fn)
        with open(done, "w") as f:
            f.write(ident)
    df = warcmod.read_warc(spark, os.path.join(root, "*.warc*"))
    return df.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("payload").cast("string").alias("text"),
    )


FOLD_INJECT_SRC = "aeocnu"
FOLD_INJECT_DST = "àéôçñü"


def q_fold_accents(spark, sf_dir):
    """ASCII folding (Lucene ASCIIFoldingFilter analog,
    functions/folding.py): accents are injected deterministically into
    the documents text (translate a→à … plus a one→many þ case), then
    folded back with the JVM column fold; the DuckDB twin replays the
    injection AND the exact replace+translate fold chain generated
    from the same FOLD map."""
    from .functions.folding import fold_ascii_col

    docs = _read(spark, sf_dir, "documents")
    inj = F.translate(F.col("text"), FOLD_INJECT_SRC, FOLD_INJECT_DST)
    inj = F.replace(inj, F.lit("th"), F.lit("þ"))
    return docs.select("doc_id", F.md5(fold_ascii_col(inj)).alias("folded_md5"))


def q_jsonl_ingest(spark, sf_dir):
    """JSONL source round-trip (sources/jsonl.py — the corpus-release
    interchange format): documents written as gzipped JSON-lines part
    files by the distributed writer, read back under an explicit
    schema in FAILFAST mode. Oracle: the documents table itself."""
    import os

    from .sources import jsonl

    root, _ = _tmp_fixture_root(sf_dir, "jsonl")
    if not os.path.exists(os.path.join(root, "_SUCCESS")):
        jsonl.write_jsonl(_read(spark, sf_dir, "documents"), root)
    df = jsonl.read_jsonl(
        spark,
        root,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return df.select("doc_id", "text", "lang", "source", "n_chars")


WS_SEED = 5
WS_N = 80


def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement
    (pipeline/sampling.weighted_sample): 80 documents drawn with
    probability ∝ n_chars via the deterministic Gumbel key ln(w)+g;
    the DuckDB twin replays the 48-bit md5 uniform digit for digit."""
    from .pipeline.sampling import weighted_sample

    docs = _read(spark, sf_dir, "documents")
    out = weighted_sample(docs, WS_N, "n_chars", seed=WS_SEED)
    return out.select("doc_id", _r4(F.col("skey")).alias("skey"))


def q_sq_search(spark, sf_dir):
    """SQ8 scalar-quantized ANN (FAISS QT_8bit / Lucene int8 analog):
    per-dim [min,max] trained on the corpus, uint8 codes, asymmetric
    cosine top-10 of the float query against RECONSTRUCTED vectors —
    the DuckDB twin replays train+encode+search end to end."""
    from .pipeline import sq

    embs = _read(spark, sf_dir, "embeddings")
    mins, maxs = sq.sq_train(embs)
    qrow = embs.where(F.col("vec_id") == 0).select("embedding").first()
    qvec = [float(x) for x in qrow["embedding"]]
    codes = sq.sq_encode(embs.where(F.col("vec_id") != 0), mins, maxs)
    out = sq.sq_search(codes, qvec, mins, maxs, k=10)
    return out.select("vec_id", _r4(F.col("cosine")).alias("cosine"))


def q_semdedup_exact1(spark, sf_dir):
    """SemDeDup pairs (Abbas et al. 2023) in the oracle configuration:
    nlist=1 puts everything in one cluster, so the cluster-bounded
    comparison must equal the exact all-pairs cosine oracle."""
    embs = _read(spark, sf_dir, "embeddings")
    pairs = similarity.semdedup_pairs(embs, nlist=1, threshold=0.4)
    return pairs.select("a", "b", _r4(F.col("cosine")).alias("cosine"))


# ---- rows-only entries (no SQL-expressible oracle) ------------------------

def q_bpe_tokens(spark, sf_dir):
    """Corpus-trained BPE tokenization (Sennrich 2016): 40 merges
    learned from the documents word-frequency table, applied per
    distinct word and joined back. Iterative argmax training is not
    SQL-expressible — the hard twin is the pure-Python reference BPE
    in tests/test_bpe.py (exact merge-sequence identity on random
    corpora + the Sennrich paper fixture)."""
    from .pipeline.bpe import bpe_encode, bpe_train

    docs = _read(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=40)
    out = bpe_encode(docs, merges)
    return out.select(
        "doc_id",
        F.concat_ws(" ", F.col("bpe_tokens")).alias("bpe_text"),
        "n_bpe_tokens",
    )


def q_bm25_ref_analyzer(spark, sf_dir):
    """BM25 over the *reference* analyzer (stopwords + Krovetz stem) —
    rank semantics match /root/reference; not expressible in ANSI SQL."""
    from .plans.models import BM25

    from .functions.stemmer import stemmer_impl

    # the stemmer impl version is part of the cache identity: a lexicon
    # upgrade (krovetz-2 -> krovetz-3) must rebuild into a FRESH dir, not
    # trip the lineage rail on a stale /tmp index from a prior version
    key = os.path.abspath(sf_dir) + "#ref#" + stemmer_impl("kstem")
    if key not in _ENGINES:
        digest = hashlib.sha1(key.encode()).hexdigest()[:12]
        out = os.path.join("/tmp", "sefs_entry_idx", digest)
        if not os.path.exists(os.path.join(out, "stats.json")):
            docs = _read(spark, sf_dir, "documents")
            build_index(
                spark,
                _docs_as_transcripts(docs),
                out,
                fields=("body",),
                cfg=AnalyzerConfig.reference(),
                n_buckets=8,
                n_salts=4,
            )
        _ENGINES[key] = SearchEngine(
            spark, out, analyzer=AnalyzerConfig.reference()
        )
    eng = _ENGINES[key]
    top = eng.search("#SUM(merging windows sparks)", BM25(), k=20)
    return top.select(
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs at hamming ≤ 3 — the radius where the
    4×16-bit band candidate stage is provably exhaustive (pigeonhole), so
    the all-pairs DuckDB oracle must match exactly."""
    docs = _read(spark, sf_dir, "documents")
    sim = dedup.simhash64(docs)
    return dedup.simhash_near_pairs(sim, max_hamming=3).select(
        "a", "b", F.col("hamming").cast("long").alias("hamming")
    )


def q_ann_ivf_exactprobe(spark, sf_dir):
    """IVF with nprobe = nlist: probes every inverted list, so the result
    must equal exact kNN — verified against the knn_cosine SQL oracle.
    (The partial-probe path — nprobe < nlist — has no SQL twin because
    its probe subset depends on the learned centroids; it is covered by
    pytest recall tests instead, tests/test_similarity.py. Its former
    rows-only contract entry, ann_ivf, was retired in round 4.)"""
    embs = _read(spark, sf_dir, "embeddings")
    qrow = embs.where(F.col("vec_id") == 0).select("embedding").first()
    qvec = [float(x) for x in qrow["embedding"]]
    cents = similarity.ivf_centroids(embs, nlist=8)
    assigned = similarity.ivf_assign(embs, cents)
    top = similarity.ivf_query(
        embs.where(F.col("vec_id") != 0), assigned, cents, qvec, k=10, nprobe=8
    )
    return top.select("vec_id", _r4(F.col("cosine")).alias("cosine"))


def q_ivf_store(spark, sf_dir):
    """Persisted IVF store (pipeline/ivf_store.py) at full probe width:
    write half the table, APPEND the other half under the frozen
    centroids, then search with nprobe = nlist — must equal exact kNN
    (the knn_cosine oracle), proving the partitioned write + append +
    pruned read lose and duplicate nothing."""
    import tempfile

    from .pipeline import ivf_store

    embs = _read(spark, sf_dir, "embeddings")
    qrow = embs.where(F.col("vec_id") == 0).select("embedding").first()
    qvec = [float(x) for x in qrow["embedding"]]
    rest = embs.where(F.col("vec_id") != 0)
    path = os.path.join(
        tempfile.gettempdir(), f"sefs_ivfstore_{abs(hash(sf_dir))}"
    )
    half = rest.where(F.col("vec_id") % 2 == 0)
    ivf_store.ivf_write(spark, half, path, nlist=8)
    ivf_store.ivf_append(spark, rest.where(F.col("vec_id") % 2 == 1), path)
    top = ivf_store.ivf_search(spark, path, qvec, k=10, nprobe=8)
    return top.select("vec_id", _r4(F.col("cosine")).alias("cosine"))


def q_emb_neardup_lsh(spark, sf_dir):
    """The LSH-bucketed near-dup SCALE path, parameterized (few planes,
    many tables) so its recall is total on the test embeddings — verified
    against the same exact all-pairs SQL oracle as q_emb_neardup. A miss
    (a ≥-threshold pair agreeing in no table) would hash-mismatch."""
    embs = _read(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dup_pairs(
        embs, threshold=0.4, n_planes=2, n_tables=64, seed=42, exact=False
    )
    return pairs.select("a", "b", _r4(F.col("cosine")).alias("cosine"))


def q_ivfpq_exact(spark, sf_dir):
    """IVF-PQ (coarse routing + residual product quantization) in its
    provably-exact configuration: nprobe=nlist, ksub ≥ N, refine=0 —
    every residual is its own codebook entry, and since both sides
    subtract the same centroid the ADC distance equals exact ||q−v||².
    The compressed configuration of the same code is recall-tested in
    tests/test_pq.py."""
    from .pipeline import pq as pqm

    embs = _read(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in embs.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    corpus = embs.where(F.col("vec_id") != 0)
    codes, cents, books = pqm.ivfpq_build(
        corpus, nlist=4, m=8, ksub=corpus.count(), refine=0
    )
    top = pqm.ivfpq_query(codes, cents, books, qvec, k=10, nprobe=4)
    return top.select("vec_id", _r4(F.col("adc_dist")).alias("adc_dist"))


def _ir_synth(spark, sf_dir):
    """The deterministic synthetic evaluation set shared by every eval
    entry: 5 query topics over `documents`, per-topic ranking = top-50
    by a hashed score, graded qrels — pure modular arithmetic, so the
    DuckDB twins reproduce ranking and qrels exactly.
    → (ranking(qid, ext_id, rank), qrels(qid, ext_id, rel))."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    qs = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(4))).alias("q")
    )
    ext = F.lpad(F.col("doc_id").cast("string"), 6, "0")
    qid = F.concat(F.lit("q"), F.col("q").cast("string"))
    ranking = (
        qs.where((F.col("doc_id") * 37 + F.col("q")) % 7 == 0)
        .withColumn(
            "score_i",
            (F.col("doc_id") * F.lit(2654435761) + F.col("q") * 97)
            % F.lit(1000003),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("q").orderBy(
                    F.desc("score_i"), F.asc("doc_id")
                )
            ),
        )
        .where(F.col("rank") <= 50)
        .select(qid.alias("qid"), ext.alias("ext_id"), "rank")
    )
    qrels = qs.where((F.col("doc_id") + F.col("q")) % 2 == 0).select(
        qid.alias("qid"),
        ext.alias("ext_id"),
        F.when(
            (F.col("doc_id") * 13 + F.col("q")) % 4 == 0,
            1 + F.col("doc_id") % 3,
        )
        .otherwise(0)
        .alias("rel"),
    )
    return ranking, qrels


def _ir_eval_frame(spark, sf_dir):
    """Distributed trec_eval metrics (eval.py) over the shared synthetic
    evaluation set (_ir_synth). Covers P@k, AP, reciprocal rank, and
    NDCG in one entry (the reference ships rankings to an external
    trec_eval — hw4test.py:45-47; this is that missing half,
    Spark-native)."""
    from .eval import per_query_metrics

    ranking, qrels = _ir_synth(spark, sf_dir)
    return per_query_metrics(
        ranking, qrels, ks=(10, 20), ndcg_ks=(10,), round_dp=4
    )


def q_ir_rbp_err(spark, sf_dir):
    """RBP (Moffat-Zobel) + ERR (Chapelle) over the shared synthetic
    eval set — the user-model measures trec_eval's recall-oriented set
    lacks; twin replays the geometric series and the exp/ln cascade
    product in rank order."""
    from .eval import rbp_err_metrics

    ranking, qrels = _ir_synth(spark, sf_dir)
    out = rbp_err_metrics(ranking, qrels, p=0.8)
    return out.select(
        "qid",
        "num_ret",
        _r4(F.col("rbp_80")).alias("rbp_80"),
        _r4(F.col("rbp_residual_80")).alias("rbp_residual_80"),
        _r4(F.col("err")).alias("err"),
    )


def q_ir_metrics(spark, sf_dir):
    """See _ir_eval_frame — the classic trec_eval measures (P@k, AP,
    RR, NDCG); `ir_bpref` covers the judged-only pair from the same
    frame."""
    return _ir_eval_frame(spark, sf_dir).select(
        "qid", "num_ret", "num_rel", "num_rel_ret",
        "p_at_10", "p_at_20", "ap", "rr", "ndcg_at_10",
    )


def q_ir_bpref(spark, sf_dir):
    """trec_eval's judged-only measures over the same synthetic eval
    set as `ir_metrics`: R-precision and bpref (unjudged docs ignored;
    each relevant-retrieved doc contributes
    1 − min(judged-nonrel-above, R)/min(N, R))."""
    full = _ir_eval_frame(spark, sf_dir)
    return full.select("qid", "r_prec", "bpref")


_IR_METRICS_SQL = """
WITH qs AS (SELECT unnest(range(5)) AS q),
base AS (SELECT doc_id, q FROM documents CROSS JOIN qs),
ranking AS (
  SELECT 'q' || q AS qid, lpad(doc_id::VARCHAR, 6, '0') AS ext_id, rank
  FROM (
    SELECT doc_id, q,
           row_number() OVER (
             PARTITION BY q
             ORDER BY ((doc_id * 2654435761 + q * 97) % 1000003) DESC,
                      doc_id ASC
           ) AS rank
    FROM base
    WHERE (doc_id * 37 + q) % 7 = 0
  )
  WHERE rank <= 50
),
qrels AS (
  SELECT 'q' || q AS qid, lpad(doc_id::VARCHAR, 6, '0') AS ext_id,
         CASE WHEN (doc_id * 13 + q) % 4 = 0
              THEN 1 + (doc_id % 3) ELSE 0 END AS rel
  FROM base
  WHERE (doc_id + q) % 2 = 0
),
j AS (
  SELECT r.qid, r.rank, COALESCE(qr.rel, 0) AS rel,
         CASE WHEN COALESCE(qr.rel, 0) > 0 THEN 1 ELSE 0 END AS isrel
  FROM ranking r
  LEFT JOIN qrels qr ON r.qid = qr.qid AND r.ext_id = qr.ext_id
),
jc AS (
  SELECT *, SUM(isrel) OVER (
    PARTITION BY qid ORDER BY rank ROWS UNBOUNDED PRECEDING
  ) AS cum_rel FROM j
),
per_run AS (
  SELECT qid,
         COUNT(*)::BIGINT AS num_ret,
         SUM(isrel)::BIGINT AS num_rel_ret,
         SUM(CASE WHEN isrel = 1 THEN cum_rel::DOUBLE / rank
                  ELSE 0 END) AS ap_num,
         MIN(CASE WHEN isrel = 1 THEN rank END) AS frr,
         SUM(CASE WHEN rank <= 10 THEN isrel ELSE 0 END) / 10.0 AS p_at_10,
         SUM(CASE WHEN rank <= 20 THEN isrel ELSE 0 END) / 20.0 AS p_at_20,
         SUM(CASE WHEN rank <= 10
                  THEN rel::DOUBLE / log2(rank + 1.0) ELSE 0 END) AS dcg_10
  FROM jc GROUP BY qid
),
ideal AS (
  SELECT qid,
         SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT AS num_rel,
         SUM(CASE WHEN irank <= 10
                  THEN rel::DOUBLE / log2(irank + 1.0) ELSE 0 END) AS idcg_10
  FROM (
    SELECT qid, rel, row_number() OVER (
      PARTITION BY qid ORDER BY rel DESC, ext_id ASC
    ) AS irank FROM qrels
  ) GROUP BY qid
)
SELECT p.qid, p.num_ret, COALESCE(i.num_rel, 0)::BIGINT AS num_rel,
       p.num_rel_ret,
       ROUND(p.p_at_10, 4) AS p_at_10,
       ROUND(p.p_at_20, 4) AS p_at_20,
       ROUND(CASE WHEN COALESCE(i.num_rel, 0) > 0
                  THEN p.ap_num / i.num_rel ELSE 0 END, 4) AS ap,
       ROUND(CASE WHEN p.frr IS NOT NULL
                  THEN 1.0 / p.frr ELSE 0 END, 4) AS rr,
       ROUND(CASE WHEN COALESCE(i.idcg_10, 0) > 0
                  THEN p.dcg_10 / i.idcg_10 ELSE 0 END, 4) AS ndcg_at_10
FROM per_run p LEFT JOIN ideal i ON p.qid = i.qid
"""


# --------------------------------------------------------------------------
# round-2 extensions: conversation rollup, BM25F, PMI collocations
# --------------------------------------------------------------------------

_CONV_ENGINES: dict[str, SearchEngine] = {}
_MF_ENGINES: dict[str, SearchEngine] = {}


def get_conv_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """documents reshaped as 10-turn conversations (conv_id = doc_id // 10,
    turn_idx = doc_id % 10) → a second cached index for the
    conversation-rollup entry. Same documents, same tokens ⇒ identical
    N / avg doclen / df to the flat index, so the per-turn BM25 oracle
    SQL is the flat one, grouped by doc_id // 10."""
    key = os.path.abspath(sf_dir)
    if key in _CONV_ENGINES:
        return _CONV_ENGINES[key]
    digest = hashlib.sha1(key.encode()).hexdigest()[:12]
    out = os.path.join("/tmp", "sefs_entry_idx", digest + "-conv")
    cfg = AnalyzerConfig.sql_safe()
    if not os.path.exists(os.path.join(out, "stats.json")):
        docs = _read(spark, sf_dir, "documents")
        trans = docs.select(
            F.format_string(
                "conv-%07d", F.floor(F.col("doc_id") / 10).cast("long")
            ).alias("conv_id"),
            (F.col("doc_id") % 10).cast("int").alias("turn_idx"),
            F.coalesce(F.col("lang"), F.lit("")).alias("role"),
            F.col("text"),
            F.coalesce(F.col("source"), F.lit("")).alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        build_index(spark, trans, out, fields=("body",), cfg=cfg,
                    n_buckets=8, n_salts=4)
    eng = SearchEngine(spark, out, analyzer=cfg)
    _CONV_ENGINES[key] = eng
    return eng


def get_mf_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Multi-field index for the BM25F entry: body = text, tool = the
    source tag + the document's first whitespace token (so some terms
    genuinely occur in BOTH fields of one document and the cross-field
    tf combination is exercised, not just per-field saturation)."""
    key = os.path.abspath(sf_dir)
    if key in _MF_ENGINES:
        return _MF_ENGINES[key]
    digest = hashlib.sha1(key.encode()).hexdigest()[:12]
    out = os.path.join("/tmp", "sefs_entry_idx", digest + "-mf")
    cfg = AnalyzerConfig.sql_safe()
    if not os.path.exists(os.path.join(out, "stats.json")):
        docs = _read(spark, sf_dir, "documents")
        first_tok = F.element_at(
            F.split(F.coalesce(F.col("text"), F.lit("")), " "), 1
        )
        trans = docs.select(
            F.format_string("doc-%09d", F.col("doc_id")).alias("conv_id"),
            F.lit(0).cast("int").alias("turn_idx"),
            F.coalesce(F.col("lang"), F.lit("")).alias("role"),
            F.col("text"),
            F.concat_ws(
                " ", F.coalesce(F.col("source"), F.lit("")), first_tok
            ).alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        build_index(spark, trans, out, fields=("body", "tool"), cfg=cfg,
                    n_buckets=8, n_salts=4)
    eng = SearchEngine(spark, out, analyzer=cfg)
    _MF_ENGINES[key] = eng
    return eng


def q_conv_rollup(spark, sf_dir):
    """Conversation-level retrieval: BM25 turn scores rolled up per
    conversation (sum-passage) — every conv with ≥1 matching turn."""
    from .plans.models import BM25

    eng = get_conv_engine(spark, sf_dir)
    out = eng.conversation_scores_df(BM25_QUERY, BM25(), agg="sum")
    return out.select("conv_id", _r4(F.col("score")).alias("score"), "n_turns")


MLT_SRC = 7
MLT_MAX_TERMS = 8


def q_more_like_this(spark, sf_dir):
    """More-Like-This (Lucene MoreLikeThis analog): top-50 docs most
    similar to documents.doc_id=7 — its terms ranked by tf·ln(N/df)
    (min_tf=1, min_df=2, 8 terms), run as a BM25 #SUM excluding the
    source. The SQL twin replays the selection with a row_number
    window and reproduces the engine's child-order float fold with
    list_reduce over selection-ranked term scores."""
    eng = get_engine(spark, sf_dir)
    out = eng.more_like_this(
        MLT_SRC, k=50, max_terms=MLT_MAX_TERMS, min_tf=1, min_df=2
    )
    return out.select(
        _orig_id(F.col("ext_id")),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


def q_boosted_search(spark, sf_dir):
    """Function-score boosting (Lucene FunctionScoreQuery analog) on the
    conversation index: the flagship BM25 turn scores multiplied by the
    metadata expression 1/(1+turn_idx) — early-turn preference. 1e0
    literals keep both engines in double arithmetic (1.0 parses as
    DECIMAL in both Spark and DuckDB)."""
    from .plans.models import BM25

    eng = get_conv_engine(spark, sf_dir)
    out = eng.search_df(BM25_QUERY, BM25(), boost="1e0 / (1e0 + turn_idx)")
    conv_num = F.regexp_extract(F.col("ext_id"), r"conv-(\d+)", 1).cast("long")
    turn = F.regexp_extract(F.col("ext_id"), r":(\d+)$", 1).cast("long")
    return out.select(
        (conv_num * 10 + turn).alias("doc_id"),
        _r4(F.col("score")).alias("score"),
    )


def q_term_vector(spark, sf_dir):
    """Forward-index term vector of documents.doc_id=7 (the reference's
    TermVector S3 scan as a public API): per-term tf and position span
    decoded from the varint blobs; the twin recomputes from raw text."""
    eng = get_engine(spark, sf_dir)
    out = eng.term_vector(MLT_SRC)
    return out.select(
        "term",
        "tf",
        F.element_at("positions", 1).cast("long").alias("first_pos"),
        F.element_at("positions", -1).cast("long").alias("last_pos"),
        F.size("positions").cast("long").alias("n_pos"),
    )


def q_collapsed_topk(spark, sf_dir):
    """Field-collapsed top-k on the conversation index (Lucene/Solr
    field-collapse analog): the flagship BM25 ranking with only each
    conversation's best-scoring turn kept, cut to BM25_K. Ids map back
    to the original documents.doc_id space (conv*10 + turn)."""
    from .plans.models import BM25

    eng = get_conv_engine(spark, sf_dir)
    out = eng.search_collapsed(BM25_QUERY, BM25(), k=BM25_K)
    conv_num = F.regexp_extract(F.col("conv_id"), r"conv-(\d+)", 1).cast("long")
    turn = F.regexp_extract(F.col("ext_id"), r":(\d+)$", 1).cast("long")
    return out.select(
        conv_num.alias("conv"),
        (conv_num * 10 + turn).alias("doc_id"),
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("score")).alias("score"),
    )


BM25F_WEIGHTS = {"body": 1.0, "tool": 2.0}
BM25F_B = {"body": 0.75, "tool": 0.4}


def q_bm25f(spark, sf_dir):
    """Field-weighted BM25 (BM25F): full ranking over (body, tool)."""
    eng = get_mf_engine(spark, sf_dir)
    out = eng.bm25f_scores_df(
        "spark merge src3", BM25F_WEIGHTS, b=BM25F_B
    )
    return out.select(
        _orig_id(F.col("ext_id")), _r4(F.col("score")).alias("score")
    )


PHRASE_Q = "sow merg"


def q_phrase_suggest(spark, sf_dir):
    """Phrase suggester (Elasticsearch phrase-suggest analog): SymSpell
    per-term candidates beam-reranked under the corpus add-alpha bigram
    LM. Two tokens × per_term 3 ≤ 9 phrases < beam 32, so the beam is
    exhaustive and the DuckDB twin replays the exact arithmetic."""
    from .pipeline.lm import lm_train
    from .spell import suggest_phrase

    docs = _read(spark, sf_dir, "documents")
    from .pipeline.textstats import tokens_col

    dic = (
        docs.select(
            "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
        )
        .distinct()
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
    )
    bigrams, contexts, vocab = lm_train(docs)
    out = suggest_phrase(
        spark, dic, bigrams, contexts, vocab, [PHRASE_Q],
        max_edit=1, per_term=3, topn=3,
    )
    return out.select(
        "query",
        "suggestion",
        "rank",
        _r4(F.col("logp")).alias("logp"),
        "edits",
    )


DISMAX_TIE = 0.3


def q_dismax(spark, sf_dir):
    """DisMax multi-field scoring (Lucene DisjunctionMaxQuery / Solr
    dismax qf analog) over the (body, tool) multi-field index: per
    field an independent BM25 stream, per term max + tie·rest, summed
    over terms."""
    eng = get_mf_engine(spark, sf_dir)
    out = eng.dismax_scores_df(
        "spark merge src3", ["body", "tool"], tie=DISMAX_TIE
    )
    return out.select(
        _orig_id(F.col("ext_id")), _r4(F.col("score")).alias("score")
    )


def q_collocations(spark, sf_dir):
    """Bigram PMI collocation mining over the documents table."""
    return textstats.collocations(
        _read(spark, sf_dir, "documents"), min_count=5
    )


def q_context_window(spark, sf_dir):
    """Context-window expansion on the conversation index: every
    #AND(spark merge) hit turn ± 1 neighbor within its conversation.
    Doc ids are mapped back to the original documents.doc_id space
    (conv*10 + turn) so the oracle is pure integer arithmetic."""
    from .plans.models import UnrankedBoolean

    eng = get_conv_engine(spark, sf_dir)
    hits = eng.search_df("#AND(spark merge)", UnrankedBoolean())
    out = eng.fetch_context(hits, m=1)
    conv_num = F.regexp_extract(F.col("conv_id"), r"conv-(\d+)", 1).cast("long")
    return out.select(
        (conv_num * 10 + F.col("turn_idx") - F.col("offset")).alias(
            "hit_doc_id"
        ),
        (conv_num * 10 + F.col("turn_idx")).alias("doc_id"),
        "offset",
    )


# Hybrid retrieval: fuse the flagship BM25 top-k with an embedding-
# cosine top-k via Reciprocal Rank Fusion (fusion.py; k0 = 60 per
# Cormack/Clarke/Buettcher 2009). documents.doc_id and
# embeddings.vec_id share the id space, standing in for a corpus that
# serves both postings and vectors.
HYBRID_K0 = 60.0


def q_hybrid_rrf(spark, sf_dir):
    from .fusion import ranked, rrf_fuse
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    lex = eng.search(BM25_QUERY, BM25(), k=BM25_K).select(
        _orig_id(F.col("ext_id")), "rank"
    )
    embs = _read(spark, sf_dir, "embeddings")
    qrow = embs.where(F.col("vec_id") == 0).select("embedding").first()
    qcol = F.array(*[F.lit(float(x)) for x in qrow["embedding"]])
    scored = embs.where(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("doc_id"),
        (
            similarity._dot(F.col("embedding"), qcol)
            / (similarity._norm(F.col("embedding")) * similarity._norm(qcol))
        ).alias("cosine"),
    )
    order = [F.desc("cosine"), F.asc("doc_id")]
    vec = ranked(scored.orderBy(*order).limit(BM25_K), order, k=BM25_K)
    fused = rrf_fuse(
        [
            ("lex", lex.select("doc_id", "rank")),
            ("vec", vec.select("doc_id", "rank")),
        ],
        k0=HYBRID_K0,
    )
    return fused.select(
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        _r4(F.col("rrf")).alias("rrf"),
    )


SPELL_QUERIES = ("sprak", "mergge", "window", "zzzqqq")


PHONETIC_QUERIES = ("merje", "vallue", "windoe")


def _py_soundex(w: str) -> str:
    """Driver-side twin of Spark's F.soundex for lowercase a-z words —
    used to inline the query-side codes into the DuckDB oracle (a
    mismatch with the JVM implementation would break the join and fail
    the entry; tests/test_fusion_spell.py cross-checks it directly)."""
    from itertools import groupby

    m = "01230129022455012623019202"  # h/w→9 (skipped), vowels+y→0
    c1 = "".join(m[ord(ch) - 97] for ch in w)
    c3 = "".join(k for k, _ in groupby(c1.replace("9", "")))
    c4 = c3 if c1[0] == "9" else c3[1:]
    return w[0].upper() + (c4.replace("0", "") + "000")[:3]


def q_phonetic(spark, sf_dir):
    """Phonetic did-you-mean (Lucene/ES phonetic-analysis analog,
    spell.suggest_phonetic): dictionary terms Soundex-equal to each
    query, ranked (levenshtein asc, df desc, term asc). The DuckDB twin
    recomputes Soundex — including the h/w-skip and first-letter
    collapse rules — with translate + indexed list_filter (RE2 has no
    backreferences), and carries the query codes as literals from the
    driver-side twin of the JVM implementation."""
    from .spell import suggest_phonetic

    eng = get_engine(spark, sf_dir)
    dic = (
        eng.reader.term_stats_df()
        .where(F.col("field") == "body")
        .select("term", "df")
    )
    out = suggest_phonetic(spark, dic, list(PHONETIC_QUERIES), topn=5)
    return out.select(
        "query",
        "term",
        "code",
        F.col("dist").cast("long").alias("dist"),
        "df",
        F.col("rank").cast("long").alias("rank"),
    )


def q_spell_suggest(spark, sf_dir):
    """SymSpell-style did-you-mean over the index's term dictionary
    (spell.py): delete-1 neighborhood join + exact levenshtein filter,
    provably equal to the oracle's brute-force lev<=1 scan."""
    from .spell import suggest

    eng = get_engine(spark, sf_dir)
    dic = (
        eng.reader.term_stats_df()
        .where(F.col("field") == "body")
        .select("term", "df")
    )
    out = suggest(spark, dic, list(SPELL_QUERIES), max_edit=1, topn=5)
    return out.select(
        "query",
        "term",
        F.col("dist").cast("long").alias("dist"),
        F.col("df").cast("long").alias("df"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_spell_suggest2(spark, sf_dir):
    """Edit-distance-2 SymSpell (delete-2 neighborhoods on both sides,
    exact levenshtein filter) vs the oracle's brute-force lev<=2 scan."""
    from .spell import suggest

    eng = get_engine(spark, sf_dir)
    dic = (
        eng.reader.term_stats_df()
        .where(F.col("field") == "body")
        .select("term", "df")
    )
    out = suggest(spark, dic, list(SPELL_QUERIES), max_edit=2, topn=5)
    return out.select(
        "query",
        "term",
        F.col("dist").cast("long").alias("dist"),
        F.col("df").cast("long").alias("df"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_term_prefix(spark, sf_dir):
    """Autocomplete: top dictionary terms by df under a prefix, served
    from the index's term-stats table (pushable StringStartsWith)."""
    from .spell import suggest_prefix

    eng = get_engine(spark, sf_dir)
    dic = (
        eng.reader.term_stats_df()
        .where(F.col("field") == "body")
        .select("term", "df")
    )
    return suggest_prefix(dic, "s", n=15)


def q_facet_counts(spark, sf_dir):
    """Facet counts over the flagship BM25 top-k: per-(facet, value)
    hit tallies for the lang and source metadata columns."""
    from .facets import facet_counts
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    hits = top.select(_orig_id(F.col("ext_id")))
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce("lang", F.lit("")).alias("lang"),
        F.coalesce("source", F.lit("")).alias("source"),
    )
    return facet_counts(hits, docs, ["lang", "source"])


def q_facet_histogram(spark, sf_dir):
    """Numeric histogram facet (Elasticsearch histogram-agg analog) over
    the flagship BM25 top-k: hit documents bucketed by text length in
    200-char floor-based bins."""
    from .facets import facet_histogram
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    hits = top.select(_orig_id(F.col("ext_id")))
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars")
    )
    return facet_histogram(hits, docs, "n_chars", 200.0)


def q_facet_stats(spark, sf_dir):
    """Numeric stats aggregation (Elasticsearch stats/extended_stats
    analog) over the flagship BM25 top-k: count/min/max/sum/avg/std of
    the hit documents' n_chars."""
    from .facets import facet_stats
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    hits = top.select(_orig_id(F.col("ext_id")))
    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = facet_stats(hits, docs, ["n_chars"])
    return out.select(
        "col",
        "n",
        "min",
        "max",
        "sum",
        _r4(F.col("avg")).alias("avg"),
        _r4(F.col("std")).alias("std"),
    )


def q_facet_bucket_stats(spark, sf_dir):
    """Per-bucket sub-aggregation (ES terms-agg + nested stats analog):
    per lang bucket of the flagship BM25 top-k, doc count + n_chars
    min/max/sum/avg/std in one grouped pass."""
    from .facets import facet_bucket_stats
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    hits = top.select(_orig_id(F.col("ext_id")))
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = facet_bucket_stats(hits, docs, "lang", "n_chars")
    return out.select(
        "value",
        "n_docs",
        "n",
        "min",
        "max",
        "sum",
        _r4(F.col("avg")).alias("avg"),
        _r4(F.col("std")).alias("std"),
    )


def q_facet_pct_ranks(spark, sf_dir):
    """Inverse percentiles (ES percentile_ranks analog): the exact CDF
    of hit n_chars at probe values 150/250/400."""
    from .facets import facet_percentile_ranks
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    hits = top.select(_orig_id(F.col("ext_id")))
    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = facet_percentile_ranks(hits, docs, "n_chars", [150.0, 250.0, 400.0])
    return out.select("value", _r4(F.col("pct")).alias("pct"))


def q_facet_matrix(spark, sf_dir):
    """Field-pair covariance/correlation (ES matrix_stats analog):
    n_chars vs sql-safe token count over the flagship BM25 top-k,
    moment-form so the twin replays every double."""
    from .facets import facet_matrix_stats
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    hits = top.select(_orig_id(F.col("ext_id")))
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != ""
            )
        ).alias("n_toks"),
    )
    out = facet_matrix_stats(hits, docs, "n_chars", "n_toks")
    return out.select(
        "n",
        _r4(F.col("mean_x")).alias("mean_x"),
        _r4(F.col("mean_y")).alias("mean_y"),
        _r4(F.col("cov")).alias("cov"),
        _r4(F.col("corr")).alias("corr"),
    )


def q_facet_top_hits(spark, sf_dir):
    """Grouped top-k (Elasticsearch top_hits sub-aggregation analog):
    the best 2 hits per lang bucket of the flagship BM25 top-k, each
    group a stable slice of the global ranking."""
    from .facets import top_hits_per_facet
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    hits = top.select(_orig_id(F.col("ext_id")), F.col("score"))
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("lang", F.lit("")).alias("lang")
    )
    out = top_hits_per_facet(hits, docs, "lang", n=2)
    return out.select(
        "lang", "group_rank", "doc_id", _r4(F.col("score")).alias("score")
    )


def q_facet_ranges(spark, sf_dir):
    """Explicit-boundary bucket counts (Elasticsearch range-agg analog)
    over the flagship BM25 top-k: hit documents bucketed by n_chars
    into [*,500), [500,2000), [2000,*) — empty buckets reported."""
    from .facets import facet_ranges
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    hits = top.select(_orig_id(F.col("ext_id")))
    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = facet_ranges(
        hits, docs, "n_chars", [(None, 500.0), (500.0, 2000.0), (2000.0, None)]
    )
    # open-ended bounds are NULL — keep the label+count core for the
    # hash compare (labels encode the bounds)
    return out.select("range_label", "n")


def q_facet_percentiles(spark, sf_dir):
    """Exact percentiles (Elasticsearch percentiles-agg analog) over the
    flagship BM25 top-k: quartiles + p95 of the hit documents' n_chars
    (sort-based linear interpolation — DuckDB quantile_cont replays it)."""
    from .facets import facet_percentiles
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    hits = top.select(_orig_id(F.col("ext_id")))
    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = facet_percentiles(hits, docs, ["n_chars"])
    return out.select("col", "pct", _r4(F.col("value")).alias("value"))


def q_facet_cardinality(spark, sf_dir):
    """Distinct-value counts (Elasticsearch cardinality-agg analog) over
    the flagship BM25 top-k: exact distinct lang and source values among
    the hit documents."""
    from .facets import facet_cardinality
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    hits = top.select(_orig_id(F.col("ext_id")))
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce("lang", F.lit("")).alias("lang"),
        F.coalesce("source", F.lit("")).alias("source"),
    )
    return facet_cardinality(hits, docs, ["lang", "source"])


def q_facet_composite(spark, sf_dir):
    """Composite aggregation (ES composite-agg analog): the first two
    size-8 keyset pages of the (lang, source) bucket enumeration over
    the whole documents corpus — keyset pagination under a total order
    provably equals the first 16 buckets in key order, which is what
    the DuckDB twin computes."""
    from .facets import facet_composite

    docs = _read(spark, sf_dir, "documents")
    hits = docs.select("doc_id")
    meta = docs.select(
        "doc_id",
        F.coalesce("lang", F.lit("")).alias("lang"),
        F.coalesce("source", F.lit("")).alias("source"),
    )
    p1 = facet_composite(hits, meta, ["lang", "source"], size=8)
    rows1 = p1.collect()
    after = (rows1[-1]["lang"], rows1[-1]["source"]) if rows1 else None
    p2 = facet_composite(
        hits, meta, ["lang", "source"], size=8, after=after
    )
    out1 = spark.createDataFrame(rows1, p1.schema).withColumn(
        "page", F.lit(1)
    )
    return out1.unionByName(p2.withColumn("page", F.lit(2)))


def q_significant_terms(spark, sf_dir):
    """Significant-terms aggregation (Elasticsearch analog) over the
    flagship BM25 top-k: terms ranked by document-frequency lift vs the
    corpus background, ≥2-hit-doc gate, top 20."""
    from .facets import significant_terms
    from .plans.models import BM25

    eng = get_engine(spark, sf_dir)
    top = eng.search(BM25_QUERY, BM25(), k=BM25_K)
    out = significant_terms(top, eng.reader, top_n=20, min_hit_df=2)
    return out.select(
        "term", "hit_df", "hit_tf", "df", _r4(F.col("lift")).alias("lift")
    )


def _bm25f_term_sql(term: str) -> str:
    """Per-term BM25F tf~ (field-combined, length-normalized) — operand
    order mirrors bm25f.bm25f_tilde_tf exactly; b/weight literals match
    BM25F_WEIGHTS / BM25F_B."""
    wb, wt = BM25F_WEIGHTS["body"], BM25F_WEIGHTS["tool"]
    bb, bt = BM25F_B["body"], BM25F_B["tool"]
    return f"""
  SELECT COALESCE(bb.doc_id, tt.doc_id) AS doc_id,
         COALESCE(bb.wtf, 0.0) + COALESCE(tt.wtf, 0.0) AS tft
  FROM (
    SELECT tf.doc_id,
           {wb} * (tf.tf::DOUBLE /
             ((1.0 - {bb}) + {bb} * (dl.doclen::DOUBLE
               / (cstats.sum_doclen::DOUBLE / cstats.doc_count)))) AS wtf
    FROM tf JOIN dl USING (doc_id) CROSS JOIN cstats
    WHERE tf.term = '{term}'
  ) bb
  FULL JOIN (
    SELECT ttf.doc_id,
           {wt} * (ttf.tf::DOUBLE /
             ((1.0 - {bt}) + {bt} * (tdl.doclen::DOUBLE
               / (tstats.sum_doclen::DOUBLE / tstats.doc_count)))) AS wtf
    FROM ttf JOIN tdl USING (doc_id) CROSS JOIN tstats
    WHERE ttf.term = '{term}'
  ) tt ON tt.doc_id = bb.doc_id
"""


# tool-field CTEs for the BM25F oracle (appended to _SQL_BASE): tool text
# = source || ' ' || first whitespace token of text (get_mf_engine twin)
_SQL_TOOL = """,
ttoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(concat(coalesce(source, ''),
                     ' ', split_part(coalesce(text, ''), ' ', 1))),
                     '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
ttf AS (
  SELECT doc_id, t AS term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS t FROM ttoks) s GROUP BY 1, 2
),
tdl AS (SELECT doc_id, len(toks)::BIGINT AS doclen FROM ttoks),
tstats AS (
  SELECT sum(doclen)::BIGINT AS sum_doclen,
         count(*) FILTER (WHERE doclen > 0)::BIGINT AS doc_count
  FROM tdl
)
"""


def _bm25f_sql() -> str:
    terms = ["spark", "merge", "src3"]
    ctes = ",\n".join(
        f"pt{i} AS ({_bm25f_term_sql(t)}),\n"
        f"s{i} AS (\n"
        f"  SELECT pt{i}.doc_id,\n"
        f"         ln((cstats.n_docs - d{i}.df + 0.5) / (d{i}.df + 0.5))\n"
        f"           * (pt{i}.tft / (1.2 + pt{i}.tft)) AS s\n"
        f"  FROM pt{i}\n"
        f"  CROSS JOIN (SELECT count(*)::DOUBLE AS df FROM pt{i}) d{i}\n"
        f"  CROSS JOIN cstats\n"
        f")"
        for i, t in enumerate(terms)
    )
    ids = " UNION ".join(f"SELECT doc_id FROM s{i}" for i in range(len(terms)))
    score = " + ".join(
        f"COALESCE(s{i}.s * 1.0, 0.0)" for i in range(len(terms))
    )
    joins = "\n".join(
        f"LEFT JOIN s{i} ON s{i}.doc_id = ids.doc_id"
        for i in range(len(terms))
    )
    return (
        _SQL_BASE + _SQL_TOOL + f""", {ctes},
ids AS ({ids})
SELECT ids.doc_id, round(0.0 + {score}, 4) + 0.0 AS score
FROM ids
{joins}
"""
    )


def _dismax_sql() -> str:
    """DisMax twin: per (term, field) BM25 rows (per-field df/avg, global
    N) unioned, then the Spark plan's exact two groupBys — per (doc,
    term) max + tie·(sum−max), per doc sum."""
    terms = ["spark", "merge", "src3"]

    def body(t: str) -> str:
        return f"""
  SELECT tf.doc_id, '{t}' AS term,
         ln((cstats.n_docs - dfb.df + 0.5) / (dfb.df + 0.5))
           * (tf.tf::DOUBLE / (tf.tf::DOUBLE + 1.2 * ((1.0 - 0.75)
              + 0.75 * (dl.doclen::DOUBLE
                        / (cstats.sum_doclen::DOUBLE / cstats.doc_count)))))
           AS s
  FROM tf JOIN dl USING (doc_id) CROSS JOIN cstats
  CROSS JOIN (SELECT count(*)::DOUBLE AS df FROM tf WHERE term = '{t}') dfb
  WHERE tf.term = '{t}'
"""

    def tool(t: str) -> str:
        return f"""
  SELECT ttf.doc_id, '{t}' AS term,
         ln((cstats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
           * (ttf.tf::DOUBLE / (ttf.tf::DOUBLE + 1.2 * ((1.0 - 0.75)
              + 0.75 * (tdl.doclen::DOUBLE
                        / (tstats.sum_doclen::DOUBLE / tstats.doc_count)))))
           AS s
  FROM ttf JOIN tdl USING (doc_id) CROSS JOIN cstats CROSS JOIN tstats
  CROSS JOIN (SELECT count(*)::DOUBLE AS df FROM ttf WHERE term = '{t}') dft
  WHERE ttf.term = '{t}'
"""

    union = "\n  UNION ALL\n".join(
        f"SELECT * FROM ({body(t)})\n  UNION ALL\n  SELECT * FROM ({tool(t)})"
        for t in terms
    )
    return (
        _SQL_BASE + _SQL_TOOL + f""",
allrows AS (
  {union}
),
pt AS (
  SELECT doc_id, term,
         max(s) + {DISMAX_TIE!r} * (sum(s) - max(s)) AS c
  FROM allrows GROUP BY 1, 2
)
SELECT doc_id, round(sum(c), 4) + 0.0 AS score FROM pt GROUP BY 1
"""
    )


_CONV_ROLLUP_SQL_TAIL = """,
ids AS (SELECT doc_id FROM t1 UNION SELECT doc_id FROM t2
        UNION SELECT doc_id FROM t3),
per AS (
  SELECT ids.doc_id,
         0.0 + COALESCE(t1.s * 1.0, 0.0) + COALESCE(t2.s * 1.0, 0.0)
             + COALESCE(t3.s * 1.0, 0.0) AS s
  FROM ids
  LEFT JOIN t1 ON t1.doc_id = ids.doc_id
  LEFT JOIN t2 ON t2.doc_id = ids.doc_id
  LEFT JOIN t3 ON t3.doc_id = ids.doc_id
)
SELECT printf('conv-%07d', doc_id // 10) AS conv_id,
       round(sum(s), 4) + 0.0 AS score,
       count(*)::BIGINT AS n_turns
FROM per GROUP BY 1
"""

_COLLOCATIONS_SQL_TAIL = """,
big AS (
  SELECT t1.term AS w1, t2.term AS w2
  FROM tokpos t1
  JOIN tokpos t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
),
bcnt AS (
  SELECT w1, w2, count(*)::BIGINT AS c_ab FROM big
  GROUP BY 1, 2 HAVING count(*) >= 5
),
ucnt AS (SELECT term AS w, count(*)::BIGINT AS c FROM tokpos GROUP BY 1),
tots AS (
  SELECT (SELECT count(*) FROM tokpos)::BIGINT AS t_u,
         (SELECT count(*) FROM big)::BIGINT AS t_b
)
SELECT w1, w2, c_ab, a.c AS c_a, b.c AS c_b,
       round(ln((c_ab::DOUBLE / t_b::DOUBLE)
             / ((a.c::DOUBLE / t_u::DOUBLE)
                * (b.c::DOUBLE / t_u::DOUBLE))), 4) + 0.0 AS pmi
FROM bcnt
JOIN ucnt a ON a.w = bcnt.w1
JOIN ucnt b ON b.w = bcnt.w2
CROSS JOIN tots
"""


# --------------------------------------------------------------------------
# oracle SQL
# --------------------------------------------------------------------------

ORACLE_SQL: dict[str, str] = {
    "term_stats_top": _SQL_BASE
    + """
SELECT term, df, ctf FROM dfreq ORDER BY df DESC, term ASC LIMIT 100
""",
    "doclen": _SQL_BASE
    + """
SELECT doc_id, doclen FROM dl
""",
    "collection_stats": _SQL_BASE
    + """
SELECT n_docs, sum_doclen, doc_count FROM cstats
""",
    "postings": _SQL_BASE
    + f"""
SELECT term, doc_id, count(*)::BIGINT AS tf,
       min(pos)::BIGINT AS first_pos, max(pos)::BIGINT AS last_pos
FROM tokpos WHERE term IN ({", ".join(f"'{t}'" for t in POSTING_TERMS)})
GROUP BY 1, 2
""",
    "bool_and_ranked": _SQL_BASE
    + """
SELECT a.doc_id, least(a.tf, b.tf)::DOUBLE AS score
FROM (SELECT doc_id, tf FROM tf WHERE term = 'spark') a
JOIN (SELECT doc_id, tf FROM tf WHERE term = 'merge') b USING (doc_id)
""",
    "bool_or_ranked": _SQL_BASE
    + """
SELECT doc_id, max(tf)::DOUBLE AS score
FROM tf WHERE term IN ('spark', 'merge') GROUP BY 1
""",
    "bool_and_not": _SQL_BASE
    + """
SELECT DISTINCT doc_id, 1.0 AS score FROM tf
WHERE term = 'window'
  AND doc_id NOT IN (SELECT doc_id FROM tf WHERE term = 'customer')
""",
    "near": _SQL_BASE
    + """
SELECT DISTINCT t1.doc_id, 1.0 AS score
FROM tokpos t1 JOIN tokpos t2
  ON t1.doc_id = t2.doc_id AND t1.term = 'key' AND t2.term = 'agg'
 AND t2.pos - t1.pos BETWEEN 1 AND 3
""",
    "first_op": _SQL_BASE
    + """
SELECT doc_id, count(*)::DOUBLE AS score
FROM tokpos WHERE term = 'key' AND pos < 5 GROUP BY 1
""",
    "first_bm25": _SQL_BASE
    + """, fx AS (
  SELECT doc_id, count(*)::BIGINT AS tf
  FROM tokpos WHERE term = 'key' AND pos < 5 GROUP BY 1
),
fstat AS (SELECT count(*)::BIGINT AS df FROM fx)
SELECT fx.doc_id,
       round(ln((cstats.n_docs - fstat.df + 0.5) / (fstat.df + 0.5))
         * (fx.tf::DOUBLE /
            (fx.tf::DOUBLE + 1.2 * ((1.0 - 0.75)
             + 0.75 * (dl.doclen::DOUBLE
                       / (cstats.sum_doclen::DOUBLE / cstats.doc_count))))),
             4) + 0.0 AS score
FROM fx JOIN dl ON dl.doc_id = fx.doc_id
CROSS JOIN cstats CROSS JOIN fstat
""",
    "phrase": _SQL_BASE
    + """
SELECT DISTINCT t1.doc_id, 1.0 AS score
FROM tokpos t1 JOIN tokpos t2
  ON t1.doc_id = t2.doc_id AND t1.term = 'key' AND t2.term = 'agg'
 AND t2.pos - t1.pos = 1
""",
    "window_op": _SQL_BASE
    + """
SELECT DISTINCT t1.doc_id, 1.0 AS score
FROM tokpos t1 JOIN tokpos t2
  ON t1.doc_id = t2.doc_id AND t1.term = 'merge' AND t2.term = 'batch'
 AND abs(t2.pos - t1.pos) + 1 <= 8
""",
    "syn_ranked": _SQL_BASE
    + """
SELECT doc_id, sum(tf)::DOUBLE AS score
FROM tf WHERE term IN ('spark', 'data') GROUP BY 1
""",
    "wildcard": _SQL_BASE
    + """
SELECT doc_id, sum(tf)::DOUBLE AS score
FROM tf WHERE term LIKE 's%' GROUP BY 1
""",
    "wildcard_suffix": _SQL_BASE
    + """
SELECT doc_id, sum(tf)::DOUBLE AS score
FROM tf WHERE term LIKE '%er' GROUP BY 1
""",
    "regex_term": _SQL_BASE
    + """
SELECT doc_id, sum(tf)::DOUBLE AS score
FROM tf WHERE regexp_full_match(term, '[sv][a-z]+') GROUP BY 1
""",
    "fuzzy": _SQL_BASE
    + """
SELECT doc_id, sum(tf)::DOUBLE AS score
FROM tf WHERE term IN (SELECT term FROM dfreq
                       WHERE levenshtein(term, 'sparkk') <= 1)
GROUP BY 1
""",
    "bm25_single": _SQL_BASE
    + f""", t_spark AS ({_bm25_term_sql('spark')})
SELECT doc_id, round(s, 4) + 0.0 AS score FROM t_spark
""",
    "filtered_search": _SQL_BASE
    + f""", t_spark AS ({_bm25_term_sql('spark')})
SELECT t.doc_id, round(t.s, 4) + 0.0 AS score
FROM t_spark t JOIN documents d ON d.doc_id = t.doc_id
WHERE d.lang = 'en'
""",
    "bm25_topk": _SQL_BASE
    + f""", t1 AS ({_bm25_term_sql('spark')}),
t2 AS ({_bm25_term_sql('merge')}),
t3 AS ({_bm25_term_sql('window')}),
ids AS (SELECT doc_id FROM t1 UNION SELECT doc_id FROM t2
        UNION SELECT doc_id FROM t3),
scored AS (
  SELECT ids.doc_id,
         0.0 + COALESCE(t1.s * 1.0, 0.0) + COALESCE(t2.s * 1.0, 0.0)
             + COALESCE(t3.s * 1.0, 0.0) AS s
  FROM ids
  LEFT JOIN t1 ON t1.doc_id = ids.doc_id
  LEFT JOIN t2 ON t2.doc_id = ids.doc_id
  LEFT JOIN t3 ON t3.doc_id = ids.doc_id
)
SELECT doc_id,
       row_number() OVER (ORDER BY s DESC, doc_id ASC)::BIGINT AS rank,
       round(s, 4) + 0.0 AS score
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {BM25_K}
""",
    "synonyms": _SQL_BASE
    + """
SELECT doc_id, sum(tf)::DOUBLE AS score
FROM tf WHERE term IN ('spark', 'merge') GROUP BY 1
""",
    "msm_bm25": _SQL_BASE
    + f""", t1 AS ({_bm25_term_sql('spark')}),
t2 AS ({_bm25_term_sql('merge')}),
t3 AS ({_bm25_term_sql('window')}),
ids AS (SELECT doc_id FROM t1 UNION SELECT doc_id FROM t2
        UNION SELECT doc_id FROM t3),
scored AS (
  SELECT ids.doc_id,
         0.0 + COALESCE(t1.s * 1.0, 0.0) + COALESCE(t2.s * 1.0, 0.0)
             + COALESCE(t3.s * 1.0, 0.0) AS s,
         (t1.doc_id IS NOT NULL)::INT + (t2.doc_id IS NOT NULL)::INT
             + (t3.doc_id IS NOT NULL)::INT AS npresent
  FROM ids
  LEFT JOIN t1 ON t1.doc_id = ids.doc_id
  LEFT JOIN t2 ON t2.doc_id = ids.doc_id
  LEFT JOIN t3 ON t3.doc_id = ids.doc_id
)
SELECT doc_id,
       row_number() OVER (ORDER BY s DESC, doc_id ASC)::BIGINT AS rank,
       round(s, 4) + 0.0 AS score
FROM scored WHERE npresent >= 2 ORDER BY s DESC, doc_id ASC LIMIT {BM25_K}
""",
    "msm_boolean": _SQL_BASE
    + """
SELECT doc_id, max(tf)::DOUBLE AS score
FROM tf WHERE term IN ('spark', 'merge', 'window')
GROUP BY doc_id HAVING count(*) >= 2
""",
    "search_after": _SQL_BASE
    + f""", t1 AS ({_bm25_term_sql('spark')}),
t2 AS ({_bm25_term_sql('merge')}),
t3 AS ({_bm25_term_sql('window')}),
ids AS (SELECT doc_id FROM t1 UNION SELECT doc_id FROM t2
        UNION SELECT doc_id FROM t3),
scored AS (
  SELECT ids.doc_id,
         0.0 + COALESCE(t1.s * 1.0, 0.0) + COALESCE(t2.s * 1.0, 0.0)
             + COALESCE(t3.s * 1.0, 0.0) AS s
  FROM ids
  LEFT JOIN t1 ON t1.doc_id = ids.doc_id
  LEFT JOIN t2 ON t2.doc_id = ids.doc_id
  LEFT JOIN t3 ON t3.doc_id = ids.doc_id
)
SELECT doc_id,
       (row_number() OVER (ORDER BY s DESC, doc_id ASC) - {BM25_K})::BIGINT
         AS rank,
       round(s, 4) + 0.0 AS score
FROM scored ORDER BY s DESC, doc_id ASC
LIMIT {BM25_K} OFFSET {BM25_K}
""",
    "indri_and": _SQL_BASE
    + f""", i1 AS ({_indri_term_sql('spark')}),
i2 AS ({_indri_term_sql('merge')}),
present AS (SELECT doc_id FROM tf WHERE term IN ('spark', 'merge') GROUP BY 1)
SELECT p.doc_id,
       round(1.0 * pow(i1.s, 0.5) * pow(i2.s, 0.5), 4) + 0.0 AS score
FROM present p
JOIN i1 ON i1.doc_id = p.doc_id
JOIN i2 ON i2.doc_id = p.doc_id
""",
    "indri_wsum": _SQL_BASE
    + f""", i1 AS ({_indri_term_sql('spark')}),
i2 AS ({_indri_term_sql('merge')}),
present AS (SELECT doc_id FROM tf WHERE term IN ('spark', 'merge') GROUP BY 1)
SELECT p.doc_id,
       round(0.0 + (0.7 / (0.7 + 0.3)) * i1.s
                 + (0.3 / (0.7 + 0.3)) * i2.s, 4) + 0.0 AS score
FROM present p
JOIN i1 ON i1.doc_id = p.doc_id
JOIN i2 ON i2.doc_id = p.doc_id
""",
    "indri_wand": _SQL_BASE
    + f""", i1 AS ({_indri_term_sql('spark')}),
i2 AS ({_indri_term_sql('merge')}),
present AS (SELECT doc_id FROM tf WHERE term IN ('spark', 'merge') GROUP BY 1)
SELECT p.doc_id,
       round(1.0 * pow(i1.s, 0.75) * pow(i2.s, 0.25), 4) + 0.0 AS score
FROM present p
JOIN i1 ON i1.doc_id = p.doc_id
JOIN i2 ON i2.doc_id = p.doc_id
""",
    "vsm_cosine": _SQL_BASE
    + """
, qw AS (
  SELECT term,
         ln((SELECT n_docs FROM cstats)::DOUBLE / df::DOUBLE) AS qw
  FROM dfreq WHERE term IN ('spark', 'merge', 'window')
),
qlen AS (SELECT sum(qw * qw) AS ql FROM qw),
dots AS (
  SELECT tf.doc_id, sum((1.0 + ln(tf.tf::DOUBLE)) * qw.qw) AS dot
  FROM tf JOIN qw ON qw.term = tf.term GROUP BY 1
),
norms AS (
  SELECT tf.doc_id, sum(pow(1.0 + ln(tf.tf::DOUBLE), 2.0)) AS dlen2
  FROM tf WHERE tf.doc_id IN (SELECT doc_id FROM dots) GROUP BY 1
)
SELECT dots.doc_id,
       round(dots.dot / sqrt(norms.dlen2 * (SELECT ql FROM qlen)), 4) + 0.0
         AS score
FROM dots JOIN norms ON norms.doc_id = dots.doc_id
""",
    "prf_terms": _SQL_BASE
    + f""", t1 AS ({_bm25_term_sql('spark')}),
t2 AS ({_bm25_term_sql('merge')}),
t3 AS ({_bm25_term_sql('window')}),
ids AS (SELECT doc_id FROM t1 UNION SELECT doc_id FROM t2
        UNION SELECT doc_id FROM t3),
bm AS (
  SELECT ids.doc_id,
         0.0 + COALESCE(t1.s * 1.0, 0.0) + COALESCE(t2.s * 1.0, 0.0)
             + COALESCE(t3.s * 1.0, 0.0) AS s
  FROM ids
  LEFT JOIN t1 ON t1.doc_id = ids.doc_id
  LEFT JOIN t2 ON t2.doc_id = ids.doc_id
  LEFT JOIN t3 ON t3.doc_id = ids.doc_id
),
seed AS (SELECT doc_id, s FROM bm ORDER BY s DESC, doc_id ASC LIMIT 10),
cand AS (
  SELECT tf.term,
         sum((tf.tf::DOUBLE / dl.doclen::DOUBLE) * seed.s
             * ln(1.0 / (dfreq.ctf::DOUBLE / cstats.sum_doclen::DOUBLE))) AS s
  FROM tf
  JOIN seed ON seed.doc_id = tf.doc_id
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN cstats
  GROUP BY 1
)
SELECT term, round(s, 4) + 0.0 AS score
FROM cand ORDER BY round(s, 4) DESC, term ASC LIMIT 25
""",
    "fingerprints": _SQL_BASE
    + """
SELECT doc_id,
       md5(array_to_string(toks, ' ')) AS fp_full,
       md5(array_to_string(toks[1:32], ' ')) AS fp_prefix
FROM toks
""",
    "minhash_sigs": _SQL_BASE
    + """
, sh AS (
  SELECT doc_id,
         list_distinct(list_filter(list_transform(toks,
           (x, i) -> CASE WHEN i + 2 <= len(toks)
                     THEN toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] END),
           x -> x IS NOT NULL)) AS sh
  FROM toks
)
SELECT doc_id,
       list_min(list_transform(sh, s -> md5('0|' || s))) AS sig0,
       list_min(list_transform(sh, s -> md5('1|' || s))) AS sig1,
       list_min(list_transform(sh, s -> md5('2|' || s))) AS sig2,
       list_min(list_transform(sh, s -> md5('3|' || s))) AS sig3
FROM sh WHERE len(sh) > 0
""",
    "neardup_pairs": _SQL_BASE
    + """
, sh AS (
  SELECT doc_id,
         list_distinct(list_filter(list_transform(toks,
           (x, i) -> CASE WHEN i + 2 <= len(toks)
                     THEN toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] END),
           x -> x IS NOT NULL)) AS sh
  FROM toks WHERE len(toks) >= 3
)
SELECT a.doc_id AS a, b.doc_id AS b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))), 4) + 0.0 AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
""",
    "ngram_jaccard": _SQL_BASE
    + """
, sh AS (
  SELECT doc_id,
         list_distinct(list_filter(list_transform(toks,
           (x, i) -> CASE WHEN i + 2 <= len(toks)
                     THEN toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] END),
           x -> x IS NOT NULL)) AS sh
  FROM toks
),
inv AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE len(sh) > 0),
sz AS (SELECT doc_id, count(*) AS n FROM inv GROUP BY 1),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
  FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT inter.a, inter.b,
       round(i::DOUBLE / (sa.n + sb.n - i), 4) + 0.0 AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = inter.a
JOIN sz sb ON sb.doc_id = inter.b
WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.5
""",
    "quality": _SQL_BASE
    + """
SELECT t.doc_id,
       len(toks)::BIGINT AS n_tokens,
       round(CASE WHEN len(toks) > 0
             THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END, 4)
         + 0.0 AS ttr,
       round(CASE WHEN len(toks) > 0
             THEN len(list_filter(toks, x -> list_contains(
                  ['the','a','of','and','to','in','is','that','it','for'], x)))::DOUBLE
                  / len(toks) ELSE 0.0 END, 4) + 0.0 AS stopword_ratio,
       round(CASE WHEN length(d.text) > 0
             THEN (length(d.text) - length(regexp_replace(d.text, '[0-9]', '', 'g')))::DOUBLE
                  / length(d.text) ELSE 0.0 END, 4) + 0.0 AS digit_ratio,
       length(d.text)::BIGINT AS n_chars
FROM toks t JOIN documents d ON d.doc_id = t.doc_id
""",
    "lang_id": _SQL_BASE
    + """
, r AS (
  SELECT doc_id,
    CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> list_contains(
      ['the','a','of','and','to','in','is','that','it','for'], x)))::DOUBLE / len(toks)
      ELSE 0.0 END AS r_en,
    CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> list_contains(
      ['der','die','das','und','ist','nicht','ein','mit','von','zu'], x)))::DOUBLE / len(toks)
      ELSE 0.0 END AS r_de,
    CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> list_contains(
      ['le','la','les','de','et','est','un','une','pour','dans'], x)))::DOUBLE / len(toks)
      ELSE 0.0 END AS r_fr
  FROM toks
)
SELECT doc_id, round(r_en, 6) AS r_en, round(r_de, 6) AS r_de,
       round(r_fr, 6) AS r_fr,
       CASE WHEN r_en >= r_de AND r_en >= r_fr THEN 'en'
            WHEN r_de >= r_fr THEN 'de' ELSE 'fr' END AS pred_lang
FROM r
""",
    "emb_neardup": """
WITH p AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                     p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(a.embedding,
                  x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(b.embedding,
                  x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))) AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT a, b, round(cosine, 4) + 0.0 AS cosine FROM p WHERE cosine >= 0.4
""",
    "knn_cosine": """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         list_reduce(list_transform(list_zip(e.embedding, q.qv),
                     p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(e.embedding,
                  x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(q.qv,
                  x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0
)
SELECT vec_id, round(cosine, 4) + 0.0 AS cosine
FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
""",
    "ppl_buckets": """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(coalesce(text, '')),
                     '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
), pos AS (
  SELECT doc_id, p[1] AS v, p[2] AS w
  FROM (
    SELECT doc_id,
           unnest(list_zip(list_slice(t, 1, greatest(len(t) - 1, 0)),
                           list_slice(t, 2, len(t)))) AS p
    FROM toks
  )
), big AS (
  SELECT v, w, count(*)::BIGINT AS c_vw FROM pos GROUP BY v, w
), ctx AS (
  SELECT v, count(*)::BIGINT AS c_v FROM pos GROUP BY v
), voc AS (
  SELECT count(DISTINCT u)::DOUBLE AS vs
  FROM (SELECT unnest(t) AS u FROM toks)
), scored AS (
  SELECT pos.doc_id,
         count(*)::BIGINT AS n_bigrams,
         -avg(ln((coalesce(big.c_vw, 0)::DOUBLE + 0.1)
                 / (coalesce(ctx.c_v, 0)::DOUBLE + 0.1 * voc.vs)))
           AS ce
  FROM pos
  LEFT JOIN big ON big.v = pos.v AND big.w = pos.w
  LEFT JOIN ctx ON ctx.v = pos.v
  CROSS JOIN voc
  GROUP BY pos.doc_id
),
ced AS (
  SELECT d.doc_id, round(s.ce, 4) + 0.0 AS ce4
  FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
), cuts AS (
  SELECT quantile_cont(ce4, [0.25, 0.75]) AS c
  FROM ced WHERE ce4 IS NOT NULL
)
SELECT doc_id,
       CASE WHEN ce4 IS NULL THEN 'unscored'
            WHEN ce4 <= c[1] THEN 'head'
            WHEN ce4 <= c[2] THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ced CROSS JOIN cuts
""",
    "lm_score": """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(coalesce(text, '')),
                     '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
), pos AS (
  SELECT doc_id, p[1] AS v, p[2] AS w
  FROM (
    SELECT doc_id,
           unnest(list_zip(list_slice(t, 1, greatest(len(t) - 1, 0)),
                           list_slice(t, 2, len(t)))) AS p
    FROM toks
  )
), big AS (
  SELECT v, w, count(*)::BIGINT AS c_vw FROM pos GROUP BY v, w
), ctx AS (
  SELECT v, count(*)::BIGINT AS c_v FROM pos GROUP BY v
), voc AS (
  SELECT count(DISTINCT u)::DOUBLE AS vs
  FROM (SELECT unnest(t) AS u FROM toks)
), scored AS (
  SELECT pos.doc_id,
         count(*)::BIGINT AS n_bigrams,
         -avg(ln((coalesce(big.c_vw, 0)::DOUBLE + 0.1)
                 / (coalesce(ctx.c_v, 0)::DOUBLE + 0.1 * voc.vs)))
           AS ce
  FROM pos
  LEFT JOIN big ON big.v = pos.v AND big.w = pos.w
  LEFT JOIN ctx ON ctx.v = pos.v
  CROSS JOIN voc
  GROUP BY pos.doc_id
)
SELECT d.doc_id,
       coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams,
       round(s.ce, 4) + 0.0 AS cross_entropy
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
""",
    "pii_scrub": r"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN
           coalesce(text, '') || ' contact bob.smith+x@example.co.uk or 10.0.'
             || (doc_id % 256)::VARCHAR || '.1 ref 1234567890'
         ELSE coalesce(text, '') END AS text
  FROM documents
), s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
           AS n_email,
         regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g') AS text
  FROM planted
), s2 AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(text,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ip,
         regexp_replace(text,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text
  FROM s1
)
SELECT doc_id,
       regexp_replace(text, '\b\d{8,}\b', '<NUM>', 'g') AS clean_text,
       n_email, n_ip,
       len(regexp_extract_all(text, '\b\d{8,}\b'))::BIGINT AS n_longnum
FROM s2
""",
    "repetition": """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), chr(10)),
                     x -> len(x) > 0) AS lines,
         list_filter(string_split_regex(lower(coalesce(text, '')),
                     '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, lines, t,
         list_transform(
           list_zip(list_slice(t, 1, greatest(len(t) - 1, 0)),
                    list_slice(t, 2, len(t))),
           p -> concat(p[1], ' ', p[2])) AS bi,
         list_transform(
           list_zip(list_slice(t, 1, greatest(len(t) - 2, 0)),
                    list_slice(t, 2, greatest(len(t) - 1, 0)),
                    list_slice(t, 3, len(t))),
           p -> concat(p[1], ' ', p[2], ' ', p[3])) AS tri
  FROM base
), agg AS (
  SELECT doc_id,
         len(lines) AS n_lines,
         len(list_distinct(lines)) AS n_dl,
         coalesce(list_sum(list_transform(lines, x -> len(x))), 0) AS ch,
         coalesce(list_sum(list_transform(list_distinct(lines),
                                          x -> len(x))), 0) AS ch_d,
         len(bi) AS n_bi,
         coalesce(list_max(list_transform(list_distinct(bi),
                  b -> len(list_filter(bi, x -> x = b)))), 0) AS top_bi,
         len(tri) AS n_tri,
         len(list_distinct(tri)) AS n_dt
  FROM grams
)
SELECT doc_id,
       n_lines::BIGINT AS n_lines,
       round(CASE WHEN n_lines > 0
                  THEN (n_lines - n_dl)::DOUBLE / n_lines ELSE 0 END, 4)
         + 0.0 AS dup_line_frac,
       round(CASE WHEN ch > 0
                  THEN (ch - ch_d)::DOUBLE / ch ELSE 0 END, 4)
         + 0.0 AS dup_line_char_frac,
       round(CASE WHEN n_bi > 0
                  THEN top_bi::DOUBLE / n_bi ELSE 0 END, 4)
         + 0.0 AS top_bigram_frac,
       round(CASE WHEN n_tri > 0
                  THEN (n_tri - n_dt)::DOUBLE / n_tri ELSE 0 END, 4)
         + 0.0 AS dup_trigram_frac
FROM agg
""",
    "tool_transitions": """
WITH turns AS (
  SELECT doc_id // 5 AS conv_id, (doc_id % 5)::INT AS turn_idx,
         CASE WHEN doc_id % 5 = 2 THEN NULL ELSE source END AS tool
  FROM documents
),
tooled AS (
  SELECT conv_id, turn_idx, tool AS to_tool,
         lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS from_tool
  FROM turns WHERE tool IS NOT NULL AND tool <> ''
)
SELECT from_tool, to_tool, count(*)::BIGINT AS n,
       count(DISTINCT conv_id)::BIGINT AS n_convs
FROM tooled WHERE from_tool IS NOT NULL
GROUP BY 1, 2 ORDER BY n DESC, from_tool, to_tool
""",
    "letor_minmax": """
WITH feats AS (
  SELECT 'q' || (doc_id % 3) AS qid, doc_id,
         CASE WHEN doc_id % 11 = 0 THEN 'NaN'::DOUBLE
              ELSE len(coalesce(text, ''))::DOUBLE END AS f_len,
         (doc_id % 7)::DOUBLE AS f_mod
  FROM documents
),
norm AS (
  SELECT qid, doc_id,
    CASE WHEN isnan(f_len) THEN f_len
         WHEN max(CASE WHEN isnan(f_len) THEN NULL ELSE f_len END) OVER w
              = min(CASE WHEN isnan(f_len) THEN NULL ELSE f_len END) OVER w
           THEN 0.0
         ELSE (f_len
               - min(CASE WHEN isnan(f_len) THEN NULL ELSE f_len END) OVER w)
              / (max(CASE WHEN isnan(f_len) THEN NULL ELSE f_len END) OVER w
                 - min(CASE WHEN isnan(f_len) THEN NULL ELSE f_len END)
                   OVER w)
    END AS f_len,
    CASE WHEN isnan(f_mod) THEN f_mod
         WHEN max(CASE WHEN isnan(f_mod) THEN NULL ELSE f_mod END) OVER w
              = min(CASE WHEN isnan(f_mod) THEN NULL ELSE f_mod END) OVER w
           THEN 0.0
         ELSE (f_mod
               - min(CASE WHEN isnan(f_mod) THEN NULL ELSE f_mod END) OVER w)
              / (max(CASE WHEN isnan(f_mod) THEN NULL ELSE f_mod END) OVER w
                 - min(CASE WHEN isnan(f_mod) THEN NULL ELSE f_mod END)
                   OVER w)
    END AS f_mod
  FROM feats WINDOW w AS (PARTITION BY qid)
)
SELECT qid, doc_id, round(f_len, 4) + 0.0 AS f_len,
       round(f_mod, 4) + 0.0 AS f_mod
FROM norm
""",
    "conv_quality": """
WITH turns AS (
  SELECT doc_id // 5 AS conv_id, (doc_id % 5)::INT AS turn_idx,
         CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         len(coalesce(text, '')) AS n
  FROM documents
),
base AS (
  SELECT conv_id, count(*)::BIGINT AS n_turns,
         count(*) FILTER (WHERE role = 'user')::BIGINT AS n_user,
         count(*) FILTER (WHERE role = 'assistant')::BIGINT AS n_assistant,
         count(*) FILTER (WHERE role = 'assistant' AND n = 0)::BIGINT
           AS n_empty_assistant
  FROM turns GROUP BY 1
),
ns AS (
  SELECT conv_id, role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
  FROM turns WHERE role <> 'system'
),
agg2 AS (
  SELECT conv_id,
         coalesce(sum(CASE WHEN prev = role THEN 1 ELSE 0 END), 0)::BIGINT
           AS viol,
         max(CASE WHEN rn = 1 THEN role END) AS first_role
  FROM ns GROUP BY 1
)
SELECT b.conv_id, b.n_turns, b.n_user, b.n_assistant,
       coalesce(a.first_role = 'user', FALSE) AS starts_with_user,
       coalesce(a.viol, 0)::BIGINT AS n_alternation_violations,
       b.n_empty_assistant,
       (b.n_turns BETWEEN 2 AND 4096 AND b.n_assistant >= 1
        AND coalesce(a.first_role = 'user', FALSE)
        AND coalesce(a.viol, 0) = 0
        AND b.n_empty_assistant = 0) AS keep
FROM base b LEFT JOIN agg2 a USING (conv_id)
""",
    "chat_render": """
WITH turns AS (
  SELECT doc_id // 5 AS conv_id, (doc_id % 5)::INT AS turn_idx,
         CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         coalesce(text, '') AS t
  FROM documents
),
pieces AS (
  SELECT conv_id, turn_idx, role, t,
         '<|' || role || '|>' || chr(10) AS pre,
         '<|' || role || '|>' || chr(10) || t || chr(10) AS piece
  FROM turns
),
offs AS (
  SELECT conv_id, turn_idx, role, t, pre,
         coalesce(sum(len(piece)) OVER (
             PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM pieces
),
rendered AS (
  SELECT conv_id, count(*)::BIGINT AS n_turns,
         string_agg(piece, '' ORDER BY turn_idx) AS text
  FROM pieces GROUP BY 1
)
SELECT r.conv_id, r.n_turns, r.text,
       (o.cum + len(o.pre))::BIGINT AS span_start,
       (o.cum + len(o.pre) + len(o.t))::BIGINT AS span_end
FROM rendered r JOIN offs o ON o.conv_id = r.conv_id
WHERE o.role = 'assistant'
ORDER BY r.conv_id, span_start
""",
    "conv_fp": """
WITH t AS (
  SELECT doc_id // 5 AS conv_id, doc_id % 5 AS turn_idx,
         md5(array_to_string(
             list_filter(string_split_regex(lower(coalesce(text, '')),
                         '[^a-z0-9]+'), x -> x <> ''), ' ')) AS fp
  FROM documents
)
SELECT conv_id, count(*)::BIGINT AS n_turns,
       md5(string_agg(fp || '#', '' ORDER BY turn_idx, fp)) AS conv_fp
FROM t GROUP BY conv_id
""",
    "knn_join": """
WITH scored AS (
  SELECT q.vec_id AS query_id, e.vec_id,
         list_reduce(list_transform(list_zip(e.embedding, q.embedding),
                     p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(e.embedding,
                  x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(q.embedding,
                  x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))) AS cosine
  FROM embeddings e CROSS JOIN embeddings q
  WHERE q.vec_id < 5 AND e.vec_id >= 5
), ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank,
         cosine
  FROM scored
)
SELECT query_id, vec_id, rank::BIGINT AS rank,
       round(cosine, 4) + 0.0 AS cosine
FROM ranked WHERE rank <= 5
""",
    "events_hourly": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
       event_type,
       count(*)::BIGINT AS n,
       round(sum(value), 4) + 0.0 AS sum_value
FROM events GROUP BY 1, 2
""",
    "multimodal_features": """
SELECT doc_id AS asset_id,
       octet_length(encode(text))::BIGINT AS n_bytes,
       octet_length(encode(text)) > 0 AS decode_ok
FROM documents
""",
    # gaps-and-islands twin of Spark's session_window: a session breaks
    # when the gap to the previous event of the same user exceeds 30 min;
    # session_end = last event + gap (session_window's end semantics).
    "user_sessions": """
WITH marked AS (
  SELECT user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
), numbered AS (
  SELECT user_id, ts, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_type
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end,
       count(*)::BIGINT AS n_events,
       count(DISTINCT event_type)::BIGINT AS n_types
FROM numbered GROUP BY user_id, sid
""",
}


def _simhash_sql() -> str:
    """All-pairs SimHash hamming ≤ 3 — the md5-digit bit convention mirrors
    pipeline/dedup.py::_md5_bit verbatim."""
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (((strpos('0123456789abcdef', "
        f"substring(md5(term), {b // 4 + 1}, 1)) - 1) >> {b % 4}) & 1) = 1 "
        f"THEN tf ELSE -tf END) AS s{b}"
        for b in range(64)
    )
    bands = []
    for k in range(4):
        bits = " | ".join(
            f"(CASE WHEN s{16 * k + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(16)
        )
        bands.append(f"({bits}) AS b{k}")
    band_select = ",\n         ".join(bands)
    return (
        _SQL_BASE
        + f"""
, bitsums AS (
  SELECT doc_id,
         {bit_sums}
  FROM tf GROUP BY doc_id
),
sim AS (
  SELECT doc_id,
         {band_select}
  FROM bitsums
),
ham AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
         bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
       + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS hamming
  FROM sim x JOIN sim y ON x.doc_id < y.doc_id
)
SELECT a, b, hamming::BIGINT AS hamming FROM ham WHERE hamming <= 3
"""
    )


ORACLE_SQL["token_counts"] = r"""
WITH c AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                         x -> x <> ''))::BIGINT
           AS n_ws,
         len(regexp_extract_all(coalesce(text, ''),
                                '[A-Za-z0-9]{1,4}|[^A-Za-z0-9\s]'))::BIGINT
           AS n_bpe
  FROM documents
)
SELECT doc_id, n_ws, n_bpe,
       round(CASE WHEN n_ws > 0 THEN n_bpe::DOUBLE / n_ws ELSE 0.0 END, 4)
         + 0.0 AS bpe_per_ws
FROM c
"""

def _snippets_sql() -> str:
    """DuckDB twin of q_snippets: same top-k CTE as bm25_topk, then
    best-window selection over tokpos (optimal windows start at a match;
    self-join counts matches in [start, start+8))."""
    return (
        _SQL_BASE
        + f""", t1 AS ({_bm25_term_sql('spark')}),
t2 AS ({_bm25_term_sql('merge')}),
t3 AS ({_bm25_term_sql('window')}),
ids AS (SELECT doc_id FROM t1 UNION SELECT doc_id FROM t2
        UNION SELECT doc_id FROM t3),
scored AS (
  SELECT ids.doc_id,
         0.0 + COALESCE(t1.s * 1.0, 0.0) + COALESCE(t2.s * 1.0, 0.0)
             + COALESCE(t3.s * 1.0, 0.0) AS s
  FROM ids
  LEFT JOIN t1 ON t1.doc_id = ids.doc_id
  LEFT JOIN t2 ON t2.doc_id = ids.doc_id
  LEFT JOIN t3 ON t3.doc_id = ids.doc_id
),
topk AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY s DESC, doc_id ASC)::BIGINT AS rank
  FROM scored ORDER BY s DESC, doc_id ASC LIMIT {BM25_K}
),
matches AS (
  SELECT k.doc_id, k.rank, p.pos
  FROM topk k JOIN tokpos p ON p.doc_id = k.doc_id
  WHERE p.term IN ('spark', 'merge', 'window')
),
wins AS (
  SELECT m1.doc_id, m1.rank, m1.pos AS start_tok, count(*)::BIGINT AS n_matches
  FROM matches m1 JOIN matches m2
    ON m2.doc_id = m1.doc_id AND m2.pos >= m1.pos AND m2.pos < m1.pos + 8
  GROUP BY 1, 2, 3
),
best AS (
  SELECT doc_id, rank, start_tok, n_matches,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY n_matches DESC, start_tok ASC) AS rn
  FROM wins
)
SELECT b.doc_id, b.rank, b.start_tok::BIGINT AS start_tok, b.n_matches,
       array_to_string(list_slice(t.toks, b.start_tok + 1, b.start_tok + 8),
                       ' ') AS snippet
FROM best b JOIN toks t ON t.doc_id = b.doc_id
WHERE b.rn = 1
"""
    )


ORACLE_SQL["snippets"] = _snippets_sql()


def _snippets_multi_sql() -> str:
    """Twin of q_snippets_multi: fixed hit set (doc_id < 20), window
    self-join, then two greedy picks with the disjointness filter."""
    return (
        _SQL_BASE
        + """,
matches AS (
  SELECT p.doc_id, (p.doc_id + 1)::BIGINT AS rank, p.pos
  FROM tokpos p
  WHERE p.doc_id < 20 AND p.term IN ('spark', 'merge', 'window')
),
wins AS (
  SELECT m1.doc_id, m1.rank, m1.pos AS start_tok, count(*)::BIGINT AS n_matches
  FROM matches m1 JOIN matches m2
    ON m2.doc_id = m1.doc_id AND m2.pos >= m1.pos AND m2.pos < m1.pos + 8
  GROUP BY 1, 2, 3
),
best AS (
  SELECT doc_id, rank, start_tok, n_matches,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY n_matches DESC, start_tok ASC) AS rn
  FROM wins
),
best1 AS (
  SELECT doc_id, rank, start_tok, n_matches FROM best WHERE rn = 1
),
rem AS (
  SELECT w.doc_id, w.rank, w.start_tok, w.n_matches,
         row_number() OVER (PARTITION BY w.doc_id
                            ORDER BY w.n_matches DESC, w.start_tok ASC) AS rn
  FROM wins w JOIN best1 b1 ON b1.doc_id = w.doc_id
  WHERE w.start_tok >= b1.start_tok + 8 OR w.start_tok + 8 <= b1.start_tok
),
frags AS (
  SELECT doc_id, rank, 1 AS fragment_ix, start_tok, n_matches FROM best1
  UNION ALL
  SELECT doc_id, rank, 2, start_tok, n_matches FROM rem WHERE rn = 1
  UNION ALL
  -- match-less hits degrade to one leading-window fragment
  SELECT d.doc_id, (d.doc_id + 1)::BIGINT, 1, 0, 0::BIGINT
  FROM documents d
  WHERE d.doc_id < 20
    AND NOT EXISTS (SELECT 1 FROM best1 b WHERE b.doc_id = d.doc_id)
)
SELECT f.doc_id, f.rank, f.fragment_ix::INT AS fragment_ix,
       f.start_tok::BIGINT AS start_tok, f.n_matches,
       array_to_string(list_slice(t.toks, f.start_tok + 1, f.start_tok + 8),
                       ' ') AS snippet
FROM frags f JOIN toks t ON t.doc_id = f.doc_id
ORDER BY f.doc_id, f.fragment_ix
"""
    )


ORACLE_SQL["snippets_multi"] = _snippets_multi_sql()


def _b16_sql(key_expr: str, seed: int) -> str:
    """DuckDB twin of sampling.bucket16: first 4 hex digits of
    md5(key || '|seed') as an int (digit-by-digit, no hex cast needed)."""
    h = f"md5({key_expr} || '|{seed}')"
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (3 - i)}"
        for i in range(4)
    ) + ")"


def _hash_split_sql() -> str:
    from .pipeline.sampling import split_thresholds

    thr = split_thresholds({"train": 0.9, "val": 0.05, "test": 0.05})
    case = "CASE " + " ".join(
        f"WHEN b < {hi} THEN '{name}'" for name, hi in thr
    ) + " END"
    return f"""
WITH b AS (
  SELECT doc_id, {_b16_sql("doc_id::VARCHAR", 42)} AS b FROM documents
)
SELECT doc_id, {case} AS split FROM b
"""


ORACLE_SQL["hash_split"] = _hash_split_sql()


def _classify_sql() -> str:
    wvals = ", ".join(f"({j}, {w!r})" for j, w in enumerate(CLS_W))
    return (
        _SQL_BASE
        + f""",
fx AS (
  SELECT doc_id, ({_b16_sql('term', 0)} % {CLS_DIM}) AS bucket,
         count(*)::DOUBLE AS n
  FROM tokpos GROUP BY 1, 2
),
tot AS (SELECT doc_id, sum(n) AS tot FROM fx GROUP BY 1),
wt AS (SELECT * FROM (VALUES {wvals}) t(bucket, w)),
dots AS (
  SELECT fx.doc_id, sum((fx.n / tot.tot) * wt.w) AS dot
  FROM fx JOIN tot USING (doc_id) JOIN wt ON wt.bucket = fx.bucket
  GROUP BY 1
)
SELECT d.doc_id,
       round(1.0 / (1.0 + exp(-(COALESCE(dots.dot, 0.0) + {CLS_B!r}))), 4)
         + 0.0 AS p
FROM documents d LEFT JOIN dots ON dots.doc_id = d.doc_id
"""
    )


ORACLE_SQL["classify_score"] = _classify_sql()


def _b48_sql(key_expr: str, salt: str) -> str:
    """First 12 hex digits of md5(key || salt) as a BIGINT (digit-by-
    digit like _b16_sql) — the 48-bit uniform for the Gumbel draw."""
    h = f"md5({key_expr} || '{salt}')"
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        f"::BIGINT * {16 ** (11 - i)}"
        for i in range(12)
    ) + ")"


def _dsir_sql(select_tail: str) -> str:
    """Shared DSIR twin: grams → md5 buckets → smoothed bucket models
    (target = lang fixed by DSIR_TARGET_LANG, raw = all docs) →
    ascending-bucket list_reduce weight fold, replaying pipeline/dsir.py
    arithmetic operand for operand."""
    d, a = DSIR_DIM, DSIR_ALPHA
    return (
        _SQL_BASE
        + f""",
grams AS (
  SELECT doc_id, term AS g FROM tokpos
  UNION ALL
  SELECT t1.doc_id, t1.term || '_' || t2.term AS g
  FROM tokpos t1 JOIN tokpos t2
    ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
),
fx AS (
  SELECT doc_id, ({_b16_sql('g', DSIR_SEED)} % {d}) AS bucket,
         count(*)::DOUBLE AS n
  FROM grams GROUP BY 1, 2
),
tcnt AS (
  SELECT bucket, sum(n) AS c FROM fx
  JOIN documents USING (doc_id)
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1
),
rcnt AS (SELECT bucket, sum(n) AS c FROM fx GROUP BY 1),
lp AS (
  SELECT b.i AS bucket,
         ln((COALESCE(t.c, 0.0) + {a!r})
            / ((SELECT COALESCE(sum(c), 0.0) FROM tcnt) + {a * d!r})) AS lt,
         ln((COALESCE(r.c, 0.0) + {a!r})
            / ((SELECT COALESCE(sum(c), 0.0) FROM rcnt) + {a * d!r})) AS lr
  FROM (SELECT unnest(generate_series(0, {d - 1})) AS i) b
  LEFT JOIN tcnt t ON t.bucket = b.i
  LEFT JOIN rcnt r ON r.bucket = b.i
),
contrib AS (
  SELECT fx.doc_id, fx.bucket, fx.n * (lp.lt - lp.lr) AS c
  FROM fx JOIN lp ON lp.bucket = fx.bucket
),
w AS (
  SELECT doc_id,
         list_reduce(list_prepend(0.0, list(c ORDER BY bucket)),
                     (a, b) -> a + b) AS logw
  FROM contrib GROUP BY 1
),
wd AS (
  SELECT d.doc_id, COALESCE(w.logw, 0.0) AS logw
  FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id
)
{select_tail}
"""
    )


ORACLE_SQL["dsir_weights"] = _dsir_sql(
    "SELECT doc_id, round(logw, 4) + 0.0 AS logw FROM wd"
)

ORACLE_SQL["dsir_select"] = _dsir_sql(
    f"""SELECT doc_id, round(key, 4) + 0.0 AS key FROM (
  SELECT doc_id,
         logw + (-ln(-ln(({_b48_sql("doc_id::VARCHAR", f"|g{DSIR_SEED}")}::DOUBLE + 0.5)
                        / {float(1 << 48)!r}))) AS key
  FROM wd
) ORDER BY key DESC, doc_id ASC LIMIT {DSIR_NSEL}"""
)

ORACLE_SQL["pagerank"] = _pagerank_sql()

ORACLE_SQL["interval_join"] = """
SELECT p.event_id, p.user_id, c.event_id AS click_id,
       round(c.value, 4) + 0.0 AS click_value
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase') p
JOIN (SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'click') c
  ON c.user_id = p.user_id AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 3600 SECONDS
"""

ORACLE_SQL["asof_attrib"] = """
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       c.event_id AS click_id,
       round(c.value, 4) + 0.0 AS click_value
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase') p
LEFT JOIN (SELECT user_id, ts, event_id, value FROM events
           WHERE event_type = 'click') c
  ON c.user_id = p.user_id AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 3600 SECONDS
QUALIFY row_number() OVER (
  PARTITION BY p.event_id
  ORDER BY c.ts DESC NULLS LAST, c.event_id DESC, c.value DESC
) = 1
"""

ORACLE_SQL["warc_ingest"] = "SELECT doc_id, text FROM documents"

ORACLE_SQL["jsonl_ingest"] = (
    "SELECT doc_id, text, lang, source, n_chars FROM documents"
)


def _fold_sql() -> str:
    from .functions.folding import sql_fold_expr

    inj = (
        f"replace(translate(text, '{FOLD_INJECT_SRC}', '{FOLD_INJECT_DST}'),"
        " 'th', 'þ')"
    )
    return (
        f"SELECT doc_id, md5({sql_fold_expr(inj)}) AS folded_md5 "
        "FROM documents"
    )


ORACLE_SQL["fold_accents"] = _fold_sql()

ORACLE_SQL["weighted_sample"] = f"""
SELECT doc_id, round(skey, 4) + 0.0 AS skey FROM (
  SELECT doc_id,
         ln(n_chars::DOUBLE)
         + (-ln(-ln(({_b48_sql("doc_id::VARCHAR", f"|g{WS_SEED}")}::DOUBLE + 0.5)
                    / {float(1 << 48)!r}))) AS skey
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
) ORDER BY skey DESC, doc_id ASC LIMIT {WS_N}
"""

ORACLE_SQL["sorted_search"] = (
    _SQL_BASE
    + """,
m AS (
  SELECT doc_id, max(tf)::DOUBLE AS score FROM tf
  WHERE term IN ('spark', 'merge') GROUP BY 1
),
s AS (
  SELECT m.doc_id, m.score, COALESCE(d.source, '') AS tool
  FROM m JOIN documents d USING (doc_id)
)
SELECT doc_id,
       row_number() OVER (ORDER BY tool ASC, doc_id ASC)::BIGINT AS rank,
       score
FROM s ORDER BY tool ASC, doc_id ASC LIMIT 25
"""
)

ORACLE_SQL["percolate"] = (
    _SQL_BASE
    + """
SELECT 'q_and' AS query_id, doc_id FROM tf WHERE term = 'spark'
  AND doc_id IN (SELECT doc_id FROM tf WHERE term = 'merge')
UNION ALL
SELECT DISTINCT 'q_or', doc_id FROM tf WHERE term IN ('window', 'data')
UNION ALL
SELECT DISTINCT 'q_near', t1.doc_id
FROM tokpos t1 JOIN tokpos t2
  ON t1.doc_id = t2.doc_id AND t1.term = 'spark' AND t2.term = 'merge'
 AND t2.pos - t1.pos BETWEEN 1 AND 2
UNION ALL
SELECT 'q_msm', doc_id FROM (
  SELECT doc_id FROM tf WHERE term IN ('spark', 'merge', 'window')
  GROUP BY doc_id HAVING count(*) >= 2
)
UNION ALL
SELECT DISTINCT 'q_first_syn', doc_id FROM tokpos
 WHERE term IN ('spark', 'merge') AND pos < 3
UNION ALL
SELECT DISTINCT 'q_near_syn', t1.doc_id
FROM tokpos t1 JOIN tokpos t2
  ON t1.doc_id = t2.doc_id AND t1.term IN ('spark', 'data')
 AND t2.term = 'merge' AND t2.pos - t1.pos BETWEEN 0 AND 2
ORDER BY query_id, doc_id
"""
)

# percolate_bulk must match percolate exactly — same registry, same
# match semantics, different physical path (broadcast term table +
# chunked structural tail vs one unioned branch plan).
ORACLE_SQL["percolate_bulk"] = ORACLE_SQL["percolate"]

ORACLE_SQL["funnel"] = f"""
WITH e AS (
  SELECT user_id AS u, event_type AS et, epoch(ts)::DOUBLE AS t FROM events
),
s0 AS (
  SELECT u, min(t) AS ti, min(t) AS t0 FROM e
  WHERE et = '{FUNNEL_STEPS[0]}' GROUP BY u
),
s1 AS (
  SELECT e.u, min(e.t) AS ti, any_value(s0.t0) AS t0
  FROM e JOIN s0 ON s0.u = e.u
  WHERE e.et = '{FUNNEL_STEPS[1]}' AND e.t >= s0.ti
    AND e.t <= s0.t0 + {FUNNEL_WITHIN!r}
  GROUP BY e.u
),
s2 AS (
  SELECT e.u, min(e.t) AS ti, any_value(s1.t0) AS t0
  FROM e JOIN s1 ON s1.u = e.u
  WHERE e.et = '{FUNNEL_STEPS[2]}' AND e.t >= s1.ti
    AND e.t <= s1.t0 + {FUNNEL_WITHIN!r}
  GROUP BY e.u
)
SELECT 0::INT AS step_ix, '{FUNNEL_STEPS[0]}' AS step,
       (SELECT count(*) FROM s0)::BIGINT AS n_users
UNION ALL SELECT 1, '{FUNNEL_STEPS[1]}', (SELECT count(*) FROM s1)::BIGINT
UNION ALL SELECT 2, '{FUNNEL_STEPS[2]}', (SELECT count(*) FROM s2)::BIGINT
ORDER BY step_ix
"""

ORACLE_SQL["retention"] = f"""
WITH p AS (
  SELECT user_id AS u,
         (floor(epoch(ts)::DOUBLE / {RETENTION_PERIOD!r})
          * {RETENTION_PERIOD!r})::BIGINT AS per
  FROM events
),
f AS (SELECT u, min(per) AS cohort FROM p GROUP BY u),
act AS (SELECT DISTINCT u, per FROM p),
offs AS (
  SELECT act.u, f.cohort,
         ((act.per - f.cohort) / {int(RETENTION_PERIOD)})::BIGINT AS off
  FROM act JOIN f ON f.u = act.u
)
SELECT cohort, off AS period_offset, count(*)::BIGINT AS n_users
FROM offs GROUP BY 1, 2 ORDER BY 1, 2
"""


def _mixture_sql() -> str:
    total = sum(MIX_WEIGHTS.values())
    vals = ", ".join(
        f"('{g}', {w / total!r})" for g, w in MIX_WEIGHTS.items()
    )
    groups = ", ".join(f"'{g}'" for g in MIX_WEIGHTS)
    return f"""
WITH w AS (SELECT * FROM (VALUES {vals}) t(source, wn)),
counts AS (
  SELECT source, count(*)::BIGINT AS c FROM documents
  WHERE source IN ({groups}) GROUP BY 1
),
plan2 AS (
  SELECT w.source, c.c,
         floor(w.wn * {MIX_N})::BIGINT // c.c AS fullep,
         floor(w.wn * {MIX_N})::BIGINT % c.c AS rem
  FROM w JOIN counts c USING (source)
),
base AS (
  SELECT d.doc_id, u.epoch::BIGINT AS epoch
  FROM documents d
  JOIN plan2 p ON p.source = d.source
  CROSS JOIN unnest(generate_series(0, p.fullep - 1)) AS u(epoch)
),
ranked AS (
  SELECT d.doc_id, d.source,
         row_number() OVER (
           PARTITION BY d.source
           ORDER BY md5(d.doc_id::VARCHAR || '|{MIX_SEED}'), d.doc_id
         ) AS rk
  FROM documents d WHERE d.source IN ({groups})
)
SELECT doc_id, epoch FROM base
UNION ALL
SELECT r.doc_id, p.fullep::BIGINT AS epoch
FROM ranked r JOIN plan2 p ON p.source = r.source
WHERE r.rk <= p.rem
"""


ORACLE_SQL["mixture_mix"] = _mixture_sql()

ORACLE_SQL["dup_spans"] = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
wins AS (
  SELECT doc_id, t.i AS start,
         md5(array_to_string(toks[t.i : t.i + {DUPSPAN_N} - 1], ' ')) AS wkey
  FROM toks
  CROSS JOIN unnest(generate_series(1, len(toks) - {DUPSPAN_N} + 1)) AS t(i)
  WHERE len(toks) >= {DUPSPAN_N}
),
dupk AS (
  SELECT wkey FROM (SELECT DISTINCT wkey, doc_id FROM wins)
  GROUP BY wkey HAVING count(*) >= 2
),
marked AS (SELECT w.doc_id, w.start FROM wins w JOIN dupk USING (wkey)),
flagged AS (
  SELECT doc_id, start,
         CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start)
                   IS NULL
               OR start - lag(start) OVER (PARTITION BY doc_id
                                           ORDER BY start) > {DUPSPAN_N}
              THEN 1 ELSE 0 END AS newgrp
  FROM marked
),
grouped AS (
  SELECT doc_id, start,
         sum(newgrp) OVER (PARTITION BY doc_id ORDER BY start) AS grp
  FROM flagged
)
SELECT doc_id,
       (min(start) - 1)::BIGINT AS span_start,
       (max(start) + {DUPSPAN_N} - 1)::BIGINT AS span_end,
       count(*)::BIGINT AS n_windows
FROM grouped GROUP BY doc_id, grp
"""

ORACLE_SQL["decontam"] = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
wins AS (
  SELECT doc_id, md5(array_to_string(toks[t.i : t.i + {DUPSPAN_N} - 1],
                                     ' ')) AS wkey
  FROM toks
  CROSS JOIN unnest(generate_series(1, len(toks) - {DUPSPAN_N} + 1)) AS t(i)
  WHERE len(toks) >= {DUPSPAN_N}
),
bkeys AS (SELECT DISTINCT wkey FROM wins WHERE doc_id % 23 = 0),
hits AS (
  SELECT doc_id, count(*)::BIGINT AS n_contaminated
  FROM wins JOIN bkeys USING (wkey)
  WHERE doc_id % 23 <> 0 GROUP BY 1
),
base AS (
  SELECT doc_id,
         greatest(0, len(toks) - {DUPSPAN_N} + 1)::BIGINT AS n_windows
  FROM toks WHERE doc_id % 23 <> 0
)
SELECT b.doc_id, b.n_windows,
       COALESCE(h.n_contaminated, 0)::BIGINT AS n_contaminated,
       round(CASE WHEN b.n_windows > 0
                  THEN COALESCE(h.n_contaminated, 0)::DOUBLE
                       / b.n_windows::DOUBLE
                  ELSE 0.0 END, 4) + 0.0 AS contam_frac,
       (CASE WHEN b.n_windows > 0
             THEN COALESCE(h.n_contaminated, 0)::DOUBLE
                  / b.n_windows::DOUBLE
             ELSE 0.0 END) > 0.0 AS is_contaminated
FROM base b LEFT JOIN hits h USING (doc_id)
"""

ORACLE_SQL["tfidf"] = _SQL_BASE + """
SELECT tf.doc_id, tf.term, tf.tf,
       round(tf.tf::DOUBLE * (ln((1.0 + (SELECT n_docs FROM cstats)::DOUBLE)
                                 / (1.0 + dfreq.df::DOUBLE)) + 1.0), 4) + 0.0
         AS tfidf
FROM tf JOIN dfreq USING (term)
"""

ORACLE_SQL["source_report"] = _SQL_BASE + """
, q AS (
  SELECT t.doc_id, COALESCE(d.source, '') AS src,
         len(t.toks)::BIGINT AS n_tok,
         CASE WHEN len(t.toks) > 0
              THEN len(list_distinct(t.toks))::DOUBLE / len(t.toks)
              ELSE 0.0 END AS ttr,
         CASE WHEN len(t.toks) > 0
              THEN len(list_filter(t.toks, x -> list_contains(
                   ['the','a','of','and','to','in','is','that','it','for'],
                   x)))::DOUBLE / len(t.toks)
              ELSE 0.0 END AS swr,
         md5(array_to_string(t.toks, ' ')) AS fp
  FROM toks t JOIN documents d ON d.doc_id = t.doc_id
),
dup AS (
  SELECT src,
         sum(CASE WHEN fp_n > 1 THEN fp_n ELSE 0 END)::BIGINT AS dup_docs
  FROM (SELECT src, fp, count(*)::BIGINT AS fp_n FROM q GROUP BY 1, 2)
  GROUP BY 1
),
agg AS (
  SELECT src, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
         avg(n_tok::DOUBLE) AS avg_tokens, avg(ttr) AS avg_ttr,
         avg(swr) AS avg_swr
  FROM q GROUP BY 1
)
SELECT a.src AS source, a.n_docs, a.n_tokens,
       round(a.avg_tokens, 4) + 0.0 AS avg_tokens,
       round(a.avg_ttr, 4) + 0.0 AS avg_ttr,
       round(a.avg_swr, 4) + 0.0 AS avg_stopword_ratio,
       round(COALESCE(dup.dup_docs, 0)::DOUBLE / a.n_docs::DOUBLE, 4) + 0.0
         AS exact_dup_frac
FROM agg a LEFT JOIN dup ON dup.src = a.src
ORDER BY source
"""

ORACLE_SQL["shard_assign"] = f"""
WITH b AS (
  SELECT doc_id,
         ({_b16_sql("doc_id::VARCHAR", 9)} % 8)::INT AS shard,
         md5(doc_id::VARCHAR || '|9') AS h
  FROM documents
)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)::BIGINT
         AS pos
FROM b
"""

def _curation_sql() -> str:
    from .pipeline.sampling import split_thresholds

    thr = split_thresholds({"train": 0.98, "val": 0.01, "test": 0.01})
    case = "CASE " + " ".join(
        f"WHEN b < {hi} THEN '{name}'" for name, hi in thr
    ) + " END"
    return (
        _SQL_BASE
        + f""", f AS (
  SELECT t.doc_id, d.text, len(t.toks) AS n_tok,
    CASE WHEN len(t.toks) > 0
         THEN len(list_distinct(t.toks))::DOUBLE / len(t.toks)
         ELSE 0.0 END AS ttr,
    CASE WHEN length(d.text) > 0
         THEN (length(d.text)
               - length(regexp_replace(d.text, '[0-9]', '', 'g')))::DOUBLE
              / length(d.text)
         ELSE 0.0 END AS dr,
    CASE WHEN len(t.toks) > 0 THEN len(list_filter(t.toks, x -> list_contains(
      ['the','a','of','and','to','in','is','that','it','for'], x)))::DOUBLE / len(t.toks)
      ELSE 0.0 END AS r_en,
    CASE WHEN len(t.toks) > 0 THEN len(list_filter(t.toks, x -> list_contains(
      ['der','die','das','und','ist','nicht','ein','mit','von','zu'], x)))::DOUBLE / len(t.toks)
      ELSE 0.0 END AS r_de,
    CASE WHEN len(t.toks) > 0 THEN len(list_filter(t.toks, x -> list_contains(
      ['le','la','les','de','et','est','un','une','pour','dans'], x)))::DOUBLE / len(t.toks)
      ELSE 0.0 END AS r_fr
  FROM toks t JOIN documents d USING (doc_id)
),
g AS (
  SELECT doc_id, text,
    (n_tok >= 40 AND dr <= 0.3 AND ttr >= 0.45) AS q_ok,
    (CASE WHEN r_en >= r_de AND r_en >= r_fr THEN 'en'
          WHEN r_de >= r_fr THEN 'de' ELSE 'fr' END) = 'en' AS l_ok
  FROM f
),
win AS (
  SELECT min(doc_id) AS doc_id FROM g WHERE q_ok AND l_ok GROUP BY md5(text)
),
k AS (
  SELECT g.doc_id, g.q_ok, g.l_ok,
         (w.doc_id IS NOT NULL) AS keep,
         {_b16_sql("g.doc_id::VARCHAR", 42)} AS b
  FROM g LEFT JOIN win w ON w.doc_id = g.doc_id
)
SELECT doc_id, q_ok, l_ok, keep,
       CASE WHEN keep THEN ({case}) END AS split
FROM k
"""
    )


ORACLE_SQL["curation"] = _curation_sql()

ORACLE_SQL["pq_exactcode"] = """
WITH d AS (
  SELECT e.vec_id,
         list_sum(list_transform(
           list_zip(e.embedding,
                    (SELECT embedding FROM embeddings WHERE vec_id = 0)),
           p -> (p[1]::DOUBLE - p[2]::DOUBLE) ^ 2)) AS dist
  FROM embeddings e WHERE e.vec_id != 0
)
SELECT vec_id, round(dist, 4) + 0.0 AS adc_dist
FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10
"""

ORACLE_SQL["ivfpq_exact"] = ORACLE_SQL["pq_exactcode"]

ORACLE_SQL["hash_sample"] = f"""
SELECT doc_id, lang FROM documents
WHERE {_b16_sql("doc_id::VARCHAR", 7)} < {round(0.25 * 65536)}
"""

ORACLE_SQL["stratified_sample"] = f"""
WITH r AS (
  SELECT lang, source, doc_id,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY md5(doc_id::VARCHAR || '|13') ASC, doc_id ASC
         ) AS rk
  FROM documents
)
SELECT lang, source, doc_id FROM r WHERE rk <= 5
"""

ORACLE_SQL["bm25_batch"] = _bm25_batch_sql()
ORACLE_SQL["bm25_bulk"] = _bm25_batch_sql()
ORACLE_SQL["simhash_pairs"] = _simhash_sql()
# nprobe = nlist degenerates to exact kNN over vec_id <> 0 — same oracle.
ORACLE_SQL["ann_ivf_exactprobe"] = ORACLE_SQL["knn_cosine"]
ORACLE_SQL["ivf_store"] = ORACLE_SQL["knn_cosine"]
# The LSH scale path at total-recall parameters must equal the exact pairs.
ORACLE_SQL["emb_neardup_lsh"] = ORACLE_SQL["emb_neardup"]

ORACLE_SQL["semdedup_exact1"] = ORACLE_SQL["emb_neardup"]

ORACLE_SQL["sq_search"] = """
WITH dims AS (
  SELECT dim, min(x::DOUBLE) AS lo, max(x::DOUBLE) AS hi
  FROM (SELECT unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings)
  GROUP BY 1
),
steps AS (
  SELECT dim, lo, hi,
         CASE WHEN hi > lo THEN (hi - lo) / 255.0 ELSE 1.0 END AS step
  FROM dims
),
vals AS (
  SELECT vec_id, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings WHERE vec_id != 0
),
rec AS (
  SELECT v.vec_id, v.dim,
         s.lo + greatest(0, least(255,
             floor((v.x::DOUBLE - s.lo) / s.step + 0.5)))::BIGINT * s.step
           AS xr
  FROM vals v JOIN steps s USING (dim)
),
q AS (
  SELECT unnest(embedding) AS qx, generate_subscripts(embedding, 1) AS dim
  FROM embeddings WHERE vec_id = 0
),
qn AS (SELECT sqrt(sum((qx::DOUBLE) * (qx::DOUBLE))) AS n FROM q),
dots AS (
  SELECT r.vec_id, sum(r.xr * q.qx::DOUBLE) AS dot,
         sqrt(sum(r.xr * r.xr)) AS nr
  FROM rec r JOIN q USING (dim) GROUP BY 1
)
SELECT vec_id, round(dot / (nr * qn.n), 4) + 0.0 AS cosine
FROM dots, qn
ORDER BY dot / (nr * qn.n) DESC, vec_id ASC LIMIT 10
"""
# Federated half-indexes with merged global stats must reproduce the
# single-index flagship ranking exactly.
ORACLE_SQL["multi_search"] = ORACLE_SQL["bm25_topk"]
ORACLE_SQL["merge_search"] = ORACLE_SQL["bm25_topk"]
# Rollover generations federate through the same MultiReader invariant.
ORACLE_SQL["rollover_search"] = ORACLE_SQL["bm25_topk"]
ORACLE_SQL["ir_rbp_err"] = """
WITH qs AS (SELECT unnest(range(5)) AS q),
base AS (SELECT doc_id, q FROM documents CROSS JOIN qs),
ranking AS (
  SELECT 'q' || q AS qid, lpad(doc_id::VARCHAR, 6, '0') AS ext_id, rank
  FROM (
    SELECT doc_id, q,
           row_number() OVER (
             PARTITION BY q
             ORDER BY ((doc_id * 2654435761 + q * 97) % 1000003) DESC,
                      doc_id ASC
           ) AS rank
    FROM base
    WHERE (doc_id * 37 + q) % 7 = 0
  )
  WHERE rank <= 50
),
qrels AS (
  SELECT 'q' || q AS qid, lpad(doc_id::VARCHAR, 6, '0') AS ext_id,
         CASE WHEN (doc_id * 13 + q) % 4 = 0
              THEN 1 + (doc_id % 3) ELSE 0 END AS rel
  FROM base
  WHERE (doc_id + q) % 2 = 0
),
jj AS (
  SELECT r.qid, r.rank, COALESCE(qr.rel, 0) AS rel,
         CASE WHEN COALESCE(qr.rel, 0) > 0 THEN 1 ELSE 0 END AS isrel
  FROM ranking r
  LEFT JOIN qrels qr ON r.qid = qr.qid AND r.ext_id = qr.ext_id
),
gmax AS (SELECT greatest(max(rel), 1) AS g FROM qrels),
rr AS (
  SELECT qid, rank, isrel,
         (pow(2.0, rel) - 1.0) / pow(2.0, (SELECT g FROM gmax)) AS rv
  FROM jj
),
casc AS (
  SELECT qid, rank, isrel, rv,
         exp(coalesce(sum(ln(1.0 - rv)) OVER (
             PARTITION BY qid ORDER BY rank
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0))
           AS prod_before
  FROM rr
)
SELECT qid, count(*)::BIGINT AS num_ret,
       round((1.0 - 0.8) * sum(isrel * pow(0.8, rank - 1.0)), 4) + 0.0
         AS rbp_80,
       round(pow(0.8, count(*)::DOUBLE), 4) + 0.0 AS rbp_residual_80,
       round(sum(rv / rank * prod_before), 4) + 0.0 AS err
FROM casc GROUP BY qid
"""

ORACLE_SQL["ir_metrics"] = _IR_METRICS_SQL

# bpref/R-prec twin: same synthetic eval set; judged-only window math
_IR_BPREF_SQL = """
WITH qs AS (SELECT unnest(range(5)) AS q),
base AS (SELECT doc_id, q FROM documents CROSS JOIN qs),
ranking AS (
  SELECT 'q' || q AS qid, lpad(doc_id::VARCHAR, 6, '0') AS ext_id, rank
  FROM (
    SELECT doc_id, q,
           row_number() OVER (
             PARTITION BY q
             ORDER BY ((doc_id * 2654435761 + q * 97) % 1000003) DESC,
                      doc_id ASC
           ) AS rank
    FROM base
    WHERE (doc_id * 37 + q) % 7 = 0
  )
  WHERE rank <= 50
),
qrels AS (
  SELECT 'q' || q AS qid, lpad(doc_id::VARCHAR, 6, '0') AS ext_id,
         CASE WHEN (doc_id * 13 + q) % 4 = 0
              THEN 1 + (doc_id % 3) ELSE 0 END AS rel
  FROM base
  WHERE (doc_id + q) % 2 = 0
),
topic AS (
  SELECT qid,
         SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT AS num_rel,
         SUM(CASE WHEN rel <= 0 THEN 1 ELSE 0 END)::BIGINT AS n_nonrel
  FROM qrels GROUP BY qid
),
j AS (
  SELECT r.qid, r.rank,
         CASE WHEN COALESCE(qr.rel, 0) > 0 THEN 1 ELSE 0 END AS isrel,
         CASE WHEN qr.rel IS NOT NULL AND qr.rel <= 0
              THEN 1 ELSE 0 END AS isnr
  FROM ranking r
  LEFT JOIN qrels qr ON r.qid = qr.qid AND r.ext_id = qr.ext_id
),
jc AS (
  SELECT *, COALESCE(SUM(isnr) OVER (
    PARTITION BY qid ORDER BY rank
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  ), 0) AS nr_above FROM j
),
per AS (
  SELECT jc.qid,
         SUM(CASE WHEN jc.rank <= t.num_rel THEN jc.isrel ELSE 0 END)
           AS rprec_num,
         SUM(CASE WHEN jc.isrel = 1 THEN
               CASE WHEN least(t.n_nonrel, t.num_rel) > 0
                    THEN 1.0 - least(jc.nr_above, t.num_rel)::DOUBLE
                         / least(t.n_nonrel, t.num_rel)
                    ELSE 1.0 END
             ELSE 0.0 END) AS bpref_sum,
         any_value(t.num_rel) AS num_rel
  FROM jc JOIN topic t ON t.qid = jc.qid
  GROUP BY jc.qid
)
SELECT qid,
       ROUND(CASE WHEN num_rel > 0
                  THEN rprec_num::DOUBLE / num_rel ELSE 0 END, 4) + 0.0
         AS r_prec,
       ROUND(CASE WHEN num_rel > 0
                  THEN bpref_sum / num_rel ELSE 0 END, 4) + 0.0 AS bpref
FROM per
"""

ORACLE_SQL["ir_bpref"] = _IR_BPREF_SQL
ORACLE_SQL["cooccur"] = _SQL_BASE + r"""
, co AS (
  SELECT least(x.term, y.term) AS w1, greatest(x.term, y.term) AS w2,
         count(*)::BIGINT AS c
  FROM tokpos x JOIN tokpos y
    ON x.doc_id = y.doc_id AND y.pos > x.pos AND y.pos <= x.pos + 3
  GROUP BY 1, 2
)
SELECT w1, w2, c FROM co WHERE c >= 5
"""
ORACLE_SQL["corpus_profile"] = _SQL_BASE + r"""
SELECT
  (SELECT count(*) FROM documents)::BIGINT AS n_docs,
  (SELECT sum(doclen) FROM dl)::BIGINT AS n_tokens,
  (SELECT count(DISTINCT term) FROM tf)::BIGINT AS vocab,
  round((SELECT avg(doclen) FROM dl), 4) + 0.0 AS avg_doclen,
  round((SELECT quantile_cont(doclen, 0.5) FROM dl), 4) + 0.0 AS p50_doclen,
  round((SELECT quantile_cont(doclen, 0.9) FROM dl), 4) + 0.0 AS p90_doclen,
  (SELECT max(doclen) FROM dl)::BIGINT AS max_doclen,
  (SELECT count(DISTINCT md5(text)) FROM documents)::BIGINT AS distinct_texts,
  round(1.0 - (SELECT count(DISTINCT md5(text)) FROM documents)::DOUBLE
            / (SELECT count(*) FROM documents), 4) + 0.0 AS dup_ratio
"""
# chunk_size=32, overlap=8 => stride=24; geometry per pipeline/chunking.py
ORACLE_SQL["chunks"] = _SQL_BASE + r"""
, g AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= 32 THEN 1
              ELSE 1 + CAST(ceil((len(toks) - 32) / 24.0) AS INT) END AS n_chunks
  FROM toks WHERE len(toks) > 0
),
c AS (
  SELECT doc_id, toks, n, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
  FROM g
)
SELECT doc_id,
       chunk_idx::BIGINT AS chunk_idx,
       (chunk_idx * 24)::BIGINT AS start_tok,
       least(chunk_idx * 24 + 32, n)::BIGINT AS end_tok,
       (least(chunk_idx * 24 + 32, n) - chunk_idx * 24)::BIGINT AS n_tokens,
       md5(array_to_string(
         list_slice(toks, chunk_idx * 24 + 1, least(chunk_idx * 24 + 32, n)),
         ' ')) AS chunk_md5
FROM c
"""
# Standalone (not _SQL_BASE) because the recursive closure needs the
# RECURSIVE keyword on the whole WITH clause.
_CC_CLUSTER_SQL = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_filter(list_transform(toks,
           (x, i) -> CASE WHEN i + 2 <= len(toks)
                     THEN toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] END),
           x -> x IS NOT NULL)) AS sh
  FROM toks WHERE len(toks) >= 3
),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
),
sym AS (SELECT a AS x, b AS y FROM pairs UNION ALL SELECT b AS x, a AS y FROM pairs),
reach AS (
  SELECT x, y FROM sym
  UNION
  SELECT r.x, s.y FROM reach r JOIN sym s ON s.x = r.y WHERE s.y <> r.x
),
comp AS (
  SELECT x AS node, least(min(y), x) AS component FROM reach GROUP BY x
)
"""

ORACLE_SQL["neardup_clusters"] = _CC_CLUSTER_SQL + r"""
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id)::BIGINT AS cluster_id,
       d.doc_id = COALESCE(c.component, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""

ORACLE_SQL["dedup_keep_best"] = _CC_CLUSTER_SQL + r"""
SELECT doc_id, cluster_id,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY n_chars DESC, doc_id ASC) = 1
         AS is_canonical
FROM (
  SELECT d.doc_id, d.n_chars,
         COALESCE(c.component, d.doc_id)::BIGINT AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)
"""
ORACLE_SQL["conv_rollup"] = (
    _SQL_BASE
    + f""", t1 AS ({_bm25_term_sql('spark')}),
t2 AS ({_bm25_term_sql('merge')}),
t3 AS ({_bm25_term_sql('window')})"""
    + _CONV_ROLLUP_SQL_TAIL
)
# More-Like-This: selection = row_number over tf·ln(N/df) desc, term asc
# (bit-identical to the engine's driver-side sort: same libm ln, same
# IEEE divides); scoring = the engine's #SUM fold — 0.0 left-fold in
# child (selection) order, absent terms contributing an exact +0.0 —
# reproduced with list_reduce over list(s ORDER BY cix).
ORACLE_SQL["more_like_this"] = (
    _SQL_BASE
    + f""", mlt AS (
  SELECT term, cix FROM (
    SELECT tf.term AS term,
           row_number() OVER (
             ORDER BY tf.tf::DOUBLE
                      * ln((SELECT n_docs FROM cstats)::DOUBLE
                           / dfreq.df::DOUBLE) DESC,
                      tf.term ASC) AS cix
    FROM tf JOIN dfreq ON dfreq.term = tf.term
    WHERE tf.doc_id = {MLT_SRC} AND tf.tf >= 1 AND dfreq.df >= 2
  ) WHERE cix <= {MLT_MAX_TERMS}
),
persum AS (
  SELECT tf.doc_id, mlt.cix,
         ln((cstats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf::DOUBLE /
              (tf.tf::DOUBLE + 1.2 * ((1.0 - 0.75)
               + 0.75 * (dl.doclen::DOUBLE
                         / (cstats.sum_doclen::DOUBLE / cstats.doc_count)))))
           AS s
  FROM tf
  JOIN mlt ON mlt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN cstats
  JOIN dfreq ON dfreq.term = tf.term
  WHERE tf.doc_id <> {MLT_SRC}
),
scored AS (
  SELECT doc_id,
         list_reduce(list_prepend(0.0, list(s ORDER BY cix)),
                     (a, b) -> a + b) AS s
  FROM persum GROUP BY doc_id
)
SELECT doc_id,
       row_number() OVER (ORDER BY s DESC, doc_id ASC)::BIGINT AS rank,
       round(s, 4) + 0.0 AS score
FROM scored ORDER BY s DESC, doc_id ASC LIMIT 50
"""
)

# Boosted search: the bm25_topk scored CTE times the turn-position
# boost — one double multiply, same operand order as the engine's
# score * boost.
ORACLE_SQL["boosted_search"] = (
    _SQL_BASE
    + f""", t1 AS ({_bm25_term_sql('spark')}),
t2 AS ({_bm25_term_sql('merge')}),
t3 AS ({_bm25_term_sql('window')}),
ids AS (SELECT doc_id FROM t1 UNION SELECT doc_id FROM t2
        UNION SELECT doc_id FROM t3),
scored AS (
  SELECT ids.doc_id,
         0.0 + COALESCE(t1.s * 1.0, 0.0) + COALESCE(t2.s * 1.0, 0.0)
             + COALESCE(t3.s * 1.0, 0.0) AS s
  FROM ids
  LEFT JOIN t1 ON t1.doc_id = ids.doc_id
  LEFT JOIN t2 ON t2.doc_id = ids.doc_id
  LEFT JOIN t3 ON t3.doc_id = ids.doc_id
)
SELECT doc_id,
       round(s * (1e0 / (1e0 + (doc_id % 10))), 4) + 0.0 AS score
FROM scored
"""
)

ORACLE_SQL["term_vector"] = (
    _SQL_BASE
    + f"""
SELECT term, count(*)::BIGINT AS tf,
       min(pos)::BIGINT AS first_pos, max(pos)::BIGINT AS last_pos,
       count(*)::BIGINT AS n_pos
FROM tokpos WHERE doc_id = {MLT_SRC} GROUP BY term
"""
)

# Collapsed top-k: per-turn BM25 scores on the conversation index equal
# the flat index's (same tokens ⇒ identical N / avg doclen / df — see
# get_conv_engine), so the oracle is the bm25_topk scored CTE with a
# per-conversation row_number collapse before the global cut. Within a
# conversation the engine tie-breaks on ext_id asc ≡ doc_id asc here
# (single-digit turn suffixes), and globally likewise (zero-padded
# conv ids).
ORACLE_SQL["collapsed_topk"] = (
    _SQL_BASE
    + f""", t1 AS ({_bm25_term_sql('spark')}),
t2 AS ({_bm25_term_sql('merge')}),
t3 AS ({_bm25_term_sql('window')}),
ids AS (SELECT doc_id FROM t1 UNION SELECT doc_id FROM t2
        UNION SELECT doc_id FROM t3),
scored AS (
  SELECT ids.doc_id,
         0.0 + COALESCE(t1.s * 1.0, 0.0) + COALESCE(t2.s * 1.0, 0.0)
             + COALESCE(t3.s * 1.0, 0.0) AS s
  FROM ids
  LEFT JOIN t1 ON t1.doc_id = ids.doc_id
  LEFT JOIN t2 ON t2.doc_id = ids.doc_id
  LEFT JOIN t3 ON t3.doc_id = ids.doc_id
),
collapsed AS (
  SELECT doc_id, s,
         row_number() OVER (PARTITION BY doc_id // 10
                            ORDER BY s DESC, doc_id ASC) AS rn
  FROM scored
)
SELECT (doc_id // 10)::BIGINT AS conv,
       doc_id,
       row_number() OVER (ORDER BY s DESC, doc_id ASC)::BIGINT AS rank,
       round(s, 4) + 0.0 AS score
FROM collapsed WHERE rn = 1
ORDER BY s DESC, doc_id ASC LIMIT {BM25_K}
"""
)
ORACLE_SQL["bm25f"] = _bm25f_sql()
ORACLE_SQL["dismax"] = _dismax_sql()

ORACLE_SQL["phrase_suggest"] = (
    _SQL_BASE
    + """,
vocab AS (SELECT count(DISTINCT term)::DOUBLE AS v FROM tokpos),
sumdf AS (SELECT sum(df)::DOUBLE AS s FROM dfreq),
big AS (
  SELECT t1.term AS v, t2.term AS w, count(*)::BIGINT AS c_vw
  FROM tokpos t1 JOIN tokpos t2
    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  GROUP BY 1, 2
),
ctx AS (SELECT v, sum(c_vw)::BIGINT AS c_v FROM big GROUP BY 1),
c1 AS (
  SELECT term, df, levenshtein('sow', term) AS dist,
         row_number() OVER (ORDER BY levenshtein('sow', term) ASC,
                            df DESC, term ASC) AS rk
  FROM dfreq WHERE levenshtein('sow', term) <= 1
),
c2 AS (
  SELECT term, df, levenshtein('merg', term) AS dist,
         row_number() OVER (ORDER BY levenshtein('merg', term) ASC,
                            df DESC, term ASC) AS rk
  FROM dfreq WHERE levenshtein('merg', term) <= 1
),
phr AS (
  SELECT t1.term AS a, t2.term AS b,
         (t1.dist + t2.dist)::INT AS edits,
         ln((t1.df::DOUBLE + 0.1) / (sumdf.s + 0.1 * vocab.v))
         + ln((COALESCE(big.c_vw, 0)::DOUBLE + 0.1)
              / (COALESCE(ctx.c_v, 0)::DOUBLE + 0.1 * vocab.v))
         - 3.0 * (t1.dist + t2.dist) AS logp
  FROM (SELECT * FROM c1 WHERE rk <= 3) t1
  CROSS JOIN (SELECT * FROM c2 WHERE rk <= 3) t2
  CROSS JOIN sumdf CROSS JOIN vocab
  LEFT JOIN big ON big.v = t1.term AND big.w = t2.term
  LEFT JOIN ctx ON ctx.v = t1.term
)
SELECT 'sow merg' AS query, a || ' ' || b AS suggestion,
       row_number() OVER (ORDER BY logp DESC, a || ' ' || b ASC)::INT AS rank,
       round(logp, 4) + 0.0 AS logp, edits
FROM phr ORDER BY rank LIMIT 3
"""
)
ORACLE_SQL["collocations"] = _SQL_BASE + _COLLOCATIONS_SQL_TAIL
ORACLE_SQL["context_window"] = (
    _SQL_BASE
    + """,
hits AS (
  SELECT a.doc_id FROM (SELECT doc_id FROM tf WHERE term = 'spark') a
  JOIN (SELECT doc_id FROM tf WHERE term = 'merge') b USING (doc_id)
)
SELECT h.doc_id AS hit_doc_id, d.doc_id AS doc_id,
       ((d.doc_id % 10) - (h.doc_id % 10))::BIGINT AS offset
FROM hits h
JOIN documents d
  ON d.doc_id // 10 = h.doc_id // 10
 AND abs((d.doc_id % 10) - (h.doc_id % 10)) <= 1
"""
)

# Flagship lex ranking as a reusable CTE chain (identical to the
# bm25_topk oracle's scored CTE, cut to BM25_K with the engine's
# desc-score / asc-id tie-break).
_LEX_RANK_SQL = f""", t1 AS ({_bm25_term_sql('spark')}),
t2 AS ({_bm25_term_sql('merge')}),
t3 AS ({_bm25_term_sql('window')}),
ids AS (SELECT doc_id FROM t1 UNION SELECT doc_id FROM t2
        UNION SELECT doc_id FROM t3),
lexscored AS (
  SELECT ids.doc_id,
         0.0 + COALESCE(t1.s * 1.0, 0.0) + COALESCE(t2.s * 1.0, 0.0)
             + COALESCE(t3.s * 1.0, 0.0) AS s
  FROM ids
  LEFT JOIN t1 ON t1.doc_id = ids.doc_id
  LEFT JOIN t2 ON t2.doc_id = ids.doc_id
  LEFT JOIN t3 ON t3.doc_id = ids.doc_id
),
lex AS (
  SELECT doc_id, r FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
    FROM lexscored) WHERE r <= {BM25_K}
)
"""

ORACLE_SQL["hybrid_rrf"] = (
    _SQL_BASE
    + _LEX_RANK_SQL
    + f""",
vecscored AS (
  SELECT e.vec_id AS doc_id,
         list_reduce(list_transform(list_zip(e.embedding, q.qv),
                     p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(e.embedding,
                  x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(q.qv,
                  x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))) AS cosine
  FROM embeddings e
  CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
  WHERE e.vec_id <> 0
),
vec AS (
  SELECT doc_id, r FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS r
    FROM vecscored) WHERE r <= {BM25_K}
),
fused AS (
  SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
         0.0 + COALESCE(1.0 / ({HYBRID_K0} + lex.r), 0.0)
             + COALESCE(1.0 / ({HYBRID_K0} + vec.r), 0.0) AS rrf
  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
)
SELECT doc_id,
       row_number() OVER (ORDER BY rrf DESC, doc_id ASC)::BIGINT AS rank,
       round(rrf, 4) + 0.0 AS rrf
FROM fused ORDER BY rrf DESC, doc_id ASC
"""
)

def _lucene_bm25_term_sql(term: str) -> str:
    """Per-term LuceneBM25 score CTE: positive ln(1+x) idf, same tf
    saturation as _bm25_term_sql."""
    return f"""
  SELECT tf.doc_id,
         ln(1.0 + (cstats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf::DOUBLE /
              (tf.tf::DOUBLE + 1.2 * ((1.0 - 0.75)
               + 0.75 * (dl.doclen::DOUBLE
                         / (cstats.sum_doclen::DOUBLE / cstats.doc_count)))))
           AS s
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN cstats
  JOIN dfreq ON dfreq.term = tf.term
  WHERE tf.term = '{term}'
"""


ORACLE_SQL["bm25_lucene"] = (
    _SQL_BASE
    + f""", t1 AS ({_lucene_bm25_term_sql('spark')}),
t2 AS ({_lucene_bm25_term_sql('merge')}),
t3 AS ({_lucene_bm25_term_sql('window')}),
ids AS (SELECT doc_id FROM t1 UNION SELECT doc_id FROM t2
        UNION SELECT doc_id FROM t3),
scored AS (
  SELECT ids.doc_id,
         0.0 + COALESCE(t1.s * 1.0, 0.0) + COALESCE(t2.s * 1.0, 0.0)
             + COALESCE(t3.s * 1.0, 0.0) AS s
  FROM ids
  LEFT JOIN t1 ON t1.doc_id = ids.doc_id
  LEFT JOIN t2 ON t2.doc_id = ids.doc_id
  LEFT JOIN t3 ON t3.doc_id = ids.doc_id
)
SELECT doc_id,
       row_number() OVER (ORDER BY s DESC, doc_id ASC)::BIGINT AS rank,
       round(s, 4) + 0.0 AS score
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {BM25_K}
"""
)

# Boosted BM25 #SUM: the bm25_topk fold with per-child multipliers in
# the compiler's operand order ((s * user_w) * boost, child order).
ORACLE_SQL["boosted_terms"] = (
    _SQL_BASE
    + f""", t1 AS ({_bm25_term_sql('spark')}),
t2 AS ({_bm25_term_sql('merge')}),
t3 AS ({_bm25_term_sql('window')}),
ids AS (SELECT doc_id FROM t1 UNION SELECT doc_id FROM t2
        UNION SELECT doc_id FROM t3),
scored AS (
  SELECT ids.doc_id,
         0.0 + COALESCE(t1.s * 1.0, 0.0)
             + COALESCE(t2.s * 1.0 * 2.5, 0.0)
             + COALESCE(t3.s * 1.0 * 0.5, 0.0) AS s
  FROM ids
  LEFT JOIN t1 ON t1.doc_id = ids.doc_id
  LEFT JOIN t2 ON t2.doc_id = ids.doc_id
  LEFT JOIN t3 ON t3.doc_id = ids.doc_id
)
SELECT doc_id,
       row_number() OVER (ORDER BY s DESC, doc_id ASC)::BIGINT AS rank,
       round(s, 4) + 0.0 AS score
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {BM25_K}
"""
)

# Distributed explain: top-10 of the flagship fold, then every (doc,
# child) component recomputed from raw text — idf, saturation, and the
# per-child contribution the engine's fold sums.
ORACLE_SQL["explain_bm25"] = (
    _SQL_BASE
    + _LEX_RANK_SQL
    + f""",
etop AS (
  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
  FROM lexscored ORDER BY s DESC, doc_id ASC LIMIT 10
),
echild(child, term) AS (VALUES (0, 'spark'), (1, 'merge'), (2, 'window'))
SELECT etop.doc_id,
       etop.rank::BIGINT AS rank,
       echild.child::BIGINT AS child,
       echild.term,
       coalesce(tf.tf, 0)::BIGINT AS tf,
       dfreq.df::BIGINT AS df,
       round(ln((cstats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)), 4)
         + 0.0 AS idf,
       round(CASE WHEN coalesce(tf.tf, 0) > 0 THEN
           tf.tf::DOUBLE /
             (tf.tf::DOUBLE + 1.2 * ((1.0 - 0.75)
              + 0.75 * (dl.doclen::DOUBLE
                        / (cstats.sum_doclen::DOUBLE / cstats.doc_count))))
         ELSE 0.0 END, 4) + 0.0 AS tf_weight,
       round(CASE WHEN coalesce(tf.tf, 0) > 0 THEN
           (ln((cstats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
            * (tf.tf::DOUBLE /
               (tf.tf::DOUBLE + 1.2 * ((1.0 - 0.75)
                + 0.75 * (dl.doclen::DOUBLE
                          / (cstats.sum_doclen::DOUBLE / cstats.doc_count))))))
           * 1.0 * 1.0
         ELSE 0.0 END, 4) + 0.0 AS contribution,
       round(etop.s, 4) + 0.0 AS total_score
FROM etop
CROSS JOIN echild
LEFT JOIN tf ON tf.doc_id = etop.doc_id AND tf.term = echild.term
LEFT JOIN dl ON dl.doc_id = etop.doc_id
JOIN dfreq ON dfreq.term = echild.term
CROSS JOIN cstats
ORDER BY rank, child
"""
)

# CombMNZ over the same two channels: lexscored/vecscored CTEs reused,
# score-cut instead of rank-cut, per-ranking min-max over the cut, MNZ
# multiplier = channels containing the doc (combsum_fuse arithmetic
# replayed operation-for-operation).
ORACLE_SQL["hybrid_combsum"] = (
    _SQL_BASE
    + _LEX_RANK_SQL
    + f""",
lexcut AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s,
           row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
    FROM lexscored) WHERE r <= {BM25_K}
),
vecscored AS (
  SELECT e.vec_id AS doc_id,
         list_reduce(list_transform(list_zip(e.embedding, q.qv),
                     p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(e.embedding,
                  x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(q.qv,
                  x -> x::DOUBLE * x::DOUBLE), (x, y) -> x + y))) AS cosine
  FROM embeddings e
  CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
  WHERE e.vec_id <> 0
),
veccut AS (
  SELECT doc_id, cosine AS s FROM (
    SELECT doc_id, cosine,
           row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS r
    FROM vecscored) WHERE r <= {BM25_K}
),
lexn AS (
  SELECT doc_id,
         CASE WHEN max(s) OVER () = min(s) OVER () THEN 0.0
              ELSE (s - min(s) OVER ())
                   / (max(s) OVER () - min(s) OVER ()) END AS ns
  FROM lexcut
),
vecn AS (
  SELECT doc_id,
         CASE WHEN max(s) OVER () = min(s) OVER () THEN 0.0
              ELSE (s - min(s) OVER ())
                   / (max(s) OVER () - min(s) OVER ()) END AS ns
  FROM veccut
),
cfused AS (
  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         ((l.doc_id IS NOT NULL)::INT + (v.doc_id IS NOT NULL)::INT)
           AS n_matched,
         (0.0 + COALESCE(1.0 * l.ns, 0.0) + COALESCE(1.0 * v.ns, 0.0))
           * ((l.doc_id IS NOT NULL)::INT
              + (v.doc_id IS NOT NULL)::INT)::DOUBLE AS fused
  FROM lexn l FULL OUTER JOIN vecn v ON l.doc_id = v.doc_id
)
SELECT doc_id, n_matched::BIGINT AS n_matched,
       row_number() OVER (ORDER BY fused DESC, doc_id ASC)::BIGINT AS rank,
       round(fused, 4) + 0.0 AS fused
FROM cfused ORDER BY rank
"""
)

def _phonetic_sql() -> str:
    qvals = ", ".join(
        f"('{q}', '{_py_soundex(q)}')" for q in PHONETIC_QUERIES
    )
    tmap = (
        "translate({c}, 'abcdefghijklmnopqrstuvwxyz',"
        " '01230129022455012623019202')"
    )
    return (
        _SQL_BASE
        + f""",
ph AS (
  SELECT term, df,
         string_split(replace({tmap.format(c='term')}, '9', ''), '') AS cl,
         substr({tmap.format(c='term')}, 1, 1) AS f1
  FROM dfreq WHERE regexp_full_match(term, '[a-z]+')
),
ph2 AS (
  SELECT term, df, f1,
         COALESCE(list_aggregate(
           list_filter(cl, (x, i) -> i = 1 OR x <> cl[i-1]),
           'string_agg', ''), '') AS c3
  FROM ph
),
codes AS (
  SELECT term, df,
         upper(substr(term, 1, 1)) ||
         substr(replace(CASE WHEN f1 = '9' THEN c3 ELSE substr(c3, 2) END,
                        '0', '') || '000', 1, 3) AS code
  FROM ph2
),
qs AS (SELECT * FROM (VALUES {qvals}) AS q(query, code)),
cand AS (
  SELECT q.query, c.term, c.code,
         levenshtein(lower(q.query), c.term) AS dist, c.df
  FROM codes c JOIN qs q ON q.code = c.code
  WHERE c.term <> lower(q.query)
),
rk AS (
  SELECT query, term, code, dist, df,
         row_number() OVER (PARTITION BY query
                            ORDER BY dist ASC, df DESC, term ASC) AS rank
  FROM cand
)
SELECT query, term, code, dist::BIGINT AS dist, df, rank::BIGINT AS rank
FROM rk WHERE rank <= 5
"""
    )


ORACLE_SQL["phonetic"] = _phonetic_sql()

ORACLE_SQL["spell_suggest"] = (
    _SQL_BASE
    + f""",
qs AS (SELECT * FROM (VALUES {", ".join(f"('{q}')" for q in SPELL_QUERIES)})
       AS q(query)),
cand AS (
  SELECT q.query, d.term, levenshtein(q.query, d.term) AS dist, d.df
  FROM dfreq d CROSS JOIN qs q
  WHERE levenshtein(q.query, d.term) <= 1
),
rk AS (
  SELECT query, term, dist, df,
         row_number() OVER (PARTITION BY query
                            ORDER BY dist ASC, df DESC, term ASC) AS rank
  FROM cand
)
SELECT query, term, dist::BIGINT AS dist, df, rank::BIGINT AS rank
FROM rk WHERE rank <= 5
"""
)

ORACLE_SQL["spell_suggest2"] = (
    _SQL_BASE
    + f""",
qs AS (SELECT * FROM (VALUES {", ".join(f"('{q}')" for q in SPELL_QUERIES)})
       AS q(query)),
cand AS (
  SELECT q.query, d.term, levenshtein(q.query, d.term) AS dist, d.df
  FROM dfreq d CROSS JOIN qs q
  WHERE levenshtein(q.query, d.term) <= 2
),
rk AS (
  SELECT query, term, dist, df,
         row_number() OVER (PARTITION BY query
                            ORDER BY dist ASC, df DESC, term ASC) AS rank
  FROM cand
)
SELECT query, term, dist::BIGINT AS dist, df, rank::BIGINT AS rank
FROM rk WHERE rank <= 5
"""
)

ORACLE_SQL["term_prefix"] = (
    _SQL_BASE
    + """
SELECT term, df FROM dfreq WHERE term LIKE 's%'
ORDER BY df DESC, term ASC LIMIT 15
"""
)

ORACLE_SQL["facet_counts"] = (
    _SQL_BASE
    + _LEX_RANK_SQL
    + """,
meta AS (
  SELECT d.doc_id, COALESCE(d.lang, '') AS lang,
         COALESCE(d.source, '') AS source
  FROM documents d JOIN lex ON lex.doc_id = d.doc_id
),
unp AS (
  SELECT 'lang' AS facet, lang AS value FROM meta
  UNION ALL
  SELECT 'source' AS facet, source AS value FROM meta
)
SELECT facet, value, count(*)::BIGINT AS n
FROM unp GROUP BY 1, 2 ORDER BY facet ASC, n DESC, value ASC
"""
)


ORACLE_SQL["facet_bucket_stats"] = (
    _SQL_BASE
    + _LEX_RANK_SQL
    + """,
bvals AS (
  SELECT d.lang::VARCHAR AS value, d.n_chars::DOUBLE AS v
  FROM documents d JOIN lex ON lex.doc_id = d.doc_id
)
SELECT value, count(*)::BIGINT AS n_docs, count(v)::BIGINT AS n,
       min(v) AS min, max(v) AS max, sum(v) AS sum,
       round(avg(v), 4) + 0.0 AS avg,
       round(sqrt(greatest(0.0, avg(v * v) - avg(v) * avg(v))), 4) + 0.0
         AS std
FROM bvals GROUP BY 1
"""
)

ORACLE_SQL["facet_pct_ranks"] = (
    _SQL_BASE
    + _LEX_RANK_SQL
    + """,
pvals AS (
  SELECT d.n_chars::DOUBLE AS v
  FROM documents d JOIN lex ON lex.doc_id = d.doc_id
  WHERE d.n_chars IS NOT NULL
),
agg AS (
  SELECT count(*)::BIGINT AS n,
         sum((v <= 150.0)::BIGINT) AS le0,
         sum((v <= 250.0)::BIGINT) AS le1,
         sum((v <= 400.0)::BIGINT) AS le2
  FROM pvals
)
SELECT 150.0 AS value,
       round(CASE WHEN n > 0 THEN le0 * 100.0 / n END, 4) + 0.0 AS pct
FROM agg
UNION ALL SELECT 250.0,
       round(CASE WHEN n > 0 THEN le1 * 100.0 / n END, 4) + 0.0 FROM agg
UNION ALL SELECT 400.0,
       round(CASE WHEN n > 0 THEN le2 * 100.0 / n END, 4) + 0.0 FROM agg
"""
)

ORACLE_SQL["facet_matrix"] = (
    _SQL_BASE
    + _LEX_RANK_SQL
    + """,
mvals AS (
  SELECT d.n_chars::DOUBLE AS x,
         len(list_filter(string_split_regex(lower(d.text), '[^a-z0-9]+'),
                         t -> t <> ''))::DOUBLE AS y
  FROM documents d JOIN lex ON lex.doc_id = d.doc_id
  WHERE d.n_chars IS NOT NULL AND d.text IS NOT NULL
),
m AS (
  SELECT count(*)::BIGINT AS n, avg(x) AS mean_x, avg(y) AS mean_y,
         avg(x * y) AS exy, avg(x * x) AS exx, avg(y * y) AS eyy
  FROM mvals
)
SELECT n,
       round(mean_x, 4) + 0.0 AS mean_x,
       round(mean_y, 4) + 0.0 AS mean_y,
       round(exy - mean_x * mean_y, 4) + 0.0 AS cov,
       round(CASE WHEN n > 0 AND (exx - mean_x * mean_x) > 0
                   AND (eyy - mean_y * mean_y) > 0
             THEN (exy - mean_x * mean_y)
                  / sqrt((exx - mean_x * mean_x) * (eyy - mean_y * mean_y))
             END, 4) + 0.0 AS corr
FROM m
"""
)

ORACLE_SQL["facet_stats"] = (
    _SQL_BASE
    + _LEX_RANK_SQL
    + """,
vals AS (
  SELECT d.n_chars::DOUBLE AS value
  FROM documents d JOIN lex ON lex.doc_id = d.doc_id
  WHERE d.n_chars IS NOT NULL
)
SELECT 'n_chars' AS col, count(*)::BIGINT AS n,
       min(value) AS min, max(value) AS max, sum(value) AS sum,
       round(avg(value), 4) + 0.0 AS avg,
       round(sqrt(greatest(0.0,
                           avg(value * value) - avg(value) * avg(value))),
             4) + 0.0 AS std
FROM vals
"""
)

ORACLE_SQL["rescore_phrase"] = (
    _SQL_BASE
    + _LEX_RANK_SQL
    + """,
phrase AS (
  SELECT DISTINCT t1.doc_id
  FROM tokpos t1 JOIN tokpos t2
    ON t1.doc_id = t2.doc_id AND t1.term = 'spark' AND t2.term = 'merge'
   AND t2.pos - t1.pos = 1
),
comb AS (
  SELECT l.doc_id,
         ls.s + 0.5 * (CASE WHEN p.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END)
           AS s
  FROM lex l
  JOIN lexscored ls ON ls.doc_id = l.doc_id
  LEFT JOIN phrase p ON p.doc_id = l.doc_id
)
SELECT doc_id,
       row_number() OVER (ORDER BY s DESC, doc_id ASC)::BIGINT AS rank,
       round(s, 4) + 0.0 AS score
FROM comb ORDER BY s DESC, doc_id ASC
"""
)

ORACLE_SQL["facet_ranges"] = (
    _SQL_BASE
    + _LEX_RANK_SQL
    + """,
vals AS (
  SELECT d.n_chars::DOUBLE AS value
  FROM documents d JOIN lex ON lex.doc_id = d.doc_id
)
SELECT '*-500' AS range_label,
       count(*) FILTER (WHERE value IS NOT NULL AND value < 500.0)::BIGINT AS n
FROM vals
UNION ALL
SELECT '500-2000',
       count(*) FILTER (WHERE value >= 500.0 AND value < 2000.0)::BIGINT
FROM vals
UNION ALL
SELECT '2000-*',
       count(*) FILTER (WHERE value >= 2000.0)::BIGINT
FROM vals
"""
)

ORACLE_SQL["facet_percentiles"] = (
    _SQL_BASE
    + _LEX_RANK_SQL
    + """,
vals AS (
  SELECT d.n_chars::DOUBLE AS value
  FROM documents d JOIN lex ON lex.doc_id = d.doc_id
  WHERE d.n_chars IS NOT NULL
),
q AS (
  SELECT quantile_cont(value, 0.25) AS q25, quantile_cont(value, 0.5) AS q50,
         quantile_cont(value, 0.75) AS q75, quantile_cont(value, 0.95) AS q95
  FROM vals
)
SELECT 'n_chars' AS col, 0.25::DOUBLE AS pct, round(q25, 4) + 0.0 AS value
FROM q
UNION ALL SELECT 'n_chars', 0.5::DOUBLE, round(q50, 4) + 0.0 FROM q
UNION ALL SELECT 'n_chars', 0.75::DOUBLE, round(q75, 4) + 0.0 FROM q
UNION ALL SELECT 'n_chars', 0.95::DOUBLE, round(q95, 4) + 0.0 FROM q
ORDER BY col, pct
"""
)

ORACLE_SQL["facet_composite"] = """
WITH b AS (
  SELECT COALESCE(lang, '') AS lang, COALESCE(source, '') AS source,
         count(*)::BIGINT AS n
  FROM documents GROUP BY 1, 2
),
rk AS (
  SELECT lang, source, n,
         row_number() OVER (ORDER BY lang ASC, source ASC) AS rn
  FROM b
)
SELECT lang, source, n, ((rn - 1) // 8 + 1)::INT AS page
FROM rk WHERE rn <= 16 ORDER BY rn
"""

ORACLE_SQL["facet_cardinality"] = (
    _SQL_BASE
    + _LEX_RANK_SQL
    + """,
meta AS (
  SELECT d.doc_id, COALESCE(d.lang, '') AS lang,
         COALESCE(d.source, '') AS source
  FROM documents d JOIN lex ON lex.doc_id = d.doc_id
)
SELECT 'lang' AS col, count(DISTINCT lang)::BIGINT AS n_distinct FROM meta
UNION ALL
SELECT 'source', count(DISTINCT source)::BIGINT FROM meta
ORDER BY col
"""
)

ORACLE_SQL["facet_top_hits"] = (
    _SQL_BASE
    + _LEX_RANK_SQL
    + """,
hs AS (
  SELECT l.doc_id, s.s AS score, COALESCE(d.lang, '') AS lang
  FROM lex l
  JOIN lexscored s ON s.doc_id = l.doc_id
  JOIN documents d ON d.doc_id = l.doc_id
),
rk AS (
  SELECT lang, doc_id, score,
         row_number() OVER (PARTITION BY lang
                            ORDER BY score DESC, doc_id ASC)::BIGINT
           AS group_rank
  FROM hs
)
SELECT lang, group_rank, doc_id, round(score, 4) + 0.0 AS score
FROM rk WHERE group_rank <= 2 ORDER BY lang ASC, group_rank ASC
"""
)

ORACLE_SQL["significant_terms"] = (
    _SQL_BASE
    + _LEX_RANK_SQL
    + f""",
hitagg AS (
  SELECT tf.term, count(*)::BIGINT AS hit_df, sum(tf.tf)::BIGINT AS hit_tf
  FROM tf JOIN lex ON lex.doc_id = tf.doc_id
  GROUP BY tf.term
),
lifted AS (
  SELECT h.term, h.hit_df, h.hit_tf, d.df,
         (h.hit_df::DOUBLE / {float(BM25_K)!r})
           / (d.df::DOUBLE
              / (SELECT n_docs FROM cstats)::DOUBLE) AS lift
  FROM hitagg h JOIN dfreq d ON d.term = h.term
  WHERE h.hit_df >= 2
)
SELECT term, hit_df, hit_tf, df, round(lifted.lift, 4) + 0.0 AS lift
FROM lifted ORDER BY lifted.lift DESC, term ASC LIMIT 20
"""
)

ORACLE_SQL["facet_date_hist"] = """
SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS bucket,
       count(*)::BIGINT AS n
FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
GROUP BY 1 ORDER BY 1
"""

ORACLE_SQL["facet_histogram"] = (
    _SQL_BASE
    + _LEX_RANK_SQL
    + """
SELECT floor((length(d.text)::DOUBLE - 0e0) / 200e0) * 200e0 + 0e0
         AS bin_lo,
       count(*)::BIGINT AS n
FROM documents d JOIN lex ON lex.doc_id = d.doc_id
WHERE d.text IS NOT NULL
GROUP BY 1 ORDER BY bin_lo ASC
"""
)


# letor_rerank: the letor_minmax window normalization UNROUNDED, then the
# rerank dot product in dict order (0.0 + 2.0*f_len + -1.0*f_mod, NaN→0.0)
# and the per-qid row_number cut; ties by doc_id asc == ext_id asc.
ORACLE_SQL["letor_rerank"] = """
WITH feats AS (
  SELECT 'q' || (doc_id % 3) AS qid, doc_id,
         CASE WHEN doc_id % 11 = 0 THEN 'NaN'::DOUBLE
              ELSE len(coalesce(text, ''))::DOUBLE END AS f_len,
         (doc_id % 7)::DOUBLE AS f_mod
  FROM documents
),
norm AS (
  SELECT qid, doc_id,
    CASE WHEN isnan(f_len) THEN f_len
         WHEN max(CASE WHEN isnan(f_len) THEN NULL ELSE f_len END) OVER w
              = min(CASE WHEN isnan(f_len) THEN NULL ELSE f_len END) OVER w
           THEN 0.0
         ELSE (f_len
               - min(CASE WHEN isnan(f_len) THEN NULL ELSE f_len END) OVER w)
              / (max(CASE WHEN isnan(f_len) THEN NULL ELSE f_len END) OVER w
                 - min(CASE WHEN isnan(f_len) THEN NULL ELSE f_len END)
                   OVER w)
    END AS f_len,
    CASE WHEN isnan(f_mod) THEN f_mod
         WHEN max(CASE WHEN isnan(f_mod) THEN NULL ELSE f_mod END) OVER w
              = min(CASE WHEN isnan(f_mod) THEN NULL ELSE f_mod END) OVER w
           THEN 0.0
         ELSE (f_mod
               - min(CASE WHEN isnan(f_mod) THEN NULL ELSE f_mod END) OVER w)
              / (max(CASE WHEN isnan(f_mod) THEN NULL ELSE f_mod END) OVER w
                 - min(CASE WHEN isnan(f_mod) THEN NULL ELSE f_mod END)
                   OVER w)
    END AS f_mod
  FROM feats WINDOW w AS (PARTITION BY qid)
),
scored AS (
  SELECT qid, doc_id,
         0.0 + 2.0 * (CASE WHEN isnan(f_len) THEN 0.0 ELSE f_len END)
             + -1.0 * (CASE WHEN isnan(f_mod) THEN 0.0 ELSE f_mod END) AS s
  FROM norm
)
SELECT qid, doc_id,
       row_number() OVER (PARTITION BY qid ORDER BY s DESC, doc_id ASC)::BIGINT
         AS rank,
       round(s, 4) + 0.0 AS score
FROM scored
QUALIFY rank <= 10
"""

# prf_search: seed + candidate CTEs are the (green) bm25_topk/prf_terms
# arithmetic; expw re-derives the %.4f weights; the Indri replay scores
# every union-candidate doc per term (present / two-stage-smoothing
# default), folds the inner dynamic #wand with an ordered left-fold
# product, and the outer #wand( 0.5 #and(spark merge) 0.5 · ) as the
# compiler's literal pow chain (exponents w/wsum with wsum an ordered
# left-fold sum, mirroring Python's plain + over arg order).
ORACLE_SQL["prf_search"] = (
    _SQL_BASE
    + f""", t1 AS ({_bm25_term_sql('spark')}),
t2 AS ({_bm25_term_sql('merge')}),
t3 AS ({_bm25_term_sql('window')}),
ids AS (SELECT doc_id FROM t1 UNION SELECT doc_id FROM t2
        UNION SELECT doc_id FROM t3),
bm AS (
  SELECT ids.doc_id,
         0.0 + COALESCE(t1.s * 1.0, 0.0) + COALESCE(t2.s * 1.0, 0.0)
             + COALESCE(t3.s * 1.0, 0.0) AS s
  FROM ids
  LEFT JOIN t1 ON t1.doc_id = ids.doc_id
  LEFT JOIN t2 ON t2.doc_id = ids.doc_id
  LEFT JOIN t3 ON t3.doc_id = ids.doc_id
),
seed AS (SELECT doc_id, s FROM bm ORDER BY s DESC, doc_id ASC LIMIT 10),
cand AS (
  SELECT tf.term,
         sum((tf.tf::DOUBLE / dl.doclen::DOUBLE) * seed.s
             * ln(1.0 / (dfreq.ctf::DOUBLE / cstats.sum_doclen::DOUBLE))) AS s
  FROM tf
  JOIN seed ON seed.doc_id = tf.doc_id
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN cstats
  GROUP BY 1
),
expw AS (
  SELECT term, CAST(printf('%.4f', s) AS DOUBLE) AS w,
         row_number() OVER (ORDER BY round(s, 4) DESC, term ASC) AS ord
  FROM cand QUALIFY ord <= 5
),
wsum AS (
  SELECT list_reduce(list(w ORDER BY ord), (a, b) -> a + b) AS t FROM expw
),
union_docs AS (
  SELECT DISTINCT doc_id FROM tf
  WHERE term IN ('spark', 'merge') OR term IN (SELECT term FROM expw)
),
ep AS (
  SELECT e.term, e.ord, e.w,
         dfreq.ctf::DOUBLE / (SELECT sum_doclen FROM cstats)::DOUBLE AS pmle
  FROM expw e JOIN dfreq ON dfreq.term = e.term
),
es AS (
  SELECT d.doc_id, ep.ord, ep.w,
         CASE WHEN tf.tf IS NOT NULL THEN
           (0.4 * (tf.tf::DOUBLE + 2500.0 * ep.pmle))
             / (d.doclen::DOUBLE + 2500.0) + 0.6 * ep.pmle
         ELSE
           (1000.0 * ep.pmle) / (d.doclen::DOUBLE + 2500.0) + 0.6 * ep.pmle
         END AS s
  FROM union_docs ud
  JOIN dl d ON d.doc_id = ud.doc_id
  CROSS JOIN ep
  LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.term = ep.term
),
iw AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(1.0,
             list(pow(s, w / (SELECT t FROM wsum)) ORDER BY ord)),
           (a, b) -> a * b) AS s
  FROM es GROUP BY doc_id
),
i1 AS ({_indri_term_sql('spark')}),
i2 AS ({_indri_term_sql('merge')}),
final AS (
  SELECT ud.doc_id,
         1.0 * pow(1.0 * pow(i1.s, 0.5) * pow(i2.s, 0.5), 0.5)
             * pow(iw.s, 0.5) AS s
  FROM union_docs ud
  JOIN i1 ON i1.doc_id = ud.doc_id
  JOIN i2 ON i2.doc_id = ud.doc_id
  JOIN iw ON iw.doc_id = ud.doc_id
)
SELECT doc_id,
       row_number() OVER (ORDER BY s DESC, doc_id ASC)::BIGINT AS rank,
       round(s, 4) + 0.0 AS score
FROM final ORDER BY s DESC, doc_id ASC LIMIT {BM25_K}
"""
)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # Ordering contract (standing, rounds 3+): the external driver
    # verifies entries in dict order and may stop after a budget (50 in
    # r2-r4).  Round-5 order: flagship bm25_topk first, then the two NEW
    # round-5 entries (letor_rerank — the end-to-end LeToR rerank,
    # prf_search — the full PRF expanded-query loop), then the 34
    # entries last driver-checked in round 2 (the stalest green checks),
    # then the round-3 set, then the round-4 set — so the 50-entry
    # budget re-greens every r2-era check plus the oldest r3 ones, and
    # "every entry driver-checked within the last two rounds" becomes a
    # standing invariant.
    # Rows-only (no ORACLE_SQL, by design): bm25_ref_analyzer (Krovetz
    # stemming is not ANSI-SQL-expressible; pytest golden fixture
    # instead) and bpe_tokens (iterative merge argmax; pure-Python hard
    # twin in pytest).  ann_ivf was retired in r4: its partial-probe
    # subset depends on learned centroids (not SQL-expressible) and the
    # same code path is oracle-checked via ann_ivf_exactprobe + pytest
    # recall tests.
    "bm25_topk": q_bm25_topk,
    "letor_rerank": q_letor_rerank,
    "prf_search": q_prf_search,
    "percolate_bulk": q_percolate_bulk,
    "regex_term": q_regex_term,
    "wildcard_suffix": q_wildcard_suffix,
    "bm25_single": q_bm25_single,
    "filtered_search": q_filtered_search,
    "msm_bm25": q_msm_bm25,
    "msm_boolean": q_msm_boolean,
    "multi_search": q_multi_search,
    "merge_search": q_merge_search,
    "rollover_search": q_rollover_search,
    "snippets_multi": q_snippets_multi,
    "snippets": q_snippets,
    "search_after": q_search_after,
    "synonyms": q_synonyms,
    "bm25_batch": q_bm25_batch,
    "bm25_bulk": q_bm25_bulk,
    "indri_and": q_indri_and,
    "indri_wsum": q_indri_wsum,
    "indri_wand": q_indri_wand,
    "fingerprints": q_fingerprints,
    "minhash_sigs": q_minhash_sigs,
    "conv_fp": q_conv_fp,
    "neardup_pairs": q_neardup_pairs,
    "neardup_clusters": q_neardup_clusters,
    "dedup_keep_best": q_dedup_keep_best,
    "ngram_jaccard": q_ngram_jaccard,
    "chunks": q_chunks,
    "quality": q_quality,
    "lang_id": q_lang_id,
    "token_counts": q_token_counts,
    "cooccur": q_cooccur,
    "tfidf": q_tfidf,
    "source_report": q_source_report,
    "corpus_profile": q_corpus_profile,
    "curation": q_curation,
    "chat_render": q_chat_render,
    "hybrid_combsum": q_hybrid_combsum,
    "boosted_terms": q_boosted_terms,
    "bm25_lucene": q_bm25_lucene,
    "ppl_buckets": q_ppl_buckets,
    "explain_bm25": q_explain_bm25,
    "conv_quality": q_conv_quality,
    "letor_minmax": q_letor_minmax,
    "ir_rbp_err": q_ir_rbp_err,
    "tool_transitions": q_tool_transitions,
    "hash_split": q_hash_split,
    "mixture_mix": q_mixture_mix,
    "dup_spans": q_dup_spans,
    "decontam": q_decontam,
    "hash_sample": q_hash_sample,
    "stratified_sample": q_stratified_sample,
    "shard_assign": q_shard_assign,
    "repetition": q_repetition,
    "pii_scrub": q_pii_scrub,
    "lm_score": q_lm_score,
    "knn_join": q_knn_join,
    "asof_attrib": q_asof_attrib,
    "interval_join": q_interval_join,
    "user_sessions": q_user_sessions,
    "emb_neardup_lsh": q_emb_neardup_lsh,
    "semdedup_exact1": q_semdedup_exact1,
    "classify_score": q_classify_score,
    "dsir_weights": q_dsir_weights,
    "dsir_select": q_dsir_select,
    "pagerank": q_pagerank,
    "warc_ingest": q_warc_ingest,
    "jsonl_ingest": q_jsonl_ingest,
    "fold_accents": q_fold_accents,
    "weighted_sample": q_weighted_sample,
    "sq_search": q_sq_search,
    "bpe_tokens": q_bpe_tokens,
    "funnel": q_funnel,
    "retention": q_retention,
    "sorted_search": q_sorted_search,
    "rescore_phrase": q_rescore_phrase,
    "percolate": q_percolate,
    "simhash_pairs": q_simhash_pairs,
    "ann_ivf_exactprobe": q_ann_ivf_exactprobe,
    "ivf_store": q_ivf_store,
    "pq_exactcode": q_pq_exactcode,
    "ivfpq_exact": q_ivfpq_exact,
    "ir_metrics": q_ir_metrics,
    "ir_bpref": q_ir_bpref,
    "conv_rollup": q_conv_rollup,
    "collapsed_topk": q_collapsed_topk,
    "more_like_this": q_more_like_this,
    "term_vector": q_term_vector,
    "boosted_search": q_boosted_search,
    "bm25f": q_bm25f,
    "dismax": q_dismax,
    "phrase_suggest": q_phrase_suggest,
    "collocations": q_collocations,
    "context_window": q_context_window,
    "hybrid_rrf": q_hybrid_rrf,
    "spell_suggest": q_spell_suggest,
    "phonetic": q_phonetic,
    "spell_suggest2": q_spell_suggest2,
    "term_prefix": q_term_prefix,
    "facet_counts": q_facet_counts,
    "facet_histogram": q_facet_histogram,
    "facet_date_hist": q_facet_date_hist,
    "facet_stats": q_facet_stats,
    "facet_bucket_stats": q_facet_bucket_stats,
    "facet_pct_ranks": q_facet_pct_ranks,
    "facet_matrix": q_facet_matrix,
    "facet_ranges": q_facet_ranges,
    "facet_percentiles": q_facet_percentiles,
    "facet_cardinality": q_facet_cardinality,
    "facet_composite": q_facet_composite,
    "facet_top_hits": q_facet_top_hits,
    "significant_terms": q_significant_terms,
    "bm25_ref_analyzer": q_bm25_ref_analyzer,
    "knn_cosine": q_knn_cosine,
    "events_hourly": q_events_hourly,
    "multimodal_features": q_multimodal_features,
    "vsm_cosine": q_vsm_cosine,
    "prf_terms": q_prf_terms,
    "emb_neardup": q_emb_neardup,
    "term_stats_top": q_term_stats_top,
    "doclen": q_doclen,
    "collection_stats": q_collection_stats,
    "postings": q_postings,
    "bool_and_ranked": q_bool_and_ranked,
    "bool_or_ranked": q_bool_or_ranked,
    "bool_and_not": q_bool_and_not,
    "near": q_near,
    "first_op": q_first_op,
    "first_bm25": q_first_bm25,
    "phrase": q_phrase,
    "window_op": q_window_op,
    "syn_ranked": q_syn_ranked,
    "wildcard": q_wildcard,
    "fuzzy": q_fuzzy,
}


def flagship(spark: SparkSession) -> DataFrame:
    """entry(): BM25 top-k over the sf0.001 documents corpus through the
    full index → scan → score → rank path."""
    return q_bm25_topk(spark, "/root/testdata/sf0.001")
