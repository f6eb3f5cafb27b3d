"""Round-2 features: bucket pruning, Krovetz stemmer, svm_rank model
reader, field validation, crash-safe incremental appends."""

import json
import os

import pytest
import pyspark.sql.functions as F


# ---------------------------------------------------------------------------
# driver-side xxhash64 twin (bucket pruning correctness)
# ---------------------------------------------------------------------------

def test_spark_xxhash64_twin(spark):
    from search_engine_framework_spark.functions.spark_hash import (
        spark_xxhash64,
        term_bucket,
    )

    cases = [
        ("", "body"), ("a", "body"), ("spark", "body"), ("merge", "role"),
        ("x" * 7, "y"), ("x" * 8, "y"), ("x" * 31, "y"), ("x" * 32, "y"),
        ("x" * 33, "y"), ("naïve-ünïcode", "tool"), ("12345678", "body"),
        ("the quick brown fox jumps over the lazy dog", "body"),
    ]
    df = spark.createDataFrame(cases, "term string, field string").select(
        "term",
        "field",
        F.xxhash64("term", "field").alias("h"),
        F.pmod(F.xxhash64("term", "field"), F.lit(8)).cast("int").alias("b"),
    )
    for r in df.collect():
        assert spark_xxhash64(r["term"], r["field"]) == r["h"], r["term"]
        assert term_bucket(r["term"], r["field"], 8) == r["b"], r["term"]


def test_spark_xxhash64_twin_random_corpus(spark):
    """400 seeded-random strings (mixed unicode planes, every length
    0..60, multi-byte chars straddling the 4/8/32-byte stripe boundaries)
    cross-checked against Spark's own xxhash64 in ONE job. A divergence
    here means bucket pruning would silently scan the WRONG directory —
    empty results, no error — so the twin gets the widest net we can
    cast, not just hand-picked cases."""
    import random

    from search_engine_framework_spark.functions.spark_hash import (
        spark_xxhash64,
        term_bucket,
    )

    rng = random.Random(20260818)
    alphabets = [
        "abcdefghijklmnopqrstuvwxyz0123456789",
        "äöüßéèêñçøåæ",            # 2-byte UTF-8
        "中文漢字カタカナ",  # 3-byte CJK
        "\U0001f600\U0001f680\U0001d11e",  # 4-byte astral plane
        " .-_/:#",
    ]
    cases = []
    for n in range(400):
        alpha = alphabets[n % len(alphabets)] if n % 3 else "".join(alphabets)
        length = n % 61
        term = "".join(rng.choice(alpha) for _ in range(length))
        field = rng.choice(["body", "role", "tool", "url", "título"])
        cases.append((term, field))
    df = spark.createDataFrame(cases, "term string, field string").select(
        "term",
        "field",
        F.xxhash64("term", "field").alias("h"),
        F.pmod(F.xxhash64("term", "field"), F.lit(32)).cast("int").alias("b"),
    )
    for r in df.collect():
        assert spark_xxhash64(r["term"], r["field"]) == r["h"], repr(r["term"])
        assert term_bucket(r["term"], r["field"], 32) == r["b"], repr(r["term"])


def test_bucket_pruning_in_plan(spark, tiny_index):
    """The segment scan must carry a PartitionFilters predicate on bucket
    and still return identical postings."""
    from search_engine_framework_spark.index.reader import IndexReader

    paths, _rows, _tdf = tiny_index
    reader = IndexReader(spark, paths)
    assert reader._n_buckets == 8
    pairs = {("search", "body"), ("engine", "body")}
    df = reader._filter_pairs(pairs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1][:200]

    # pruned scan sees exactly the same segment rows as an unpruned one
    unpruned = (
        reader.segments()
        .where(F.col("term").isin([t for t, _ in pairs]))
        .select("term", "field", "df", "ctf")
    )
    pruned = df.select("term", "field", "df", "ctf")
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, unpruned.collect())
    )


# ---------------------------------------------------------------------------
# Krovetz stemmer fixtures
# ---------------------------------------------------------------------------

KSTEM_FIXTURES = {
    # inflectional
    "cats": "cat", "policies": "policy", "flies": "fly", "boxes": "box",
    "churches": "church", "cases": "case", "running": "run",
    "stopped": "stop", "planned": "plan", "making": "make", "hoped": "hope",
    "tried": "try", "died": "die", "dying": "die", "agreed": "agree",
    "children": "child", "feet": "foot", "indices": "index",
    "leaves": "leaf", "queries": "query", "merging": "merge",
    "indexed": "index", "scoring": "score", "searching": "search",
    # derivational (lexicon-confirmed)
    "quickly": "quick", "happiness": "happy", "happily": "happy",
    "development": "develop", "readable": "read", "usable": "use",
    "writer": "write", "runner": "run", "teacher": "teach",
    "organization": "organize",
    # protected words (dictionary or exception table)
    "king": "king", "ring": "ring", "thing": "thing", "string": "string",
    "news": "news", "series": "series", "analysis": "analysis",
    "during": "during", "was": "was", "this": "this",
    # out-of-lexicon: conservative no-ops / heuristic inflection only
    "baba": "baba", "kelu": "kelu", "tisoma": "tisoma",
    # round-3 expanded lexicon (kstem_data.py, stemmer_impl krovetz-3):
    # derivational forms the 1k lexicon missed
    "iteration": "iterate", "iterations": "iterate", "iterator": "iterate",
    "allocation": "allocate", "efficiency": "efficient",
    "availability": "available", "scalability": "scalable",
    "compatibility": "compatible", "cardinality": "cardinal",
    "implementation": "implement", "deployment": "deploy",
    "precision": "precise", "diversity": "diverse",
    "explicitly": "explicit", "lazily": "lazy", "atomic": "atom",
    "tokenizer": "tokenize", "tokenized": "tokenize",
    "coalescing": "coalesce", "analyzing": "analyze", "invoked": "invoke",
    # doubling-orthography disambiguation of short/e lexicon pairs
    # (_strip_candidates: doubled -> undouble first, CVC -> +e first)
    "hoped": "hope", "hopped": "hop", "hoping": "hope",
    "coding": "code", "rating": "rate", "riding": "ride",
    "firing": "fire", "dining": "dine", "caring": "care",
    "staring": "stare", "starred": "star", "diner": "dine",
    "planed": "plane", "planned": "plan", "sloped": "slope",
    "griped": "gripe", "gripped": "grip", "scraped": "scrape",
    "scrapped": "scrap",
    # base-first preserved for non-CVC shapes
    "visited": "visit", "opened": "open", "modeled": "model",
    "offered": "offer", "filtered": "filter", "severed": "sever",
    # newly protected lexical lookalikes
    "species": "species", "passion": "passion", "bitter": "bitter",
    "rubber": "rubber", "willing": "willing", "university": "university",
    "counter": "counter", "morning": "morning", "physics": "physics",
    "convention": "convention", "mutable": "mutable", "viable": "viable",
    # round-4 expanded lexicon (kstem_data.py second block, stemmer_impl
    # krovetz-4): lexical lookalikes the 7k lexicon mis-stemmed, now
    # protected (pre-add stems shown in the data-file comment) ...
    "tender": "tender", "solder": "solder", "wager": "wager",
    "ironic": "ironic", "inning": "inning", "oration": "oration",
    "quince": "quince", "trounce": "trounce", "minion": "minion",
    "painstaking": "painstaking", "bloodshed": "bloodshed",
    "asbestos": "asbestos", "biceps": "biceps", "measles": "measles",
    "tidings": "tidings", "trainer": "trainer", "faction": "faction",
    "figment": "figment", "tunic": "tunic", "probity": "probity",
    "visor": "visor", "recital": "recital", "curator": "curator",
    # ... new derivational confirmations unlocked by the added bases ...
    "abatement": "abate", "testily": "testy", "garishly": "garish",
    "salvageable": "salvage", "vandalism": "vandal",
    "abdication": "abdicate", "veneration": "venerate",
    "tabulation": "tabulate", "detonation": "detonate",
    "detonator": "detonate", "percolator": "percolate",
    "navigator": "navigate", "translator": "translate",
    "ventilation": "ventilate", "hibernation": "hibernate",
    "meditation": "meditate", "mutation": "mutate",
    "rotation": "rotate", "quotation": "quote", "scarcity": "scarce",
    "tranquility": "tranquil", "verbosity": "verbose",
    # ... and true inflections deliberately EXCLUDED from the batch so
    # their inflectional conflations survive (review drops)
    "peaked": "peak", "appalling": "appall", "acoustics": "acoustic",
    "crabbed": "crab", "impending": "impend", "avers": "aver",
    # round-4 continuation batch (stemmer_impl krovetz-5): 15 reviewed
    # lookalike protections (pre-add stems in the kstem_data.py comment)
    "darling": "darling", "duckling": "duckling", "lightning": "lightning",
    "bonkers": "bonkers", "department": "department", "outing": "outing",
    "votive": "votive", "vendor": "vendor", "slipper": "slipper",
    "stocking": "stocking", "bounder": "bounder", "tension": "tension",
    "gymnastics": "gymnastics", "linguistics": "linguistics",
    "bastion": "bastion",
    # plurals confirm to the new bases
    "vendors": "vendor", "tensions": "tension", "stockings": "stocking",
    "departments": "department", "ducklings": "duckling",
    # reviewed EXCLUSIONS: same-concept conflations survive on purpose
    # (-ics singulars per the acoustics precedent; transparent
    # derivations per the abatement->abate precedent)
    "ethics": "ethic", "optics": "optic", "logistics": "logistic",
    "purity": "pure", "ailment": "ail", "arrival": "arrive",
    "backing": "back", "briefing": "brief",
    # krovetz-6: junk-stem / concept-cross closures (pre-add stems in
    # the kstem_data.py fourth-block comment)
    "err": "err", "errs": "err", "erred": "err", "erring": "err",
    "earring": "earring", "earrings": "earring",
    "fledgling": "fledgling", "hireling": "hireling",
    "offspring": "offspring", "upbringing": "upbringing",
    "undertaking": "undertaking", "undertakings": "undertaking",
    # agentive/-ing policy conflations stay put (teacher precedent)
    "sailor": "sail", "actor": "act", "editor": "edit",
    "governor": "govern", "meaning": "mean", "opening": "open",
    "setting": "set", "understanding": "understand",
}


def test_kstem_fixture_table():
    from search_engine_framework_spark.functions.kstem import kstem

    bad = {w: kstem(w) for w, e in KSTEM_FIXTURES.items() if kstem(w) != e}
    assert not bad, f"KStem regressions: {bad}"


def test_stemmer_dispatch():
    from search_engine_framework_spark.functions.stemmer import stem_token

    assert stem_token("quickly", "kstem") == "quick"
    assert stem_token("quickly", "kstem-lite") == "quickly"  # rules-only
    assert stem_token("quickly", "none") == "quickly"
    with pytest.raises(ValueError):
        stem_token("x", "porter")


# ---------------------------------------------------------------------------
# svm_rank model reader
# ---------------------------------------------------------------------------

def _write_model(path, sv_lines):
    header = [
        "SVM-light Version V6.20",
        "0 # kernel type",
        "3 # kernel parameter -d",
        "1 # kernel parameter -g",
        "1 # kernel parameter -s",
        "1 # kernel parameter -r",
        "empty# kernel parameter -u",
        "15 # highest feature index",
        "2 # number of training documents",
        "3 # number of support vectors plus 1",
        "0.5 # threshold b, each following set of lines is a SV",
    ]
    path.write_text("\n".join(header + sv_lines) + "\n")


def test_svmrank_model_roundtrip(tmp_path):
    from search_engine_framework_spark.letor import FEATURES, read_svmrank_model

    m = tmp_path / "model"
    _write_model(m, [
        "2.0 1:0.25 3:-1.0 # sv1",
        "-0.5 1:1.0 2:2.0 # sv2",
    ])
    w = read_svmrank_model(str(m))
    assert w[FEATURES[0]] == pytest.approx(2.0 * 0.25 - 0.5 * 1.0)
    assert w[FEATURES[1]] == pytest.approx(-0.5 * 2.0)
    assert w[FEATURES[2]] == pytest.approx(-2.0)


def test_svmrank_model_rejects_nonlinear(tmp_path):
    from search_engine_framework_spark.letor import read_svmrank_model

    m = tmp_path / "model"
    lines = m  # reuse writer with a patched kernel line
    _write_model(m, ["1.0 1:1.0 #"])
    txt = m.read_text().replace("0 # kernel type", "2 # kernel type")
    m.write_text(txt)
    with pytest.raises(ValueError, match="linear"):
        read_svmrank_model(str(m))


def test_svmrank_weights_drive_rerank(spark, tmp_path):
    from search_engine_framework_spark.letor import (
        FEATURES,
        read_svmrank_model,
        rerank,
    )

    m = tmp_path / "model"
    _write_model(m, ["1.0 1:2.0 2:1.0 #"])
    w = read_svmrank_model(str(m))
    feats = spark.createDataFrame(
        [
            ("q1", 1, "a", 1.0, 0.0),
            ("q1", 2, "b", 0.0, 3.0),
        ],
        f"qid string, doc_id long, ext_id string, {FEATURES[0]} double, {FEATURES[1]} double",
    )
    for f in FEATURES[2:]:
        feats = feats.withColumn(f, F.lit(float("nan")))
    got = rerank(feats, w, k=10).orderBy("rank").collect()
    assert [r["ext_id"] for r in got] == ["b", "a"]  # 3.0 > 2.0
    assert got[0]["score"] == pytest.approx(3.0)


# ---------------------------------------------------------------------------
# unknown-field validation
# ---------------------------------------------------------------------------

def test_unknown_field_raises(spark, tiny_index):
    from search_engine_framework_spark.engine import (
        SearchEngine,
        UnknownFieldError,
    )
    from search_engine_framework_spark.plans.models import BM25

    paths, _rows, _tdf = tiny_index  # built with fields=("body", "role")
    eng = SearchEngine(spark, paths)
    with pytest.raises(UnknownFieldError, match="url"):
        eng.search("apple.url", BM25(), k=5)
    # known-but-unqueried field still fine
    assert eng.search("user.role", BM25(), k=5) is not None


# ---------------------------------------------------------------------------
# crash-safe incremental publish
# ---------------------------------------------------------------------------

def test_append_crash_is_reconciled(spark, tmp_path, monkeypatch):
    from search_engine_framework_spark.engine import SearchEngine
    from search_engine_framework_spark.index.build import build_index
    from search_engine_framework_spark.plans.models import BM25
    from search_engine_framework_spark.sources.transcripts import synth_transcripts
    from search_engine_framework_spark.streaming import incremental

    out = str(tmp_path / "ix")
    base = synth_transcripts(spark, n_convs=12, seed=3)
    build_index(spark, base, out, fields=("body",), n_buckets=4, n_salts=2)
    with open(os.path.join(out, "stats.json")) as fh:
        n_before = json.load(fh)["N"]

    delta = synth_transcripts(spark, n_convs=18, seed=3).where(
        F.col("conv_id") > "conv-00000011"
    )

    # crash mid-publish: segments copied, everything after missing
    real_publish = incremental._publish_staged

    def exploding_publish(paths, staging, gen):
        real_publish(paths, staging, gen)  # stage copy is idempotent...
        raise RuntimeError("simulated crash before stats/manifest commit")

    monkeypatch.setattr(incremental, "_publish_staged", exploding_publish)
    with pytest.raises(RuntimeError, match="simulated crash"):
        incremental.append_index(spark, delta, out, fields=("body",),
                                 n_buckets=4, n_salts=2)
    monkeypatch.setattr(incremental, "_publish_staged", real_publish)

    # stats untouched by the failed publish
    with open(os.path.join(out, "stats.json")) as fh:
        assert json.load(fh)["N"] == n_before
    # a later append first reconciles the orphaned generation, then
    # appends nothing new (same batch) — the index ends consistent
    n2 = incremental.append_index(spark, delta, out, fields=("body",),
                                  n_buckets=4, n_salts=2)
    assert n2 == 0  # reconcile published the staged generation first
    with open(os.path.join(out, "stats.json")) as fh:
        stats = json.load(fh)
    n_appended = delta.count()
    assert stats["N"] == n_before + n_appended

    # docmap/doclen/segments agree with stats
    eng = SearchEngine(spark, out)
    assert eng.reader.docmap().count() == stats["N"]
    assert eng.reader.doclen().count() == stats["N"]
    assert eng.search("search engine", BM25(), k=5).count() > 0


# ---------------------------------------------------------------------------
# golden fixture for the reference-analyzer BM25 ranking (the contract's
# rows-only entry — Krovetz stemming is not expressible in the DuckDB
# oracle, so this pins the exact output instead)
# ---------------------------------------------------------------------------

BM25_REF_GOLDEN = [
    (365, 1, -0.6786), (75, 2, -0.7201), (170, 3, -0.7596),
    (452, 4, -0.7734), (147, 5, -0.7792), (310, 6, -0.795),
    (366, 7, -0.8029), (91, 8, -0.8243), (239, 9, -0.8338),
    (183, 10, -0.8359), (202, 11, -0.8438), (496, 12, -0.8504),
    (40, 13, -0.8545), (78, 14, -0.8726), (472, 15, -0.8726),
    (241, 16, -0.8886), (58, 17, -0.8915), (344, 18, -0.8915),
    (39, 19, -0.9064), (57, 20, -0.9113),
]


@pytest.mark.skipif(
    not os.path.exists("/root/testdata/sf0.001/documents.parquet"),
    reason="driver testdata not present",
)
def test_bm25_ref_analyzer_golden(spark):
    from search_engine_framework_spark.contract import q_bm25_ref_analyzer

    rows = q_bm25_ref_analyzer(spark, "/root/testdata/sf0.001").collect()
    got = [(r["doc_id"], r["rank"], r["score"]) for r in rows]
    assert got == BM25_REF_GOLDEN


def test_expand_queries_matches_sequential(spark, tiny_index):
    """Batched PRF (prf.expand_queries, the CLI fb path) must produce the
    same expanded query strings as per-query prf.expand_query."""
    from search_engine_framework_spark.engine import SearchEngine
    from search_engine_framework_spark.plans.models import Indri
    from search_engine_framework_spark.prf import expand_queries, expand_query

    paths, _rows, _tdf = tiny_index
    eng = SearchEngine(spark, paths)
    queries = {"q1": "search engine", "q2": "heart rate", "q3": "training data"}
    model = Indri()
    batched = expand_queries(
        eng, queries, model, fb_docs=5, fb_terms=8, fb_mu=0, fb_orig_weight=0.4
    )
    for qid, text in queries.items():
        want = expand_query(
            eng, text, model, fb_docs=5, fb_terms=8, fb_mu=0, fb_orig_weight=0.4
        )
        assert batched[qid] == want, f"{qid}: {batched[qid]!r} != {want!r}"


# ---------------------------------------------------------------------------
# batched multi-query evaluation (engine.search_many): one stats job + one
# shared postings scan must be rank- AND score-identical to the sequential
# per-query path for every model family
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "model_name,queries",
    [
        ("BM25", {
            "q1": "search engine index",
            "q2": "#SUM(heart rate)",
            "q3": "#SUM(#NEAR/2(search engine) index)",   # positional leaf
            "q4": "the of and",                            # all stopwords
        }),
        ("Indri", {
            "q1": "#AND(search engine)",
            "q2": "#WSUM(0.7 search 0.3 #AND(heart rate))",
        }),
        ("RankedBoolean", {
            "q1": "#AND(search #NOT(heart))",
            "q2": "#OR(engine index)",
        }),
        ("UnrankedBoolean", {
            "q1": "#AND(search engine)",
        }),
    ],
)
def test_search_many_matches_sequential(spark, tiny_index, model_name, queries):
    from search_engine_framework_spark import plans
    from search_engine_framework_spark.engine import SearchEngine
    from search_engine_framework_spark.plans import models as M

    paths, _rows, _tdf = tiny_index
    eng = SearchEngine(spark, paths)
    model = getattr(M, model_name)()
    batch = eng.search_many(queries, model, k=15)
    got = {}
    for r in batch.collect():
        got.setdefault(r["qid"], []).append(
            (r["doc_id"], r["ext_id"], r["rank"], r["score"])
        )
    for qid, text in queries.items():
        want = [
            (r["doc_id"], r["ext_id"], r["rank"], r["score"])
            for r in eng.search(text, model, k=15).collect()
        ]
        assert got.get(qid, []) == want, f"{model_name}/{qid} diverged"


def test_duplicate_turn_idx_falls_back_to_dense_unique_ids(spark):
    from search_engine_framework_spark.index.docids import assign_doc_ids

    df = spark.createDataFrame(
        [("c1", 0, "u", "a", "", None), ("c1", 2, "u", "b", "", None),
         ("c1", 2, "u", "c", "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = assign_doc_ids(df)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [0, 1, 2], "duplicate turn_idx must not yield duplicate ids"


def test_row_number_fallback_binds_ids_deterministically(spark):
    """The assigned frame is evaluated once per downstream table (docmap
    write, postings write) — with duplicate (conv_id, turn_idx) keys the
    row_number tie-break must be a total order, or the two evaluations
    can bind the same doc_id to different physical rows (docmap metadata
    for row A, postings for row B)."""
    from search_engine_framework_spark.index.docids import assign_doc_ids

    rows = [("c1", 0, "u", "alpha", "", None)] + [
        ("c1", 2, "u", f"text-{i}", "", None) for i in range(6)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    bindings = []
    for p in (1, 7, 3):
        out = assign_doc_ids(df.repartition(p))
        bindings.append({(r["doc_id"], r["text"]) for r in out.collect()})
        out._sefs_unpersist()
    assert bindings[0] == bindings[1] == bindings[2], (
        "doc_id↔row binding must not depend on partitioning/arrival order"
    )


# ---------------------------------------------------------------------------
# round-2 review fixes: compaction crash recovery, lineage-derived
# n_buckets, analyzer/stemmer lineage parity, NULL-text token counts
# ---------------------------------------------------------------------------

def _mini_corpus(spark, n=12, seed=5):
    from search_engine_framework_spark.sources.transcripts import synth_transcripts

    return synth_transcripts(spark, n_convs=n, seed=seed)


def test_recover_compaction_rolls_forward_and_back(spark, tmp_path):
    import os
    import shutil

    from search_engine_framework_spark.engine import SearchEngine
    from search_engine_framework_spark.index.build import build_index
    from search_engine_framework_spark.plans.models import BM25
    from search_engine_framework_spark.streaming.incremental import (
        recover_compaction,
    )

    out = str(tmp_path / "ix")
    paths = build_index(spark, _mini_corpus(spark), out, fields=("body",),
                        n_buckets=4, n_salts=2)
    seg = paths.segments
    want = {r["doc_id"] for r in
            SearchEngine(spark, paths).search("search engine", BM25()).collect()}

    # crash AFTER rename(live, backup), BEFORE rename(tmp, live), with a
    # COMPLETE tmp (compact_index's Spark write leaves _SUCCESS; the
    # copytree stand-in needs it created explicitly) → roll forward
    shutil.copytree(seg, seg + ".compacting")
    open(os.path.join(seg + ".compacting", "_SUCCESS"), "w").close()
    os.rename(seg, seg + ".old")
    assert not os.path.isdir(seg)
    recover_compaction(paths)
    assert os.path.isdir(seg) and not os.path.isdir(seg + ".old")
    got = {r["doc_id"] for r in
           SearchEngine(spark, paths).search("search engine", BM25()).collect()}
    assert got == want
    os.remove(os.path.join(seg, "_SUCCESS"))

    # crash with a PARTIAL tmp (no _SUCCESS) and live missing → roll back
    shutil.copytree(seg, seg + ".compacting")
    os.rename(seg, seg + ".old")
    recover_compaction(paths)
    assert os.path.isdir(seg)
    assert not os.path.isdir(seg + ".old")
    assert not os.path.isdir(seg + ".compacting")

    # stale dirs with live present → cleaned
    shutil.copytree(seg, seg + ".compacting")
    recover_compaction(paths)
    assert not os.path.isdir(seg + ".compacting")

    # IndexReader open also recovers (reader-side crash safety)
    shutil.copytree(seg, seg + ".compacting")
    os.rename(seg, seg + ".old")
    got = {r["doc_id"] for r in
           SearchEngine(spark, paths).search("search engine", BM25()).collect()}
    assert got == want and os.path.isdir(seg)


def test_append_n_buckets_from_lineage_and_mismatch_raises(spark, tmp_path):
    from search_engine_framework_spark.index.build import build_index
    from search_engine_framework_spark.index.reader import IndexReader
    from search_engine_framework_spark.streaming.incremental import (
        append_index,
        compact_index,
    )

    out = str(tmp_path / "ix")
    full = _mini_corpus(spark, n=10).cache()
    p1 = full.where("conv_id < 'conv-00000007'")
    p2 = full.where("conv_id >= 'conv-00000007'")
    build_index(spark, p1, out, fields=("body",), n_buckets=4, n_salts=2)

    with pytest.raises(ValueError, match="recorded bucket count 4"):
        append_index(spark, p2, out, fields=("body",), n_buckets=32)
    with pytest.raises(ValueError, match="recorded bucket count 4"):
        compact_index(spark, out, n_buckets=32)

    # default derives 4 from lineage: appended postings stay visible to
    # the bucket-pruned scan
    n = append_index(spark, p2, out, fields=("body",))
    assert n > 0
    reader = IndexReader(spark, out)
    assert reader._n_buckets == 4
    pairs = {("search", "body")}
    assert reader.fetch_postings(pairs, need_positions=False).count() > 0
    compact_index(spark, out)  # lineage default
    assert reader.fetch_postings(pairs, need_positions=False).count() > 0


def test_engine_adopts_and_validates_analyzer_lineage(spark, tmp_path):
    import json
    import os

    from search_engine_framework_spark.engine import SearchEngine
    from search_engine_framework_spark.functions.analyzer import AnalyzerConfig
    from search_engine_framework_spark.index.build import build_index

    out = str(tmp_path / "ix")
    cfg = AnalyzerConfig.sql_safe()  # stopwords=False, stemmer="none"
    paths = build_index(spark, _mini_corpus(spark), out, fields=("body",),
                        n_buckets=4, n_salts=2, cfg=cfg)

    # analyzer=None adopts the INDEX's analyzer, not the global default
    eng = SearchEngine(spark, paths)
    assert eng.analyzer == cfg

    # explicit mismatching analyzer fails loudly
    with pytest.raises(ValueError, match="does not match the index"):
        SearchEngine(spark, paths, analyzer=AnalyzerConfig.reference())

    # a stemmer whose IMPLEMENTATION changed since the build fails loudly
    mdir = paths.manifests
    name = next(f for f in sorted(os.listdir(mdir)) if f.startswith("bucket-"))
    mp = os.path.join(mdir, name)
    with open(mp) as fh:
        m = json.load(fh)
    m["lineage"]["stemmer_impl"] = "none/0-older"
    with open(mp, "w") as fh:
        json.dump(m, fh)
    with pytest.raises(ValueError, match="stemmer implementation"):
        SearchEngine(spark, paths)


def test_token_counts_null_text(spark):
    from search_engine_framework_spark.pipeline.textstats import token_counts

    docs = spark.createDataFrame(
        [(1, "two words"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in token_counts(docs).collect()}
    assert rows[1]["n_ws"] == 2
    assert rows[2]["n_ws"] == 0 and rows[2]["n_bpe"] == 0
    assert rows[2]["bpe_per_ws"] == 0.0
    assert rows[3]["n_ws"] == 0 and rows[3]["n_bpe"] == 0


def test_batched_letor_releases_cache(spark, tiny_index):
    from search_engine_framework_spark.engine import SearchEngine
    from search_engine_framework_spark.letor_batch import batch_query_features

    paths, _rows, _tdf = tiny_index
    eng = SearchEngine(spark, paths)
    cand = eng.search_many({"q1": "search engine"}, __import__(
        "search_engine_framework_spark.plans.models", fromlist=["BM25"]
    ).BM25(), k=5).select("qid", "doc_id")
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    out = batch_query_features(eng, {"q1": "search engine"}, cand)
    assert out.count() > 0
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after <= before, "batch_query_features leaked persisted RDDs"


# Each case uses a term set no other test queries, so a postings cache it
# leaks cannot coincide with one an earlier test already registered.
_LAZY_CALLS = {
    "search_df": lambda e, m: e.search_df("#AND(volvo annuity)", m.Indri()),
    "conversation_scores_df": lambda e, m: e.conversation_scores_df(
        "pampered antenna", m.BM25()
    ),
    "search_rescore": lambda e, m: e.search_rescore(
        "gmat classes", m.BM25(), "#NEAR/1(gmat classes)", m.BM25(),
        window=10, k=5,
    ),
    "search_conversations": lambda e, m: e.search_conversations(
        "poker wilson", m.BM25(), k=5
    ),
}


@pytest.mark.parametrize("name", sorted(_LAZY_CALLS))
def test_lazy_entry_points_release_cache(spark, tiny_index, name):
    """The lazy compiled entry points (and the eager ones built on them)
    persist no postings cache that outlives the call."""
    from search_engine_framework_spark.engine import SearchEngine
    from search_engine_framework_spark.plans import models

    paths, _rows, _tdf = tiny_index
    eng = SearchEngine(spark, paths)
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    _LAZY_CALLS[name](eng, models).collect()
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after <= before, f"{name} leaked persisted RDDs"


_RANKED_SCHEMA = "struct<doc_id:bigint,ext_id:string,rank:int,score:double>"
_QID_SCHEMA = (
    "struct<qid:string,doc_id:bigint,ext_id:string,rank:int,score:double>"
)
_STOP = "the of and"  # all stopwords: the explicit empty-result branches


def _after_cursor(e, m):
    last = e.search("search engine", m.BM25(), k=4).collect()[-1]
    return (last["score"], last["ext_id"])


# name → (call(engine, models, query), schema, order key per row or None
# for per-qid frames, which the test orders by (-score, ext_id) per qid)
_TAIL_CASES = {
    "search_fastpath": (
        lambda e, m, q: e.search(q, m.BM25(), k=10),
        _RANKED_SCHEMA, lambda r: (-r["score"], r["ext_id"]),
    ),
    # the test sets SEFS_DRIVER_TOPK=0, so the fast path declines
    "search_distributed": (
        lambda e, m, q: e.search(q, m.BM25(), k=10),
        _RANKED_SCHEMA, lambda r: (-r["score"], r["ext_id"]),
    ),
    "search_distributed_unranked": (
        lambda e, m, q: e.search(q, m.UnrankedBoolean(), k=10),
        _RANKED_SCHEMA, lambda r: r["ext_id"],
    ),
    "search_many": (
        lambda e, m, q: e.search_many(
            {"b": q, "a": "heart rate"} if q != _STOP else {"a": q},
            m.BM25(), k=6,
        ),
        _QID_SCHEMA, None,
    ),
    "search_bulk_bm25": (
        lambda e, m, q: e.search_bulk_bm25(
            {"b": q, "a": "heart rate"} if q != _STOP else {"a": q}, k=6
        ),
        _QID_SCHEMA, None,
    ),
    "vsm_search": (
        lambda e, m, q: e.vsm_search(q, k=10),
        _RANKED_SCHEMA, lambda r: (-r["score"], r["ext_id"]),
    ),
    "vsm_search_rocchio": (
        lambda e, m, q: e.vsm_search_rocchio(q, k=10, fb_k=5),
        _RANKED_SCHEMA, lambda r: (-r["score"], r["ext_id"]),
    ),
    "search_bm25f": (
        lambda e, m, q: e.search_bm25f(q, {"body": 1.0, "role": 2.0}, k=10),
        _RANKED_SCHEMA, lambda r: (-r["score"], r["ext_id"]),
    ),
    "search_sorted": (
        lambda e, m, q: e.search_sorted(q, m.BM25(), ["turn_idx desc"], k=10),
        # ext_id = conv_id:turn_idx
        _RANKED_SCHEMA,
        lambda r: (-int(r["ext_id"].rsplit(":", 1)[1]), r["ext_id"]),
    ),
    "search_rescore": (
        lambda e, m, q: e.search_rescore(
            q, m.BM25(), "#NEAR/1(search engine)", m.BM25(), window=20, k=10
        ),
        _RANKED_SCHEMA, lambda r: (-r["score"], r["ext_id"]),
    ),
    "search_collapsed": (
        lambda e, m, q: e.search_collapsed(q, m.BM25(), k=10),
        "struct<conv_id:string,doc_id:bigint,ext_id:string,rank:int,"
        "score:double>",
        lambda r: (-r["score"], r["ext_id"]),
    ),
    "search_after": (
        lambda e, m, q: e.search_after(q, m.BM25(), _after_cursor(e, m), k=10),
        _RANKED_SCHEMA, lambda r: (-r["score"], r["ext_id"]),
    ),
    "more_like_this": (
        # no term passes min_df=10**9: the explicit no-terms branch
        lambda e, m, q: e.more_like_this(
            e.search("search engine", m.BM25(), k=1).collect()[0]["doc_id"],
            k=10, min_tf=1, min_df=10**9 if q == _STOP else 2,
        ),
        _RANKED_SCHEMA, lambda r: (-r["score"], r["ext_id"]),
    ),
    "search_conversations": (
        lambda e, m, q: e.search_conversations(q, m.BM25(), k=10),
        "struct<conv_id:string,rank:int,score:double,n_turns:bigint>",
        lambda r: (-r["score"], r["conv_id"]),
    ),
}


@pytest.mark.parametrize("name", list(_TAIL_CASES))
def test_ranked_entry_points_share_one_tail(
    spark, tiny_index, monkeypatch, name
):
    """Every ranked entry point returns its documented schema — also from
    its empty-result branch — with ranks contiguous from 1 (per qid) and
    rows in its documented order."""
    from search_engine_framework_spark import fastpath
    from search_engine_framework_spark.engine import SearchEngine
    from search_engine_framework_spark.plans import models

    answered = []  # fast-path results, None where it declined
    driver = fastpath.bm25_topk_driver
    monkeypatch.setattr(
        fastpath, "bm25_topk_driver",
        lambda *a, **kw: answered.append(driver(*a, **kw)) or answered[-1],
    )
    if name == "search_distributed":
        monkeypatch.setenv("SEFS_DRIVER_TOPK", "0")
    paths, _rows, _tdf = tiny_index
    eng = SearchEngine(spark, paths)
    call, schema, key = _TAIL_CASES[name]
    df = call(eng, models, "search engine index")
    if name == "search_fastpath":
        assert answered and answered[-1] is not None
    if name == "search_distributed":
        assert answered == [None]
    assert df.schema.simpleString() == schema
    rows = df.collect()
    assert rows
    if key is None:
        assert rows == sorted(rows, key=lambda r: (r["qid"], r["rank"]))
        by_qid = {}
        for r in rows:
            by_qid.setdefault(r["qid"], []).append(r)
        assert sorted(by_qid) == ["a", "b"]
        groups = list(by_qid.values())
        key = lambda r: (-r["score"], r["ext_id"])  # noqa: E731
    else:
        groups = [rows]
    for g in groups:
        assert [r["rank"] for r in g] == list(range(1, len(g) + 1))
        assert [key(r) for r in g] == sorted(key(r) for r in g)
    empty = call(eng, models, _STOP)
    assert empty.schema.simpleString() == schema
    assert empty.count() == 0


def test_decode_metrics_keeps_the_benchmark_keys(spark, tiny_index):
    """The benchmark reads exactly these two counters from every search
    run and subtracts them; no query path skips blocks, so both stay 0."""
    from search_engine_framework_spark.engine import SearchEngine
    from search_engine_framework_spark.plans.models import BM25

    paths, _rows, _tdf = tiny_index
    eng = SearchEngine(spark, paths)
    eng.search("search engine", BM25(), k=5).collect()
    assert eng.decode_metrics() == {"blocks_decoded": 0, "blocks_skipped": 0}


def test_ranked_tail_frame_round_trips_exactly(spark):
    """``session.local_frame``, which materializes every ranked tail,
    hands each value back exactly, keeps the schema when there are no
    rows, and rejects a float in an int column (as createDataFrame's
    verifySchema did) instead of truncating it."""
    from search_engine_framework_spark.session import local_frame

    ddl = "id long, rank int, score double, ext_id string"
    ranks = [-(2**31), 2**31 - 1, 0, 1, None]
    doubles = [-0.0, 5e-324, 1.7976931348623157e308, float("inf"), float("nan")]
    strings = ['say "hi"', "it's", "\x01", "naïve 検索", None]
    rows = [
        (2**62 + i, r, d, s)
        for i, (r, d, s) in enumerate(zip(ranks, doubles, strings))
    ]
    got = [tuple(r) for r in local_frame(spark, rows, ddl).collect()]
    assert [(i, r, s) for i, r, _, s in got] == [
        (i, r, s) for i, r, _, s in rows
    ]
    assert [d.hex() for _, _, d, _ in got] == [d.hex() for d in doubles]
    empty = local_frame(spark, [], ddl)
    assert empty.schema.simpleString() == (
        "struct<id:bigint,rank:int,score:double,ext_id:string>"
    )
    assert empty.collect() == []
    with pytest.raises(TypeError):
        local_frame(spark, [(1, 2.5, 0.0, "x")], ddl)


def test_search_bulk_bm25_bit_identical_to_search_many(spark, tiny_index):
    """The join-based bulk evaluator must match the per-query-plan path
    bit-for-bit (same child-order float fold), including duplicate query
    terms and absent terms."""
    from search_engine_framework_spark.engine import SearchEngine
    from search_engine_framework_spark.plans.models import BM25, Indri

    paths, _rows, _tdf = tiny_index
    eng = SearchEngine(spark, paths)
    queries = {
        "q1": "search engine index",
        "q2": "heart rate heart",          # duplicate term = two children
        "q3": "zzznotinanydoc search",     # absent term contributes 0
        "q4": "the of and",                # all stopwords → no rows
    }
    bulk = {}
    for r in eng.search_bulk_bm25(queries, k=12).collect():
        bulk.setdefault(r["qid"], []).append(
            (r["doc_id"], r["ext_id"], r["rank"], r["score"])
        )
    many = {}
    for r in eng.search_many(queries, BM25(), k=12).collect():
        many.setdefault(r["qid"], []).append(
            (r["doc_id"], r["ext_id"], r["rank"], r["score"])
        )
    assert bulk == many

    with pytest.raises(ValueError, match="flat term bag"):
        eng.search_bulk_bm25({"q": "#AND(a b)"})
    with pytest.raises(ValueError, match="BM25 only"):
        eng.search_bulk_bm25({"q": "a"}, model=Indri())


def test_search_bulk_bm25_unknown_field_raises(spark, tiny_index):
    from search_engine_framework_spark.engine import SearchEngine, UnknownFieldError

    paths, _rows, _tdf = tiny_index
    eng = SearchEngine(spark, paths)
    with pytest.raises(UnknownFieldError, match="never indexed"):
        eng.search_bulk_bm25({"q": "search"}, field="bodyy")


def test_term_stats_arrow_matches_spark_scan(spark, tiny_index):
    """The driver-side pyarrow term_stats fast path must return the
    IDENTICAL dict the distributed scan returns — same pairs, same
    df/ctf/max_tf sums — including multi-term × multi-field requests
    (where the cross-product filter matters) and absent terms."""
    from search_engine_framework_spark.index.reader import IndexReader

    paths, _rows, _tdf = tiny_index
    r = IndexReader(spark, paths)
    pairs = {
        ("search", "body"), ("engine", "body"),
        ("user", "role"), ("search", "role"),
        ("zzznotaterm", "body"),
    }
    via_arrow = r._term_stats_arrow(pairs)
    assert via_arrow is not None  # local dir → fast path must engage
    r._term_stats_arrow = lambda p: None  # force the Spark scan
    via_spark = r.term_stats(pairs)
    assert via_arrow == via_spark
    assert ("zzznotaterm", "body") not in via_arrow
    assert via_arrow[("search", "body")]["df"] > 0


# ---------------------------------------------------------------------------
# index_stats (driver-side index health/usage report)
# ---------------------------------------------------------------------------

def test_index_stats_report(spark, tiny_index):
    import glob
    import json
    import os

    from search_engine_framework_spark.engine import SearchEngine

    paths, rows, _ = tiny_index
    eng = SearchEngine(spark, paths)
    s = eng.reader.index_stats()
    assert s["n_docs"] == len(rows) == eng.reader.num_docs
    assert set(s["fields"]) == {"body", "role"}
    # manifest rollup equals a direct read of the manifest files
    mans = [
        json.load(open(p))
        for p in glob.glob(os.path.join(paths.manifests, "bucket-*.json"))
    ]
    assert s["buckets"]["n_buckets"] == len(mans) > 0
    assert s["buckets"]["n_postings"] == sum(m["n_postings"] for m in mans)
    assert s["buckets"]["n_terms"] == sum(m["n_terms"] for m in mans)
    assert s["buckets"]["incomplete"] == []
    # n_terms is exact: buckets partition the term hash space
    n_distinct = (
        eng.reader.term_stats_df().select("term", "field").distinct().count()
    )
    assert s["buckets"]["n_terms"] == n_distinct
    assert s["disk_bytes"]["segments"] > 0
    assert s["disk_bytes"]["total"] >= s["disk_bytes"]["segments"]
    assert s["pending_deletes"] == 0
    assert s["lineage"]["n_buckets"] == 8


def test_search_many_lucene_and_boosts(spark, tiny_index):
    """search_many (one shared scan) must equal the sequential path for
    the round-3 scorer (LuceneBM25) and caret-boosted queries."""
    from search_engine_framework_spark.engine import SearchEngine
    from search_engine_framework_spark.plans.models import LuceneBM25

    paths, _rows, _tdf = tiny_index
    eng = SearchEngine(spark, paths)
    qs = {"q1": "search engine", "q2": "search engine^2 index"}
    rows = eng.search_many(qs, LuceneBM25(), k=10).collect()
    for qid, text in qs.items():
        got = sorted(
            (r["doc_id"], r["rank"], r["score"])
            for r in rows
            if r["qid"] == qid
        )
        want = sorted(
            (r["doc_id"], r["rank"], r["score"])
            for r in eng.search(text, LuceneBM25(), k=10).collect()
        )
        assert got == want, qid


def test_search_bulk_lucene_idf_and_caret_rejection(spark, tiny_index):
    """search_bulk_bm25 must score LuceneBM25 with the Lucene idf
    (bit-identical per qid to search) and must REJECT caret syntax —
    its analyzer would split 'merge^2' into two plain tokens and
    silently score a different query than the parser."""
    from search_engine_framework_spark.engine import SearchEngine
    from search_engine_framework_spark.plans.models import LuceneBM25

    paths, _rows, _tdf = tiny_index
    eng = SearchEngine(spark, paths)
    got = {
        (r["qid"], r["doc_id"]): r["score"]
        for r in eng.search_bulk_bm25(
            {"q1": "search engine"}, LuceneBM25(), k=10
        ).collect()
    }
    want = {
        ("q1", r["doc_id"]): r["score"]
        for r in eng.search("search engine", LuceneBM25(), k=10).collect()
    }
    assert got == want
    with pytest.raises(ValueError, match="flat term bag"):
        eng.search_bulk_bm25({"q1": "search merge^2"}, LuceneBM25(), k=5)
