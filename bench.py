"""Benchmark driver: headline operator timings at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "total_bench_sec", "value": N, "unit": "sec",
   "queries": {...per-component seconds...}, "sf": 0.1}

Noise-robust protocol (round 4): every leg runs BEST-OF-2 (the shared
sandbox host's noise is strictly additive slowdown, so the faster
observation approximates the quiet-box value — the same policy the
scaling protocol has used since round 1), with both raw observations
emitted under ``<leg>_runs``; and a Spark-free CALIBRATION PROBE (one
single-process burn of the build's tokenize + varint-codec + parquet
resource mix, scripts/scaling_bench._mix_burn) runs before and after
the legs, emitted as ``calib_mix_burn_sec`` — so any two BENCH_r{N}
artifacts carry their own box-speed normalizer: leg ratios should be
read against the probe ratio before calling a regression.

Components
  index_build      — full inverted-index build (tokenize → postings →
                     salted segment merge → compressed parquet) over a
                     deterministic synthetic transcript corpus
                     (~45k turns); extra key turns_per_sec is the
                     BASELINE.json throughput metric.
  bm25_topk_p50    — p50 latency of BM25 top-10 over a 10-query set
                     against the on-disk documents index (the
                     BASELINE.json latency metric).
  bm25_distributed_p50 — same query set with the driver fast path
                     disabled (SEFS_DRIVER_TOPK=0) and the default
                     block-max gate: the plain distributed path, the
                     round-over-round comparable number.
  boolean/positional/indri — one representative structured query each.
  neardup_minhash  — MinHash-LSH near-dup pipeline over documents.
  simhash          — 64-bit SimHash + banded pair search over documents.
  knn_brute        — exact cosine top-10 over embeddings.
  knn_join_chunked — batched exact kNN join, 64 queries streamed in 2
                     chunks (chunk_size=32) — the bounded-driver scale
                     path (round-4 ANN latency tracking).
  ivfpq_query      — IVF-PQ ADC probe (nprobe=4 of nlist=16) against a
                     prebuilt index; build itself is untimed (one-time
                     cost amortized over queries at scale).
  dedup_exact      — hash-groupBy exact dedup over documents.
  classify_score   — quality-classifier inference over documents
                     (hashed features + broadcast-weight sigmoid).
  percolate        — 4 stored queries vs documents as an ingest batch.
  percolate_1k     — ~1000 stored queries via percolate_bulk: flat
                     boolean registry as ONE broadcast-join plan +
                     bounded chunks for the structural tail (round 5).
  streaming_dedup  — Structured Streaming availableNow drain of the
                     exact-dedup gate (fingerprint watermark dedup)
                     over the corpus staged as a parquet stream.
  events_funnel_retention — ordered funnel + weekly retention cohorts.
  dsir_select      — DSIR importance resampling end-to-end (hashed
                     n-gram bucket models + Gumbel top-100).
  transcript_prep  — round-3 transcript ops over 5-turn synthetic convs:
                     chat-format SFT render (loss-mask spans) +
                     conversation quality gates + tool transitions.
  pagerank5        — 5 damped power iterations over a deterministic
                     3-out-degree link graph on documents.

Scaling-efficiency evidence (local[8] vs local[32]) is produced by
scripts/scaling_bench.py, not here — see BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts")
)

import pyspark.sql.functions as F  # noqa: E402

from search_engine_framework_spark.session import _host_cpus, get_spark  # noqa: E402
from search_engine_framework_spark.engine import SearchEngine  # noqa: E402
from search_engine_framework_spark.functions.analyzer import AnalyzerConfig  # noqa: E402
from search_engine_framework_spark.index.build import build_index  # noqa: E402
from search_engine_framework_spark.pipeline import dedup, similarity  # noqa: E402
from search_engine_framework_spark.sources.transcripts import synth_transcripts  # noqa: E402

BM25_QUERIES = [
    "#SUM(spark merge window)",
    "#SUM(customer order line)",
    "#SUM(query data table)",
    "#SUM(hash join filter)",
    "#SUM(stream batch vector)",
    "#SUM(scan sort group)",
    "#SUM(key value part)",
    "#SUM(big small fast)",
    "#SUM(column row agg)",
    "#SUM(slow line data)",
]

N_CONVS = int(os.environ.get("BENCH_N_CONVS", "6000"))
REPEATS = int(os.environ.get("BENCH_REPEATS", "2"))


def _percolate_registry(n: int) -> dict[str, str]:
    """Deterministic ~n-query stored registry over the synthetic-corpus
    vocabulary: rotating #AND/#OR/#SYN term pairs (the flat alerting
    norm), every 25th query structural (#NEAR/#MSM/#NOT) so the bounded
    chunked branch path is exercised too."""
    vocab = (
        "spark window merge table column vector stream value data small "
        "join filter big group hash customer sort order slow line part "
        "fast row agg key query scan batch"
    ).split()
    out: dict[str, str] = {}
    i = 0
    for a in range(len(vocab)):
        for b in range(len(vocab)):
            if a == b:
                continue
            if i % 25 == 24:
                shape = ("#NEAR/3({} {})", "#MSM/2({} {} spark)",
                         "#AND({} #NOT({}))")[i % 3]
                out[f"q{i}"] = shape.format(vocab[a], vocab[b])
            else:
                op = ("#AND", "#OR", "#SYN")[i % 3]
                out[f"q{i}"] = f"{op}({vocab[a]} {vocab[b]})"
            i += 1
            if i >= n:
                return out
    # pairs exhausted before n: extend with rotating triples
    v = len(vocab)
    j = 0
    while len(out) < n:
        a, b, c = j % v, (j // v) % v, (j // (v * v) + 7) % v
        j += 1
        if len({a, b, c}) != 3:
            continue
        op = ("#AND", "#OR", "#SYN")[j % 3]
        out[f"q{i}"] = f"{op}({vocab[a]} {vocab[b]} {vocab[c]})"
        i += 1
    return out


def _calibrate(trials: int = 3) -> list[float]:
    """Spark-free box-speed probe: single-process burns of the build's
    tokenize + varint-codec + snappy-parquet resource mix. Returned as
    raw per-burn seconds (caller takes min); committed in the JSON so
    cross-round leg comparisons can be normalized by box speed."""
    from scaling_bench import _mix_burn

    out = []
    _mix_burn(0)  # warm imports / allocator outside the timed burns
    for i in range(trials):
        t0 = time.time()
        _mix_burn(i + 1)
        out.append(round(time.time() - t0, 3))
    return out


def _leg(
    timings: dict,
    extra: dict,
    name: str,
    fn: Callable[[], dict | None],
    repeats: int = REPEATS,
) -> None:
    """Run ``fn`` ``repeats`` times; record the FASTEST wall as the leg
    value, every observation under ``<name>_runs``, and the extra keys
    returned by the fastest run."""
    runs: list[float] = []
    best_extra: dict | None = None
    best = float("inf")
    for _ in range(repeats):
        t0 = time.time()
        r = fn() or {}
        dt = time.time() - t0
        runs.append(round(dt, 3))
        if dt < best:
            best = dt
            best_extra = r
    timings[name] = round(best, 3)
    extra[f"{name}_runs"] = runs
    if best_extra:
        extra.update(best_extra)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # as get_spark: the host's CPUs unless SPARK_GRAFT_CPUS says otherwise
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_host_cpus())
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    calib_pre = _calibrate()
    spark = get_spark(
        app_name="sefs-bench", master=f"local[{cpus}]",
        # 4 partitions/core: head-term encode groups don't straggle a wave
        shuffle_partitions=int(cpus) * 4,
    )
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    extra: dict = {}

    # ---- index build throughput over an on-disk transcript corpus --------
    # (the north_rule scenario: the input is an Iceberg/parquet table on
    # storage, not an in-memory generator — corpus creation is untimed)
    corpus_dir = f"/tmp/bench_corpus_{N_CONVS}"
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        synth_transcripts(spark, n_convs=N_CONVS, seed=42).write.mode(
            "overwrite"
        ).parquet(corpus_dir)
    corpus = spark.read.parquet(corpus_dir)
    n_turns = corpus.count()
    ix_dir = "/tmp/bench_ix_transcripts"

    def run_build():
        shutil.rmtree(ix_dir, ignore_errors=True)
        build_index(spark, corpus, ix_dir, fields=("body",), n_buckets=int(cpus))

    _leg(timings, extra, "index_build", run_build)
    extra["index_build_turns"] = n_turns
    extra["turns_per_sec"] = round(n_turns / timings["index_build"], 1)

    # ---- documents index for query benchmarks ----------------------------
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    from search_engine_framework_spark.contract import _docs_as_transcripts

    doc_ix = "/tmp/bench_ix_documents"

    def run_build_docs():
        shutil.rmtree(doc_ix, ignore_errors=True)
        build_index(
            spark, _docs_as_transcripts(docs), doc_ix,
            fields=("body",), cfg=AnalyzerConfig.sql_safe(),
            n_buckets=8,
        )

    _leg(timings, extra, "index_build_documents", run_build_docs)
    engine = SearchEngine(spark, doc_ix, analyzer=AnalyzerConfig.sql_safe())

    from search_engine_framework_spark.plans.models import (
        BM25, Indri, RankedBoolean, UnrankedBoolean,
    )

    # warm one query (JVM/codegen warmup is not a per-query cost at scale)
    engine.search(BM25_QUERIES[0], BM25(), k=10)

    def run_queryset():
        lat = []
        for q in BM25_QUERIES:
            t0 = time.time()
            engine.search(q, BM25(), k=10)
            lat.append(time.time() - t0)
        return {"bm25_topk_p50": round(statistics.median(lat), 3)}

    _leg(timings, extra, "bm25_queryset", run_queryset)

    # Plain distributed BM25 path: driver fast path off (SEFS_DRIVER_TOPK=0)
    # and the DEFAULT block-max gate (which rightly declines two extra jobs
    # at this index size).  This is the number comparable round-over-round
    # and to a multi-executor cluster, where the local fast path is gated
    # off; the fast-path p50 above and the forced-pruned p50 below are the
    # two deliberate A/B extremes around it.
    os.environ["SEFS_DRIVER_TOPK"] = "0"
    try:
        engine.search(BM25_QUERIES[0], BM25(), k=10)  # warm distributed plan

        def run_distributed():
            lat_d = []
            for q in BM25_QUERIES:
                t0 = time.time()
                engine.search(q, BM25(), k=10)
                lat_d.append(time.time() - t0)
            return {"bm25_distributed_p50": round(statistics.median(lat_d), 3)}

        _leg(timings, extra, "bm25_queryset_distributed", run_distributed)
    finally:
        os.environ.pop("SEFS_DRIVER_TOPK", None)

    # Block-max pruning evidence (codec max_tf metadata →
    # compiler._bm25_block_prune): forced engagement — at this tiny index
    # the default threshold correctly declines the 2 extra jobs, at scale
    # the skipped decode dominates. Counters show blocks never decoded.
    def run_pruned():
        lat_p = []
        for q in BM25_QUERIES:
            t0 = time.time()
            engine.search(q, BM25(), k=10, prune_min_blocks=1)
            lat_p.append(time.time() - t0)
        return {"bm25_pruned_p50": round(statistics.median(lat_p), 3)}

    _leg(timings, extra, "bm25_queryset_pruned", run_pruned)
    extra.update(engine.decode_metrics())

    # Batched evaluation of the SAME query set: one stats job + one shared
    # postings scan + one ranking window for all queries (engine.search_many)
    # vs ~2 jobs/query sequentially — the per-query scheduling fixed cost is
    # what dominates p50 at this scale.
    _leg(
        timings, extra, "bm25_queryset_batched",
        lambda: engine.search_many(
            {f"q{i}": q for i, q in enumerate(BM25_QUERIES)}, BM25(), k=10
        ) and None,
    )

    # Join-based bulk evaluator: ONE fixed-shape plan regardless of query
    # count (the 10^5-query shape; engine.search_bulk_bm25), bit-identical
    # results to the per-query path.
    _leg(
        timings, extra, "bm25_queryset_bulk",
        lambda: engine.search_bulk_bm25(
            {
                f"q{i}": q[len("#SUM("):-1]
                for i, q in enumerate(BM25_QUERIES)
            },
            k=10,
        ) and None,
    )

    _leg(
        timings, extra, "boolean_query",
        lambda: engine.search(
            "#AND(spark #OR(merge window) #NOT(customer))", RankedBoolean(), k=10
        ) and None,
    )

    def run_positional():
        engine.search("#NEAR/3(key agg)", UnrankedBoolean(), k=10)
        engine.search("#WINDOW/8(merge batch)", UnrankedBoolean(), k=10)

    _leg(timings, extra, "positional_query", run_positional)

    _leg(
        timings, extra, "indri_query",
        lambda: engine.search(
            "#WAND(0.6 spark 0.4 #AND(merge window))", Indri(), k=10
        ) and None,
    )

    # ---- batched LeToR feature extraction (one job wave, all queries) ----
    from search_engine_framework_spark.letor_batch import batch_query_features

    lq = {f"q{i}": q.replace("#SUM(", "").rstrip(")")
          for i, q in enumerate(BM25_QUERIES[:5])}
    cand_rows = []
    for qid, text in lq.items():
        for r in engine.search(text, BM25(), k=20).collect():
            cand_rows.append((qid, r["doc_id"]))
    cand = spark.createDataFrame(cand_rows, "qid string, doc_id long")
    _leg(
        timings, extra, "letor_batch_features",
        lambda: batch_query_features(engine, lq, cand).count() and None,
    )

    # ---- pipeline operators ----------------------------------------------
    def run_neardup():
        return {
            "neardup_pairs": dedup.near_dup_pairs(docs, threshold=0.8).count()
        }

    _leg(timings, extra, "neardup_minhash", run_neardup)

    _leg(
        timings, extra, "simhash",
        lambda: dedup.simhash_near_pairs(
            dedup.simhash64(docs), max_hamming=8
        ).count() and None,
    )

    _leg(
        timings, extra, "dedup_exact",
        lambda: dedup.exact_dup_groups(docs).count() and None,
    )

    embs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qvec = [float(x) for x in embs.where(F.col("vec_id") == 0).first()["embedding"]]
    _leg(
        timings, extra, "knn_brute",
        lambda: similarity.cosine_topk(embs, qvec, k=10).collect() and None,
    )

    # ---- round-4 ANN legs ------------------------------------------------
    # Chunked exact kNN join: 64 query vectors streamed in 2 bounded
    # slices (chunk_size=32) — the driver-bounded batch tier whose
    # round-over-round latency the 100-TB similarity path needs tracked.
    knn_queries = (
        embs.where(F.col("vec_id") < 64)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )

    def run_knn_join():
        n = similarity.knn_join(
            embs, knn_queries, k=10, chunk_size=32
        ).count()
        return {"knn_join_rows": n}

    _leg(timings, extra, "knn_join_chunked", run_knn_join)

    # IVF-PQ ADC probe latency against a prebuilt index (build untimed —
    # one-time cost amortized over the query stream at scale). codes is
    # materialized (localCheckpoint) so the timed leg measures the probe
    # scan, not a re-run of k-means lineage.
    from search_engine_framework_spark.pipeline import pq as pq_mod

    codes, ivf_cents, ivf_books = pq_mod.ivfpq_build(
        embs, nlist=16, m=8, ksub=256, refine=0
    )
    codes = codes.localCheckpoint(eager=True)

    _leg(
        timings, extra, "ivfpq_query",
        lambda: pq_mod.ivfpq_query(
            codes, ivf_cents, ivf_books, qvec, k=10, nprobe=4
        ).collect() and None,
    )

    # ---- round-2 additions -----------------------------------------------
    # quality-classifier inference over the whole documents table (hashed
    # features + broadcast-weight sigmoid — the corpus-linear filter pass)
    from search_engine_framework_spark.contract import CLS_B, CLS_DIM, CLS_W
    from search_engine_framework_spark.pipeline import classify

    _leg(
        timings, extra, "classify_score",
        lambda: classify.score(
            classify.featurize(docs, dim=CLS_DIM), CLS_W, CLS_B, all_ids=docs
        ).count() and None,
    )

    # percolator: 4 stored queries against the whole documents table as
    # one ingest batch (one analyze pass, one unioned plan)
    from search_engine_framework_spark.contract import PERCOLATE_QUERIES
    from search_engine_framework_spark.percolate import percolate, percolate_bulk

    _leg(
        timings, extra, "percolate",
        lambda: percolate(
            docs, PERCOLATE_QUERIES, cfg=AnalyzerConfig.sql_safe()
        ).count() and None,
    )

    # registry-scale percolation: ~1k stored queries (the ES-percolator
    # deployment norm) through percolate_bulk — flat boolean queries as
    # ONE broadcast-join plan (constant plan size in registry count),
    # the structural tail (#NEAR/#MSM/#NOT, 1 in 25) through the exact
    # branch evaluator in bounded chunks. SCALE.md §percolator records
    # why the 4-query union-of-branches design cannot reach this count.
    reg = _percolate_registry(1000)
    _leg(
        timings, extra, "percolate_1k",
        lambda: percolate_bulk(
            docs, reg, cfg=AnalyzerConfig.sql_safe()
        ).count() and None,
    )
    extra["percolate_1k_queries"] = len(reg)

    # Structured Streaming: availableNow micro-batch drain of the
    # exact-dedup gate (fingerprint + dropDuplicatesWithinWatermark)
    # over the documents corpus staged as a parquet stream source —
    # round-over-round latency tracking for the streaming path.
    from search_engine_framework_spark.streaming.dedup import dedup_stream

    stream_src = "/tmp/bench_stream_src"
    if not os.path.exists(os.path.join(stream_src, "_SUCCESS")):
        docs.select(
            "doc_id",
            F.timestamp_seconds(F.col("doc_id") % 86400).alias("ts"),
            "text",
        ).write.mode("overwrite").parquet(stream_src)

    def run_streaming_dedup():
        out_dir = "/tmp/bench_stream_out"
        ck = "/tmp/bench_stream_ck"
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
        src = spark.readStream.schema(
            "doc_id long, ts timestamp, text string"
        ).parquet(stream_src)
        q = (
            dedup_stream(src)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _leg(timings, extra, "streaming_dedup", run_streaming_dedup)

    # event analytics: ordered funnel + weekly retention cohorts
    from search_engine_framework_spark.streaming.events import (
        funnel_counts, retention_cohorts,
    )

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))

    def run_events():
        funnel_counts(ev, ["signup", "view", "purchase"], within=7 * 86400.0).count()
        retention_cohorts(ev, period_seconds=7 * 86400.0).count()

    _leg(timings, extra, "events_funnel_retention", run_events)

    # DSIR importance resampling end-to-end (two bucket-model fits,
    # per-doc weights, Gumbel top-100) — plain-sum scale path
    from search_engine_framework_spark.pipeline import dsir as dsir_mod

    _leg(
        timings, extra, "dsir_select",
        lambda: dsir_mod.dsir_select(
            docs, docs.where(F.col("lang") == "fr"), n_select=100, dim=2048
        ).count() and None,
    )

    # round-3 transcript-prep operators over the synthetic 5-turn convs
    # (doc_id div/mod 5, roles by parity — the contract's conv shape):
    # chat-format SFT render + conversation gates + tool transitions
    from search_engine_framework_spark.pipeline.curate import (
        conv_quality, tool_transitions,
    )
    from search_engine_framework_spark.pipeline.render import render_chat

    turns = docs.select(
        (F.col("doc_id") / 5).cast("long").alias("conv_id"),
        (F.col("doc_id") % 5).cast("int").alias("turn_idx"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.col("source").alias("tool"),
        "text",
    )

    def run_transcript_prep():
        render_chat(turns).count()
        conv_quality(turns).where("keep").count()
        tool_transitions(turns).count()

    _leg(timings, extra, "transcript_prep", run_transcript_prep)

    # PageRank: 5 damped power iterations over a deterministic
    # 3-out-degree md5-derived link graph on documents
    from search_engine_framework_spark.pipeline import graph as graph_mod
    from search_engine_framework_spark.pipeline.dsir import _bucket16

    n_docs_pr = docs.count()
    legs = [
        docs.select(
            F.col("doc_id").alias("src"),
            (
                _bucket16(
                    F.concat(F.col("doc_id").cast("string"), F.lit(f"|e{j}")), 0
                )
                % n_docs_pr
            ).cast("long").alias("dst"),
        )
        for j in range(3)
    ]
    pr_edges = legs[0]
    for leg in legs[1:]:
        pr_edges = pr_edges.union(leg)
    _leg(
        timings, extra, "pagerank5",
        lambda: graph_mod.pagerank(pr_edges, iters=5).count() and None,
    )

    calib_post = _calibrate()
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "repeats_per_leg": REPEATS,
        "calib_mix_burn_sec": round(min(calib_pre + calib_post), 3),
        "calib_mix_burn_runs": {"pre": calib_pre, "post": calib_post},
        **extra,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
