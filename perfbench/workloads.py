"""The benchmark's workloads: ``build``, ``search_flat``, ``search_structured``.

Each is a closed loop with one client in this process: the next
operation starts when the previous one has returned. An operation is one
``build_index`` call, or one ``SearchEngine.search`` call plus the
``collect`` that hands its rows to the caller.

A workload returns a ``Result``: set-up time, the first (cold) operation,
the latencies of the timed operations, the failures the correctness gate
found and, in traced runs, the per-layer metrics.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from . import check, corpus
from .host import N_BUCKETS
from .spans import SPAN_NAMES, SparkCounters, Tracer

# Corpus sizes in turns. The build workload builds its own seeded
# corpus, in a fresh directory per build. The search workloads share one larger
# index over a fixed corpus, built once per checkout and engine source
# version and then reused from the cache; their queries come from the
# seed.
BUILD_TURNS = 5_000
SEARCH_TURNS = 10_000
SEARCH_CORPUS_SEED = 7
K = 10
# Warm-up: at least this many queries and this many seconds after the
# first (cold) one. Latencies in a fresh JVM keep falling for several
# seconds of either kind of query.
FLAT_WARMUP = (4, 12.0)
STRUCTURED_WARMUP = (2, 8.0)
CROSS_PATH_QUERIES = 3


@dataclass
class Result:
    setup_s: float
    cold_s: float
    latencies_s: list[float]
    items_per_op: int  # turns per build, 1 per query
    cpu_s: float  # CPU seconds of the whole process tree in the timed phase
    peak_rss_mb: float  # at the end of the timed phase
    attempted: int
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)


@dataclass
class Context:
    session: object  # host.Session
    cache_dir: str
    seed: int
    seconds: float
    trace: bool
    t_start: float  # process start, for setup_s
    turns: int | None = None  # corpus size override (smoke test)
    tracer: Tracer | None = None  # set while a traced phase runs


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**"), recursive=True)
        if os.path.isfile(p)
    )


def _read_json(path: str):
    with open(path) as fh:
        return json.load(fh)


def _source_hash() -> str:
    """Hash of the engine's source files: a cached index is reused only
    by the code that built it."""
    import search_engine_framework_spark as pkg

    h = hashlib.sha256()
    root = os.path.dirname(pkg.__file__)
    for p in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _build(spark, corpus_file: str, out: str) -> float:
    """One full index build of ``corpus_file`` into ``out``; → wall s."""
    from search_engine_framework_spark.index.build import build_index

    t0 = time.perf_counter()
    build_index(
        spark, spark.read.parquet(corpus_file), out,
        n_buckets=N_BUCKETS, resume=False,
    )
    return time.perf_counter() - t0


def _loop(op, seconds: float, cycle: int, counters=None, min_ops: int = 1):
    """Run ``op(i)`` for i = 0, 1, ... until ``seconds`` have passed,
    ``min_ops`` have run, and ``i`` is a whole number of ``cycle``s, so
    every run holds the same mix of query shapes.
    → (latencies, outputs, failures)."""
    lat, outs, fails = [], [], []
    deadline = time.perf_counter() + seconds
    i = 0
    while i < min_ops or i % cycle or time.perf_counter() < deadline:
        group = counters.start() if counters else None
        t0 = time.perf_counter()
        try:
            outs.append(op(i))
        except Exception:
            fails.append(f"operation {i} raised:\n{traceback.format_exc()}")
            outs.append(None)
        dt = time.perf_counter() - t0
        if counters:
            counters.finish(group, dt)
        lat.append(dt)
        i += 1
    return lat, outs, fails


def _measure(ctx: Context, op, cycle: int, layer_fn):
    """The timed phase. Untraced: the whole ``--seconds``. Traced: an
    untraced half, then a traced half whose per-layer metrics are
    reported. The tracing overhead is the traced half's median minus the
    untraced half's, leaving out the untraced half's first operation,
    which is cold in the build workload.
    → (latencies, outputs, failures, layers)."""
    cpu0 = ctx.session.cpu_s()
    if not ctx.trace:
        lat, outs, fails = _loop(op, ctx.seconds, cycle)
        return lat, outs, fails, {}, ctx.session.cpu_s() - cpu0
    lat_a, outs_a, fails_a = _loop(op, ctx.seconds / 2, cycle, min_ops=2)
    cpu_s = ctx.session.cpu_s() - cpu0
    n_a = len(lat_a)
    tracer = Tracer()
    counters = SparkCounters(ctx.session.sc)
    tracer.install()
    ctx.tracer = tracer
    try:
        lat_b, outs_b, fails_b = _loop(
            lambda i: op(n_a + i), ctx.seconds / 2, cycle, counters
        )
    finally:
        ctx.tracer = None
        tracer.uninstall()
    n = len(lat_b)
    layers = {
        f"{name}_ms": tracer.self_s.get(name, 0.0) * 1000.0 / n
        for name in SPAN_NAMES
    }
    layers["engine.self_ms"] = layers.pop("engine_ms")
    layers["fastpath.accept_ratio"] = (
        tracer.fastpath_accepted / tracer.fastpath_calls
        if tracer.fastpath_calls else 0.0
    )
    layers["fastpath.postings_per_query"] = tracer.fastpath_postings / n
    layers.update(counters.summary(ctx.session.cores))
    layers["session.start_s"] = ctx.session.start_s
    layers["session.peak_rss_mb"] = ctx.session.peak_rss_mb()
    layers["trace.overhead_ms"] = (
        float(np.median(lat_b)) - float(np.median(lat_a[1:]))
    ) * 1000.0
    layers.update(layer_fn())
    return lat_a + lat_b, outs_a + outs_b, fails_a + fails_b, layers, cpu_s


def index_layers(root: str, wall_s: float, input_bytes: int) -> dict[str, float]:
    """Build-phase and storage metrics of one index, from the manifests
    its build wrote, its files, and the build's wall time ``wall_s``.

    base.json holds the tokenize, docmap and doclen_stats phases and the
    seconds to their end; every bucket manifest's build_seconds is the
    time to the end of the segment write; the rest of the wall time is
    the manifest pass."""
    base = _read_json(os.path.join(root, "_manifests", "base.json"))
    stats = _read_json(os.path.join(root, "stats.json"))
    buckets = [
        _read_json(p)
        for p in glob.glob(os.path.join(root, "_manifests", "bucket-*.json"))
    ]
    phases = base["phases"]
    segments_end = max(b["build_seconds"] for b in buckets)
    n_tokens = sum(f["sum_doclen"] for f in stats["fields"].values())
    seg_bytes = _dir_bytes(os.path.join(root, "segments"))
    n_postings = sum(b["n_postings"] for b in buckets)
    return {
        "index.build.tokenize_s": phases["tokenize"],
        "index.build.docmap_s": phases["docmap"],
        "index.build.doclen_stats_s": phases["doclen_stats"],
        "index.build.segments_s": segments_end - base["seconds"],
        "index.build.manifests_s": wall_s - segments_end,
        "functions.analyzer.tokens_per_s": n_tokens / max(phases["tokenize"], 1e-9),
        "index.segments_bytes": seg_bytes,
        "index.doc_terms_bytes": _dir_bytes(os.path.join(root, "doc_terms")),
        "index.docmap_bytes": _dir_bytes(os.path.join(root, "docmap")),
        "index.doclen_bytes": _dir_bytes(os.path.join(root, "doclen")),
        "index.n_terms": sum(b["n_terms"] for b in buckets),
        "index.n_postings": n_postings,
        "functions.codec.segment_bytes_per_posting": seg_bytes / max(n_postings, 1),
        "index.bytes_per_input_byte": _dir_bytes(root) / input_bytes,
    }


# --------------------------------------------------------------- build


def run_build(ctx: Context) -> Result:
    """Builds of the seeded corpus, each into a fresh directory. The
    first build in the fresh JVM is cold, as a one-shot build job is;
    set-up is the session start and the corpus load."""
    from search_engine_framework_spark.functions.analyzer import AnalyzerConfig

    spark = ctx.session.spark
    n_turns = ctx.turns or BUILD_TURNS
    corpus_file = corpus.corpus_path(ctx.cache_dir, ctx.seed, n_turns)
    spark.read.parquet(corpus_file).count()
    setup_s = time.perf_counter() - ctx.t_start
    log(f"setup {setup_s:.1f}s")
    work = os.path.join(ctx.cache_dir, f"build-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    walls: dict[str, float] = {}  # index root -> wall s, in build order

    def build(i: int) -> float:
        out = os.path.join(work, f"build-{i}")
        walls[out] = _build(spark, corpus_file, out)
        return walls[out]

    def layer_fn():
        last = list(walls)[-1]
        out = index_layers(last, walls[last], os.path.getsize(corpus_file))
        # no reader work in this workload
        out["index.reader.blocks_decoded"] = out["index.reader.blocks_skipped"] = 0
        return out

    try:
        lat, _outs, fails, layers, cpu_s = _measure(ctx, build, 1, layer_fn)
        peak = ctx.session.peak_rss_mb()

        # gate: every build has the same manifests, and they agree with
        # the oracle's index
        manifests = [check.manifest_identity(root) for root in walls]
        if any(m != manifests[0] for m in manifests):
            fails.append("builds of one corpus wrote different manifests")
        oracle = check.OracleIndex(corpus_file, AnalyzerConfig.reference())
        want = check.oracle_totals(oracle)
        got = tuple(sum(v[i] for v in manifests[0].values()) for i in (0, 1))
        if got != want:
            fails.append(f"(n_terms, n_postings) {got} != oracle {want}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return Result(
        setup_s=setup_s, cold_s=lat[0], latencies_s=lat,
        items_per_op=n_turns, cpu_s=cpu_s, peak_rss_mb=peak,
        attempted=len(walls), failures=fails, layers=layers,
        info={"turns": n_turns, "builds": len(walls)},
    )


# -------------------------------------------------------------- search


def search_index(ctx: Context) -> tuple[str, str, float, bool]:
    """(index root, corpus file, build wall s, built now) of the shared
    search index; builds it on first use."""
    n = ctx.turns or SEARCH_TURNS
    corpus_file = corpus.corpus_path(ctx.cache_dir, SEARCH_CORPUS_SEED, n)
    key = (
        f"v{corpus.GENERATOR_VERSION}-s{SEARCH_CORPUS_SEED}-n{n}"
        f"-b{N_BUCKETS}-{_source_hash()}"
    )
    root = os.path.join(ctx.cache_dir, "index", key)
    wall_file = root + ".wall.json"
    if os.path.isdir(root) and os.path.exists(wall_file):
        return root, corpus_file, _read_json(wall_file)["wall_s"], False
    tmp = f"{root}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(root, ignore_errors=True)
    wall = _build(ctx.session.spark, corpus_file, tmp)
    os.rename(tmp, root)
    with open(wall_file, "w") as fh:
        json.dump({"wall_s": wall}, fh)
    return root, corpus_file, wall, True


def _run_search(ctx: Context, queries, warmup: tuple[int, float], cycle: int, cross_path: bool) -> Result:
    """``queries``: (text, model, doc_filter) triples. The first ones
    warm the engine up, at least ``warmup`` = (queries, seconds); the
    first of them is the cold operation. The rest are timed, in order,
    in whole ``cycle``s."""
    from search_engine_framework_spark.engine import SearchEngine

    root, corpus_file, build_wall, built = search_index(ctx)
    engine = SearchEngine(ctx.session.spark, root)

    def run(q):
        text, model, doc_filter = q
        df = engine.search(text, model, k=K, doc_filter=doc_filter)
        if ctx.tracer is None:
            return check.hits(df.collect())
        return check.hits(ctx.tracer.call("engine.materialize", df.collect))

    t0 = time.perf_counter()
    warm_hits = [run(queries[0])]
    cold_s = time.perf_counter() - t0
    min_n, min_s = warmup
    t1 = time.perf_counter()
    while len(warm_hits) < min_n or time.perf_counter() - t1 < min_s:
        warm_hits.append(run(queries[len(warm_hits)]))
    warm, timed = queries[: len(warm_hits)], queries[len(warm_hits):]
    setup_s = time.perf_counter() - ctx.t_start
    log(f"setup {setup_s:.1f}s (cold query {cold_s:.1f}s)")
    dec0 = engine.decode_metrics()

    def layer_fn():
        dec = engine.decode_metrics()
        out = index_layers(root, build_wall, os.path.getsize(corpus_file))
        for k in ("blocks_decoded", "blocks_skipped"):
            out[f"index.reader.{k}"] = dec[k] - dec0[k]
        return out

    lat, outs, fails, layers, cpu_s = _measure(
        ctx, lambda i: run(timed[i]), cycle, layer_fn
    )
    peak = ctx.session.peak_rss_mb()

    # gate: each distinct query against the oracle; in traced runs also
    # search ≡ search_bulk_bm25 ≡ search_many (one batch call each costs
    # several seconds, more than an untraced run can spare)
    oracle = check.OracleIndex(corpus_file, engine.analyzer)
    seen = set()
    for (text, model, doc_filter), got in zip(warm + timed, warm_hits + outs):
        key = (text, type(model).__name__, doc_filter)
        if got is None or key in seen:
            continue
        seen.add(key)
        want = oracle.expected(text, model, K, doc_filter)
        fails += check.diff_hits(repr(text), got, want, exact=False)
    if cross_path and ctx.trace:
        n = CROSS_PATH_QUERIES
        sample = {f"q{i}": timed[i][0] for i in range(n)}
        searched = {f"q{i}": outs[i] for i in range(n)}
        fails += check.cross_paths(engine, timed[0][1], sample, searched, K)
    return Result(
        setup_s=setup_s, cold_s=cold_s, latencies_s=lat, items_per_op=1,
        cpu_s=cpu_s, peak_rss_mb=peak, attempted=len(warm) + len(lat),
        failures=fails, layers=layers,
        info={"index_built_in_setup": built, "queries_checked": len(seen)},
    )


def run_search_flat(ctx: Context) -> Result:
    from search_engine_framework_spark.plans.models import BM25

    model = BM25()
    queries = [(q, model, None) for q in corpus.flat_queries(ctx.seed, 1000)]
    return _run_search(ctx, queries, FLAT_WARMUP, 1, cross_path=True)


def run_search_structured(ctx: Context) -> Result:
    from search_engine_framework_spark.plans import models

    queries = [
        (q, getattr(models, m)(), f)
        for q, m, f in corpus.structured_queries(ctx.seed, 400)
    ]
    cycle = len(corpus.STRUCTURED_SHAPES)
    return _run_search(ctx, queries, STRUCTURED_WARMUP, cycle, cross_path=False)


WORKLOADS = {
    "build": run_build,
    "search_flat": run_search_flat,
    "search_structured": run_search_structured,
}
