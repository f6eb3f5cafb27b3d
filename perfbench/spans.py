"""Tracing for the benchmark's traced runs (``--trace 1``).

Two instruments, both installed only in traced runs:

* ``Tracer`` wraps public callables of the engine's modules with spans
  and accumulates each span name's *self* time (duration minus the time
  of child spans) plus a few counts. Wrapping happens from the
  benchmark's side of the API; no program file is changed, and
  ``uninstall`` restores every original attribute.
* ``SparkCounters`` tags each operation with its own job group and, once
  the run is over, reads jobs and stage metrics from the local UI's REST
  API (``localhost:<ui port>/api/v1``).
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from collections import defaultdict

# (owner path, attribute, span name). The owner is a module or class that
# the engine looks the callable up on at call time.
SPANS = (
    ("search_engine_framework_spark.engine:SearchEngine", "search", "engine"),
    ("search_engine_framework_spark.engine", "parse_query", "plans.parser.parse_query"),
    ("search_engine_framework_spark.index.reader:IndexReader", "term_stats", "index.reader.term_stats"),
    ("search_engine_framework_spark.index.reader:IndexReader", "fetch_postings", "index.reader.fetch_postings"),
    ("search_engine_framework_spark.index.reader:IndexReader", "docmap", "index.reader.docmap"),
    ("search_engine_framework_spark.fastpath", "bm25_topk_driver", "fastpath.bm25_topk_driver"),
    ("search_engine_framework_spark.plans.compiler:QueryCompiler", "prepare", "plans.compiler.prepare"),
    ("search_engine_framework_spark.plans.compiler:QueryCompiler", "compile_query", "plans.compiler.compile_query"),
    # Spark calls count only inside an engine span: the ranked plan's
    # collect, and the createDataFrame that materializes the result (the
    # caller's collect of that result is added by Tracer.call).
    ("pyspark.sql.classic.dataframe:DataFrame", "collect", "engine.collect"),
    ("pyspark.sql.session:SparkSession", "createDataFrame", "engine.materialize"),
)
_INNER_ONLY = {"engine.collect", "engine.materialize"}
SPAN_NAMES = tuple(name for _o, _a, name in SPANS)


def _resolve(owner: str):
    import importlib

    mod, _, cls = owner.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


class Tracer:
    def __init__(self):
        self.self_s: dict[str, float] = defaultdict(float)
        self.fastpath_calls = 0
        self.fastpath_accepted = 0
        self.fastpath_postings = 0
        self._stack: list[list] = []  # [span name, child seconds]
        self._saved: list[tuple[object, str, object]] = []

    def install(self) -> None:
        for owner, attr, name in SPANS:
            obj = _resolve(owner)
            orig = obj.__dict__[attr] if isinstance(obj, type) else getattr(obj, attr)
            self._saved.append((obj, attr, orig))
            setattr(obj, attr, self._wrap(name, orig, name in _INNER_ONLY))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._saved):
            setattr(obj, attr, orig)
        self._saved.clear()

    def call(self, name: str, fn, *args):
        """Run ``fn(*args)`` as a span called ``name``."""
        return self._wrap(name, fn, False)(*args)

    def _wrap(self, name: str, fn, inner_only: bool):
        stack = self._stack

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if inner_only and not any(s[0] == "engine" for s in stack):
                return fn(*args, **kwargs)
            stack.append([name, 0.0])
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self.self_s[name] += dt - stack.pop()[1]
                if stack:
                    stack[-1][1] += dt
            self._count(name, out)
            return out

        return wrapper

    def _count(self, name: str, out) -> None:
        if name == "fastpath.bm25_topk_driver":
            self.fastpath_calls += 1
            self.fastpath_accepted += out is not None
        elif (
            name == "index.reader.term_stats"
            and self._stack
            and self._stack[-1][0] == "fastpath.bm25_topk_driver"
        ):
            self.fastpath_postings += sum(s["df"] for s in out.values())


class SparkCounters:
    """Per-operation Spark jobs, read back through the UI REST API."""

    def __init__(self, sc):
        self.sc = sc
        self.ops: list[tuple[list[int], float]] = []  # (job ids, wall s)
        port = sc.uiWebUrl.rsplit(":", 1)[1] if sc.uiWebUrl else None
        self.base = (
            f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
            if port
            else None
        )
        self._n = 0

    def start(self) -> str:
        self._n += 1
        group = f"perfbench-op-{self._n}"
        self.sc.setJobGroup(group, group)
        return group

    def finish(self, group: str, wall_s: float) -> None:
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
        self.ops.append((jobs, wall_s))

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def summary(self, cores: int) -> dict[str, float]:
        """Per-operation means over every recorded operation."""
        keys = (
            "jobs", "stages", "tasks", "failed_tasks", "task_busy_ms",
            "task_cpu_ms", "gc_ms", "input_bytes", "output_bytes",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
        )
        tot = dict.fromkeys(keys, 0.0)
        n_ops = max(1, len(self.ops))
        wall = sum(w for _j, w in self.ops)
        wanted = {j for jobs, _w in self.ops for j in jobs}
        if wanted:
            if self.base is None:
                raise RuntimeError("Spark UI is disabled; no REST metrics")
            jobs = self._settled_jobs(wanted)
            stage_ids = {s for j in jobs for s in j["stageIds"]}
            for st in self._get("/stages"):
                if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                tot["failed_tasks"] += st["numFailedTasks"]
                tot["task_busy_ms"] += st["executorRunTime"]
                tot["task_cpu_ms"] += st["executorCpuTime"] / 1e6
                tot["gc_ms"] += st.get("jvmGcTime", 0)
                tot["input_bytes"] += st["inputBytes"]
                tot["output_bytes"] += st["outputBytes"]
                tot["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                tot["shuffle_read_bytes"] += st["shuffleReadBytes"]
                tot["spill_bytes"] += (
                    st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                )
            tot["jobs"] = len(jobs)
        out = {f"spark.{k}": v / n_ops for k, v in tot.items()}
        out["spark.core_utilization"] = tot["task_busy_ms"] / max(
            1e-9, wall * 1000.0 * cores
        )
        return out

    def _settled_jobs(self, wanted: set[int]) -> list[dict]:
        """The wanted jobs once the UI's listener has seen them finish."""
        deadline = time.monotonic() + 30
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] in wanted]
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            if (len(jobs) == len(wanted) and done) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.2)
