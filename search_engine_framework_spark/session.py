"""SparkSession factory with scale-appropriate defaults.

Local tests run on local[N]; the same configs are what we would submit with
``spark-submit --py-files`` on a real cluster (AQE, skew-join handling,
Arrow). Nothing here is test-only.

``local_frame`` is the one way driver-held rows become a DataFrame on the
query path (a JVM LocalRelation, not a parallelized Python list).
"""

from __future__ import annotations

import functools
import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType, _make_type_verifier

DEFAULT_SHUFFLE_PARTITIONS = 32

# The directory that makes `import search_engine_framework_spark` work.
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _host_cpus() -> int:
    """CPUs this process may run on (affinity-aware, unlike cpu_count)."""
    return len(os.sched_getaffinity(0))


def _host_driver_memory() -> str:
    """Half the host's physical memory (/proc/meminfo MemTotal): in
    local mode the driver JVM is also the executor, and the other half
    is left to the Python workers and the page cache."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return f"{int(line.split()[1]) // 1024 // 2}m"
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def get_spark(
    app_name: str = "search-engine-framework-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - AQE on: runtime coalescing + skew-join splitting (head query terms and
      hot conversations are the expected skew sources at 10^12-turn scale).
    - Arrow on: every Python crossing in this engine is a vectorized
      pandas UDF; row-at-a-time Python is banned (BASELINE.json input_hint).
    - ``local[N]`` over the host's CPUs and a driver heap of half its
      memory unless ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEMORY`` say
      otherwise.
    - Shuffle partitions default to a fixed count; on a real cluster this
      is set per job from input size (see bench.py and index/build.py).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_host_cpus())
    # Python workers resolve imports from PYTHONPATH + cwd, NOT the
    # driver's sys.path — a driver script run from outside the repo root
    # would build plans fine and then die inside the first pandas UDF
    # with ModuleNotFoundError. Export the package location to workers
    # here. Caveats: this only takes effect when getOrCreate actually
    # CREATES the session (executorEnv + the env mutation are ignored by
    # an already-running JVM and its forked workers), and it is scoped to
    # new sessions only — the env is restored below so unrelated
    # subprocesses don't inherit it. On a real cluster the equivalent is
    # spark-submit --py-files (scripts/submit_build.py), which this does
    # not replace.
    pp = os.environ.get("PYTHONPATH")
    if _PKG_PARENT not in (pp or "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_PARENT + (os.pathsep + pp if pp else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _host_driver_memory(),
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    try:
        return builder.getOrCreate()
    finally:
        # local-mode python workers inherit the driver env at fork, so the
        # mutation has done its job once the session exists; restore it so
        # every later unrelated subprocess doesn't carry the package path.
        if pp is None:
            os.environ.pop("PYTHONPATH", None)
        else:
            os.environ["PYTHONPATH"] = pp


@functools.lru_cache(maxsize=64)
def _ddl_schemas(ddl: str) -> tuple[StructType, pa.Schema]:
    """Spark and Arrow schemas of a DDL string. Parsing one is a JVM
    round-trip of a few ms; the callers' DDL strings are a few constants."""
    struct = DataType.fromDDL(ddl)
    return struct, to_arrow_schema(struct)


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], ddl: str
) -> DataFrame:
    """``rows`` (tuples in ``ddl``'s column order) as a DataFrame over a
    JVM ``LocalRelation``: the rows go over in Arrow batches, and
    collecting the frame is a ``LocalTableScan`` — no Spark job, no
    Python worker. A Python list given to ``createDataFrame`` would
    instead become a parallelized Python RDD, whose every collect runs a
    job of Python-worker tasks to hand back rows the driver already held.

    Each row is checked against the schema as ``createDataFrame``'s
    ``verifySchema`` does (Arrow alone would truncate a float in an int
    column), so a type or arity mismatch raises instead of converting."""
    struct, schema = _ddl_schemas(ddl)
    rows = list(rows)
    verify = _make_type_verifier(struct)
    for row in rows:
        verify(row)
    table = pa.Table.from_arrays(
        [
            pa.array([row[i] for row in rows], type=field.type)
            for i, field in enumerate(schema)
        ],
        schema=schema,
    )
    # a fresh StructType: the frame keeps it as its schema, and the cached
    # one must not be reachable for callers to mutate
    return spark.createDataFrame(table, StructType.fromJson(struct.jsonValue()))
