"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[N]`` but every default here is chosen for the
1000-executor / 100 TB case and merely *also* behaves on a laptop:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  join-strategy demotion) so plans re-optimize from real statistics.
- Arrow transfer on, so the few Pandas-UDF operators batch via Arrow
  instead of pickling rows.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (and are cluster-location independent).
- ``spark.sql.shuffle.partitions`` sized by env (cores locally; on a
  real cluster AQE coalesces from an intentionally high initial value).
- Per-call costs paid once per session, not per query: generated
  classes are reused across runs (the codegen cache holds the whole
  suite's working set, see ``CODEGEN_CACHE_ENTRIES``), and Column calls
  no longer capture a Python call site. Error messages keep their error
  class and text, but their ``== DataFrame ==`` context no longer names
  the Python line that built the failing column.

Caveat: both hold only in a session ``get_spark`` creates. The cache
size is a static conf, and PySpark reads the debugging switch once per
process. The ``__spark_entry__`` harness session, ``tools/check_oracle.py
--bare`` and a ``get_spark`` that ``getOrCreate``s onto an existing
context keep Spark's 100 entries, and may keep the capture.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "end_to_end_aws_data_pipeline_spark"

# confs every engine query depends on, all runtime-settable — applied
# defensively to externally-provided sessions (the driver harness builds
# its own SparkSession; without these, ns-timestamp parquet fails to
# read and timestamp semantics drift from the UTC-naive oracle)
RUNTIME_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


# generated-code cache entries: one bench.py session over the full
# list (warm-up plus 2 reps, sf0.001, local[4]) compiled 3,465 distinct
# classes under an unbounded cap, read with codegen_compiles; this is
# the power of two at least twice that. A warm rep still compiled 194
# (classes whose source differs per run), which the headroom absorbs
CODEGEN_CACHE_ENTRIES = 8192


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles this JVM has run so far: one per generated-code
    cache miss (Spark's ``CodegenMetrics`` compilation-time histogram)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply the session confs the engine requires; safe to
    call per-query (conf writes are cheap no-ops when already set; the
    3 conf.get py4j round trips are ~1 ms — kept so table() restores
    the confs even after an external caller changes them mid-session,
    see tests/test_session_robustness.py)."""
    for k, v in RUNTIME_REQUIRED_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in some deployment: surface at read time
    return spark


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured; on a real deployment pass
    ``master=None`` with ``spark.master`` set externally and these conf
    defaults still apply.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep broadcast autodetection on; dims (region/nation/part meta)
        # comfortably fit under the 10 MB default, raise for mid-size dims
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # constraint propagation spends optimizer time deriving
        # redundant IsNotNull/filter constraints on DEEP plans (this
        # engine's iterative/pipelined queries routinely nest 20+
        # operators); A/B at sf0.1: plan-heavy five 18.7->17.5 s,
        # join-heavy five 4.83->4.66 s, no query slower. IsNotNull
        # pushdown for join keys still happens via the join-key
        # null-filtering rule, and the DuckDB oracle gate (which
        # never sees this conf) pins result equality.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # parquet scans: vectorized reader + aggressive pushdown are
        # defaults, stated here for explicitness at review time
        .config("spark.sql.parquet.filterPushdown", "true")
        # parquet TIMESTAMP(NANOS) (events.ts) is unreadable by default;
        # read as long and convert in catalog.table (truncate ns → µs,
        # matching DuckDB's µs-internal timestamps)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # generated classes are reused across runs: Spark's default cache
        # (100 entries) is smaller than the four driver_loops basket
        # queries' ~210 classes, so each warm rerun recompiled them all.
        # CODEGEN_CACHE_ENTRIES states the cap's source. Static conf.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Column calls stop walking the Python stack (about five py4j
        # round trips each) to name the caller's line in an error's
        # `== DataFrame ==` context; error class and text are unchanged
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
