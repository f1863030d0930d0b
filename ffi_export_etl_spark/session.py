"""SparkSession factory tuned for both local testing and cluster scale.

The reference executes everything in one Python thread with eager pandas
(/root/reference/xml_to_rdb.py:39-49); here the session is the unit of
parallelism and all tuning is declarative config that Catalyst/AQE act on.

All settings below are *runtime* SQL confs (safe to set on an existing
session) except master/memory which only apply when we build the session
ourselves. The driver harness may hand us its own session; ``tune()`` is
idempotent and touches only runtime confs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime confs that hold at any scale: AQE re-plans partition counts and
# skew joins from actual stats, so one static shuffle-partition number does
# not have to be right for both sf0.001 and 100 TB.
_RUNTIME_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce the shuffles inside cached plans too. Off (the
    # default), every persisted frame keeps spark.sql.shuffle.partitions
    # partitions: each read of it runs that many tasks, and a table
    # written straight from one lands as several part files.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # AQE coalesces batch shuffles from stats, but STREAMING stateful ops
    # pin state to exactly spark.sql.shuffle.partitions tasks and AQE
    # does not apply — 200 (the default) is wrong on local[32] and on a
    # vanilla driver session alike. Runtime-settable, AQE overrides it
    # for batch anyway.
    "spark.sql.shuffle.partitions": "32",
    # Older testdata generations store events.ts as TIMESTAMP(NANOS),
    # which the vectorized reader rejects; read those as epoch-nanos
    # BIGINT (harmless for micro-precision files, which arrive as
    # TIMESTAMP_NTZ). functions/eventtime.py normalizes both encodings
    # to exact integer epoch-microseconds.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Event-time TIMESTAMP columns are derived from exact epoch micros;
    # pinning the session timezone makes their rendering (and any
    # NTZ<->LTZ cast) deterministic on driver-provided sessions too.
    "spark.sql.session.timeZone": "UTC",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf locked down — keep going, defaults are sane
            pass
    return spark


_JAR_CACHE: list = []  # memoized: the recursive cache globs walk tens of
# thousands of directories on a populated coursier cache — pay once per
# process, not once per get_spark()


def find_jdbc_jar() -> str | None:
    """Locate a JDBC driver jar for the parallel staging writer
    (sinks/jdbc_exec.spark_staging_writer). ``SPARK_GRAFT_JDBC_JAR``
    wins; otherwise glob the standard coursier / ivy local caches for
    the public Maven DuckDB or SQLite JDBC artifacts (memoized — the
    walk can be expensive). Returns None in a jarless environment (the
    staging-writer test then skips with reason)."""
    import glob

    if _JAR_CACHE:
        return _JAR_CACHE[0]

    env = os.environ.get("SPARK_GRAFT_JDBC_JAR")
    if env and os.path.exists(env):
        return env
    home = os.path.expanduser("~")
    for pat in (
        f"{home}/.cache/coursier/**/duckdb_jdbc*.jar",
        f"{home}/.cache/coursier/**/sqlite-jdbc*.jar",
        f"{home}/.ivy2/**/duckdb_jdbc*.jar",
        f"{home}/.ivy2/**/sqlite-jdbc*.jar",
    ):
        hits = sorted(glob.glob(pat, recursive=True))
        if hits:
            _JAR_CACHE.append(hits[0])
            return hits[0]
    _JAR_CACHE.append(None)
    return None


def get_spark(
    app_name: str = "ffi-export-etl-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured. On a real cluster this arg is
    left to spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    jdbc_jar = find_jdbc_jar()
    if jdbc_jar:
        # puts the driver class on the session classpath so
        # spark_staging_writer (df.write.jdbc) can execute end-to-end
        builder = builder.config("spark.jars", jdbc_jar)
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
