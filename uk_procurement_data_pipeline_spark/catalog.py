"""Fixture-table catalog (TESTDATA.md / FIXTURES.md §A).

The driver's tables live as one parquet file per table in each scale
factor's directory (sf0.001, sf0.01, sf0.1). No schema is declared here:
each file's schema is the one Spark infers from its parquet footer, resolved
once per session and memoized (``read_parquet``), the way a metastore
resolves a table once. Inference runs a Spark job, so later reads of the
same file pass the memoized schema and run none.

A declared StructType would be a second copy of each schema next to
FIXTURES.md and the fixture generators, and a renamed column would then read
as silent nulls; the memo keeps exactly what Spark infers, so drift still
fails at analysis.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Fixed-cardinality dimensions that are always safe to broadcast (SURVEY.md
# §2.3 J5). customer/part/supplier grow with SF and must NOT be force-broadcast
# — at the 100 TB design point they are tens of GB; AQE picks their strategy.
BROADCAST_TABLES = {"region", "nation"}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from an sf directory."""
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; known: {TABLES}")
    if name == "events":
        return load_events(spark, f"{sf_dir}/{name}.parquet")
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


# (applicationId, path, st_mtime_ns, st_size) -> the schema Spark inferred on
# the first read of that file in the session. A rewritten file gets a new
# key, so it is inferred again. The schema is memoized, not the DataFrame:
# every read must be a fresh relation with fresh attribute ids, or two loads
# of one table in one query (a self-join) would share them.
_SCHEMA_CACHE: dict[tuple[str, str, int, int], StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the first
    read of the file in this session. Paths that cannot be stat'ed locally
    are read uncached, so a missing file fails with Spark's own error."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = df.schema
    return df


# (applicationId, path) -> needs-nanos-lowering. The probe resolves the
# parquet footer schema through the JVM (~1s per call — measured), and every
# events query pays it once per load(); the physical type of a given fixture
# file never changes within a session, so memoize per Spark application.
_NANOS_PROBE_CACHE: dict[tuple[str, str], bool] = {}


def probe_events_nanos(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` needs the nanos-as-long lowering (TIMESTAMP(NANOS)
    fixture). Any OTHER read failure — missing file, corrupt footer — is
    re-raised as itself rather than being misclassified as a nanos fixture
    and resurfacing later as a confusing secondary error. Shared by
    ``load_events`` and the streaming queries so the message filter lives
    in exactly one place. Memoized per (application, path); a native probe
    also seeds the schema memo, so the read that follows infers nothing."""
    key = (spark.sparkContext.applicationId, path)
    if key in _NANOS_PROBE_CACHE:
        return _NANOS_PROBE_CACHE[key]
    try:
        read_parquet(spark, path)  # resolves and memoizes the schema
        result = False
    except Exception as exc:  # noqa: BLE001 — filtered by message
        if "NANOS" not in str(exc) and "nanos" not in str(exc):
            raise
        result = True
    _NANOS_PROBE_CACHE[key] = result
    return result


def load_events(spark: SparkSession, path: str) -> DataFrame:
    """Load an events parquet with ``ts`` normalized to a µs TIMESTAMP.

    The fixture's ``ts`` physical type has varied across driver rounds:
    TIMESTAMP(MICROS) reads natively; TIMESTAMP(NANOS) is rejected by
    Spark's vectorized reader and needs the legacy nanos-as-long lowering
    plus an explicit ns→µs truncate — exactly what DuckDB does when it
    lowers ns to its µs TIMESTAMP (verified: …275999ns → …275µs), so both
    engines see identical values either way. Try the native read first;
    fall back to the nanos path only when schema resolution rejects it.
    """
    if not probe_events_nanos(spark, path):
        return read_parquet(spark, path)
    # Legacy nanos fixture. The conf is dynamic (SQLConf); the parquet
    # relation captures it during schema resolution, so force analysis with
    # df.schema and then RESTORE the previous value — no session-wide leak
    # into unrelated nanos-parquet reads (ADVICE r01).
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = spark.read.parquet(path)
        df.schema  # force schema resolution while the conf is set
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


def spread(df: DataFrame) -> DataFrame:
    """Redistribute a DataFrame across all cores before CPU-heavy per-row work.

    The fixture parquet files are single-row-group, so Spark scans each as
    ONE partition regardless of maxPartitionBytes (a row group is the unit
    of parquet splitting) — and any expensive expression chain then runs on
    one core. At production scale inputs arrive in many row groups and this
    is a no-op-sized round-robin shuffle of the raw rows; it must be applied
    BEFORE the expensive projection so the work lands post-shuffle.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register fixture tables as temp views (for spark.sql-based queries)."""
    for name in tables or TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
