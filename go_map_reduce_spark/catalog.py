"""Table catalog over the driver-provided parquet star schema.

Loads the TESTDATA.md tables (region nation customer supplier part
orders lineitem events documents embeddings) with normalized schemas.
All timestamps surface as TIMESTAMP_NTZ so semantics are wall-clock and
independent of the session timezone (and bit-compatible with the DuckDB
oracle's naive timestamps).

Scale notes: these are plain parquet scans — Catalyst pushes filters and
prunes columns into them (verify with .explain → PushedFilters /
ReadSchema). At 100 TB the same code reads a partitioned table path; no
collect, no driver-side materialization here.

Schema memo: ``spark.read.parquet(path)`` infers the schema with a
Spark job that reads the footers, and the engine's ~280 ``load_table``
call sites would start one per call for files that have not changed.
``read_parquet`` therefore infers each path's schema once and hands it
to ``spark.read.schema(...)`` on every later read, which starts no job
and yields the same plan. The memo key is (applicationId, real path,
``registry._data_fingerprint`` of that path, the session's values of
the parquet confs that change what inference returns, such as
``spark.sql.legacy.parquet.nanosAsLong`` for ``events.ts``). A hit is
always safe: the fingerprint hashes the names, sizes and mtimes of
every file under the path, so a rewrite in place misses and re-infers;
a changed conf is a different key; a restarted context is a different
applicationId. A miss drops the entries of other applications and the
older fingerprints of the same path, the rule ``registry.shared_frame``
follows. The memo also serves the streaming file source, which needs
an explicit schema (``streaming.windows.events_raw_schema``); it
replaces that module's path-only probe cache.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from go_map_reduce_spark.registry import _data_fingerprint
from go_map_reduce_spark.session import ensure_session_confs

TABLES = (
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
)

# Session confs that change the schema parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# (applicationId, real path, data fingerprint, inference conf values)
# -> the inferred schema.
_SCHEMAS: dict[tuple[str, str, str, tuple], T.StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple[str, str, str, tuple]:
    real = os.path.realpath(path)
    return (
        spark.sparkContext.applicationId,
        real,
        _data_fingerprint(real),
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )


def _infer(spark: SparkSession, key: tuple, path: str) -> DataFrame:
    for dead in [
        k for k in _SCHEMAS if k[0] != key[0] or (k[1] == key[1] and k[2] != key[2])
    ]:
        del _SCHEMAS[dead]
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on a memo
    miss (see the module docstring)."""
    key = _schema_key(spark, path)
    schema = _SCHEMAS.get(key)
    if schema is None:
        return _infer(spark, key, path)
    return spark.read.schema(schema).parquet(path)


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, from the memo."""
    key = _schema_key(spark, path)
    if key not in _SCHEMAS:
        _infer(spark, key, path)
    return _SCHEMAS[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table with schema normalization.

    events.ts arrives as INT64 TIMESTAMP(NANOS) parquet; with
    ``nanosAsLong`` it reads as a long of epoch-nanos, which we rebuild
    into TIMESTAMP_NTZ via timezone-independent arithmetic (epoch-micros
    added to the NTZ epoch — no session-TZ dependence, unlike
    ``timestamp_micros`` which yields LTZ).
    """
    ensure_session_confs(spark)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts DIV 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df


def ensure_min_parallelism(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Spread a small scan across the cluster before CPU-heavy per-row work.

    A table that fits one parquet row group arrives as ONE partition, so
    an expression-heavy stage (shingling, hashing, regex) would run on a
    single core no matter how wide the cluster is. If (and only if) the
    scan has fewer partitions than the default parallelism, repartition
    up — the shuffle moves just the small input. At 100 TB the scan has
    thousands of splits, the condition is false, and this is a no-op
    (never an unconditional repartition of a big table).
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL surface."""
    for t, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(t)
