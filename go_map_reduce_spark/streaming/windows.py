"""Structured Streaming operators over the events table.

The reference is strictly batch (SURVEY.md §2c: streaming ABSENT); this
module supplies the streaming surface with Spark Structured Streaming:
file source → event-time window aggregation with watermark → sink.

Two window semantics, both ALSO expressible in batch (and therefore
DuckDB-oracle-checkable):

- tumbling windows (`F.window(ts, '1 hour')`) — `events_hourly_stream`
  runs a REAL streaming query (readStream → watermark → window agg →
  memory sink) to completion and returns the sink table, so the driver's
  oracle check covers the streaming engine's window math itself;
- session windows (`F.session_window(ts, gap)`) — registered in batch
  mode (`events_session_windows`); its oracle is the *hand-rolled*
  lag/cumsum sessionization SQL, so Spark's native session merging is
  differentially tested against an independent formulation.

Watermark note: the streaming query uses complete output mode so the
final (still-open) windows are emitted before the source is exhausted —
with append mode the trailing window would be withheld and the batch
oracle could never match. At-scale deployments use append + a real
unbounded source; the window arithmetic is identical.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from go_map_reduce_spark.catalog import load_table, parquet_schema
from go_map_reduce_spark.functions.numeric import dsum, sql_dsum
from go_map_reduce_spark.registry import query
from go_map_reduce_spark.session import ensure_session_confs

# Streaming file sources require an explicit schema. The driver has
# shipped events.parquet with two different ts encodings across rounds —
# INT64 TIMESTAMP(NANOS) (reads as long under nanosAsLong) and plain
# timestamp[us] — so the schema is probed from the parquet footer of the
# actual file rather than hardcoded. Hardcoding LongType against a
# timestamp[us] file silently misinterprets the values (micros
# reinterpreted as nanos), which is why this probes instead of assuming.


def events_raw_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Footer-derived schema of events.parquet for the stream source,
    from the catalog's schema memo: one probe per file version, so a
    rewrite of the file in place is probed again."""
    ensure_session_confs(spark)
    return parquet_schema(spark, os.path.join(sf_dir, "events.parquet"))


_NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


from contextlib import contextmanager  # noqa: E402


@contextmanager
def _stream_state_partitions(spark: SparkSession, n: int):
    """Scope spark.sql.shuffle.partitions for a streaming query: the
    partition count freezes into the state store at checkpoint creation
    and every partition costs a state-store instance per batch — size it
    to the keyspace (event types × windows, users), not the CPU count.
    Restores the session's setting afterwards."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with ts normalized to TIMESTAMP.

    Watermarks require TIMESTAMP (with local timezone); the session is
    pinned to UTC, making the later LTZ→NTZ output cast the identity on
    wall-clock values. Handles both ts encodings the driver has shipped:
    INT64 epoch-nanos (→ long under nanosAsLong) and timestamp[us].
    """
    ensure_session_confs(spark)
    schema = events_raw_schema(spark, sf_dir)
    # The file stream source requires a directory; glob-filter the events
    # table out of the shared sf dir.
    raw = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    ts_type = dict((f.name, f.dataType) for f in schema.fields)["ts"]
    if isinstance(ts_type, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


@query(
    "events_hourly_stream",
    oracle=f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation executed BY THE STREAMING ENGINE:
    readStream → 10-min watermark → 1-hour window groupBy → memory sink,
    run to completion. Returns the sink contents as a batch DataFrame so
    the window math is checked against the batch SQL oracle."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    name = f"hourly_{uuid.uuid4().hex[:12]}"
    with _stream_state_partitions(spark, 8):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


@query(
    "events_session_windows",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, value, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    marked AS (
      SELECT user_id, ts, value,
             CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_start,
             event_id
      FROM gaps
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM marked
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-min gap) aggregation — the streaming
    sessionizer run in batch mode. Differentially tested against the
    independent lag/cumsum formulation in the oracle (note >= in the
    oracle's gap rule: session_window merges events strictly inside
    prev_ts + gap). window.end is last_event + gap by definition."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("sum_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "events_purchase_click_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           CAST(c.ts AS TIMESTAMP) AS click_ts
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
    """,
)
def events_purchase_click_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join, executed by the streaming engine: every
    purchase joined to the same user's clicks in the preceding 30
    minutes. Both sides carry watermarks and the join condition bounds
    event-time distance, so the state store can evict rows once the
    watermark passes — the condition isn't an optimization hint, it's
    what makes unbounded stream-stream joins possible at all. Run to
    completion on the finite source and checked against the batch SQL
    join (append mode: inner stream-stream joins emit matches only)."""
    import uuid

    events = read_events_stream(spark, sf_dir)
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    c = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL '30' MINUTE"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.col("p_ts").cast("timestamp_ntz").alias("purchase_ts"),
        F.col("c_ts").cast("timestamp_ntz").alias("click_ts"),
    )
    name = f"ssjoin_{uuid.uuid4().hex[:12]}"
    with _stream_state_partitions(spark, 8):
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


@query(
    "events_stream_dedup",
    oracle="""
    SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
    FROM events
    """,
)
def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING deduplication — the ingest-time analog of the batch
    dedup stack: the event stream is unioned with itself (every row a
    duplicate) and deduplicated by key with
    ``dropDuplicatesWithinWatermark``, the bounded-state variant — state
    for a key is dropped once the watermark passes its event time, so
    the store holds one watermark-window of keys, not the whole history
    (plain ``dropDuplicates`` would grow without bound on an unbounded
    stream). Run to completion; the oracle is the original event set —
    every duplicate must be removed, every original kept exactly once."""
    events = read_events_stream(spark, sf_dir).select(
        "event_id", "event_type", "ts", "value"
    )
    doubled = events.union(read_events_stream(spark, sf_dir).select(
        "event_id", "event_type", "ts", "value"
    ))
    deduped = (
        doubled.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "event_type",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "value",
        )
    )
    name = f"dedup_{uuid.uuid4().hex[:12]}"
    with _stream_state_partitions(spark, 8):
        q = (
            deduped.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


@query(
    "events_stream_static_join",
    oracle=f"""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n,
           {sql_dsum('e.value')} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def events_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static enrichment: the event stream joins the static
    customer dimension per micro-batch (the canonical streaming-ETL
    enrich step), then aggregates by segment × event type — run BY THE
    STREAMING ENGINE to a memory sink and checked against the plain
    batch-join oracle.

    Unlike stream–stream joins, the static side needs no watermark or
    state: each micro-batch hash-joins against the dimension, which
    Spark broadcasts when small — at 1000 executors the dimension scan
    is re-planned per batch, so a refreshed dim parquet is picked up
    between batches (slowly-changing enrichment for free). State here
    is only the downstream aggregation (4 segments × event types)."""
    from go_map_reduce_spark.catalog import load_table as _lt

    events = read_events_stream(spark, sf_dir)
    cust = _lt(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        events.join(cust, events.user_id == cust.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value"))
    )
    name = f"enrich_{uuid.uuid4().hex[:12]}"
    with _stream_state_partitions(spark, 8):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


@query(
    "events_sliding_stream",
    oracle=f"""
    WITH b AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS tb, event_type, value
      FROM events
    ),
    s AS (
      SELECT unnest([tb, tb - INTERVAL 30 MINUTE]) AS ws, event_type, value
      FROM b
    )
    SELECT CAST(ws AS TIMESTAMP) AS window_start,
           CAST(ws + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value')} AS sum_value
    FROM s
    GROUP BY 1, 2, 3
    """,
)
def events_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window aggregation executed by the streaming engine:
    1-hour windows every 30 minutes — each event belongs to exactly 2
    overlapping windows (window length / slide), which the engine
    expands BEFORE the shuffle, so state is 2× the tumbling case, not
    per-pair. Complete output mode emits the final window set; the
    oracle replays the expansion relationally (each event duplicated
    into its two candidate window starts via time_bucket)."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    name = f"sliding_{uuid.uuid4().hex[:12]}"
    with _stream_state_partitions(spark, 8):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


# Left-outer comparisons exclude the stream's trailing 2 days: a
# left-outer stream-stream join withholds unmatched rows whose join
# window the final watermark (min over both sides of max event time -
# 10 min) has not yet passed. The exact emission boundary is engine
# state-cleanup arithmetic; excluding a tail ≫ (watermark delay + join
# window) from BOTH the streamed result and the oracle makes the
# comparison exact without modeling that boundary.
_OUTER_TAIL = "INTERVAL 2 DAY"


@query(
    "events_purchase_click_outer_join",
    oracle=f"""
    WITH mx AS (SELECT MAX(ts) AS max_ts FROM events),
    p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts
      FROM events, mx
      WHERE event_type = 'purchase' AND ts <= max_ts - {_OUTER_TAIL}
    ),
    c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
          FROM events WHERE event_type = 'click')
    SELECT p.purchase_id, c.click_id, p.user_id,
           CAST(p.p_ts AS TIMESTAMP) AS purchase_ts,
           CAST(c.c_ts AS TIMESTAMP) AS click_ts
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE AND c.c_ts <= p.p_ts
    """,
)
def events_purchase_click_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER join run by the engine: purchases with
    their preceding-30-minute clicks, or NULL click columns once the
    watermark proves no match can arrive. Outer stream-stream joins are
    the semantics watermarks exist for — an unmatched left row can only
    be emitted when the global watermark passes its join window, so the
    null rows materialize in the watermark-advance batch after the data
    batch (processAllAvailable runs both). The trailing 2 days are
    excluded from the comparison on both sides (see _OUTER_TAIL)."""
    events = read_events_stream(spark, sf_dir)
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    c = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL '30' MINUTE"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.col("p_ts").cast("timestamp_ntz").alias("purchase_ts"),
        F.col("c_ts").cast("timestamp_ntz").alias("click_ts"),
    )
    name = f"ssouter_{uuid.uuid4().hex[:12]}"
    with _stream_state_partitions(spark, 8):
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    max_ts = load_table(spark, sf_dir, "events").agg(
        F.max("ts").alias("max_ts")
    )
    return (
        spark.table(name)
        .crossJoin(F.broadcast(max_ts))
        .where(F.col("purchase_ts") <= F.col("max_ts") - F.expr(_OUTER_TAIL))
        .drop("max_ts")
    )
