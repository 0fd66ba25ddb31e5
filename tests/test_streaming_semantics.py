"""Streaming-engine semantics tests: watermark late-data dropping in
append mode, and foreachBatch as an exactly-once-style sink. These test
the *streaming machinery* (multi-batch progression, state eviction),
complementing the oracle-checked single-batch streaming queries."""

import os

import pytest

from pyspark.sql import functions as F, types as T

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("k", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


BATCHES = [
    # batch 0: on-time data through 12:00 → watermark advances to 11:50
    [("2024-01-01 10:00:00", "a", 1), ("2024-01-01 12:00:00", "b", 2)],
    # batch 1: 13:00 advances the watermark to 12:50; at end of this
    # batch the [10:00,11:00) window (end 11:00 < 11:50) is finalized,
    # EMITTED, and its state evicted
    [("2024-01-01 13:00:00", "b", 4)],
    # batch 2: a 10:05 straggler — state for its window no longer
    # exists; append mode guarantees the finalized window is not
    # re-emitted, so this row vanishes from the output
    [("2024-01-01 10:05:00", "a", 8)],
]


@pytest.fixture()
def two_batch_source(spark, tmp_path):
    """Parquet files read one per micro-batch (maxFilesPerTrigger=1),
    staged so a straggler arrives AFTER its window's state was evicted.
    (Spark's watermark contract is one-sided: late rows may still merge
    into live state; only post-eviction arrivals are guaranteed
    dropped — that's the behavior pinned here.)"""
    src = tmp_path / "stream_src"
    src.mkdir()
    for i, rows in enumerate(BATCHES):
        df = spark.createDataFrame(rows, "ts string, k string, v long").select(
            F.col("ts").cast("timestamp").alias("ts"), "k", "v"
        )
        # one file per batch, deterministic order via file naming
        df.coalesce(1).write.mode("overwrite").parquet(str(src / f"batch{i}"))
    # flatten: file source wants one dir of files; stagger mtimes so the
    # source (which orders and batches files by modification time) sees
    # batch0's file strictly first.
    import shutil
    import time

    flat = tmp_path / "flat"
    flat.mkdir()
    now = time.time()
    n = 0
    for i in range(len(BATCHES)):
        for f in sorted(os.listdir(src / f"batch{i}")):
            if f.endswith(".parquet"):
                dst = flat / f"{i:02d}_{n:02d}.parquet"
                shutil.copy(src / f"batch{i}" / f, dst)
                os.utime(dst, (now - 1000 + i * 100, now - 1000 + i * 100))
                n += 1
    return str(flat)


def test_append_mode_drops_late_data(spark, two_batch_source, tmp_path):
    """With a 10-minute watermark and 1h tumbling windows, the late
    10:05 row arriving after the watermark passed 12:50 must NOT appear:
    the 10:00 window was finalized (emitted when the watermark crossed
    11:00) and its state evicted."""
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(two_batch_source)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "k")
        .agg(F.sum("v").alias("total"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("late_test").collect()
    out = {}
    for r in rows:
        out.setdefault((r["window"]["start"].hour, r["k"]), []).append(r["total"])
    # the [10:00,11:00) window was finalized with v=1 before the
    # straggler arrived; it appears exactly once and the v=8 is gone
    assert out.get((10, "a")) == [1]


def test_foreach_batch_sink(spark, two_batch_source, tmp_path):
    """foreachBatch: custom sink receiving (batch_df, epoch_id) — the
    exactly-once pattern (idempotent write keyed by epoch). Each epoch
    lands in its own directory exactly once."""
    out_root = tmp_path / "fb_out"
    out_root.mkdir()

    def sink(batch_df, epoch_id):
        batch_df.write.mode("overwrite").parquet(str(out_root / f"epoch={epoch_id}"))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(two_batch_source)
    )
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    epochs = sorted(d for d in os.listdir(out_root) if d.startswith("epoch="))
    assert len(epochs) == len(BATCHES)
    total = spark.read.parquet(str(out_root / "epoch=*")).count()
    assert total == sum(len(b) for b in BATCHES)


def test_stateful_checkpoint_restart_recovers_state(spark, tmp_path):
    """Exactly-once across restarts: run the stateful operator over file
    A with a checkpoint, stop, drop file B in, restart the SAME pipeline
    from the checkpoint — the file source must not reprocess A (offsets
    committed) and the recovered GroupState must merge A's totals with
    B's, matching the batch result over A ∪ B."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    from go_map_reduce_spark.shipping import ensure_package_shipped
    from go_map_reduce_spark.streaming.stateful import (
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        _update_user_totals,
    )

    ensure_package_shipped(spark)
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    a = pd.DataFrame(
        {"user_id": [1, 1, 2, 3], "value": [1.25, 2.50, 10.00, 0.75]}
    )
    b = pd.DataFrame({"user_id": [1, 2, 2], "value": [4.00, 0.25, 0.50]})
    spark.createDataFrame(a).coalesce(1).write.parquet(str(src / "a.parquet"))

    def run_once():
        # foreachBatch (unlike the memory sink) supports restart from a
        # checkpoint; emitted rows are captured driver-side per run.
        emitted: list = []

        def capture(batch_df, _bid):
            emitted.extend(batch_df.collect())

        events = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*")
        )
        totals = events.groupBy("user_id").applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            totals.writeStream.outputMode("update")
            .foreachBatch(capture)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = sum(int(p["numInputRows"]) for p in (q.recentProgress or []))
        final = {}
        for r in emitted:  # last emit per user wins within a run
            final[r["user_id"]] = (r["n_events"], r["sum_value"])
        return rows, final

    rows1, got1 = run_once()
    assert rows1 == len(a)
    assert got1 == {1: (2, 3.75), 2: (1, 10.00), 3: (1, 0.75)}

    spark.createDataFrame(b).coalesce(1).write.parquet(str(src / "b.parquet"))
    rows2, got2 = run_once()
    # only file B processed on restart...
    assert rows2 == len(b)
    # ...update mode emits only users touched by B, with MERGED state
    assert got2 == {1: (3, 7.75), 2: (3, 10.75)}


def test_stateful_query_runs_on_rocksdb_state_store(spark, sf_dir):
    """State-store portability: the same stateful streaming query must
    produce identical results under the RocksDB provider (the provider
    a production deployment uses for large state — state no longer
    bounded by executor heap) as under the default HDFS-backed one.
    The rocksdbjni jar ships with this Spark distribution, so this
    executes for real — it is the 100 TB state-sizing lever, exercised,
    not claimed."""
    from go_map_reduce_spark.registry import ORACLES, QUERIES

    from tests.oracle_util import compare

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        compare(
            QUERIES["events_stateful_user_totals"](spark, sf_dir),
            ORACLES["events_stateful_user_totals"],
            sf_dir,
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_events_schema_follows_in_place_rewrite(spark, tmp_path):
    """events_raw_schema must probe events.parquet again after it is
    rewritten in place with the other ts encoding: serving the INT64
    nanos schema (LongType under nanosAsLong) for a timestamp[us] file
    would silently read micros as nanos."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_map_reduce_spark.streaming.windows import events_raw_schema

    path = tmp_path / "events.parquet"
    nanos = [1_700_000_000_000_000_000, 1_700_000_000_500_000_000]

    def write(ts):
        pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), path)

    def ts_type():
        schema = events_raw_schema(spark, str(tmp_path))
        return {f.name: f.dataType for f in schema.fields}["ts"]

    write(pa.array(nanos, pa.timestamp("ns")))
    assert isinstance(ts_type(), T.LongType)

    st = os.stat(path)
    write(pa.array([n // 1000 for n in nanos], pa.timestamp("us")))
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert isinstance(ts_type(), (T.TimestampType, T.TimestampNTZType))
