"""Structured Streaming runner utilities.

Test harness: replay the bounded ``events`` table as a real stream —
split into N parquet files, ``readStream`` with ``maxFilesPerTrigger=1``
so each file becomes one micro-batch, memory sink, then
``processAllAvailable()`` drives the query to completion synchronously.
This is the batch≡stream golden-test rig from the Structured Streaming
paper (SURVEY.md §5.2.3).

Production: the same logical plans run unchanged against an unbounded
source — ``spark.readStream.format("kinesis")`` (Kinesis connector per
BASELINE.json; jar not in this image, so ``events_stream`` gates on the
file source) with a ≤10 s micro-batch trigger. Whether decisions land
inside the reference's 10 s poll cadence (kinesis-pay.php:263) is a
measured property, not a given: on a 4-core host at 400 events/s with a
1 s trigger (perfbench ``payment_stream``), micro-batches take ~2 s and
the p95 decision latency is 5-7.5 s (median 6.1 s over 10 seeds). That
relies on one state partition per core (session.get_session).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stage_stream_dir(
    spark: SparkSession, sf_dir: str, n_files: int = 8, base_dir: str | None = None
) -> str:
    """Materialize events as ``n_files`` time-ordered parquet files so
    the file source replays them as successive micro-batches in event-
    time order (file order = lexicographic name order here)."""
    from am_kinesis_pay_spark.tables import load

    out = os.path.join(
        base_dir or tempfile.gettempdir(), f"events_stream_{uuid.uuid4().hex[:8]}"
    )
    ev = load(spark, sf_dir, "events")
    n = ev.count()
    chunk = (n + n_files - 1) // n_files
    rows = ev.orderBy("event_id")
    # one file per event_id range; range partitioning keeps event-time
    # ordering across files, mimicking an in-order source like Kinesis
    # per-shard order
    for i in range(n_files):
        (
            rows.filter(
                (F.col("event_id") >= i * chunk) & (F.col("event_id") < (i + 1) * chunk)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"batch_{i:04d}"))
        )
    return out


def events_stream(
    spark: SparkSession, stream_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Unbounded DataFrame over the staged event files, one file (=
    micro-batch) per trigger."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(stream_dir)
    )


def run_to_completion(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    available_now: bool = False,
) -> DataFrame:
    """Start a memory-sink query, drain every staged file, stop, and
    return the sink contents as a batch DataFrame.

    ``available_now=True`` is REQUIRED for processing-time stateful
    queries (TTL'd/timered transformWithState in processingtime mode):
    those never go idle — timers and TTL are re-evaluated every
    trigger, so the engine runs empty micro-batches back-to-back
    forever and neither ``processAllAvailable`` nor (measured: 100+
    empty batches after the 8 staged files) AvailableNow
    self-termination ever fires. Instead we watch the query progress
    and stop once the staged data has drained: at least one data batch
    seen, then 2 consecutive zero-input batches (the file source
    lists all files up front, so no empty batch can interleave between
    data batches)."""
    spark = stream_df.sparkSession
    writer = stream_df.writeStream.outputMode(output_mode)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.format("memory").queryName(query_name).start()
    try:
        if available_now:
            import time as _time

            batches: dict[int, int] = {}
            deadline = _time.time() + 600
            while q.isActive and _time.time() < deadline:
                _time.sleep(0.3)
                for p in q.recentProgress:
                    batches[p["batchId"]] = p["numInputRows"]
                ordered = [batches[b] for b in sorted(batches)]
                if (
                    sum(ordered) > 0
                    and len(ordered) >= 2
                    and ordered[-1] == 0
                    and ordered[-2] == 0
                ):
                    break
        else:
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")
