"""Batch≡stream golden tests (SURVEY.md §5.2.3): the same logical plan
run over the bounded events table and replayed through readStream must
agree. Plus the stateful payment state machine with expiry timeouts
(FIXTURES.md §B edge rows: terminal transitions, duplicates, late
terminal events, pure-pending expiry)."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from am_kinesis_pay_spark.functions.compat import dsum
from am_kinesis_pay_spark.registry import queries
from am_kinesis_pay_spark.session import STATE_PARTITIONS_CONF
from am_kinesis_pay_spark.streaming.runner import (
    EVENT_SCHEMA,
    events_stream,
    run_to_completion,
    stage_stream_dir,
)
from am_kinesis_pay_spark.streaming.state_machine import payment_state_machine

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = stage_stream_dir(
        spark, SF_DIR, n_files=6, base_dir=str(tmp_path_factory.mktemp("stream"))
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_tumbling_equals_batch(spark, stream_dir):
    stream = (
        events_stream(spark, stream_dir)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    got = run_to_completion(stream, f"tumb_{uuid.uuid4().hex[:6]}", "complete")
    want = queries()["stream_tumbling_count"](spark, SF_DIR)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_dedup_first_arrival_keys_match_batch(spark, stream_dir):
    stream = (
        events_stream(spark, stream_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    got = run_to_completion(stream, f"dedup_{uuid.uuid4().hex[:6]}", "append")
    want = queries()["stream_dedup_payment"](spark, SF_DIR).select(
        "user_id", "event_type"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_append_watermark_emits_closed_subset(spark, stream_dir):
    """Append mode + watermark: only finalized windows emit; they must
    agree exactly with the batch result for those windows (late/open
    windows are withheld, matching watermark drop semantics —
    SURVEY.md §2.9 stream_watermark_expiry note)."""
    stream = (
        events_stream(spark, stream_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )
    got = run_to_completion(stream, f"wm_{uuid.uuid4().hex[:6]}", "append")
    want = queries()["stream_tumbling_count"](spark, SF_DIR).select(
        "window_start", "event_type", "n_events"
    )
    got_rows = set(map(tuple, got.collect()))
    want_rows = set(map(tuple, want.collect()))
    assert got_rows  # watermark passed most windows → they emitted
    assert got_rows <= want_rows
    # everything except the final (still-open) event-time day must emit
    last_day = max(r[0] for r in want_rows)
    assert {r for r in want_rows if r[0] < last_day} <= got_rows


def _ts(minute: float) -> dt.datetime:
    return dt.datetime(2024, 3, 1, 12, 0, 0) + dt.timedelta(minutes=minute)


def _write_batches(spark, out: str, batches) -> str:
    """Write each list of (event_id, ts, user_id, event_type, value,
    props) rows as one ordered parquet file, ``batch_0000`` onwards,
    so the file source replays them as successive micro-batches with
    row order kept inside each file."""
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [
                {
                    "event_id": r[0],
                    "ts": r[1],
                    "user_id": r[2],
                    "event_type": r[3],
                    "value": r[4],
                    "props": r[5],
                }
                for r in rows
            ],
            EVENT_SCHEMA,
        )
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out, f"batch_{i:04d}")
        )
    return out


def _stage_payment_fixture(spark, base_dir: str) -> str:
    """FIXTURES.md §B status_polls edge rows, split into 3 ordered
    micro-batch files."""
    out = os.path.join(base_dir, f"payments_{uuid.uuid4().hex[:8]}")
    batches = [
        # batch 0: everyone starts pending
        [
            (1, _ts(0), 1, "view", 1.0, None),
            (2, _ts(0), 2, "view", 1.0, None),
            (3, _ts(0), 3, "view", 1.0, None),
            (5, _ts(0), 5, "purchase", 5.0, None),  # pay-5 terminal immediately
            (6, _ts(0), 6, "view", 1.0, None),
        ],
        # batch 1: terminals within deadline for 1,2; duplicate terminal for 5
        [
            (10, _ts(3), 1, "purchase", 9.0, None),   # processed
            (11, _ts(2), 2, "error", 0.0, None),      # rejected
            (12, _ts(5), 3, "view", 1.0, None),       # still pending
            (13, _ts(4), 5, "purchase", 7.0, None),   # dup — must NOT re-fire
            (14, _ts(11), 6, "purchase", 3.0, None),  # after deadline → ignored
        ],
        # batch 2: far-future sentinel advances the watermark so
        # event-time timeouts (expiry) fire for 3 and 6
        [
            (99, _ts(60 * 24), 99, "purchase", 1.0, None),
        ],
    ]
    return _write_batches(spark, out, batches)


def test_payment_state_machine(spark, tmp_path_factory):
    d = _stage_payment_fixture(spark, str(tmp_path_factory.mktemp("payfix")))
    try:
        stream = events_stream(spark, d)
        out = run_to_completion(
            payment_state_machine(stream, watermark="1 minute"),
            f"sm_{uuid.uuid4().hex[:6]}",
            "append",
        )
        rows = {r.user_id: (r.final_state, r.decided_at) for r in out.collect()}
        # exactly one output row per payment (exactly-once contract)
        assert out.count() == len(rows)
        assert rows[1][0] == "processed" and rows[1][1] == _ts(3)
        assert rows[2][0] == "rejected" and rows[2][1] == _ts(2)
        assert rows[3][0] == "expired" and rows[3][1] == _ts(10)
        assert rows[5] == ("processed", _ts(0))  # first purchase only
        assert rows[6][0] == "expired"  # terminal arrived after deadline
        assert rows[99][0] == "processed"  # sentinel decides itself
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_state_machine_same_instant_purchase_beats_error(spark, tmp_path_factory):
    """A purchase and an error at the same ts in one micro-batch decide
    'processed' whatever their row order: the batch form's tie rule
    (first_processed <= first_rejected)."""
    d = _write_batches(
        spark,
        os.path.join(str(tmp_path_factory.mktemp("payfix_tie")), "tie"),
        [
            [
                (1, _ts(0), 1, "view", 1.0, None),
                (2, _ts(1), 1, "error", 0.0, None),
                (3, _ts(1), 1, "purchase", 9.0, None),
                (4, _ts(0), 2, "view", 1.0, None),
                (5, _ts(1), 2, "purchase", 9.0, None),
                (6, _ts(1), 2, "error", 0.0, None),
            ]
        ],
    )
    out = run_to_completion(
        payment_state_machine(events_stream(spark, d), watermark="1 minute"),
        f"tie_{uuid.uuid4().hex[:6]}",
        "append",
    )
    got = {r.user_id: (r.final_state, r.decided_at) for r in out.collect()}
    assert got == {1: ("processed", _ts(1)), 2: ("processed", _ts(1))}


# Decisions of _stage_payment_fixture's keys once every batch has run.
_PAYMENT_FIXTURE_DECISIONS = {
    1: ("processed", _ts(3)),
    2: ("rejected", _ts(2)),
    3: ("expired", _ts(10)),
    5: ("processed", _ts(0)),
    6: ("expired", _ts(10)),
    99: ("processed", _ts(60 * 24)),
}


def _run_state_machine_to_files(spark, data_dir: str, out_dir: str, ckpt: str):
    """Drain the payment state machine over ``data_dir`` into a parquet
    file sink (exactly-once across restarts) with checkpoint ``ckpt``."""
    q = (
        payment_state_machine(events_stream(spark, data_dir), watermark="1 minute")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _state_partition_ids(ckpt: str) -> list[int]:
    """Partition directories of the query's one stateful operator."""
    root = os.path.join(ckpt, "state", "0")
    return sorted(int(p) for p in os.listdir(root) if p.isdigit())


def _recorded_state_partitions(ckpt: str) -> set[int]:
    """State partition count every offsets-log entry records (Spark
    stores it as spark.sql.shuffle.partitions in the batch metadata)."""
    counts = set()
    offsets = os.path.join(ckpt, "offsets")
    for name in os.listdir(offsets):
        if name.isdigit():
            with open(os.path.join(offsets, name)) as f:
                meta = json.loads(f.read().splitlines()[1])
            counts.add(int(meta["conf"]["spark.sql.shuffle.partitions"]))
    return counts


def test_stateful_query_runs_one_state_partition_per_core(spark, tmp_path_factory):
    """get_session gives stateful streaming operators one state
    partition per core instead of the 32 batch shuffle partitions. A
    Spark version that drops or ignores the internal setting fails here
    rather than silently paying 32 state tasks per micro-batch."""
    base = str(tmp_path_factory.mktemp("state_parts"))
    d = _stage_payment_fixture(spark, base)
    ckpt = os.path.join(base, "ckpt")
    n = spark.sparkContext.defaultParallelism
    assert spark.conf.get(STATE_PARTITIONS_CONF) == str(n)
    _run_state_machine_to_files(spark, d, os.path.join(base, "out"), ckpt)
    assert _state_partition_ids(ckpt) == list(range(n))
    assert _recorded_state_partitions(ckpt) == {n}


def test_restart_keeps_checkpointed_state_partition_count(spark, tmp_path_factory):
    """A query started with 3 state partitions and restarted from its
    checkpoint under the session's per-core setting keeps 3 (the count
    in the offsets log wins), and its state carries over: the
    duplicate purchase of key 5 does not re-fire and keys 3 and 6
    expire after the restart."""
    base = str(tmp_path_factory.mktemp("state_parts_restart"))
    src = _stage_payment_fixture(spark, base)
    data, out, ckpt = (os.path.join(base, p) for p in ("data", "out", "ckpt"))
    batches = sorted(os.listdir(src))
    shutil.copytree(os.path.join(src, batches[0]), os.path.join(data, batches[0]))

    saved = spark.conf.get(STATE_PARTITIONS_CONF)
    spark.conf.set(STATE_PARTITIONS_CONF, "3")
    try:
        _run_state_machine_to_files(spark, data, out, ckpt)
    finally:
        spark.conf.set(STATE_PARTITIONS_CONF, saved)
    assert _state_partition_ids(ckpt) == [0, 1, 2]

    for b in batches[1:]:
        shutil.copytree(os.path.join(src, b), os.path.join(data, b))
    _run_state_machine_to_files(spark, data, out, ckpt)
    assert _state_partition_ids(ckpt) == [0, 1, 2]
    assert _recorded_state_partitions(ckpt) == {3}
    rows = spark.read.parquet(out).collect()
    assert len(rows) == len(_PAYMENT_FIXTURE_DECISIONS)  # exactly once
    got = {r.user_id: (r.final_state, r.decided_at) for r in rows}
    assert got == _PAYMENT_FIXTURE_DECISIONS


def test_state_machine_stream_agrees_with_batch_query(spark, stream_dir):
    """The incremental state machine over the replayed real events table
    must reach the same terminal states as the declarative batch form
    (stream_state_machine_batch) for every decided key."""
    stream = events_stream(spark, stream_dir)
    got = run_to_completion(
        payment_state_machine(stream, watermark="1 minute"),
        f"smb_{uuid.uuid4().hex[:6]}",
        "append",
    )
    batch = queries()["stream_state_machine_batch"](spark, SF_DIR)
    got_map = {r.user_id: (r.final_state, r.decided_at) for r in got.collect()}
    want_map = {r.user_id: (r.final_state, r.decided_at) for r in batch.collect()}
    # terminal decisions must agree wherever the stream emitted one;
    # keys whose expiry timeout falls beyond the last watermark may be
    # withheld in the stream — those are exactly the not-yet-final keys
    for uid, got_val in got_map.items():
        assert got_val == want_map[uid], f"user {uid}: {got_val} vs {want_map[uid]}"
    decided_types = {u for u, v in want_map.items() if v[0] != "expired"}
    assert decided_types <= set(got_map), "all in-deadline terminals must emit"


def test_stream_sliding_equals_batch(spark, stream_dir):
    stream = (
        events_stream(spark, stream_dir)
        .groupBy(F.window("ts", "24 hours", "12 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (dsum("value") / F.count(F.lit(1))).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "avg_value",
        )
    )
    got = run_to_completion(stream, f"slide_{uuid.uuid4().hex[:6]}", "complete")
    want = queries()["stream_sliding_avg"](spark, SF_DIR)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_session_window_equals_batch(spark, stream_dir):
    stream = (
        events_stream(spark, stream_dir)
        .withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    # append + watermark: closed sessions must match the batch rows
    got = run_to_completion(stream, f"sess_{uuid.uuid4().hex[:6]}", "append")
    want = queries()["stream_session_window"](spark, SF_DIR)
    got_rows = set(map(tuple, got.collect()))
    want_rows = set(map(tuple, want.collect()))
    assert got_rows and got_rows <= want_rows
    # only sessions still open at the final watermark may be withheld
    missing = want_rows - got_rows
    max_emitted_end = max(r[2] for r in got_rows)
    assert all(r[2] >= max_emitted_end for r in missing), "a closed session failed to emit"


def test_foreach_batch_idempotent_sink(spark, stream_dir, tmp_path_factory):
    from am_kinesis_pay_spark.streaming.foreach_sink import IdempotentKeyedSink

    base = str(tmp_path_factory.mktemp("sink"))
    sink = IdempotentKeyedSink(
        spark, os.path.join(base, "table"), ["user_id", "event_type"]
    )
    stream = events_stream(spark, stream_dir).select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    q = sink.attach(stream, os.path.join(base, "ckpt")).start()
    q.processAllAvailable()
    q.stop()
    got = {(r.user_id, r.event_type): r.event_id for r in sink.read().collect()}
    # exactly the first-arrival keys of the batch dedup spec
    want = {
        (r.user_id, r.event_type): r.event_id
        for r in queries()["stream_dedup_payment"](spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    # redelivery: replay a batch manually — table must not change
    before = sorted(got.items())
    first_batch = spark.read.parquet(f"{stream_dir}/batch_0000")
    sink.process_batch(first_batch.select(*stream.columns), epoch_id=999)
    after = sorted(
        ((r.user_id, r.event_type), r.event_id) for r in sink.read().collect()
    )
    assert before == after


def test_stream_stream_join_matches_batch(spark, stream_dir):
    """Stream-stream inner join with watermarks + time-range condition:
    clicks joined to purchases within 5 minutes per user must produce
    the same pair multiset as the batch self-join (J8's pair set)."""
    ev = events_stream(spark, stream_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("a_user"), F.col("ts").alias("a_ts"),
                F.col("event_id").alias("a_id"))
        .withWatermark("a_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"),
                F.col("event_id").alias("b_id"))
        .withWatermark("b_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES")),
    ).select("a_id", "b_id")
    got = run_to_completion(joined, f"ssj_{uuid.uuid4().hex[:6]}", "append")

    # the registered (oracle-checked) batch form IS the specification
    want = queries()["stream_stream_join"](spark, SF_DIR).select(
        F.col("click_id").alias("a_id"), F.col("purchase_id").alias("b_id")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_checkpoint_recovery_no_duplicates(spark, stream_dir, tmp_path_factory):
    """Restart a streaming query from its checkpoint after new files
    arrive: offsets resume (already-processed files are not re-read)
    and the final sink state equals the batch spec — exactly-once
    across restarts, the property checkpointing exists to provide."""
    import glob
    import shutil as _sh

    from am_kinesis_pay_spark.streaming.foreach_sink import IdempotentKeyedSink

    base = str(tmp_path_factory.mktemp("ckpt_rec"))
    data_dir = os.path.join(base, "data")
    batches = sorted(glob.glob(os.path.join(stream_dir, "batch_*")))
    assert len(batches) >= 4
    # phase 1: only the first half of the files exist
    for b in batches[: len(batches) // 2]:
        _sh.copytree(b, os.path.join(data_dir, os.path.basename(b)))

    sink = IdempotentKeyedSink(
        spark, os.path.join(base, "table"), ["user_id", "event_type"]
    )
    ckpt = os.path.join(base, "ckpt")
    cols = ["user_id", "event_type", "event_id", "ts", "value"]

    q1 = sink.attach(events_stream(spark, data_dir).select(*cols), ckpt).start()
    q1.processAllAvailable()
    q1.stop()
    n_phase1 = sink.read().count()
    assert n_phase1 > 0

    # phase 2: the rest of the files arrive; restart from the checkpoint
    for b in batches[len(batches) // 2 :]:
        _sh.copytree(b, os.path.join(data_dir, os.path.basename(b)))
    q2 = sink.attach(events_stream(spark, data_dir).select(*cols), ckpt).start()
    q2.processAllAvailable()
    q2.stop()

    got = {(r.user_id, r.event_type): r.event_id for r in sink.read().collect()}
    want = {
        (r.user_id, r.event_type): r.event_id
        for r in queries()["stream_dedup_payment"](spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    # first-arrival rows from phase 1 must have survived the restart
    assert len(got) >= n_phase1


def test_streaming_seq_counter_equals_batch_row_number(spark, stream_dir):
    """The stateful per-key counter over the ordered replay must equal
    the batch window row_number (win_poll_seq) for every event — the
    window-function-on-a-stream bridge."""
    from am_kinesis_pay_spark.streaming.seq_counter import streaming_poll_seq

    got = run_to_completion(
        streaming_poll_seq(events_stream(spark, stream_dir)),
        f"seq_{uuid.uuid4().hex[:6]}",
        "append",
    )
    want = queries()["win_poll_seq"](spark, SF_DIR)
    got_rows = sorted((r.user_id, r.event_id, r.poll_seq) for r in got.collect())
    want_rows = sorted((r.user_id, r.event_id, r.poll_seq) for r in want.collect())
    assert got_rows == want_rows


def test_tws_poll_throttle_equals_batch_modulus(spark, stream_dir):
    """The transformWithState throttle counter (ValueState + state TTL,
    processing-time mode) over the ordered replay must equal the batch
    row_number-modulus form (stream_poll_throttle_log) exactly — the
    successor-API counterpart of the seq_counter golden test, and the
    first executed demonstration of TTL'd state (idle payment counters
    GC'd by the store, watermark-independent)."""
    from am_kinesis_pay_spark.streaming.tws_state_machine import (
        ROCKSDB_PROVIDER,
        tws_available,
    )
    from am_kinesis_pay_spark.streaming.tws_throttle import poll_throttle_tws

    if not tws_available():
        pytest.skip(
            "transformWithState's Python worker protocol needs a protobuf "
            "runtime (see am_kinesis_pay_spark/compat.py)"
        )

    # TWS needs multi-column-family state → RocksDB provider required.
    saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        got = run_to_completion(
            poll_throttle_tws(events_stream(spark, stream_dir)),
            f"thr_{uuid.uuid4().hex[:6]}",
            "append",
            available_now=True,
        )
        got_rows = sorted((r.user_id, r.ts, r.poll_seq) for r in got.collect())
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", saved)
    want = queries()["stream_poll_throttle_log"](spark, SF_DIR)
    want_rows = sorted((r.user_id, r.ts, r.poll_seq) for r in want.collect())
    assert got_rows == want_rows
    assert got_rows  # throttle must actually emit at this SF


def test_stream_window_percentile_sketch_equals_batch_sketch(spark, stream_dir):
    """The mergeable percentile_approx sketch must give the SAME answer
    incrementally (partial sketches merged across micro-batches) as in
    one batch pass — the property that makes it state-store safe. The
    exact-percentile batch form (stream_window_percentile) is the
    oracle-checked reference; this pins its streaming substitute."""
    from am_kinesis_pay_spark.tables import load

    agg = lambda df: (
        df.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.expr("percentile_approx(value, 0.5, 1000)").alias("p50_sketch"),
            F.expr("percentile_approx(value, 0.95, 1000)").alias("p95_sketch"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "p50_sketch",
            "p95_sketch",
        )
    )
    got = run_to_completion(
        agg(events_stream(spark, stream_dir)),
        f"pct_{uuid.uuid4().hex[:6]}",
        "complete",
    )
    want = agg(load(spark, SF_DIR, "events"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_daily_rollup_matches_batch_weekly(spark, stream_dir):
    """The hierarchical rollup run the way production would: the DAILY
    level is maintained incrementally by the stream (one streaming
    aggregation), and the WEEKLY level is computed at read time from
    the streamed daily partials — it must equal the all-batch
    agg_time_rollup over the same events."""
    from am_kinesis_pay_spark.functions.compat import dec

    daily = (
        events_stream(spark, stream_dir)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
    )
    sink = run_to_completion(daily, "daily_rollup_sink", "complete")
    weekly = (
        sink.select(
            F.to_date(F.date_trunc("week", F.col("w.start"))).alias("week_start"),
            "event_type",
            "n",
            "s",
            "mn",
            "mx",
        )
        .groupBy("week_start", "event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("s").cast("double").alias("sum_value"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
            (F.sum("s").cast("double") / F.sum("n")).alias("avg_value"),
        )
    )
    got = sorted(
        (tuple(r) for r in weekly.collect()), key=lambda t: (str(t[0]), t[1])
    )
    want = sorted(
        (tuple(r) for r in queries()["agg_time_rollup"](spark, SF_DIR).collect()),
        key=lambda t: (str(t[0]), t[1]),
    )
    assert got == want


def test_stream_complete_topk_equals_batch(spark, stream_dir):
    """Maintained top-k (complete output mode): the incremental
    per-user spend aggregation, re-ranked after the final micro-batch,
    must equal the batch top-10. This is the live-leaderboard shape —
    state is one row per user (bounded by cardinality, not stream
    length); the rank is computed on read, never maintained in state."""
    stream = (
        events_stream(spark, stream_dir)
        .groupBy("user_id")
        .agg(dsum("value").alias("total_value"), F.count(F.lit(1)).alias("n"))
    )
    got = run_to_completion(stream, f"topk_{uuid.uuid4().hex[:6]}", "complete")
    top = got.orderBy(
        F.desc("total_value"), F.asc("user_id")
    ).limit(10)
    from am_kinesis_pay_spark.tables import load

    want = (
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(dsum("value").alias("total_value"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(10)
    )
    assert list(map(tuple, top.collect())) == list(map(tuple, want.collect()))


def test_tws_state_machine_matches_applyinpandas_form(spark, tmp_path_factory):
    """The transformWithStateInPandas implementation (Spark 4 API,
    RocksDB state store, first-class timers) must produce exactly the
    applyInPandasWithState implementation's decisions on the
    FIXTURES.md §B edge fixture — two state backends, one contract."""
    from am_kinesis_pay_spark.streaming.tws_state_machine import (
        ROCKSDB_PROVIDER,
        payment_state_machine_tws,
        tws_available,
    )

    if not tws_available():
        pytest.skip(
            "transformWithState's Python worker protocol needs a protobuf "
            "runtime; none pip-installed and no bundled runtime found "
            "(see am_kinesis_pay_spark/compat.py)"
        )

    d = _stage_payment_fixture(spark, str(tmp_path_factory.mktemp("payfix_tws")))
    saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        stream = events_stream(spark, d)
        out = run_to_completion(
            payment_state_machine_tws(stream, watermark="1 minute"),
            f"tws_{uuid.uuid4().hex[:6]}",
            "append",
        )
        rows = {r.user_id: (r.final_state, r.decided_at) for r in out.collect()}
        assert out.count() == len(rows)  # exactly-once per payment
        assert rows[1][0] == "processed" and rows[1][1] == _ts(3)
        assert rows[2][0] == "rejected" and rows[2][1] == _ts(2)
        assert rows[3][0] == "expired" and rows[3][1] == _ts(10)
        assert rows[5] == ("processed", _ts(0))  # first purchase only
        assert rows[6][0] == "expired"  # terminal arrived after deadline
        assert rows[99][0] == "processed"  # sentinel decides itself
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", saved)
        shutil.rmtree(d, ignore_errors=True)


class _StubValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class _StubHandle:
    def __init__(self):
        self.state = _StubValueState()
        self.timers = []

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.state

    def registerTimer(self, ts_ms):
        self.timers.append(ts_ms)


class _StubTimerValues:
    def __init__(self, wm_ms):
        self._wm = wm_ms

    def getCurrentWatermarkInMs(self):
        return self._wm

    def getCurrentProcessingTimeInMs(self):
        return 0


def test_tws_processor_semantics_via_stub_handle():
    """Drive PaymentStateProcessor's handler methods directly (no
    streaming runtime — the protobuf-gated piece) and assert the same
    decision table the applyInPandasWithState golden test pins:
    first-terminal-wins, exactly-once, timer-armed expiry, and the
    watermark-past-deadline immediate-expiry path."""
    import pandas as pd

    from am_kinesis_pay_spark.streaming.tws_state_machine import (
        PaymentStateProcessor,
    )

    def batch(rows):
        return pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": pd.to_datetime([_ts(r[1]) for r in rows]),
                "user_id": [r[2] for r in rows],
                "event_type": [r[3] for r in rows],
                "value": [1.0] * len(rows),
                "props": [None] * len(rows),
            }
        )

    def run_key(uid, batches, wm_ms_seq, fire_timers_at_end_wm=None):
        p = PaymentStateProcessor()
        h = _StubHandle()
        p.init(h)
        out = []
        for rows, wm in zip(batches, wm_ms_seq):
            out += list(
                p.handleInputRows((uid,), iter([batch(rows)]), _StubTimerValues(wm))
            )
        if fire_timers_at_end_wm is not None:
            for t in list(h.timers):
                if t <= fire_timers_at_end_wm:
                    out += list(
                        p.handleExpiredTimer(
                            (uid,), _StubTimerValues(fire_timers_at_end_wm), None
                        )
                    )
        return out, h

    # terminal within deadline on the second batch → processed at its ts
    out, _ = run_key(
        1, [[(1, 0, 1, "view")], [(10, 3, 1, "purchase")]], [0, 0]
    )
    assert len(out) == 1
    assert out[0]["final_state"][0] == "processed"
    assert out[0]["decided_at"][0] == pd.Timestamp(_ts(3))

    # error → rejected; later purchase must NOT re-fire (exactly-once)
    out, _ = run_key(
        2,
        [[(2, 0, 2, "view")], [(11, 2, 2, "error")], [(12, 3, 2, "purchase")]],
        [0, 0, 0],
    )
    assert [o["final_state"][0] for o in out] == ["rejected"]

    # no terminal → timer armed at deadline; firing it emits expired
    out, h = run_key(
        3, [[(3, 0, 3, "view")]], [0], fire_timers_at_end_wm=10**15
    )
    assert len(h.timers) == 1
    assert [o["final_state"][0] for o in out] == ["expired"]
    assert out[0]["decided_at"][0] == pd.Timestamp(_ts(10))

    # watermark already past deadline on arrival → immediate expired
    out, h = run_key(6, [[(6, 0, 6, "view")]], [10**15])
    assert [o["final_state"][0] for o in out] == ["expired"]
    assert h.timers == []

    # terminal after the deadline → ignored as decision input
    out, h = run_key(
        7, [[(7, 0, 7, "view")], [(14, 11, 7, "purchase")]], [0, 0],
        fire_timers_at_end_wm=10**15,
    )
    assert [o["final_state"][0] for o in out] == ["expired"]

    # error then purchase at the same ts in one batch → purchase wins
    # (the batch form's first_processed <= first_rejected tie rule)
    out, _ = run_key(
        8, [[(8, 0, 8, "view"), (15, 1, 8, "error"), (16, 1, 8, "purchase")]], [0]
    )
    assert [o["final_state"][0] for o in out] == ["processed"]
    assert out[0]["decided_at"][0] == pd.Timestamp(_ts(1))


def test_stream_stream_left_outer_join_matches_batch(spark, stream_dir):
    """Stream-stream LEFT OUTER join: clicks with no purchase within
    5 minutes must ALSO emit (NULL-extended) — but only once their
    join window fully closes under the watermark. Matched pairs must
    equal the batch join exactly; unmatched clicks must be a subset of
    the batch anti side (clicks whose window closed), and every
    batch-matched click must never appear NULL-extended."""
    ev = events_stream(spark, stream_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("a_user"), F.col("ts").alias("a_ts"),
                F.col("event_id").alias("a_id"))
        .withWatermark("a_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"),
                F.col("event_id").alias("b_id"))
        .withWatermark("b_ts", "1 hour")
    )
    cond = (
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES"))
    )
    joined = clicks.join(purchases, cond, "leftOuter").select("a_id", "b_id")
    got = run_to_completion(joined, f"sslo_{uuid.uuid4().hex[:6]}", "append")

    from am_kinesis_pay_spark.tables import load

    ev_b = load(spark, SF_DIR, "events")
    a = ev_b.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("a_user"), F.col("ts").alias("a_ts"),
        F.col("event_id").alias("a_id"))
    b = ev_b.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"),
        F.col("event_id").alias("b_id"))
    want_matched = sorted(
        map(tuple, a.join(b, cond).select("a_id", "b_id").collect())
    )
    want_all_clicks = {r.a_id for r in a.select("a_id").collect()}
    matched_clicks = {p[0] for p in want_matched}

    got_rows = [tuple(r) for r in got.collect()]
    got_matched = sorted(p for p in got_rows if p[1] is not None)
    got_null = {p[0] for p in got_rows if p[1] is None}

    assert got_matched == want_matched
    # NULL-extension only for genuinely unmatched clicks…
    assert got_null <= (want_all_clicks - matched_clicks)
    # …and the vast majority of closed windows did emit it
    assert len(got_null) > 0


def test_rocksdb_state_store_tumbling_equals_batch(spark, stream_dir):
    """The production state-store backend: the SAME windowed streaming
    aggregation run under RocksDBStateStoreProvider (JVM-side — no
    protobuf needed, unlike the Python TWS API) must equal the batch
    result. At 100 TB RocksDB is the backend that keeps windowed/dedup/
    join state off-heap and incrementally checkpointed (changelog),
    instead of HDFSBackedStateStore's in-memory maps."""
    from am_kinesis_pay_spark.streaming.tws_state_machine import ROCKSDB_PROVIDER

    saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        stream = (
            events_stream(spark, stream_dir)
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value").alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )
        got = run_to_completion(stream, f"rdb_{uuid.uuid4().hex[:6]}", "complete")
        want = queries()["stream_tumbling_count"](spark, SF_DIR)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", saved)


def test_streaming_corpus_ingest_matches_sequential_dedup(
    spark, tmp_path_factory
):
    """Incremental corpus build as a stream: documents arrive in
    ordered micro-batches, the foreachBatch sink keeps the FIRST doc
    per content hash (across batches via the anti-join, within a batch
    via the deterministic doc_id tie-break) — the streaming form of
    text_dedup_incremental's daily-ingest contract. The final corpus
    must equal a sequential driver-side replay of the same batches."""
    base = str(tmp_path_factory.mktemp("corpus_ingest"))
    data_dir = os.path.join(base, "in")
    from am_kinesis_pay_spark.tables import load

    full = (
        load(spark, SF_DIR, "documents")
        .select("doc_id", F.md5(F.lower(F.trim("text"))).alias("text_key"))
        .orderBy("doc_id")
        .collect()
    )
    # 4 ordered arrival batches by doc_id range
    n = len(full)
    chunks = [full[i * n // 4 : (i + 1) * n // 4] for i in range(4)]
    schema = "doc_id bigint, text_key string"
    for i, chunk in enumerate(chunks):
        spark.createDataFrame(
            [(r.doc_id, r.text_key) for r in chunk], schema
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(data_dir, f"batch_{i:04d}")
        )

    from am_kinesis_pay_spark.streaming.foreach_sink import IdempotentKeyedSink

    sink = IdempotentKeyedSink(
        spark, os.path.join(base, "corpus"), ["text_key"], order_col="doc_id"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(data_dir)
    )
    q = sink.attach(stream, os.path.join(base, "ckpt")).start()
    q.processAllAvailable()
    q.stop()

    got = sorted((r.text_key, r.doc_id) for r in sink.read().collect())
    # sequential replay: first doc_id wins per content hash, in batch
    # order then doc order — which over ordered chunks is plain doc order
    seen: dict[str, int] = {}
    for r in full:
        seen.setdefault(r.text_key, r.doc_id)
    want = sorted((k, v) for k, v in seen.items())
    assert got == want


def _stage_out_of_order_fixture(spark, base_dir: str) -> str:
    """Two users whose events arrive event-time-SHUFFLED within and
    across micro-batches, plus a far-future sentinel that pushes the
    watermark past every real event so the reorder buffer drains."""
    out = os.path.join(base_dir, f"ooo_{uuid.uuid4().hex[:8]}")
    batches = [
        # batch 0: late-minute rows arrive FIRST
        [
            (10, _ts(5), 1, "poll", 1.0, None),
            (11, _ts(3), 1, "poll", 1.0, None),
            (20, _ts(8), 2, "poll", 1.0, None),
        ],
        # batch 1: earlier rows arrive after later ones
        [
            (12, _ts(1), 1, "poll", 1.0, None),
            (13, _ts(8), 1, "poll", 1.0, None),
            (21, _ts(2), 2, "poll", 1.0, None),
            (22, _ts(2), 2, "poll", 1.0, None),  # ts tie → event_id order
        ],
        # batch 2: an IN-WINDOW straggler (7.5 min > watermark 7 min →
        # buffered and reordered) and a BELOW-WATERMARK one (2 min ≤
        # 7 min → dropped by the event-time lateness gate before the
        # processor ever sees it)
        [
            (14, _ts(2), 1, "poll", 1.0, None),
            (15, _ts(7.5), 1, "poll", 1.0, None),
        ],
        # batch 3: sentinel advances the watermark past all real rows
        [
            (99, _ts(60 * 24), 99, "poll", 1.0, None),
        ],
    ]
    return _write_batches(spark, out, batches)


def test_tws_reorder_buffer_restores_event_time_order(spark, tmp_path_factory):
    """The ListState reorder buffer must emit every watermark-final
    event exactly once, per key, in (ts, event_id) order with a
    consecutive emit_seq — i.e. the stream output equals the batch
    sort of the same rows — while the above-watermark sentinel stays
    buffered. Third TWS operator: ListState + re-armed event-time
    timers (ValueState and TTL are covered by the state machine and
    throttle golden tests)."""
    from am_kinesis_pay_spark.streaming.tws_reorder import reorder_buffer_tws
    from am_kinesis_pay_spark.streaming.tws_state_machine import (
        ROCKSDB_PROVIDER,
        tws_available,
    )

    if not tws_available():
        pytest.skip(
            "transformWithState's Python worker protocol needs a protobuf "
            "runtime (see am_kinesis_pay_spark/compat.py)"
        )

    d = _stage_out_of_order_fixture(spark, str(tmp_path_factory.mktemp("ooo_tws")))
    saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        out = run_to_completion(
            reorder_buffer_tws(events_stream(spark, d), watermark="1 minute"),
            f"rob_{uuid.uuid4().hex[:6]}",
            "append",
        )
        rows = out.collect()
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", saved)
        shutil.rmtree(d, ignore_errors=True)

    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    # sentinel (above final watermark) must still be buffered, not emitted
    assert 99 not in by_user
    # the below-watermark straggler (event 14 at 2 min, arriving when
    # the watermark was already 7 min) is dropped by the lateness gate
    # — the reorder guarantee is bounded by the watermark delay
    assert all(r.event_id != 14 for r in rows)
    # every in-window event emitted exactly once, in event-time order,
    # with a consecutive per-key sequence — the batch-sort contract
    want = {
        1: [(12, _ts(1)), (11, _ts(3)), (10, _ts(5)), (15, _ts(7.5)), (13, _ts(8))],
        2: [(21, _ts(2)), (22, _ts(2)), (20, _ts(8))],
    }
    assert set(by_user) == set(want)
    for uid, expect in want.items():
        got = sorted(by_user[uid], key=lambda r: r.emit_seq)
        assert [r.emit_seq for r in got] == list(range(1, len(expect) + 1))
        assert [(r.event_id, r.ts) for r in got] == expect


def test_tws_map_state_counter_changelog_equals_batch_counts(spark, stream_dir):
    """The MapState per-(user, event_type) running counter must emit a
    monotone changelog whose LAST value per (user, type) equals the
    batch groupBy count — update-mode aggregation reconstructed on
    typed MapState. Fourth TWS operator: completes the typed-state
    surface (ValueState/ListState/MapState + TTL + timers)."""
    from am_kinesis_pay_spark.streaming.tws_state_machine import (
        ROCKSDB_PROVIDER,
        tws_available,
    )
    from am_kinesis_pay_spark.streaming.tws_type_counter import type_counter_tws
    from am_kinesis_pay_spark.tables import load

    if not tws_available():
        pytest.skip(
            "transformWithState's Python worker protocol needs a protobuf "
            "runtime (see am_kinesis_pay_spark/compat.py)"
        )

    saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        out = run_to_completion(
            type_counter_tws(events_stream(spark, stream_dir)),
            f"tc_{uuid.uuid4().hex[:6]}",
            "append",
        )
        rows = out.collect()
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", saved)

    # monotone changelog per (user, type): strictly increasing totals
    seen: dict[tuple, list] = {}
    for r in rows:
        seen.setdefault((r.user_id, r.event_type), []).append(r.running_count)
    for counts in seen.values():
        assert counts == sorted(set(counts)), counts
    # final value per (user, type) == the batch aggregate
    got_final = {k: max(v) for k, v in seen.items()}
    want = {
        (r.user_id, r.event_type): r.cnt
        for r in load(spark, SF_DIR, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got_final == want


def test_stream_static_enrich_matches_batch(spark, stream_dir):
    """Stream-static join: a readStream of purchases enriched against
    the static customer dim must equal the batch join exactly — and
    needs no watermark or state store (the static side broadcasts into
    each micro-batch)."""
    from am_kinesis_pay_spark.tables import load

    cust = load(spark, SF_DIR, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    ev = events_stream(spark, stream_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey).select(
        "event_id", "user_id", "c_name", "c_mktsegment", "value"
    )
    got = run_to_completion(joined, f"sse_{uuid.uuid4().hex[:6]}", "append")
    want = queries()["stream_static_enrich"](spark, SF_DIR)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_stream_outer_join_matches_batch(spark, stream_dir):
    """Stream-stream LEFT OUTER join with watermarks on both sides:
    unmatched clicks must eventually emit with NULL purchase columns
    (once the watermark passes click_ts + 5 min), and the final result
    multiset must equal the oracle-checked batch specification."""
    ev = events_stream(spark, stream_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("a_user"), F.col("ts").alias("a_ts"),
                F.col("event_id").alias("a_id"))
        .withWatermark("a_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"),
                F.col("event_id").alias("b_id"))
        .withWatermark("b_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES")),
        "leftOuter",
    ).select("a_id", "b_id")
    got = run_to_completion(joined, f"soj_{uuid.uuid4().hex[:6]}", "append")

    want = queries()["stream_outer_join"](spark, SF_DIR).select(
        F.col("click_id").alias("a_id"), F.col("purchase_id").alias("b_id")
    )
    got_rows = sorted((r.a_id, r.b_id) for r in got.collect())
    want_rows = sorted((r.a_id, r.b_id) for r in want.collect())
    # a final-watermark quirk: rows whose outer emission needs the
    # watermark to pass BEYOND the last event can stay in state when
    # the stream ends — tolerate missing tail NULL-rows only, never
    # wrong or extra pairs
    got_matched = [t for t in got_rows if t[1] is not None]
    want_matched = [t for t in want_rows if t[1] is not None]
    assert got_matched == want_matched
    got_nulls = {t[0] for t in got_rows if t[1] is None}
    want_nulls = {t[0] for t in want_rows if t[1] is None}
    assert got_nulls <= want_nulls
    # and the outer semantics genuinely fired: at least one NULL row
    assert got_nulls or not want_nulls


def test_stream_kmv_partials_through_delta_txn_equal_batch_sketch(
    spark, stream_dir, tmp_path_factory
):
    """Composes the round's three pieces end-to-end: each micro-batch
    computes a PARTIAL KMV sketch (K smallest md5 hashes per
    event_type within the batch), lands it exactly-once through the
    Delta txn action, and the merged table — re-truncated to K per
    type — must equal the direct batch K-minimum over ALL events. The
    merge identity is what makes KMV streamable (partials are K rows
    per key per batch, never raw traffic); append_txn is what makes
    the landing idempotent; the final equality is the proof both held.
    A manual replay of epoch 0 with poison rows must change nothing."""
    from pyspark.sql import Window as W

    from am_kinesis_pay_spark.sources.delta_protocol import DeltaProtocolTable
    from am_kinesis_pay_spark.tables import load

    K = 8
    tbl_path = str(tmp_path_factory.mktemp("kmv_delta"))
    tbl = DeltaProtocolTable(spark, tbl_path)
    tbl.create(
        spark.createDataFrame([], "event_type string, h string")
    )

    def partial_sketch(df):
        w = W.partitionBy("event_type").orderBy("h")
        return (
            df.select(
                "event_type",
                F.md5(F.col("user_id").cast("string")).alias("h"),
            )
            .distinct()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= K)
            .select("event_type", "h")
        )

    q = (
        events_stream(spark, stream_dir)
        .writeStream.outputMode("append")
        .option(
            "checkpointLocation",
            str(tmp_path_factory.mktemp("kmv_ckpt")),
        )
        .foreachBatch(
            lambda df, epoch: tbl.append_txn(
                partial_sketch(df), "kmv_stream", epoch
            )
        )
        .start()
    )
    q.processAllAvailable()
    q.stop()

    def topk(df):
        w = W.partitionBy("event_type").orderBy("h")
        return (
            df.distinct()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= K)
            .select("event_type", "h")
        )

    merged = sorted(map(tuple, topk(tbl.read()).collect()))
    direct = sorted(
        map(
            tuple,
            topk(
                load(spark, SF_DIR, "events").select(
                    "event_type",
                    F.md5(F.col("user_id").cast("string")).alias("h"),
                )
            ).collect(),
        )
    )
    assert merged == direct and len(merged) > 0

    # replay epoch 0 with poison: the txn high-water mark must no-op it
    poison = spark.createDataFrame(
        [("poison", "0" * 32)], "event_type string, h string"
    )
    assert tbl.append_txn(poison, "kmv_stream", 0) is False
    assert sorted(map(tuple, topk(tbl.read()).collect())) == direct


def test_stream_topk_two_phase_equals_batch(spark, stream_dir):
    """The aggregate-in-stream / rank-at-sink decomposition: a REAL
    readStream maintains the per-(window, type) counts (complete
    mode), the identical sink-side rank runs over the emitted frame,
    and the result must equal the fused batch query — plus the top-k
    laws (exactly <=3 per window, ranks dense from 1, ordered by
    count desc with event_type tie-break)."""
    from pyspark.sql import Window as W

    stream = (
        events_stream(spark, stream_dir)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )
    emitted = run_to_completion(
        stream, f"topk_{uuid.uuid4().hex[:6]}", "complete"
    )
    ranked = emitted.withColumn(
        "rnk",
        F.row_number()
        .over(
            W.partitionBy("window_start").orderBy(
                F.col("n_events").desc(), "event_type"
            )
        )
        .cast("int"),
    ).filter(F.col("rnk") <= 3)
    got = sorted(map(tuple, ranked.collect()))
    want = sorted(
        map(tuple, queries()["stream_topk_per_window"](spark, SF_DIR).collect())
    )
    assert got == want
    by_win = {}
    for w, et, n, r in got:
        by_win.setdefault(w, []).append((r, n, et))
    for w, rows in by_win.items():
        rows.sort()
        assert [r for r, _, _ in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 3
        counts = [(-n, et) for _, n, et in rows]
        assert counts == sorted(counts)


def test_stick_window_constants_agree():
    """The trailing-window literal is deliberately mirrored in three
    modules (batch entry, TWS processor, batch-equiv specification) to
    avoid decoration-time cross-module imports; this pin keeps them
    from drifting apart."""
    from am_kinesis_pay_spark.operators.integration import _STICK_WINDOW
    from am_kinesis_pay_spark.streaming.batch_equiv import _STICK_W
    from am_kinesis_pay_spark.streaming.tws_stickiness import STICK_WINDOW

    assert _STICK_WINDOW == STICK_WINDOW == _STICK_W


def test_tws_stickiness_changelog_equals_batch(spark, stream_dir):
    """Incremental DAU/MAU stickiness (VERDICT r9 #7): the
    transformWithStateInPandas delta changelog, summed per day and
    restricted to observed days, must equal the one-shot batch
    events_stickiness_dau_mau output exactly — regardless of how the
    stream was chopped into files (the fixture stages 6 arbitrary
    splits, so per-user activity arrives across several micro-batches
    and the MapState coverage diff does the exactly-once work)."""
    from am_kinesis_pay_spark.streaming.tws_state_machine import (
        ROCKSDB_PROVIDER,
        tws_available,
    )
    from am_kinesis_pay_spark.streaming.tws_stickiness import stickiness_tws

    if not tws_available():
        pytest.skip(
            "transformWithState's Python worker protocol needs a protobuf "
            "runtime (see am_kinesis_pay_spark/compat.py)"
        )

    saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        out = run_to_completion(
            stickiness_tws(events_stream(spark, stream_dir)),
            f"stick_{uuid.uuid4().hex[:6]}",
            "append",
        )
        rolled = (
            out.groupBy("day")
            .agg(
                F.sum("dau_delta").cast("bigint").alias("dau"),
                F.sum("mau_delta").cast("bigint").alias("mau"),
            )
            .filter(F.col("dau") >= 1)
            .select(
                "day",
                "dau",
                "mau",
                F.round(
                    F.col("dau").cast("double") / F.col("mau"), 6
                ).alias("stickiness"),
            )
        )
        got = sorted(map(tuple, rolled.collect()))
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", saved)

    want = sorted(
        map(tuple, queries()["events_stickiness_dau_mau"](spark, SF_DIR).collect())
    )
    assert got == want


def test_despike_twin_contracts_agree():
    """The Hampel/LOCF streaming twins share their contract with the
    batch entries three ways: the TWS module's literals mirror the
    batch constants, and the registered epoch-replay entries' oracle
    strings ARE the batch oracles (registry-shared, pinned here
    through the public API so they can never drift)."""
    from am_kinesis_pay_spark.operators.windows import _HAMPEL_K, _LOCF_MOD
    from am_kinesis_pay_spark.registry import oracle_sql
    from am_kinesis_pay_spark.streaming.tws_despike import (
        HAMPEL_K,
        HAMPEL_WINDOW,
        LOCF_MOD,
    )

    assert float(_HAMPEL_K) == HAMPEL_K
    assert _LOCF_MOD == LOCF_MOD
    assert HAMPEL_WINDOW == 7  # rowsBetween(-6, 0) in both plans
    o = oracle_sql()
    assert o["stream_hampel_incremental"] == o["win_hampel_filter"]
    assert o["stream_locf_incremental"] == o["win_locf_backfill"]


def _run_tws_upsert(spark, stream_df, name):
    """Start a TWS upsert-changelog query under RocksDB and drain it
    (shared harness for the despike/backfill goldens)."""
    from am_kinesis_pay_spark.streaming.tws_state_machine import ROCKSDB_PROVIDER

    saved = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        return run_to_completion(
            stream_df, f"{name}_{uuid.uuid4().hex[:6]}", "append"
        )
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", saved)


def test_tws_hampel_changelog_equals_batch(spark, stream_dir):
    """Incremental Hampel despike (VERDICT r10 #7): the
    transformWithStateInPandas UPSERT changelog, folded last-writer-
    wins per (segment, day), must equal the one-shot batch
    win_hampel_filter exactly — regardless of how the stream was
    chopped into files (per-segment day sums arrive across several
    micro-batches, so late partials force the processor to re-emit a
    day and its six followers with a higher seq; the fold keeps only
    the final recomputation)."""
    from am_kinesis_pay_spark.streaming.tws_despike import hampel_tws
    from am_kinesis_pay_spark.streaming.tws_state_machine import tws_available

    if not tws_available():
        pytest.skip(
            "transformWithState's Python worker protocol needs a protobuf "
            "runtime (see am_kinesis_pay_spark/compat.py)"
        )

    out = _run_tws_upsert(spark, hampel_tws(events_stream(spark, stream_dir)), "hamp")
    latest = (
        out.groupBy("event_type", "day")
        .agg(
            F.max_by(
                F.struct(
                    "v",
                    "n_window",
                    "rolling_med",
                    "rolling_mad",
                    "is_spike",
                    "despiked",
                ),
                "seq",
            ).alias("r")
        )
        .select("event_type", "day", "r.*")
    )
    got = sorted(map(tuple, latest.collect()))
    want = sorted(
        map(tuple, queries()["win_hampel_filter"](spark, SF_DIR).collect())
    )
    assert got == want


def test_tws_locf_panel_equals_batch(spark, stream_dir):
    """Incremental LOCF panel (VERDICT r10 #7): the TWS upsert
    changelog of raw (sum, count) day accumulators, folded last-
    writer-wins and densified by the batch entry's own _locf_densify,
    must equal the one-shot batch win_locf_backfill exactly. The mean
    and its half-up rounding happen engine-side AFTER the fold, so no
    Python float rounding enters the comparison."""
    from am_kinesis_pay_spark.operators.windows import _locf_densify
    from am_kinesis_pay_spark.streaming.tws_despike import locf_tws
    from am_kinesis_pay_spark.streaming.tws_state_machine import tws_available
    from am_kinesis_pay_spark.tables import load

    if not tws_available():
        pytest.skip(
            "transformWithState's Python worker protocol needs a protobuf "
            "runtime (see am_kinesis_pay_spark/compat.py)"
        )

    out = _run_tws_upsert(spark, locf_tws(events_stream(spark, stream_dir)), "locf")
    obs = (
        out.groupBy("event_type", "day")
        .agg(F.max_by(F.struct("s", "c"), "seq").alias("r"))
        .select(
            "event_type",
            "day",
            F.round(F.col("r.s").cast("double") / 100.0 / F.col("r.c"), 6)
            .cast("decimal(18,6)")
            .alias("obs"),
        )
    )
    filled = _locf_densify(load(spark, SF_DIR, "events"), obs)
    got = sorted(map(tuple, filled.collect()))
    want = sorted(
        map(tuple, queries()["win_locf_backfill"](spark, SF_DIR).collect())
    )
    assert got == want
