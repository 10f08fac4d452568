"""``payment_stream`` workload: an open-loop payment-status stream.

A generator thread writes one parquet file per tick into the stream's
input directory at a fixed offered rate.  The stream is the package's
own pipeline::

    runner.events_stream -> state_machine.payment_state_machine
        -> foreachBatch(foreach_sink.IdempotentKeyedSink.process_batch)

in append mode (``IdempotentKeyedSink.attach`` uses update mode, which
the state machine rejects).  After the measured window the generator
and the stream stop, and the sink is checked against a reference
recomputed from the generator's own event log over the files the
committed batches read (``reference_decisions``).
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import statistics
import threading
import time

import pyarrow.parquet as pq

from datagen import PaymentStream, events_table

EXPIRY_MS = 600_000
WATERMARK_MS = 600_000  # payment_state_machine's default "10 minutes"
LATENCY_LIMIT_S = 10.0  # the reference's status-poll cadence
# the window opens at the commit of the catch-up batch after the cold
# first one, and holds at least this many further commits, so the
# processed rate and the backlog trend rest on five commits
WARMUP_BATCHES = 2
MIN_WINDOW_COMMITS = 4
WARMUP_TIMEOUT_S = 60.0
WINDOW_MAX_S = 60.0


class Generator(threading.Thread):
    """Writes ``PaymentStream`` ticks on a fixed schedule (open loop).

    Each event's creation time is the scheduled time of its tick, so a
    stall in the generator or the engine counts against latency.  How
    late the writes ran behind schedule is kept in ``lag_s``."""

    def __init__(self, source: PaymentStream, in_dir: str, stage_dir: str, t0: float):
        super().__init__(name="payment-generator", daemon=True)
        self.source, self.in_dir, self.stage_dir, self.t0 = source, in_dir, stage_dir, t0
        self.tick_s = source.tick_s
        self.stop_event = threading.Event()
        self.events: list[dict] = []  # every offered event, in offer order
        self.files: list[tuple[str, float, int]] = []  # (name, due time, n events)
        self.lag_s: list[float] = []
        self.error: BaseException | None = None
        self._lock = threading.Lock()

    def offered_by(self, t: float) -> int:
        """Events whose file was written at or before ``t``."""
        with self._lock:
            return sum(n for _, due, n in self.files if due <= t)

    def run(self) -> None:
        try:
            i = 0
            while not self.stop_event.is_set():
                due = self.t0 + i * self.tick_s
                delay = due - time.perf_counter()
                if delay > 0 and self.stop_event.wait(delay):
                    break
                evs = self.source.tick(i)
                if evs:
                    name = f"tick-{i:06d}.parquet"
                    staged = os.path.join(self.stage_dir, name)
                    pq.write_table(events_table(evs), staged)
                    os.rename(staged, os.path.join(self.in_dir, name))
                    for e in evs:
                        e["file"] = name
                        e["created"] = due
                    with self._lock:
                        self.events.extend(evs)
                        self.files.append((name, due, len(evs)))
                self.lag_s.append(time.perf_counter() - due)
                i += 1
        except BaseException as e:  # surfaced by the caller after join
            self.error = e


def _read_log_dir(path: str) -> dict[int, list[str]]:
    """Spark metadata log: ``<batchId>`` (or ``<batchId>.compact``)
    files of a version line followed by JSON lines."""
    out: dict[int, list[str]] = {}
    for f in glob.glob(os.path.join(path, "*")):
        base = os.path.basename(f).split(".")[0]
        if not base.isdigit():
            continue
        with open(f) as fh:
            out[int(base)] = fh.read().splitlines()[1:]
    return out


def batch_files(checkpoint: str) -> dict[str, int]:
    """Input file name -> batch id, from the file source's log."""
    out: dict[str, int] = {}
    for lines in _read_log_dir(os.path.join(checkpoint, "sources", "0")).values():
        for line in lines:
            rec = json.loads(line)
            out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def batch_watermarks(checkpoint: str) -> dict[int, int]:
    """Batch id -> event-time watermark (ms) that batch ran with."""
    out = {}
    for bid, lines in _read_log_dir(os.path.join(checkpoint, "offsets")).items():
        out[bid] = int(json.loads(lines[0])["batchWatermarkMs"])
    return out


def reference_decisions(
    events: list[dict], file_batch: dict[str, int], watermarks: dict[int, int]
) -> tuple[dict, set, dict]:
    """Expected sink contents recomputed from the generator's log.

    An event is dropped when the watermark it is filtered by has
    reached it (``ts <= watermark``).  The engine filters late rows with
    the previous batch's watermark and evicts state (fires timeouts)
    with the current one.  Over the kept
    events each key follows ``stream_state_machine_batch``: created at
    its earliest event, decided by the first terminal event within 10
    minutes (``purchase`` wins a tie), otherwise expired at created +
    10 minutes - but only once the final watermark has passed that
    deadline (the event-time timeout fires strictly after it).

    Returns ``(expected, undecidable, deciders)``: key -> (state,
    decided_at_us); keys whose deadline equals the final watermark
    (either outcome is legal); key -> (deciding event, batch id)."""
    final_wm = max(watermarks.values())
    keep: dict[int, list[dict]] = {}
    for e in events:
        b = file_batch.get(e["file"])
        if b is None:
            continue  # not read by a committed batch
        if e["ts_us"] <= watermarks.get(b - 1, 0) * 1000:
            continue
        keep.setdefault(e["user_id"], []).append(e)
    expected, undecidable, deciders = {}, set(), {}
    # first event that lifts the running max event time past each
    # deadline + watermark delay: it "decides" an expiry
    order = sorted(events, key=lambda e: (e["created"], e["event_id"]))
    max_ts, lifts = 0, []
    for e in order:
        if e["ts_us"] > max_ts:
            max_ts = e["ts_us"]
            lifts.append((max_ts, e))
    lift_ts = [m for m, _ in lifts]
    by_wm = sorted(watermarks.items())
    for key, evs in keep.items():
        created = min(e["ts_us"] for e in evs)
        deadline = created + EXPIRY_MS * 1000
        terms = [e for e in evs if e["event_type"] in ("purchase", "error") and e["ts_us"] <= deadline]
        if terms:
            first = min(terms, key=lambda e: (e["ts_us"], e["event_type"] != "purchase"))
            state = "processed" if first["event_type"] == "purchase" else "rejected"
            expected[key] = (state, first["ts_us"])
            deciders[key] = (first, file_batch[first["file"]])
            continue
        deadline_ms = deadline // 1000
        if deadline_ms == final_wm:
            undecidable.add(key)
        elif deadline_ms < final_wm:
            expected[key] = ("expired", deadline)
            bid = next(b for b, wm in by_wm if wm > deadline_ms)
            j = bisect.bisect_right(lift_ts, (deadline_ms + WATERMARK_MS) * 1000)
            deciders[key] = (lifts[j][1] if j < len(lifts) else None, bid)
    return expected, undecidable, deciders


def check_sink(rows: list[tuple], expected: dict, undecidable: set) -> dict:
    """Compare sink rows (user_id, final_state, decided_at_us) with the
    reference: every expected key exactly once with the same state and
    decision time; no other key."""
    seen: dict[int, int] = {}
    wrong = 0
    for key, state, decided_us in rows:
        seen[key] = seen.get(key, 0) + 1
        if key in undecidable:
            continue
        if expected.get(key) != (state, decided_us):
            wrong += 1
    duplicated = sum(1 for n in seen.values() if n > 1)
    missing = sum(1 for k in expected if k not in seen)
    return {
        "expected": len(expected),
        "sink_rows": len(rows),
        "missing": missing,
        "duplicated": duplicated,
        "wrong": wrong,
        "undecidable": len(undecidable),
    }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def run(spark, work_dir: str, seed: int, seconds: float, cfg: dict, traced: bool, mark) -> dict:
    """Run the stream until ``WARMUP_BATCHES`` sink batches have
    committed, then measure for ``seconds`` and until
    ``MIN_WINDOW_COMMITS`` more have committed, stop, and return raw
    observations.  ``mark(phase)`` records when each phase ends."""
    from am_kinesis_pay_spark.streaming.foreach_sink import IdempotentKeyedSink
    from am_kinesis_pay_spark.streaming.runner import events_stream
    from am_kinesis_pay_spark.streaming.state_machine import payment_state_machine

    in_dir = os.path.join(work_dir, "stream_in")
    stage_dir = os.path.join(work_dir, "stream_stage")
    ckpt = os.path.join(work_dir, "stream_ckpt")
    sink_path = os.path.join(work_dir, "stream_sink")
    for d in (in_dir, stage_dir):
        os.makedirs(d, exist_ok=True)

    sink = IdempotentKeyedSink(spark, sink_path, ["user_id"])
    commits: dict[int, float] = {}  # epoch -> time the sink batch returned
    # traced run: epoch -> (start, state machine materialised, sink done, sink bytes)
    sink_spans: dict[int, tuple[float, float, float, int]] = {}

    # Once stopping is set no batch reaches the sink, and stopping waits
    # for a batch inside the sink to finish, so stopping the query never
    # interrupts a sink rewrite.  A skipped batch is not in ``commits``.
    # The commit that fills the window sets it, so no later batch starts
    # a sink write the stop would have to wait for.
    stopping = threading.Event()
    in_sink = threading.Lock()
    window: dict[str, float] = {}  # "m0", "n0" (commits before it), once warm

    def window_full(now: float) -> bool:
        return bool(window) and now >= window["m0"] + seconds and (
            len(commits) - window["n0"] >= MIN_WINDOW_COMMITS
        )

    def on_batch(batch_df, epoch_id: int) -> None:
        if stopping.is_set():
            # consume the frame (the engine requires every partition to
            # run) without touching the sink
            batch_df.write.mode("overwrite").format("noop").save()
            return
        with in_sink:
            if stopping.is_set():
                batch_df.write.mode("overwrite").format("noop").save()
                return
            t0 = time.perf_counter()
            if traced:
                # materialise the state machine's output first so its
                # time is not charged to the sink
                batch_df = batch_df.cache()
                batch_df.count()
                t_mat = time.perf_counter()
            sink.process_batch(batch_df, epoch_id)
            t1 = commits[epoch_id] = time.perf_counter()
            if traced:
                batch_df.unpersist()
                sink_spans[epoch_id] = (t0, t_mat, t1, _dir_bytes(sink_path))
            if window_full(t1):
                stopping.set()

    source = PaymentStream(seed, rate=cfg["rate_events_per_s"], tick_s=cfg["tick_s"],
                           compress=cfg["event_time_compression"])
    t_start = time.perf_counter()
    gen = Generator(source, in_dir, stage_dir, t_start)
    gen.start()
    stream = payment_state_machine(events_stream(spark, in_dir, max_files_per_trigger=100_000))
    query = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=cfg["trigger"])
        .foreachBatch(on_batch)
        .start()
    )
    progress: dict[int, dict] = {}

    def poll_progress():
        for p in query.recentProgress:
            progress[p["batchId"]] = p

    try:
        deadline = t_start + WARMUP_TIMEOUT_S
        while len(commits) < WARMUP_BATCHES:
            if gen.error is not None or query.exception() is not None:
                break
            if time.perf_counter() > deadline:
                raise RuntimeError("stream did not warm up in time")
            time.sleep(0.05)
        mark("stream_warm")
        window.update(m0=time.perf_counter(), n0=len(commits))
        m0 = window["m0"]
        while True:
            # read first: every commit counted is then before ``m1``
            closed = stopping.is_set() or window_full(time.perf_counter())
            m1 = time.perf_counter()
            if closed or m1 >= m0 + WINDOW_MAX_S:
                break
            if gen.error is not None or query.exception() is not None:
                break
            time.sleep(0.1)
            poll_progress()
        stopping.set()
        mark("window_done")
        gen.stop_event.set()
        gen.join(timeout=30)
        if gen.error is not None:
            raise gen.error
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        # the engine reports a batch's progress just after its sink commit
        deadline = time.perf_counter() + 5.0
        while max(commits) not in progress and time.perf_counter() < deadline:
            time.sleep(0.05)
            poll_progress()
    finally:
        stopping.set()
        with in_sink:
            pass
        query.stop()
        gen.stop_event.set()
        gen.join(timeout=30)
    mark("stream_stopped")
    rows = [
        (r["user_id"], r["final_state"], r["decided_us"])
        for r in sink.read().selectExpr(
            "user_id", "final_state", "unix_micros(decided_at) AS decided_us"
        ).collect()
    ]
    done = set(commits)
    return {
        "t_start": t_start,
        "m0": m0,
        "m1": m1,
        "gen": gen,
        "commits": commits,
        "sink_spans": sink_spans,
        "sink_final_bytes": _dir_bytes(sink_path),
        "progress": progress,
        "file_batch": {f: b for f, b in batch_files(ckpt).items() if b in done},
        "watermarks": {b: w for b, w in batch_watermarks(ckpt).items() if b in done},
        "sink_rows": rows,
    }


def summarize(obs: dict, tail_pct: float) -> dict:
    """End-to-end figures, per-layer figures and the output check of
    one stream run."""
    from stats import percentile

    gen, commits, progress = obs["gen"], obs["commits"], obs["progress"]
    m0, m1 = obs["m0"], obs["m1"]
    expected, undecidable, deciders = reference_decisions(
        gen.events, obs["file_batch"], obs["watermarks"]
    )
    check = check_sink(obs["sink_rows"], expected, undecidable)
    window = sorted(b for b, t in commits.items() if m0 < t <= m1)
    # every decision committed in the window
    lat = [commits[b] - e["created"] for e, b in deciders.values()
           if e is not None and b in set(window)]
    rows_in = dict.fromkeys(commits, 0)  # input events per committed batch
    for name, _, n in gen.files:
        if name in obs["file_batch"]:
            rows_in[obs["file_batch"][name]] += n
    # the window's commits, anchored by the last one at or before m0
    before = [b for b, t in commits.items() if t <= m0]
    in_window = [max(before)] * bool(before) + window
    first_data = min((b for b, n in rows_in.items() if n > 0), default=None)
    processed = {}
    total = 0
    for b in sorted(commits):
        total += rows_in[b]
        processed[b] = total
    out = {
        "latency_samples": lat,
        "cold_pass_s": commits[first_data] - obs["t_start"] if first_data is not None else None,
        "check": check,
    }
    if len(in_window) >= 2:
        # least-squares slope of processed events over commit time
        xs = [commits[b] for b in in_window]
        ys = [processed[b] for b in in_window]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        out["throughput_per_s"] = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )
    backlog = [gen.offered_by(commits[b]) - processed[b] for b in in_window]
    out["backlog_max_events"] = max(backlog, default=0)
    out["backlog"] = backlog
    offered = [n for _, due, n in gen.files if m0 <= due < m1]
    out["offered_per_s"] = sum(offered) / (m1 - m0)
    if lat:
        out["latency_p50_s"] = statistics.median(lat)
        out["latency_tail_s"] = percentile(lat, tail_pct)
        out["latency_mean_s"] = statistics.fmean(lat)
    # per-layer, from the engine's progress reports of every batch
    # committed after the warm-up
    ps = [progress[b] for b in sorted(progress) if commits.get(b, 0) > m0]
    dur = [p["durationMs"] for p in ps]
    data = [p for p in ps if p["numInputRows"] > 0]
    ops = [p["stateOperators"][0] for p in ps if p.get("stateOperators")]
    last = progress[max(progress)]["stateOperators"][0] if progress else {}
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
    layer = {
        "streaming.batch_s": mean([d.get("triggerExecution", 0) / 1000 for d in dur]),
        "streaming.plan_s": mean([d.get("queryPlanning", 0) / 1000 for d in dur]),
        "streaming.wal_s": mean(
            [(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000 for d in dur]
        ),
        "streaming.batches": float(len(ps)),
        "streaming.empty_batches": float(len(ps) - len(data)),
        "streaming.rows_per_batch": mean([p["numInputRows"] for p in data]),
        "streaming.busy_frac": sum(d.get("triggerExecution", 0) for d in dur) / 1000
        / max(1e-9, max(commits.values()) - m0),
        "streaming.state_rows": float(last.get("numRowsTotal", 0)),
        "streaming.state_bytes": float(last.get("memoryUsedBytes", 0)),
        "streaming.state_commit_s": mean([o.get("commitTimeMs", 0) / 1000 for o in ops]),
        "streaming.rows_dropped_late": float(
            sum(p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
                for p in progress.values() if p.get("stateOperators"))
        ),
        "streaming.backlog_max_events": float(out["backlog_max_events"]),
    }
    spans = obs["sink_spans"]
    if spans:
        win = [spans[b] for b in sorted(spans) if spans[b][2] > m0]
        written = sum(s[3] for s in spans.values())
        layer.update(
            {
                "streaming.state_machine_s": mean([s[1] - s[0] for s in win]),
                "sink.batch_s": mean([s[2] - s[1] for s in win]),
                "sink.bytes_written": float(written),
                "sink.write_amp": written / obs["sink_final_bytes"] if obs["sink_final_bytes"] else 0.0,
            }
        )
    layer["streaming.events_per_s"] = out.get("throughput_per_s", 0.0)
    out["layer"] = layer
    return out
