"""Per-payment state machine as a custom stateful streaming operator
(SURVEY.md §2.9 stream_state_machine).

Reference semantics (kinesis-pay.php):
- a payment starts ``pending`` at its first observed event (:231-236);
- the first terminal event decides it: 'purchase' → processed,
  'error' → rejected (:239-249, :323);
- only the FIRST transition to processed fires the confirm/approve side
  effects — exactly-once, keyed by globalPaymentId (:515-518, :323-346);
- if nothing terminal arrives before created_at + 10 minutes the
  payment expires (:210, :245-249); the browser's 630 s failsafe timer
  (:264-268) maps to the state-timeout below.

Implementation: ``applyInPandasWithState`` with EventTimeTimeout — the
idiomatic Spark shape for custom per-key state. State is one small
(created_us, decided) tuple per key. Only an undecided key arms a
timeout, so only undecided keys are GC'd (when the watermark passes
their deadline they emit 'expired' and are removed). A decided key
sets no timeout and stays in state for good, so that late polls for it
are ignored: state grows with every key ever seen, not with the active
payments, and one micro-batch touches only the keys in its input.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

EXPIRY_US = 10 * 60 * 1_000_000  # kinesis-pay.php:210 — 10-minute deadline

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("final_state", T.StringType()),
        T.StructField("decided_at", T.TimestampType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("created_us", T.LongType()),
        T.StructField("decided", T.BooleanType()),
    ]
)


def _decide(pdf: pd.DataFrame, created_us: int):
    """First terminal event within the deadline, if any: returns
    (state, decided_us) or None. Terminals are ordered by
    (ts, event_type != 'purchase'), so a purchase and an error at the
    same instant decide 'processed' whatever their row order — as
    stream_state_machine_batch does (first_processed <= first_rejected)."""
    deadline_us = created_us + EXPIRY_US
    ts_us = (pdf["ts"].astype("int64") // 1_000).to_numpy()
    in_window = ts_us <= deadline_us
    purchase = pdf["event_type"].isin(["purchase"]).to_numpy()
    terminal = pdf["event_type"].isin(["purchase", "error"]).to_numpy() & in_window
    if not terminal.any():
        return None
    first_us = ts_us[terminal].min()
    purchase_first = (purchase & terminal & (ts_us == first_us)).any()
    return ("processed" if purchase_first else "rejected"), int(first_us)


def payment_state_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        created_us, decided = state.get
        state.remove()
        if not decided:
            # deadline passed with no terminal event → expired
            # (kinesis-pay.php:245-249 expiry redirect path)
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "final_state": ["expired"],
                    "decided_at": [
                        pd.Timestamp(created_us + EXPIRY_US, unit="us")
                    ],
                }
            )
        return

    pdf = pd.concat(list(pdfs), ignore_index=True)
    ts_us = (pdf["ts"].astype("int64") // 1_000).min()
    if state.exists:
        created_us, decided = state.get
        created_us = min(created_us, int(ts_us))
    else:
        created_us, decided = int(ts_us), False

    if decided:
        # exactly-once: terminal transition already fired
        # (kinesis-pay.php:515-518) — ignore late polls
        state.update((created_us, True))
        return

    result = _decide(pdf, created_us)
    if result is not None:
        final_state, decided_us = result
        state.update((created_us, True))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "final_state": [final_state],
                "decided_at": [pd.Timestamp(decided_us, unit="us")],
            }
        )
    else:
        deadline_us = created_us + EXPIRY_US
        watermark_us = state.getCurrentWatermarkMs() * 1000
        if watermark_us >= deadline_us:
            # watermark already passed the deadline — no in-window
            # terminal can still arrive; decide expired right now
            # (arming a timeout below the watermark is illegal)
            state.update((created_us, True))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "final_state": ["expired"],
                    "decided_at": [pd.Timestamp(deadline_us, unit="us")],
                }
            )
        else:
            state.update((created_us, False))
            # 630 s browser-failsafe analog: event-time timeout at the
            # deadline so 'expired' fires even if polls stop arriving
            # (kinesis-pay.php:264-268)
            # GroupState timeouts are millisecond-granular; round UP so
            # the timeout never fires before the true deadline
            state.setTimeoutTimestamp((deadline_us + 999) // 1000)


def payment_state_machine(events_stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Wire the state function onto a (possibly unbounded) events frame
    keyed by user_id (the globalPaymentId stand-in)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            payment_state_fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
