"""Deterministic inputs for the benchmark.

Two generators:

* ``write_tables`` builds the ten fixture tables (FIXTURES.md §A
  schemas) at a given scale factor from a fixed seed, so that recorded
  row counts for rows-only queries stay valid across runs.  The
  distributions mirror the fixture generator: independent uniform
  columns, day-granular order/ship dates, a 30-word document
  vocabulary with near-duplicate documents, unit-norm 64-d embeddings.
* ``PaymentStream`` produces the payment-status event stream for the
  ``payment_stream`` workload from the run's ``--seed``.  Every event
  carries the wall-clock tick at which it is due to be offered, so
  decision latency can be measured from creation.
"""

from __future__ import annotations

import datetime as dt
import heapq
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
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
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
US_PER_DAY = 86_400_000_000

# payment stream shape (see PaymentStream)
TERMINAL_SHARE = 0.7  # payments decided by a terminal event; the rest expire
POLL_SHARE = 0.25  # share of the 10 s status polls that are sent
OOO_SHARE, OOO_MAX_S = 0.1, 1.0  # polls held back up to this many wall seconds
STRAGGLER_SHARE = 0.5  # expiring payments that get a terminal event after all
LATE_AFTER_S = 28.0  # wall seconds after creation a straggler is offered


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _days(rng, n: int, start: tuple, end: tuple) -> pa.Array:
    lo, hi = _epoch_us(*start), _epoch_us(*end)
    d = rng.integers(0, (hi - lo) // US_PER_DAY + 1, n)
    return pa.array(lo + d * US_PER_DAY, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _pick(rng, n: int, values) -> pa.Array:
    values = np.asarray(values, dtype=object)
    return pa.array(values[rng.integers(0, len(values), n)], pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


STREAM_BASE_US = _epoch_us(2026, 1, 1)


def build_tables(sf: float, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    n_users = max(15, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(
                rng, n_cust, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _pick(rng, n_part, [f"{a} {b}" for a in adjectives for b in nouns]),
            "p_brand": _pick(rng, n_part, [f"Brand#{i}" for i in range(1, 26)]),
            "p_type": _pick(
                rng, n_part, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, n_ord, ["F", "O", "P"]),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": _pick(
                rng, n_ord, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            ),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, n_li, ["A", "N", "R"]),
            "l_linestatus": _pick(rng, n_li, ["F", "O"]),
            "l_shipdate": _days(rng, n_li, (1995, 1, 2), (2001, 11, 4)),
        }
    )
    ev_ts = np.sort(rng.integers(_epoch_us(2024, 1, 1), _epoch_us(2024, 1, 31), n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(rng, n_ev, EVENT_TYPES),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()
            ),
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one token edit
            base = texts[int(rng.integers(0, i))].split()
            base[int(rng.integers(0, len(base)))] = "dup"
            texts.append(" ".join(base))
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n_words)))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                np.array(["en", "de", "es", "fr", "zh"], dtype=object)[
                    rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])
                ],
                pa.string(),
            ),
            "source": _pick(rng, n_doc, [f"src{i}" for i in range(20)]),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, sf: float, seed: int = TABLE_SEED) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``.  Writes into a
    sibling temp dir and renames, so a half-written dir is never read."""
    tmp = out_dir.rstrip("/") + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    os.replace(tmp, out_dir)


class PaymentStream:
    """Open-loop payment-status event source.

    Payments start at a steady rate chosen so that about ``rate`` events
    per second are offered.  Each emits a creation event (``signup``),
    ``POLL_SHARE`` of its status polls every 10 s of event time
    (``view``) and, unless it is to expire, one terminal event
    (``purchase`` -> processed, ``error`` -> rejected) inside its
    10-minute window.  Event time runs ``compress`` times faster than
    wall time.  A share of polls is held back for up to ``OOO_MAX_S``
    wall seconds (out of order but within the watermark); a share of
    expiring payments gets a straggler terminal event offered
    ``LATE_AFTER_S`` wall seconds later, after the watermark has
    usually passed it.

    ``tick(i)`` returns the events due at tick ``i`` as a list of
    dicts; the sequence depends only on the constructor arguments."""

    POLL_EVENT_S = 10
    EXPIRY_EVENT_S = 600

    def __init__(self, seed: int, rate: float, tick_s: float, compress: float):
        self.rng = np.random.default_rng(seed)
        self.rate, self.tick_s, self.compress = rate, tick_s, compress
        self._pending: list[tuple] = []  # (due_tick, seq, event)
        self._seq = 0
        self._next_key = 0
        self._event_id = 0
        # mean events per payment: creation + polls + terminal
        window_s = self.EXPIRY_EVENT_S
        mean_life = TERMINAL_SHARE * window_s / 2 + (1 - TERMINAL_SHARE) * window_s
        self._per_payment = 1 + mean_life / self.POLL_EVENT_S * POLL_SHARE + TERMINAL_SHARE
        self._carry = 0.0

    def _ts_us(self, tick: float) -> int:
        """Event time at a random point of ``tick``'s event-time span,
        in whole milliseconds (the engine's watermark and timeouts are
        ms-granular; the jitter keeps deadlines off the tick grid)."""
        span_ms = self.tick_s * self.compress * 1000
        ms = int((tick + self.rng.random()) * span_ms)
        return STREAM_BASE_US + ms * 1000

    def _push(self, due_tick: int, ts_us: int, key: int, etype: str):
        ev = {"ts_us": ts_us, "user_id": key, "event_type": etype}
        heapq.heappush(self._pending, (due_tick, self._seq, ev))
        self._seq += 1

    def _ticks(self, event_s: float) -> float:
        return event_s / self.compress / self.tick_s

    def _new_payment(self, tick: int) -> None:
        rng = self.rng
        key = self._next_key
        self._next_key += 1
        created = self._ts_us(tick)
        self._push(tick, created, key, "signup")
        if rng.random() < TERMINAL_SHARE:
            life_s = float(rng.uniform(5, self.EXPIRY_EVENT_S - 30))
            terminal = "purchase" if rng.random() < 0.8 else "error"
        else:
            life_s, terminal = float(self.EXPIRY_EVENT_S + 60), None
        # a share of the 10 s polls, so per-payment volume stays modest
        for k in range(1, int(life_s // self.POLL_EVENT_S) + 1):
            if rng.random() >= POLL_SHARE:
                continue
            t_ev = k * self.POLL_EVENT_S
            due = tick + int(np.ceil(self._ticks(t_ev)))
            ts = created + t_ev * 1_000_000
            if rng.random() < OOO_SHARE:
                due += int(np.ceil(rng.uniform(0, OOO_MAX_S) / self.tick_s))
            self._push(due, ts, key, "view")
        if terminal is not None:
            due = tick + int(np.ceil(self._ticks(life_s)))
            self._push(due, created + int(life_s * 1000) * 1000, key, terminal)
        elif rng.random() < STRAGGLER_SHARE:
            t_ev = float(rng.uniform(300, self.EXPIRY_EVENT_S - 30))
            due = tick + int(np.ceil(LATE_AFTER_S / self.tick_s))
            self._push(due, created + int(t_ev * 1000) * 1000, key, "purchase")

    def tick(self, i: int) -> list[dict]:
        """Events offered at tick ``i`` (ticks must be consumed in order)."""
        self._carry += self.rate * self.tick_s / self._per_payment
        n_new = int(self._carry)
        self._carry -= n_new
        for _ in range(n_new):
            self._new_payment(i)
        out = []
        while self._pending and self._pending[0][0] <= i:
            ev = dict(heapq.heappop(self._pending)[2], event_id=self._event_id)
            self._event_id += 1
            out.append(ev)
        return out


def events_table(events: list[dict]) -> pa.Table:
    """Arrow table in the stream's EVENT_SCHEMA column order."""
    return pa.table(
        {
            "event_id": pa.array([e["event_id"] for e in events], pa.int64()),
            "ts": pa.array([e["ts_us"] for e in events], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([e["user_id"] for e in events], pa.int64()),
            "event_type": pa.array([e["event_type"] for e in events], pa.string()),
            "value": pa.array([1.0] * len(events), pa.float64()),
            "props": pa.array(['{"k": 0}'] * len(events), pa.string()),
        }
    )
