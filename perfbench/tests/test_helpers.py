"""Tests of the benchmark's own helpers (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import stats  # noqa: E402
import stream  # noqa: E402
from layers import PER_LAYER  # noqa: E402
from tracing import parse_metric  # noqa: E402


def _ticks(seed: int, n: int = 120) -> list[list[dict]]:
    g = datagen.PaymentStream(seed, rate=400, tick_s=0.25, compress=120)
    return [g.tick(i) for i in range(n)]


def test_stream_generator_same_seed_same_events():
    assert _ticks(5) == _ticks(5)
    assert _ticks(5) != _ticks(6)


def test_table_generator_same_seed_same_tables():
    a = datagen.build_tables(0.001)
    b = datagen.build_tables(0.001)
    assert set(a) == set(datagen.TABLES)
    for name in a:
        assert a[name].equals(b[name]), name
    assert a["lineitem"].num_rows == 6000
    users = a["events"].column("user_id").to_numpy()
    assert (users.min(), users.max()) == (0, 14)  # FIXTURES.md at sf0.001


def test_stream_generator_offers_about_the_rate():
    ticks = _ticks(1, n=400)
    per_s = sum(len(t) for t in ticks[200:]) / (200 * 0.25)
    assert 300 < per_s < 500


def test_percentile_rule_keeps_ten_samples_beyond():
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(99) == 75
    assert stats.tail_percentile(34) == 70
    assert stats.tail_percentile(1000) == 99
    assert stats.tail_percentile(999) == 95
    assert stats.tail_percentile(199) == 90
    assert stats.tail_percentile(200) == 95
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(39) == 70
    assert stats.tail_percentile(33) == 60
    assert stats.tail_percentile(25) == 60
    assert stats.tail_percentile(24) == 50
    assert stats.tail_percentile(10_000) == 99.9
    for n in range(20, 3000, 7):
        p = stats.tail_percentile(n)
        xs = list(range(n))
        cut = stats.percentile(xs, p)
        assert sum(x > cut for x in xs) >= 10
        higher = [q for q in stats.LADDER if q > p]
        if higher:
            cut = stats.percentile(xs, higher[0])
            assert sum(x > cut for x in xs) < 10


def test_min_samples_matches_the_rule():
    for p in stats.LADDER[1:]:
        n = stats.min_samples(p)
        assert stats.tail_percentile(n) >= p
        assert stats.tail_percentile(n - 1) < p
    assert stats.min_samples(60) == 25
    assert stats.min_samples(95) == 200


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 99) == 99
    assert stats.percentile([3.0], 99) == 3.0


def test_metric_names_and_units():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = [(m["name"], m["unit"]) for m in bench["end_to_end"] + bench["per_layer"]]
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(PER_LAYER)
    for name, unit in declared + list(PER_LAYER):
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit or ""), (name, unit)
    names = [n for n, _ in declared]
    assert len(names) == len(set(names))


def test_parse_metric_values():
    assert parse_metric("12.0 MiB", "size") == 12 * 2**20
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 2 ms, 3 ms)", "time") == 1.5
    assert parse_metric("450 ms", "time") == 0.45
    assert parse_metric("1,234", "count") == 1234
    assert parse_metric(None, "size") == 0.0


def _ev(eid, key, etype, ts_s, file, created=0.0):
    return {"event_id": eid, "user_id": key, "event_type": etype,
            "ts_us": int(ts_s * 1e6), "file": file, "created": created}


def test_reference_decisions_and_sink_check():
    base = 1_000_000
    events = [
        _ev(0, 1, "signup", base, "f0"),
        _ev(1, 1, "purchase", base + 60, "f0"),        # processed
        _ev(2, 2, "signup", base + 1, "f0"),
        _ev(3, 2, "error", base + 700, "f1"),          # outside the window
        _ev(4, 3, "signup", base + 2, "f0"),
        _ev(5, 3, "purchase", base + 100, "f2"),       # late: dropped
        _ev(6, 9, "view", base + 2000, "f2"),
    ]
    file_batch = {"f0": 0, "f1": 1, "f2": 2}
    # batch 2 filters with batch 1's watermark, which has passed key 3's purchase
    watermarks = {0: 0, 1: (base + 150) * 1000, 2: (base + 1400) * 1000}
    expected, undecidable, _ = stream.reference_decisions(events, file_batch, watermarks)
    assert expected[1] == ("processed", int((base + 60) * 1e6))
    assert expected[2] == ("expired", int((base + 601) * 1e6))
    assert expected[3] == ("expired", int((base + 602) * 1e6))
    assert 9 not in expected and not undecidable
    rows = [(k, s, t) for k, (s, t) in expected.items()]
    assert stream.check_sink(rows, expected, undecidable)["wrong"] == 0
    bad = stream.check_sink(rows[:-1] + [rows[0], (7, "expired", 0)], expected, undecidable)
    assert (bad["missing"], bad["duplicated"], bad["wrong"]) == (1, 1, 1)
