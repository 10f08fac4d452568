"""``olap_serial`` and ``llm_serial`` workloads: a closed loop with one
client running registered queries end to end.

One query execution is ``fn(spark, sf_dir)`` (build the plan - some
callables run eager jobs or build session artifacts here) followed by
a write to the ``noop`` sink (run it in full, no result transfer).
The first pass over the query set is the cold pass; whole warm
passes, each in a fresh seed-driven order, then start until the
measured time is used up.  Output checks run once per run, after the timed passes.
"""

from __future__ import annotations

import importlib.util
import json
import os
import random
import time
import traceback
from contextlib import nullcontext

from harness import BENCH_DIR, ROOT

QUERY_SETS = os.path.join(BENCH_DIR, "queries.json")


def load_sets() -> dict:
    with open(QUERY_SETS) as fh:
        return json.load(fh)


def _protocol():
    """The repository's comparison protocol (row count, sorted column
    names, order-insensitive value hash) from tools/correctness_full.py."""
    path = os.path.join(ROOT, "tools", "correctness_full.py")
    spec = importlib.util.spec_from_file_location("correctness_full", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_query(spark, fn, sf_dir: str) -> tuple[float, float]:
    """(plan seconds, execution seconds) of one end-to-end execution."""
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return t1 - t0, time.perf_counter() - t1


class Loop:
    """Closed loop over ``names``; records one sample per execution:
    ``(pass, name, plan_s, exec_s, counters)``, ``counters`` filled in
    the traced run only."""

    def __init__(self, spark, names: list[str], sf_dir: str, seed: int, tracer=None, probe=None):
        from am_kinesis_pay_spark.registry import queries

        fns = queries()
        self.spark, self.sf_dir = spark, sf_dir
        self.fns = {n: fns[n] for n in names}
        self.names = list(names)
        self.rng = random.Random(seed)
        self.tracer, self.probe = tracer, probe
        self.samples: list[tuple] = []
        self.errors: list[tuple[str, str]] = []

    def _one(self, pass_no: int, name: str) -> None:
        sc = self.spark.sparkContext
        counters = None
        try:
            if self.tracer is None:
                plan_s, exec_s = run_query(self.spark, self.fns[name], self.sf_dir)
            else:
                mark = self.probe.begin()
                with self.tracer.span("query", query=name):
                    sc.setJobGroup(f"plan:{name}:{pass_no}", name)
                    with self.tracer.span("registry.plan"):
                        t0 = time.perf_counter()
                        df = self.fns[name](self.spark, self.sf_dir)
                        t1 = time.perf_counter()
                    sc.setJobGroup(f"exec:{name}:{pass_no}", name)
                    with self.tracer.span("operators.exec"):
                        df.write.mode("overwrite").format("noop").save()
                        t2 = time.perf_counter()
                    sc.setLocalProperty("spark.jobGroup.id", None)
                plan_s, exec_s = t1 - t0, t2 - t1
                counters = self.probe.end(
                    mark, groups=(f"plan:{name}:{pass_no}", f"exec:{name}:{pass_no}")
                )
                counters["eager_jobs"] = counters.pop(f"jobs.plan:{name}:{pass_no}")
                counters["jobs"] = counters["eager_jobs"] + counters.pop(
                    f"jobs.exec:{name}:{pass_no}"
                )
            self.samples.append((pass_no, name, plan_s, exec_s, counters))
        except Exception:
            self.errors.append((name, traceback.format_exc(limit=3)))

    def run_pass(self, pass_no: int) -> float:
        order = list(self.names)
        self.rng.shuffle(order)
        t0 = time.perf_counter()
        with self.tracer.span("pass", pass_no=pass_no) if self.tracer else nullcontext():
            for name in order:
                self._one(pass_no, name)
        return time.perf_counter() - t0

    def run(self, seconds: float, min_samples: int = 0) -> dict:
        """Cold pass, then whole warm passes while ``seconds`` last and
        until there are ``min_samples`` warm samples, so every query has
        the same number of warm samples."""
        cold_s = self.run_pass(0)
        t0 = time.perf_counter()
        passes = 0
        while time.perf_counter() < t0 + seconds or passes * len(self.names) < min_samples:
            passes += 1
            self.run_pass(passes)
        return {"cold_pass_s": cold_s, "warm_s": time.perf_counter() - t0, "warm_passes": passes}


def duck_connection(sf_dir: str):
    import duckdb

    from am_kinesis_pay_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_outputs(spark, names: list[str], sf_dir: str, row_counts: dict) -> dict[str, str]:
    """Per query: ``"ok"`` or why not.  Oracle-bearing queries are
    compared with DuckDB at the benchmark's scale by the repository's
    own protocol; rows-only queries against their recorded row count."""
    from am_kinesis_pay_spark.registry import REGISTRY

    proto = _protocol()
    duck = duck_connection(sf_dir)
    out = {}
    try:
        for name in names:
            spec = REGISTRY[name]
            try:
                if spec.oracle is not None:
                    r = proto.check_one(spark, duck, spec, sf_dir)
                    bad = [k for k in ("rows_match", "schema_match", "hash_match") if not r[k]]
                    out[name] = "ok" if not bad else "mismatch: " + ",".join(bad)
                else:
                    n = len(spec.fn(spark, sf_dir).collect())
                    want = row_counts.get(name)
                    out[name] = "ok" if n == want else f"rows {n} != recorded {want}"
            except Exception as e:  # a failing query is a failed check
                out[name] = f"error: {type(e).__name__}: {str(e)[:200]}"
    finally:
        duck.close()
    return out
