#!/usr/bin/env python3
"""Repository benchmark: run one named workload with one seed and print
its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload llm_serial --seed 1 --seconds 10 --trace 0

Workloads (see spec.json): ``olap_serial`` and ``llm_serial`` are
closed loops with one client over registered queries at sf0.1;
``payment_stream`` is an open-loop payment-status stream through the
package's state machine and idempotent sink.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` is the separate traced run and
reports the per-layer metrics and the tracing overhead.  Every run
checks the outputs it produced.  A human-readable report goes to
standard output first; the last line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.

The run keeps to its checkout: the generated tables live in
``perfbench/.data`` (built by the first run), every scratch location of
Spark, the JVM and the package points into a per-run directory under
``perfbench/.work`` that is deleted at the end, and spans and results
go to ``perfbench/.out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

SPEC_PATH = os.path.join(harness.BENCH_DIR, "spec.json")
E2E = ("setup_s", "cold_pass_s", "latency_p50_s", "latency_tail_s", "latency_mean_s")


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Setup:
    """Process start to session ready: JVM launch, session start, view
    registration and a warm-up query.  The JVM launch is timed by
    wrapping PySpark's gateway launcher."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.launch_s = 0.0
        self.parts: dict[str, float] = {}

    def run(self, data_s: float, tracer=None):
        """Returns (spark, setup_s); ``data_s`` (building the tables on
        a checkout's first run) is not set-up time."""
        import pyspark.context as ctx

        from am_kinesis_pay_spark.session import get_session
        from am_kinesis_pay_spark.tables import TABLES, load

        orig = ctx.launch_gateway

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                self.launch_s += time.perf_counter() - t0

        ctx.launch_gateway = timed
        try:
            age0 = process_age() - data_s
            t0 = time.perf_counter()
            spark = get_session("perfbench")
            t1 = time.perf_counter()
        finally:
            ctx.launch_gateway = orig
        for t in TABLES:
            load(spark, self.sf_dir, t).createOrReplaceTempView(t)
        spark.sql("SELECT count(*) FROM lineitem").write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        self.parts = {"before_session_s": age0, "launch_s": self.launch_s,
                      "session_s": t1 - t0 - self.launch_s, "views_warmup_s": t2 - t1}
        if tracer is not None:
            sid = tracer.add("setup", t0 - age0, t2)
            tracer.add("session.get_session", t0, t1, parent=sid, launch_s=self.launch_s)
            tracer.add("tables.load+warmup", t1, t2, parent=sid)
        return spark, age0 + (t2 - t0)


class Phases(dict):
    """Process age at the end of each phase of the run (run metadata)."""

    def mark(self, name: str) -> None:
        self[name] = round(process_age(), 2)


def fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def run_query_workload(spark, name: str, spec: dict, sf_dir: str, seed: int, seconds: float,
                       traced: bool, tracer, phases: Phases) -> dict:
    import queries as Q
    from stats import min_samples, percentile, tail_percentile
    from tracing import ArtifactLedger, SparkProbe

    sets = Q.load_sets()
    names = sets[name]
    probe = ledger = None
    if traced:
        probe = SparkProbe(spark)
        ledger = ArtifactLedger(tracer)
        ledger.install()
    try:
        loop = Q.Loop(spark, names, sf_dir, seed, tracer=tracer, probe=probe)
        phases.mark("loop_ready")
        timing = loop.run(seconds, min_samples(spec["tail_percentile"]))
        phases.mark("passes_done")
    finally:
        if ledger:
            ledger.uninstall()
    t_check = time.perf_counter()
    checks = Q.check_outputs(spark, names, sf_dir, sets["row_counts"])
    check_s = time.perf_counter() - t_check
    phases.mark("checks_done")
    warm = [s for s in loop.samples if s[0] > 0]
    lat = [s[2] + s[3] for s in warm]
    bad = {n: r for n, r in checks.items() if r != "ok"}
    out = {
        "cold_pass_s": timing["cold_pass_s"],
        "throughput_per_s": len(warm) / timing["warm_s"],
        "report": [],
        "latency_samples": lat,
        "attempted": len(loop.samples) + len(loop.errors) + len(checks),
        "failed": len(loop.errors) + len(bad),
        "notes": {"queries": len(names), "warm_passes": timing["warm_passes"],
                  "per_query_median_s": {
                      n: round(statistics.median(s[2] + s[3] for s in warm if s[1] == n), 4)
                      for n in names if any(s[1] == n for s in warm)},
                  "check_s": round(check_s, 2),
                  "errors": loop.errors[:5], "bad_checks": bad},
    }
    if lat:
        tail = spec["tail_percentile"]
        out["latency_p50_s"] = statistics.median(lat)
        out["latency_tail_s"] = percentile(lat, tail)
        out["latency_mean_s"] = statistics.fmean(lat)
        out["report"] = [
            ("query_p50_s", out["latency_p50_s"], "s", f"n={len(lat)}"),
            (f"query_p{tail:g}_s", out["latency_tail_s"], "s",
             f"n={len(lat)}; highest percentile with 10 samples beyond: "
             f"p{tail_percentile(len(lat)):g}"),
            ("query_mean_s", out["latency_mean_s"], "s", f"n={len(lat)}, every query equally"),
            ("queries_per_s", out["throughput_per_s"], "1/s", f"{timing['warm_passes']} warm passes"),
        ]
    if traced:
        mean = lambda key: sum(s[4][key] for s in warm) / len(warm) if warm else 0.0  # noqa: E731
        calls, builds, build_s = ledger.snapshot()
        out["layer"] = {
            "registry.plan_s": sum(s[2] for s in warm) / max(1, len(warm)),
            "registry.eager_jobs": mean("eager_jobs"),
            "tables.scan_s": mean("scan_s"),
            "tables.bytes_read": mean("bytes_read"),
            "tables.files_read": mean("files_read"),
            "operators.exec_s": sum(s[3] for s in warm) / max(1, len(warm)),
            "operators.jobs": mean("jobs"),
            "operators.tasks": mean("tasks"),
            "operators.task_s": mean("task_s"),
            "operators.shuffle_bytes": mean("shuffle_bytes"),
            "operators.spill_bytes": mean("spill_bytes"),
            "operators.gc_s": mean("gc_s"),
            "functions.python_run_s": mean("python_run_s"),
            "functions.python_start_s": mean("python_start_s"),
            "functions.python_bytes": mean("python_bytes"),
            "paths.artifact_calls": float(calls),
            "paths.artifact_builds": float(builds),
            "paths.artifact_build_s": build_s,
            "paths.artifact_hit_ratio": (calls - builds) / calls if calls else 0.0,
        }
    return out


def run_stream_workload(spark, spec: dict, work: str, seed: int, seconds: float,
                        traced: bool, tracer, phases: Phases) -> dict:
    import stream
    from stats import percentile
    from tracing import SparkProbe

    probe = SparkProbe(spark) if traced else None
    mark = probe.begin() if traced else None
    obs = stream.run(spark, work, seed, seconds, spec, traced, phases.mark)
    s = stream.summarize(obs, spec["tail_percentile"])
    phases.mark("checks_done")
    chk = s["check"]
    failed = chk["missing"] + chk["duplicated"] + chk["wrong"]
    lag = obs["gen"].lag_s
    lat = s["latency_samples"]
    limit = stream.LATENCY_LIMIT_S
    report = []
    if lat:
        for p in (50, spec["tail_percentile"], 99):
            value = percentile(lat, p)
            beyond = sum(x > value for x in lat)
            over = sum(x > limit for x in lat)
            report.append((f"decision_latency_p{p:g}_s", value, "s",
                           f"n={len(lat)}, {beyond} beyond; {over} over the {limit} s limit"))
    report += [
        ("events_per_s", s.get("throughput_per_s", 0.0), "1/s",
         f"offered {s['offered_per_s']:.1f}/s"),
        ("backlog_max_events", s["backlog_max_events"], "events",
         f"at commits: {s['backlog']}"),
    ]
    out = {
        "cold_pass_s": s["cold_pass_s"],
        "report": report,
        "latency_samples": lat,
        "latency_p50_s": s.get("latency_p50_s"),
        "latency_tail_s": s.get("latency_tail_s"),
        "latency_mean_s": s.get("latency_mean_s"),
        "attempted": chk["expected"] + max(0, chk["sink_rows"] - chk["expected"]),
        "failed": failed,
        "notes": {
            "check": chk,
            "offered_per_s": s["offered_per_s"],
            "backlog_at_commits": s["backlog"],
            "batches_rows_ms": [(p["numInputRows"], p["durationMs"].get("triggerExecution"))
                                for _, p in sorted(obs["progress"].items())],
            "generator_lag_max_s": max(lag, default=0.0),
            "generator_lag_p50_s": sorted(lag)[len(lag) // 2] if lag else 0.0,
        },
        "layer": s["layer"],
    }
    if traced:
        c = probe.end(mark)
        batches = max(1, len(obs["progress"]))  # the probe spans the whole stream run
        for k_out, k_in in (("operators.task_s", "task_s"), ("operators.tasks", "tasks"),
                            ("operators.gc_s", "gc_s"),
                            ("operators.shuffle_bytes", "shuffle_bytes"),
                            ("operators.spill_bytes", "spill_bytes"),
                            ("tables.scan_s", "scan_s"), ("tables.bytes_read", "bytes_read"),
                            ("tables.files_read", "files_read"),
                            ("functions.python_run_s", "python_run_s"),
                            ("functions.python_start_s", "python_start_s"),
                            ("functions.python_bytes", "python_bytes")):
            out["layer"][k_out] = c[k_in] / batches
        for epoch, (t0, t_mat, t1, _) in obs["sink_spans"].items():
            bid = tracer.add("stream.batch", t0, t1, epoch=epoch)
            tracer.add("streaming.state_machine", t0, t_mat, parent=bid)
            tracer.add("sink.process_batch", t_mat, t1, parent=bid)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = harness.missing_sources()
    if missing:
        print(f"perfbench: repository sources missing: {missing}", file=sys.stderr)
        return 2
    with open(SPEC_PATH) as fh:
        spec_all = json.load(fh)
    if args.workload not in spec_all["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = spec_all["workloads"][args.workload]
    traced = bool(args.trace)

    work = os.path.join(harness.WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.prepare_env(work)
    import bench  # steal and co-resident JVM sampling
    from procmon import TreeMonitor
    from tracing import Tracer

    phases = Phases()
    monitor = TreeMonitor()
    tracer = Tracer() if traced else None
    spark = None
    try:
        t = time.perf_counter()
        sf_dir = harness.tables_dir()
        data_s = time.perf_counter() - t
        phases.mark("data_ready")
        monitor.start()
        steal0 = bench._stat_sample()
        co_jvms = bench._co_jvms()
        setup = Setup(sf_dir)
        spark, setup_s = setup.run(data_s, tracer)
        phases.mark("setup_done")
        if args.workload == "payment_stream":
            res = run_stream_workload(spark, spec, work, args.seed, args.seconds, traced, tracer,
                                      phases)
        else:
            res = run_query_workload(spark, args.workload, spec, sf_dir, args.seed,
                                     args.seconds, traced, tracer, phases)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if monitor.is_alive():
            monitor.stop()
        if spark is None:  # failed inside set-up, after the JVM started
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        if spark is not None:
            harness.stop_spark(spark)
        harness.remove_work(work)
        phases.mark("stopped")
    steal = bench._steal_pct(steal0, bench._stat_sample())

    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": res.get("cold_pass_s"),
        "latency_p50_s": res.get("latency_p50_s"),
        "latency_tail_s": res.get("latency_tail_s"),
        "latency_mean_s": res.get("latency_mean_s"),
    }
    if any(v is None for v in e2e.values()):
        print(f"perfbench: metrics not measured: {e2e}", file=sys.stderr)
        return 1
    attempted, failed = res["attempted"], res["failed"]
    n_lat = len(res["latency_samples"])
    layer = {"session.start_s": setup.parts["session_s"],
             "session.launch_s": setup.launch_s,
             "proc.cpu_s": monitor.cpu_s, "proc.peak_rss_mb": monitor.peak_rss / 2**20,
             "proc.steal_pct": steal if steal is not None else -1.0}
    layer.update(res.get("layer", {}))
    # the traced run's own end-to-end figures, for the tracing overhead
    layer["trace.latency_p50_s"] = e2e["latency_p50_s"]
    layer["trace.latency_tail_s"] = e2e["latency_tail_s"]
    layer["trace.latency_mean_s"] = e2e["latency_mean_s"]

    os.makedirs(harness.OUT_DIR, exist_ok=True)
    last_path = os.path.join(harness.OUT_DIR, f"last-untraced-{args.workload}.json")
    overhead = None
    if traced:
        tracer.dump(os.path.join(harness.OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl"))
        if os.path.isfile(last_path):
            with open(last_path) as fh:
                base = json.load(fh)
            overhead = {k: e2e[k] - base[k] for k in E2E if k in base}
    else:
        with open(last_path, "w") as fh:
            json.dump(e2e, fh)

    names = spec_all["end_to_end"]
    print(f"== perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} sf={spec.get('sf', '-')}")
    print(f"   steal_pct={fmt(steal)} co_jvms={co_jvms} phases={json.dumps(phases)}")
    print(f"   notes={json.dumps(res['notes'], default=str)}")
    print(f"   setup parts={json.dumps({k: round(v, 3) for k, v in setup.parts.items()})}")
    print("   end-to-end metrics (BENCHMARK.json names):")
    for k in E2E:
        extra = f" n={n_lat}" if k.startswith("latency") else ""
        extra += f" p{spec['tail_percentile']:g}" if k == "latency_tail_s" else ""
        print(f"   {k:<24} {fmt(e2e[k]):>12} s{extra}  -- {names[k][:80]}")
    print("   the same and more under the workload's own names:")
    rows = [("setup_s", setup_s, "s", ""), ("cold_pass_s", e2e["cold_pass_s"], "s", "")]
    rows += res["report"]
    rows += [("peak_rss_mb", monitor.peak_rss / 2**20, "MB", "process tree"),
             ("failed_frac", failed / attempted, "ratio", f"{failed}/{attempted}")]
    for name, value, unit, note in rows:
        print(f"   {name:<24} {fmt(float(value)):>12} {unit:<6} {note}")
    if traced:
        for k in sorted(layer):
            print(f"   {k:<28} {fmt(float(layer[k])):>14}")
        print(f"   tracing overhead vs last untraced run: "
              f"{json.dumps(overhead) if overhead else 'no untraced run recorded in this checkout'}")

    if traced:
        from layers import PER_LAYER

        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": "s"} for k in E2E}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
