"""Choose the query sets of ``olap_serial`` and ``llm_serial`` and record
the row counts of their rows-only queries into ``queries.json``.

Usage::

    python3 perfbench/select_queries.py

Runs every candidate once traced (cold) and once more (warm) on the
generated sf0.1 tables, then checks its output, and keeps

* olap: oracle-bearing ``operators/*`` and ``sources/*`` queries whose
  traced run shows no Python-worker time and no artifact build;
* llm: ``llm/*`` and ``functions/udtf_ops`` queries whose traced run
  builds a session artifact or uses Python workers;

A query that raises is left out (``excluded``); one whose output check
fails stays in its pool and, when drawn, counts in ``failed`` of every
run.  From each pool a fixed-seed sample is drawn until the warm pass
fits its budget (for llm, queries that build an artifact first, up to a
share of the budget, then Python-worker users).  The full per-query
table is written to ``.out/selection.json``.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

# warm-pass budgets (seconds on a 4-core host): a run's measured window
# then holds several passes, enough samples for the tail percentile
OLAP_PASS_S = 3.5
LLM_PASS_S = 2.1
LLM_ARTIFACT_PASS_S = 0.75
# per-query limits that keep one run's cold pass and checks short
MAX_WARM_S = 0.35
MAX_LLM_WARM_S = 0.5
MAX_LLM_COLD_S = 2.5
MAX_ARTIFACT_COLD_S = 5.0  # artifact builds are what the cold pass is for
MAX_CHECK_S = 1.3
SAMPLE_SEED = 7


def family(module: str) -> str | None:
    parts = module.split(".")
    if parts[1] in ("operators", "sources"):
        return "olap"
    if parts[1] == "llm" or module.endswith("functions.udtf_ops"):
        return "llm"
    return None


def measure(spark, names, sf_dir) -> dict:
    from am_kinesis_pay_spark.registry import REGISTRY, queries
    from queries import check_outputs, run_query
    from tracing import ArtifactLedger, SparkProbe

    fns = queries()
    probe = SparkProbe(spark)
    ledger = ArtifactLedger()
    ledger.install()
    out = {}
    for i, name in enumerate(names):
        rec = {"family": family(REGISTRY[name].fn.__module__), "oracle": REGISTRY[name].oracle is not None}
        try:
            mark = probe.begin()
            before = ledger.snapshot()
            t0 = time.perf_counter()
            run_query(spark, fns[name], sf_dir)
            rec["cold_s"] = time.perf_counter() - t0
            c = probe.end(mark)
            rec["python_run_s"] = c["python_run_s"]
            rec["python_bytes"] = c["python_bytes"]
            rec["artifact_builds"] = ledger.snapshot()[1] - before[1]
            t0 = time.perf_counter()
            run_query(spark, fns[name], sf_dir)
            rec["warm_s"] = time.perf_counter() - t0
            if not rec["oracle"]:
                rec["rows"] = len(fns[name](spark, sf_dir).collect())
            t0 = time.perf_counter()
            rec["check"] = check_outputs(spark, [name], sf_dir, {name: rec.get("rows")})[name]
            rec["check_s"] = time.perf_counter() - t0
        except Exception as e:
            rec["check"] = f"error: {type(e).__name__}: {str(e)[:200]}"
        out[name] = rec
        print(i, name, json.dumps(rec), flush=True)
    ledger.uninstall()
    return out


def sample(pool: dict, budget_s: float) -> list[str]:
    """Fixed-seed sample of ``pool`` whose warm times fit ``budget_s``."""
    names = sorted(pool)
    random.Random(SAMPLE_SEED).shuffle(names)
    chosen, total = [], 0.0
    for n in names:
        if total + pool[n]["warm_s"] <= budget_s:
            chosen.append(n)
            total += pool[n]["warm_s"]
    return sorted(chosen)


def _ran(rec: dict) -> bool:
    return not rec["check"].startswith("error")


def pools(table: dict) -> tuple[dict, dict]:
    ran = {n: r for n, r in table.items() if _ran(r)}
    olap = {
        n: r for n, r in ran.items()
        if r["family"] == "olap" and r["oracle"] and r["python_run_s"] == 0
        and r["python_bytes"] == 0 and r["artifact_builds"] == 0
        and r["warm_s"] <= MAX_WARM_S and r.get("check_s", 0) <= MAX_CHECK_S
    }
    llm = {
        n: r for n, r in ran.items()
        if r["family"] == "llm"
        and (r["artifact_builds"] > 0 or r["python_run_s"] > 0 or r["python_bytes"] > 0)
        and r["cold_s"] <= (MAX_ARTIFACT_COLD_S if r["artifact_builds"] else MAX_LLM_COLD_S)
        and r.get("check_s", 0) <= MAX_CHECK_S and r["warm_s"] <= MAX_LLM_WARM_S
    }
    return olap, llm


def write_sets(table: dict) -> None:
    olap, llm = pools(table)
    artifact = sample({n: r for n, r in llm.items() if r["artifact_builds"]}, LLM_ARTIFACT_PASS_S)
    rest_s = LLM_PASS_S - sum(llm[n]["warm_s"] for n in artifact)
    python = sample({n: r for n, r in llm.items() if not r["artifact_builds"]}, rest_s)
    sets = {
        "sf": harness.SF,
        "olap_serial": sample(olap, OLAP_PASS_S),
        "llm_serial": sorted(artifact + python),
        "excluded": {n: r["check"] for n, r in table.items() if not _ran(r)},
    }
    keep = set(sets["olap_serial"]) | set(sets["llm_serial"])
    sets["row_counts"] = {n: table[n]["rows"] for n in sorted(keep) if "rows" in table[n]}
    with open(os.path.join(harness.BENCH_DIR, "queries.json"), "w") as fh:
        json.dump(sets, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main() -> int:
    work = os.path.join(harness.WORK_ROOT, "select")
    harness.prepare_env(work)
    sf_dir = harness.tables_dir()
    from am_kinesis_pay_spark.registry import REGISTRY, queries
    from am_kinesis_pay_spark.session import get_session

    queries()
    names = sorted(n for n, s in REGISTRY.items() if family(s.fn.__module__))
    spark = get_session("perfbench-select")
    try:
        table = measure(spark, names, sf_dir)
    finally:
        harness.stop_spark(spark)
        harness.remove_work(work)
    os.makedirs(harness.OUT_DIR, exist_ok=True)
    with open(os.path.join(harness.OUT_DIR, "selection.json"), "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
    write_sets(table)
    return 0


if __name__ == "__main__":
    sys.exit(main())
