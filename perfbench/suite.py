"""The ``query_suite`` workload: one closed-loop client over ``plans.QUERIES``.

The client sends one request per key, in the fixed order of
``layers.KEYS``, on a fresh session: each key is built with
``QUERIES[key](spark, data_dir)`` (construction: driver-side planning
plus any hidden jobs the plan runs while it is being built) and then
collected (execution). Both are timed; the result's digest is then
checked against ``expected_digests.json`` outside the timed span. The
pass is cold, as a client running the suite once after start-up sees it:
the first key pays the JVM's class loading and JIT, and the ANN keys
build their indexes.
"""

from __future__ import annotations

import json
import os
import time

from layers import KEYS
from oracle import digest
from sparkstats import SparkStats, StageTotals

from kafka_stream_spark.plans import QUERIES

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_digests.json")


def _request(ctx, key: str, stats, parent) -> tuple[dict, list, list[str]]:
    """Build and collect one key; returns its timings, rows and columns."""
    sc = ctx.spark.sparkContext
    tr = ctx.tracer
    if stats is not None:
        sc.setJobGroup(f"construct/{key}", key)
    with tr.span(f"plans.construct/{key}", parent):
        t0 = time.time()
        df = QUERIES[key](ctx.spark, DATA_DIR)
        t1 = time.time()
    if stats is not None:
        sc.setJobGroup(f"execute/{key}", key)
    with tr.span(f"plans.execute/{key}", parent):
        rows = df.collect()
        t2 = time.time()
    r = {"key": key, "construct_s": t1 - t0, "execute_s": t2 - t1}
    if stats is not None:
        r["construct"] = stats.group_totals(f"construct/{key}")
        r["execute"] = stats.group_totals(f"execute/{key}")
    return r, rows, df.columns


def query_suite(ctx) -> dict:
    with open(DIGESTS) as f:
        expected = json.load(f)["digests"]
    ctx.start_session()
    ctx.mark_setup_done()
    stats = SparkStats(ctx.spark) if ctx.tracer.enabled else None
    done, failed = [], []
    with ctx.tracer.span("workload/query_suite", ctx.root) as wl:
        for key in KEYS:
            try:
                r, rows, columns = _request(ctx, key, stats, wl)
            except Exception as e:  # a key that raises is one failed operation
                print(f"query_suite: {key} raised {type(e).__name__}: {e}"[:500])
                failed.append(key)
                continue
            with ctx.tracer.span("check", wl):
                got = digest(columns, rows)
            if got != expected[key]:
                print(f"query_suite: {key} digest {got} != expected {expected[key]}")
                failed.append(key)
            done.append(r)
    # the client's request is the pass over the key list: a sum over keys
    # is steadier than the slowest key, which a single noisy key decides
    suite_s = sum(r["construct_s"] + r["execute_s"] for r in done)
    res = {
        "check": {"attempted": len(KEYS), "failed": len(failed), "failed_keys": failed},
        "latencies_ms": [suite_s * 1e3],
        "throughput": len(done) / suite_s,
    }
    if stats is not None:
        res["layers"] = _plan_layers(done)
    return res


def _plan_layers(rows: list[dict]) -> dict[str, float]:
    """plans.* metrics of the pass."""
    con, exe = StageTotals(), StageTotals()
    for r in rows:
        con.add(r["construct"])
        exe.add(r["execute"])
    construct_s = sum(r["construct_s"] for r in rows)
    execute_s = sum(r["execute_s"] for r in rows)
    out = {
        "plans.construct_s": construct_s,
        "plans.execute_s": execute_s,
        "plans.construct_share": construct_s / (construct_s + execute_s),
        "plans.construct_jobs": con.jobs,
        "plans.execute_jobs": exe.jobs,
        "plans.execute_stages": exe.stages,
        "plans.exec_run_ms": con.run_ms + exe.run_ms,
        "plans.shuffle_bytes": con.shuffle_bytes + exe.shuffle_bytes,
        "plans.spill_bytes": con.spill_bytes + exe.spill_bytes,
    }
    for r in rows:
        out[f"plans.{r['key']}.construct_s"] = r["construct_s"]
        out[f"plans.{r['key']}.execute_s"] = r["execute_s"]
        out[f"plans.{r['key']}.construct_jobs"] = r["construct"].jobs
    return out
