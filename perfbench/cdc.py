"""The ``cdc`` workload, driven through ``run_board_stream`` only.

After an untimed warm-up drain (the first streaming query of a JVM
spends ~19 s on class loading and JIT, whatever its size), it runs two
phases, each on its own checkpoint and sinks:

- drain: the generator has pre-written an outage backlog, and one
  ``run_board_stream`` call drains it. Throughput is the envelopes
  offered over the wall time of that call until the query terminates;
  per-record work (parse, rule join, keys, dedup state, parquet bytes)
  sets it.
- live: a generator process publishes ~2,000 envelopes/s on a fixed
  schedule while the benchmark runs availableNow cycles back to back on
  one checkpoint and one set of sinks (the triggered deployment). At this
  rate each cycle is almost all fixed cost. Latency of an insert is the
  commit time of its micro-batch (progress ``timestamp`` +
  ``durationMs.triggerExecution``, joined on ``__batch_id``) minus its
  creation stamp.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time

from gen import RATE, parse_stamp
from layers import median, percentile
from oracle import CdcOracle
from sparkstats import SparkStats

from kafka_stream_spark.streaming.pipeline import run_board_stream

WARMUP_S = 2.0  # live events created earlier are not timed
BACKLOG = 60_000  # envelopes in the outage backlog
WARM_BACKLOG = 2_000  # untimed first drain (JIT, class loading)
#: per-record layers, reported for the backlog drain under ``drain.``
DRAIN_LAYERS = (
    "pipeline.add_batch_ms", "pipeline.exec_run_ms", "pipeline.shuffle_bytes",
    "pipeline.spill_bytes", "pipeline.fanout_ratio", "state.rows_total",
    "state.memory_bytes", "state.commit_ms", "state.dedup_ratio", "sink.files", "sink.bytes",
)
SINKS = ("announcements", "sentiment", "keystore")
_PHASES = (  # MicroBatchExecution order within one trigger
    ("latestOffset", "sources.latest_offset"),
    ("walCommit", "pipeline.wal_commit"),
    ("getBatch", "sources.get_batch"),
    ("queryPlanning", "pipeline.query_planning"),
    ("addBatch", "pipeline.add_batch"),
    ("commitOffsets", "pipeline.commit_offsets"),
)


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def start_generator(ctx, work: str, mode: str, seed: int, t0: float, *opts: str) -> subprocess.Popen:
    cmd = [
        sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"), mode,
        "--out", os.path.join(work, "in"), "--staging", os.path.join(work, "staging"),
        "--manifest", os.path.join(work, f"manifest-{mode}.json"),
        "--seed", str(seed), "--t0", repr(t0), *opts,
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL)
    ctx.children.append(proc)
    return proc


def wait_generator(proc: subprocess.Popen, work: str, mode: str) -> dict:
    rc = proc.wait()
    if rc != 0:
        raise RuntimeError(f"generator exited with code {rc}")
    with open(os.path.join(work, f"manifest-{mode}.json")) as f:
        return json.load(f)


class Cycles:
    """Runs availableNow cycles and keeps what each one reported."""

    def __init__(self, ctx, inp: str) -> None:
        self.ctx = ctx
        self.inp = inp
        self.stats = SparkStats(ctx.spark) if ctx.tracer.enabled else None
        self.log: list[dict] = []

    def run(self, out: str, ckpt: str, parent) -> dict:
        tr = self.ctx.tracer
        with tr.span("pipeline.cycle", parent) as cyc:
            t_call = time.time()
            q = run_board_stream(self.ctx.spark, self.inp, out, ckpt)
            t_active = time.time()
            q.awaitTermination()
            t_end = time.time()
        progress = [json.loads(p.json) for p in q.recentProgress]
        c = {"call": t_call, "active": t_active, "end": t_end, "out": out,
             "progress": [p for p in progress if p["numInputRows"] > 0],
             "rows": sum(p["numInputRows"] for p in progress)}
        for p in c["progress"]:
            p["commit"] = _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
        self.ctx.input_rows += c["rows"]
        if self.stats is not None:
            self._layers(c, str(q.runId), cyc)
        self.log.append(c)
        return c

    def _layers(self, c: dict, run_id: str, cyc) -> None:
        """Per-layer numbers of one cycle (traced runs only)."""
        tr = self.ctx.tracer
        tr.add("pipeline.start", c["call"], c["active"], cyc)
        tot = self.stats.group_totals(run_id)
        c["exec_run_ms"], c["shuffle_bytes"] = tot.run_ms, tot.shuffle_bytes
        c["spill_bytes"] = tot.spill_bytes
        writes = {s: [] for s in SINKS}
        for e in self.stats.new_sql_executions():
            if "InsertIntoHadoopFsRelationCommand" not in e.plan or e.complete_ms is None:
                continue
            for s in SINKS:
                if os.path.join(c["out"], s) in e.plan:
                    writes[s].append((e.submit_ms / 1e3, e.complete_ms / 1e3))
        c["sink_ms"] = {s: sum(b - a for a, b in w) * 1e3 for s, w in writes.items()}
        last_commit = c["active"]
        for p in c["progress"]:
            t = _epoch(p["timestamp"])
            trig = tr.add("pipeline.trigger", t, p["commit"], cyc)
            for key, name in _PHASES:
                d = p["durationMs"].get(key, 0) / 1e3
                sid = tr.add(name, t, t + d, trig)
                if key == "addBatch":
                    for s, w in writes.items():
                        for a, b in w:
                            tr.add(f"sink.write/{s}", a, b, sid)
                t += d
            last_commit = p["commit"]
        tr.add("pipeline.stop", last_commit, c["end"], cyc)


def cycle_layers(cycles: list[dict]) -> dict[str, float]:
    """Per-layer metrics over measured cycles: medians per cycle for times,
    totals for bytes and rows."""
    data = [c for c in cycles if c["progress"]]
    phase = {
        name: median([sum(p["durationMs"].get(k, 0) for p in c["progress"]) for c in data])
        for k, name in (("latestOffset", "sources.latest_offset_ms"),
                        ("getBatch", "sources.get_batch_ms"),
                        ("queryPlanning", "pipeline.query_planning_ms"),
                        ("walCommit", "pipeline.wal_commit_ms"),
                        ("commitOffsets", "pipeline.commit_offsets_ms"),
                        ("addBatch", "pipeline.add_batch_ms"))
    }
    states = [s for c in data for p in c["progress"] for s in p["stateOperators"]]
    dropped = sum(s["customMetrics"].get("numDroppedDuplicateRows", 0) for s in states)
    updated = sum(s["numRowsUpdated"] for s in states)
    out = {
        "pipeline.cycles": len(cycles),
        "pipeline.start_ms": median([(c["active"] - c["call"]) * 1e3 for c in cycles]),
        "pipeline.stop_ms": median(
            [(c["end"] - c["progress"][-1]["commit"]) * 1e3 for c in data]
        ),
        "pipeline.exec_run_ms": median([c["exec_run_ms"] for c in data]),
        "pipeline.shuffle_bytes": sum(c["shuffle_bytes"] for c in data),
        "pipeline.spill_bytes": sum(c["spill_bytes"] for c in data),
        "state.rows_total": states[-1]["numRowsTotal"] if states else 0,
        "state.rows_updated": updated,
        "state.memory_bytes": states[-1]["memoryUsedBytes"] if states else 0,
        "state.commit_ms": median([s["commitTimeMs"] for s in states]),
        "state.dedup_ratio": dropped / (updated + dropped) if updated + dropped else 0.0,
        **phase,
    }
    for s in SINKS:
        out[f"sink.write_ms.{s}"] = median([c["sink_ms"][s] for c in data])
    return out


def sink_files(out: str) -> tuple[int, int]:
    files = nbytes = 0
    for root, _, names in os.walk(out):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


def _rows_in_listener(ctx, expected: int) -> int:
    """Rows counted by the registered RecordCounter; progress events reach
    it asynchronously, so give the last one a moment to arrive."""
    deadline = time.time() + 10
    while ctx.record_counter.total_rows() < expected and time.time() < deadline:
        time.sleep(0.05)
    return ctx.record_counter.total_rows()


def _latency(oracle: CdcOracle, out: str, cycles: list[dict], lo: float, hi: float):
    commit = {p["batchId"]: p["commit"] for c in cycles for p in c["progress"]}
    lat = []
    for created, batch in oracle.first_commits(out):
        t = parse_stamp(created)
        if lo <= t <= hi:
            lat.append((commit[int(batch)] - t) * 1e3)
    return sorted(lat)


def _start_warm_input(ctx) -> subprocess.Popen:
    """Generator for the untimed first drain, which pays JIT and class
    loading; it runs while the session starts."""
    return start_generator(ctx, os.path.join(ctx.work, "w"), "backlog", ctx.seed + 2_000_003,
                           time.time(), "--count", str(WARM_BACKLOG))


def _warm_drain(ctx, parent) -> None:
    w = os.path.join(ctx.work, "w")
    Cycles(ctx, os.path.join(w, "in")).run(os.path.join(w, "out"), os.path.join(w, "ckpt"), parent)


def _live(ctx, work: str, parent) -> dict:
    """Open loop: cycles back to back while the generator publishes."""
    duration = WARMUP_S + ctx.seconds
    t0 = time.time() + 0.2
    gen = start_generator(ctx, work, "live", ctx.seed, t0, "--duration", str(duration))
    cycles = Cycles(ctx, os.path.join(work, "in"))
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    lag = []  # envelopes generated but not committed, at each measured commit
    committed = 0
    while True:
        done = gen.poll() is not None
        c = cycles.run(out, ckpt, parent)
        for p in c["progress"]:
            committed += p["numInputRows"]
            if p["commit"] >= t0 + WARMUP_S:
                lag.append(min(RATE * duration, RATE * (p["commit"] - t0)) - committed)
        if done:
            break
    manifest = wait_generator(gen, work, "live")
    for c in cycles.log:
        print(f"cdc: live cycle at {c['call'] - t0:6.2f}s took {c['end'] - c['call']:5.2f}s "
              f"rows={c['rows']}")
    # the measured window: events created (and cycles started) in it count
    return {"cycles": cycles.log, "lag": lag, "lo": t0 + WARMUP_S, "hi": t0 + duration,
            "late_ms": manifest["late_ms"]}


def cdc(ctx) -> dict:
    tr = ctx.tracer
    drain_dir, live_dir = os.path.join(ctx.work, "drain"), os.path.join(ctx.work, "live")
    os.makedirs(os.path.join(live_dir, "in"))
    t_out = time.time() - BACKLOG / RATE  # the outage began BACKLOG/RATE s ago
    gen = start_generator(ctx, drain_dir, "backlog", ctx.seed + 1_000_003, t_out,
                          "--count", str(BACKLOG))
    warm = _start_warm_input(ctx)
    ctx.start_session()
    with tr.span("gen.wait", ctx.root):
        offered = sum(wait_generator(gen, drain_dir, "backlog")["counts"])
        wait_generator(warm, os.path.join(ctx.work, "w"), "backlog")
    ctx.mark_setup_done()
    with tr.span("workload/cdc", ctx.root) as wl:
        _warm_drain(ctx, wl)
        drain = Cycles(ctx, os.path.join(drain_dir, "in")).run(
            os.path.join(drain_dir, "out"), os.path.join(drain_dir, "ckpt"), wl)
        live = _live(ctx, live_dir, wl)
    with tr.span("check", ctx.root):
        oracle = CdcOracle(os.path.join(drain_dir, "in"))
        drain_chk = oracle.check(drain["out"])
        oracle.close()
        oracle = CdcOracle(os.path.join(live_dir, "in"))
        live_chk = oracle.check(os.path.join(live_dir, "out"))
        lat = _latency(oracle, os.path.join(live_dir, "out"), live["cycles"],
                       live["lo"], live["hi"])
        oracle.close()
    chk = {
        "attempted": drain_chk["attempted"] + live_chk["attempted"],
        "failed": drain_chk["failed"] + live_chk["failed"],
        "only_id_unique": drain_chk["only_id_unique"] and live_chk["only_id_unique"],
    }
    res = {"check": chk, "latencies_ms": lat, "throughput": offered / (drain["end"] - drain["call"])}
    if tr.enabled:
        # live cycles that started while the generator ran; the last one
        # drains its tail
        measured = [c for c in live["cycles"] if live["lo"] <= c["call"] <= live["hi"]]
        layers = cycle_layers(measured)
        files, nbytes = sink_files(os.path.join(live_dir, "out"))
        layers.update({
            "sources.input_rows": ctx.input_rows,
            "metrics.rows_in": _rows_in_listener(ctx, ctx.input_rows),
            "sources.lag_events_max": max(live["lag"]),
            "pipeline.fanout_ratio": live_chk["rows"] / live_chk["attempted"],
            "sink.files": files,
            "sink.bytes": nbytes,
            "gen.late_p99_ms": percentile(live["late_ms"], 99),
        })
        per_record = cycle_layers([drain])
        files, nbytes = sink_files(drain["out"])
        per_record.update({
            "pipeline.fanout_ratio": drain_chk["rows"] / drain_chk["attempted"],
            "sink.files": files,
            "sink.bytes": nbytes,
        })
        layers.update({f"drain.{k}": per_record[k] for k in DRAIN_LAYERS})
        res["layers"] = layers
    return res
