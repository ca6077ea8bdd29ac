"""Traced-run report: per-layer self times and tracing overhead.

    python3 perfbench/report.py --seed 1 --seconds 12 [--out perfbench/TRACE_REPORT.md]

For each workload, runs the benchmark untraced and traced on each of
``PAIRS`` seeds, reads a traced run's span file from ``.perfbench_out/``
and writes a Markdown table of each layer's self time. Self times add up
to the traced run's wall time (process start to end of measurement); the
tracing overhead is the median traced wall time minus the median
untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PAIRS = 3  # one pair's overhead is within the machine's run-to-run noise
sys.path.insert(0, HERE)
sys.path.append(ROOT)

from layers import KEYS  # noqa: E402
from run import WORKLOADS  # noqa: E402
from tracing import self_times  # noqa: E402


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[float, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=ROOT,
    )
    if p.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} failed:\n{p.stdout[-2000:]}")
    wall = float(re.search(r"wall_s=([0-9.]+)", p.stdout).group(1))
    return wall, json.loads(p.stdout.strip().splitlines()[-1])


def section(workload: str, seed: int, seconds: int) -> str:
    """PAIRS untraced/traced pairs on seeds seed, seed+1, ...; which run goes
    first alternates. The overhead compares median walls; the tables come
    from the pair whose traced wall is the median."""
    pairs = []
    for i in range(PAIRS):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        runs = {t: _run(workload, seed + i, seconds, t) for t in order}
        pairs.append((seed + i, runs[0], runs[1]))
    plain_med = statistics.median(p[1][0] for p in pairs)
    traced_med = statistics.median(p[2][0] for p in pairs)
    run_seed, (_, plain), (traced_wall, traced) = sorted(pairs, key=lambda p: p[2][0])[PAIRS // 2]
    with open(os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-{run_seed}.json")) as f:
        spans = json.load(f)["spans"]
    selfs = sorted(self_times(spans).items(), key=lambda kv: -kv[1])
    total = sum(v for _, v in selfs)
    lines = [
        f"## {workload}",
        "",
        f"Median of {PAIRS} runs each (seeds {seed}-{seed + PAIRS - 1}): untraced wall "
        f"{plain_med:.2f} s, traced wall {traced_med:.2f} s, so tracing overhead "
        f"{traced_med - plain_med:+.2f} s ({(traced_med - plain_med) / plain_med * 100:+.1f} %). "
        f"Untraced walls: {', '.join(f'{p[1][0]:.2f}' for p in pairs)} s; traced walls: "
        f"{', '.join(f'{p[2][0]:.2f}' for p in pairs)} s. The tables below are from seed "
        f"{run_seed} ({len(spans)} spans).",
        "",
        "| layer (span) | self s | share |",
        "| --- | ---: | ---: |",
        *(f"| `{k}` | {v:.3f} | {v / total * 100:.1f} % |" for k, v in selfs),
        f"| **sum** | **{total:.3f}** | traced wall {traced_wall:.3f} s |",
        "",
        f"End-to-end (untraced run, seed {run_seed}): "
        + ", ".join(f"`{k}` {v['value']:.4g} {v['unit']}" for k, v in plain["metrics"].items()),
        "",
        f"Per-layer (traced run, seed {run_seed}, non-zero only): "
        + ", ".join(
            f"`{k}` {v['value']:.4g} {v['unit']}"
            for k, v in traced["metrics"].items()
            if v["value"] and not k.startswith(("self_s.", "plans.q_"))
        ),
        "",
    ]
    if workload == "query_suite":
        from kafka_stream_spark.plans import QUERIES

        m = traced["metrics"]
        lines += [
            "Per key (traced pass), with the module that defines it:",
            "",
            "| key | module | construct s | construct jobs | execute s |",
            "| --- | --- | ---: | ---: | ---: |",
            *(
                f"| `{k}` | `{QUERIES[k].__module__}` "
                f"| {m[f'plans.{k}.construct_s']['value']:.3f} "
                f"| {m[f'plans.{k}.construct_jobs']['value']:.0f} "
                f"| {m[f'plans.{k}.execute_s']['value']:.3f} |"
                for k in KEYS
            ),
            "",
        ]
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--out", default=os.path.join(HERE, "TRACE_REPORT.md"))
    args = ap.parse_args()
    parts = [
        "# Traced-run report",
        "",
        f"Generated by `python3 perfbench/report.py --seed {args.seed} "
        f"--seconds {args.seconds}` on a {len(os.sched_getaffinity(0))}-CPU machine. "
        "Self time of a span is its duration minus the part its child spans "
        "cover; `run` is the process from its start to the end of measurement "
        "(imports, bookkeeping), so the self times sum to the traced wall time.",
        "",
    ]
    for w in WORKLOADS:
        parts.append(section(w, args.seed, args.seconds))
        print(f"{w} done", flush=True)
    with open(args.out, "w") as f:
        f.write("\n".join(parts))
    return 0


if __name__ == "__main__":
    sys.exit(main())
