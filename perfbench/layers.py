"""Metric catalogue: the suite's keys and every metric's unit as declared
in BENCHMARK.json.

Per-layer metrics are printed on every workload; a layer a workload does
not exercise reads 0 there (``plans.*`` on ``cdc``, the
streaming layers on ``query_suite``).
"""

from __future__ import annotations

import json
import os

from tracing import self_times

#: query_suite keys, in request order; each is timed on its own
KEYS = (
    # the paper's batch flagship (first, so it also pays the cold JVM) and
    # the rule join with its hidden collect
    "q_board_pipeline", "q_rule_match",
    # ANN / codebook family (the open q_ivfpq_recall regression)
    "q_ivfpq_recall",
    # carry-over performance targets
    "q_betweenness", "q_minhash_est",
)

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
#: metric name -> unit, as BENCHMARK.json declares them
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
UNITS = {**{m["name"]: m["unit"] for m in _SPEC["end_to_end"]}, **PER_LAYER}


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile (0 for no samples)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def per_layer(ctx, res: dict) -> dict[str, float]:
    """All per-layer metrics of a traced run; layers not exercised read 0."""
    out = {k: 0.0 for k in PER_LAYER}
    out["session.get_spark_s"] = ctx.get_spark_s
    out["memory.peak_rss_mb"] = res["peak_rss_mb"]
    out.update(res.get("layers", {}))
    spans = ctx.tracer.spans
    for layer, secs in self_times(spans).items():
        out[f"self_s.{layer}"] = secs
    root = spans[ctx.root]
    out["trace.wall_s"] = root["end"] - root["start"]
    unknown = out.keys() - PER_LAYER.keys()
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    return out


def median(xs) -> float:
    return percentile(xs, 50)
