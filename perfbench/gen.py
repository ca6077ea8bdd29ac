"""Seeded CDC load generator: NEEQ-board mongoshake-style JSON-lines files.

Runs as its own process so its schedule never waits on the stream:

- ``live`` mode publishes one file every ``INTERVAL`` seconds on a fixed
  schedule (open loop) for ``--duration`` seconds. File ``k`` holds the
  envelopes created during ``(due_k - INTERVAL, due_k]`` and is published
  at ``due_k``; each envelope's creation time is stamped into
  ``publish_date``.
- ``backlog`` mode writes ``--count`` envelopes at once (an outage backlog),
  ``PER_FILE`` to a file, stamped as if created at ``RATE`` from ``--t0``.

Every file is written to a staging directory and renamed into the input
directory, so the stream never lists a half-written file.

The envelope mix is fixed: titles of 8-40 words drawn from the rules-dim
keyword vocabulary plus filler (about 2 rule matches per insert), 10 %
``$set`` updates, 1 % malformed lines, 5 % exact replays of earlier
inserts, and 12 site codes of which 10 resolve in the sites dim. The
content is a pure function of ``(seed, t0, duration, count)``; only
the publish times depend on the clock. A manifest (kinds and replay
positions per envelope, lateness per file) is written when the generator
ends.

Usage::

    python3 perfbench/gen.py live --out IN --staging ST --manifest M.json \
        --seed 1 --t0 <epoch s> --duration 20
    python3 perfbench/gen.py backlog --out IN --staging ST --manifest M.json \
        --seed 1 --t0 <epoch s> --count 200000
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import signal
import time

import numpy as np

#: keywords of the rules dim (kafka_stream_spark/sources/dims.py RULES_ROWS)
KEYWORDS = (
    "spark", "fast", "stream", "window", "slow", "table", "scan", "filter",
    "vector", "error", "join", "merge", "batch", "agg", "small", "customer",
    "query", "group", "sort", "data", "embedding",
)
#: veto keywords are drawn 5x less often, which keeps ~2 matches per insert
_VETOES = ("slow", "vector", "small", "window")
FILLER = (
    "notice", "board", "annual", "report", "meeting", "holder", "share",
    "equity", "pledge", "audit", "interim", "dividend", "capital", "bond",
    "公告", "年度报告", "股东大会", "董事会", "决议", "进展",
)
RATE = 2000.0  # envelopes/s, live and as stamped in a backlog
INTERVAL = 0.25  # s between published files in live mode
PER_FILE = 10_000  # envelopes per backlog file
KEYWORD_SHARE = 0.45
N_SITES = 12  # src0..src11; the sites dim resolves src0..src9
N_COMPANIES = 400

P_MALFORMED, P_UPDATE, P_REPLAY = 0.01, 0.10, 0.05
KIND_INSERT, KIND_UPDATE, KIND_MALFORMED, KIND_REPLAY = "i", "u", "m", "r"


def stamp(epoch_s: float) -> str:
    """Creation stamp as stored in ``publish_date`` (UTC, microseconds)."""
    us = int(round(epoch_s * 1e6))
    sec, frac = divmod(us, 1_000_000)
    return f"{time.strftime('%Y-%m-%d %H:%M:%S', time.gmtime(sec))}.{frac:06d}"


def parse_stamp(s: str) -> float:
    t = dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


class EnvelopeSource:
    """Deterministic envelope stream; ``chunk(n)`` returns the next ``n``
    envelope lines and their kinds. Envelope ``i`` is stamped at
    ``t0 + i / RATE``."""

    def __init__(self, seed: int, t0: float) -> None:
        self.rng = np.random.default_rng(seed)
        self.seed = seed
        self.t0 = t0
        self.next_index = 0
        self.inserts: list[str] = []  # replay pool: every insert line so far
        self.replays: list[tuple[int, int]] = []  # (position, source insert #)
        w = np.array([0.2 if k in _VETOES else 1.0 for k in KEYWORDS])
        self._kw_p = w / w.sum()
        self._vocab = np.array(KEYWORDS + FILLER, dtype=object)

    def chunk(self, n: int) -> tuple[list[str], list[str]]:
        rng = self.rng
        u = rng.random(n)
        lengths = rng.integers(8, 41, size=n)
        total = int(lengths.sum())
        is_kw = rng.random(total) < KEYWORD_SHARE
        kw = rng.choice(len(KEYWORDS), size=total, p=self._kw_p)
        fill = rng.integers(len(FILLER), size=total)
        sites = rng.integers(N_SITES, size=n)
        companies = rng.integers(N_COMPANIES, size=n)
        picks = rng.random(n)
        words = self._vocab[np.where(is_kw, kw, len(KEYWORDS) + fill)].tolist()
        ends = np.cumsum(lengths).tolist()
        lines, kinds = [], []
        off = 0
        for j in range(n):
            i = self.next_index + j
            title = " ".join(words[off : ends[j]])
            off = ends[j]
            doc = {
                "st_name": f"公司{int(companies[j])}",
                "st_code": f"src{int(sites[j])}",
                "title": title,
                "publish_date": stamp(self.t0 + i / RATE),
                "url": f"http://cninfo.example/{self.seed}/{i}",
            }
            if u[j] < P_MALFORMED:
                # broken at the first token: no parser can recover a field
                lines.append("{o: " + json.dumps(doc, ensure_ascii=False)[:40])
                kinds.append(KIND_MALFORMED)
            elif u[j] < P_MALFORMED + P_UPDATE:
                payload = json.dumps({"$set": {"title": title}}, ensure_ascii=False)
                lines.append(json.dumps({"o": doc, "o_set": payload}, ensure_ascii=False))
                kinds.append(KIND_UPDATE)
            elif u[j] < P_MALFORMED + P_UPDATE + P_REPLAY and self.inserts:
                src = int(picks[j] * len(self.inserts))
                lines.append(self.inserts[src])
                kinds.append(KIND_REPLAY)
                self.replays.append((i, src))
            else:
                line = json.dumps({"o": doc}, ensure_ascii=False)
                lines.append(line)
                kinds.append(KIND_INSERT)
                self.inserts.append(line)
        self.next_index += n
        return lines, kinds


def publish(lines: list[str], out_dir: str, staging: str, name: str) -> None:
    """Write to staging, then rename into the input directory (atomic)."""
    tmp = os.path.join(staging, name)
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, os.path.join(out_dir, name))


def run_live(args, src: EnvelopeSource) -> dict:
    per_file = int(round(RATE * INTERVAL))
    n_files = int(args.duration / INTERVAL)
    stop = {"flag": False}
    signal.signal(signal.SIGTERM, lambda *_: stop.update(flag=True))
    late_ms, due_times, counts, kinds_all = [], [], [], []
    for k in range(n_files):
        if stop["flag"]:
            break
        # content is built before the file is due: the schedule is open loop
        lines, kinds = src.chunk(per_file)
        due = args.t0 + (k + 1) * INTERVAL
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        publish(lines, args.out, args.staging, f"cdc-{k:06d}.json")
        late_ms.append(max(0.0, (time.time() - due) * 1000.0))
        due_times.append(due)
        counts.append(len(lines))
        kinds_all.append("".join(kinds))
    return {"late_ms": late_ms, "due": due_times, "counts": counts, "kinds": kinds_all}


def run_backlog(args, src: EnvelopeSource) -> dict:
    counts, kinds_all = [], []
    left, k = args.count, 0
    while left > 0:
        n = min(PER_FILE, left)
        lines, kinds = src.chunk(n)
        publish(lines, args.out, args.staging, f"cdc-{k:06d}.json")
        counts.append(n)
        kinds_all.append("".join(kinds))
        left -= n
        k += 1
    return {"late_ms": [], "due": [], "counts": counts, "kinds": kinds_all}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=("live", "backlog"))
    ap.add_argument("--out", required=True)
    ap.add_argument("--staging", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--duration", type=float, default=10.0)
    ap.add_argument("--count", type=int, default=0)
    args = ap.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)
    os.makedirs(args.staging, exist_ok=True)
    src = EnvelopeSource(args.seed, args.t0)
    out = run_live(args, src) if args.mode == "live" else run_backlog(args, src)
    out["replays"] = src.replays
    tmp = args.manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.rename(tmp, args.manifest)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
