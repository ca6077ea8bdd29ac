"""The CDC load generator is a pure function of its seed.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

GEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gen.py")
T0 = 1_760_000_000.0


def _generate(base, mode: str, seed: int, *extra: str) -> tuple[dict[str, bytes], dict]:
    out, manifest = base / "in", base / "manifest.json"
    subprocess.run(
        [sys.executable, GEN, mode, "--out", str(out), "--staging", str(base / "st"),
         "--manifest", str(manifest), "--seed", str(seed), "--t0", repr(T0), *extra],
        check=True,
    )
    files = {p.name: p.read_bytes() for p in sorted(out.iterdir())}
    return files, json.loads(manifest.read_text())


@pytest.mark.parametrize(
    "mode,extra",
    [
        ("backlog", ("--count", "25000")),
        ("live", ("--duration", "1")),
    ],
)
def test_same_seed_same_bytes_and_positions(tmp_path, mode, extra):
    a_files, a = _generate(tmp_path / "a", mode, 7, *extra)
    b_files, b = _generate(tmp_path / "b", mode, 7, *extra)
    assert a_files and a_files == b_files
    assert a["kinds"] == b["kinds"]
    assert a["replays"] == b["replays"]
    assert a["counts"] == b["counts"]
    assert not os.listdir(tmp_path / "a" / "st")  # every file was renamed in


def test_other_seed_other_bytes(tmp_path):
    a_files, _ = _generate(tmp_path / "a", "backlog", 7, "--count", "500")
    b_files, _ = _generate(tmp_path / "b", "backlog", 8, "--count", "500")
    assert a_files != b_files


def test_mix(tmp_path):
    files, m = _generate(tmp_path / "a", "backlog", 3, "--count", "20000")
    kinds = "".join(m["kinds"])
    share = {k: kinds.count(k) / len(kinds) for k in "iumr"}
    assert 0.008 < share["m"] < 0.012
    assert 0.09 < share["u"] < 0.11
    assert 0.04 < share["r"] < 0.06
    lines = b"".join(files.values()).decode().splitlines()
    assert len(lines) == 20000
    inserts = [json.loads(line) for line, k in zip(lines, kinds) if k == "i"]
    for pos, src in m["replays"]:
        assert lines[pos] == json.dumps(inserts[src], ensure_ascii=False)
    sites = {d["o"]["st_code"] for d in inserts}
    assert sites == {f"src{i}" for i in range(12)}
