"""Structural guard: squared-L2 distance has one definition in the
package (functions/vectors.py) and only operators/semdedup.py folds a
codebook into the ``_cents`` broadcast array, so every nearest-centroid,
k-means and PQ path shares one implementation."""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "kafka_stream_spark"

#: the element-wise body of a squared-L2 fold over two arrays, as a
#: Spark-SQL lambda ``(x, y) -> (x - y) * (x - y)`` or a Python one
#: ``lambda x, y: (x - y) * (x - y)``
_SQ_DIFF = re.compile(r"(\w+), (\w+)\)? ?(?:->|:) \(\1 - \2\) \* \(\1 - \2\)")


def _sources() -> dict[str, str]:
    return {p.relative_to(PKG).as_posix(): p.read_text() for p in PKG.rglob("*.py")}


def test_squared_l2_is_defined_once():
    hits = {
        name: len(_SQ_DIFF.findall(src))
        for name, src in _sources().items()
        if _SQ_DIFF.search(src)
    }
    assert hits == {"functions/vectors.py": 1}


def test_codebook_array_is_built_in_one_module():
    users = sorted(
        name for name, src in _sources().items() if re.search(r"\b_cents\b", src)
    )
    assert users == ["operators/semdedup.py"]
