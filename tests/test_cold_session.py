"""Cold-session regression tests (VERDICT r8 #1).

Spark 4.x mis-plans higher-order-function lambdas inside a JOIN condition
when the fresh-session exprId counter is low: the lambda-variable exprIds
collide with the stream-side attribute (text#1), the conjunct's computed
references drop the stream side, and the predicate lands in a FilterExec
over the broadcast side alone — INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND. Any
prior action bumps the counter and masks the bug, so the only valid
witness is a FRESH SUBPROCESS whose first and only action is the query
under test. q_rule_match failed exactly this way from rounds 1–8 while
every warm-session gate stayed green.

The fix (functions/rules.py match_sql) removes lambdas from the join
condition entirely; these tests pin it cold, for the batch plans and for
the streaming board pipeline.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

SF_DIR = "/root/testdata/sf0.001"
#: the checkout under test: the subprocess imports the package from here
ROOT = str(Path(__file__).resolve().parent.parent)

_RUNNER = """
import sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from kafka_stream_spark.plans import QUERIES
# FIRST and ONLY action of this session: the query under test.
n = QUERIES["{key}"](spark, "{sf_dir}").count()
print("COLD_OK", n)
"""


def _run_cold(key: str, code: str | None = None) -> str:
    proc = subprocess.run(
        [sys.executable, "-c", code or _RUNNER.format(root=ROOT, key=key, sf_dir=SF_DIR)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, (
        f"{key} failed as the first action of a fresh session:\n"
        + proc.stderr[-2000:]
    )
    return proc.stdout


def test_rule_match_cold_first_action():
    out = _run_cold("q_rule_match")
    assert "COLD_OK" in out


def test_board_pipeline_cold_first_action():
    out = _run_cold("q_board_pipeline")
    assert "COLD_OK" in out


_STREAM_RUNNER = """
import json, os, shutil, sys, tempfile
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
from kafka_stream_spark.session import apply_runtime_confs
spark = apply_runtime_confs(
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from kafka_stream_spark.streaming.pipeline import SinkPaths, run_board_stream
base = tempfile.mkdtemp(prefix="kss_cold_stream_")
inp = os.path.join(base, "in")
os.makedirs(inp)
with open(os.path.join(inp, "a.json"), "w", encoding="utf-8") as f:
    for title, code, url in [
        ("the spark pipeline is fast", "src0", "u1"),
        ("table scan filter works", "src1", "u2"),
        ("no match here", "src2", "u3"),
    ]:
        o = dict(st_name="短名", st_code=code, title=title,
                 publish_date="2024-01-01 00:00:00", url=url)
        f.write(json.dumps(dict(o=o), ensure_ascii=False) + "\\n")
# FIRST action of this session: one availableNow board-stream cycle.
out = os.path.join(base, "out")
q = run_board_stream(spark, inp, out, os.path.join(base, "ckpt"))
q.awaitTermination(240)
rows = spark.read.parquet(SinkPaths.under(out).announcements).collect()
print("COLD_ROWS", json.dumps(sorted(
    [r["url"], r["rule_id"], r["site_name"]] for r in rows
), ensure_ascii=False))
shutil.rmtree(base)
"""


def test_board_stream_cold_first_action():
    out = _run_cold("run_board_stream", _STREAM_RUNNER.format(root=ROOT))
    line = next(ln for ln in out.splitlines() if ln.startswith("COLD_ROWS "))
    assert json.loads(line.split(" ", 1)[1]) == [["u1", 1, "站点0"], ["u2", 2, "站点1"]]
