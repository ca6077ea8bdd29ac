"""Record the expected query_suite digests from the DuckDB oracles.

    python3 perfbench/record_digests.py

Runs ``plans.ORACLES[key]`` for every suite key over perfbench/data/sf0.01
(views named as in ``tools/check.py``) and writes
perfbench/expected_digests.json. Run it again only when the suite's keys,
its data or an oracle changes; the benchmark itself never runs oracles.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.append(os.path.dirname(HERE))

from layers import KEYS  # noqa: E402
from oracle import digest  # noqa: E402
from suite import DATA_DIR, DIGESTS  # noqa: E402

from kafka_stream_spark.plans import ORACLES  # noqa: E402
from kafka_stream_spark.sources.tables import TABLES  # noqa: E402


def main() -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR}/{t}.parquet')")
    out = {}
    for key in KEYS:
        t = time.time()
        rel = con.sql(ORACLES[key])
        out[key] = digest(rel.columns, rel.fetchall())
        print(f"{key}: {out[key]} ({time.time() - t:.1f}s)", flush=True)
    with open(DIGESTS, "w") as f:
        json.dump({"data": "perfbench/data/sf0.01", "digests": out}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
