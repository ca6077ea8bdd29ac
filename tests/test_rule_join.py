"""The compiled rule join (functions/rules.py ``match_sql``/``rule_join``)
and the driver-local dims it joins (sources/dims.py).

- the compiled SQL condition agrees with the HOF ``rules.rule_matches``
  (pinned to the reference semantics in tests/test_rules.py) on keywords
  that need SQL-literal escaping, padded and CJK keywords, empty and NULL
  rule fields;
- zero rules give zero matches, as the oracle's inner join does — in the
  batch helper and in one ``run_board_stream`` cycle;
- the dims are ``LocalRelation``s with the dims' schema, and building the
  streaming enrichment starts no Spark job.
"""

from __future__ import annotations

import glob
import json

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_stream_spark.functions import rules
from kafka_stream_spark.sources import dims
from kafka_stream_spark.streaming.pipeline import SinkPaths, enrich_cdc, run_board_stream
from kafka_stream_spark.streaming.sources import file_cdc_stream

_RULE_SCHEMA = "rule_id long, in_rules string, filter_rules string"

_TITLES = [
    "it's 100% done",
    "path c:\\tmp\\x here",
    "snake_case and 50%",
    "padded  a b  words",
    "向量 数据 检索 fast",
    "spark is fast",
    "spark is fast but slow",
    "o'brien said 'hi'",
    "tab\tseparated",
    "",
    None,
]

_RULES = [
    (1, "it's", ""),
    (2, "c:\\tmp\\x", ""),
    (3, "_case&%", ""),
    (4, "a_c、100\\%", ""),
    (5, "  a b 、 words ", ""),  # OR-groups trimmed, AND-parts not
    (6, " a &b", ""),
    (7, "向量&数据、检索", "慢"),
    (8, "spark&fast", "slow、、"),  # empty filter keywords never veto
    (9, "spark", "o'brien、\\"),
    (10, "'hi'&said", "x、'"),
    (11, "\tseparated", ""),
    (12, "\t、fast", ""),
    (13, "", ""),  # the empty keyword is a substring of every title
    (14, "spark", None),  # NULL fields never match (HOF and DuckDB: NULL)
    (15, None, ""),
    (None, "spark", ""),  # a NULL key still joins, as in the HOF form
]


def _hof_and_compiled(spark, titles, rule_rows):
    facts = spark.createDataFrame(list(enumerate(titles)), "id long, title string")
    r = spark.createDataFrame(rule_rows, _RULE_SCHEMA)
    hof = {
        (row["id"], row["rule_id"])
        for row in facts.crossJoin(r)
        .select("id", "rule_id", rules.rule_matches(
            F.col("title"), F.col("in_rules"), F.col("filter_rules")
        ).alias("m"))
        .collect()
        if row["m"] is True
    }
    compiled = {
        (row["id"], row["rule_id"])
        for row in rules.rule_join(facts, r, "title").select("id", "rule_id").collect()
    }
    return hof, compiled


def test_compiled_condition_agrees_with_hof(spark):
    hof, compiled = _hof_and_compiled(spark, _TITLES, _RULES)
    assert compiled == hof
    # the fixture exercises matches and vetoes, not only empty sets
    assert len({rid for _, rid in compiled}) >= 8


def test_zero_rules_compile_to_false_and_join_empty(spark):
    assert rules.match_sql("title", []) == "false"
    hof, compiled = _hof_and_compiled(spark, _TITLES, [])
    assert compiled == hof == set()


def _envelope(title: str, code: str, url: str) -> str:
    o = {
        "st_name": "短名",
        "st_code": code,
        "title": title,
        "publish_date": "2024-01-01 00:00:00",
        "url": url,
    }
    return json.dumps({"o": o}, ensure_ascii=False)


def test_board_stream_cycle_with_empty_rules_dim(spark, tmp_path):
    rules_path = str(tmp_path / "rules")
    dims.rules_df(spark).limit(0).write.parquet(rules_path)
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "a.json").write_text(
        _envelope("the spark pipeline is fast", "src0", "u1") + "\n"
        + _envelope("table scan filter works", "src1", "u2") + "\n",
        encoding="utf-8",
    )
    out = str(tmp_path / "out")
    q = run_board_stream(spark, str(inp), out, str(tmp_path / "ckpt"), rules_path=rules_path)
    assert q.awaitTermination(120)
    assert q.exception() is None
    assert q.recentProgress[-1]["numInputRows"] == 2
    # an empty micro-batch writes no sink files at all
    written = glob.glob(f"{SinkPaths.under(out).announcements}/**/*.parquet", recursive=True)
    assert sum(pq.read_metadata(f).num_rows for f in written) == 0


_DIM_SCHEMAS = {
    "rules_df": T.StructType(
        [
            T.StructField("rule_id", T.LongType(), True),
            T.StructField("in_rules", T.StringType(), True),
            T.StructField("filter_rules", T.StringType(), True),
            T.StructField("category_code", T.LongType(), True),
            T.StructField("category_name", T.StringType(), True),
            T.StructField("sentiment", T.LongType(), True),
            T.StructField("importance", T.LongType(), True),
        ]
    ),
    "sites_df": T.StructType(
        [
            T.StructField("source", T.StringType(), True),
            T.StructField("site_name", T.StringType(), True),
        ]
    ),
}


def test_dims_are_local_relations(spark):
    for name, schema in _DIM_SCHEMAS.items():
        df = getattr(dims, name)(spark)
        assert df.schema == schema, name
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", name
    assert [tuple(r) for r in dims.rules_df(spark).collect()] == dims.RULES_ROWS
    assert [tuple(r) for r in dims.sites_df(spark).collect()] == dims.SITES_ROWS


def test_building_stream_enrichment_starts_no_job(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "a.json").write_text(_envelope("spark is fast", "src0", "u1") + "\n")
    sc = spark.sparkContext
    group = "test_building_stream_enrichment_starts_no_job"
    sc.setJobGroup(group, "construction only")
    try:
        enriched = enrich_cdc(file_cdc_stream(spark, str(inp)), spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert enriched.isStreaming
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
