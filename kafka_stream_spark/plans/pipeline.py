"""The board pipeline — the reference's end-to-end enrichment chain as one
declarative plan, parameterized by board config (SURVEY.md §2.12: the
reference keeps two ~640-line near-identical copies, kafka_s.py /
kafka_a.py; here the delta is data).

Chain (SURVEY.md §3.1): scan → dim lookup join (J1) → rule-match join
(J3) → score decode (P8) → surrogate keys (P4-P6) → literals/defaults
(P7/P9) → wide assembly (P10) → multi-sink fan-out (K1-K4).

Scale shape: the only joins are against broadcast dims (sites, rules), so
the 100 TB fact side streams through map-side-only stages — zero
shuffles end-to-end; the plan is one WholeStageCodegen span per batch.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..boards import ASHARE, NEEQ, BoardConfig  # noqa: F401  (re-export)
from ..functions import decode, keys, rules
from ..sources import dims
from ..sources.tables import load
from .registry import query


def enrich(d: DataFrame, spark: SparkSession, cfg: BoardConfig = NEEQ) -> DataFrame:
    """The enrichment chain on a (doc_id, title, source, lang) DataFrame.

    Batch/streaming-unified: ``d`` may be a static DataFrame or a
    streaming one — every operator here (broadcast joins, projections) is
    streaming-compatible, which is the point of expressing the reference's
    per-record loop declaratively (Structured Streaming runs the same plan
    per micro-batch; the dims are driver-local, captured at query start)."""
    # J1: broadcast dim lookup; LEFT + coalesce('') fixes the reference's
    # stale-carry-over on lookup miss (SURVEY.md §1.4) into explicit default
    sites = dims.sites_df(spark)
    d = d.join(F.broadcast(sites), "source", "left")
    # J3: rule classification — one output row per matching rule, on the
    # lambda-free compiled condition (HOF lambdas in a join condition hit
    # a fresh-session exprId collision: functions/rules.py match_sql;
    # tests/test_cold_session.py).
    m = rules.rule_join(d, dims.rules_df(spark), "title")
    # P4-P8: keys + decodes; P7/P9/P10: literals, defaults, wide assembly
    site_name = decode.default_empty(F.col("site_name"))
    yqid = keys.surrogate_key(F.col("title"), F.col("source"), F.col("doc_id"))
    return m.select(
        "doc_id",
        yqid.alias("yqid"),
        keys.surrogate_key(yqid, site_name, F.col("category_code")).alias("only_id"),
        "title",
        site_name.alias("site_name"),
        F.col("lang").alias("lang_code"),
        "rule_id",
        "category_code",
        "category_name",
        keys.concat_key(F.col("category_code"), F.col("rule_id")).alias("level_key"),
        F.col("sentiment").alias("emo_score"),
        decode.emo_label(F.col("sentiment")).alias("emo_label"),
        F.col("importance").alias("imp_score"),
        decode.imp_label(F.col("importance")).alias("imp_label"),
        F.lit(cfg.webname).alias("webname"),
        F.lit(cfg.src_type).alias("src_type"),
        F.lit(cfg.rel_type).alias("rel_type"),
        F.lit(1).alias("is_valid"),
        F.lit(1).alias("data_status"),
    )


def board_pipeline(
    spark: SparkSession, sf_dir: str, cfg: BoardConfig = NEEQ
) -> DataFrame:
    """Full enrichment pipeline over ``documents`` (announcement analog)."""
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.col("text").alias("title"),
        F.col("source"),
        F.col("lang"),
    )
    return enrich(d, spark, cfg)


def _board_pipeline_oracle(cfg: BoardConfig) -> str:
    emo = decode.decode_case_sql("r.sentiment", decode.EMO_LABELS)
    imp = decode.decode_case_sql("r.importance", decode.IMP_LABELS)
    return f"""
    WITH enriched AS (
      SELECT d.doc_id, d.text AS title, d.source, d.lang,
             coalesce(s.site_name, '') AS site_name
      FROM documents d LEFT JOIN {dims.sites_values_sql('s')} USING (source)
    ), matched AS (
      SELECT e.*, r.rule_id, r.category_code, r.category_name,
             r.sentiment, r.importance
      FROM enriched e, {dims.rules_values_sql('r')}
      WHERE {rules.duckdb_match_sql('e.title', 'r.in_rules', 'r.filter_rules')}
    ), keyed AS (
      SELECT *, md5(concat_ws('||', coalesce(title, ''), coalesce(source, ''),
                              coalesce(CAST(doc_id AS VARCHAR), ''))) AS yqid
      FROM matched
    )
    SELECT doc_id, yqid,
           md5(concat_ws('||', yqid, coalesce(site_name, ''),
                         coalesce(CAST(category_code AS VARCHAR), ''))) AS only_id,
           title, site_name, lang AS lang_code,
           rule_id, category_code, category_name,
           concat_ws('##', CAST(category_code AS VARCHAR),
                     CAST(rule_id AS VARCHAR)) AS level_key,
           sentiment AS emo_score, {emo} AS emo_label,
           importance AS imp_score, {imp} AS imp_label,
           '{cfg.webname}' AS webname, '{cfg.src_type}' AS src_type,
           '{cfg.rel_type}' AS rel_type,
           1 AS is_valid, 1 AS data_status
    FROM keyed r
    """


@query("q_board_pipeline", oracle=_board_pipeline_oracle(NEEQ))
def q_board_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (SURVEY.md §7.1): the whole reference pipeline, batch mode."""
    return board_pipeline(spark, sf_dir, NEEQ)


@query(
    "q_assemble_wide",
    oracle="""
    SELECT doc_id, text AS title,
           '巨潮资讯网' AS webname, '新三板公告' AS src_type,
           '直接关联' AS rel_type, 1 AS is_valid, 1 AS data_status,
           coalesce(lang, '') AS lang_code, coalesce(source, '') AS src_code,
           '' AS reserved1, '' AS reserved2
    FROM documents
    """,
)
def q_assemble_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7+P9+P10 — wide row assembly with literal columns and
    empty-string defaults (kafka_s.py:346-443: 33/34-col positional rows
    become one explicit select)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("text").alias("title"),
        F.lit("巨潮资讯网").alias("webname"),
        F.lit("新三板公告").alias("src_type"),
        F.lit("直接关联").alias("rel_type"),
        F.lit(1).alias("is_valid"),
        F.lit(1).alias("data_status"),
        decode.default_empty(F.col("lang")).alias("lang_code"),
        decode.default_empty(F.col("source")).alias("src_code"),
        F.lit("").alias("reserved1"),
        F.lit("").alias("reserved2"),
    )


@query(
    "q_multi_sink",
    # The side effects aren't SQL-expressible, but the OUTPUT is: each
    # sink's read-back count must equal the declarative pipeline count.
    oracle=f"""
    WITH pipe AS ({_board_pipeline_oracle(NEEQ)}),
    n AS (SELECT count(*) AS c FROM pipe)
    SELECT s.sink, CAST(n.c AS BIGINT) AS rows_written
    FROM (VALUES ('announcements'), ('sentiment'), ('offline_csv')) s(sink), n
    """,
)
def q_multi_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1-K4 — multi-sink fan-out: the same matched batch written to two
    table sinks and one CSV sink (kafka_s.py:343-345,470-556,614-630;
    mysql_rules.py:85-90). Locally parquet+parquet+csv stand in for
    MySQL+MySQL+Mongo; the pattern (persist once, write N times) is the
    foreachBatch shape used by the streaming layer."""
    out = board_pipeline(spark, sf_dir, NEEQ)
    out.persist()
    base = tempfile.mkdtemp(prefix="kss_sinks_")
    targets = {
        "announcements": ("parquet", os.path.join(base, "announcements")),
        "sentiment": ("parquet", os.path.join(base, "sentiment")),
        "offline_csv": ("csv", os.path.join(base, "rules_csv")),
    }
    counts = []
    for sink, (fmt, path) in targets.items():
        writer = out.write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", "true")
        getattr(writer, fmt)(path)
        reader = spark.read.format(fmt)
        if fmt == "csv":
            # mirror the write options, or the header reads back as data
            reader = reader.option("header", "true").option("multiLine", "true")
        counts.append((sink, reader.load(path).count()))
    out.unpersist()
    shutil.rmtree(base, ignore_errors=True)  # counts are already collected
    return spark.createDataFrame(counts, schema=["sink", "rows_written"])
