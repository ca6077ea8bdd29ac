"""Inline dimension tables (rules, source→site names).

Stand-ins for the reference's MySQL dimension tables, with the same shape:

- rules dim ~ ``sy_yq_raw.sy_yq_lvl_rules_code`` (kafka_s.py:292-296):
  OR-of-AND include rules + exclude rules + category + sentiment +
  importance per rule. Keywords here come from the driver testdata's
  ``documents.text`` vocabulary so matches actually occur.
- site dim ~ ``EI_BDP.A_stock_code_name_fyi`` names dict
  (kafka_s.py:132-137): a tiny code→name broadcast lookup.

Both are driver-local relations: built from pandas with Arrow on (as
``session.RUNTIME_CONFS`` sets it), ``createDataFrame`` yields a
``LocalRelation``, so collecting the rules and broadcasting either dim
read rows already on the driver — no scan job per plan or per
micro-batch. With Arrow off it falls back to a scanned RDD with the same
rows and schema. Both are broadcast in every plan that joins them: on
a 1000-executor cluster the dim ships once per executor, the fact side
never shuffles.
``as_values_sql`` renders the same rows as a DuckDB VALUES clause so the
oracle runs on literally identical dimension data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# (rule_id, in_rules, filter_rules, category_code, category_name,
#  sentiment, importance)
RULES_ROWS: list[tuple] = [
    (1, "spark&fast、stream&window", "slow", 101, "性能", 1, 30),
    (2, "table&scan&filter", "vector", 102, "存储", 0, 10),
    (3, "slow、error", "", 103, "故障", -1, 8),
    (4, "join&merge、batch&agg", "small", 104, "执行", 1, 5),
    (5, "customer&query、group&sort", "window ", 105, "用户", 0, 3),
    (6, " vector&data 、embedding", "", 106, "向量", 1, 10),
]
RULES_COLS = (
    "rule_id",
    "in_rules",
    "filter_rules",
    "category_code",
    "category_name",
    "sentiment",
    "importance",
)

# (source, site_name)  — documents.source takes values src0..src9
SITES_ROWS: list[tuple] = [(f"src{i}", f"站点{i}") for i in range(10)]
SITES_COLS = ("source", "site_name")


_TYPES = {int: T.LongType(), str: T.StringType()}


def _local_df(spark: SparkSession, rows: list[tuple], cols: tuple[str, ...]) -> DataFrame:
    """Nullable LongType/StringType columns typed from the first row."""
    import pandas as pd  # lazily: ~0.3 s of every package import otherwise

    schema = T.StructType(
        [T.StructField(c, _TYPES[type(v)], True) for c, v in zip(cols, rows[0])]
    )
    return spark.createDataFrame(pd.DataFrame(rows, columns=list(cols)), schema=schema)


def rules_df(spark: SparkSession) -> DataFrame:
    return _local_df(spark, RULES_ROWS, RULES_COLS)


def sites_df(spark: SparkSession) -> DataFrame:
    return _local_df(spark, SITES_ROWS, SITES_COLS)


def _sql_lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def as_values_sql(rows: list[tuple], cols: tuple[str, ...], alias: str) -> str:
    values = ", ".join("(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in rows)
    return f"(VALUES {values}) AS {alias}({', '.join(cols)})"


def rules_values_sql(alias: str = "rules") -> str:
    return as_values_sql(RULES_ROWS, RULES_COLS, alias)


def sites_values_sql(alias: str = "sites") -> str:
    return as_values_sql(SITES_ROWS, SITES_COLS, alias)
