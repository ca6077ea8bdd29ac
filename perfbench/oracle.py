"""Output checks: DuckDB expectations for the CDC sinks and result digests
for the query suite.

CDC: the expected ``announcements`` rows are rebuilt in DuckDB straight
from the generated files with the package's own oracle fragments (rules
match, dims as VALUES, decode CASE chains, the md5 key recipe of
``plans/stream_queries._stream_oracle``). Each insert is compared by its
``yqid``: row count and summed row hashes of ``announcements``, and row
counts of ``sentiment`` and ``keystore``. An insert whose rows are
missing, wrong or duplicated in any sink counts as one failure.

Query suite: a digest is the row count plus the sum of 64-bit row hashes
over rows rendered as ``tools/check.py`` renders them (sorted columns),
so it is order-insensitive and equal for Spark and DuckDB results that
the differential gate calls equal.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

from kafka_stream_spark.boards import NEEQ
from kafka_stream_spark.functions import decode, rules
from kafka_stream_spark.sources import dims
from tools.check import _norm  # the row rendering digests must match

#: announcements columns, in sink order, without ``__batch_id``
ANN_COLS = (
    "yqid", "only_id", "title", "cmp_short_name", "cmp_code", "site_name",
    "url", "publish_date", "rule_id", "category_code", "category_name",
    "level_key", "emo_score", "emo_label", "imp_score", "imp_label",
    "webname", "src_type", "rel_type", "is_valid", "data_status",
)

_ROW_HASH = "hash(concat_ws('|', {}))".format(
    ", ".join(f"coalesce(CAST({c} AS VARCHAR), '\\N')" for c in ANN_COLS)
)


def _expected_sql() -> str:
    emo = decode.decode_case_sql("r.sentiment", decode.EMO_LABELS)
    imp = decode.decode_case_sql("r.importance", decode.IMP_LABELS)
    return f"""
    CREATE OR REPLACE TEMP TABLE valid AS SELECT v FROM lines WHERE json_valid(v);

    CREATE OR REPLACE TEMP TABLE inserts AS
    SELECT DISTINCT
           json_extract_string(v, '$.o.st_name') AS cmp_short_name,
           json_extract_string(v, '$.o.st_code') AS cmp_code,
           json_extract_string(v, '$.o.title') AS title,
           json_extract_string(v, '$.o.publish_date') AS publish_date,
           json_extract_string(v, '$.o.url') AS url
    FROM valid
    WHERE json_type(v, '$.o') = 'OBJECT'
      AND coalesce(json_type(v, '$.o_set'), 'NULL') = 'NULL';

    CREATE OR REPLACE TEMP TABLE expected AS
    WITH enriched AS (
      SELECT c.*, coalesce(s.site_name, '') AS site_name
      FROM inserts c LEFT JOIN {dims.sites_values_sql('s')} ON c.cmp_code = s.source
    ), matched AS (
      SELECT e.*, r.rule_id, r.category_code, r.category_name,
             r.sentiment, r.importance
      FROM enriched e, {dims.rules_values_sql('r')}
      WHERE {rules.duckdb_match_sql('e.title', 'r.in_rules', 'r.filter_rules')}
    ), keyed AS (
      SELECT *, md5(concat_ws('||', coalesce(title, ''), coalesce(url, ''),
                              coalesce(publish_date, ''))) AS yqid
      FROM matched
    )
    SELECT yqid,
           md5(concat_ws('||', yqid, coalesce(site_name, ''),
                         coalesce(CAST(category_code AS VARCHAR), ''))) AS only_id,
           title, cmp_short_name, cmp_code, site_name, url, publish_date,
           rule_id, category_code, category_name,
           concat_ws('##', CAST(category_code AS VARCHAR),
                     CAST(rule_id AS VARCHAR)) AS level_key,
           sentiment AS emo_score, {emo} AS emo_label,
           importance AS imp_score, {imp} AS imp_label,
           '{NEEQ.webname}' AS webname, '{NEEQ.src_type}' AS src_type,
           '{NEEQ.rel_type}' AS rel_type, 1 AS is_valid, 1 AS data_status
    FROM keyed r;

    CREATE OR REPLACE TEMP TABLE exp_by_insert AS
    WITH ea AS (SELECT yqid, count(*) AS n, sum({_ROW_HASH}) AS hs
                FROM expected GROUP BY 1),
         i AS (SELECT DISTINCT md5(concat_ws('||', coalesce(title, ''), coalesce(url, ''),
                                             coalesce(publish_date, ''))) AS yqid
               FROM inserts)
    SELECT i.yqid, coalesce(ea.n, 0) AS n, coalesce(ea.hs, 0) AS hs
    FROM i LEFT JOIN ea USING (yqid);
    """


class CdcOracle:
    """Expected sink contents for every file under ``input_dir``."""

    def __init__(self, input_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            "CREATE TEMP TABLE lines AS SELECT v FROM ("
            "  SELECT unnest(string_split(content, chr(10))) AS v"
            f"  FROM read_text('{input_dir}/*.json')) WHERE v <> ''"
        )
        self.con.execute(_expected_sql())
        self.inserts = self.con.execute("SELECT count(*) FROM exp_by_insert").fetchone()[0]

    def _sink(self, path: str) -> str:
        return f"read_parquet('{path}/*/*.parquet', hive_partitioning = true)"

    def check(self, out_base: str) -> dict:
        """Failed inserts and sink totals for one set of sink directories."""
        ann = os.path.join(out_base, "announcements")
        if not os.path.isdir(ann):
            return {"attempted": self.inserts, "failed": self.inserts, "rows": 0,
                    "only_id_unique": False}
        con = self.con
        failed = con.execute(
            f"""
            WITH a AS (SELECT yqid, count(*) AS n, sum({_ROW_HASH}) AS hs
                       FROM {self._sink(ann)} GROUP BY 1),
                 s AS (SELECT yqid, count(*) AS n
                       FROM {self._sink(os.path.join(out_base, 'sentiment'))} GROUP BY 1),
                 k AS (SELECT yqid, count(*) AS n
                       FROM {self._sink(os.path.join(out_base, 'keystore'))} GROUP BY 1),
                 ids AS (SELECT yqid FROM exp_by_insert UNION SELECT yqid FROM a
                         UNION SELECT yqid FROM s UNION SELECT yqid FROM k)
            SELECT count(*) FROM ids
              LEFT JOIN exp_by_insert e USING (yqid)
              LEFT JOIN a USING (yqid) LEFT JOIN s USING (yqid) LEFT JOIN k USING (yqid)
            WHERE coalesce(e.n, 0) <> coalesce(a.n, 0)
               OR coalesce(e.hs, 0) <> coalesce(a.hs, 0)
               OR coalesce(e.n, 0) <> coalesce(s.n, 0)
               OR coalesce(e.n, 0) <> coalesce(k.n, 0)
               OR e.yqid IS NULL
            """
        ).fetchone()[0]
        rows, distinct_ids = con.execute(
            f"SELECT count(*), count(DISTINCT only_id) FROM {self._sink(ann)}"
        ).fetchone()
        return {"attempted": self.inserts, "failed": failed, "rows": rows,
                "only_id_unique": rows == distinct_ids}

    def first_commits(self, out_base: str) -> list[tuple[str, int]]:
        """(creation stamp, batch id) per insert that reached the sink."""
        ann = os.path.join(out_base, "announcements")
        return self.con.execute(
            f"SELECT min(publish_date), min(__batch_id) FROM {self._sink(ann)} GROUP BY yqid"
        ).fetchall()

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------- digests


def digest(columns: list[str], rows) -> dict:
    """Order-insensitive digest: row count and the sum (mod 2**64) of the
    first 8 bytes of each rendered row's md5."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        line = "|".join(_norm(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "little")
        n += 1
    return {"rows": n, "sum": format(total % (1 << 64), "016x")}
