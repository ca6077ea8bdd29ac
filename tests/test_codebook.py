"""The broadcast-codebook primitives (operators/semdedup.py) order
centroids exactly as the DuckDB oracles' window forms do: squared-L2
``ORDER BY round(dist, 6), cid`` and cosine ``ORDER BY round(cos, 6)
DESC, cid``, with DuckDB's NaN/NULL placement (NaN sorts as the
largest number, NULL last), and an empty codebook yields no rows, as
the oracles' CROSS JOIN does.  Also pins the plan-size bar for the PQ
keys: no ``explain("formatted")`` line over 1 KB."""

from __future__ import annotations

import duckdb
import pytest

from kafka_stream_spark.functions import vectors
from kafka_stream_spark.operators import ann
from kafka_stream_spark.operators.semdedup import (
    _probe_assignments,
    assign_clusters,
)
from kafka_stream_spark.plans import QUERIES

NAN = float("nan")

#: vec 2 holds a NaN, vec 3 has zero norm (NULL cosine); vec 5 is
#: equidistant from cids 10 and 13, vec 1 equally cosine-close to 10
#: and 12 — exact ties the cid must break
VECS = [
    (1, [1.0, 0.0]),
    (2, [NAN, 1.0]),
    (3, [0.0, 0.0]),
    (4, [1.0, 1.0]),
    (5, [0.5, 0.5]),
]
#: cid 11 is a NULL centroid vector
CENTS = [(10, [1.0, 0.0]), (11, None), (12, [2.0, 0.0]), (13, [0.0, 1.0])]


def _frames(spark, cents):
    e = spark.createDataFrame(VECS, "vec_id long, emb array<double>")
    c = spark.createDataFrame(cents, "cid long, cvec array<double>")
    return e, c


def _list_sql(xs) -> str:
    # a Python NaN bound as a parameter would arrive as NULL
    if xs is None:
        return "NULL"
    return "[" + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in xs) + "]"


def _duck(cents, sql: str) -> set:
    con = duckdb.connect()
    con.execute("CREATE TABLE e (vec_id BIGINT, emb DOUBLE[])")
    con.execute("CREATE TABLE c (cid BIGINT, cvec DOUBLE[])")
    for table, rows in (("e", VECS), ("c", cents)):
        for i, xs in rows:
            con.execute(f"INSERT INTO {table} VALUES ({i}, {_list_sql(xs)})")
    return {_key(r) for r in con.execute(sql).fetchall()}


def _key(row) -> tuple:
    # NaN != NaN: compare floats by repr
    return tuple(repr(v) if isinstance(v, float) else v for v in row)


_PROBE_SQL = f"""
    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round({vectors.cosine_sql('e.emb', 'c.cvec')}, 6) DESC,
                      c.cid) AS prn
    FROM e CROSS JOIN c"""

_ARGMIN_SQL = """
    SELECT vec_id, cid, dist FROM (
      SELECT e.vec_id, c.cid,
             round(list_aggregate(list_transform(range(len(e.emb)),
               i -> pow(e.emb[i + 1] - c.cvec[i + 1], 2)), 'sum'), 6) AS dist,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY dist, c.cid) AS rn
      FROM e CROSS JOIN c)
    WHERE rn = 1"""


@pytest.mark.parametrize("cents", [CENTS, []], ids=["codebook", "empty"])
def test_cosine_probe_order_matches_duckdb(spark, cents):
    e, c = _frames(spark, cents)
    want = _duck(cents, _PROBE_SQL)
    got = {
        _key((r["vec_id"], r["cid"], r["prn"]))
        for r in _probe_assignments(e, c, nprobe=len(CENTS)).collect()
    }
    assert got == want
    if cents:
        # the NULL centroid ranks last behind numbers and NaN; vec 3's
        # cosines are all NULL, so cid alone orders them; the cosine
        # tie goes to the lower cid
        assert {(v, p) for v, cid, p in got if cid == 11} == {
            (1, 4), (2, 4), (3, 2), (4, 4), (5, 4)
        }
        assert (1, 10, 1) in got and (1, 12, 2) in got
    else:
        assert got == set()


@pytest.mark.parametrize("cents", [CENTS, []], ids=["codebook", "empty"])
def test_ivf_assign_is_the_first_probe(spark, cents):
    e, c = _frames(spark, cents)
    corpus = e.withColumnRenamed("vec_id", "n_id")
    cb = c.withColumnRenamed("cid", "c_id").withColumnRenamed("cvec", "c_emb")
    got = {
        (r["n_id"], r["centroid_id"])
        for r in ann.ivf_assign(corpus, cb).collect()
    }
    want = {(v, cid) for v, cid, p in _duck(cents, _PROBE_SQL) if p == 1}
    assert got == want


@pytest.mark.parametrize("cents", [CENTS, []], ids=["codebook", "empty"])
def test_argmin_order_matches_duckdb(spark, cents):
    e, c = _frames(spark, cents)
    want = _duck(cents, _ARGMIN_SQL)
    got = {
        _key((r["vec_id"], r["cid"], r["dist"]))
        for r in assign_clusters(e, c).collect()
    }
    assert got == want
    if cents:
        # exact (dist, cid) tie → lower cid; NaN distances still pick a
        # real centroid (lowest cid), never the NULL one
        assert (5, 10, "0.5") in got
        assert (2, 10, "nan") in got


def test_keyed_codebook_assigns_within_the_rows_group(spark):
    # vec 1's nearest centroid overall (cid 20) belongs to group 1; m=2
    # has no codebook, so its row drops, as the oracle's JOIN drops it
    vecs = [(1, 0, [1.0, 0.0]), (2, 1, [1.0, 0.0]), (3, 2, [1.0, 0.0])]
    cents = [(0, 10, [0.0, 1.0]), (0, 11, [-1.0, 0.0]), (1, 20, [1.0, 0.0])]
    e = spark.createDataFrame(vecs, "vec_id long, m int, emb array<double>")
    c = spark.createDataFrame(cents, "m int, cid long, cvec array<double>")
    got = {
        (r["vec_id"], r["m"], r["cid"], r["dist"])
        for r in assign_clusters(e, c, key="m").collect()
    }
    assert got == {(1, 0, 10, 2.0), (2, 1, 20, 0.0)}


@pytest.mark.parametrize("key", ["q_pq_codebook", "q_ivfpq_recall"])
def test_pq_plan_lines_stay_under_1kb(spark, sf_dir, capsys, key):
    QUERIES[key](spark, sf_dir).explain("formatted")
    longest = max(len(line) for line in capsys.readouterr().out.splitlines())
    assert longest <= 1024, f"{key}: {longest}-char plan line"
