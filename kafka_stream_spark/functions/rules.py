"""Keyword-rule classification as pure Column expressions.

Re-expresses the reference's rule matcher (kafka_s.py:220-297,
mysql_yi/mysql_rules.py:26-64) with the exact parsing semantics it uses
(SURVEY.md §2.3 P11, §2.4 J3):

- ``in_rules`` splits on ``、`` into OR-groups; each OR-group is
  ``strip()``-ed, then split on ``&`` into AND-keywords. The AND parts are
  NOT re-stripped (kafka_s.py:243-245 strips only the OR-group) — we keep
  that asymmetry.
- a title matches a rule iff SOME OR-group has ALL its AND-keywords as
  substrings of the title (list-equality check at kafka_s.py:264 ==
  all-present), AND no non-empty filter keyword (split on ``、``) is a
  substring (kafka_s.py:267-272).
- one title that matches N rules produces N output rows
  (kafka_s.py:240-249) — in Spark that is an inner theta-join against the
  (broadcast) rules table, not a loop.

Everything here compiles to native Catalyst expressions
(split/transform/exists/forall/contains) — whole-stage-codegen-able, no
Python UDF, which is what makes the match viable on 100 TB: the rules
side broadcasts (it is tiny) and the stream side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

OR_SEP = "、"
AND_SEP = "&"


def parse_in_rules(in_rules: Column | str) -> Column:
    """``'a&b、c'`` → ``[['a','b'], ['c']]`` (OR-groups of AND-keywords).

    OR-groups are trimmed; AND-parts deliberately are not (reference
    asymmetry, kafka_s.py:243-245).
    """
    col = F.col(in_rules) if isinstance(in_rules, str) else in_rules
    return F.transform(
        F.split(col, OR_SEP), lambda g: F.split(F.trim(g), AND_SEP)
    )


def parse_filter_rules(filter_rules: Column | str) -> Column:
    """``'x、y'`` → ``['x','y']`` with empty entries dropped.

    Dropping empties matters: ``contains(title, '')`` is true, so an empty
    filter rule would veto every row. The reference only consults
    filter rules when the string is non-empty (kafka_s.py:267-272); the
    filter-out-empties form is the vectorized equivalent.
    """
    col = F.col(filter_rules) if isinstance(filter_rules, str) else filter_rules
    return F.filter(F.split(col, OR_SEP), lambda kw: kw != F.lit(""))


def rule_matches(title: Column, in_rules: Column, filter_rules: Column) -> Column:
    """Boolean join predicate: title matches the (in_rules, filter_rules) rule."""
    groups = parse_in_rules(in_rules)
    included = F.exists(
        groups,
        lambda grp: F.forall(grp, lambda kw: title.contains(kw)),
    )
    vetoed = F.exists(
        parse_filter_rules(filter_rules), lambda kw: title.contains(kw)
    )
    return included & ~vetoed


def veto_only(title: Column, filter_rules: Column) -> Column:
    """The standalone anti-filter predicate (kafka_s.py:267-272)."""
    return ~F.exists(parse_filter_rules(filter_rules), lambda kw: title.contains(kw))


# ---------------------------------------------------------------------------
# Driver-compiled join condition — the join-condition-safe form.
#
# Spark 4.x has a fresh-session bug with higher-order-function lambdas in a
# JOIN condition: when the stream-side attribute holds a low exprId (text#1
# in a cold session), the lambda-variable exprIds collide with it, the
# conjunct's computed references drop the stream-side column, and the
# predicate is pushed into a FilterExec over the broadcast side alone —
# [INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND] Could not find text#1 in [rule_id#5L,
# …]. Reproduced with Python-built HOFs, F.expr-parsed HOFs, and a full
# spark.sql formulation alike; warming the session (any prior action) bumps
# the exprId counter past the collision and masks it — which is why warm
# sharded gates never saw it.
#
# The robust fix mirrors the reference's own architecture: the rules dim is
# tiny and the reference loops over it per record after loading it into a
# Python list (kafka_s.py:240-249, mysql_yi/mysql_rules.py:26-64). We
# collect the dim driver-side once and COMPILE each rule's keyword logic
# into literal `contains` conjunctions — the join condition becomes a plain
# boolean tree with zero lambdas, immune to the collision, and still pure
# whole-stage-codegen (contains over literals). At 100 TB the work is
# identical to the HOF form: BroadcastNestedLoopJoin evaluates ~K literal
# substring tests per fact row, the fact side never shuffles. The tree is
# rendered as ONE SQL string and parsed once (``F.expr``): building it from
# Column calls cost ~200 py4j round trips per query start.
# ---------------------------------------------------------------------------


def parse_rule_py(in_rules: str, filter_rules: str) -> tuple[list[list[str]], list[str]]:
    """Driver-side parse with semantics identical to :func:`parse_in_rules` /
    :func:`parse_filter_rules` (OR-groups stripped of spaces like SQL
    ``trim``, AND-parts not; empty filter keywords dropped)."""
    groups = [g.strip(" ").split(AND_SEP) for g in in_rules.split(OR_SEP)]
    vetoes = [kw for kw in filter_rules.split(OR_SEP) if kw != ""]
    return groups, vetoes


def _sql_str(s: str) -> str:
    """Spark SQL string literal (default parser: backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def match_sql(title: str, rule_rows) -> str:
    """Join condition for fact ⋈ rules as ONE SQL CASE chain on the rule key.

    ``title`` names the fact-side text column; ``rule_rows`` is an iterable
    of (rule_id, in_rules, filter_rules) collected from the (tiny) rules
    dim, whose key column is ``rule_id``. The CASE-on-primary-key shape
    (WHEN rule_id = k THEN <literal match for rule k>) evaluates ONLY the
    paired rule's keywords per (fact, rule) pair — same per-pair work as
    the HOF form; an OR-of-branches form would evaluate every rule's
    keywords per pair (measured 1.6× slower at sf0.1). ``rule_id`` is the
    dim's key: rows sharing a key all use the first such row's keywords.
    A rule with a NULL ``in_rules`` or ``filter_rules`` never matches (the
    HOF and DuckDB forms yield NULL there); zero rules give ``false`` — an
    empty join, as the oracle's inner join. Lambda-free theta-join
    condition (J3)."""
    t = f"`{title}`"
    branches = []
    for rid, in_rules, filter_rules in rule_rows:
        if in_rules is None or filter_rules is None:
            continue
        key = "IS NULL" if rid is None else f"= {int(rid)}"
        groups, vetoes = parse_rule_py(in_rules, filter_rules)
        included = " OR ".join(
            "(" + " AND ".join(f"contains({t}, {_sql_str(kw)})" for kw in grp) + ")"
            for grp in groups
        )
        vetoed = "".join(f" AND NOT contains({t}, {_sql_str(kw)})" for kw in vetoes)
        branches.append(f"WHEN `rule_id` {key} THEN ({included}){vetoed}")
    if not branches:
        return "false"
    return "CASE " + " ".join(branches) + " ELSE false END"


def rule_join(facts: DataFrame, rules_df: DataFrame, title: str) -> DataFrame:
    """``facts`` ⋈ broadcast(``rules_df``): one row per (fact, matching rule).

    Collects the rules dim's keyword columns (no job for the driver-local
    :mod:`sources.dims` relation; a file-backed dim is read once, here)
    and joins on the compiled :func:`match_sql` condition."""
    rule_rows = rules_df.select("rule_id", "in_rules", "filter_rules").collect()
    cond = F.expr(match_sql(title, rule_rows))
    return facts.join(F.broadcast(rules_df), cond, "inner")


# ---------------------------------------------------------------------------
# DuckDB-oracle SQL fragments for the same semantics (used by plans.queries).
# DuckDB lambdas: list_filter/list_transform with `x -> expr`.
# ---------------------------------------------------------------------------

def duckdb_match_sql(title: str, in_rules: str, filter_rules: str) -> str:
    """SQL boolean expression replicating :func:`rule_matches` in DuckDB."""
    return f"""(
      len(list_filter(
            string_split({in_rules}, '、'),
            g -> len(list_filter(string_split(trim(g), '&'),
                                 kw -> contains({title}, kw)))
                 = len(string_split(trim(g), '&'))
      )) > 0
      AND len(list_filter(
            list_filter(string_split({filter_rules}, '、'), kw -> kw <> ''),
            kw -> contains({title}, kw)
      )) = 0
    )"""
