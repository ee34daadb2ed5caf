"""Route stage — rule-driven fan-out routing to a `sink` column.

Reimplements the reference's routing surfaces as one declarative
first-match-wins rule table (FIXTURES.md §3):

- include/exclude glob walk over filenames, first match wins
  (`src-plugins/logpipe-input-file.c:593-739`, matcher :477-529)
- ES `grep` substring keep-filter (`src-plugins/logpipe-output-es.c:610-617`)
- filename-key cutting for sink selection
  (`src-plugins/logpipe-output-ingeek.c:448-494`)

The compiled form is a single CASE WHEN chain (`F.when` cascade) producing
``sink: string`` (NULL = dropped). It is pure Catalyst expression — codegen'd,
pushdown-friendly, no UDF — so routing adds ~zero cost to the scan at any
scale. Rules are evaluated in ``rule_id`` order exactly like the oracle
(`oracle.route_row`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logpipe_spark.globs import glob_to_regex_java


def _rule_predicate(rule: dict) -> Column:
    """Compile one glob to the cheapest equivalent predicate. The common
    shapes map to native string ops (faster than the regex engine and
    pushdown-friendly); only globs with interior/`?` wildcards fall back to
    an anchored rlike. Parity with the Python matcher is fuzz-tested
    (tests/test_fuzz_parity.py)."""
    col = F.col(rule["match_col"])
    pat = rule["pattern"]
    if "?" not in pat:
        stars_at = [i for i, ch in enumerate(pat) if ch == "*"]
        inner = pat.strip("*")
        if not stars_at:
            return col == F.lit(pat)                      # pure literal
        if "*" not in inner:                              # stars only at edges
            if pat == "*" * len(pat):
                return col.isNotNull()                    # match-anything
            if pat.startswith("*") and pat.endswith("*"):
                return col.contains(inner)
            if pat.endswith("*"):
                return col.startswith(inner)
            if pat.startswith("*"):
                return col.endswith(inner)
    return col.rlike(glob_to_regex_java(pat))


def compile_rules(rules: list[dict]) -> Column:
    """rules → CASE expression yielding the sink name or NULL (= DROP)."""
    expr: Column | None = None
    for rule in sorted(rules, key=lambda r: r["rule_id"]):
        target = (
            F.lit(None).cast("string")
            if rule["exclude"] or rule["sink"] == "DROP"
            else F.lit(rule["sink"])
        )
        pred = _rule_predicate(rule)
        expr = F.when(pred, target) if expr is None else expr.when(pred, target)
    if expr is None:
        return F.lit(None).cast("string")
    return expr.otherwise(F.lit(None).cast("string"))


def route(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Annotate every row with its routed ``sink`` (NULL = dropped). Dropped rows
    are kept at this stage so lineage can count them; filter happens at the
    sink writer."""
    return df.withColumn("sink", compile_rules(rules))
