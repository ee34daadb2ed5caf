"""Local mirror of the driver's CORRECTNESS gate: run every queries() entry
on Spark AND its oracle_sql() on DuckDB (sf0.01), compare row count, column
names, and values under order-insensitive sorted comparison.

Queries with no oracle entry get the weaker rows-only check, exactly like
the driver."""

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(9)
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("Int64")
        elif pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]")
        else:
            out[c] = out[c].astype(object).where(pd.notna(out[c]), None)
    out = out.sort_values(by=list(out.columns), na_position="first").reset_index(
        drop=True
    )
    return out


ALL_QUERIES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_query_vs_oracle(spark, duck, name):
    fn = entry_mod.queries()[name]
    oracles = entry_mod.oracle_sql()

    got = fn(spark, SF_DIR).toPandas()
    if name not in oracles:
        # rows-only check (driver's weak gate) — but locally we can demand
        # more: the query must execute AND produce a real schema and rows
        # (every rows-only query's fixture guarantees non-empty output)
        assert len(got.columns) > 0
        assert len(got) > 0, f"{name}: rows-only query returned no rows"
        return

    exp = duck.execute(oracles[name]).fetchdf()
    assert len(got) == len(exp), f"{name}: rowcount {len(got)} != {len(exp)}"
    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(exp.columns)}"
    )
    g, e = _normalize(got), _normalize(exp)
    # the driver's value-hash renders int64 and float64 differently, so an
    # int-typed Spark column vs a float-typed oracle column (e.g. DuckDB
    # SUM(BIGINT) → HUGEINT → float64 in fetchdf, the r3 json_extract fail)
    # must be an error here even though values compare equal numerically
    for c in g.columns:
        g_int = pd.api.types.is_integer_dtype(g[c])
        e_int = pd.api.types.is_integer_dtype(e[c])
        g_flt = pd.api.types.is_float_dtype(g[c])
        e_flt = pd.api.types.is_float_dtype(e[c])
        assert not (g_int and e_flt) and not (g_flt and e_int), (
            f"{name}.{c}: int/float dtype mismatch (spark "
            f"{g[c].dtype} vs oracle {e[c].dtype}) — wrap the oracle "
            f"aggregate in CAST(... AS BIGINT/DOUBLE); the driver's value "
            f"hash would mismatch"
        )
    pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=False,
                                  rtol=1e-9, atol=1e-12)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0  # the driver gate requires a non-empty flagship
    assert "sink" in df.columns


def test_every_query_has_oracle_or_documented_gap():
    """Every queries() entry should be value-checked; list the allowed
    exceptions explicitly so a new rows-only query is a conscious choice."""
    qs = set(entry_mod.queries())
    oracles = set(entry_mod.oracle_sql())
    assert oracles <= qs, f"orphan oracles: {oracles - qs}"
    assert qs - oracles == set(), (
        f"queries without a DuckDB oracle: {sorted(qs - oracles)}"
    )


#: The dedup family's contract queries; they share one private core in
#: operators/dedup.py, whose expressions must also hold with ANSI off.
#: dedup_components and cluster_split are the other two callers of
#: connected_components_star, whose small graphs are labeled on the driver.
ANSI_OFF_QUERIES = [
    "dedup_ngram_jaccard", "dedup_keep_list", "containment_dedup",
    "dup_spans", "remove_dup_spans", "remove_eval_spans", "decontaminate",
    "dedup_lines", "neardup_keep_best", "dedup_components", "cluster_split",
]


@pytest.mark.parametrize("name", ANSI_OFF_QUERIES)
def test_dedup_family_vs_oracle_ansi_off(spark, duck, name):
    """The same oracle comparison as ``test_query_vs_oracle``, run with
    ``spark.sql.ansi.enabled=false``; the session's value is restored."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        test_query_vs_oracle(spark, duck, name)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
