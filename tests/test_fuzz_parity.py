"""Seeded fuzz parity: adversarial text through every implementation of the
same semantics — Spark builtin vs pure-Python oracle — and
random glob patterns through the compiled rlike vs the Python matcher.

One Spark job per property (hypothesis's per-example loop doesn't fit a JVM
round trip; a seeded corpus gives the same adversarial coverage
deterministically)."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logpipe_spark.globs import glob_to_regex, is_match
from logpipe_spark.operators.parse import PARSE_COLS, extract_builtin
from logpipe_spark.operators.route import route
from logpipe_spark.oracle import parse_text, route_row

ADVERSARIAL_CHARS = list("abZ09 _-.()[]{}|\\^$*+?<>\"'/\n\t") + ["é", "模", "ß", "→"]


def _random_texts(n=2000, seed=7):
    rng = random.Random(seed)
    texts = []
    for i in range(n):
        kind = rng.randrange(6)
        if kind == 0:
            texts.append(f"CALL {rng.choice(['bash','a_b','x9'])}({rng.choice(['', 'a,b', '()'[0]*0])}) -> {rng.choice(['ok','denied'])}")
        elif kind == 1:
            texts.append(f"ERROR {rng.randrange(100,999)} " + "".join(rng.choices(ADVERSARIAL_CHARS, k=rng.randrange(0, 30))))
        elif kind == 2:
            texts.append(f"[[system={rng.choice(['a','核'])}][server=h][offset={rng.randrange(10**9)}][line={rng.randrange(1,10**6)}]]tail")
        elif kind == 3:
            texts.append("".join(rng.choices(ADVERSARIAL_CHARS, k=rng.randrange(0, 60))))
        elif kind == 4:
            # near-miss prefixes that must NOT parse
            texts.append(rng.choice([
                "CALL missing_arrow(x)", "ERROR 99 too-short-code",
                "ERROR abc not-a-code", "[[system=x][server=y]]incomplete",
                "CALL bad tool(x) -> ok", "CALLED something() -> ok",
            ]))
        else:
            texts.append(" ".join("".join(rng.choices(ADVERSARIAL_CHARS, k=3)) for _ in range(rng.randrange(0, 12))))
    return texts


@pytest.fixture(scope="module")
def fuzz_df(spark):
    pdf = pd.DataFrame({"id": range(2000), "text": _random_texts()})
    return pdf, spark.createDataFrame(pdf).cache()


def _norm(pdf):
    out = pdf.sort_values("id").reset_index(drop=True)
    for c in PARSE_COLS:
        # dtype=object keeps Nones as Nones (Series.map would re-infer
        # ints+Nones back into float64 NaNs, and NaN != NaN)
        out[c] = pd.Series(
            [
                None if pd.isna(v) else (int(v) if isinstance(v, float) else v)
                for v in out[c]
            ],
            dtype=object,
            index=out.index,
        )
    return out[["id", *PARSE_COLS]]


def test_parse_three_way_parity(fuzz_df):
    pdf, df = fuzz_df
    builtin = _norm(extract_builtin(df).toPandas())
    oracle = pd.DataFrame([parse_text(t) for t in pdf["text"]])
    oracle.insert(0, "id", pdf["id"].values)
    oracle = _norm(oracle)
    for col in PARSE_COLS:
        assert builtin[col].tolist() == oracle[col].tolist(), f"builtin vs oracle: {col}"


def _random_rules(seed=11, n=12):
    rng = random.Random(seed)
    rules = []
    for i in range(n):
        pat = "".join(
            rng.choice(["*", "?", rng.choice("abE [](){}.+^$RO")])
            for _ in range(rng.randrange(1, 8))
        )
        rules.append(
            {
                "rule_id": i,
                "match_col": "text",
                "pattern": pat,
                "exclude": rng.random() < 0.25,
                "sink": f"s{i}",
            }
        )
    rules.append({"rule_id": 99, "match_col": "text", "pattern": "*",
                  "exclude": False, "sink": "default"})
    return rules


def test_route_glob_parity_random_patterns(spark, fuzz_df):
    """Random glob patterns full of regex metachars: the compiled rlike
    CASE must route every fuzz row exactly like the Python matcher."""
    pdf, df = fuzz_df
    rules = _random_rules()
    got = (
        route(df, rules).select("id", "sink").toPandas()
        .sort_values("id").reset_index(drop=True)
    )
    exp = [route_row(rules, {"text": t}) for t in pdf["text"]]
    got_list = [None if pd.isna(v) else v for v in got["sink"]]
    assert got_list == exp


def test_glob_regex_compiles_for_arbitrary_patterns():
    import re

    rng = random.Random(3)
    for _ in range(500):
        pat = "".join(rng.choice(ADVERSARIAL_CHARS + ["*", "?"]) for _ in range(rng.randrange(0, 12)))
        rx = re.compile(glob_to_regex(pat))
        s = "".join(rng.choice(ADVERSARIAL_CHARS) for _ in range(rng.randrange(0, 12)))
        assert isinstance(is_match(pat, s), bool)
        assert (rx.match(s) is not None) == is_match(pat, s)
