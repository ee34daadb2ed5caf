"""Skewed-group sampling: the hash-threshold prefilter in quota_sample /
mix_sample must (a) change nothing about which rows are selected, (b) cap
the rows entering the per-group window to ~keep_n instead of n_g for a
dominant group, and (c) raise — never silently under-sample — if the
cutoff ever falls short (forced here by patching the margin). The window
cap and the margin are module constants read at call time, so each test
patches them with ``monkeypatch``."""

import pytest
from pyspark.sql import functions as F

from logpipe_spark.operators import corpus
from logpipe_spark.operators.corpus import (
    _quota_prefiltered,
    mix_sample,
    quota_sample,
)

BIG, SMALL = 20_000, 200  # one group 100x the median


@pytest.fixture(scope="module")
def skewed(spark):
    rows = [(f"d{i:06d}", "big") for i in range(BIG)]
    for g in ("a", "b", "c", "d", "e"):
        rows += [(f"{g}{i:04d}", g) for i in range(SMALL)]
    return spark.createDataFrame(rows, "doc_id string, lang string").cache()


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_quota_prefilter_is_bit_identical_to_plain_window(skewed, monkeypatch):
    monkeypatch.setattr(corpus, "DEFAULT_WINDOW_CAP", 10**9)
    plain = quota_sample(skewed, quota=50)  # never prefilters
    monkeypatch.setattr(corpus, "DEFAULT_WINDOW_CAP", 256)
    pre = quota_sample(skewed, quota=50)  # big group prefiltered
    assert _ids(plain) == _ids(pre)
    per_group = {
        r["lang"]: r["n"]
        for r in pre.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_group == {g: 50 for g in ("big", "a", "b", "c", "d", "e")}


def test_quota_prefilter_caps_window_input_on_dominant_group(skewed, monkeypatch):
    monkeypatch.setattr(corpus, "DEFAULT_WINDOW_CAP", 256)
    sliver, _ = _quota_prefiltered(skewed, "lang", quota=50)
    by_group = {
        r["lang"]: r["n"]
        for r in sliver.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # the dominant group's window input is ~quota*margin, not n_g:
    # margin(50) ~= 3.26, expected sliver ~ 50*3.26 ~= 163 of 20000 rows
    assert 50 <= by_group["big"] < 1_000, by_group
    # sub-cap groups pass through whole (cutoff == HASH_SPACE)
    for g in ("a", "b", "c", "d", "e"):
        assert by_group[g] == SMALL


def test_quota_prefilter_shortfall_raises_not_undersamples(skewed, monkeypatch):
    # a margin far below 1 makes the cutoff exclude most of the quota's
    # rows; the lazy assert_true guard must surface that loudly
    monkeypatch.setattr(corpus, "DEFAULT_WINDOW_CAP", 256)
    monkeypatch.setattr(corpus, "_prefilter_margin", lambda keep_n: 0.01)
    starved = quota_sample(skewed, quota=50)
    with pytest.raises(Exception, match="shortfall"):
        starved.collect()


def test_mix_sample_prefilter_is_bit_identical(skewed, monkeypatch):
    targets = {"big": 0.6, "a": 0.2, "b": 0.2}
    monkeypatch.setattr(corpus, "DEFAULT_WINDOW_CAP", 10**9)
    plain = mix_sample(skewed, targets, group_col="lang")
    monkeypatch.setattr(corpus, "DEFAULT_WINDOW_CAP", 128)
    pre = mix_sample(skewed, targets, group_col="lang")
    assert _ids(plain) == _ids(pre)
    # binding group is a (n=200, part 2/10): T = 200/0.2 = 1000 ->
    # keep big=600, a=200, b=200; exact integer math must land these dead on
    got = {
        r["lang"]: r["n"]
        for r in pre.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == {"big": 600, "a": 200, "b": 200}


def test_mix_sample_exact_keep_counts_at_quota_boundaries(spark):
    # counts chosen so float min(n/f) sits an ulp under/over an integer;
    # exact Fraction math keeps the binding group whole (keep == n) and
    # floors the rest identically to the BIGINT oracle form
    rows = []
    counts = {"x": 3, "y": 27, "z": 41}
    for g, n in counts.items():
        rows += [(f"{g}{i}", g) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, src string")
    got = mix_sample(df, {"x": 0.1, "y": 0.9}, group_col="src")
    per = {
        r["src"]: r["n"]
        for r in got.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # T = min(3/0.1, 27/0.9) = 30 exactly; keep x = floor(0.1*30) = 3 (whole
    # binding group), keep y = floor(0.9*30) = 27 (whole), z dropped
    assert per == {"x": 3, "y": 27}
