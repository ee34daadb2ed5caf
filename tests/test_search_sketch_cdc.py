"""Hand-value tests for the late-round-5 operator families: BM25 search
(operators/search.py), rate anomaly (operators/asof.py:rate_anomaly),
CDC merge (operators/cdc.py), and the portable HLL sketch
(operators/sketch.py). Cross-engine value parity is covered by the
contract oracles; these pin the SEMANTICS on tiny hand-checkable
fixtures."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from logpipe_spark.operators.asof import rate_anomaly
from logpipe_spark.operators.cdc import merge_changes
from logpipe_spark.operators.search import bm25_topk
from logpipe_spark.operators.sketch import hll_distinct_multi, hll_registers_multi


# ---------------------------------------------------------------- BM25


def test_bm25_hand_values(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="cat cat dog"),
            Row(doc_id=2, text="dog"),
            Row(doc_id=3, text="bird bird bird bird"),
        ]
    )
    out = {
        r["doc_id"]: r
        for r in bm25_topk(docs, ["cat"], k=10).collect()
    }
    # only doc 1 contains "cat"
    assert set(out) == {1}
    r = out[1]
    # N=3 docs, df=1, avgdl=(3+1+4)/3; tf=2, dl=3
    idf = (3 - 1 + 0.5) / (1 + 0.5)
    denom = 2.0 + 1.2 * (0.25 + 0.75 * (3.0 / (8.0 / 3.0)))
    assert r["score"] == pytest.approx(idf * (2.0 * 2.2) / denom, abs=1e-12)
    assert r["tf_0"] == 2 and r["dl"] == 3


def test_bm25_orders_by_score_and_breaks_ties_by_id(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text="cat filler" if i % 2 else "filler word")
            for i in range(10)
        ]
    )
    rows = bm25_topk(docs, ["cat"], k=3).collect()
    # all matching docs have identical score -> doc_id ascending tie-break
    assert [r["doc_id"] for r in rows] == [1, 3, 5]


def test_bm25_rejects_empty_and_duplicate_terms(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="x")])
    with pytest.raises(ValueError):
        bm25_topk(docs, [])
    with pytest.raises(ValueError):
        bm25_topk(docs, ["a", "a"])


def test_bm25_plan_never_shuffles_the_corpus(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="cat dog") for i in range(100)]
    )
    plan = bm25_topk(docs, ["cat", "dog"], k=5)._jdf.queryExecution().executedPlan().toString()
    # the only exchange allowed is the 1-row stats broadcast; a corpus
    # shuffle would appear as Exchange hashpartitioning
    assert "hashpartitioning" not in plan


# -------------------------------------------------------- rate anomaly


def test_rate_anomaly_hand_spike(spark):
    # 12 calm buckets of n=2 then one spike bucket n=12; trailing=8
    rows = []
    eid = 0
    for b in range(13):
        n = 12 if b == 12 else 2
        for _ in range(n):
            rows.append(
                Row(event_id=eid, ts=f"2024-01-01 {b:02d}:15:00", event_type="a")
            )
            eid += 1
    ev = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["bucket"]: r for r in rate_anomaly(
        ev, interval_s=3600, trailing=8, min_points=8, threshold=3.0
    ).collect()}
    spike = max(out)
    # trailing window of the spike is 8 constant buckets -> zero variance
    assert out[spike]["z"] is None and not out[spike]["is_anomaly"]
    # make the history non-constant: bump one bucket
    rows.append(Row(event_id=eid, ts="2024-01-01 05:15:00", event_type="a"))
    ev2 = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    out2 = {r["bucket"]: r for r in rate_anomaly(
        ev2, interval_s=3600, trailing=8, min_points=8, threshold=3.0
    ).collect()}
    r = out2[spike]
    # S=17, Q=37, w=8 over [2,2,2,2(+1=3),2,2,2,2] tail; z=(8*12-17)/sqrt(8*37-289)
    assert r["w"] == 8
    assert r["z"] == pytest.approx((8 * 12 - 17) / math.sqrt(8 * 37 - 17 * 17))
    assert r["is_anomaly"]


def test_rate_anomaly_head_has_null_z_until_min_points(spark):
    rows = [
        Row(event_id=i, ts=f"2024-01-01 {i:02d}:00:00", event_type="a")
        for i in range(10)
    ]
    ev = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    out = rate_anomaly(ev, trailing=24, min_points=8).collect()
    by_w = {r["w"]: r["z"] for r in out}
    assert all(z is None for w, z in by_w.items() if w < 8)


# ------------------------------------------------------------ CDC merge


@pytest.fixture()
def cdc_base(spark):
    return spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
    )


def test_merge_changes_upsert_delete_insert_passthrough(spark, cdc_base):
    changes = spark.createDataFrame(
        [
            Row(k=1, op="U", seq=1, v="a1"),
            Row(k=1, op="U", seq=2, v="a2"),   # latest wins
            Row(k=2, op="D", seq=1, v=None),   # delete
            Row(k=4, op="U", seq=1, v="new"),  # insert
            Row(k=5, op="U", seq=1, v="x"),
            Row(k=5, op="D", seq=2, v=None),   # insert then delete = absent
        ]
    )
    out = {r["k"]: r["v"] for r in merge_changes(
        cdc_base, changes, "k", ["seq"]
    ).collect()}
    assert out == {1: "a2", 3: "c", 4: "new"}


def test_merge_changes_delete_then_reinsert_uses_latest(spark, cdc_base):
    changes = spark.createDataFrame(
        [Row(k=2, op="D", seq=1, v=None), Row(k=2, op="U", seq=2, v="b2")]
    )
    out = {r["k"]: r["v"] for r in merge_changes(
        cdc_base, changes, "k", ["seq"]
    ).collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}


def test_merge_changes_requires_payload_columns(spark, cdc_base):
    changes = spark.createDataFrame([Row(k=1, op="U", seq=1)])
    with pytest.raises(ValueError, match="payload"):
        merge_changes(cdc_base, changes, "k", ["seq"])


# ------------------------------------------------------------ HLL sketch


def test_hll_registers_mergeable_by_max(spark):
    a = spark.range(0, 5000).select(F.col("id").cast("string").alias("s"))
    b = spark.range(2500, 7500).select(F.col("id").cast("string").alias("s"))
    ra, rb = hll_registers_multi(a, ["s"]), hll_registers_multi(b, ["s"])
    merged = (
        ra.unionByName(rb)
        .groupBy("col_name", "j")
        .agg(F.max("m_j").alias("m_j"))
    )
    whole = hll_registers_multi(
        spark.range(0, 7500).select(F.col("id").cast("string").alias("s")), ["s"]
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_hll_estimate_within_5pct_at_10k(spark):
    df = spark.range(0, 10000).select(F.col("id").cast("string").alias("s"))
    est = hll_distinct_multi(df, ["s"]).collect()[0]["estimate"]
    assert abs(est - 10000) / 10000 < 0.05


def test_hll_small_range_uses_linear_counting(spark):
    df = spark.range(0, 50).select(F.col("id").cast("string").alias("s"))
    row = hll_distinct_multi(df, ["s"]).collect()[0]
    # LC formula: m * ln(m / empty)
    expected = 256.0 * math.log(256.0 / (256 - row["v_used"]))
    assert row["estimate"] == pytest.approx(expected, abs=1e-12)
    assert abs(row["estimate"] - 50) / 50 < 0.15


def test_cm_sketch_point_estimates_upper_bound_and_exact_when_sparse(spark):
    from logpipe_spark.operators.sketch import cm_query, cm_sketch

    rows = [Row(s="a")] * 30 + [Row(s="b")] * 7 + [Row(s="c")]
    df = spark.createDataFrame(rows)
    sk = cm_sketch(df, "s", depth=4, width=1024)
    est = {r["value"]: r["est"] for r in cm_query(
        sk, ["a", "b", "c", "absent"], depth=4, width=1024
    ).collect()}
    # width 1024 with 3 distinct values: no collisions, estimates exact;
    # absent value reads 0 (min over empty counters)
    assert est == {"a": 30, "b": 7, "c": 1, "absent": 0}


def test_cm_sketch_collision_overestimates_never_under(spark):
    from logpipe_spark.operators.sketch import cm_query, cm_sketch

    # width=2 forces collisions; CM may only overestimate
    rows = [Row(s=f"v{i}") for i in range(40) for _ in range(i % 5 + 1)]
    df = spark.createDataFrame(rows)
    sk = cm_sketch(df, "s", depth=4, width=2)
    truth = {}
    for i in range(40):
        truth[f"v{i}"] = i % 5 + 1
    est = {r["value"]: r["est"] for r in cm_query(
        sk, list(truth), depth=4, width=2
    ).collect()}
    assert all(est[v] >= truth[v] for v in truth)


def test_cm_sketch_merges_by_sum(spark):
    from logpipe_spark.operators.sketch import cm_sketch

    a = spark.createDataFrame([Row(s="x")] * 5 + [Row(s="y")] * 2)
    b = spark.createDataFrame([Row(s="x")] * 3 + [Row(s="z")])
    merged = (
        cm_sketch(a, "s").unionByName(cm_sketch(b, "s"))
        .groupBy("i", "pos").agg(F.sum("c").alias("c"))
    )
    whole = cm_sketch(a.unionByName(b), "s")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_transition_matrix_hand_values(spark):
    from logpipe_spark.operators.asof import transition_matrix

    rows = [
        # user 1: a -> b -> a ; user 2: a -> a
        Row(user_id=1, event_type="a", ts="2024-01-01 00:00:00", event_id=1),
        Row(user_id=1, event_type="b", ts="2024-01-01 00:01:00", event_id=2),
        Row(user_id=1, event_type="a", ts="2024-01-01 00:02:00", event_id=3),
        Row(user_id=2, event_type="a", ts="2024-01-01 00:00:00", event_id=4),
        Row(user_id=2, event_type="a", ts="2024-01-01 00:03:00", event_id=5),
    ]
    ev = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r["src"], r["dst"]): (r["n"], r["ppm"]) for r in
           transition_matrix(ev).collect()}
    # src 'a' leaves twice: a->b (user1), a->a (user2); src 'b' once: b->a
    assert out == {
        ("a", "b"): (1, 500000),
        ("a", "a"): (1, 500000),
        ("b", "a"): (1, 1000000),
    }


def test_transition_matrix_never_crosses_users(spark):
    from logpipe_spark.operators.asof import transition_matrix

    rows = [
        Row(user_id=1, event_type="a", ts="2024-01-01 00:00:00", event_id=1),
        Row(user_id=2, event_type="b", ts="2024-01-01 00:01:00", event_id=2),
    ]
    ev = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    assert transition_matrix(ev).count() == 0


def test_hll_register_values_match_pure_python(spark):
    import hashlib

    vals = [f"v{i}" for i in range(300)]
    df = spark.createDataFrame([Row(s=v) for v in vals])
    got = {r["j"]: r["m_j"] for r in hll_registers_multi(df, ["s"]).collect()}
    regs: dict[int, int] = {}
    for v in vals:
        h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
        j, rest = h % 256, h // 256
        rank = 53 - rest.bit_length()
        regs[j] = max(regs.get(j, 0), rank)
    assert got == regs

def test_hll_multi_matches_single_column_ops(spark):
    """hll_distinct_multi from ONE three-column scan is bit-equal, per
    column, to a one-column scan — a column's registers and fold do not
    depend on which other columns share the pass."""
    from pyspark.sql import functions as F

    df = spark.range(0, 5000).select(
        (F.col("id") % 37).cast("string").alias("a"),
        (F.col("id") % 1234).alias("b"),
        F.col("id").alias("c"),
    )
    multi = {
        r["col_name"]: (r["m"], r["v_used"], r["denom_scaled"],
                        r["estimate"])
        for r in hll_distinct_multi(df, ["a", "b", "c"]).collect()
    }
    for c in ("a", "b", "c"):
        single = hll_distinct_multi(df.select(c), [c]).collect()[0]
        assert multi[c] == (
            single["m"], single["v_used"], single["denom_scaled"],
            single["estimate"],
        ), c

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        hll_distinct_multi(df, [])
