"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
(or a north-rule / training-data addition) against the driver-provided
parquet tables; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL.
Where a rule table drives both sides (routing), the SQL CASE expression is
*generated from the same rule list* as the Spark plan, so parity is
structural, not hand-kept.

Column names are aliased identically on both sides (the driver hashes
values under sorted column names). Float-valued aggregates are expressed
in exact integer arithmetic (floor-cents) to keep value hashes stable
across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logpipe_spark.globs import glob_to_regex_java
from logpipe_spark.operators.enrich import enrich
from logpipe_spark.operators.parse import n_fields_col
from logpipe_spark.operators.route import route
from logpipe_spark.operators.dedup import (
    MINHASH_PRIME,
    exact_dedup_stats,
    fingerprint_dedup,
    minhash_coeffs,
    minhash_digest,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_buckets,
)
from logpipe_spark.operators.similarity import cosine_topk
from logpipe_spark.operators.textstats import (
    LANG_MARKERS,
    lang_id,
    lang_quality_stats,
    quality_score,
    token_stats,
)
from logpipe_spark.functions.text import (
    filename_key_cut,
    pack_metadata,
    template_nsub,
    tokenize,
    unpack_metadata,
)

SF001 = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# routing rule tables (glob semantics of IsMatchString,
# src-plugins/logpipe-input-file.c:477-529; first match wins :593-739)
# ---------------------------------------------------------------------------

EVENT_RULES = [
    {"rule_id": 5, "match_col": "event_type", "pattern": "click", "exclude": True, "sink": "DROP"},
    {"rule_id": 10, "match_col": "event_type", "pattern": "error", "exclude": False, "sink": "sink_errors"},
    {"rule_id": 20, "match_col": "event_type", "pattern": "purchase", "exclude": False, "sink": "sink_txn"},
    {"rule_id": 21, "match_col": "event_type", "pattern": "s?gnup", "exclude": False, "sink": "sink_txn"},
    {"rule_id": 99, "match_col": "event_type", "pattern": "*", "exclude": False, "sink": "sink_default"},
]

DOC_RULES = [
    {"rule_id": 5, "match_col": "text", "pattern": "*slow*", "exclude": True, "sink": "DROP"},
    {"rule_id": 10, "match_col": "lang", "pattern": "zh", "exclude": False, "sink": "sink_zh"},
    {"rule_id": 20, "match_col": "lang", "pattern": "e?", "exclude": False, "sink": "sink_latin"},
    {"rule_id": 30, "match_col": "source", "pattern": "src1*", "exclude": False, "sink": "sink_src1x"},
    {"rule_id": 99, "match_col": "lang", "pattern": "*", "exclude": False, "sink": "sink_other"},
]


def rules_to_sql_case(rules: list[dict]) -> str:
    """The same first-match-wins rule walk as operators/route.compile_rules,
    rendered as a DuckDB CASE expression."""
    parts = []
    for r in sorted(rules, key=lambda x: x["rule_id"]):
        rx = glob_to_regex_java(r["pattern"]).replace("'", "''")
        tgt = "NULL" if (r["exclude"] or r["sink"] == "DROP") else f"'{r['sink']}'"
        parts.append(f"WHEN regexp_matches({r['match_col']}, '{rx}') THEN {tgt}")
    return "CASE " + " ".join(parts) + " ELSE NULL END"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# queries — (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def q_parse_extract(spark, sf_dir):
    """§2.2 unpack-metadata / grok: regex field extraction from a text col."""
    ev = _t(spark, sf_dir, "events")
    pat = r'"k": (\d+)'
    return ev.select(
        "event_id",
        "event_type",
        F.when(F.col("props").rlike(pat), F.regexp_extract("props", pat, 1))
        .cast("int")
        .alias("k_val"),
    )


def q_route_fanout(spark, sf_dir):
    """§2.3 rule-routed fan-out + §2.5 per-sink aggregate counts."""
    ev = _t(spark, sf_dir, "events")
    routed = route(ev, EVENT_RULES)
    return (
        routed.filter(F.col("sink").isNotNull())
        .groupBy("sink")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


def q_route_dropped(spark, sf_dir):
    """Dropped-row accounting (exclude rules → lineage 'dropped' counter)."""
    ev = _t(spark, sf_dir, "events")
    routed = route(ev, EVENT_RULES)
    return routed.agg(
        F.sum(F.col("sink").isNull().cast("long")).alias("dropped"),
        F.sum(F.col("sink").isNotNull().cast("long")).alias("routed"),
    )


def q_enrich_broadcast(spark, sf_dir):
    """North-rule broadcast hash join: orders ⋈ customer (dim side tiny)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    j = enrich(orders, cust.withColumnRenamed("c_custkey", "o_custkey"), keys=["o_custkey"])
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
    )


def q_enrich_anti(spark, sf_dir):
    """Left-anti accounting: orders whose customer key misses the dim."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    missing = orders.join(
        F.broadcast(cust.withColumnRenamed("c_custkey", "o_custkey")),
        on=["o_custkey"],
        how="left_anti",
    )
    return missing.agg(F.count(F.lit(1)).alias("n_unmatched"))


def q_agg_persink(spark, sf_dir):
    """§2.5 hash aggregate (TPC-H Q1 shape) in exact integer cents."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-06-30"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias("sum_base_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_window_topk(spark, sf_dir):
    """§2.5 window/top-k: 2 highest-value orders per customer."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
    )


def q_sessionize(spark, sf_dir):
    """Stateful analogue: 30-min-gap sessionization per user (lag + cumsum)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))  # exact integer µs
    gap = us - F.lag(us, 1).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id", F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_grep_filter(spark, sf_dir):
    """§2.4 grep: substring keep-filter (logpipe-output-es.c:610-617)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").contains("spark"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_tokenize_fields(spark, sf_dir):
    """§2.4 separator-charset field split, separator runs collapsed."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("n_fields", n_fields_col(F.col("text")))
        .groupBy("n_fields")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_template_project(spark, sf_dir):
    """§2.4 `$N` template instantiation ($0=routing key, $1..$N=fields;
    logpipe-output-es.c:464-517) via functions.text.template_nsub."""
    docs = _t(spark, sf_dir, "documents")
    rendered = template_nsub(
        "src=$0 f1=$1 f2=$2", F.col("source"), tokenize(F.col("text"))
    )
    return docs.select("doc_id", rendered.alias("rendered"))


def q_template_missing(spark, sf_dir):
    """`$N` template where $N may exceed the field count — missing fields
    substitute as empty, never error (logpipe-output-es.c:464-517 pads the
    same way)."""
    docs = _t(spark, sf_dir, "documents")
    rendered = template_nsub(
        "k=$0 f5=$5 f60=$60!", F.col("source"), tokenize(F.col("text"))
    )
    return docs.select("doc_id", rendered.alias("rendered"))


def q_pack_unpack(spark, sf_dir):
    """§2.2 metadata pack/unpack roundtrip: build the reference's bracket
    header, parse it back, expose both (oracle recomputes the header and
    passes through the original fields — any unpack bug diverges)."""
    docs = _t(spark, sf_dir, "documents")
    packed = pack_metadata(
        F.col("source"), F.col("lang"),
        F.concat(F.lit("doc"), F.col("doc_id")),
        F.col("n_chars"), F.col("doc_id"),
    )
    u = unpack_metadata(F.col("packed"))
    return (
        docs.select("doc_id", packed.alias("packed"))
        .select(
            "doc_id", "packed",
            u["system"].alias("u_system"),
            u["offset"].alias("u_offset"),
        )
    )


def q_set_ops(spark, sf_dir):
    """§2.5 set ops: big-ticket buyers who never had a big error (EXCEPT
    with set semantics — subtract, not exceptAll: the multiset variant
    leaves residual duplicate rows)."""
    ev = _t(spark, sf_dir, "events")
    # threshold 100, not 190: at sf0.001 the 190 cut produced 0 rows on
    # both sides — a vacuously-green oracle (the r2 tpch_q3 lesson); 100
    # yields ≥7 rows at every SF
    buyers = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 100)
    ).select("user_id").distinct()
    erring = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") > 100)
    ).select("user_id").distinct()
    return buyers.subtract(erring)


def q_orderby_limit(spark, sf_dir):
    """§2.5 global sort + limit: 10 priciest orders (TopK physical plan)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        )
    )


def q_date_rollup(spark, sf_dir):
    """HDFS day-dir rollup analogue (`logpipe-output-hdfs.c:195-213`):
    per-day event counts — at scale this is the partition column."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format("ts", "yyyyMMdd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def q_key_cut(spark, sf_dir):
    """ingeek filename-key cut (`logpipe-output-ingeek.c:448-494`): derive
    routing key = first 2 '_'-words of the stem, group by it."""
    docs = _t(spark, sf_dir, "documents")
    fake_name = F.concat(F.col("source"), F.lit("_"), F.col("lang"),
                         F.lit("_x.log"))
    return docs.select(
        filename_key_cut(fake_name, 2).alias("route_key")
    ).groupBy("route_key").agg(F.count(F.lit(1)).alias("n_docs"))


def q_translate_charset(spark, sf_dir):
    """§2.4 translate: every char of the charset becomes the separator
    (logpipe-output-es.c:620-626 charset translate stage)."""
    from logpipe_spark.functions.text import translate_charset

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", translate_charset(F.col("text"), "aeiou").alias("translated")
    )


def q_fields_strictly(spark, sf_dir):
    """§2.4 fields_strictly: drop rows with fewer fields than the template
    demands (logpipe-output-es.c:663-668)."""
    from logpipe_spark.functions.text import fields_strictly

    docs = _t(spark, sf_dir, "documents")
    return fields_strictly(docs, min_fields=12).select("doc_id", "n_chars")


def q_langid_quality(spark, sf_dir):
    """Text-analysis pass: heuristic lang + integer quality per doc."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang_guess"),
        quality_score(F.col("text")).cast("int").alias("quality"),
    )


def q_es_bulk(spark, sf_dir):
    """§2.3/§2.4 the reference's richest operator end-to-end: ES output's
    grep → tokenize → $N template → /_bulk batching, as rendered payloads
    (`logpipe-output-es.c:543-596,610-661,464-517`). Keyed deterministic
    batching (floor(doc_id/50)) — no global window in the plan."""
    from logpipe_spark.operators.writers import render_es_bulk

    docs = _t(spark, sf_dir, "documents")
    return render_es_bulk(
        docs,
        doc_template='{"id":$0,"f1":"$1","f2":"$2"}',
        key_col=F.col("doc_id").cast("string"),
        grep="spark",
        batch_rows=50,
        order_col="doc_id",
    )


def q_asof_join(spark, sf_dir):
    """As-of join (custom operator, operators/asof.py): each event joined
    to the user's most recent order at-or-before the event timestamp.
    Output is tie-safe (matched order DATE, not an arbitrary order id)."""
    from logpipe_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    joined = asof_join(
        ev, orders,
        left_key="user_id", right_key="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        right_payload=["o_orderdate"],
        how="inner",
    )
    return joined.select(
        "event_id", "user_id",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("matched_date"),
    )


def q_range_join(spark, sf_dir):
    """Range join (custom operator): event value → band, per-band rollup."""
    from logpipe_spark.operators.asof import range_join

    ev = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [(0.0, 50.0, "low"), (50.0, 150.0, "mid"), (150.0, 10_000.0, "high")],
        "lo double, hi double, label string",
    )
    return range_join(ev, bands, "value").groupBy("label").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def q_percentiles(spark, sf_dir):
    """§2.5 exact percentile aggregate (linear interpolation — bitwise
    equal to DuckDB's quantile_cont on identical input)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.95).alias("p95"),
    )


def q_pivot(spark, sf_dir):
    """§2.5 pivot: per-user event counts by type as columns."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


def q_rollup(spark, sf_dir):
    """§2.5 rollup / grouping sets: order totals by (status, priority) with
    subtotals and a grand total."""
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
    )


def q_doc_fingerprint(spark, sf_dir):
    """Shift-resistant document fingerprint (winnowing-lite): md5 over
    head/tail windows + length + content hash."""
    from logpipe_spark.operators.textstats import rolling_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", rolling_fingerprint(F.col("text")).alias("fingerprint")
    )


def q_bpe_tokens(spark, sf_dir):
    """BPE-ish token-count upper bound (words + length pieces + punct)."""
    from logpipe_spark.operators.textstats import bpe_ish_token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", bpe_ish_token_count(F.col("text")).alias("bpe_tokens")
    )


def q_bpe_merge_tokens(spark, sf_dir):
    """Tokenizer-FAITHFUL token count: the frozen 64-entry merge table
    (functions/bpe_merges.py) applied as a pure-JVM literal-replace chain
    (functions/bpe.py — greedy left-to-right BPE, exactness argument in the
    module docstring). The oracle runs the IDENTICAL replace chain in
    DuckDB, so values are checked merge-for-merge."""
    from logpipe_spark.functions.bpe import bpe_token_count
    from logpipe_spark.functions.bpe_merges import DEFAULT_MERGES

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        bpe_token_count(F.col("text"), DEFAULT_MERGES).alias("bpe_merge_tokens"),
    )


def q_skew_profile(spark, sf_dir):
    """Key-skew heavy hitters: exact top-20 user_ids by event count with
    integer ppm share (operators/profile.py — one groupBy shuffle, top-k
    and the total both derived from the per-key counts)."""
    from logpipe_spark.operators.profile import skew_profile

    return skew_profile(_t(spark, sf_dir, "events"), "user_id", top_k=20)


def q_profile_columns(spark, sf_dir):
    """Single-pass column profile (rows/nulls/exact distinct/min/max) over
    three events columns — one Aggregate, stack()-unpivoted."""
    from logpipe_spark.operators.profile import profile_columns

    return profile_columns(
        _t(spark, sf_dir, "events"), ["event_id", "user_id", "event_type"]
    )


def q_dup_spans(spark, sf_dir):
    """Span-level exact-duplication stats (FineWeb/RefinedWeb-style line
    dedup at n-gram granularity): per doc, how many 8-token span positions
    carry text that appears in ≥2 distinct documents. No pairwise term —
    the widest shuffle is keyed by span (operators/dedup.py
    dup_span_stats)."""
    from logpipe_spark.operators.dedup import dup_span_stats

    # single-file input + per-row explode: spread rows first (real scans
    # have many splits; the operator itself adds only span-keyed shuffles)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return dup_span_stats(docs, n=8, min_docs=2)


def q_remove_dup_spans(spark, sf_dir):
    """Span-level dedup REMOVAL (the rewrite half of the FineWeb recipe —
    q_dup_spans is the measurement half): every token position covered by
    an 8-gram that appears in ≥2 distinct docs is dropped, survivors
    rejoined in order. Linear in token positions, widest shuffle keyed by
    span (operators/dedup.py remove_dup_spans)."""
    from logpipe_spark.operators.dedup import remove_dup_spans

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return remove_dup_spans(docs, n=8, min_docs=2).select("doc_id", "clean_text", "n_kept")


def q_shuffle_corpus(spark, sf_dir):
    """Deterministic global shuffle order for training delivery: seeded
    md5 sort key + contiguous-range shard (operators/corpus.py
    shuffle_corpus). The contract grades the head of the shuffled order —
    a TakeOrdered top-k, never a global single-task sort."""
    from logpipe_spark.operators.corpus import shuffle_corpus

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return (
        shuffle_corpus(docs, num_shards=8)
        .orderBy("sort_key", "doc_id")
        .limit(100)
        .select("doc_id", "shard", F.col("sort_key").cast("long").alias("sort_key"))
    )


def q_cube(spark, sf_dir):
    """§2.5 cube: all grouping-set combinations of (status, priority)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


def q_set_intersect(spark, sf_dir):
    """§2.5 INTERSECT: users who both purchased big and errored big."""
    ev = _t(spark, sf_dir, "events")
    # threshold 100, not 190: at sf0.001 the 190 cut produced 0 rows on
    # both sides — a vacuously-green oracle (the r2 tpch_q3 lesson); 100
    # yields ≥7 rows at every SF
    buyers = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 100)
    ).select("user_id").distinct()
    erring = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") > 100)
    ).select("user_id").distinct()
    return buyers.intersect(erring)


def q_parse_extract_pandas(spark, sf_dir):
    """The Arrow-batched grok plugin path (make_grok_udf), oracle-checked
    against the same regex the JVM path uses."""
    from logpipe_spark.operators.parse import make_grok_udf

    ev = _t(spark, sf_dir, "events")
    grok = make_grok_udf({"k_str": r'"k": (\d+)'})
    return ev.select(
        "event_id",
        grok(F.col("props"))["k_str"].cast("int").alias("k_val"),
    )


def q_doc_route(spark, sf_dir):
    """Glob + grep routing over documents (lang/source/exclude rules)."""
    docs = _t(spark, sf_dir, "documents")
    routed = route(docs, DOC_RULES)
    return (
        routed.filter(F.col("sink").isNotNull())
        .groupBy("sink")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars"))
    )


def q_dedup_exact(spark, sf_dir):
    return exact_dedup_stats(_t(spark, sf_dir, "documents"))


def q_dedup_fingerprint(spark, sf_dir):
    return fingerprint_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), n=3, threshold=0.8)


def q_dedup_keep_list(spark, sf_dir):
    """End-to-end near-dup decisions: (dup_doc, keeper) via Jaccard ≥ 0.8
    star rule (operators/dedup.py:dedup_keep_list)."""
    from logpipe_spark.operators.dedup import dedup_keep_list

    return dedup_keep_list(_t(spark, sf_dir, "documents"), n=3, threshold=0.8)


def q_dedup_components(spark, sf_dir):
    """Connected components over the near-dup graph — the ITERATIVE
    algorithm row: Jaccard-0.8 pairs unioned with planted chain edges
    (doc_id ↔ doc_id+1 when doc_id % 10 < 3, PLUS a single deep chain over
    doc_id < 120 whose diameter 119 would cost min-label propagation 119
    rounds — so this row exercises the deep-graph case). Spark side:
    operators/dedup.py:connected_components_star. Every sf fixture's
    graph is under its driver threshold, so a driver union-find labels
    it; larger graphs take the large-star/small-star alternation
    (Kiveris et al., SoCC'14; O(log^2 n) alternations, id-only
    shuffles), which tests/test_corpus.py runs by setting the threshold
    to 0. Oracle: recursive-CTE reachability computing the same
    min-reachable-id."""
    from logpipe_spark.operators.dedup import connected_components_star

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8).select("doc_a", "doc_b")
    d = docs.select("doc_id").alias("d")
    e = docs.select("doc_id").alias("e")
    chain = (
        d.join(e, F.col("d.doc_id") + 1 == F.col("e.doc_id"))
        .filter((F.col("d.doc_id") % 10 < 3) | (F.col("d.doc_id") < 120))
        .select(
            F.col("d.doc_id").alias("doc_a"), F.col("e.doc_id").alias("doc_b")
        )
    )
    return connected_components_star(pairs.union(chain).distinct()).select(
        F.col("node").alias("doc_id"), "component"
    )


def q_neardup_keep_best(spark, sf_dir):
    """Near-dup canonicalization (operators/dedup.py:neardup_keep_best) —
    the step after pair finding in every production dedup recipe: cluster
    the Jaccard-0.8 pair graph with large-star/small-star components,
    then keep exactly ONE doc per cluster, the best by (n_chars DESC,
    doc_id ASC) — not keep-lowest-id, which can prefer a truncated copy
    over the long original. One row per corpus doc: (doc_id, component,
    keep); singletons keep themselves. Oracle: recursive-CTE components
    over the same pairs + ROW_NUMBER winner election."""
    from logpipe_spark.operators.dedup import neardup_keep_best

    docs = _t(spark, sf_dir, "documents")
    # single-file sf input: spread before the heavy shingle self-join
    # (a real deployment's scan has many splits)
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    pairs = ngram_jaccard_pairs(spread, n=3, threshold=0.8).select("doc_a", "doc_b")
    base = docs.select("doc_id", F.length("text").cast("long").alias("n_chars"))
    return neardup_keep_best(base, pairs).select("doc_id", "component", "keep")


def q_incremental_dedup(spark, sf_dir):
    """Incremental (delta) dedup (operators/dedup.py:incremental_dedup) —
    docs with doc_id % 3 == 0 stand in for the already-accepted corpus
    (index = their bag-of-words fingerprints); the rest arrive as the new
    batch and are classified kept / dup_in_batch / dup_in_index. The
    fixture's planted near-duplicates put every status branch in play.
    Index side carries 32-char fingerprints only — the prior corpus text
    is never re-read."""
    from logpipe_spark.operators.dedup import fingerprint_index, incremental_dedup

    docs = _t(spark, sf_dir, "documents")
    prior = docs.filter(F.col("doc_id") % 3 == 0)
    idx = fingerprint_index(prior)
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    return incremental_dedup(batch, idx)


def q_split_leak_check(spark, sf_dir):
    """Cross-split content-leakage audit (operators/corpus.py:
    split_leak_check): 50/30/20 hash splits of documents, then flag
    bag-of-words fingerprints spanning >1 split — the fixture's planted
    duplicate groups make leaks live at every sf. One map-combinable
    groupBy(fingerprint); output is leaking fingerprints only."""
    from logpipe_spark.operators.corpus import hash_split, split_leak_check

    docs = _t(spark, sf_dir, "documents")
    split = hash_split(
        docs, fractions={"train": 0.5, "val": 0.3, "test": 0.2}
    )
    return split_leak_check(split)


def q_corpus_diff(spark, sf_dir):
    """Corpus snapshot diff (operators/corpus.py:corpus_diff) — version
    audit of an iterating pipeline. Old = docs with doc_id % 7 != 1; new
    = docs with doc_id % 5 != 0, text amended (' v2') when doc_id % 11
    == 0 — so added/removed/changed/unchanged are all live at every sf.
    One full-outer join of key+fingerprint projections; text never
    shuffles."""
    from logpipe_spark.operators.corpus import corpus_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 1)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


def q_hopping_window(spark, sf_dir):
    """Hopping (sliding) event-time windows — the overlap variant of
    q_windowed_agg: 30-minute windows every 15 minutes, so each event
    lands in exactly two. Same F.window expression the streaming path
    would use (unified semantics); oracle expands each event into its
    window starts with the standard k ∈ (⌊(t−size)/slide⌋, ⌊t/slide⌋]
    integer-range rule, exclusive upper window edge included."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "30 minutes", "15 minutes").alias("win"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(
            F.unix_timestamp("win.start").cast("long").alias("win_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


_BM25_TERMS = ["spark", "vector", "merge"]


def q_bm25_topk(spark, sf_dir):
    """BM25 top-k relevance search (operators/search.py:bm25_topk) —
    rank the corpus for a 3-term query. Map-side per-term tf (no
    explode), one 1-row stats broadcast, TakeOrderedAndProject top-k;
    the corpus itself is never shuffled. Scores are pure-IEEE doubles
    (rational RSJ idf — no libm), so the oracle, generated from the
    same parameters by bm25_oracle_sql, matches bit for bit."""
    from logpipe_spark.operators.search import bm25_topk

    # single-file sf input → spread before the per-term regexp tf pass
    # (local-only crutch; a real scan has many splits)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return bm25_topk(docs, _BM25_TERMS, k=10)


def q_rate_anomaly(spark, sf_dir):
    """Event-rate anomaly detection (operators/asof.py:rate_anomaly) —
    hourly per-type counts z-scored against the trailing 24 observed
    buckets (frame excludes the current row). S/Q/w are integer window
    aggregates; z = (w·n − S)/√(w·Q − S²) is one IEEE division + sqrt,
    so doubles match DuckDB exactly. At sf0.01 both branches are live:
    ~47 anomalies, 40 null-z series heads."""
    from logpipe_spark.operators.asof import rate_anomaly

    return rate_anomaly(_t(spark, sf_dir, "events"))


def q_cdc_merge(spark, sf_dir):
    """Latest-wins CDC merge (operators/cdc.py:merge_changes) — events
    become a change stream over documents: key (event_id % 60) * 11
    (46 base keys + 14 insert keys above the sf0.01 base range, 454
    base rows untouched — every merge branch live), op D on purchase
    else U, ordered by (ts, event_id). One window over the DELTA only,
    one full-outer key join."""
    from logpipe_spark.operators.cdc import merge_changes

    docs = _t(spark, sf_dir, "documents")
    ch = _t(spark, sf_dir, "events").select(
        ((F.col("event_id") % 60) * 11).alias("doc_id"),
        F.when(F.col("event_type") == "purchase", "D")
        .otherwise("U")
        .alias("op"),
        F.col("ts"),
        F.col("event_id"),
        F.col("props").alias("text"),
        F.col("event_type").alias("lang"),
        F.lit("cdc").alias("source"),
        F.length("props").cast("long").alias("n_chars"),
    )
    return merge_changes(docs, ch, "doc_id", ["ts", "event_id"])


def q_hll_distinct(spark, sf_dir):
    """Engine-portable HyperLogLog (operators/sketch.py) — three
    cardinality regimes from one table (props ≈ 100 distinct exercises
    the linear-counting branch, user_id mid, event_id = every register
    hit exercises the raw-estimator branch). Register index/rank are
    md5-derived integers, the harmonic denominator is an exact scaled
    BIGINT sum, and the only float math is one literal-table multiply
    or one division — value-hash-identical to the DuckDB mirror.
    All three sketches come from ONE corpus pass (hll_distinct_multi:
    per-row explode to (col, register, rank) — at 100 TB that is one
    scan, not one per profiled column); a column's registers do not
    depend on which other columns share the scan (test-asserted)."""
    from logpipe_spark.operators.sketch import hll_distinct_multi

    # single-file sf input → spread before the per-row md5 register
    # derivation (local-only crutch; a real scan has many splits)
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    return hll_distinct_multi(
        ev, ["props", "user_id", "event_id"]
    ).select("m", "v_used", "denom_scaled", "estimate", "col_name")


def q_bloom_semi_join(spark, sf_dir):
    """Bloom-pruned semi-join (operators/bloom.py:bloom_semi_join) —
    orders ⋉ customers(acctbal > 5000) with the big side prefiltered
    map-side by an md5-spec Bloom filter of the small side's keys, then
    the exact left-semi join (the Bloom only prunes; the oracle is the
    plain IN-subquery because the result is exact by construction).
    At sf0.01 the prefilter alone already discards 8475 of 15000
    orders before any exchange."""
    from logpipe_spark.operators.bloom import bloom_semi_join

    # single-file sf input → spread before the per-row k-hash probe
    # (local-only crutch, same as the heavy document queries; a real scan
    # has many splits)
    orders = _t(spark, sf_dir, "orders").repartition(
        spark.sparkContext.defaultParallelism
    )
    rich = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 5000)
    return (
        bloom_semi_join(orders, rich, "o_custkey", "c_custkey")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
    )


_CM_PROBES = ['{"k": 9}', '{"k": 42}', '{"k": 99}', '{"k": 12345}']


def q_cm_counts(spark, sf_dir):
    """Count-Min sketch point queries (operators/sketch.py:cm_sketch/
    cm_query) — sketch events.props into a 4×1024 counter table
    (map-side explode + partial agg: ≤ d·w counter rows per partition
    cross the exchange, corpus-size-independent), then point-estimate
    three present values and one absent. All-integer counters under the
    shared md5 salt spec — the DuckDB mirror rebuilds them exactly."""
    from logpipe_spark.operators.sketch import cm_query, cm_sketch

    # single-file sf input → spread before the d-row md5 explode
    # (local-only crutch; a real scan has many splits)
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    return cm_query(cm_sketch(ev, "props"), _CM_PROBES)


def q_transition_matrix(spark, sf_dir):
    """Markov transition matrix (operators/asof.py:transition_matrix) —
    per-user adjacent event-type flows with integer-ppm row shares.
    One key shuffle + lead(), then a (src, dst) hash agg; totals
    re-aggregate from the collapsed counts, never from raw events."""
    from logpipe_spark.operators.asof import transition_matrix

    return transition_matrix(_t(spark, sf_dir, "events"))


# The transition-graph edge CTE shared by the pagerank oracle — the same
# lead() pairing the transition_matrix oracle uses, collapsed to weights.
_PR_EDGES_CTE = """
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM (
    SELECT event_type AS src,
           LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS dst
    FROM events) WHERE dst IS NOT NULL GROUP BY 1, 2
"""


def q_pagerank(spark, sf_dir):
    """Fixed-point weighted PageRank (operators/graph.py:pagerank) over
    the event transition graph. BIGINT-only recurrence — integer SUM is
    reduction-order independent, so 5 iterations reproduce the unrolled
    DuckDB CTE chain bit for bit. Per iteration: node-sized rank table
    joins once-checkpointed edges, contributions hash-agg by dst."""
    from logpipe_spark.operators.asof import transition_matrix
    from logpipe_spark.operators.graph import pagerank

    edges = transition_matrix(_t(spark, sf_dir, "events")).select(
        "src", "dst", "n"
    )
    return pagerank(edges, iterations=5, weight_col="n")


_CONJ_TERMS = ["merge", "window", "vector"]


def q_inverted_search(spark, sf_dir):
    """Conjunctive boolean retrieval through a PERSISTED term-sharded
    inverted index (operators/search.py:write_inverted_index /
    search_conjunctive): the index is built once per fixture and cached;
    the graded query scans only the probed shard directories (partition
    pruning on the md5 term bucket — numFiles-asserted in tests). The
    oracle computes the same result DIRECTLY from the corpus, so a green
    row proves the index round-trip preserves boolean semantics."""
    import os as _os

    from logpipe_spark.operators.search import (
        search_conjunctive,
        write_inverted_index,
    )

    st = _os.stat(_os.path.join(sf_dir, "documents.parquet"))
    sf = _os.path.basename(sf_dir.rstrip("/"))
    path = (
        f"/tmp/logpipe_contract_cache/inv_index_v1_{sf}"
        f"_{st.st_size}_{int(st.st_mtime)}"
    )
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        build = f"{path}.build-{_os.getpid()}"
        write_inverted_index(
            _t(spark, sf_dir, "documents").repartition(
                spark.sparkContext.defaultParallelism
            ),
            build,
            n_buckets=64,
        )
        try:
            _os.rename(build, path)
        except OSError:
            import shutil as _shutil

            _shutil.rmtree(build, ignore_errors=True)  # lost the build race
    return search_conjunctive(spark, path, _CONJ_TERMS, n_buckets=64)


def q_grouped_topk(spark, sf_dir):
    """Skew-safe per-group top-k (operators/profile.py:grouped_topk):
    top-3 orders per o_orderpriority by (o_totalprice DESC, o_orderkey) as
    two bounded-state hash aggregates — salted partial top-k, then merge —
    with no per-group window sort anywhere in the plan (WindowExec
    forbidden by tests/test_graph_search_topk.py)."""
    from logpipe_spark.operators.profile import grouped_topk

    return grouped_topk(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice", 3,
        "o_orderkey",
    )


def q_seq_ngrams(spark, sf_dir):
    """Top sequential trigram patterns (operators/asof.py:sequence_ngrams)
    over per-user event streams — the n=3 generalization of
    transition_matrix on the same single key shuffle; top_k via
    TakeOrderedAndProject with a total-order tiebreak."""
    from logpipe_spark.operators.asof import sequence_ngrams

    return sequence_ngrams(_t(spark, sf_dir, "events"), n=3, top_k=20)


def q_cluster_split(spark, sf_dir):
    """Leakage-safe corpus split (operators/corpus.py:cluster_split):
    near-dup components (connected_components_star over Jaccard-0.8
    pairs — same pair rule as neardup_keep_best) become the split unit,
    so near-duplicate content can never straddle train/val/test;
    singletons hash on their own id. Oracle: recursive-CTE components +
    the md5 bucket CASE."""
    from logpipe_spark.operators.corpus import cluster_split

    docs = _t(spark, sf_dir, "documents")
    # single-file sf input: spread before the heavy shingle self-join
    # (a real deployment's scan has many splits)
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    pairs = ngram_jaccard_pairs(spread, n=3, threshold=0.8).select(
        "doc_a", "doc_b"
    )
    return cluster_split(
        docs, pairs, {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split_group", "split")


def _planted_url(ev_alias: str = "") -> "Column":
    """Deterministic crawl-URL column planted from events (the fixture
    tables carry no URLs — same planting pattern as q_pii_redact, with
    the identical CASE in the oracle SQL). Five shapes: an exact-host
    blocklist hit, a subdomain hit with query params, two clean hosts,
    and a deep-subdomain hit."""
    eid = F.col("event_id")
    uid = F.col("user_id").cast("string")
    return (
        F.when(eid % 5 == 0,
               F.concat(F.lit("https://spam.example.com/promo/"), uid))
        .when(eid % 5 == 1,
              F.concat(F.lit("http://ads.tracker.net/px?u="), uid,
                       F.lit("&c=3")))
        .when(eid % 5 == 2, F.lit("https://docs.good.org/kb/a/b?q=1"))
        .when(eid % 5 == 3, F.lit("https://good.org/"))
        .otherwise(F.lit("http://deep.x.ads.tracker.net/z"))
    )


def q_url_filter(spark, sf_dir):
    """URL hygiene (operators/urls.py): domain-blocklist filtering with
    SUFFIX semantics (C4/RefinedWeb's first corpus gate) + URL feature
    extraction. The filter is a chain of broadcast hash ANTI joins — one
    per suffix depth, equality keys only, corpus never shuffled; the
    features are one fused regexp chain. Blocklist {tracker.net,
    spam.example.com} drops the exact host, a subdomain, and a deep
    subdomain; the oracle mirrors suffix matching with NOT EXISTS
    (host = d OR host LIKE '%.' || d)."""
    from logpipe_spark.operators.urls import (
        url_blocklist_filter, url_features,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", _planted_url().alias("url")
    )
    bl = spark.createDataFrame(
        [("tracker.net",), ("spam.example.com",)], "domain string"
    )
    kept = url_blocklist_filter(ev, bl)
    return url_features(kept).select(
        "event_id", "host", "domain",
        F.col("path_depth").cast("long").alias("path_depth"),
        F.col("n_params").cast("long").alias("n_params"),
        F.col("is_https").cast("long").alias("is_https"),
    )


def q_classifier_score(spark, sf_dir):
    """Hashed linear quality classifier (operators/classify.py) — the
    fasttext-style corpus gate, JVM-expression mode: unigram+bigram
    hashing into 4096 buckets, md5-derived deterministic weights, one
    aggregate LEFT FOLD per doc (float addition order is part of the
    contract; the oracle folds an ordinality-ordered list the same way).
    Map-only plan, zero Exchange. The broadcast-weights pandas-UDF
    production path is bit-equal by test (tests/test_classify.py)."""
    from logpipe_spark.operators.classify import classifier_score

    docs = _t(spark, sf_dir, "documents")
    return classifier_score(docs, buckets=4096).select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        "score",
        F.col("keep").cast("long").alias("keep"),
    )


def _transcript_turns(spark, sf_dir):
    """Shared turn-shaped input for the transcript operators: events as
    (conv_id=user_id, turn order=event_id, role=event_type,
    text='type: props') — the same construction in the SQL oracles."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias("conv_id"),
        F.col("event_id").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.concat(F.col("event_type"), F.lit(": "), F.col("props")).alias("text"),
    )


def q_assemble_conversations(spark, sf_dir):
    """Row-per-turn → document-per-conversation reconstruction
    (operators/transcripts.py:assemble_documents) — the move every
    document-level stage needs on a transcript corpus. Deterministic
    order via array_sort over (turn_idx, text) structs (collect_list
    alone is partition-arrival-ordered); oracle = string_agg ORDER BY."""
    from logpipe_spark.operators.transcripts import assemble_documents

    return assemble_documents(_transcript_turns(spark, sf_dir))


def q_turn_spans(spark, sf_dir):
    """Loss-mask spans (operators/transcripts.py:turn_spans): 0-based
    half-open [start, end) char offsets of each turn inside its
    assembled conversation — exact-integer prefix sums over the
    conversation window, doc[start:end] == turn text by construction
    (invariant asserted in tests/test_transcripts.py)."""
    from logpipe_spark.operators.transcripts import turn_spans

    return turn_spans(_transcript_turns(spark, sf_dir))


def q_remove_eval_spans(spark, sf_dir):
    """Span-level decontamination (operators/corpus.py:remove_eval_spans)
    — the surgical sibling of q_decontaminate: same mod-7 eval set, but
    contaminated 8-gram spans are REMOVED from the corpus docs instead of
    flagging whole documents. Corpus side = doc_id % 7 != 0 (eval docs
    excluded — they would trivially self-remove). The fixture's planted
    near-duplicates make real removals at every sf; untouched docs pass
    through with their full token reconstruction."""
    from logpipe_spark.operators.corpus import remove_eval_spans

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0).repartition(
        spark.sparkContext.defaultParallelism
    )
    return remove_eval_spans(corpus, ev, n=8).select("doc_id", "clean_text", "n_kept")


def q_clean_text(spark, sf_dir):
    """Unicode NFC + control-char + whitespace normalization
    (operators/corpus.py:clean_text). The planted suffix puts every
    branch in play: a decomposed e+U+0301 and A+U+030A (composed by
    NFC), a BEL control (deleted), tab/CRLF runs and double spaces
    (collapsed), trailing whitespace (trimmed). Spark normalizes in the
    JVM through ICU4J's Normalizer.compose (``reflect``, NULL-guarded);
    DuckDB via nfc_normalize (utf8proc) — NFC is Unicode-stable, so they
    agree byte-for-byte."""
    from logpipe_spark.operators.corpus import clean_text

    docs = _t(spark, sf_dir, "documents")
    # decomposed base+combining sequences, written as escapes so no
    # editor/tool silently recomposes them in the source file
    suffix = " e\u0301 A\u030a \x07ding\tcr\r\nend  "
    synth = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(suffix)).alias("text")
    )
    return clean_text(synth).select("doc_id", "text_clean")


def q_url_dedup(spark, sf_dir):
    """Crawl URL canonicalization + URL-keyed dedup groups
    (operators/urls.py:canonical_url/url_dedup). URLs are synthesized
    from doc_id identically in both engines so every RFC-3986 nuisance
    is planted: upper/lower scheme and host, explicit default ports,
    trailing slashes, utm_* tracking params, unsorted param order, and
    fragments. Each (doc_id % 50, doc_id % 2) group collapses to ONE
    canonical form; n_dups/keep_id are integers both engines agree on."""
    from logpipe_spark.operators.urls import url_dedup

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(d % 4 < 2, F.lit("WWW.Example.COM")).otherwise(
            F.lit("www.example.com")
        ),
        F.when(d % 2 == 0, F.lit(":80"))
        .when(d % 4 == 1, F.lit(":443"))
        .otherwise(F.lit("")),
        F.lit("/Articles/"),
        (d % 50).cast("string"),
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit("?utm_source=feed&b=2&a=1")).otherwise(
            F.lit("?a=1&b=2")
        ),
        F.when(d % 5 == 0, F.lit("#section")).otherwise(F.lit("")),
    )
    return url_dedup(docs.select("doc_id", url.alias("url")))


def q_containment_dedup(spark, sf_dir):
    """Asymmetric containment near-dup (operators/dedup.py:
    containment_pairs): Broder containment |A∩B|/|A| ≥ 0.9 — the
    "quoted in full" case Jaccard structurally misses. Planted
    construction both engines build identically: containers
    (doc_id 1000000+k) concatenate the texts of docs 3k, 3k+1, 3k+2
    (k < 10) in doc_id order, so every shingle of each constituent
    appears in its container → containment exactly 1.0 against
    Jaccard ≈ 1/3. n_common = the contained doc's distinct-shingle
    count, an integer both engines agree on bit-for-bit."""
    from logpipe_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    # single-file sf input → spread before the per-row shingle explode
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    containers = (
        spread.filter(F.col("doc_id") < 30)
        .groupBy(F.floor(F.col("doc_id") / 3).alias("grp"))
        .agg(
            F.concat_ws(
                " ",
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))).getField(
                    "text"
                ),
            ).alias("text")
        )
        .select((F.col("grp") + 1_000_000).alias("doc_id"), "text")
    )
    synth = spread.select("doc_id", "text").unionByName(containers)
    return containment_pairs(synth, n=3, threshold=0.9)


def q_fuzzy_join(spark, sf_dir):
    """Cross-table record linkage (operators/linkage.py:fuzzy_join):
    documents fuzzy-joined against a planted second table (every 5th
    doc re-keyed +1000000 with one appended token — Jaccard (t-2)/(t-1)
    on t tokens, ≥0.8 whenever t ≥ 7). Blocking is the shared-shingle
    equi-join with the hot-shingle cap computed over BOTH sides; no
    cartesian anywhere. Oracle: the same two-sided CTE chain."""
    from logpipe_spark.operators.linkage import fuzzy_join

    docs = _t(spark, sf_dir, "documents")
    # single-file sf input → spread before the per-row shingle explode
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    right = spread.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extrawordxyz")).alias("text"),
    )
    return fuzzy_join(spread, right, n=3, threshold=0.8)


def q_mad_outliers(spark, sf_dir):
    """Robust per-group outliers (operators/profile.py:mad_outliers):
    modified z-score 0.6745·|x−med|/MAD per event_type over exact
    integer cents, with planted spikes (event_id % 97 == 0 adds 10k
    dollars) so flags exist at every sf. Exact percentile/quantile_cont
    interpolate identically on dyadic inputs; the score's only rounding
    is the displayed ROUND(6)."""
    from logpipe_spark.operators.profile import mad_outliers

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        (
            F.floor(F.col("value") * 100).cast("long")
            + F.when(F.col("event_id") % 97 == 0, F.lit(1_000_000))
            .otherwise(F.lit(0))
        ).alias("cents"),
    )
    return mad_outliers(ev, "cents", "event_type", "event_id")


def q_collocations(spark, sf_dir):
    """Collocation mining (operators/textstats.py:collocations):
    adjacent-bigram PMI over the corpus, Church & Hanks min-count
    cutoff BEFORE the join, unigram slot-counts derived from the bigram
    table itself (no second corpus pass), top-k by (pmi DESC, bigram)
    via TakeOrderedAndProject. PMI inputs are exact integers; ln is the
    only float op, ROUND(6) both engines."""
    from logpipe_spark.operators.textstats import collocations

    # single-file sf input → spread before the per-row tokenize+explode
    # (local-only crutch; a real scan has many splits)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return collocations(docs, top_k=50, min_count=5)


def q_distribution_shift(spark, sf_dir):
    """Corpus drift monitor (operators/textstats.py:distribution_shift):
    add-1-smoothed unigram KL(P||Q), KL(Q||P) and Jensen–Shannon between
    the English and non-English halves of the corpus. ONE token-keyed
    hash agg is the only fact-sized shuffle; totals ride a 1-row
    broadcast; vocab-wide double sums ROUND(6) (reduction order is the
    only cross-engine difference, ~1e-15)."""
    from logpipe_spark.operators.textstats import distribution_shift

    docs = _t(spark, sf_dir, "documents")
    return distribution_shift(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") != "en"),
    ).select(
        F.col("n_p").cast("long").alias("n_p"),
        F.col("n_q").cast("long").alias("n_q"),
        F.col("vocab").cast("long").alias("vocab"),
        "kl_pq", "kl_qp", "js",
    )


_HTML_CASE_SQL = """CASE
  WHEN doc_id % 3 = 0 THEN
    '<html><body><h1>' || lang || '</h1><p>' || text ||
    '</p><script>var a=1;</script></body></html>'
  WHEN doc_id % 3 = 1 THEN
    '<div>' || text || '</div><br><i>tail</i>&nbsp;&amp; more'
  ELSE text
END"""


def _html_extract_oracle() -> str:
    """The oracle is COMPOSED from the operator's own rule table
    (html_rules_sql), so a rule edit cannot silently diverge the two."""
    from logpipe_spark.operators.html import html_rules_sql

    expr = html_rules_sql(f"({_HTML_CASE_SQL})")
    return f"""
        SELECT doc_id, {expr} AS text,
               CAST(length({expr}) AS BIGINT) AS text_chars
        FROM documents
    """


def q_html_extract(spark, sf_dir):
    """HTML → text extraction (operators/html.py:extract_text): the
    crawl-to-corpus stage as one fused RE2-safe regexp_replace chain —
    map-only, zero Exchange, zero Python. HTML planted from documents
    (script/style elision, block-closer newlines, entity subset with
    &amp; decoded LAST); the oracle applies the IDENTICAL rule chain via
    html_rules_sql over the identical planted CASE."""
    from logpipe_spark.operators.html import extract_text

    docs = _t(spark, sf_dir, "documents")
    eid = F.col("doc_id")
    html = (
        F.when(eid % 3 == 0,
               F.concat(F.lit("<html><body><h1>"), F.col("lang"),
                        F.lit("</h1><p>"), F.col("text"),
                        F.lit("</p><script>var a=1;</script>"
                              "</body></html>")))
        .when(eid % 3 == 1,
              F.concat(F.lit("<div>"), F.col("text"),
                       F.lit("</div><br><i>tail</i>&nbsp;&amp; more")))
        .otherwise(F.col("text"))
    )
    return extract_text(docs.select("doc_id", html.alias("html"))).select(
        "doc_id", "text",
        F.col("text_chars").cast("long").alias("text_chars"),
    )


def q_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (operators/corpus.py:
    weighted_sample, Efraimidis–Spirakis exponential keys): P(doc) ∝
    n_chars, k=100, md5-derived uniforms → the sample is a pure function
    of (doc_id, salt, weights) and repartition-invariant. Plan is
    TakeOrderedAndProject (bounded per-partition heap), never a global
    sort or window; the oracle is the same key expression ORDER BY
    LIMIT k."""
    from logpipe_spark.operators.corpus import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, "n_chars", 100).select(
        "doc_id", "n_chars"
    )


def q_triangle_count(spark, sf_dir):
    """Exact triangle counting (operators/graph.py:triangle_count) with
    the degree-orientation plan: canonical edges oriented low→high
    (deg, node), wedge self-join on the oriented source (out-degree
    bounded O(sqrt m) — hub-proof), one equi-join closes wedges into
    triangles. Graph planted from events with BIGINT-only arithmetic
    (a = event_id mod 50, b = (7·event_id + user_id) mod 50) — identical
    construction in the oracle; all shuffles move (id, id) pairs."""
    from logpipe_spark.operators.graph import triangle_count

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("event_id") % 50).alias("src"),
        ((F.col("event_id") * 7 + F.col("user_id")) % 50).alias("dst"),
    )
    return triangle_count(edges)


def q_scd2(spark, sf_dir):
    """SCD2 dimension history (operators/asof.py:scd2_intervals) —
    per-user event_type treated as a changing attribute: consecutive
    equal values collapse, each change opens an interval closed by the
    next (exclusive), last interval current. The producer side of the
    as-of/range join family. One key shuffle + lag/lead; oracle mirrors
    the identical window chain with the same (ts, event_id)
    tie-break."""
    from logpipe_spark.operators.asof import scd2_intervals

    return scd2_intervals(_t(spark, sf_dir, "events"))


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix (operators/asof.py:cohort_retention) —
    weekly cohorts by first activity, distinct active users per
    (cohort, offset). Buckets are epoch-day // 7 integer arithmetic, so
    both engines agree without ISO-week calendar rules."""
    from logpipe_spark.operators.asof import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"))


def q_funnel(spark, sf_dir):
    """Ordered funnel conversion (operators/asof.py:funnel_steps) —
    view → click → purchase per user with a 24-hour per-step window,
    strict ordering, first-touch MIN rule. At sf0.01 the funnel narrows
    150 → 60 → 25 (every branch live); chained min-agg + key-join
    passes, no per-user arrays. Oracle mirrors the identical chained
    CTEs."""
    from logpipe_spark.operators.asof import funnel_steps

    return funnel_steps(
        _t(spark, sf_dir, "events"),
        ["view", "click", "purchase"],
        window_s=86400,
    )


def q_session_windows(spark, sf_dir):
    """Native dynamic session windows (streaming/windowed.py:
    session_window_stats, run in batch mode — Spark's unified semantics
    make the batch result the stream's ground truth): per-user sessions
    over events with a 30-minute gap, session_end = last event + gap.
    Oracle rebuilds the same sessions with the lag-gap rule (split when
    ts - prev >= gap, mirroring session_window's exclusive end)."""
    from logpipe_spark.streaming.windowed import session_window_stats

    ev = _t(spark, sf_dir, "events").withColumn("text", F.col("props"))
    return session_window_stats(
        ev, gap_minutes=30, key_col="user_id"
    ).select(
        "user_id", "session_start", "session_end",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("chars").cast("long").alias("chars"),
    )


def _events_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _events_sentinel(ts_str: str):
    """One sentinel event row (reserved user_id) with a far-future
    timestamp — the watermark-advancement payload for the AvailableNow
    replay protocol (streaming/drive.py)."""
    import pandas as pd

    from logpipe_spark.streaming.drive import SENTINEL_ID

    return pd.DataFrame(
        {
            "event_id": pd.array([10**12], dtype="int64"),
            "ts": pd.array([pd.Timestamp(ts_str)]).astype("datetime64[us]"),
            "user_id": pd.array([SENTINEL_ID], dtype="int64"),
            "event_type": ["sentinel"],
            "value": [0.0],
            "props": ["{}"],
        }
    )


def q_streaming_assemble(spark, sf_dir):
    """STREAMING-MODE conversation assembly (streaming/stateful.py:
    assemble_conversations_stream driven by streaming/drive.py): events
    replayed through the file-stream source with Trigger.AvailableNow,
    turns accumulating in per-conversation applyInPandasWithState state,
    each document emitted exactly once when the event-time watermark
    passes the conversation's idle gap. Two far-future sentinel files
    (mtime-ordered after the real data, one micro-batch each) hoist the
    watermark and give the state store the batch in which every real
    conversation's timeout fires — so the drained result equals the
    batch assembler, which is the oracle (same string_agg ORDER BY
    (turn_idx, text) reconstruction as `assemble_conversations`)."""
    from logpipe_spark.streaming.drive import (
        SENTINEL_ID,
        read_stream_table,
        run_available_now,
        stage_stream_source,
    )
    from logpipe_spark.streaming.stateful import assemble_conversations_stream

    src = stage_stream_source(
        f"{sf_dir}/events.parquet",
        sentinels=[
            _events_sentinel("2100-01-01"),
            _events_sentinel("2101-01-01"),
        ],
    )
    stream = read_stream_table(
        spark, src, _events_schema(), max_files_per_trigger=1
    )
    turns = stream.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").alias("turn_idx"),
        F.concat(F.col("event_type"), F.lit(": "), F.col("props")).alias("text"),
        F.col("ts"),
    )
    out = run_available_now(
        assemble_conversations_stream(
            turns, gap="10 minutes", watermark_delay="1 minute"
        )
    )
    return spark.read.parquet(out).filter(
        F.col("conv_id") != str(SENTINEL_ID)
    )


def q_streaming_dedup(spark, sf_dir):
    """STREAMING-MODE exact dedup (streaming/dedup.py:stream_exact_dedup):
    the events table staged TWICE into the file-stream source — the
    at-least-once producer replaying its whole feed after a reconnect
    (the reference's re-send path) — and drained with AvailableNow
    through dropDuplicatesWithinWatermark on the event id. The replayed
    copy must vanish entirely: result == the table itself, which is the
    oracle (an identity plan would return 2x rows and fail the count)."""
    from logpipe_spark.streaming.dedup import stream_exact_dedup
    from logpipe_spark.streaming.drive import (
        read_stream_table,
        run_available_now,
        stage_stream_source,
    )

    src = stage_stream_source(f"{sf_dir}/events.parquet", copies=2)
    stream = read_stream_table(spark, src, _events_schema())
    dd = stream_exact_dedup(
        stream, ts_col="ts", watermark="3650 days", key_cols=["event_id"]
    )
    out = run_available_now(dd)
    return spark.read.parquet(out).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def q_streaming_interval_join(spark, sf_dir):
    """STREAMING-MODE stream-stream interval join (streaming/join.py:
    stream_interval_join): two live streams over the same event bus —
    signups on the left, purchases on the right — correlated per user
    within a 60-minute event-time interval, both sides watermarked so
    join state stays O(rate x interval). Inner matches emit on arrival
    (no timeout protocol needed), drained with AvailableNow; oracle is
    the equivalent batch interval join."""
    from logpipe_spark.streaming.drive import (
        read_stream_table,
        run_available_now,
        stage_stream_source,
    )
    from logpipe_spark.streaming.join import stream_interval_join

    src = stage_stream_source(f"{sf_dir}/events.parquet")
    signups = read_stream_table(spark, src, _events_schema()).filter(
        F.col("event_type") == "signup"
    ).select("user_id", F.col("event_id").alias("signup_id"), "ts")
    purchases = read_stream_table(spark, src, _events_schema()).filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        "ts",
        F.col("value").alias("purchase_value"),
    )
    j = stream_interval_join(
        signups,
        purchases,
        on=["user_id"],
        within_minutes=60,
        watermark_minutes=120,
    )
    out = run_available_now(j)
    return spark.read.parquet(out).select(
        "user_id",
        "signup_id",
        F.col("ts").alias("signup_ts"),
        F.col("purchase_id_r").alias("purchase_id"),
        F.col("ts_r").alias("purchase_ts"),
        F.col("purchase_value_r").alias("purchase_value"),
    )


def q_gapfill(spark, sf_dir):
    """Time-bucket gap-fill + linear interpolation (operators/asof.py:
    gapfill_interpolate) — 15-minute buckets of integer-cents event
    value per event_type, every empty bucket between a type's first and
    last observation filled by interpolating its exact-integer
    neighbors. Window partitions are calendar-bounded bucket series, not
    data-sized. The fixture's 30-day × 5-type event stream leaves ~30%
    of buckets empty at sf0.01, so both branches are live."""
    from logpipe_spark.operators.asof import gapfill_interpolate

    return gapfill_interpolate(_t(spark, sf_dir, "events"), interval_s=900)


def q_dsir_scores(spark, sf_dir):
    """DSIR importance scores (operators/textstats.py:dsir_scores) —
    hashed unigram+bigram likelihood ratio of every document under the
    target model (docs with doc_id % 13 == 0 stand in for the target
    domain) vs the raw corpus model, 256 buckets, add-one smoothing.
    All logarithms computed once driver-side (libm == DuckDB ln); the
    per-doc sum is an ordered fold, so values match bit for bit.
    Single-file input spread before the gram explode."""
    from logpipe_spark.operators.textstats import dsir_scores

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    target = docs.filter(F.col("doc_id") % 13 == 0)
    return dsir_scores(docs, target, buckets=256)


def q_quantile_buckets(spark, sf_dir):
    """Exact value-quantile bucketing (operators/corpus.py:
    quantile_buckets) — split the corpus into 10 tranches by n_chars,
    the CCNet head/middle/tail perplexity-bucket recipe generalized to
    any integer score. Pure integer boundary math over a ONE-shuffle
    score histogram (no global sort, no window); equal scores always
    share a bucket. Oracle mirrors the identical ceil-target histogram
    walk in SQL."""
    from logpipe_spark.operators.corpus import quantile_buckets

    docs = _t(spark, sf_dir, "documents")
    return quantile_buckets(docs, score_col="n_chars", k=10)


def q_incremental_neardup(spark, sf_dir):
    """Incremental NEAR-dup dedup (operators/dedup.py:
    incremental_neardup) — new-batch docs (doc_id % 3 != 0) classified
    against the persisted minhash_band_index of the accepted corpus
    (doc_id % 3 == 0) under the FineWeb band-collision rule; no corpus
    text is touched. Statuses neardup_index / neardup_batch / kept all
    live via the fixture's planted near-duplicates; oracle mirrors the
    banded signature construction and both groupBys in SQL."""
    from logpipe_spark.operators.dedup import (
        incremental_neardup,
        minhash_band_index,
    )

    # single-file sf input: spread before the per-row signature fold
    # (md5 per shingle — the heaviest map work in the repo; one split
    # would serialize it on one core. Fourth occurrence of this trap.)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    idx = minhash_band_index(docs.filter(F.col("doc_id") % 3 == 0))
    return incremental_neardup(docs.filter(F.col("doc_id") % 3 != 0), idx)


def q_quota_sample(spark, sf_dir):
    """Per-group quota sampling (operators/corpus.py:quota_sample) — cap
    every language at 100 docs, selected by deterministic md5-hash order
    of the stable key. The fixture exercises both branches at every sf:
    'en' exceeds the quota and is trimmed; the other languages pass
    through whole. Value oracle checks the exact selected (lang, doc_id)
    set, not just counts — hash order must match bit for bit."""
    from logpipe_spark.operators.corpus import quota_sample

    docs = _t(spark, sf_dir, "documents")
    return quota_sample(docs, group_col="lang", quota=100).select("lang", "doc_id")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/corpus.py:decontaminate) —
    docs with doc_id % 7 == 0 stand in for the held-out eval set; corpus
    docs sharing ≥3 distinct 8-gram shingles with it are flagged. The
    fixture's planted near-duplicates make both branches real at every sf
    (sf0.001: 7 contaminated of 428; sf0.01: 9; sf0.1: 57). Eval shingles
    broadcast; the only corpus shuffle is the per-doc count agg.
    Single-file input: spread the corpus side before the heavy shingle
    explode (a real deployment's scan has many splits)."""
    from logpipe_spark.operators.corpus import decontaminate

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 7 == 0)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return decontaminate(docs, ev, n=8, min_overlap=3).select(
        "doc_id", "n_shingles", "n_overlap", "contaminated"
    )


def q_repetition_stats(spark, sf_dir):
    """Gopher-style within-doc repetition signals
    (operators/textstats.py:repetition_stats): per-doc total / distinct /
    most-frequent word-2-gram counts via a zero-shuffle run-length fold
    over the sorted n-gram array (array_sort + aggregate, all JVM
    higher-order exprs). 342 of 500 sf0.001 docs have a repeated 2-gram —
    both branches live. Integer outputs only (value-hash safe).
    Single-file input + heavy per-row compute: spread rows first (the
    operator itself stays Exchange-free; at real scale the scan's many
    splits provide this parallelism for free — 6.0 s → 0.6 s at sf0.1)."""
    from logpipe_spark.operators.textstats import repetition_stats

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return repetition_stats(docs, n=2).select(
        "doc_id", "n_grams", "n_distinct", "top_count"
    )


def q_pii_redact(spark, sf_dir):
    """PII scrubbing (operators/corpus.py:pii_redact): emails / IPv4 /
    phone numbers → typed placeholders + per-category counts, a pure
    regexp_replace/regexp_count codegen chain (zero shuffles). The
    fixture tables carry no natural PII, so the query plants it
    deterministically from events columns (identical construction in the
    oracle SQL): four branches per event_id % 4 — no-PII, IP-only, a
    mixed email+IP+phone line (exercises replacement ordering), and a
    two-email line. RE2-safe patterns keep both engines bit-identical.
    Single-file input + per-row regex chain: spread rows first."""
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    text = (
        F.when(
            F.col("event_id") % 4 == 0,
            F.concat(
                F.lit("contact u"), F.col("user_id").cast("string"),
                F.lit("@example.com or admin@host.org for help"),
            ),
        )
        .when(
            F.col("event_id") % 4 == 1,
            F.concat(
                F.lit("login from 10."), (F.col("user_id") % 256).cast("string"),
                F.lit("."), (F.col("event_id") % 256).cast("string"), F.lit(".7 ok"),
            ),
        )
        .when(
            F.col("event_id") % 4 == 2,
            F.concat(
                F.lit("call +1 555 01"),
                F.lpad((F.col("event_id") % 100).cast("string"), 2, "0"),
                F.lit(" re u"), F.col("user_id").cast("string"),
                F.lit("@example.com at 192.168.0."),
                (F.col("user_id") % 256).cast("string"),
            ),
        )
        .otherwise(F.lit("no contact info here"))
    )
    from logpipe_spark.operators.corpus import pii_redact

    return pii_redact(ev.select("event_id", text.alias("text"))).select(
        "event_id", "n_emails", "n_ipv4", "n_phones", "text_redacted"
    )


def q_chunk_documents(spark, sf_dir):
    """Context-window chunking (operators/corpus.py:chunk_documents):
    every doc split into 32-token windows with stride 24 (overlapping) —
    per-row generate/explode, zero shuffles. sf0.001: 1388 chunks from
    500 docs, 420 docs multi-chunk, 621 short tails — window boundaries,
    overlap, and tail truncation all value-checked (full chunk text)."""
    from logpipe_spark.operators.corpus import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=32, stride=24)


def q_mix_sample(spark, sf_dir):
    """Mixture sampling (operators/corpus.py:mix_sample): trim sources to
    a designed 50/30/20 mixture. The uniform fixture (25 docs/source at
    sf0.001) makes src0 the binding group (kept whole) while src1/src2
    trim to 15/10 — binding, trimmed, and dropped-unlisted branches all
    live. Exact selected (source, doc_id) set value-checked (hash order
    must match bit for bit)."""
    from logpipe_spark.operators.corpus import mix_sample

    docs = _t(spark, sf_dir, "documents")
    return mix_sample(docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2}).select(
        "source", "doc_id"
    )


def q_temperature_mix(spark, sf_dir):
    """Temperature (α=0.5) sampling over languages
    (operators/corpus.py:temperature_mix) — the XLM-R/mC4 rebalancing
    rule: keep_g ∝ sqrt(n_g), binding group kept whole. The lang fixture
    is genuinely skewed (en ≈ 44%), so flattening is non-trivial at every
    sf. Weights are floor(n^0.5·10⁶+0.5) BIGINTs in both engines (same
    libm pow), selection is md5-hash order — exact set value-checked."""
    from logpipe_spark.operators.corpus import temperature_mix

    docs = _t(spark, sf_dir, "documents")
    return temperature_mix(docs, alpha=0.5, group_col="lang").select(
        "lang", "doc_id"
    )


def q_unigram_logprob(spark, sf_dir):
    """Corpus-trained unigram LM quality score
    (operators/textstats.py:unigram_logprob) — the CCNet/RedPajama
    perplexity-filter analogue. vocab_size=20 of the fixture's 31 token
    types, so in-vocab and OOV branches both live. ln values are driver
    literals and the per-doc sum is a left fold over the token array, so
    the DuckDB mirror (ordinality-ordered list_reduce) is bit-identical
    — no parallel-sum order drift."""
    from logpipe_spark.operators.textstats import unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob(docs, vocab_size=20)


def q_dedup_lines(spark, sf_dir):
    """C4/RefinedWeb line-level boilerplate dedup
    (operators/dedup.py:dedup_lines). The fixture has no newlines, so the
    query plants multi-line docs the same way both engines see: every 5
    consecutive doc_ids form one synthetic doc — a 'BANNER k' first line
    shared by every bucket with the same k (mod 3), a blank line, the 5
    texts as body lines (unique), and a trailing 'END' shared by ALL
    buckets. BANNER/END lines occur in ≥2 distinct docs → removed
    everywhere; blank and body lines survive in order."""
    from logpipe_spark.operators.dedup import dedup_lines

    docs = _t(spark, sf_dir, "documents")
    synth = (
        docs.withColumn("bucket", F.floor(F.col("doc_id") / 5).cast("long"))
        .groupBy("bucket")
        .agg(
            F.concat(
                F.lit("BANNER "),
                (F.col("bucket") % 3).cast("string"),
                F.lit("\n\n"),
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "text"))
                        ),
                        lambda s: s["text"],
                    ),
                ),
                F.lit("\nEND"),
            ).alias("text")
        )
        .withColumnRenamed("bucket", "doc_id")
    )
    return dedup_lines(synth, min_docs=2).select(
        "doc_id", "clean_text", "n_lines", "n_kept"
    )


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by hashed stable key
    (operators/corpus.py:hash_split) — md5-derived buckets, so the oracle
    reproduces the split bit for bit; resplits never move docs."""
    from logpipe_spark.operators.corpus import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs, {"train": 0.98, "val": 0.01, "test": 0.01}).select(
        "doc_id", "split"
    )


def q_corpus_filter(spark, sf_dir):
    """C4-style quality gate with first-failed-rule accounting
    (operators/corpus.py:corpus_filter)."""
    from logpipe_spark.operators.corpus import corpus_filter

    docs = _t(spark, sf_dir, "documents")
    return corpus_filter(
        docs, min_chars=100, max_chars=500, min_tokens=20
    ).select("doc_id", "keep", "drop_reason")


def q_sequence_pack(spark, sf_dir):
    """Next-fit sequence packing into 512-token bins over 8 hash shards
    (operators/corpus.py:sequence_pack) — the genuinely-sequential op as
    applyInPandas per shard; oracle is a per-shard recursive CTE running
    the identical next-fit arithmetic."""
    from logpipe_spark.operators.corpus import sequence_pack

    docs = _t(spark, sf_dir, "documents")
    return sequence_pack(docs, budget=512, n_shards=8)


def q_top_terms(spark, sf_dir):
    """Corpus top-20 vocabulary terms (explode → hash agg → TopK)."""
    from logpipe_spark.operators.textstats import top_terms

    return top_terms(_t(spark, sf_dir, "documents"), k=20)


def q_dedup_minhash(spark, sf_dir):
    """MinHash signatures (portable universal-hash mix), exposed as a
    scalar digest: the full 32-component signature is value-checked via
    md5 of its comma-joined decimals (array columns don't canonicalize)."""
    # single-file input + heavy per-row compute: spread the rows first
    # (a 1.5 MB shuffle buys 32-way parallelism on the hash folds)
    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs.repartition(spark.sparkContext.defaultParallelism))
    return sigs.select("doc_id", minhash_digest(F.col("signature")).alias("sig_digest"))


def q_minhash_lsh_pairs(spark, sf_dir):
    """Banded-LSH candidate pairs — the *scale path* of MinHash dedup,
    oracle-checked: the (band, band-slice) equi-join plan is exactly what
    runs at 100 TB (uniform shuffle key, no cross join)."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs.repartition(spark.sparkContext.defaultParallelism),
        num_hashes=32,
        bands=8,
    )


def q_dedup_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return simhash_buckets(docs.repartition(spark.sparkContext.defaultParallelism))


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: bucket equi-join candidates + exact hamming
    verify (operators/dedup.py:simhash_neardup_pairs)."""
    from logpipe_spark.operators.dedup import simhash_neardup_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_neardup_pairs(
        docs.repartition(spark.sparkContext.defaultParallelism), max_hamming=3
    )


def q_tpch_q3(spark, sf_dir):
    """§2.5 multi-join plan: customer ⋈ orders ⋈ lineitem (TPC-H Q3 shape)
    — shipping-priority top-10 in integer cents. Exercises Catalyst join
    planning across three tables (both joins broadcastable at this scale;
    shuffle hash at 100 TB with the dimension side still broadcast)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
    )
    rev = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev.cast("long")).alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue_cents",
        )
    )


def q_bucketed_join(spark, sf_dir):
    """Storage-layout row (sources/bucketed.py): write orders and
    lineitem ONCE as same-spec bucketed catalog tables (16 buckets on the
    order key, one file per bucket), then join AND aggregate on that
    key with zero repartitioning Exchange anywhere — pay the shuffle at
    write time, never again (at toy SF Catalyst still broadcasts the
    small side; at scale both sides SortMergeJoin bucket-locally, which
    test_bucketed.py asserts mechanically with broadcast disabled).
    This row value-checks the result against a plain SQL join. Revenue
    per order in integer cents (FLOOR(price*100) — the engine-portable
    rule every money query here uses)."""
    import hashlib

    from logpipe_spark.sources.bucketed import colocated_join, write_bucketed

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = f"/tmp/logpipe_bucketed/{tag}"
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice"
    )
    write_bucketed(o, f"b_orders_{tag}", f"{base}/orders", ["orderkey"], 16)
    write_bucketed(li, f"b_lineitem_{tag}", f"{base}/lineitem", ["orderkey"], 16)
    j = colocated_join(spark, f"b_orders_{tag}", f"b_lineitem_{tag}", ["orderkey"])
    return (
        j.groupBy("orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
        )
    )


def q_tpch_q1(spark, sf_dir):
    """§2.5 aggregation plan: TPC-H Q1 pricing summary — the canonical
    wide-aggregate scan (8 aggregates over 2 group keys, everything
    map-side partial before ONE tiny exchange). Money in integer cents
    (FLOOR(x*100) per line item BEFORE summing — associative, so the
    partial aggregation is exact); averages returned as value-checkable
    (sum_cents, count) pairs rather than engine-rounded floats."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    disc = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    charge = F.floor(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 100
    ).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
                "sum_base_cents"
            ),
            F.sum(disc).alias("sum_disc_cents"),
            F.sum(charge).alias("sum_charge_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_json_extract(spark, sf_dir):
    """Semi-structured JSON extraction — the log-pipeline staple the
    reference leaves to downstream consumers (its ES output ships raw
    `$N`-templated JSON; a Spark engine parses it in place).
    `get_json_object` (JVM JSON path, no UDF) pulls `props.$.k`, then a
    grouped aggregate over the extracted value — schema-on-read end to
    end. Oracle: DuckDB json_extract."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type", (F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
        )
    )


def q_lead_lag(spark, sf_dir):
    """§2.5 window-function family beyond rank/row_number: lag/lead over a
    partitioned ordered window (per event_type by (ts, event_id)) — the
    inter-event-gap analysis every log pipeline runs. Partitioned window:
    no SinglePartition exchange (auto-screened by test_plan_quality)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val_cents = F.floor(F.col("value") * 100).cast("long")
    return ev.select(
        "event_id",
        "event_type",
        F.lag(val_cents).over(w).alias("prev_value_cents"),
        F.lead(val_cents).over(w).alias("next_value_cents"),
        # exact microsecond difference: unix_timestamp() truncates while
        # DuckDB's epoch() keeps fractions — micros are integer on both
        # ts is TIMESTAMP_NTZ; unix_micros needs LTZ — session TZ is pinned
        # UTC so the cast is value-identity (matches DuckDB's epoch_us on
        # the naive timestamp)
        (
            F.unix_micros(F.col("ts").cast("timestamp_ltz"))
            - F.unix_micros(F.lag(F.col("ts").cast("timestamp_ltz")).over(w))
        ).alias("gap_us"),
    )


def q_tpch_q5(spark, sf_dir):
    """§2.5 deep multi-join (TPC-H Q5 shape): customer ⋈ orders ⋈ lineitem
    ⋈ supplier ⋈ nation ⋈ region with the local-supplier constraint
    (c_nationkey = s_nationkey) — six tables, mixed broadcast (region/
    nation/supplier dims) + shuffle (fact chain) joins; Catalyst orders
    them. Region list + 4-year window keep ≥5 result rows at sf0.001 so
    the value check is never vacuous (the r2 tpch_q3 lesson). Integer
    cents keep the hash comparable across engines."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("EUROPE", "ASIA"))
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(supp),
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
    )
    rev = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
    return (
        j.groupBy("n_name")
        .agg(F.sum(rev.cast("long")).alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("n_name").asc())
    )


def q_windowed_agg(spark, sf_dir):
    """§2.5 streaming-family operator, batch-parity-checked: tumbling
    10-minute event-time windows (F.window — the same expression the
    watermarked streaming path uses in streaming/windowed.py; Spark's
    unified semantics make the batch result the no-late-data stream
    result, which is what a SQL oracle can check)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "10 minutes").alias("win"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            F.date_format("win.end", "yyyy-MM-dd HH:mm:ss").alias("win_end"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


def q_ann_cosine_topk(spark, sf_dir):
    return cosine_topk(
        _t(spark, sf_dir, "embeddings"), query_vec_id=0, k=10
    ).select("vec_id")


def q_ann_lsh_topk(spark, sf_dir):
    """Partition-pruned ANN top-k over a WRITTEN LSH index — the production
    path (r4: switched from the corpus-rescan variant, which recomputed
    16-bit signatures corpus-wide per query). Value-checked against the
    exact brute-force top-k oracle via the same planted-structure trick as
    embedding_neardup_lsh: the fixture vectors are random (pairwise cosine
    ≤ ~0.52), so the true top-10 for query vec 0 is *derived
    deterministically* — ten perturbed copies of vec 0 (component scale
    1 ± 0.002·j, cosine ≥ 0.998, each j distinct so the ranking is
    strict). The probe radius (hamming ≤ 2 of 16 planes) covers the ≤1.6°
    perturbation angles, so the candidate set provably contains all ten
    and the ANN answer equals the exact answer.

    Plan: write_lsh_index materializes the corpus partitioned by the top-8
    signature bits (cached per sf_dir — amortized across queries, as in
    production); the query expands its signature prefix driver-side into
    the ≤C(8,2)=37 probe values and scans with ``bucket IN (...)`` — a
    partition-column predicate, so the untouched 219 of 256 directories
    never enter the file listing (pruning asserted via the scan's numFiles
    metric in tests/test_similarity.py). The 1-row .first() fetches the
    query VECTOR — a query parameter, arriving as a literal in production.
    """
    import os as _os

    from logpipe_spark.operators.similarity import (
        topk_from_lsh_index,
        write_lsh_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # cache key fingerprints the FIXTURE (size+mtime), not just the sf
    # name — a regenerated embeddings table must invalidate the index, or
    # the query would silently rank against a stale corpus
    st = _os.stat(_os.path.join(sf_dir, "embeddings.parquet"))
    sf = _os.path.basename(sf_dir.rstrip("/"))
    path = (
        f"/tmp/logpipe_contract_cache/ann_lsh_index_v1_{sf}"
        f"_{st.st_size}_{int(st.st_mtime)}"
    )
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        orig = emb.filter(F.col("vec_id") != 0).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        q0 = emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").cast("array<double>").alias("qv")
        )
        js = spark.range(1, 11).select(F.col("id").cast("int").alias("j"))
        planted = q0.crossJoin(F.broadcast(js)).select(
            (F.lit(200000) + F.col("j")).cast("long").alias("vec_id"),
            F.transform(
                "qv",
                lambda x, i: x * (1 + F.lit(0.002) * F.col("j") * (1 - 2 * (i % 2))),
            ).alias("embedding"),
        )
        # build into a private dir, publish with an atomic rename: two
        # racing builders (pytest + bench + the driver harness share /tmp)
        # must never interleave writes into the dir a reader is scanning
        build = f"{path}.build-{_os.getpid()}"
        write_lsh_index(orig.unionByName(planted), build, bits=16, prefix_bits=8)
        try:
            _os.rename(build, path)
        except OSError:
            import shutil as _shutil

            _shutil.rmtree(build, ignore_errors=True)  # lost the race: equal index published
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return topk_from_lsh_index(
        spark, path, qv, k=10, bits=16, prefix_bits=8, probe_hamming=2
    ).select("vec_id")


def q_ann_ivf_topk(spark, sf_dir):
    """Partition-pruned ANN top-k over a WRITTEN IVF index
    (operators/similarity.py: write_ivf_index / topk_from_ivf_index) —
    the k-means-cell counterpart of q_ann_lsh_topk, value-checked against
    the same exact brute-force oracle via the same planted construction:
    ten perturbed copies of query vec 0 (cosine >= 0.998) are the provable
    true top-10 in an otherwise-random corpus (pairwise cosine <= ~0.52).
    The ten planted vectors are within ~1.6 degrees of the query, so they
    share a k-means cell assignment neighborhood; nprobe=4 of 16 cells
    covers any assignment tie, and the candidate re-rank is exact, so the
    ANN answer equals the exact answer.

    Plan: the corpus is materialized partitioned by cell (one directory
    per k-means cell, centers in a JSON sidecar); the query ranks cells
    driver-side and scans only nprobe directories — `cell IN (...)` is a
    partition-column predicate, so 12 of 16 directories never enter the
    file listing (pruning asserted via the scan numFiles metric in
    tests/test_similarity.py::test_ivf_index_partition_pruning).
    """
    import os as _os

    from logpipe_spark.operators.similarity import (
        topk_from_ivf_index,
        write_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    st = _os.stat(_os.path.join(sf_dir, "embeddings.parquet"))
    sf = _os.path.basename(sf_dir.rstrip("/"))
    path = (
        f"/tmp/logpipe_contract_cache/ann_ivf_index_v1_{sf}"
        f"_{st.st_size}_{int(st.st_mtime)}"
    )
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        orig = emb.filter(F.col("vec_id") != 0).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        q0 = emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").cast("array<double>").alias("qv")
        )
        js = spark.range(1, 11).select(F.col("id").cast("int").alias("j"))
        planted = q0.crossJoin(F.broadcast(js)).select(
            (F.lit(200000) + F.col("j")).cast("long").alias("vec_id"),
            F.transform(
                "qv",
                lambda x, i: x * (1 + F.lit(0.002) * F.col("j") * (1 - 2 * (i % 2))),
            ).alias("embedding"),
        )
        build = f"{path}.build-{_os.getpid()}"
        write_ivf_index(orig.unionByName(planted), build, n_cells=16, seed=42)
        try:
            _os.rename(build, path)
        except OSError:
            import shutil as _shutil

            _shutil.rmtree(build, ignore_errors=True)
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return topk_from_ivf_index(spark, path, qv, k=10, nprobe=4).select("vec_id")


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, *exact* mode at a low threshold
    (0.4): inherently O(n²) compute, but planned as a block-grid equi-join
    (bounded task memory, uniform cells, no CartesianProduct operator) —
    see operators/similarity.py. The sub-quadratic scale path is
    embedding_neardup_lsh below."""
    from logpipe_spark.operators.similarity import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, threshold=0.4, bits=None).select("id_a", "id_b")


def q_embedding_neardup_lsh(spark, sf_dir):
    """Multi-probe hyperplane-LSH near-dup — the 100 TB path, value-checked
    against the exact all-pairs oracle. The fixture's embeddings are random
    (max pairwise cosine ≈ 0.52), so near-dup structure is *derived
    deterministically*: each vector gets a ±2% alternating-component
    perturbed copy (cosine ≈ 0.9998 to its source, ≤ ~0.52 to everything
    else). At θ=0.9 the true pairs are exactly the 500 planted ones; the
    probe radius (hamming ≤ 2 of 16 planes) covers the ~1.6° perturbation
    angle, so LSH output == exact output — verified by the oracle, and the
    plan is explode → ONE groupBy exchange → in-bucket pair generation
    with canonical-key dedupe (no distinct, no cartesian — see
    operators/similarity.py:neardup_lsh_multiprobe)."""
    from logpipe_spark.operators.similarity import neardup_lsh_multiprobe

    emb = _t(spark, sf_dir, "embeddings")
    orig = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    pert = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double") * (1 + 0.02 * (1 - 2 * (i % 2))),
        ).alias("embedding"),
    )
    derived = orig.unionByName(pert)
    return neardup_lsh_multiprobe(derived, threshold=0.9, bits=16).select("id_a", "id_b")


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing, oracle-checked on its deterministic half: a
    media table derived from documents (kind round-robin by doc_id) runs
    through the real Arrow-batched mapInPandas feature pass
    (operators/multimodal.py). Image rows carry a REAL image header (GIF89a
    logical-screen descriptor, dims a doc_id formula) welded onto the text
    bytes JVM-side; the kernel's pure-struct parse_image_header must read
    the dims back out of the bytes, and the oracle predicts them from the
    same formula — so width/height are value-checked end-to-end, alongside
    exact n_bytes/sha256 over the full payload. GIF (not PNG/JPEG) is the
    oracle fixture because DuckDB 1.0 digests VARCHAR only: dim bytes are
    picked in the 1-byte-UTF-8 range (low in 16..79, high fixed 0x01, so
    dims are 272..335) making the payload valid UTF-8 and the sha256
    mirrorable; the PNG and JPEG branches of the same parser are
    byte-fixture-tested in tests/test_multimodal.py.

    r6 extension — the pixel decode is REAL for PNG now: a second band of
    image rows (media_id = doc_id + 1,000,000) carries COMPLETE PNGs
    (multimodal.py:encode_png — real zlib IDAT, real CRCs, scanline
    filters cycling 0-4) whose pixels follow the closed form
    pixel(y,x,c) = (doc_id*31 + y*7 + x*3 + c) % 256. The feature pass
    inflates + unfilters them with the stdlib decoder
    (multimodal.py:decode_png) and reports px_sum, the exact integer sum
    of all samples — the oracle recomputes the same sum from the formula
    (no PNG in DuckDB needed), so every unfilter path is value-checked
    end-to-end. n_bytes/sha256 are NULLed for this band (zlib-compressed
    bytes aren't SQL-mirrorable); the GIF band still checks them."""
    from logpipe_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents")

    def byte_of(col):
        return F.unhex(F.lpad(F.hex(col.cast("bigint")), 2, "0"))

    low_w = F.lit(16) + F.col("doc_id") % 64
    low_h = F.lit(16) + (F.col("doc_id") * 7) % 64
    gif_prefix = F.concat(
        F.lit(b"GIF89a"),
        byte_of(low_w),
        F.lit(b"\x01"),
        byte_of(low_h),
        F.lit(b"\x01"),
    )
    is_image = F.col("doc_id") % 3 == 0
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.when(
            is_image, F.concat(gif_prefix, F.encode("text", "utf-8"))
        ).otherwise(F.encode("text", "utf-8")).alias("payload"),
        F.struct(
            F.lit(32).alias("width"),
            F.lit(24).alias("height"),
            F.lit(16000).alias("sample_rate"),
            F.lit(100).alias("n_frames"),
            F.lit("raw").alias("codec"),
        ).alias("meta"),
    )
    # single-file source → one scan task; split before the per-row hash
    # work (same under-split guard as dedup_simhash). At real media sizes
    # media_repartition (byte-budget) is the right splitter; this fixture's
    # payloads are KB-scale text, so parallelism is the binding constraint.
    media = media.repartition(spark.sparkContext.defaultParallelism)

    # the PNG band: complete real PNGs with closed-form pixels, built in
    # an Arrow-batched pass (fixture construction — the decode under test
    # is in extract_features)
    def _png_rows(batches):
        import numpy as np
        import pandas as pd

        from logpipe_spark.operators.multimodal import encode_png

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 8 + did % 24
                h = 8 + (did * 5) % 24
                y, x, c = np.ogrid[0:h, 0:w, 0:3]
                px = ((did * 31 + y * 7 + x * 3 + c) % 256).astype(np.uint8)
                payloads.append(encode_png(px))
            yield pd.DataFrame(
                {
                    "media_id": (pdf["doc_id"] + 1_000_000).astype("int64"),
                    "kind": ["image"] * len(pdf),
                    "payload": payloads,
                    "meta": [
                        {
                            "width": None,
                            "height": None,
                            "sample_rate": None,
                            "n_frames": None,
                            "codec": "png",
                        }
                    ]
                    * len(pdf),
                }
            )

    from logpipe_spark.operators.multimodal import MEDIA_SCHEMA

    png_media = (
        docs.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(_png_rows, schema=MEDIA_SCHEMA)
    )
    feats = extract_features(media.unionByName(png_media))
    is_png_band = F.col("media_id") >= 1_000_000
    return feats.select(
        "media_id",
        "kind",
        F.when(is_png_band, F.lit(None)).otherwise(F.col("n_bytes")).alias(
            "n_bytes"
        ),
        F.when(is_png_band, F.lit(None)).otherwise(F.col("sha256")).alias(
            "sha256"
        ),
        "width",
        "height",
        "px_sum",
    )


def q_text_quality(spark, sf_dir):
    return lang_quality_stats(_t(spark, sf_dir, "documents"))


def q_token_stats(spark, sf_dir):
    return token_stats(_t(spark, sf_dir, "documents"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: parse → route → per-sink aggregate on sf0.001 events."""
    return q_route_fanout(spark, SF001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Contract queries, one per SURVEY.md §2 operator.

    ORDERING POLICY (the driver's correctness harness verifies the FIRST 50
    entries only, and this dict has more): entries are listed in priority
    order —
      1. anything whose Spark plan or oracle changed since its last green
         CORRECTNESS row (must be re-verified this round);
      2. everything not yet green in the latest CORRECTNESS_r{N};
      3. long-stable veterans (green, untouched for ≥2 rounds) rotate to the
         tail, oldest-verified first, so over successive rounds every entry
         cycles back through the window.
    When you modify a query or its oracle, MOVE IT UP into the first 50.

    Round-6 window (burn-down round — per the r5 verdict, NO new surface
    queries beyond the three streaming-mode entries it explicitly asked
    for; every slot goes to entries without a fresh driver verdict):

    - positions 1-9: the nine r5-new queries that overflowed r5's window
      and have never had a driver verdict (containment_dedup, url_dedup,
      clean_text, assemble_conversations, turn_spans, remove_eval_spans,
      shuffle_corpus, skew_profile, profile_columns). clean_text ALSO
      changed this round (newline-preserving whitespace normalization +
      matching oracle — ADVICE r5), so it re-verifies on both grounds.
    - positions 10-22: the 13 veterans last green r1-r3, rotating back
      through the window (rollup, parse_extract_pandas, es_bulk_render,
      asof_join, range_join, percentiles, grep_filter, tokenize_fields,
      template_project, template_missing_fields, orderby_limit, key_cut,
      translate_charset).
    - positions 23-30: the queries whose IMPLEMENTATION changed and
      therefore must re-verify: fuzzy_join (best_match
      tiebreak rewritten negation-free), bloom_semi_join (large-filter
      broadcast-bitarray fallback), and the three callers of
      connected_components_star — cluster_split, dedup_components and
      neardup_keep_best — whose plans changed again: a pair graph of at
      most dedup._DRIVER_CC_EDGES edges (every sf fixture's) is now
      labeled by a driver union-find and returned as an Arrow-built local
      relation instead of running the star rounds. 28-30: decontaminate,
      dedup_lines, remove_dup_spans — doc-keyed operators now return their
      input rows plus result columns (remove_eval_spans is at 6).
    - positions 31-33: the three NEW streaming-mode queries the r5
      verdict asked for (streaming_assemble, streaming_dedup,
      streaming_interval_join) — each drives the real Structured
      Streaming operator with Trigger.AvailableNow over the staged
      static table (streaming/drive.py) and each has a full value
      oracle (the batch twin), not a rows-only check.
    - positions 34-50: the oldest r4-green entries, re-entering oldest
      first (parse_extract … dedup_simhash_pairs).

    Positions 51+: first the eleven r4-green entries that did not fit
    (tpch_q3, tpch_q5, lead_lag, then hash_split … date_rollup — they
    lead the next window), then the 14 r4-green priority-3 tail, then
    the 43 entries green in
    CORRECTNESS_r05 with implementations unchanged since (freshest
    verdicts, verified ≤1 round ago — safe at the back).
    """
    return {
        # -- 1-9: r5 overflow, never driver-verified --
        "containment_dedup": q_containment_dedup,
        "url_dedup": q_url_dedup,
        "clean_text": q_clean_text,  # also changed r6 (newline-preserving)
        "assemble_conversations": q_assemble_conversations,
        "turn_spans": q_turn_spans,
        "remove_eval_spans": q_remove_eval_spans,
        "shuffle_corpus": q_shuffle_corpus,
        "skew_profile": q_skew_profile,
        "profile_columns": q_profile_columns,
        # -- 10-22: veterans last green r1-r3, rotating back in --
        "rollup": q_rollup,
        "parse_extract_pandas": q_parse_extract_pandas,
        "es_bulk_render": q_es_bulk,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "percentiles": q_percentiles,
        "grep_filter": q_grep_filter,
        "tokenize_fields": q_tokenize_fields,
        "template_project": q_template_project,
        "template_missing_fields": q_template_missing,
        "orderby_limit": q_orderby_limit,
        "key_cut": q_key_cut,
        "translate_charset": q_translate_charset,
        # -- 23-27: implementation changed this round, re-verify --
        "fuzzy_join": q_fuzzy_join,
        "cluster_split": q_cluster_split,
        "bloom_semi_join": q_bloom_semi_join,
        "dedup_components": q_dedup_components,
        "neardup_keep_best": q_neardup_keep_best,
        "decontaminate": q_decontaminate,
        "dedup_lines": q_dedup_lines,
        "remove_dup_spans": q_remove_dup_spans,
        # -- 31-33: NEW streaming-mode queries (r5 verdict ask #4) --
        "streaming_assemble": q_streaming_assemble,
        "streaming_dedup": q_streaming_dedup,
        "streaming_interval_join": q_streaming_interval_join,
        # -- 34-50: oldest r4-green, oldest first --
        "parse_extract": q_parse_extract,
        "route_fanout": q_route_fanout,
        "route_dropped": q_route_dropped,
        "enrich_broadcast": q_enrich_broadcast,
        "enrich_anti": q_enrich_anti,
        "agg_persink": q_agg_persink,
        "window_topk": q_window_topk,
        "sessionize": q_sessionize,
        "windowed_agg": q_windowed_agg,
        "doc_route": q_doc_route,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_keep_list": q_dedup_keep_list,
        "top_terms": q_top_terms,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        # ---- window boundary (driver verifies the 50 above) ----
        # -- 51-61: r4-green overflow, leading the next window --
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "lead_lag": q_lead_lag,
        "hash_split": q_hash_split,
        "corpus_filter": q_corpus_filter,
        "ann_cosine_topk": q_ann_cosine_topk,
        "text_quality": q_text_quality,
        "token_stats": q_token_stats,
        "pack_unpack": q_pack_unpack,
        "set_ops": q_set_ops,
        "date_rollup": q_date_rollup,
        # -- 62-75: r4-green priority-3 tail --
        "fields_strictly": q_fields_strictly,
        "pivot": q_pivot,
        "json_extract": q_json_extract,
        "set_intersect": q_set_intersect,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,
        "ann_lsh_topk": q_ann_lsh_topk,
        "embedding_neardup": q_embedding_neardup,
        "cube": q_cube,
        "doc_fingerprint": q_doc_fingerprint,
        "bpe_tokens": q_bpe_tokens,
        "repetition_stats": q_repetition_stats,
        "pii_redact": q_pii_redact,
        "chunk_documents": q_chunk_documents,
        "langid_quality": q_langid_quality,
        # -- 76+: green in CORRECTNESS_r05, implementations unchanged --
        "mad_outliers": q_mad_outliers,
        "collocations": q_collocations,
        "distribution_shift": q_distribution_shift,
        "html_extract": q_html_extract,
        "weighted_sample": q_weighted_sample,
        "triangle_count": q_triangle_count,
        "url_filter": q_url_filter,
        "classifier_score": q_classifier_score,
        "pagerank": q_pagerank,
        "inverted_search": q_inverted_search,
        "grouped_topk": q_grouped_topk,
        "seq_ngrams": q_seq_ngrams,
        "cm_counts": q_cm_counts,
        "transition_matrix": q_transition_matrix,
        "bm25_topk": q_bm25_topk,
        "rate_anomaly": q_rate_anomaly,
        "cdc_merge": q_cdc_merge,
        "hll_distinct": q_hll_distinct,
        "temperature_mix": q_temperature_mix,
        "unigram_logprob": q_unigram_logprob,
        "quota_sample": q_quota_sample,
        "mix_sample": q_mix_sample,
        "bucketed_join": q_bucketed_join,
        "incremental_dedup": q_incremental_dedup,
        "incremental_neardup": q_incremental_neardup,
        "dsir_scores": q_dsir_scores,
        "gapfill": q_gapfill,
        "session_windows": q_session_windows,
        "funnel": q_funnel,
        "cohort_retention": q_cohort_retention,
        "scd2": q_scd2,
        "hopping_window": q_hopping_window,
        "dedup_fingerprint": q_dedup_fingerprint,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "quantile_buckets": q_quantile_buckets,
        "corpus_diff": q_corpus_diff,
        "split_leak_check": q_split_leak_check,
        "tpch_q1": q_tpch_q1,
        "sequence_pack": q_sequence_pack,
        "ann_ivf_topk": q_ann_ivf_topk,
        "multimodal_features": q_multimodal_features,
        "bpe_merge_tokens": q_bpe_merge_tokens,
        "dup_spans": q_dup_spans,
    }


def _ngram_pairs_cte() -> str:
    """Shared DuckDB CTE chain for token-3-gram Jaccard pairs ≥ 0.8 with
    the Spark operator's hot-shingle cap mirrored (max_shingle_freq=1000):
    stop-shingles leave BOTH the intersection counts and per-doc sizes."""
    return """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
          FROM documents
        ), sh0 AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(t) - 2, 0) + 1),
                   i -> array_to_string(t[i:i+2], ' ')))) AS s
          FROM toks
        ), sh AS (
          SELECT sh0.* FROM sh0
          JOIN (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= 1000) ok
            USING (s)
        ), sizes AS (
          SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM sh a JOIN sh b USING (s)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), pairs AS (
          SELECT doc_a, doc_b, n_common,
                 CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
        )
    """


def _minhash_sig_cte(num_hashes: int = 32) -> str:
    """Shared DuckDB CTE chain computing per-doc MinHash signatures with
    the SAME universal-hash constants the Spark operator uses
    (operators/dedup.py:minhash_coeffs) — parity is structural."""
    p = MINHASH_PRIME
    a, b = minhash_coeffs(num_hashes)
    mins = ",\n               ".join(
        f"MIN(({a[i]} * h + {b[i]}) % {p}) AS s{i}" for i in range(num_hashes)
    )
    comps = ", ".join(f"coalesce(s{i}, {p})" for i in range(num_hashes))
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
          FROM documents
        ), sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(t) - 2, 0) + 1),
                   i -> array_to_string(t[i:i+2], ' ')))) AS s
          FROM toks
        ), hashed AS (
          SELECT doc_id,
                 CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % {p} AS h
          FROM sh
        ), sigagg AS (
          SELECT doc_id,
               {mins}
          FROM hashed GROUP BY doc_id
        ), sig AS (
          SELECT d.doc_id, [{comps}] AS sig
          FROM documents d LEFT JOIN sigagg USING (doc_id)
        )
    """


def _minhash_sql(num_hashes: int = 32) -> str:
    return (
        _minhash_sig_cte(num_hashes)
        + """
        SELECT doc_id,
               md5(array_to_string(sig, ',')) AS sig_digest
        FROM sig
        """
    )


def _minhash_lsh_sql(num_hashes: int = 32, bands: int = 8) -> str:
    rows = num_hashes // bands
    return (
        _minhash_sig_cte(num_hashes)
        + f"""
        , banded AS (
          -- only docs with >= 1 shingle (sigagg rows): identity-signature
          -- docs must not band-collide (mirrors the Spark-side filter)
          SELECT sig.doc_id, sig.sig, b,
                 sig[b * {rows} + 1 : b * {rows} + {rows}] AS bandkey
          FROM sig JOIN sigagg USING (doc_id),
               (SELECT unnest(range(0, {bands})) AS b)
        ), cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                 x.sig AS sa, y.sig AS sb
          FROM banded x JOIN banded y
            ON x.b = y.b AND x.bandkey = y.bandkey AND x.doc_id < y.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(len(list_filter(range(1, {num_hashes} + 1),
                        i -> sa[i] = sb[i])) AS DOUBLE) / {num_hashes}.0
                   AS est_jaccard
        FROM cand
        """
    )


def _incremental_neardup_sql(num_hashes: int = 32, bands: int = 8) -> str:
    rows = num_hashes // bands
    return (
        _minhash_sig_cte(num_hashes)
        + f"""
        , banded AS (
          SELECT sig.doc_id, b,
                 sig[b * {rows} + 1 : b * {rows} + {rows}] AS bandkey
          FROM sig JOIN sigagg USING (doc_id),
               (SELECT unnest(range(0, {bands})) AS b)
        ), idx AS (
          SELECT b, bandkey, doc_id AS old FROM banded WHERE doc_id % 3 = 0
        ), bt AS (
          SELECT doc_id, b, bandkey FROM banded WHERE doc_id % 3 <> 0
        ), hits AS (
          SELECT bt.doc_id, COUNT(DISTINCT idx.old) AS n_index_partners
          FROM bt JOIN idx ON bt.b = idx.b AND bt.bandkey = idx.bandkey
          GROUP BY bt.doc_id
        ), mins AS (
          SELECT b, bandkey, MIN(doc_id) AS m FROM bt GROUP BY b, bandkey
        ), bd AS (
          SELECT DISTINCT bt.doc_id
          FROM bt JOIN mins ON bt.b = mins.b AND bt.bandkey = mins.bandkey
          WHERE bt.doc_id <> mins.m
        )
        SELECT d.doc_id,
               CASE WHEN h.n_index_partners > 0 THEN 'neardup_index'
                    WHEN bd.doc_id IS NOT NULL THEN 'neardup_batch'
                    ELSE 'kept' END AS status,
               CAST(COALESCE(h.n_index_partners, 0) AS BIGINT)
                 AS n_index_partners
        FROM documents d
        LEFT JOIN hits h ON d.doc_id = h.doc_id
        LEFT JOIN bd ON d.doc_id = bd.doc_id
        WHERE d.doc_id % 3 <> 0
        """
    )


def _simhash_cte(bucket_bits: int = 16) -> str:
    """DuckDB mirror of operators/dedup._simhash64: per-token 64-bit hash =
    first 8 bytes of md5 big-endian (== first 16 hex chars as UBIGINT),
    per-bit majority vote over all tokens (duplicates included), signed
    two's-complement int64 out, bucket = top ``bucket_bits`` bits."""
    lo = 64 - bucket_bits
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS tok
          FROM documents
        ), th AS (
          SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT) AS h
          FROM toks
        ), bits AS (
          SELECT doc_id, b,
                 CASE WHEN SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
                      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
          FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS b)
          GROUP BY doc_id, b
        ), vals AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN b < 63 THEN bit * (CAST(1 AS BIGINT) << b)
                               ELSE 0 END)
                    - SUM(CASE WHEN b = 63 THEN bit ELSE 0 END)
                        * 9223372036854775807
                    - SUM(CASE WHEN b = 63 THEN bit ELSE 0 END) AS BIGINT)
                     AS simhash,
                 CAST(SUM(CASE WHEN b >= {lo}
                               THEN bit * (CAST(1 AS BIGINT) << (b - {lo}))
                               ELSE 0 END) AS BIGINT) AS bucket
          FROM bits GROUP BY doc_id
        )
    """


def _simhash_sql(bucket_bits: int = 16) -> str:
    return (
        _simhash_cte(bucket_bits)
        + """
        SELECT d.doc_id,
               CASE WHEN d.text IS NULL THEN NULL
                    ELSE coalesce(v.simhash, 0) END AS simhash,
               CASE WHEN d.text IS NULL THEN NULL
                    ELSE coalesce(v.bucket, 0) END AS bucket
        FROM documents d LEFT JOIN vals v USING (doc_id)
        """
    )


def _simhash_pairs_sql(max_hamming: int = 3, bucket_bits: int = 16) -> str:
    """Pairs = same top-bits bucket AND xor-popcount ≤ max_hamming; docs
    with NULL text carry NULL sketches on the Spark side (never join), so
    they are excluded here; empty/short non-NULL docs sketch to 0 on both
    sides and may legitimately pair (identical text)."""
    return (
        _simhash_cte(bucket_bits)
        + f"""
        , sk AS (
          SELECT d.doc_id, coalesce(v.simhash, 0) AS simhash,
                 coalesce(v.bucket, 0) AS bucket
          FROM documents d LEFT JOIN vals v USING (doc_id)
          WHERE d.text IS NOT NULL
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sk a JOIN sk b
          ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
        """
    )


def _langid_quality_sql() -> str:
    """DuckDB equivalent of textstats.lang_id + quality_score, generated
    from the same LANG_MARKERS the Spark expressions use."""
    toks = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
    counts = {
        lang: f"len(list_filter({toks}, x -> list_contains({m!r}, x)))"
        for lang, m in ((k, list(v)) for k, v in LANG_MARKERS.items())
    }
    best = "greatest(" + ", ".join(counts.values()) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' "
    for lang, expr in counts.items():
        case += f"WHEN {expr} = {best} THEN '{lang}' "
    case += "END"
    ntok = f"len(list_filter(string_split(text, ' '), x -> x <> ''))"
    punct = "length(regexp_replace(text, '[\\w\\s]', '', 'g'))"
    quality = (
        f"(CASE WHEN length(text) BETWEEN 40 AND 100000 THEN 40 ELSE 0 END"
        f" + CASE WHEN CAST({punct} AS DOUBLE) / greatest(length(text), 1) < 0.3"
        f"        THEN 20 ELSE 0 END"
        f" + CASE WHEN len(list_filter({toks},"
        f"        x -> list_contains(['the','and','of'], x))) > 0 THEN 20 ELSE 0 END"
        f" + CASE WHEN {ntok} >= 5 THEN 20 ELSE 0 END)"
    )
    return (
        f"SELECT doc_id, {case} AS lang_guess, CAST({quality} AS INT) AS quality "
        "FROM documents"
    )


def _bpe_merge_tokens_oracle() -> str:
    """DuckDB mirror of q_bpe_merge_tokens: the SAME frozen merge table
    applied as the SAME replace chain (bpe_token_count_sql builds it)."""
    from logpipe_spark.functions.bpe import bpe_token_count_sql
    from logpipe_spark.functions.bpe_merges import DEFAULT_MERGES

    expr = bpe_token_count_sql("text", DEFAULT_MERGES)
    return f"SELECT doc_id, {expr} AS bpe_merge_tokens FROM documents"


def oracle_sql() -> dict[str, str]:
    ev_case = rules_to_sql_case(EVENT_RULES)
    doc_case = rules_to_sql_case(DOC_RULES)
    from logpipe_spark.operators.graph import pagerank_oracle_sql
    from logpipe_spark.operators.search import (
        bm25_oracle_sql,
        conjunctive_oracle_sql,
    )
    from logpipe_spark.operators.sketch import cm_oracle_sql, hll_oracle_sql

    def _pagerank_oracle():
        return pagerank_oracle_sql(_PR_EDGES_CTE, iterations=5)

    def _conjunctive_oracle():
        return conjunctive_oracle_sql(_CONJ_TERMS)

    hll_union = "\nUNION ALL\n".join(
        f"SELECT *, '{c}' AS col_name FROM ({hll_oracle_sql('events', c)})"
        for c in ("props", "user_id", "event_id")
    )
    return {
        "bloom_semi_join": """
            SELECT o_orderstatus, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                       AS BIGINT) AS total_cents
            FROM orders
            WHERE o_custkey IN (
                SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
            GROUP BY 1
        """,
        "cm_counts": cm_oracle_sql("events", "props", _CM_PROBES),
        "transition_matrix": """
            WITH pairs AS (
              SELECT event_type AS src,
                     LEAD(event_type) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS dst
              FROM events
            ), counts AS (
              SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
              FROM pairs WHERE dst IS NOT NULL GROUP BY 1, 2
            ), totals AS (SELECT src, SUM(n) AS tot FROM counts GROUP BY 1)
            SELECT src, dst, n, CAST((n * 1000000) // tot AS BIGINT) AS ppm
            FROM counts JOIN totals USING (src)
        """,
        "cluster_split": _ngram_pairs_cte().replace(
            "WITH toks", "WITH RECURSIVE toks", 1
        )
        + """
        , sym AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ), cnodes AS (
          SELECT DISTINCT a AS n FROM sym
        ), reach(src, dst) AS (
          SELECT n, n FROM cnodes
          UNION
          SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.dst
        ), comp AS (
          SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
        ), lab AS (
          -- split_group is a STRING (works for any key type; numeric
          -- keys stringify to the same md5 input either way)
          SELECT d.doc_id,
                 CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)
                     AS split_group
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        )
        SELECT doc_id, split_group,
               CASE
                 WHEN CAST('0x' || substr(md5('split:' ||
                      CAST(split_group AS VARCHAR)), 1, 15) AS BIGINT)
                      % 10000 < 8000 THEN 'train'
                 WHEN CAST('0x' || substr(md5('split:' ||
                      CAST(split_group AS VARCHAR)), 1, 15) AS BIGINT)
                      % 10000 < 9000 THEN 'val'
                 ELSE 'test'
               END AS split
        FROM lab
        """,
        "fuzzy_join": """
            -- cross-table Jaccard linkage; hot-shingle df over BOTH
            -- sides; planted right table = every 5th doc re-keyed with
            -- one appended token (same construction as the Spark side)
            WITH ltoks AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '),
                                 x -> x <> '') AS t
              FROM documents
            ), rtoks AS (
              SELECT doc_id + 1000000 AS doc_id,
                     list_filter(string_split(
                       lower(text || ' extrawordxyz'), ' '),
                       x -> x <> '') AS t
              FROM documents WHERE doc_id % 5 = 0
            ), lsh AS (
              SELECT doc_id AS lk, unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 0) + 1),
                       i -> array_to_string(t[i:i+2], ' ')))) AS s
              FROM ltoks
            ), rsh AS (
              SELECT doc_id AS rk, unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 0) + 1),
                       i -> array_to_string(t[i:i+2], ' ')))) AS s
              FROM rtoks
            ), ok AS (
              SELECT s FROM (
                SELECT s FROM lsh UNION ALL SELECT s FROM rsh
              ) GROUP BY s HAVING COUNT(*) <= 1000
            ), lf AS (
              SELECT lsh.* FROM lsh JOIN ok USING (s)
            ), rf AS (
              SELECT rsh.* FROM rsh JOIN ok USING (s)
            ), lsz AS (
              SELECT lk, COUNT(*) AS sz_l FROM lf GROUP BY lk
            ), rsz AS (
              SELECT rk, COUNT(*) AS sz_r FROM rf GROUP BY rk
            ), inter AS (
              SELECT lk, rk, COUNT(*) AS n_common
              FROM lf JOIN rf USING (s) GROUP BY lk, rk
            )
            SELECT lk AS doc_id_l, rk AS doc_id_r,
                   CAST(n_common AS BIGINT) AS n_common,
                   CAST(n_common AS DOUBLE)
                     / (sz_l + sz_r - n_common) AS jaccard
            FROM inter JOIN lsz USING (lk) JOIN rsz USING (rk)
            WHERE CAST(n_common AS DOUBLE) / (sz_l + sz_r - n_common)
                  >= 0.8
        """,
        "remove_eval_spans": """
            -- same surgery as remove_dup_spans, span source = the
            -- mod-7 eval set's DISTINCT 8-gram shingles; corpus side
            -- excludes eval docs
            WITH corpus AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '),
                                 x -> x <> '') AS t
              FROM documents WHERE doc_id % 7 <> 0
            ), evset AS (
              SELECT DISTINCT unnest(list_distinct(list_transform(
                       range(1, greatest(len(list_filter(
                         string_split(lower(text), ' '), x -> x <> ''))
                         - 7, 0) + 1),
                       i -> array_to_string(list_filter(
                         string_split(lower(text), ' '),
                         x -> x <> '')[i:i+7], ' ')))) AS s
              FROM documents WHERE doc_id % 7 = 0
            ), spans AS (
              SELECT doc_id,
                     unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS pos,
                     unnest(list_transform(
                       range(1, greatest(len(t) - 7, 0) + 1),
                       i -> array_to_string(t[i:i+7], ' '))) AS s
              FROM corpus
            ), covered AS (
              SELECT DISTINCT doc_id, tpos FROM (
                SELECT doc_id, unnest(range(pos, pos + 8)) AS tpos
                FROM spans SEMI JOIN evset USING (s)
              )
            ), tok_rows AS (
              SELECT doc_id,
                     unnest(range(1, len(t) + 1)) AS tpos,
                     unnest(t) AS tok
              FROM corpus
            ), kept AS (
              SELECT tr.doc_id, tr.tpos, tr.tok
              FROM tok_rows tr ANTI JOIN covered c
                ON tr.doc_id = c.doc_id AND tr.tpos = c.tpos
            ), rebuilt AS (
              SELECT doc_id,
                     string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
                     COUNT(*) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(r.clean_text, '') AS clean_text,
                   CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept
            FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
            LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
        """,
        "assemble_conversations": """
            -- same turn construction, then ordered aggregation
            WITH turns AS (
              SELECT user_id AS conv_id, event_id AS turn_idx,
                     event_type || ': ' || props AS text
              FROM events
            )
            SELECT conv_id,
                   string_agg(text, chr(10) ORDER BY turn_idx) AS doc,
                   CAST(COUNT(*) AS BIGINT) AS n_turns
            FROM turns GROUP BY conv_id
        """,
        "streaming_assemble": """
            -- the streaming assembler's ground truth IS the batch
            -- reconstruction: every conversation flushes exactly once
            -- after the sentinel batches advance the watermark, so the
            -- drained sink equals the ordered aggregation (conv_id is a
            -- string in the stateful operator's output schema)
            WITH turns AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id,
                     event_id AS turn_idx,
                     event_type || ': ' || props AS text
              FROM events
            )
            SELECT conv_id,
                   string_agg(text, chr(10) ORDER BY turn_idx, text) AS doc,
                   CAST(COUNT(*) AS BIGINT) AS n_turns
            FROM turns GROUP BY conv_id
        """,
        "streaming_dedup": """
            -- feed = the table replayed twice; exactly-once-within-
            -- watermark means the drained sink is the table itself
            SELECT event_id, ts, user_id, event_type, value, props
            FROM events
        """,
        "streaming_interval_join": """
            -- batch twin of the watermarked stream-stream join:
            -- purchases within [signup_ts, signup_ts + 60 min] per user
            SELECT l.user_id,
                   l.event_id AS signup_id,
                   l.ts AS signup_ts,
                   r.event_id AS purchase_id,
                   r.ts AS purchase_ts,
                   r.value AS purchase_value
            FROM events l JOIN events r
              ON l.user_id = r.user_id
             AND l.event_type = 'signup'
             AND r.event_type = 'purchase'
             AND r.ts >= l.ts
             AND r.ts <= l.ts + INTERVAL 60 MINUTES
        """,
        "turn_spans": """
            -- exact-integer prefix sums: start = total chars+seps of
            -- earlier turns, end = start + own length (0-based,
            -- half-open, sep = one newline)
            WITH turns AS (
              SELECT user_id AS conv_id, event_id AS turn_idx,
                     event_type AS role,
                     event_type || ': ' || props AS text
              FROM events
            )
            SELECT conv_id, turn_idx, role,
                   CAST(COALESCE(SUM(length(text) + 1) OVER (
                     PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS start,
                   CAST(COALESCE(SUM(length(text) + 1) OVER (
                     PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) + length(text) AS BIGINT) AS "end"
            FROM turns
        """,
        "clean_text": """
            -- same planted suffix (decomposed marks via chr(), BEL,
            -- tab/CRLF runs, trailing spaces), NFC via utf8proc,
            -- then the same explicit-class regex chain: delete bare
            -- controls, CRLF/CR -> LF, collapse horizontal whitespace,
            -- strip spaces hugging newlines, trim the ends. Newlines
            -- SURVIVE (the planted cr\\r\\nend stays two lines).
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(
                     regexp_replace(regexp_replace(
                     nfc_normalize(text || ' e' || chr(769) || ' A'
                       || chr(778) || ' ' || chr(7) || 'ding' || chr(9)
                       || 'cr' || chr(13) || chr(10) || 'end  '),
                     '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
                     '\\r\\n?', chr(10), 'g'),
                     '[ \\t]+', ' ', 'g'),
                     ' ?\\n ?', chr(10), 'g'),
                     '^[ \\n]+|[ \\n]+$', '', 'g') AS text_clean
            FROM documents
        """,
        "url_dedup": """
            -- same synthetic URL construction as the Spark side, then
            -- RFC-3986 canonicalization: lower scheme/host, strip
            -- default ports + fragments + utm_*/click params, sort
            -- remaining params, collapse trailing slashes
            WITH synth AS (
              SELECT doc_id,
                (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
                || '://' ||
                (CASE WHEN doc_id % 4 < 2 THEN 'WWW.Example.COM'
                      ELSE 'www.example.com' END) ||
                (CASE WHEN doc_id % 2 = 0 THEN ':80'
                      WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END) ||
                '/Articles/' || CAST(doc_id % 50 AS VARCHAR) ||
                (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
                (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'
                      ELSE '?a=1&b=2' END) ||
                (CASE WHEN doc_id % 5 = 0 THEN '#section' ELSE '' END)
                AS url
              FROM documents
            ), parts AS (
              SELECT doc_id,
                lower(regexp_extract(url,
                  '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                lower(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host,
                COALESCE(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/:?#]+:(\\d+)', 1), '')
                  AS port,
                COALESCE(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), '')
                  AS rawpath,
                COALESCE(regexp_extract(url, '\\?([^#]*)', 1), '') AS q
              FROM synth
            ), canon AS (
              SELECT doc_id,
                scheme || '://' || host ||
                (CASE WHEN port = ''
                        OR (scheme = 'http' AND port = '80')
                        OR (scheme = 'https' AND port = '443')
                      THEN '' ELSE ':' || port END) ||
                (CASE WHEN regexp_replace(rawpath, '/+$', '') = ''
                      THEN '/'
                      ELSE regexp_replace(rawpath, '/+$', '') END) ||
                (CASE WHEN qc = '' THEN '' ELSE '?' || qc END)
                AS url_canon
              FROM (
                SELECT *, COALESCE(array_to_string(list_sort(list_filter(
                         string_split(q, '&'),
                         p -> p <> '' AND NOT starts_with(p, 'utm_')
                              AND NOT (string_split(p, '=')[1] IN
                                ('fbclid','gclid','msclkid','ref')))),
                       '&'), '') AS qc
                FROM parts
              )
            )
            SELECT url_canon,
                   CAST(COUNT(*) AS BIGINT) AS n_dups,
                   CAST(MIN(doc_id) AS BIGINT) AS keep_id
            FROM canon GROUP BY url_canon
        """,
        "containment_dedup": """
            -- Broder containment |A∩B|/|A| >= 0.9 over token-3-gram
            -- shingle sets; containers (1000000+k) concatenate docs
            -- 3k..3k+2 in doc_id order — same construction as the
            -- Spark side; container = larger shingle set per pair
            WITH containers AS (
              SELECT 1000000 + (doc_id // 3) AS doc_id,
                     string_agg(text, ' ' ORDER BY doc_id) AS text
              FROM documents WHERE doc_id < 30
              GROUP BY doc_id // 3
            ), base AS (
              SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id, text FROM containers
            ), toks AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '),
                                 x -> x <> '') AS t
              FROM base
            ), sh0 AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 0) + 1),
                       i -> array_to_string(t[i:i+2], ' ')))) AS s
              FROM toks
            ), sh AS (
              SELECT sh0.* FROM sh0
              JOIN (SELECT s FROM sh0 GROUP BY s
                    HAVING COUNT(*) <= 1000) ok USING (s)
            ), sizes AS (
              SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS da, b.doc_id AS db,
                     COUNT(*) AS n_common
              FROM sh a JOIN sh b USING (s)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT CASE WHEN sa.sz < sb.sz THEN da ELSE db END AS doc_a,
                   CASE WHEN sa.sz < sb.sz THEN db ELSE da END AS doc_b,
                   CAST(n_common AS BIGINT) AS n_common,
                   CAST(n_common AS DOUBLE)
                     / (CASE WHEN sa.sz < sb.sz
                             THEN sa.sz ELSE sb.sz END) AS containment
            FROM inter
            JOIN sizes sa ON sa.doc_id = da
            JOIN sizes sb ON sb.doc_id = db
            WHERE CAST(n_common AS DOUBLE)
                    / (CASE WHEN sa.sz < sb.sz
                            THEN sa.sz ELSE sb.sz END) >= 0.9
        """,
        "mad_outliers": """
            -- modified z-score per group; quantile_cont == Spark's
            -- exact percentile on dyadic inputs (cents + planted spikes)
            WITH v AS (
              SELECT event_id, event_type,
                     CAST(FLOOR(value * 100) AS BIGINT)
                     + CASE WHEN event_id % 97 = 0 THEN 1000000
                            ELSE 0 END AS cents
              FROM events
            ), med AS (
              SELECT event_type, quantile_cont(cents, 0.5) AS m
              FROM v GROUP BY event_type
            ), st AS (
              SELECT v.event_type,
                     quantile_cont(abs(CAST(cents AS DOUBLE) - m), 0.5)
                       AS md,
                     MIN(m) AS m
              FROM v JOIN med USING (event_type)
              GROUP BY v.event_type
            )
            SELECT event_id, v.event_type, cents,
                   ROUND(0.6745 * abs(CAST(cents AS DOUBLE) - m) / md, 6)
                     AS score
            FROM v JOIN st USING (event_type)
            WHERE md > 0
              AND 0.6745 * abs(CAST(cents AS DOUBLE) - m) / md > 3.5
        """,
        "collocations": """
            -- adjacent-bigram PMI; slot unigram counts come from the
            -- bigram table (same sample space as the numerator)
            WITH tok AS (
              SELECT list_filter(regexp_split_to_array(
                       lower(coalesce(text, '')), '[^a-z0-9]+'),
                       x -> x <> '') AS t
              FROM documents
            ), pr AS (
              SELECT unnest(list_transform(range(1, len(t)),
                       i -> {'w1': t[i], 'w2': t[i + 1]})) AS p
              FROM tok WHERE len(t) >= 2
            ), big AS (
              SELECT (p).w1 AS w1, (p).w2 AS w2, COUNT(*) AS c_ab
              FROM pr GROUP BY 1, 2
            ), l AS (
              SELECT w1 AS w, SUM(c_ab) AS c_l FROM big GROUP BY 1
            ), r AS (
              SELECT w2 AS w, SUM(c_ab) AS c_r FROM big GROUP BY 1
            ), t AS (
              SELECT SUM(c_ab) AS n_pairs FROM big
            )
            SELECT w1 || ' ' || w2 AS bigram,
                   CAST(c_ab AS BIGINT) AS c_ab,
                   ROUND(ln(CAST(c_ab AS DOUBLE) * n_pairs
                         / (CAST(c_l AS DOUBLE) * c_r)), 6) AS pmi
            FROM big
            JOIN l ON big.w1 = l.w
            JOIN r ON big.w2 = r.w
            CROSS JOIN t
            WHERE c_ab >= 5
            ORDER BY pmi DESC, bigram LIMIT 50
        """,
        "distribution_shift": """
            -- add-1 smoothed unigram KL/JS over the JOINT vocab; the
            -- per-term doubles are exact-integer ratios (identical in
            -- both engines); only the vocab-wide SUM is order-dependent
            -- → ROUND(6)
            WITH tok AS (
              SELECT unnest(list_filter(regexp_split_to_array(
                       lower(coalesce(text, '')), '[^a-z0-9]+'),
                       x -> x <> '')) AS token,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_p
              FROM documents
            ), counts AS (
              SELECT token, SUM(is_p) AS cp, SUM(1 - is_p) AS cq
              FROM tok GROUP BY token
            ), tot AS (
              SELECT SUM(cp) AS n_p, SUM(cq) AS n_q,
                     COUNT(*) AS vocab
              FROM counts
            ), per AS (
              SELECT n_p, n_q, vocab,
                     CAST(cp + 1 AS DOUBLE) / (n_p + vocab) AS pt,
                     CAST(cq + 1 AS DOUBLE) / (n_q + vocab) AS qt
              FROM counts, tot
            )
            SELECT CAST(n_p AS BIGINT) AS n_p,
                   CAST(n_q AS BIGINT) AS n_q,
                   CAST(vocab AS BIGINT) AS vocab,
                   ROUND(SUM(pt * ln(pt / qt)), 6) AS kl_pq,
                   ROUND(SUM(qt * ln(qt / pt)), 6) AS kl_qp,
                   ROUND(SUM(pt * ln(pt / ((pt + qt) / 2)) / 2
                           + qt * ln(qt / ((pt + qt) / 2)) / 2), 6) AS js
            FROM per GROUP BY n_p, n_q, vocab
        """,
        "html_extract": _html_extract_oracle(),
        "weighted_sample": """
            -- A-ES exponential keys: -ln((h+0.5)/2^60)/w, k smallest;
            -- identical double expression as the Spark side (ln last-ulp
            -- differences cannot flip md5-separated keys)
            SELECT doc_id, n_chars FROM (
              SELECT doc_id, n_chars,
                     -ln((CAST(CAST('0x' || substr(md5('ws:' ||
                          CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                          AS DOUBLE) + 0.5) / 1152921504606846976.0)
                       / CAST(n_chars AS DOUBLE) AS sk
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 0
            ) ORDER BY sk LIMIT 100
        """,
        "triangle_count": """
            -- degree-orientation triangle counting, BIGINT-only;
            -- SUM(deg)//2 keeps n_edges integer (DuckDB / would be DOUBLE)
            WITH e AS (
              SELECT event_id % 50 AS a,
                     (event_id * 7 + user_id) % 50 AS b
              FROM events
            ), und AS (
              SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
              FROM e WHERE a <> b
            ), deg AS (
              SELECT node, COUNT(*) AS deg FROM (
                SELECT u AS node FROM und
                UNION ALL SELECT v AS node FROM und
              ) GROUP BY node
            ), ori AS (
              SELECT CASE WHEN du.deg < dv.deg
                          OR (du.deg = dv.deg AND u < v)
                     THEN u ELSE v END AS s,
                     CASE WHEN du.deg < dv.deg
                          OR (du.deg = dv.deg AND u < v)
                     THEN v ELSE u END AS d
              FROM und
              JOIN deg du ON du.node = u
              JOIN deg dv ON dv.node = v
            ), wed AS (
              SELECT o1.d AS x, o2.d AS y
              FROM ori o1 JOIN ori o2 ON o1.s = o2.s AND o1.d < o2.d
            ), closing AS (
              SELECT LEAST(s, d) AS x, GREATEST(s, d) AS y FROM ori
            ), wt AS (
              SELECT COUNT(*) AS n_wedges,
                     COALESCE(SUM(CASE WHEN c.x IS NOT NULL
                                  THEN 1 ELSE 0 END), 0) AS n_triangles
              FROM wed LEFT JOIN closing c
                ON wed.x = c.x AND wed.y = c.y
            ), base AS (
              SELECT COUNT(*) AS n_nodes,
                     COALESCE(SUM(deg) // 2, 0) AS n_edges
              FROM deg
            )
            SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
                   CAST(n_edges AS BIGINT) AS n_edges,
                   CAST(n_wedges AS BIGINT) AS n_wedges,
                   CAST(n_triangles AS BIGINT) AS n_triangles
            FROM base, wt
        """,
        "url_filter": """
            -- planted URLs (same CASE as the Spark side), suffix-semantic
            -- blocklist via NOT EXISTS(= OR LIKE '%.'||d) — equivalent to
            -- the operator's per-depth anti-join chain for hosts ≤ 5
            -- labels (all planted hosts are); features from the SAME
            -- RE2-safe regexes. The PSL 3-label branch of
            -- registered_domain is pytest-covered, not planted here.
            WITH u AS (
              SELECT event_id,
                     CASE
                       WHEN event_id % 5 = 0 THEN
                         'https://spam.example.com/promo/' ||
                         CAST(user_id AS VARCHAR)
                       WHEN event_id % 5 = 1 THEN
                         'http://ads.tracker.net/px?u=' ||
                         CAST(user_id AS VARCHAR) || '&c=3'
                       WHEN event_id % 5 = 2 THEN
                         'https://docs.good.org/kb/a/b?q=1'
                       WHEN event_id % 5 = 3 THEN 'https://good.org/'
                       ELSE 'http://deep.x.ads.tracker.net/z'
                     END AS url
              FROM events
            ), f AS (
              SELECT event_id, url,
                     lower(regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host,
                     COALESCE(regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1),
                       '') AS path,
                     COALESCE(regexp_extract(url, '\\?([^#]*)', 1), '') AS q
              FROM u
            ), bl(domain) AS (
              VALUES ('tracker.net'), ('spam.example.com')
            ), kept AS (
              SELECT * FROM f WHERE NOT EXISTS (
                SELECT 1 FROM bl b
                WHERE f.host = b.domain OR f.host LIKE '%.' || b.domain
              )
            )
            SELECT event_id, host,
                   CASE WHEN len(string_split(host, '.')) <= 2 THEN host
                        ELSE array_to_string(
                          (string_split(host, '.'))[
                            len(string_split(host, '.')) - 1 :], '.')
                   END AS domain,
                   CAST(len(list_filter(string_split(path, '/'),
                        x -> x <> '')) AS BIGINT) AS path_depth,
                   CAST(CASE WHEN q = '' THEN 0
                        ELSE len(string_split(q, '&')) END AS BIGINT)
                     AS n_params,
                   CAST(CASE WHEN lower(url) LIKE 'https://%' THEN 1
                        ELSE 0 END AS BIGINT) AS is_https
            FROM kept
        """,
        "classifier_score": """
            -- hashed linear classifier: md5-bucketed unigram+bigram
            -- weights in [-1,1], position-ordered list_reduce LEFT FOLD
            -- (0.0 + v1 == v1 exactly, so the missing init is identity);
            -- same fold order as Spark's aggregate → bit-equal doubles
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(
                       lower(coalesce(text, '')), '[^a-z0-9]+'),
                       x -> x <> '') AS t
              FROM documents
            ), gr AS (
              SELECT doc_id,
                     t || CASE WHEN len(t) >= 2
                               THEN list_transform(range(1, len(t)),
                                      i -> t[i] || '_' || t[i + 1])
                               ELSE [] END AS gs
              FROM toks
            ), pos AS (
              SELECT doc_id, unnest(gs) AS g,
                     generate_subscripts(gs, 1) AS p
              FROM gr
            ), w AS (
              SELECT doc_id, p,
                     CAST(CAST('0x' || substr(md5('w:' || CAST(
                         CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)
                         % 4096 AS VARCHAR)), 1, 15) AS BIGINT) % 20001
                       - 10000 AS DOUBLE) / 10000 AS v
              FROM pos
            ), agg AS (
              SELECT doc_id,
                     list_reduce(list(v ORDER BY p), (a, b) -> a + b) AS s,
                     COUNT(*) AS n
              FROM w GROUP BY doc_id
            )
            SELECT t.doc_id,
                   CAST(COALESCE(a.n, 0) AS BIGINT) AS n_grams,
                   COALESCE(a.s / a.n, 0.0) AS score,
                   CAST(CASE WHEN COALESCE(a.s / a.n, 0.0) > 0.0
                        THEN 1 ELSE 0 END AS BIGINT) AS keep
            FROM toks t LEFT JOIN agg a USING (doc_id)
        """,
        "pagerank": _pagerank_oracle(),
        "inverted_search": _conjunctive_oracle(),
        "grouped_topk": """
            SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rnk,
                   o_orderkey, o_totalprice
            FROM (
              SELECT o_orderpriority, o_orderkey, o_totalprice,
                     ROW_NUMBER() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
              FROM orders WHERE o_totalprice IS NOT NULL
            ) WHERE rnk <= 3
        """,
        "seq_ngrams": """
            WITH g AS (
              SELECT event_type AS g0,
                     LEAD(event_type, 1) OVER w AS g1,
                     LEAD(event_type, 2) OVER w AS g2
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT g0, g1, g2, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM g WHERE g2 IS NOT NULL
            GROUP BY 1, 2, 3 ORDER BY cnt DESC, g0, g1, g2 LIMIT 20
        """,
        "bm25_topk": bm25_oracle_sql(_BM25_TERMS, k=10),
        "rate_anomaly": """
            WITH counts AS (
              SELECT event_type AS key, epoch_us(ts) // 3600000000 AS bucket,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            ), stats AS (
              SELECT key, bucket, n,
                CAST(COALESCE(COUNT(*) OVER f, 0) AS BIGINT) AS w,
                CAST(SUM(n) OVER f AS BIGINT) AS s,
                CAST(SUM(n*n) OVER f AS BIGINT) AS q
              FROM counts
              WINDOW f AS (PARTITION BY key ORDER BY bucket
                           ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
            ), scored AS (
              SELECT key, bucket, n, w,
                CASE WHEN w >= 8 AND w*q - s*s > 0
                     THEN CAST(w*n - s AS DOUBLE)
                          / sqrt(CAST(w*q - s*s AS DOUBLE)) END AS z
              FROM stats
            )
            SELECT key, bucket, n, w, z,
                   z IS NOT NULL AND abs(z) > 3.0 AS is_anomaly
            FROM scored
        """,
        "cdc_merge": """
            WITH ch AS (
              SELECT (event_id % 60) * 11 AS doc_id,
                     CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
                     ts, event_id, props AS text, event_type AS lang,
                     'cdc' AS source, CAST(length(props) AS BIGINT) AS n_chars
              FROM events
            ), latest AS (
              SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY ts DESC, event_id DESC) AS rn
                FROM ch) WHERE rn = 1
            )
            SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
                   CASE WHEN c.op IS NOT NULL THEN c.text ELSE b.text END AS text,
                   CASE WHEN c.op IS NOT NULL THEN c.lang ELSE b.lang END AS lang,
                   CASE WHEN c.op IS NOT NULL THEN c.source ELSE b.source END AS source,
                   CASE WHEN c.op IS NOT NULL THEN c.n_chars ELSE b.n_chars END AS n_chars
            FROM documents b FULL OUTER JOIN latest c USING (doc_id)
            WHERE NOT (c.op IS NOT NULL AND c.op = 'D')
        """,
        "hll_distinct": hll_union,
        "parse_extract": """
            SELECT event_id, event_type,
                   TRY_CAST(NULLIF(regexp_extract(props, '"k": (\\d+)', 1), '')
                       AS INT) AS k_val
            FROM events
        """,
        "route_fanout": f"""
            WITH routed AS (SELECT *, {ev_case} AS sink FROM events)
            SELECT sink,
                   COUNT(*) AS n_rows,
                   COUNT(DISTINCT user_id) AS n_users,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM routed WHERE sink IS NOT NULL GROUP BY sink
        """,
        "route_dropped": f"""
            WITH routed AS (SELECT {ev_case} AS sink FROM events)
            SELECT CAST(SUM(CASE WHEN sink IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped,
                   CAST(SUM(CASE WHEN sink IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS routed
            FROM routed
        """,
        "enrich_broadcast": """
            SELECT c_mktsegment,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
            FROM orders LEFT JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "enrich_anti": """
            SELECT COUNT(*) AS n_unmatched
            FROM orders
            WHERE o_custkey NOT IN (
                SELECT c_custkey FROM customer WHERE c_acctbal > 0)
        """,
        "agg_persink": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
                   COUNT(*) AS n_items
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2024-06-30 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "window_topk": """
            SELECT o_custkey, o_orderkey, rn FROM (
                SELECT o_custkey, o_orderkey,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
                FROM orders) WHERE rn <= 2
        """,
        "sessionize": """
            WITH g AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN LAG(ts) OVER w IS NULL
                              OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                                 > 1800 * 1000000
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
                SELECT user_id,
                       CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
                FROM g
            )
            SELECT user_id, MAX(session_id) AS n_sessions, COUNT(*) AS n_events
            FROM s GROUP BY user_id
        """,
        "windowed_agg": """
            SELECT strftime(time_bucket(INTERVAL '10 minutes', ts),
                            '%Y-%m-%d %H:%M:%S') AS win_start,
                   strftime(time_bucket(INTERVAL '10 minutes', ts)
                            + INTERVAL '10 minutes',
                            '%Y-%m-%d %H:%M:%S') AS win_end,
                   event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                       AS value_cents
            FROM events GROUP BY 1, 2, 3
        """,
        "grep_filter": """
            SELECT lang, COUNT(*) AS n_docs FROM documents
            WHERE position('spark' IN text) > 0 GROUP BY lang
        """,
        "tokenize_fields": """
            SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT)
                       AS n_fields,
                   COUNT(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "template_project": """
            WITH t AS (
              SELECT doc_id, source,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents)
            SELECT doc_id,
                   'src=' || source || ' f1=' || coalesce(toks[1], '')
                          || ' f2=' || coalesce(toks[2], '') AS rendered
            FROM t
        """,
        "doc_route": f"""
            WITH routed AS (SELECT *, {doc_case} AS sink FROM documents)
            SELECT sink, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
            FROM routed WHERE sink IS NOT NULL GROUP BY sink
        """,
        "dedup_exact": """
            SELECT COUNT(*) AS n_docs,
                   COUNT(DISTINCT md5(text)) AS n_unique,
                   CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dup_rows
            FROM documents
        """,
        "dedup_fingerprint": """
            WITH fp AS (
                SELECT doc_id,
                       md5(array_to_string(list_sort(list_distinct(
                           list_filter(string_split(lower(text), ' '), x -> x <> ''))),
                           ' ')) AS fingerprint
                FROM documents)
            SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
            FROM fp GROUP BY fingerprint HAVING COUNT(*) > 1
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
                SELECT e.vec_id,
                       list_cosine_similarity(
                           CAST(e.embedding AS DOUBLE[]),
                           CAST(q.qv AS DOUBLE[])) AS sim
                FROM embeddings e CROSS JOIN q
                WHERE e.vec_id <> 0)
            SELECT vec_id FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 10
        """,
        "ann_lsh_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id = 0),
            js AS (SELECT CAST(range AS INT) AS j FROM range(1, 11)),
            planted AS (
                SELECT CAST(200000 + j AS BIGINT) AS vec_id,
                       list_transform(q.qv,
                           (x, i) -> x * (1 + 0.002 * j * (1 - 2 * ((i - 1) % 2)))
                       ) AS embedding
                FROM q CROSS JOIN js),
            corpus AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                FROM embeddings
                UNION ALL SELECT vec_id, embedding FROM planted),
            scored AS (
                SELECT c.vec_id,
                       list_cosine_similarity(c.embedding, q.qv) AS sim
                FROM corpus c CROSS JOIN q WHERE c.vec_id <> 0)
            SELECT vec_id FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 10
        """,
        "ann_ivf_topk": """
            -- identical exact brute-force top-k as ann_lsh_topk: the IVF
            -- nprobe path must return the true top-10 (planted structure
            -- guarantees full recall; see q_ann_ivf_topk docstring)
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id = 0),
            js AS (SELECT CAST(range AS INT) AS j FROM range(1, 11)),
            planted AS (
                SELECT CAST(200000 + j AS BIGINT) AS vec_id,
                       list_transform(q.qv,
                           (x, i) -> x * (1 + 0.002 * j * (1 - 2 * ((i - 1) % 2)))
                       ) AS embedding
                FROM q CROSS JOIN js),
            corpus AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                FROM embeddings
                UNION ALL SELECT vec_id, embedding FROM planted),
            scored AS (
                SELECT c.vec_id,
                       list_cosine_similarity(c.embedding, q.qv) AS sim
                FROM corpus c CROSS JOIN q WHERE c.vec_id <> 0)
            SELECT vec_id FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 10
        """,
        "text_quality": """
            SELECT lang,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                   CAST(SUM(CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                       AS BIGINT)) AS BIGINT) AS total_tokens,
                   CAST(SUM(CASE WHEN position('the' IN text) > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS docs_with_stopword
            FROM documents GROUP BY lang
        """,
        "token_stats": """
            SELECT CAST(length(text) AS BIGINT) AS len_chars,
                   CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                       AS BIGINT) AS n_tokens,
                   doc_id
            FROM documents
        """,
        "template_missing_fields": """
            WITH t AS (
              SELECT doc_id, source,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents)
            SELECT doc_id,
                   'k=' || source || ' f5=' || coalesce(toks[5], '')
                        || ' f60=' || coalesce(toks[60], '') || '!' AS rendered
            FROM t
        """,
        "pack_unpack": """
            SELECT doc_id,
                   '[[system=' || source || '][server=' || lang
                   || '][filename=doc' || doc_id || '][offset=' || n_chars
                   || '][line=' || doc_id || ']]' AS packed,
                   source AS u_system,
                   CAST(n_chars AS BIGINT) AS u_offset
            FROM documents
        """,
        "set_ops": """
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND value > 100
            EXCEPT
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'error' AND value > 100
        """,
        "orderby_limit": """
            SELECT o_orderkey,
                   CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
        """,
        "date_rollup": """
            SELECT strftime(ts, '%Y%m%d') AS day,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events GROUP BY 1
        """,
        "key_cut": """
            SELECT source || '_' || lang AS route_key, COUNT(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "langid_quality": _langid_quality_sql(),
        "translate_charset": """
            SELECT doc_id, translate(text, 'aeiou', '     ') AS translated
            FROM documents
        """,
        "fields_strictly": """
            SELECT doc_id, n_chars FROM documents
            WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 12
        """,
        "embedding_neardup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.4
        """,
        "embedding_neardup_lsh": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), d AS (
              SELECT vec_id AS id, v FROM e
              UNION ALL
              SELECT vec_id + 100000 AS id,
                     list_transform(v,
                         (x, i) -> x * (1 + 0.02 * (1 - 2 * ((i - 1) % 2)))) AS v
              FROM e
            )
            SELECT a.id AS id_a, b.id AS id_b
            FROM d a JOIN d b ON a.id < b.id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.9
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(concat_ws('|',
                       substr(text, 1, 16),
                       substr(text, greatest(length(text) - 15, 1), 16),
                       CAST(length(text) AS VARCHAR),
                       md5(text))) AS fingerprint
            FROM documents
        """,
        "bpe_tokens": """
            SELECT doc_id,
                   CAST(list_sum(list_transform(
                       list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> ''),
                       w -> 1 + CAST(FLOOR((length(w) - 1) / 4.0) AS BIGINT)
                              + length(regexp_replace(w, '[\\w]', '', 'g'))))
                     AS BIGINT) AS bpe_tokens
            FROM documents
        """,
        "bpe_merge_tokens": _bpe_merge_tokens_oracle(),
        "skew_profile": """
            WITH c AS (
              SELECT user_id AS key, COUNT(*) AS n FROM events GROUP BY user_id
            ), t AS (SELECT SUM(n) AS total FROM c),
            -- order/limit on the NUMERIC key (the outer alias is VARCHAR,
            -- which would break count-ties lexicographically)
            top AS (
              SELECT key, n, total FROM c, t
              ORDER BY n DESC, key ASC LIMIT 20
            )
            SELECT CAST(key AS VARCHAR) AS key,
                   CAST(n AS BIGINT) AS n,
                   CAST((n * 1000000) // total AS BIGINT) AS ppm
            FROM top
        """,
        "profile_columns": """
            SELECT * FROM (
              SELECT 'event_id' AS "column", COUNT(*) AS n_rows,
                     CAST(COUNT(CASE WHEN event_id IS NULL THEN 1 END) AS BIGINT) AS n_null,
                     CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
                     CAST(MIN(event_id) AS VARCHAR) AS min_s,
                     CAST(MAX(event_id) AS VARCHAR) AS max_s
              FROM events
              UNION ALL
              SELECT 'user_id', COUNT(*),
                     CAST(COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS BIGINT),
                     CAST(COUNT(DISTINCT user_id) AS BIGINT),
                     CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
              FROM events
              UNION ALL
              SELECT 'event_type', COUNT(*),
                     CAST(COUNT(CASE WHEN event_type IS NULL THEN 1 END) AS BIGINT),
                     CAST(COUNT(DISTINCT event_type) AS BIGINT),
                     CAST(MIN(event_type) AS VARCHAR), CAST(MAX(event_type) AS VARCHAR)
              FROM events
            )
        """,
        "dup_spans": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents
            ), spans AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, greatest(len(t) - 7, 0) + 1),
                       i -> array_to_string(t[i:i+7], ' '))) AS s
              FROM toks
            ), dup AS (
              SELECT s FROM (
                SELECT s, COUNT(DISTINCT doc_id) AS df FROM spans GROUP BY s
              ) WHERE df >= 2
            ), per AS (
              SELECT spans.doc_id,
                     COUNT(*) AS n_spans,
                     SUM(CASE WHEN dup.s IS NOT NULL THEN 1 ELSE 0 END) AS n_dup_spans
              FROM spans LEFT JOIN dup ON spans.s = dup.s
              GROUP BY spans.doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(per.n_spans, 0) AS BIGINT) AS n_spans,
                   CAST(COALESCE(per.n_dup_spans, 0) AS BIGINT) AS n_dup_spans
            FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        """,
        "remove_dup_spans": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents
            ), spans AS (
              SELECT doc_id,
                     unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS pos,
                     unnest(list_transform(
                       range(1, greatest(len(t) - 7, 0) + 1),
                       i -> array_to_string(t[i:i+7], ' '))) AS s
              FROM toks
            ), dup AS (
              SELECT s FROM (
                SELECT s, COUNT(DISTINCT doc_id) AS df FROM spans GROUP BY s
              ) WHERE df >= 2
            ), covered AS (
              SELECT DISTINCT doc_id, tpos FROM (
                SELECT doc_id, unnest(range(pos, pos + 8)) AS tpos
                FROM spans SEMI JOIN dup USING (s)
              )
            ), tok_rows AS (
              SELECT doc_id,
                     unnest(range(1, len(t) + 1)) AS tpos,
                     unnest(t) AS tok
              FROM toks
            ), kept AS (
              SELECT tr.doc_id, tr.tpos, tr.tok
              FROM tok_rows tr ANTI JOIN covered c
                ON tr.doc_id = c.doc_id AND tr.tpos = c.tpos
            ), rebuilt AS (
              SELECT doc_id,
                     string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
                     COUNT(*) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(r.clean_text, '') AS clean_text,
                   CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept
            FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
        """,
        "shuffle_corpus": """
            WITH h AS (
              SELECT doc_id,
                     CAST(('0x' || substr(
                       md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 15))
                       AS BIGINT) AS sort_key
              FROM documents
            )
            SELECT doc_id,
                   CAST(sort_key // 144115188075855872 AS INT) AS shard,
                   sort_key
            FROM h ORDER BY sort_key, doc_id LIMIT 100
        """,
        "cube": """
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "set_intersect": """
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND value > 100
            INTERSECT
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'error' AND value > 100
        """,
        "percentiles": """
            SELECT event_type,
                   quantile_cont(value, 0.5) AS p50,
                   quantile_cont(value, 0.95) AS p95
            FROM events GROUP BY event_type
        """,
        "asof_join": """
            SELECT e.event_id, e.user_id,
                   strftime(o.o_orderdate, '%Y-%m-%d') AS matched_date
            FROM events e
            ASOF JOIN orders o
              ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        """,
        "range_join": """
            WITH bands(lo, hi, label) AS (
              VALUES (0.0, 50.0, 'low'), (50.0, 150.0, 'mid'),
                     (150.0, 10000.0, 'high')
            )
            SELECT label, COUNT(*) AS n_events,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events JOIN bands ON value >= lo AND value < hi
            GROUP BY label
        """,
        "pivot": """
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                   CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
            FROM events GROUP BY user_id
        """,
        "rollup": """
            SELECT o_orderstatus, o_orderpriority,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "parse_extract_pandas": """
            SELECT event_id,
                   TRY_CAST(NULLIF(regexp_extract(props, '"k": (\\d+)', 1), '')
                       AS INT) AS k_val
            FROM events
        """,
        "dedup_ngram_jaccard": _ngram_pairs_cte()
        + "SELECT doc_a, doc_b, n_common, jaccard FROM pairs",
        "dedup_keep_list": _ngram_pairs_cte()
        + """
            SELECT doc_b AS dup_doc, MIN(doc_a) AS keeper
            FROM pairs GROUP BY doc_b
        """,
        "top_terms": """
            SELECT term, COUNT(*) AS n FROM (
              SELECT unnest(list_filter(string_split(lower(text), ' '),
                            x -> x <> '')) AS term
              FROM documents)
            GROUP BY term ORDER BY n DESC, term ASC LIMIT 20
        """,
        "es_bulk_render": """
            WITH f AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents WHERE position('spark' IN text) > 0
            ), r AS (
              SELECT doc_id,
                     '{"id":' || doc_id || ',"f1":"' || coalesce(toks[1], '')
                       || '","f2":"' || coalesce(toks[2], '') || '"}' AS doc
              FROM f
            )
            SELECT CAST(FLOOR(doc_id / 50.0) AS BIGINT) AS batch_id,
                   COUNT(*) AS n_docs,
                   string_agg('{"index":{}}' || chr(10) || doc, chr(10)
                              ORDER BY doc_id) || chr(10) AS payload
            FROM r GROUP BY 1
        """,
        "multimodal_features": """
            WITH m AS (
              SELECT doc_id,
                     CASE doc_id % 3 WHEN 0 THEN 'image'
                                     WHEN 1 THEN 'audio'
                                     ELSE 'video' END AS kind,
                     CASE WHEN doc_id % 3 = 0 THEN
                       'GIF89a' || chr(CAST(16 + doc_id % 64 AS INT)) || chr(1)
                                || chr(CAST(16 + (doc_id * 7) % 64 AS INT)) || chr(1)
                                || text
                     ELSE text END AS payload
              FROM documents
            )
            SELECT doc_id AS media_id, kind,
                   CAST(octet_length(encode(payload)) AS BIGINT) AS n_bytes,
                   sha256(payload) AS sha256,
                   CASE WHEN kind = 'image'
                        THEN CAST(256 + 16 + doc_id % 64 AS INT) END AS width,
                   CASE WHEN kind = 'image'
                        THEN CAST(256 + 16 + (doc_id * 7) % 64 AS INT) END AS height,
                   CAST(NULL AS BIGINT) AS px_sum
            FROM m
            UNION ALL
            -- the PNG band: Spark really inflates + unfilters the planted
            -- PNG; this recomputes the planted pixel sum from the same
            -- closed form pixel(y,x,c) = (doc_id*31 + y*7 + x*3 + c) % 256
            SELECT doc_id + 1000000 AS media_id, 'image' AS kind,
                   CAST(NULL AS BIGINT) AS n_bytes,
                   CAST(NULL AS VARCHAR) AS sha256,
                   CAST(8 + doc_id % 24 AS INT) AS width,
                   CAST(8 + (doc_id * 5) % 24 AS INT) AS height,
                   (SELECT SUM((doc_id * 31 + (i // (w * 3)) * 7
                                + ((i // 3) % w) * 3 + i % 3) % 256)
                    FROM (SELECT 8 + doc_id % 24 AS w,
                                 8 + (doc_id * 5) % 24 AS h) dims,
                         unnest(range(0, dims.w * dims.h * 3)) AS u(i)
                   ) AS px_sum
            FROM documents
        """,
        "dedup_minhash": _minhash_sql(32),
        "minhash_lsh_pairs": _minhash_lsh_sql(32, 8),
        "incremental_neardup": _incremental_neardup_sql(32, 8),
        "hopping_window": """
            WITH e AS (
              SELECT event_type, value, epoch_us(ts) AS tu FROM events
            ), w AS (
              SELECT event_type, value,
                     unnest(range((tu - 1800000000) // 900000000 + 1,
                                  tu // 900000000 + 1)) AS k
              FROM e
            )
            SELECT CAST(k * 900 AS BIGINT) AS win_start,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                     AS value_cents
            FROM w GROUP BY 1, 2
        """,
        "scd2": """
            WITH o AS (
              SELECT user_id, event_type, ts, event_id,
                     lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS prev
              FROM events
            ), ch AS (
              SELECT user_id, event_type, ts, event_id FROM o
              WHERE prev IS NULL OR event_type <> prev
            )
            SELECT user_id,
                   event_type AS attr,
                   ts AS valid_from,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS valid_to,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) IS NULL
                     AS is_current
            FROM ch
        """,
        "cohort_retention": """
            WITH acts AS (
              SELECT DISTINCT user_id,
                     (epoch_us(ts) // 86400000000) // 7 AS w
              FROM events
            ), cohorts AS (
              SELECT user_id, MIN(w) AS cw FROM acts GROUP BY user_id
            )
            SELECT CAST(c.cw * 7 AS BIGINT) AS cohort_start_day,
                   CAST(a.w - c.cw AS BIGINT) AS bucket_offset,
                   CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
            FROM acts a JOIN cohorts c USING (user_id)
            GROUP BY 1, 2
        """,
        "funnel": """
            WITH t0 AS (
              SELECT user_id, MIN(ts) AS ts0 FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ), t1 AS (
              SELECT e.user_id, MIN(e.ts) AS ts1
              FROM events e JOIN t0 USING (user_id)
              WHERE e.event_type = 'click' AND e.ts > t0.ts0
                AND e.ts <= t0.ts0 + INTERVAL 86400 SECOND
              GROUP BY e.user_id
            ), t2 AS (
              SELECT e.user_id, MIN(e.ts) AS ts2
              FROM events e JOIN t1 USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > t1.ts1
                AND e.ts <= t1.ts1 + INTERVAL 86400 SECOND
              GROUP BY e.user_id
            ), u AS (SELECT DISTINCT user_id FROM events)
            SELECT u.user_id,
                   CAST((ts0 IS NOT NULL)::INT + (ts1 IS NOT NULL)::INT
                        + (ts2 IS NOT NULL)::INT AS BIGINT)
                     AS steps_reached,
                   ts0 AS first_step_ts,
                   COALESCE(ts2, ts1, ts0) AS last_reached_ts
            FROM u
            LEFT JOIN t0 USING (user_id)
            LEFT JOIN t1 USING (user_id)
            LEFT JOIN t2 USING (user_id)
        """,
        "session_windows": """
            WITH o AS (
              SELECT user_id, event_id, ts, props,
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS pts
              FROM events
            ), m AS (
              SELECT user_id, ts, props,
                     SUM(CASE WHEN pts IS NULL
                               OR ts - pts >= INTERVAL 30 MINUTE
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
              FROM o
            )
            SELECT user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(length(props)) AS BIGINT) AS chars
            FROM m GROUP BY user_id, sid
        """,
        "gapfill": """
            WITH got AS (
              SELECT event_type AS g,
                     epoch_us(ts) // 900000000 AS b,
                     CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                       AS c
              FROM events GROUP BY 1, 2
            ), rng AS (
              SELECT g, MIN(b) AS lo, MAX(b) AS hi FROM got GROUP BY g
            ), allb AS (
              SELECT g, unnest(range(lo, hi + 1)) AS b FROM rng
            ), j AS (
              SELECT allb.g, allb.b, got.c
              FROM allb LEFT JOIN got USING (g, b)
            ), w AS (
              SELECT g, b, c,
                     last_value(c IGNORE NULLS) OVER
                       (PARTITION BY g ORDER BY b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS vp,
                     last_value(CASE WHEN c IS NOT NULL THEN b END
                                IGNORE NULLS) OVER
                       (PARTITION BY g ORDER BY b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS bp,
                     first_value(c IGNORE NULLS) OVER
                       (PARTITION BY g ORDER BY b
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS vn,
                     first_value(CASE WHEN c IS NOT NULL THEN b END
                                 IGNORE NULLS) OVER
                       (PARTITION BY g ORDER BY b
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS bn
              FROM j
            )
            SELECT g AS event_type,
                   CAST(b * 900 AS BIGINT) AS bucket_start,
                   ROUND(CASE WHEN c IS NOT NULL THEN CAST(c AS DOUBLE)
                              ELSE vp + (vn - vp) * (b - bp)
                                   / CAST(bn - bp AS DOUBLE) END, 4)
                     AS value_cents,
                   c IS NULL AS filled
            FROM w
        """,
        "dsir_scores": """
            -- hashed unigram+bigram DSIR log-ratio; ln() == driver libm;
            -- per-doc sum is a position-ordered list_reduce LEFT FOLD
            -- (0.0 + v1 == v1, so the missing init changes nothing)
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents
            ), gr AS (
              SELECT doc_id,
                     t || CASE WHEN len(t) >= 2
                               THEN list_transform(range(1, len(t)),
                                      i -> array_to_string(t[i:i+1], ' '))
                               ELSE [] END AS gs
              FROM toks
            ), pos AS (
              SELECT doc_id, unnest(gs) AS g,
                     generate_subscripts(gs, 1) AS p
              FROM gr
            ), bk AS (
              SELECT doc_id, p,
                     CAST('0x' || substr(md5('dsir:' || g), 1, 15) AS BIGINT)
                       % 256 AS b
              FROM pos
            ), tc AS (
              SELECT b, COUNT(*) AS c FROM bk WHERE doc_id % 13 = 0 GROUP BY b
            ), rc AS (
              SELECT b, COUNT(*) AS c FROM bk GROUP BY b
            ), tt AS (
              SELECT ln(CAST(COALESCE(SUM(c), 0) + 256 AS DOUBLE)) AS lt FROM tc
            ), rt AS (
              SELECT ln(CAST(SUM(c) + 256 AS DOUBLE)) AS lr FROM rc
            ), term AS (
              SELECT bk.doc_id, bk.p,
                     (ln(CAST(COALESCE(tc.c, 0) + 1 AS DOUBLE)) - tt.lt)
                     - (ln(CAST(COALESCE(rc.c, 0) + 1 AS DOUBLE)) - rt.lr) AS v
              FROM bk
              LEFT JOIN tc ON bk.b = tc.b
              LEFT JOIN rc ON bk.b = rc.b
              CROSS JOIN tt CROSS JOIN rt
            ), agg AS (
              SELECT doc_id,
                     list_reduce(list(v ORDER BY p), (a, b) -> a + b) AS s,
                     COUNT(*) AS n
              FROM term GROUP BY doc_id
            )
            SELECT t.doc_id,
                   CAST(COALESCE(a.n, 0) AS BIGINT) AS n_grams,
                   COALESCE(ROUND(a.s, 4), 0.0) AS dsir_score
            FROM toks t LEFT JOIN agg a USING (doc_id)
        """,
        "dedup_simhash": _simhash_sql(16),
        "dedup_simhash_pairs": _simhash_pairs_sql(3, 16),
        "split_leak_check": """
            WITH sp AS (
              SELECT doc_id, text,
                     CASE
                       WHEN CAST('0x' || substr(md5('split:' ||
                            CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                            % 10000 < 5000 THEN 'train'
                       WHEN CAST('0x' || substr(md5('split:' ||
                            CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                            % 10000 < 8000 THEN 'val'
                       ELSE 'test'
                     END AS s
              FROM documents
            ), fp AS (
              SELECT md5(array_to_string(list_sort(list_distinct(
                       list_filter(string_split(lower(text), ' '),
                                   x -> x <> ''))), ' ')) AS fingerprint,
                     s
              FROM sp
            )
            SELECT fingerprint,
                   CAST(COUNT(DISTINCT s) AS BIGINT) AS n_splits,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   array_to_string(list_sort(list_distinct(list(s))), ',')
                     AS splits
            FROM fp GROUP BY fingerprint
            HAVING COUNT(DISTINCT s) > 1
        """,
        "corpus_diff": """
            WITH o AS (
              SELECT doc_id,
                     md5(array_to_string(list_sort(list_distinct(
                         list_filter(string_split(lower(text), ' '),
                                     x -> x <> ''))), ' ')) AS ofp
              FROM documents WHERE doc_id % 7 <> 1
            ), n AS (
              SELECT doc_id,
                     md5(array_to_string(list_sort(list_distinct(
                         list_filter(string_split(lower(
                           CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
                                ELSE text END), ' '),
                           x -> x <> ''))), ' ')) AS nfp
              FROM documents WHERE doc_id % 5 <> 0
            )
            SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        WHEN ofp <> nfp THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   ofp AS old_fingerprint,
                   nfp AS new_fingerprint
            FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        """,
        "quantile_buckets": """
            WITH hist AS (
              SELECT n_chars AS s, COUNT(*) AS c FROM documents
              WHERE n_chars IS NOT NULL GROUP BY n_chars
            ), tot AS (SELECT SUM(c) AS n FROM hist),
            cum AS (
              SELECT s, SUM(c) OVER (ORDER BY s) AS cc FROM hist
            ), bnd AS (
              SELECT i, MIN(s) AS b
              FROM (SELECT unnest(range(1, 10)) AS i), tot, cum
              WHERE cc >= (n * i + 9) // 10
              GROUP BY i
            )
            SELECT d.doc_id,
                   CAST(d.n_chars AS BIGINT) AS score,
                   CAST((SELECT COUNT(*) FROM bnd WHERE d.n_chars > b)
                        AS INT) AS bucket
            FROM documents d
        """,
        "incremental_dedup": """
            WITH fp AS (
              SELECT doc_id,
                     md5(array_to_string(list_sort(list_distinct(
                         list_filter(string_split(lower(text), ' '),
                                     x -> x <> ''))), ' ')) AS fingerprint
              FROM documents
            ), idx AS (
              SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 3 = 0
            ), batch AS (
              SELECT doc_id, fingerprint FROM fp WHERE doc_id % 3 <> 0
            ), win AS (
              SELECT fingerprint, MIN(doc_id) AS w
              FROM batch GROUP BY fingerprint
            )
            SELECT b.doc_id, b.fingerprint,
                   CASE WHEN i.fingerprint IS NOT NULL THEN 'dup_in_index'
                        WHEN b.doc_id <> w.w THEN 'dup_in_batch'
                        ELSE 'kept' END AS status
            FROM batch b
            JOIN win w ON b.fingerprint = w.fingerprint
            LEFT JOIN idx i ON b.fingerprint = i.fingerprint
        """,
        "bucketed_join": """
            SELECT o_orderkey AS orderkey,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS revenue_cents
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            GROUP BY o_orderkey
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS sum_base_cents,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                        * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                        * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT)
                     AS sum_charge_cents,
                   CAST(COUNT(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "tpch_q3": """
            SELECT l_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
                   o_orderpriority,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
              AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue_cents DESC, l_orderkey ASC LIMIT 10
        """,
        "tpch_q5": """
            SELECT n_name,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name IN ('EUROPE', 'ASIA')
              AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
            GROUP BY n_name
            ORDER BY revenue_cents DESC, n_name ASC
        """,
        "lead_lag": """
            SELECT event_id,
                   event_type,
                   LAG(CAST(FLOOR(value * 100) AS BIGINT))
                       OVER w AS prev_value_cents,
                   LEAD(CAST(FLOOR(value * 100) AS BIGINT))
                       OVER w AS next_value_cents,
                   epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS gap_us
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        """,
        "json_extract": """
            SELECT event_type,
                   CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT))
                        AS BIGINT) AS k_sum,
                   MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max
            FROM events
            GROUP BY event_type, k_bucket
        """,
        "dedup_components": _ngram_pairs_cte().replace(
            "WITH toks", "WITH RECURSIVE toks", 1
        )
        + """
        , chain AS (
          SELECT d.doc_id AS doc_a, e.doc_id AS doc_b
          FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 1
          WHERE d.doc_id % 10 < 3 OR d.doc_id < 120
        ), alledges AS (
          SELECT doc_a, doc_b FROM pairs
          UNION
          SELECT doc_a, doc_b FROM chain
        ), sym AS (
          SELECT doc_a AS a, doc_b AS b FROM alledges
          UNION
          SELECT doc_b, doc_a FROM alledges
        ), nodes AS (
          SELECT DISTINCT a AS n FROM sym
        ), reach(src, dst) AS (
          SELECT n, n FROM nodes
          UNION
          SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.dst
        )
        SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
        """,
        "neardup_keep_best": _ngram_pairs_cte().replace(
            "WITH toks", "WITH RECURSIVE toks", 1
        )
        + """
        , sym AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ), cnodes AS (
          SELECT DISTINCT a AS n FROM sym
        ), reach(src, dst) AS (
          SELECT n, n FROM cnodes
          UNION
          SELECT r.src, s.b FROM reach r JOIN sym s ON s.a = r.dst
        ), comp AS (
          SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
        ), lab AS (
          SELECT d.doc_id,
                 CAST(length(d.text) AS BIGINT) AS q,
                 CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        ), win AS (
          SELECT component, doc_id AS keep_id,
                 ROW_NUMBER() OVER (PARTITION BY component
                                    ORDER BY q DESC, doc_id ASC) AS rn
          FROM lab
        )
        SELECT l.doc_id, l.component, l.doc_id = w.keep_id AS keep
        FROM lab l
        JOIN (SELECT component, keep_id FROM win WHERE rn = 1) w
          ON l.component = w.component
        """,
        "quota_sample": """
            WITH ranked AS (
              SELECT lang, doc_id,
                     ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY CAST('0x' || substr(md5('quota:' ||
                                CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                                ASC, doc_id ASC
                     ) AS rn
              FROM documents
            )
            SELECT lang, doc_id FROM ranked WHERE rn <= 100
        """,
        "decontaminate": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents
            ), sh AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 7, 0) + 1),
                       i -> list_aggr(t[i:i+7], 'string_agg', ' ')))) AS g
              FROM toks WHERE len(t) >= 8
            ), ev AS (
              SELECT DISTINCT g FROM sh WHERE doc_id % 7 = 0
            ), ov AS (
              SELECT s.doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_shingles,
                     CAST(COUNT(e.g) AS BIGINT) AS n_overlap
              FROM sh s LEFT JOIN ev e ON s.g = e.g
              GROUP BY s.doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(o.n_shingles, 0) AS BIGINT) AS n_shingles,
                   CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
                   COALESCE(o.n_overlap, 0) >= 3 AS contaminated
            FROM documents d LEFT JOIN ov o ON d.doc_id = o.doc_id
            WHERE d.doc_id % 7 <> 0
        """,
        "mix_sample": """
            -- integer target parts over a common denominator (0.5/0.3/0.2
            -- -> 5/3/2 over 10): keep_g = min_j floor(n_j * p_g / p_j) is
            -- pure BIGINT arithmetic, mirroring mix_sample's Fraction math
            -- (floor commutes with min), so no float quota-boundary drift
            WITH t(g, p) AS (VALUES ('src0', 5), ('src1', 3), ('src2', 2)),
            c AS (
              SELECT source AS g, COUNT(*) AS n FROM documents
              WHERE source IN (SELECT g FROM t) GROUP BY source
            ),
            k AS (
              SELECT tg.g,
                     CAST(MIN((c.n * tg.p) // tj.p) AS BIGINT) AS keep_n
              FROM t tg CROSS JOIN t tj JOIN c ON c.g = tj.g
              GROUP BY tg.g
            ),
            ranked AS (
              SELECT source, doc_id,
                     ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY CAST('0x' || substr(md5('mix:' ||
                                CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                                ASC, doc_id ASC
                     ) AS rn
              FROM documents WHERE source IN (SELECT g FROM t)
            )
            SELECT r.source, r.doc_id FROM ranked r JOIN k ON k.g = r.source
            WHERE r.rn <= k.keep_n
        """,
        "temperature_mix": """
            -- keep_g = min_j floor(n_j * w_g / w_j) with w = floor(n^0.5
            -- * 1e6 + 0.5): POWER and CPython ** hit the same libm pow,
            -- and everything after the floor is BIGINT — no float drift
            WITH c AS (SELECT lang AS g, COUNT(*) AS n FROM documents GROUP BY lang),
            p AS (
              SELECT g, n,
                     CAST(FLOOR(POWER(CAST(n AS DOUBLE), 0.5) * 1e6 + 0.5)
                          AS BIGINT) AS w
              FROM c
            ),
            k AS (
              SELECT pg.g, CAST(MIN((pj.n * pg.w) // pj.w) AS BIGINT) AS keep_n
              FROM p pg CROSS JOIN p pj GROUP BY pg.g
            ),
            ranked AS (
              SELECT lang, doc_id,
                     ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY CAST('0x' || substr(md5('tmix:' ||
                                CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                                ASC, doc_id ASC
                     ) AS rn
              FROM documents
            )
            SELECT r.lang, r.doc_id FROM ranked r JOIN k ON k.g = r.lang
            WHERE r.rn <= k.keep_n
        """,
        "unigram_logprob": """
            -- unigram LM over the whole corpus, top-20 vocab; the per-doc
            -- sum is a position-ordered list_reduce LEFT FOLD, mirroring
            -- Spark's F.aggregate over the token array (0.0 + x1 == x1,
            -- so the missing initial element changes nothing); ln() here
            -- and math.log in the Spark driver are the same libm
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents
            ),
            tok AS (SELECT unnest(t) AS tok FROM toks),
            cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
            tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
            vocab AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok ASC LIMIT 20),
            pos AS (
              SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p
              FROM toks
            ),
            lp AS (
              SELECT pos.doc_id, pos.p,
                     COALESCE(ln(CAST(v.c AS DOUBLE)), 0.0)
                       - ln(CAST(tot.n AS DOUBLE)) AS lnp,
                     CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
              FROM pos LEFT JOIN vocab v ON pos.tok = v.tok CROSS JOIN tot
            ),
            agg AS (
              SELECT doc_id,
                     list_reduce(list(lnp ORDER BY p), (a, b) -> a + b) AS s,
                     COUNT(*) AS nt,
                     SUM(oov) AS no
              FROM lp GROUP BY doc_id
            )
            SELECT t.doc_id,
                   CAST(COALESCE(a.nt, 0) AS BIGINT) AS n_tokens,
                   CAST(COALESCE(a.no, 0) AS BIGINT) AS n_oov,
                   ROUND(a.s / a.nt, 4) AS avg_logprob
            FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
        """,
        "dedup_lines": """
            -- plant multi-line docs exactly as the Spark query does
            -- (buckets of 5 consecutive doc_ids; shared BANNER k / END
            -- lines; blank line kept), then the C4 line-dedup rule:
            -- trimmed non-blank lines in >= 2 distinct docs are removed
            WITH g AS (
              SELECT CAST(FLOOR(doc_id / 5.0) AS BIGINT) AS b,
                     string_agg(text, chr(10) ORDER BY doc_id) AS body
              FROM documents GROUP BY 1
            ),
            synth AS (
              SELECT b,
                     'BANNER ' || CAST(b % 3 AS VARCHAR) || chr(10) || chr(10)
                       || body || chr(10) || 'END' AS text
              FROM g
            ),
            lt AS (
              SELECT b,
                     generate_subscripts(string_split(text, chr(10)), 1) AS pos,
                     unnest(string_split(text, chr(10))) AS raw
              FROM synth
            ),
            dup AS (
              SELECT line FROM (
                SELECT DISTINCT b, trim(raw) AS line FROM lt WHERE trim(raw) <> ''
              ) GROUP BY line HAVING COUNT(*) >= 2
            ),
            reb AS (
              SELECT lt.b,
                     string_agg(lt.raw, chr(10) ORDER BY lt.pos) AS clean_text,
                     COUNT(*) AS n_kept
              FROM lt LEFT JOIN dup ON trim(lt.raw) = dup.line
              WHERE dup.line IS NULL GROUP BY lt.b
            )
            SELECT s.b AS doc_id,
                   COALESCE(r.clean_text, '') AS clean_text,
                   CAST(len(string_split(s.text, chr(10))) AS BIGINT) AS n_lines,
                   CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept
            FROM synth s LEFT JOIN reb r ON r.b = s.b
        """,
        "chunk_documents": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents
            ), st AS (
              SELECT doc_id, t,
                     unnest(range(1, greatest(len(t), 1) + 1, 24)) AS s,
                     generate_subscripts(range(1, greatest(len(t), 1) + 1, 24), 1) - 1
                       AS chunk_idx
              FROM toks
            )
            SELECT doc_id,
                   CAST(chunk_idx AS INT) AS chunk_idx,
                   CAST(len(t[s:s+31]) AS BIGINT) AS n_tokens,
                   list_aggr(t[s:s+31], 'string_agg', ' ') AS chunk_text
            FROM st WHERE len(t[s:s+31]) > 0
        """,
        "pii_redact": r"""
            WITH t AS (
              SELECT event_id,
                CASE
                  WHEN event_id % 4 = 0 THEN 'contact u' || CAST(user_id AS VARCHAR)
                       || '@example.com or admin@host.org for help'
                  WHEN event_id % 4 = 1 THEN 'login from 10.'
                       || CAST(user_id % 256 AS VARCHAR) || '.'
                       || CAST(event_id % 256 AS VARCHAR) || '.7 ok'
                  WHEN event_id % 4 = 2 THEN 'call +1 555 01'
                       || lpad(CAST(event_id % 100 AS VARCHAR), 2, '0')
                       || ' re u' || CAST(user_id AS VARCHAR)
                       || '@example.com at 192.168.0.'
                       || CAST(user_id % 256 AS VARCHAR)
                  ELSE 'no contact info here'
                END AS text
              FROM events
            )
            SELECT event_id,
              len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
              len(regexp_extract_all(text,
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
              len(regexp_extract_all(text,
                  '\+\d{1,3}([- ]?\d{2,4}){2,3}')) AS n_phones,
              regexp_replace(regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                '\+\d{1,3}([- ]?\d{2,4}){2,3}', '<PHONE>', 'g') AS text_redacted
            FROM t
        """,
        "repetition_stats": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM documents
            ), g AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 2
                          THEN list_transform(range(1, len(t)),
                                              i -> list_aggr(t[i:i+1], 'string_agg', ' '))
                          ELSE [] END AS grams
              FROM toks
            ), ex AS (
              SELECT doc_id, unnest(grams) AS gr FROM g
            ), cnt AS (
              SELECT doc_id, gr, COUNT(*) AS c FROM ex GROUP BY doc_id, gr
            ), agg AS (
              SELECT doc_id,
                     CAST(SUM(c) AS BIGINT) AS n_grams,
                     CAST(COUNT(*) AS BIGINT) AS n_distinct,
                     CAST(MAX(c) AS BIGINT) AS top_count
              FROM cnt GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(COALESCE(a.n_distinct, 0) AS BIGINT) AS n_distinct,
                   CAST(COALESCE(a.top_count, 0) AS BIGINT) AS top_count
            FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        """,
        "hash_split": """
            SELECT doc_id,
                   CASE
                     WHEN CAST('0x' || substr(md5('split:' ||
                          CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                          % 10000 < 9800 THEN 'train'
                     WHEN CAST('0x' || substr(md5('split:' ||
                          CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                          % 10000 < 9900 THEN 'val'
                     ELSE 'test'
                   END AS split
            FROM documents
        """,
        "corpus_filter": """
            WITH s AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     len(list_filter(string_split(text, ' '),
                         x -> x <> '')) AS n_tokens,
                     CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                          AS DOUBLE) / greatest(length(text), 1) AS alpha_ratio
              FROM documents
            ), r AS (
              SELECT doc_id,
                     CASE
                       WHEN n_chars < 100 THEN 'too_short'
                       WHEN n_chars > 500 THEN 'too_long'
                       WHEN n_tokens < 20 THEN 'too_few_tokens'
                       WHEN CAST(n_chars AS DOUBLE) / greatest(n_tokens, 1)
                            < 2.0 THEN 'tokens_too_short'
                       WHEN CAST(n_chars AS DOUBLE) / greatest(n_tokens, 1)
                            > 12.0 THEN 'tokens_too_long'
                       WHEN alpha_ratio < 0.5 THEN 'low_alpha_ratio'
                     END AS drop_reason
              FROM s
            )
            SELECT doc_id, drop_reason IS NULL AS keep, drop_reason FROM r
        """,
        "sequence_pack": """
            WITH RECURSIVE base AS (
              SELECT doc_id,
                     CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                          1, 15) AS BIGINT) % 8 AS INT) AS shard,
                     CAST(len(list_filter(string_split(lower(text), ' '),
                          x -> x <> '')) AS INT) AS n_tokens
              FROM documents
            ), seq AS (
              SELECT *, row_number() OVER (PARTITION BY shard
                                           ORDER BY doc_id) AS rn
              FROM base WHERE n_tokens >= 1
            ), rec AS (
              SELECT shard, rn, doc_id, n_tokens,
                     CAST(0 AS BIGINT) AS seq_id, n_tokens AS fill
              FROM seq WHERE rn = 1
              UNION ALL
              SELECT s.shard, s.rn, s.doc_id, s.n_tokens,
                     CASE WHEN r.fill + s.n_tokens > 512
                          THEN r.seq_id + 1 ELSE r.seq_id END,
                     CASE WHEN r.fill + s.n_tokens > 512
                          THEN s.n_tokens ELSE r.fill + s.n_tokens END
              FROM rec r JOIN seq s ON s.shard = r.shard AND s.rn = r.rn + 1
            )
            SELECT doc_id, shard, n_tokens,
                   shard * 1099511627776 + seq_id AS pack_id
            FROM rec
        """,
    }
