"""As-of and range joins — custom operators Spark lacks natively.

Not present in the reference (it has no joins at all, SURVEY §2.5), but
first-class citizens of a telemetry/transcript engine: "join each event to
the most recent dimension state at its timestamp" (as-of) and "join a
measure to its bucket" (range).

As-of is built as a composition of existing DataFrame ops — the union
trick — rather than a UDF:

  1. tag left rows (probe) and right rows (state) and union them on
     (key, ts), carrying the right payload as one nullable struct;
  2. one window per key ordered by (ts, tag): `last(payload,
     ignorenulls=True)` propagates the latest state at-or-before each row;
  3. keep probe rows; inner-drop the ones with no state yet.

Cost model at scale: ONE shuffle of |L|+|R| rows by key + a per-key sort —
the same price as a sort-merge join, no range explosion, no UDF. Keys are
users/conversations so per-key row counts are bounded; a pathologically
hot key would use the same salting defense as the pipeline (salt, window,
re-merge), not needed at current skew.

Range join against a small bands table is a broadcast nested-loop with a
BETWEEN condition — the right plan when |bands| is tiny; a big right side
would want bucketing both sides to equi-join on overlapping bucket ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    how: str = "inner",
) -> DataFrame:
    """For each left row: the right row with the greatest ``right_ts`` ≤
    ``left_ts`` within the same key (backward as-of). ``right_payload``
    columns are appended; ``how='left'`` keeps unmatched probe rows."""
    r_struct_type = (
        "struct<_m:boolean,"
        + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_payload)
        + ">"
    )
    l_tag = left.select(
        F.col(left_key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_probe"),
        F.struct(*left.columns).alias("_l"),
        F.lit(None).cast(r_struct_type).alias("_r"),
    )
    # `_m` marks "this is a real state row": match detection must not look
    # at payload values (a matched state row may legitimately carry NULLs)
    r_tag = right.select(
        F.col(right_key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_probe"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in left.schema.fields) + ">"
        ).alias("_l"),
        F.struct(F.lit(True).alias("_m"), *right_payload).alias("_r"),
    )
    unioned = l_tag.unionByName(r_tag)
    # state rows sort before probe rows at equal ts → '>=' semantics
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), F.col("_is_probe").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = unioned.withColumn("_state", F.last("_r", ignorenulls=True).over(w))
    out = matched.filter(F.col("_is_probe") == 1)
    if how == "inner":
        out = out.filter(F.col("_state._m"))
    return out.select("_l.*", *[F.col(f"_state.{c}").alias(c) for c in right_payload])


def range_join(
    facts: DataFrame,
    bands: DataFrame,
    value_col: str,
    how: str = "inner",
) -> DataFrame:
    """Join each fact row to the band where lo ≤ value < hi. Bands are
    broadcast (tiny by construction).

    ``bands``: (``lo``, ``hi``, ...)."""
    cond = (F.col(value_col) >= F.col("lo")) & (F.col(value_col) < F.col("hi"))
    return facts.join(F.broadcast(bands), on=cond, how=how)


def gapfill_interpolate(events: DataFrame, interval_s: int = 900) -> DataFrame:
    """Time-bucket gap-filling with linear interpolation — the
    hypertable/metrics staple (`time_bucket_gapfill` + `interpolate`):
    aggregate a measure into fixed time buckets per group, then fill
    every EMPTY bucket between a group's first and last observation by
    linear interpolation between its nearest non-empty neighbors.
    Dashboards and training-rate monitors need the dense series; gaps
    otherwise render as zeros (wrong) or holes (break downstream diffs).

    Returns (group, bucket_start, value_cents, filled): bucket_start the
    epoch-second bucket origin; value_cents the exact integer-cents SUM
    for present buckets, the interpolated value for filled ones (as a
    4-decimal double either way); filled marks interpolated rows.

    Engine-exactness: present buckets sum FLOOR(value·100) as BIGINT
    (associative — partial aggregation cannot reorder doubles);
    interpolation runs on those exact integers in one deterministic
    double expression per row, then rounds — no parallel double math
    anywhere.

    100 TB shape: the raw-event pass is ONE map-combinable
    groupBy(group, bucket); everything after runs on BUCKET rows, whose
    count is bounded by (time span / interval) per group — a property of
    the calendar, not the data. The per-group ordered windows scan that
    bounded series, so a trillion-event group costs the same as a
    thousand-event one past the first aggregation.

    ``events``: (``event_type``, ``ts``, ``value``)."""
    from pyspark.sql import Window

    b = F.floor(
        F.unix_timestamp(F.col("ts").cast("timestamp")) / interval_s
    ).cast("long")
    got = (
        events.groupBy(F.col("event_type").alias("g"), b.alias("b"))
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("c")
        )
    )
    rng = got.groupBy("g").agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
    allb = rng.select(
        "g", F.explode(F.sequence("lo", "hi")).alias("b")
    )
    j = allb.join(got, ["g", "b"], "left")
    back = Window.partitionBy("g").orderBy("b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fwd = Window.partitionBy("g").orderBy("b").rowsBetween(
        0, Window.unboundedFollowing
    )
    present_b = F.when(F.col("c").isNotNull(), F.col("b"))
    vp = F.last("c", ignorenulls=True).over(back)
    bp = F.last(present_b, ignorenulls=True).over(back)
    vn = F.first("c", ignorenulls=True).over(fwd)
    bn = F.first(present_b, ignorenulls=True).over(fwd)
    interp = vp + (vn - vp) * (F.col("b") - bp) / (bn - bp)
    return j.select(
        F.col("g").alias("event_type"),
        (F.col("b") * interval_s).cast("long").alias("bucket_start"),
        F.round(
            F.when(F.col("c").isNotNull(), F.col("c").cast("double")).otherwise(
                interp
            ),
            4,
        ).alias("value_cents"),
        F.col("c").isNull().alias("filled"),
    )


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    window_s: int = 86400,
) -> DataFrame:
    """Ordered funnel conversion — the product-analytics staple (view →
    click → purchase): for every key, how far through the ordered step
    list did they get, where step i counts only if it happens STRICTLY
    after step i-1's completion time and within ``window_s`` seconds of
    it. Completion time of a step = the EARLIEST qualifying event (the
    standard first-touch rule, which also makes the result
    order-deterministic: MIN is well-defined under ties).

    Returns one row per key seen in ``events``: (key, steps_reached,
    first_step_ts, last_reached_ts) — 0/NULL/NULL for keys that never
    performed the first step.

    100 TB shape: NO per-key event arrays and no windows — k chained
    (filter → min-aggregate → key-join) passes, each map-combinable and
    each joining against a step table that only SHRINKS (conversion
    funnels monotonically narrow, so later joins are broadcast-sized in
    practice); k is the funnel length, a constant. This beats the
    collect-per-user fold whenever one user can hold millions of events.

    ``events``: (``user_id``, ``event_type``, ``ts``)."""
    if not steps:
        raise ValueError("funnel_steps: steps must be non-empty")
    prev = None
    step_ts = []
    for i, st in enumerate(steps):
        f = events.filter(F.col("event_type") == st).select(
            F.col("user_id").alias("_k"), F.col("ts").alias("_t")
        )
        if i == 0:
            s = f.groupBy("_k").agg(F.min("_t").alias("_t0"))
        else:
            s = (
                f.join(prev.select("_k", f"_t{i - 1}"), "_k")
                .filter(
                    (F.col("_t") > F.col(f"_t{i - 1}"))
                    & (
                        F.col("_t")
                        <= F.col(f"_t{i - 1}")
                        + F.expr(f"INTERVAL {window_s} SECOND")
                    )
                )
                .groupBy("_k")
                .agg(F.min("_t").alias(f"_t{i}"))
            )
        prev = s
        step_ts.append(s)
    out = events.select(F.col("user_id").alias("_k")).distinct()
    for s in step_ts:
        out = out.join(s, "_k", "left")
    reached = sum(
        (F.col(f"_t{i}").isNotNull().cast("long") for i in range(len(steps))),
        F.lit(0).cast("long"),
    )
    last_ts = F.coalesce(
        *[F.col(f"_t{i}") for i in reversed(range(len(steps)))]
    )
    return out.select(
        F.col("_k").alias("user_id"),
        reached.alias("steps_reached"),
        F.col("_t0").alias("first_step_ts"),
        last_ts.alias("last_reached_ts"),
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Cohort retention — funnel analysis's sibling and the other
    product-analytics staple: group keys by their first-activity bucket
    (the cohort), then count how many of each cohort are still active
    0, 1, 2, … buckets later. Buckets are epoch-day // 7
    (pure integer arithmetic — engine-exact, no ISO-week calendar
    ambiguity).

    Returns (cohort_start_day, bucket_offset, n_users): epoch-day of
    the cohort bucket's start, offset in buckets (0 = the cohort's own
    bucket, always its full size), distinct active keys.

    100 TB shape: activity collapses to DISTINCT (key, bucket) first —
    the only pass over raw events, map-side partial distinct; cohorts
    are a key-keyed MIN agg; the retention matrix is one
    groupBy(cohort, offset) COUNT DISTINCT over the already-collapsed
    activity rows. Output is |cohorts| × |offsets| — calendar-bounded,
    tiny.

    ``events``: (``user_id``, ``ts``)."""
    day = F.floor(
        F.unix_timestamp(F.col("ts").cast("timestamp")) / 86400
    ).cast("long")
    wk = F.floor(day / 7).cast("long")
    acts = (
        events.select(F.col("user_id").alias("_k"), wk.alias("_w")).distinct()
    )
    cohorts = acts.groupBy("_k").agg(F.min("_w").alias("_cw"))
    return (
        acts.join(cohorts, "_k")
        .groupBy(
            (F.col("_cw") * 7).alias("cohort_start_day"),
            (F.col("_w") - F.col("_cw")).alias("bucket_offset"),
        )
        .agg(F.countDistinct("_k").alias("n_users"))
    )


def rate_anomaly(
    events: DataFrame,
    interval_s: int = 3600,
    trailing: int = 24,
    min_points: int = 8,
    threshold: float = 3.0,
) -> DataFrame:
    """Event-rate anomaly detection: z-score of each time bucket's count
    against the TRAILING ``trailing`` observed buckets of the same key
    (frame excludes the current row, so a spike can't mask itself).

    Returns (key, bucket, n, w, z, is_anomaly): ``w`` the number of
    trailing buckets actually present (series head has fewer), ``z``
    NULL until ``min_points`` of history exist or when the trailing
    window is constant (zero variance).

    Cross-engine exactness: the trailing sums S = Σn and Q = Σn² are
    INTEGER window aggregates (no float accumulation order to disagree
    on), and the population z-score folds into the single expression

        z = (w·n − S) / sqrt(w·Q − S²)

    — one IEEE division and one IEEE sqrt (both correctly rounded), so
    the DuckDB oracle matches bit for bit. Integer overflow bound:
    w·Q ≤ 2⁶³ holds while per-bucket counts stay under ~6·10⁸ at the
    default trailing=24 — beyond that, widen to DECIMAL.

    100 TB shape: the heavy reduction (raw events → per-bucket counts)
    is a partial+final hash aggregate; the window then runs over the
    BUCKETED series — one row per interval per key, calendar-bounded
    (8 760 rows/key/year at hourly grain) no matter how many trillions
    of raw events fed it. Key cardinality, not corpus size, sets the
    window parallelism.

    ``events``: (``event_type``, ``ts``)."""
    bucket = F.floor(
        F.unix_timestamp(F.col("ts").cast("timestamp")) / interval_s
    ).cast("long")
    counts = (
        events.groupBy(F.col("event_type").alias("key"), bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    frame = (
        Window.partitionBy("key").orderBy("bucket").rowsBetween(-trailing, -1)
    )
    s = F.sum("n").over(frame)
    q = F.sum(F.col("n") * F.col("n")).over(frame)
    w = F.count(F.lit(1)).over(frame)
    with_stats = counts.select(
        "key",
        "bucket",
        "n",
        F.coalesce(w, F.lit(0)).cast("long").alias("w"),
        s.alias("_s"),
        q.alias("_q"),
    )
    var_num = F.col("w") * F.col("_q") - F.col("_s") * F.col("_s")
    z = (
        (F.col("w") * F.col("n") - F.col("_s")).cast("double")
        / F.sqrt(var_num.cast("double"))
    )
    z_guarded = F.when(
        (F.col("w") >= min_points) & (var_num > 0), z
    )
    return with_stats.select(
        "key",
        "bucket",
        "n",
        "w",
        z_guarded.alias("z"),
        (z_guarded.isNotNull() & (F.abs(z_guarded) > F.lit(threshold))).alias(
            "is_anomaly"
        ),
    )


def transition_matrix(events: DataFrame) -> DataFrame:
    """First-order Markov transition counts over per-key event sequences:
    (src, dst, n, ppm) where ppm is the integer parts-per-million share
    of transitions leaving ``src`` (integer division — float-free, so
    any engine mirrors it exactly). The standard behavioral-analytics
    companion to :func:`funnel_steps`: the funnel checks ONE ordered
    path, this measures ALL adjacent-step flows at once.

    100 TB shape: one shuffle by key + per-key sort for the lead()
    pairing (same price as sessionize/scd2), then a partial+final hash
    aggregate on (src, dst) — output is |states|², tiny. The per-src
    totals re-aggregate from the already-collapsed (src, dst) counts,
    never from raw events.

    ``events``: (``user_id``, ``event_type``, ``ts``, ``event_id``)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            F.col("user_id"),
            F.col("event_type").alias("src"),
            F.col("ts"),
            F.col("event_id"),
        )
        .withColumn("dst", F.lead("src").over(w))
        .where(F.col("dst").isNotNull())
    )
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("src").agg(F.sum("n").alias("_tot"))
    return (
        counts.join(F.broadcast(totals), "src")
        .select(
            "src",
            "dst",
            F.col("n").cast("long").alias("n"),
            F.expr("(n * 1000000) div _tot").cast("long").alias("ppm"),
        )
    )


def scd2_intervals(events: DataFrame) -> DataFrame:
    """Build a slowly-changing-dimension (SCD type 2) history from an
    event stream: per key, collapse consecutive events with the SAME
    attribute value into one validity interval, opening a new interval
    at each change. This is the producer side of :func:`asof_join` /
    :func:`range_join` — the dimension table they probe is exactly this
    output.

    Returns (key, attr, valid_from, valid_to, is_current): valid_from
    the first event ts carrying the value, valid_to the next change's
    ts (exclusive, NULL while current). Ordering ties on ``ts`` break
    by ``event_id`` so the history is deterministic.

    100 TB shape: ONE shuffle by key + per-key sort (the same price as
    the as-of join itself); change detection and interval close are
    lag/lead over that sort — no self-join, no state. Per-key row
    counts are bounded by key activity, with the pipeline's standard
    salting defense if a key is pathologically hot.

    ``events``: (``user_id``, ``event_type``, ``ts``, ``event_id``)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        events.select("user_id", "event_type", "ts", "event_id")
        .withColumn("_prev", F.lag("event_type").over(w))
        .filter(
            F.col("_prev").isNull() | (F.col("event_type") != F.col("_prev"))
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        changed.withColumn("_to", F.lead("ts").over(w2))
        .select(
            F.col("user_id"),
            F.col("event_type").alias("attr"),
            F.col("ts").alias("valid_from"),
            F.col("_to").alias("valid_to"),
            F.col("_to").isNull().alias("is_current"),
        )
    )


def sequence_ngrams(events: DataFrame, n: int = 3, top_k: int = 20) -> DataFrame:
    """Top sequential n-gram patterns over per-key ordered event streams:
    the ``n``-step generalization of :func:`transition_matrix` (which is
    the n=2 row of this). Returns (g0..g{n-1}, cnt) for the ``top_k`` most
    frequent length-``n`` state runs, ordered by (cnt DESC, g0..g{n-1} ASC)
    — "which tool-call / event chains dominate the transcripts".

    100 TB shape: the lead() chain rides ONE shuffle by key + per-key sort
    (the same exchange sessionize/scd2/transition_matrix already pay — in
    a real pipeline these share it), the gram counts collapse in a partial
    +final hash aggregate keyed on at most |states|^n values, and top_k is
    TakeOrderedAndProject (per-partition heap, never a global sort).

    ``events``: (``user_id``, ``event_type``, ``ts``, ``event_id``)."""
    if n < 2:
        raise ValueError(f"n must be >= 2: {n}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1: {top_k}")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    grams = events.select(
        F.col("event_type").alias("g0"),
        *[
            F.lead("event_type", i).over(w).alias(f"g{i}")
            for i in range(1, n)
        ],
    ).where(F.col(f"g{n-1}").isNotNull())
    gram_cols = [f"g{i}" for i in range(n)]
    return (
        grams.groupBy(*gram_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(
            F.col("cnt").desc(), *[F.col(c).asc() for c in gram_cols]
        )
        .limit(top_k)
    )
