"""Sink writers — one per reference output plugin (SURVEY §2.3).

Endpoints that exist in the sandbox (files) are fully functional; network
sinks (Kafka/ES/TCP) are split into a *render/plan* half that is pure
DataFrame code (tested) and a *transport* half behind builders or seams.

| here | reference plugin |
|---|---|
| write_partitioned_by_key | logpipe-output-file merge-by-filename append (`logpipe-output-file.c:208-395`) |
| write_date_partitioned | logpipe-output-hdfs day dirs (`logpipe-output-hdfs.c:195-213,270-296`) |
| render_es_bulk | logpipe-output-es: grep → translate → tokenize → `$N` template → 4 MB `/_bulk` batching (`logpipe-output-es.c:543-596,610-661,464-517`) |
| kafka_sink_writer | logpipe-output-kafka produce (`logpipe-output-kafka.c:259,298`) |
| console_sink | logpipe-output-stdout (`logpipe-output-stdout.c:31-38`) |
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from logpipe_spark.functions.text import template_nsub, tokenize, translate_charset


def write_partitioned_by_key(
    df: DataFrame, path: str, key_col: str = "conv_id", mode: str = "append",
    max_records_per_file: int | None = None,
) -> None:
    """Merge-by-key file sink: all rows of a key land under one partition
    dir (the reference's append-to-same-filename semantics; ordering is by
    (conv_id, turn_idx) at read time, not arrival time).

    ``max_records_per_file`` is the size-rotation analogue
    (`logpipe-output-file.c:160-205` rotates at a byte threshold): a task
    rolls to a new file within the partition dir when the cap is hit, so
    one hot key never produces an unboundedly large single file."""
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.partitionBy(key_col).parquet(path)


def write_text_lines(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
) -> None:
    """Byte-faithful line sink — the reference's CORE contract: every
    collected line is forwarded verbatim into the destination file
    (`logpipe-output-file.c:208-286` appends the block bytes unchanged).
    Writes the raw ``text`` column as newline-delimited text, one
    directory per partition value (e.g. sink), overwriting ``path``.

    Byte-faithfulness caveat, stated rather than hidden: the text source/
    sink round-trips LINES — a payload containing '\\n' would split on
    read-back (the reference has the same property: it frames ON
    newlines, `logpipe-input-file.c` line framing). Order within a file
    follows task row order; global order is by read-time ORDER BY, same
    as the parquet sinks (SURVEY §7.3)."""
    out = df.select(
        *[F.col(c) for c in (partition_cols or [])],
        F.col("text").alias("value"),
    )
    w = out.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.text(path)


def write_date_partitioned(df: DataFrame, path: str, mode: str = "append") -> None:
    """HDFS day-dir layout: partition column ``day`` =
    date_format(``ts``, 'yyyyMMdd'). Midnight
    rollover (`logpipe-output-hdfs.c:270-296`) is free — it's just a new
    partition value."""
    (
        df.withColumn("day", F.date_format(F.col("ts"), "yyyyMMdd"))
        .write.mode(mode)
        .partitionBy("day")
        .parquet(path)
    )


def render_es_bulk(
    df: DataFrame,
    doc_template: str,
    key_col: Column,
    text_col: str = "text",
    grep: str | None = None,
    translate: str | None = None,
    min_fields: int | None = None,
    batch_rows: int = 500,
    order_col: str | None = None,
    batch_mode: str = "auto",
) -> DataFrame:
    """The full ES-output transform chain, producing `/_bulk` POST bodies.

    Mirrors `logpipe-output-es.c` stage for stage:
      grep substring filter (:610-617) → charset translate (:620-626) →
      tokenize (:628-661) → `$N` template instantiation (:464-517) →
      fields_strictly (:663-668) → bulk batching with `{"index":{}}`
      interleave (:543-596).

    Returns (batch_id, n_docs, payload). Batching here is row-count based
    (the reference uses a 4 MB byte buffer). Batch assignment —
    ``batch_mode="auto"`` (default) picks ``"keyed"`` when a *numeric*
    ``order_col`` is supplied (the scale path) and falls back to
    ``"rank"`` otherwise, so callers that never passed an order column
    keep working (ADVICE r2) at the documented small-export-only cost:

    - ``"keyed"`` (the scale path): batch_id = floor(order_key /
      batch_rows) — a pure projection, so the only exchange is the hash
      shuffle of the groupBy and batches hold ≤ batch_rows rows (exactly
      batch_rows when the key is dense). A global row_number would funnel
      every row through ONE window task — a scale-killer the reference's
      per-connection buffering never had.
    - ``"rank"``: exact batch_rows-sized batches via a global ordered
      row_number — only for small, explicitly-ordered exports."""
    t = F.col(text_col)
    if grep is not None:
        df = df.filter(t.contains(grep))
    line = translate_charset(t, translate) if translate else t
    fields = tokenize(line)
    if min_fields is not None:
        df = df.filter(F.size(fields) >= min_fields)
    rendered = template_nsub(doc_template, key_col, fields)
    order = F.col(order_col) if order_col else key_col
    _numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
    if batch_mode == "auto":
        dtype = dict(df.dtypes).get(order_col) if order_col else None
        batch_mode = (
            "keyed"
            if dtype in _numeric or (dtype or "").startswith("decimal")
            else "rank"
        )
    if batch_mode == "keyed":
        # keyed batching divides the order key — it must be numeric. Fail
        # at plan-build time with a usable message instead of an ANSI
        # runtime cast error (or, with ANSI off, one silent NULL mega-batch)
        if order_col is None:
            raise ValueError(
                "batch_mode='keyed' needs a numeric order_col "
                "(batch_id = floor(order_col / batch_rows)); pass order_col, "
                "or batch_mode='rank' for arbitrary comparable keys"
            )
        dtype = dict(df.dtypes).get(order_col)
        if dtype not in _numeric and not (dtype or "").startswith("decimal"):
            raise ValueError(
                f"batch_mode='keyed' order_col {order_col!r} has type "
                f"{dtype!r}; need a numeric column (or use batch_mode='rank')"
            )
        batch_id = F.floor(order / batch_rows).cast("long")
    elif batch_mode == "rank":
        w = Window.orderBy(order)
        batch_id = ((F.row_number().over(w) - 1) / batch_rows).cast("long")
    else:
        raise ValueError(f"unknown batch_mode {batch_mode!r} (auto|keyed|rank)")
    batched = df.select(
        rendered.alias("_doc"),
        batch_id.alias("batch_id"),
        order.alias("_ord"),
    )
    return (
        batched.groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.concat(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("_ord"), F.col("_doc")))
                        ),
                        lambda s: F.concat(F.lit('{"index":{}}\n'), s["_doc"]),
                    ),
                    "\n",
                ),
                F.lit("\n"),
            ).alias("payload"),
        )
    )


def es_bulk_post(batches: DataFrame, url: str, max_retries: int = 2) -> None:
    """Transport half of the ES output: POST each rendered ``/_bulk``
    payload (from ``render_es_bulk``) to ``url`` — EXECUTOR-side
    (`foreachPartition`), one HTTP connection context per partition, so
    the driver never sees a payload; this is the fasterhttp POST loop of
    `logpipe-output-es.c:755-767` with Spark's task retry as the outer
    reconnect. Delivery is at-least-once (a task that dies mid-partition
    replays its batches — same contract as the reference's re-send).
    Per-payload retry with backoff handles transient refusals before
    escalating to task failure; each POST times out after 10 s.

    ``batches``: (``payload``)."""
    def _post_partition(rows):
        import time as _time
        import urllib.request

        for r in rows:
            data = r["payload"].encode()
            last = None
            for attempt in range(max_retries + 1):
                try:
                    req = urllib.request.Request(
                        url,
                        data=data,
                        headers={"Content-Type": "application/x-ndjson"},
                        method="POST",
                    )
                    urllib.request.urlopen(req, timeout=10.0).read()
                    last = None
                    break
                except Exception as exc:  # noqa: BLE001 — escalate below
                    last = exc
                    _time.sleep(0.1 * (2**attempt))
            if last is not None:
                raise last  # task retry takes over

    batches.select("payload").foreachPartition(_post_partition)


def tcp_sink_send(
    df: DataFrame,
    peers: list[tuple[str, int]],
    connect_timeout: float = 5.0,
) -> None:
    """Transport half of output-tcp: line-framed send with ROUND-ROBIN
    peer selection + FAILOVER (`logpipe-output-tcp.c:120-200`: ip/ip2..8
    rotation, dead peers skipped). Spark mapping: partition id is the
    round-robin counter — partition p connects to peers[p % N]; on
    connect/send failure it fails over to the next peer, full circle
    before raising (which hands the retry to Spark's task re-execution —
    the reference's reconnect-with-blacklist loop).

    The partition's lines are materialized before sending so a failover
    can replay them (the reference equally buffers the block it resends);
    partitions therefore bound the replay unit, same as its 100 KB block.

    ``df``: (``text``)."""
    if not peers:
        # validate driver-side: an empty rotation would otherwise surface
        # as a ZeroDivisionError inside every executor task (ADVICE r3)
        raise ValueError("tcp_sink_send requires at least one (host, port) peer")

    def _send(rows):
        import socket

        from pyspark import TaskContext

        lines = [r["text"] for r in rows]
        if not lines:
            return
        payload = ("\n".join(lines) + "\n").encode()
        ctx = TaskContext.get()
        start = (ctx.partitionId() if ctx else 0) % len(peers)
        last = None
        for k in range(len(peers)):
            host, port = peers[(start + k) % len(peers)]
            try:
                with socket.create_connection((host, port), timeout=connect_timeout) as s:
                    # TCP simultaneous-open guard: connecting to a DEAD
                    # loopback peer whose port is in the ephemeral range
                    # can self-connect (source port == destination port,
                    # Linux loopback quirk) — the send would "succeed"
                    # into our own buffer and the data silently vanish
                    if s.getsockname() == s.getpeername():
                        raise OSError("self-connection detected (dead peer)")
                    s.sendall(payload)
                return
            except OSError as exc:
                last = exc
        raise last

    df.select("text").foreachPartition(_send)


def kafka_render(df: DataFrame, key_col: str | None = None,
                 value_col: str = "value") -> DataFrame:
    """Wire-schema half of output-kafka: project to the connector's
    required ``(key?, value)`` string columns. Mirrors the reference's
    producer payload (`logpipe-output-kafka.c:259,298`: the raw line is
    the record value; partition unassigned — i.e. no key — unless
    configured). This half is fully testable without a broker
    (tests/test_transports.py); the transport half below hands the
    projection to Spark's built-in kafka connector."""
    return df.select(
        *([F.col(key_col).cast("string").alias("key")] if key_col else []),
        F.col(value_col).cast("string").alias("value"),
    )


def kafka_sink_writer(df: DataFrame, bootstrap_servers: str, topic: str):
    """Kafka producer sink builder (built-in connector; needs a broker +
    the spark-sql-kafka package at runtime — neither exists in this
    sandbox, so .save() raising is itself seam-tested). Writes ``df.value``
    with no key: partition unassigned, like the reference
    (`logpipe-output-kafka.c:259`)."""
    return (
        kafka_render(df).write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
    )


def console_sink(df: DataFrame, n: int = 20) -> None:
    """stdout sink (`logpipe-output-stdout.c:31-38`)."""
    df.show(n=n, truncate=False)
