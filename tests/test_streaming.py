"""Structured Streaming flavor: drain a snapshot dir via availableNow,
verify counts match batch mode and that a restart doesn't duplicate."""

import os

import pytest
from pyspark.sql import functions as F

from logpipe_spark.ledger import write_snapshots
from logpipe_spark.streaming.stream import read_stream_sinks, run_stream


@pytest.fixture(scope="module")
def stream_env(spark, transcripts_pdf, dim_df, rules, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    src = os.path.join(root, "src")
    out = os.path.join(root, "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=3)
    res = run_stream(spark, src, out, dim_df, rules)
    assert res["batches"] >= 1
    return src, out


def test_stream_counts_match_oracle(spark, stream_env, golden):
    _, out = stream_env
    got = {
        r["sink"]: r["n"]
        for r in read_stream_sinks(spark, out)
        .groupBy("sink")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == dict(golden["sink_counts"])


def test_stream_restart_no_duplicates(spark, stream_env, dim_df, rules, golden):
    """Re-running the drained stream processes nothing new (checkpoint holds
    the committed file offsets — logpipe's trace_offset, the Spark way)."""
    src, out = stream_env
    res = run_stream(spark, src, out, dim_df, rules)
    assert res["batches"] == 0
    total = read_stream_sinks(spark, out).count()
    assert total == sum(golden["sink_counts"].values())


def test_stream_picks_up_new_files(spark, stream_env, dim_df, rules, transcripts_pdf):
    """New snapshot file lands in the source dir → next trigger processes
    exactly those rows (the inotify-create analogue)."""
    src, out = stream_env
    before = read_stream_sinks(spark, out).count()
    extra = transcripts_pdf.head(500).copy()
    extra["conv_id"] = "convNEW" + extra["conv_id"]
    # new data arrives as a new snapshot partition (immutable-file model;
    # a bare file at the source root would break partition discovery)
    late_dir = os.path.join(src, "snapshot=99")
    os.makedirs(late_dir, exist_ok=True)
    extra.to_parquet(os.path.join(late_dir, "part-0.parquet"), index=False)
    res = run_stream(spark, src, out, dim_df, rules)
    assert res["batches"] == 1
    after = read_stream_sinks(spark, out).count()
    assert after > before


def test_stream_lineage_conservation(spark, stream_env, golden, transcripts_pdf):
    """Per-batch observe() counters obey the same conservation law as batch
    mode: sum(rows_in) == len(input) == sum(routed) + sum(dropped)."""
    _, out = stream_env
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    totals = lin.filter(F.col("partition_id") == -1)
    agg = totals.agg(
        F.sum("rows_in").alias("rows_in"),
        F.sum("routed").alias("routed"),
        F.sum("dropped").alias("dropped"),
    ).first()
    # stream_env may have been extended by the new-files test; lower-bound
    # on the original corpus, exact conservation always
    assert agg["rows_in"] >= len(transcripts_pdf)
    assert agg["routed"] + agg["dropped"] == agg["rows_in"]
    assert agg["dropped"] >= golden["dropped"]
    # per-file granularity mirrors batch mode: per-batch sums of the
    # partition rows equal the observe() totals
    per_file = lin.filter(F.col("partition_id") >= 0)
    per_batch = {
        r["batch_id"]: r["s"]
        for r in per_file.groupBy("batch_id").agg(F.sum("routed").alias("s")).collect()
    }
    tot_batch = {
        r["batch_id"]: r["routed"]
        for r in totals.filter(F.col("routed") > 0).collect()
    }
    assert per_batch == tot_batch


STREAM_LINEAGE_COLS = [
    "batch_id", "partition_id", "rows_in", "parsed", "routed", "dropped",
    "sink", "file",
]


def test_stream_file_uri_out_dir_writes_file_lineage(
    spark, transcripts_pdf, dim_df, rules, tmp_path
):
    """A file: URI out_dir is the same local directory: the stream drains
    into it and its per-file lineage names plain POSIX paths that exist,
    summing per batch to the batch's routed counter."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "src")
    out = tmp_path / "out"
    write_snapshots(transcripts_pdf.head(2000), src, n_snapshots=2)
    res = run_stream(spark, src, f"file:{out}", dim_df, rules)
    assert res["batches"] >= 1

    lin = pq.read_table(str(out / "lineage")).to_pandas()
    per_file = lin[lin["partition_id"] >= 0]
    assert len(per_file) > 0
    for f in per_file["file"]:
        assert not f.startswith("file:") and os.path.isabs(f), f
        assert os.path.isfile(f), f
    totals = lin[lin["partition_id"] == -1].set_index("batch_id")["routed"]
    sums = per_file.groupby("batch_id")["routed"].sum()
    assert sums.to_dict() == totals[totals > 0].to_dict()
    assert totals.sum() + lin[lin["partition_id"] == -1]["dropped"].sum() == 2000


def test_stream_rejects_non_local_out_dir(spark, transcripts_pdf, dim_df, rules, tmp_path):
    """A non-local out_dir fails before the query starts: the footer
    lineage needs a path the driver can open, so nothing is written, not
    even a checkpoint."""
    src = str(tmp_path / "src")
    write_snapshots(transcripts_pdf.head(100), src, n_snapshots=1)
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="not a local path"):
        run_stream(spark, src, "hdfs://namenode:8020/logpipe/out", dim_df, rules)
    assert len(spark.streams.active) == active
    assert not [d for d, _, _ in os.walk(tmp_path) if "_checkpoint" in d]


def test_stream_lineage_columns(stream_env):
    """The stream lineage table keeps its 8 columns, keyed by batch_id."""
    import glob

    import pyarrow.parquet as pq

    _, out = stream_env
    files = glob.glob(os.path.join(out, "lineage", "batch=*", "*.parquet"))
    assert files
    for f in files:
        assert pq.read_schema(f).names == STREAM_LINEAGE_COLS


def test_windowed_watermark_stream(spark, transcripts_pdf, tmp_path):
    """Watermarked tumbling-window aggregation in append mode: every
    emitted (finalized) window row equals the batch-mode result for that
    window exactly — Spark's unified semantics, checked end to end through
    a real streaming query with checkpoint."""
    from logpipe_spark.streaming.windowed import (
        run_windowed_stream,
        windowed_turn_counts,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=2)

    n = run_windowed_stream(spark, src, out, window_minutes=10,
                            watermark_minutes=30, timeout_sec=120)
    assert n > 0  # at least the old windows finalized and emitted

    got = {
        (r["win_start"], r["win_end"], r["role"]): (r["n_turns"], r["chars"])
        for r in spark.read.parquet(os.path.join(out, "data")).collect()
    }
    batch = spark.read.option("basePath", src).parquet(src)
    exp = {
        (r["win_start"], r["win_end"], r["role"]): (r["n_turns"], r["chars"])
        for r in windowed_turn_counts(batch).collect()
    }
    # append mode withholds windows still inside the watermark: emitted ⊆
    # batch, and every emitted window's values are exact
    assert set(got) <= set(exp)
    for k, v in got.items():
        assert v == exp[k], k


def test_windowed_late_data_across_batches(spark, tmp_path):
    """Out-of-order events across micro-batches (VERDICT r2 #8): a row
    later than the watermark is DROPPED (and counted in the progress
    metrics); a late-but-within-watermark row is folded into its window;
    every emitted window equals the batch result over the kept rows."""
    import time as _time

    import pandas as pd

    from logpipe_spark.streaming.windowed import windowed_turn_counts

    def mk(ts_list):
        return pd.DataFrame(
            {
                "conv_id": ["c"] * len(ts_list),
                "turn_idx": range(len(ts_list)),
                "role": ["user"] * len(ts_list),
                "text": ["x"] * len(ts_list),
                "tool": [""] * len(ts_list),
                "ts": pd.to_datetime(ts_list).astype("datetime64[us]"),
            }
        )

    src = tmp_path / "src"
    src.mkdir()
    # batch 1: W1=[10:00,10:10) ×2, W2=[10:10,10:20) ×1; max ts 10:25
    # batch 2: 10:17 → W2 late-but-within-watermark (kept), 10:45 advances
    #          the event clock (watermark after this batch: 10:35)
    # batch 3: 10:05 → W1 too-late (< watermark, DROPPED); 11:00 advances
    #          the watermark far enough to flush W2/W3/W4
    # (the too-late row sits in the LAST batch because the watermark a
    # batch filters against is the one finalized at the end of the
    # previous batch — Spark's documented one-batch lag)
    batches = [
        ["2026-01-01 10:01", "2026-01-01 10:03", "2026-01-01 10:12", "2026-01-01 10:25"],
        ["2026-01-01 10:17", "2026-01-01 10:45"],
        ["2026-01-01 10:05", "2026-01-01 11:00"],
    ]
    for i, ts in enumerate(batches):
        p = src / f"b{i}.parquet"
        mk(ts).to_parquet(p, index=False)
        _time.sleep(0.05)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))  # stable file order

    from logpipe_spark.streaming.stream import TRANSCRIPT_SCHEMA

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = windowed_turn_counts(stream, window_minutes=10, watermark_minutes=10)
    out = tmp_path / "out"
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", str(out / "_ckpt"))
        .trigger(availableNow=True)
        .start(str(out / "data"))
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()

    progresses = q.recentProgress
    data_batches = [p for p in progresses if p["numInputRows"] > 0]
    assert len(data_batches) == 3  # one micro-batch per file
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progresses
        for op in p.get("stateOperators", [])
    )
    assert dropped == 1  # exactly the 10:05 row

    got = {
        (str(r["win_start"]), r["n_turns"])
        for r in spark.read.parquet(str(out / "data")).collect()
    }
    # kept rows = all events minus the too-late 10:05
    kept = [t for b in batches for t in b if t != "2026-01-01 10:05"]
    batch_df = spark.createDataFrame(mk(kept))
    exp = {
        (str(r["win_start"]), r["n_turns"])
        for r in windowed_turn_counts(batch_df).collect()
    }
    # emitted ⊆ batch-over-kept, with exact values; and the two windows
    # that exercise the semantics MUST have been finalized and emitted:
    # W1 with the too-late row excluded, W2 with the late-OK row included
    assert got <= exp
    assert ("2026-01-01 10:00:00", 2) in got  # W1: 10:01, 10:03 (no 10:05)
    assert ("2026-01-01 10:10:00", 2) in got  # W2: 10:12 + late-OK 10:17


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: replayed rows across micro-batches are
    dropped while inside the watermark; state is keyed by content hash.
    Feed the same lines in batch 1 and batch 2 → output has each line
    once."""
    import time as _time

    import pandas as pd

    from logpipe_spark.streaming.dedup import stream_exact_dedup
    from logpipe_spark.streaming.stream import TRANSCRIPT_SCHEMA

    def mk(texts, ts):
        import numpy as np

        return pd.DataFrame(
            {
                "conv_id": ["c"] * len(texts),
                "turn_idx": np.arange(len(texts), dtype="int32"),
                "role": ["user"] * len(texts),
                "text": texts,
                "tool": [""] * len(texts),
                "ts": pd.to_datetime([ts] * len(texts)).astype("datetime64[us]"),
            }
        )

    src = tmp_path / "src"
    src.mkdir()
    # batch 1: three lines; batch 2: two replays + one new line (all within
    # the 30-minute watermark of each other)
    batches = [
        mk(["alpha", "beta", "gamma"], "2026-01-01 10:00"),
        mk(["alpha", "gamma", "delta"], "2026-01-01 10:05"),
    ]
    for i, pdf in enumerate(batches):
        p = src / f"b{i}.parquet"
        pdf.to_parquet(p, index=False)
        _time.sleep(0.05)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    deduped = stream_exact_dedup(stream, watermark="30 minutes")
    out = tmp_path / "out"
    q = (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", str(out / "_ckpt"))
        .trigger(availableNow=True)
        .start(str(out / "data"))
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()

    got = sorted(r["text"] for r in spark.read.parquet(str(out / "data")).collect())
    assert got == ["alpha", "beta", "delta", "gamma"]  # each line exactly once


def test_stream_incremental_dedup_vs_static_index(spark, tmp_path):
    """Streaming delta dedup: docs whose fingerprint is in the STATIC
    accepted-corpus index never reach the sink; in-stream replays
    (including reordered-word variants — bag-of-words identity) are
    dropped within the watermark; genuinely new docs pass."""
    import time as _time

    import pandas as pd

    from logpipe_spark.streaming.dedup import stream_incremental_dedup
    from logpipe_spark.streaming.stream import TRANSCRIPT_SCHEMA

    def mk(texts, ts):
        import numpy as np

        return pd.DataFrame(
            {
                "conv_id": ["c"] * len(texts),
                "turn_idx": np.arange(len(texts), dtype="int32"),
                "role": ["user"] * len(texts),
                "text": texts,
                "tool": [""] * len(texts),
                "ts": pd.to_datetime([ts] * len(texts)).astype("datetime64[us]"),
            }
        )

    # static index = fingerprints of the already-accepted corpus
    from logpipe_spark.operators.dedup import fingerprint_index

    accepted = spark.createDataFrame(
        [(100, "already accepted doc"), (101, "another prior doc")],
        ["doc_id", "text"],
    )
    idx = fingerprint_index(accepted)

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        # b0: one index dup (reordered!), one new
        mk(["accepted already doc", "fresh one"], "2026-01-01 10:00"),
        # b1: in-stream replay of "fresh one" (reordered), one new
        mk(["one fresh", "fresh two"], "2026-01-01 10:05"),
    ]
    for i, pdf in enumerate(batches):
        p = src / f"b{i}.parquet"
        pdf.to_parquet(p, index=False)
        _time.sleep(0.05)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    admitted = stream_incremental_dedup(stream, idx, watermark="30 minutes")
    out = tmp_path / "out"
    q = (
        admitted.writeStream.outputMode("append")
        .option("checkpointLocation", str(out / "_ckpt"))
        .trigger(availableNow=True)
        .start(str(out / "data"))
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()

    res = spark.read.parquet(str(out / "data"))
    got = sorted(r["text"] for r in res.collect())
    assert got == ["fresh one", "fresh two"]
    assert "fingerprint" in res.columns  # admitted rows carry their fp


def test_session_window_stream_matches_batch(spark, transcripts_pdf, tmp_path):
    """Session windows through a real availableNow stream: every emitted
    (closed) session equals the batch-mode session for that key exactly;
    batch mode verifies the gap rule on a hand fixture too."""
    import pandas as pd

    from logpipe_spark.streaming.dedup import stream_exact_dedup  # noqa: F401
    from logpipe_spark.streaming.stream import TRANSCRIPT_SCHEMA
    from logpipe_spark.streaming.windowed import session_window_stats

    # hand fixture first (batch mode): two sessions for c1 (45-min gap),
    # one for c2
    rows = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c1", "c2"],
            "turn_idx": pd.array([0, 1, 2, 0], dtype="int32"),
            "role": ["user"] * 4,
            "text": ["aa", "bbb", "c", "dddd"],
            "tool": [""] * 4,
            "ts": pd.to_datetime(
                ["2026-01-01 10:00", "2026-01-01 10:10",
                 "2026-01-01 10:55", "2026-01-01 10:05"]
            ).astype("datetime64[us]"),
        }
    )
    batch = spark.createDataFrame(rows)
    got = sorted(
        (r["conv_id"], r["n_events"], r["chars"])
        for r in session_window_stats(batch, gap_minutes=30).collect()
    )
    assert got == [("c1", 1, 1), ("c1", 2, 5), ("c2", 1, 4)]

    # streaming: emitted closed sessions ⊆ batch sessions, values exact
    src = str(tmp_path / "src")
    out = tmp_path / "out"
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "snapshot=*"))
    )
    q = (
        session_window_stats(stream, gap_minutes=30, watermark_minutes=60)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(out / "_ckpt"))
        .trigger(availableNow=True)
        .start(str(out / "data"))
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    emitted = {
        (r["conv_id"], r["session_start"], r["session_end"]):
            (r["n_events"], r["chars"])
        for r in spark.read.parquet(str(out / "data")).collect()
    }
    full = spark.read.option("basePath", src).parquet(src)
    exp = {
        (r["conv_id"], r["session_start"], r["session_end"]):
            (r["n_events"], r["chars"])
        for r in session_window_stats(full).collect()
    }
    assert set(emitted) <= set(exp)
    for k, v in emitted.items():
        assert v == exp[k], k


def _evt_pdf(rows):
    """rows: [(key, ts_str, val)] → parquet-ready events frame."""
    import pandas as pd

    return pd.DataFrame(
        {
            "k": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows]).astype(
                "datetime64[us]"
            ),
            "val": [r[2] for r in rows],
        }
    )


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream inner interval join (streaming/join.py): requests
    joined to responses within 10 minutes, both sides arriving across
    multiple micro-batches — the emitted set equals the batch join
    exactly (unified semantics: nothing is late here)."""
    import time as _time

    from logpipe_spark.streaming.join import stream_interval_join

    reqs = [("a", "2026-01-01 10:00", 1), ("a", "2026-01-01 10:20", 2),
            ("b", "2026-01-01 10:05", 3), ("c", "2026-01-01 10:00", 4)]
    # a@10:07 matches req1 only; a@10:25 matches req2; b@10:30 outside
    # interval of b@10:05; d unmatched key
    rsps = [("a", "2026-01-01 10:07", 11), ("a", "2026-01-01 10:25", 12),
            ("b", "2026-01-01 10:30", 13), ("d", "2026-01-01 10:06", 14)]

    lsrc, rsrc = tmp_path / "lsrc", tmp_path / "rsrc"
    lsrc.mkdir(); rsrc.mkdir()
    for i in range(2):  # split each side into two files → several batches
        _evt_pdf(reqs[i * 2:(i + 1) * 2]).to_parquet(
            lsrc / f"l{i}.parquet", index=False)
        _evt_pdf(rsps[i * 2:(i + 1) * 2]).to_parquet(
            rsrc / f"r{i}.parquet", index=False)
        _time.sleep(0.05)

    schema = "k string, ts timestamp, val long"
    mk = lambda d: (spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 1).parquet(str(d)))
    out = tmp_path / "out"
    q = (
        stream_interval_join(mk(lsrc), mk(rsrc), on=["k"],
                             within_minutes=10, watermark_minutes=60)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(out / "_ckpt"))
        .trigger(availableNow=True)
        .start(str(out / "data"))
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = sorted(
        (r["k"], r["val"], r["val_r"])
        for r in spark.read.parquet(str(out / "data")).collect()
    )
    batch = stream_interval_join(
        spark.createDataFrame(_evt_pdf(reqs), schema),
        spark.createDataFrame(_evt_pdf(rsps), schema),
        on=["k"], within_minutes=10, watermark_minutes=60,
    )
    want = sorted((r["k"], r["val"], r["val_r"]) for r in batch.collect())
    assert got == want == [("a", 1, 11), ("a", 2, 12)]


def test_stream_stream_left_outer_flushes_on_watermark(spark, tmp_path):
    """left_outer emission: an unmatched request is emitted with NULL
    right columns once the RIGHT watermark passes its interval — proven
    by a far-future right-side sentinel in the last file; the matched
    pair is emitted too, and validation rejects bad join types."""
    import time as _time

    import pytest as _pytest

    from logpipe_spark.streaming.join import stream_interval_join

    with _pytest.raises(ValueError, match="unsupported"):
        stream_interval_join(
            spark.range(1), spark.range(1), on=["id"], how="full")
    with _pytest.raises(ValueError, match="equi-key"):
        stream_interval_join(spark.range(1), spark.range(1), on=[])

    lsrc, rsrc = tmp_path / "lsrc", tmp_path / "rsrc"
    lsrc.mkdir(); rsrc.mkdir()
    _evt_pdf([("a", "2026-01-01 10:00", 1),
              ("b", "2026-01-01 10:00", 2)]).to_parquet(
        lsrc / "l0.parquet", index=False)
    _evt_pdf([("a", "2026-01-01 10:05", 11)]).to_parquet(
        rsrc / "r0.parquet", index=False)
    _time.sleep(0.05)
    # sentinels advance BOTH event clocks far beyond watermark + interval
    # (the stream-stream watermark is the MIN across inputs — a stalled
    # left clock would hold the global watermark at 09:50 forever) so
    # b@10:00's outer row can flush before the stream ends
    _evt_pdf([("zz", "2026-01-02 00:00", 99)]).to_parquet(
        rsrc / "r1.parquet", index=False)
    _evt_pdf([("zy", "2026-01-02 00:00", 98)]).to_parquet(
        lsrc / "l1.parquet", index=False)

    schema = "k string, ts timestamp, val long"
    mk = lambda d: (spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 1).parquet(str(d)))
    out = tmp_path / "out"
    q = (
        stream_interval_join(mk(lsrc), mk(rsrc), on=["k"],
                             within_minutes=10, watermark_minutes=10,
                             how="left_outer")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(out / "_ckpt"))
        .trigger(availableNow=True)
        .start(str(out / "data"))
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = sorted(
        (r["k"], r["val"], r["val_r"])
        for r in spark.read.parquet(str(out / "data")).collect()
    )
    assert ("a", 1, 11) in got
    assert ("b", 2, None) in got


def test_read_stream_sinks_holds_the_path_contract(
    spark, transcripts_pdf, dim_df, rules, golden, tmp_path
):
    """``read_stream_sinks`` takes the same out_dir ``run_stream`` took: a
    ``file://localhost`` URI reads back every routed row, and a non-local
    URI raises ValueError instead of reaching Hadoop."""
    src = str(tmp_path / "src")
    out = tmp_path / "out"
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    uri = f"file://localhost{out}"
    assert run_stream(spark, src, uri, dim_df, rules)["batches"] >= 1
    got = {
        r["sink"]: r["n"]
        for r in read_stream_sinks(spark, uri)
        .groupBy("sink")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == dict(golden["sink_counts"])
    with pytest.raises(ValueError, match="not a local path"):
        read_stream_sinks(spark, "hdfs://namenode:8020/logpipe/out")


def test_stream_commits_through_the_pipeline_bindings(
    spark, transcripts_pdf, dim_df, rules, monkeypatch, tmp_path
):
    """Each micro-batch writes and reads footer lineage through the
    ``pipeline`` module's bindings, the same ones batch mode calls, so a
    wrapper installed there (the benchmark's tracer) sees the stream too."""
    import logpipe_spark.pipeline as pipeline

    calls = {"fan_out_write": 0, "file_lineage_rows": 0}
    for name in calls:
        original = getattr(pipeline, name)

        def counted(*args, _name=name, _original=original, **kwargs):
            calls[_name] += 1
            return _original(*args, **kwargs)

        monkeypatch.setattr(pipeline, name, counted)

    src = str(tmp_path / "src")
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    res = run_stream(spark, src, str(tmp_path / "out"), dim_df, rules)
    assert res["batches"] >= 1
    assert calls == {"fan_out_write": res["batches"], "file_lineage_rows": res["batches"]}


def test_run_available_now_timeout_stops_query_and_raises(spark, tmp_path):
    """A drain that outlives its timeout stops its query and raises,
    instead of returning a sink path the stream is still writing."""
    import pandas as pd

    from logpipe_spark.streaming.drive import (
        read_stream_table,
        run_available_now,
        stage_stream_source,
    )

    data = str(tmp_path / "events.parquet")
    pd.DataFrame({"k": range(100)}).to_parquet(data, index=False)
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    src = stage_stream_source(data, workdir=str(src_dir))
    stream = read_stream_table(spark, src, "k long")
    with pytest.raises(TimeoutError):
        run_available_now(stream, timeout_s=0.001)
    assert spark.streams.active == []


def test_run_stream_drain_timeout_stops_query_and_raises(
    spark, dim_df, rules, transcripts_pdf, tmp_path
):
    """An AvailableNow drain cut short raises instead of returning the
    batch count of a partly written sink."""
    src = str(tmp_path / "src")
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    with pytest.raises(TimeoutError):
        run_stream(spark, src, str(tmp_path / "out"), dim_df, rules, timeout_sec=0)
    assert spark.streams.active == []


def test_run_windowed_stream_timeout_stops_query_and_raises(
    spark, transcripts_pdf, tmp_path
):
    """A windowed drain cut short raises instead of returning the row count
    of a partly written sink."""
    from logpipe_spark.streaming.windowed import run_windowed_stream

    src = str(tmp_path / "src")
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    with pytest.raises(TimeoutError):
        run_windowed_stream(spark, src, str(tmp_path / "out"), timeout_sec=0)
    assert spark.streams.active == []


def test_run_stream_tail_mode_zero_timeout_stops_query(
    spark, dim_df, rules, transcripts_pdf, tmp_path
):
    """Tail mode with a timeout of 0 s has already expired: it returns
    with the query stopped instead of raising from ``awaitTermination(0)``
    (which Spark rejects) and leaving the query running."""
    src = str(tmp_path / "src")
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    res = run_stream(
        spark, src, str(tmp_path / "out"), dim_df, rules,
        available_now=False, timeout_sec=0,
    )
    assert res["batches"] >= 0
    assert spark.streams.active == []
