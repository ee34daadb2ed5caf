"""End-to-end slice (SURVEY.md §7.1): snapshots → parse → enrich → route →
fan-out sinks + lineage, checked against the pure-Python oracle for
per-sink counts AND row-for-row text equality under (conv_id, turn_idx)."""

import os

import pytest
from pyspark.sql import functions as F

from logpipe_spark.ledger import SnapshotLedger, write_snapshots
from logpipe_spark.pipeline import (
    read_lineage,
    read_sinks,
    run_pipeline,
)
from testkit import count_jobs


@pytest.fixture(scope="module")
def pipe_out(spark, transcripts_pdf, dim_df, rules, tmp_path_factory):
    root = tmp_path_factory.mktemp("pipe")
    src = os.path.join(root, "src")
    out = os.path.join(root, "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=4)
    res = run_pipeline(spark, src, out, dim_df, rules, salt_partitions=8)
    assert res["processed"] == [0, 1, 2, 3]
    return out


def test_per_sink_counts_match_oracle(spark, pipe_out, golden):
    got = {
        r["sink"]: r["n"]
        for r in read_sinks(spark, pipe_out)
        .groupBy("sink")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == dict(golden["sink_counts"])


def test_routed_row_text_equality(spark, pipe_out, golden):
    """The reference's byte-identical forwarded-file check (README.md:404-445)
    re-expressed: per-sink rows equal the oracle's, row-for-row, under
    stable (sink, conv_id, turn_idx) order."""
    got = (
        read_sinks(spark, pipe_out)
        .select("sink", "conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["sink", "conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = golden["routed"][["sink", "conv_id", "turn_idx", "text"]].reset_index(drop=True)
    assert len(got) == len(exp)
    assert (got["sink"].values == exp["sink"].values).all()
    assert (got["conv_id"].values == exp["conv_id"].values).all()
    assert (got["turn_idx"].values == exp["turn_idx"].values).all()
    assert got["text"].tolist() == exp["text"].tolist()


def test_enrichment_columns(spark, pipe_out, golden):
    df = read_sinks(spark, pipe_out)
    n_unmatched = df.filter(F.col("tool_family").isNull()).count()
    exp_unmatched_routed = int(golden["routed"]["tool_family"].isna().sum())
    assert n_unmatched == exp_unmatched_routed
    assert df.filter(F.col("sink_hint").isNotNull()).count() > 0


def test_lineage_conservation(spark, pipe_out, golden, transcripts_pdf):
    lin = read_lineage(spark, pipe_out)
    totals = lin.filter(F.col("partition_id") == -1)
    agg = totals.agg(
        F.sum("rows_in").alias("rows_in"),
        F.sum("routed").alias("routed"),
        F.sum("dropped").alias("dropped"),
    ).collect()[0]
    assert agg["rows_in"] == len(transcripts_pdf)
    assert agg["routed"] + agg["dropped"] == agg["rows_in"]
    assert agg["dropped"] == golden["dropped"]
    assert agg["routed"] == sum(golden["sink_counts"].values())

    # per-partition granularity (SURVEY.md §2.5): real partition_id rows,
    # one per written OUTPUT file (sink set), whose routed sums equal the
    # observe() totals — both overall and per snapshot; plus one row per
    # INPUT file (sink NULL) carrying rows_in from the source footer
    per_part = lin.filter((F.col("partition_id") >= 0) & F.col("sink").isNotNull())
    assert per_part.count() > 0
    assert per_part.filter(F.col("file").isNull()).count() == 0

    # input-file granularity: per-snapshot sum(rows_in) over source-file
    # rows equals the snapshot sentinel's rows_in (conservation at the
    # input edge, the reference's per-file offset bookkeeping)
    src_rows = lin.filter((F.col("partition_id") >= 0) & F.col("sink").isNull())
    assert src_rows.count() > 0
    assert src_rows.filter(F.col("file").isNull() | F.col("rows_in").isNull()).count() == 0
    src_snap = {
        r["snapshot_id"]: r["s"]
        for r in src_rows.groupBy("snapshot_id").agg(F.sum("rows_in").alias("s")).collect()
    }
    in_snap = {
        r["snapshot_id"]: r["rows_in"]
        for r in totals.collect()
    }
    assert src_snap == in_snap
    per_snap = {
        r["snapshot_id"]: r["s"]
        for r in per_part.groupBy("snapshot_id").agg(F.sum("routed").alias("s")).collect()
    }
    tot_snap = {
        r["snapshot_id"]: r["routed"]
        for r in totals.filter(F.col("routed") > 0).collect()
    }
    assert per_snap == tot_snap
    # partition ids are dense per snapshot
    for snap in per_snap:
        ids = sorted(
            r["partition_id"]
            for r in per_part.filter(F.col("snapshot_id") == snap).collect()
        )
        assert ids == list(range(len(ids)))
    # per-sink file sums agree with the actual routed data read back
    sink_sums = {
        r["sink"]: r["s"]
        for r in per_part.groupBy("sink").agg(F.sum("routed").alias("s")).collect()
    }
    assert sink_sums == golden["sink_counts"]


def test_rerun_is_noop(spark, pipe_out, dim_df, rules, transcripts_pdf):
    """Idempotence: a second run over a fully-committed source processes
    nothing and row counts are unchanged."""
    src = pipe_out.replace("/out", "/src")
    before = read_sinks(spark, pipe_out).count()
    res = run_pipeline(spark, src, pipe_out, dim_df, rules)
    assert res["processed"] == []
    assert read_sinks(spark, pipe_out).count() == before


def test_resume_after_crash(spark, transcripts_pdf, dim_df, rules, golden, tmp_path_factory):
    """Kill between write and commit of snapshot 1; resume; assert zero
    duplicate routed rows (SURVEY.md §5 invariant 3)."""
    root = tmp_path_factory.mktemp("crash")
    src = os.path.join(root, "src")
    out = os.path.join(root, "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=3)

    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, src, out, dim_df, rules, fail_after_write_snapshot=1)
    assert SnapshotLedger(out).committed() == {0}

    res = run_pipeline(spark, src, out, dim_df, rules)
    assert res["processed"] == [1, 2]

    df = read_sinks(spark, out)
    assert df.count() == sum(golden["sink_counts"].values())
    dups = (
        df.groupBy("conv_id", "turn_idx")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert dups == 0


def test_partitioned_snapshot_layout_keeps_lineage_conservation(
    spark, transcripts_pdf, dim_df, rules, tmp_path_factory
):
    """A snapshot whose parquet parts live in a hive-partitioned
    subdirectory (a layout spark.read.parquet accepts) must process and
    commit — the input-edge lineage walks files at any depth instead of
    handing the subdirectory itself to the footer reader (which crashed
    after the data write and poisoned every resume)."""
    import shutil

    root = tmp_path_factory.mktemp("nested")
    src = os.path.join(root, "src")
    out = os.path.join(root, "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    snap1 = os.path.join(src, "snapshot=1")
    sub = os.path.join(snap1, "part=0")
    os.makedirs(sub)
    for name in os.listdir(snap1):
        p = os.path.join(snap1, name)
        if os.path.isfile(p) and not name.startswith((".", "_")):
            shutil.move(p, os.path.join(sub, name))

    res = run_pipeline(spark, src, out, dim_df, rules, salt_partitions=4)
    assert res["processed"] == [0, 1]

    lin = read_lineage(spark, out)
    sentinel = lin.filter(F.col("partition_id") == -1)
    assert sentinel.agg(F.sum("rows_in")).collect()[0][0] == len(transcripts_pdf)
    # the nested snapshot's input-file rows point at files, and their sum
    # still matches the snapshot sentinel (conservation at the input edge)
    src_rows = lin.filter(
        (F.col("partition_id") >= 0) & F.col("sink").isNull()
        & (F.col("snapshot_id") == 1)
    ).collect()
    assert src_rows and all("part=0" in r["file"] for r in src_rows)
    assert sum(r["rows_in"] for r in src_rows) == (
        sentinel.filter(F.col("snapshot_id") == 1).collect()[0]["rows_in"]
    )


def test_source_file_rows_names_unreadable_path():
    from logpipe_spark.operators.sinks import source_file_rows

    bad = "/tmp/not_a_parquet_sidecar.txt"
    with open(bad, "w") as f:
        f.write("plain text\n")
    with pytest.raises(ValueError, match="not_a_parquet_sidecar"):
        source_file_rows([bad])


def test_ledger_metrics_match_lineage_totals(spark, pipe_out):
    """Each commit carries its snapshot's observe() counters — the same
    numbers as its partition_id = -1 lineage row — plus the batch it
    shared one read and one write with."""
    import json

    with open(os.path.join(pipe_out, "_ledger.json")) as f:
        commits = {c["snapshot_id"]: c for c in json.load(f)["commits"]}
    totals = read_lineage(spark, pipe_out).filter(F.col("partition_id") == -1).collect()
    assert sorted(commits) == sorted(r["snapshot_id"] for r in totals) == [0, 1, 2, 3]
    for r in totals:
        m = commits[r["snapshot_id"]]["metrics"]
        assert m["batch"] == [0, 1, 2, 3]
        assert {k: m[k] for k in ("rows_in", "parsed", "routed", "dropped")} == {
            k: r[k] for k in ("rows_in", "parsed", "routed", "dropped")
        }
        assert m["rows_in"] == m["routed"] + m["dropped"] > 0


def _assert_matches_oracle(spark, out, golden):
    got = (
        read_sinks(spark, out)
        .select("sink", "conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["sink", "conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = golden["routed"][["sink", "conv_id", "turn_idx", "text"]].reset_index(drop=True)
    assert len(got) == len(exp)
    for col in ("sink", "conv_id", "turn_idx", "text"):
        assert got[col].tolist() == exp[col].tolist()


def test_schema_drift_added_column(spark, transcripts_pdf, dim_df, rules, golden, tmp_path):
    """A column that first appears in snapshot 2 reaches snapshot 2's
    routed rows and reads as NULL in snapshots 0-1 (the batch scan merges
    the snapshots' schemas)."""
    import pandas as pd

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=3)
    part = os.path.join(src, "snapshot=2", "part-0.parquet")
    pdf = pd.read_parquet(part)
    pdf["region"] = "eu-" + pdf["conv_id"].str[-1]
    pdf.to_parquet(part, index=False)

    run_pipeline(spark, src, out, dim_df, rules, salt_partitions=4)
    got = read_sinks(spark, out)
    per_snap = {
        r["snapshot"]: (r["n"], r["with_region"])
        for r in got.groupBy("snapshot")
        .agg(F.count(F.lit(1)).alias("n"), F.count("region").alias("with_region"))
        .collect()
    }
    assert per_snap[2][0] > 0 and per_snap[2][1] == per_snap[2][0]
    assert per_snap[0][1] == per_snap[1][1] == 0
    assert sum(n for n, _ in per_snap.values()) == sum(golden["sink_counts"].values())


def test_schema_type_conflict_raises_before_any_write(
    spark, transcripts_pdf, dim_df, rules, tmp_path
):
    """Snapshots whose column types disagree cannot be merged: the run
    fails at the scan, before any data or lineage is written, and nothing
    is committed."""
    import pandas as pd
    from py4j.protocol import Py4JJavaError

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    part = os.path.join(src, "snapshot=1", "part-0.parquet")
    pdf = pd.read_parquet(part)
    pdf["turn_idx"] = pdf["turn_idx"].astype(str)
    pdf.to_parquet(part, index=False)

    with pytest.raises(Py4JJavaError, match="CANNOT_MERGE_SCHEMAS"):
        run_pipeline(spark, src, out, dim_df, rules)
    assert SnapshotLedger(out).committed() == set()
    assert not os.path.exists(os.path.join(out, "data"))
    assert not os.path.exists(os.path.join(out, "lineage"))


def test_stale_uncommitted_output_is_removed(
    spark, transcripts_pdf, dim_df, rules, golden, tmp_path
):
    """Output a crashed run left under an uncommitted snapshot — here a
    whole sink directory the route rules never produce, holding real
    rows — is cleared before the batch write, so readers see exactly the
    oracle's rows."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=4)
    ghost = os.path.join(out, "data", "snapshot=1", "sink=ghost")
    os.makedirs(ghost)
    transcripts_pdf.head(10).to_parquet(os.path.join(ghost, "x.parquet"), index=False)

    res = run_pipeline(spark, src, out, dim_df, rules, salt_partitions=4)
    assert res["processed"] == [0, 1, 2, 3]
    assert not os.path.exists(ghost)
    _assert_matches_oracle(spark, out, golden)


def test_resume_after_crash_on_last_snapshot(
    spark, transcripts_pdf, dim_df, rules, golden, tmp_path
):
    """The crash hook on the batch's last snapshot: every data and lineage
    write happened, 0-2 are committed, and the resume redoes only 3."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=4)

    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, src, out, dim_df, rules, fail_after_write_snapshot=3)
    assert SnapshotLedger(out).committed() == {0, 1, 2}
    assert os.path.isdir(os.path.join(out, "lineage", "snapshot=3"))

    res = run_pipeline(spark, src, out, dim_df, rules)
    assert res["processed"] == [3]
    _assert_matches_oracle(spark, out, golden)


def test_job_count_does_not_grow_with_snapshots(
    spark, transcripts_pdf, dim_df, rules, tmp_path
):
    """All pending snapshots share one read, one stage chain and one write,
    so 8 snapshots launch exactly as many Spark jobs as 4: the schema
    merge, the dim broadcast and the write (no shuffle precedes it)."""
    jobs = {}
    for n in (4, 8):
        src, out = str(tmp_path / f"src{n}"), str(tmp_path / f"out{n}")
        write_snapshots(transcripts_pdf, src, n_snapshots=n)
        _, jobs[n] = count_jobs(spark, lambda: run_pipeline(
            spark, src, out, dim_df, rules, salt_partitions=8,
        ))
    assert jobs[4] == jobs[8] <= 4, jobs


def test_empty_pending_snapshot_raises_before_any_write(
    spark, transcripts_pdf, dim_df, rules, tmp_path
):
    """A pending snapshot directory with no data files yet is a source
    fault, not a zero-row snapshot: the run names it and commits nothing,
    so the files that arrive later are still processed."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    os.makedirs(os.path.join(src, "snapshot=2"))

    with pytest.raises(FileNotFoundError, match="snapshot=2"):
        run_pipeline(spark, src, out, dim_df, rules)
    assert SnapshotLedger(out).committed() == set()
    assert not os.path.exists(os.path.join(out, "data"))


def _lineage_shape(spark, out_dir, src_root):
    """Per-file lineage reduced to what does not depend on the run's
    paths: output files as (snapshot, sink, routed), input files as
    (snapshot, partition_id, rows_in, path under the source root)."""
    lin = read_lineage(spark, out_dir).filter(F.col("partition_id") >= 0).collect()
    for r in lin:
        assert not r["file"].startswith("file:") and os.path.isfile(r["file"]), r
    outputs = sorted(
        (r["snapshot_id"], r["sink"], r["routed"]) for r in lin if r["sink"]
    )
    inputs = sorted(
        (r["snapshot_id"], r["partition_id"], r["rows_in"],
         os.path.relpath(r["file"], src_root))
        for r in lin if r["sink"] is None
    )
    return outputs, inputs


def test_file_uri_paths_match_plain_paths(
    spark, pipe_out, transcripts_pdf, dim_df, rules, tmp_path, monkeypatch
):
    """``file:`` URIs name the same local directories as plain paths: the
    run gives the same sink counts and per-file lineage as ``pipe_out``,
    and no relative ``file:`` tree appears under the working directory."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    src, out = tmp_path / "src", tmp_path / "out"
    write_snapshots(transcripts_pdf, str(src), n_snapshots=4)
    res = run_pipeline(
        spark, f"file:{src}", f"file://{out}", dim_df, rules, salt_partitions=8
    )
    assert res["processed"] == [0, 1, 2, 3]
    assert SnapshotLedger(str(out)).committed() == {0, 1, 2, 3}

    def sink_counts(out_dir):
        return dict(read_sinks(spark, out_dir).groupBy("sink").count().collect())

    assert sink_counts(f"file:{out}") == sink_counts(pipe_out)
    plain_src = os.path.join(os.path.dirname(pipe_out), "src")
    assert _lineage_shape(spark, f"file:{out}", str(src)) == _lineage_shape(
        spark, pipe_out, plain_src
    )
    assert os.listdir(cwd) == []


def test_non_local_out_dir_raises_before_any_write(
    spark, transcripts_pdf, dim_df, rules, tmp_path, monkeypatch
):
    """An out_dir the driver cannot open raises ValueError before the
    ledger, data or lineage directories are created anywhere."""
    monkeypatch.chdir(tmp_path)
    src = str(tmp_path / "src")
    write_snapshots(transcripts_pdf.head(100), src, n_snapshots=1)
    with pytest.raises(ValueError, match="not a local path"):
        run_pipeline(spark, src, "hdfs://namenode:8020/logpipe/out", dim_df, rules)
    assert os.listdir(tmp_path) == ["src"]


def test_file_localhost_uri_matches_plain_paths(
    spark, pipe_out, transcripts_pdf, dim_df, rules, tmp_path, monkeypatch
):
    """``file://localhost/<path>`` names the same local directory as
    ``<path>``: the run gives the same sink counts and per-file lineage as
    ``pipe_out``, and no relative ``localhost`` tree appears under the
    working directory."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    src, out = tmp_path / "src", tmp_path / "out"
    write_snapshots(transcripts_pdf, str(src), n_snapshots=4)
    res = run_pipeline(
        spark, f"file://localhost{src}", f"file://localhost{out}", dim_df, rules
    )
    assert res["processed"] == [0, 1, 2, 3]
    assert SnapshotLedger(str(out)).committed() == {0, 1, 2, 3}

    def sink_counts(out_dir):
        return dict(read_sinks(spark, out_dir).groupBy("sink").count().collect())

    assert sink_counts(f"file://localhost{out}") == sink_counts(pipe_out)
    plain_src = os.path.join(os.path.dirname(pipe_out), "src")
    assert _lineage_shape(spark, f"file://localhost{out}", str(src)) == _lineage_shape(
        spark, pipe_out, plain_src
    )
    assert os.listdir(cwd) == []


def test_file_uri_other_host_raises_before_any_write(
    spark, transcripts_pdf, dim_df, rules, tmp_path, monkeypatch
):
    """A ``file:`` URI naming another host is not a path on this driver:
    the run raises ValueError before the ledger, data or lineage
    directories are created anywhere."""
    monkeypatch.chdir(tmp_path)
    src = str(tmp_path / "src")
    write_snapshots(transcripts_pdf.head(100), src, n_snapshots=1)
    with pytest.raises(ValueError, match="otherhost"):
        run_pipeline(spark, src, "file://otherhost/x", dim_df, rules)
    with pytest.raises(ValueError, match="otherhost"):
        run_pipeline(spark, f"file://otherhost{src}", str(tmp_path / "out"), dim_df, rules)
    assert os.listdir(tmp_path) == ["src"]


def _data_files(out_dir):
    import glob

    return glob.glob(os.path.join(out_dir, "data", "**", "*.parquet"), recursive=True)


def _new_write_plans(spark, run):
    """The physical plan text of every parquet write ``run()`` executes,
    read from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    last = max((e.executionId() for e in executions()), default=-1)
    run()
    return [
        d for e in executions()
        if e.executionId() > last
        and "InsertIntoHadoopFsRelationCommand" in (d := e.physicalPlanDescription())
    ]


@pytest.fixture(scope="module")
def well_split(spark, transcripts_pdf, dim_df, rules, tmp_path_factory):
    """16 one-file snapshots: 16 scan tasks at the session's local[8], so
    the batch is not spread and every scan task writes its own rows."""
    root = tmp_path_factory.mktemp("well_split")
    src, out = str(root / "src"), str(root / "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=16)
    plans = _new_write_plans(
        spark,
        lambda: run_pipeline(spark, src, out, dim_df, rules),
    )
    return out, plans


def test_one_file_snapshots_write_one_file_per_sink(spark, well_split, golden):
    out, _ = well_split
    n_sinks = len(golden["sink_counts"])
    assert SnapshotLedger(out).committed() == set(range(16))
    assert 0 < len(_data_files(out)) <= 16 * n_sinks
    _assert_matches_oracle(spark, out, golden)


def test_well_split_write_has_no_sink_keyed_shuffle(well_split):
    """The write's executed plan repartitions nothing by sink: the rows go
    from the scan task that parsed them straight to their files."""
    _, plans = well_split
    assert len(plans) == 1, len(plans)
    assert "hashpartitioning(sink" not in plans[0]
    shuffles = [
        line for line in plans[0].splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    ]
    assert shuffles == [], shuffles


def test_under_split_batch_writes_from_scan_tasks(pipe_out, golden):
    """4 one-file snapshots are 4 scan tasks at local[8], fewer than the
    cores: nothing repartitions them, so each snapshot is written by its
    one scan task, one file per sink."""
    n_sinks = len(golden["sink_counts"])
    assert 0 < len(_data_files(pipe_out)) <= 4 * n_sinks


def test_snapshot_with_every_row_dropped_commits(
    spark, transcripts_pdf, golden, dim_df, rules, tmp_path
):
    """A snapshot holding only rows the route rules drop commits with a
    sentinel lineage row of rows_in == dropped, routed == 0 and no
    output-file rows, beside two snapshots that hold every routed row."""
    key = ["conv_id", "turn_idx"]
    routed_keys = golden["routed"][key].drop_duplicates()
    marked = transcripts_pdf.merge(routed_keys, on=key, how="left", indicator=True)
    is_routed = (marked["_merge"] == "both").to_numpy()
    kept, dropped = transcripts_pdf[is_routed], transcripts_pdf[~is_routed]
    assert len(dropped) == golden["dropped"] > 0
    half = len(kept) // 2
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    for k, part in enumerate((kept.iloc[:half], dropped, kept.iloc[half:])):
        d = os.path.join(src, f"snapshot={k}")
        os.makedirs(d)
        part.to_parquet(os.path.join(d, "part-0.parquet"), index=False)

    res = run_pipeline(spark, src, out, dim_df, rules)
    assert res["processed"] == [0, 1, 2]
    assert SnapshotLedger(out).committed() == {0, 1, 2}

    lin = read_lineage(spark, out).filter(F.col("snapshot_id") == 1).collect()
    sentinel = [r for r in lin if r["partition_id"] == -1]
    assert len(sentinel) == 1
    s = sentinel[0]
    assert s["rows_in"] == s["dropped"] == len(dropped)
    assert s["routed"] == 0
    assert [r for r in lin if r["partition_id"] >= 0 and r["sink"] is not None] == []
    _assert_matches_oracle(spark, out, golden)
