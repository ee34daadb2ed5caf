"""Pipeline spec (JSON config → run) and source builders."""

import json
import os

import pytest
from pyspark.sql import functions as F

from logpipe_spark.ledger import write_snapshots
from logpipe_spark.pipeline import read_sinks
from logpipe_spark.plans.spec import PipelineSpec
from logpipe_spark.sources.readers import exec_source, snapshot_source


def test_spec_json_roundtrip_and_run(spark, transcripts_pdf, rules, golden, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    cfg = json.dumps(
        {"source_dir": src, "out_dir": out, "rules": rules, "salt_partitions": 4}
    )
    spec = PipelineSpec.from_json(cfg)
    res = spec.run(spark)
    assert res["processed"] == [0, 1]
    got = {
        r["sink"]: r["n"]
        for r in read_sinks(spark, out).groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == dict(golden["sink_counts"])


def test_spec_validation_errors():
    with pytest.raises(ValueError, match="missing required key"):
        PipelineSpec.from_json(json.dumps({"source_dir": "x", "rules": []}))
    with pytest.raises(ValueError, match="missing keys"):
        PipelineSpec.from_json(
            json.dumps(
                {"source_dir": "x", "out_dir": "y", "rules": [{"rule_id": 1}]}
            )
        )


def test_snapshot_source_range_scan(spark, transcripts_pdf, tmp_path):
    src = str(tmp_path / "src")
    ids = write_snapshots(transcripts_pdf, src, n_snapshots=4)
    full = snapshot_source(spark, src).count()
    partial = snapshot_source(spark, src, snapshot_ids=ids[:2]).count()
    assert full == len(transcripts_pdf)
    assert 0 < partial < full


def test_exec_source(spark):
    df = exec_source(spark, ["printf", "l1\\nl2\\nl3\\n"], name="cmd1")
    rows = df.orderBy("line_no").collect()
    assert [r["text"] for r in rows] == ["l1", "l2", "l3"]
    assert rows[0]["filename"] == "cmd1"
    assert rows[2]["line_no"] == 3
    # built from pandas through Arrow: scanning it starts no Python worker
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    assert df.schema.simpleString() == (
        "struct<filename:string,line_no:bigint,text:string>"
    )


def test_spec_dim_types_match_row_inference_without_python_workers(spark):
    """The spec's ``dim`` rows get the column types the session's Row
    inference gives them (a NULL in a column included), but the frame is a
    local relation: scanning the broadcast build side starts no Python
    worker. A column that is NULL in every row is rejected as before."""
    from pyspark.errors import PySparkValueError

    rows = [
        {"tool": "grep", "role": "tool", "sink_hint": "s_grep", "priority": 3,
         "weight": 0.5, "active": True},
        {"tool": "ls", "role": "user", "sink_hint": None, "priority": None,
         "weight": None, "active": None},
    ]
    spec = PipelineSpec(source_dir="x", out_dir="y", rules=[], dim_rows=rows)
    dim = spec._dim(spark)
    want = spark.createDataFrame(rows)
    assert dim.schema == want.schema
    assert dim.orderBy("tool").collect() == want.orderBy("tool").collect()
    assert "PythonRDD" not in dim._jdf.queryExecution().toRdd().toDebugString()

    null_col = [{"tool": "grep", "x": None}, {"tool": "ls", "x": None}]
    with pytest.raises(PySparkValueError, match="CANNOT_DETERMINE_TYPE"):
        spark.createDataFrame(null_col)
    with pytest.raises(PySparkValueError, match="CANNOT_DETERMINE_TYPE"):
        PipelineSpec(
            source_dir="x", out_dir="y", rules=[], dim_rows=null_col
        )._dim(spark)


def test_unit_parsing():
    """util.c:525-568 semantics: float prefix, case-insensitive suffix,
    1024-based sizes, bare = base unit; unknown suffix is an error."""
    from logpipe_spark.functions.units import parse_duration_us, parse_size_bytes

    assert parse_size_bytes("10MB") == 10 * 1024 * 1024
    assert parse_size_bytes("1.5kb") == 1536
    assert parse_size_bytes("2GB") == 2 * 1024**3
    assert parse_size_bytes("1tb") == 1024**4
    assert parse_size_bytes("300B") == 300
    assert parse_size_bytes("4096") == 4096
    assert parse_size_bytes(4096) == 4096
    assert parse_duration_us("100ms") == 100_000
    assert parse_duration_us("2s") == 2_000_000
    assert parse_duration_us("50us") == 50
    assert parse_duration_us("750") == 750
    for bad in ("10XB", "ms100", "", "10 MB ish", None):
        with pytest.raises((ValueError, TypeError)):
            parse_size_bytes(bad)
    with pytest.raises(ValueError):
        parse_duration_us("5mb")


def test_select_input_files_walk(tmp_path):
    """Reference walk semantics (logpipe-input-file.c:593-739): survive iff
    ALL include globs match (AND) and NO exclude glob matches; sidecars
    skipped."""
    from logpipe_spark.sources.readers import select_input_files

    d = str(tmp_path)
    for n in ("a-1.parquet", "a-2.parquet", "b-1.parquet", "_SUCCESS", ".hidden"):
        open(os.path.join(d, n), "w").close()
    base = lambda paths: [os.path.basename(p) for p in paths]
    assert base(select_input_files(d)) == ["a-1.parquet", "a-2.parquet", "b-1.parquet"]
    assert base(select_input_files(d, include=["a-*"])) == ["a-1.parquet", "a-2.parquet"]
    # AND semantics across include globs, like files..files8
    assert base(select_input_files(d, include=["a-*", "*-1*"])) == ["a-1.parquet"]
    assert base(select_input_files(d, exclude=["*-2*"])) == ["a-1.parquet", "b-1.parquet"]
    assert base(select_input_files(d, include=["a-?.parquet"], exclude=["a-1*"])) == ["a-2.parquet"]


def test_spec_include_exclude_files(spark, transcripts_pdf, rules, golden, tmp_path):
    """Spec-driven source allowlist/denylist: an extra noise file in a
    snapshot dir is skipped at the file-list level, reproducing the golden
    (oracle) counts; without the filter the counts shift."""
    src = str(tmp_path / "src")
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    # plant a noise file with real rows in snapshot 0
    noise = transcripts_pdf.head(200).copy()
    noise.to_parquet(os.path.join(src, "snapshot=0", "noise-0.parquet"), index=False)

    out_noisy = str(tmp_path / "out_noisy")
    PipelineSpec.from_json(json.dumps(
        {"source_dir": src, "out_dir": out_noisy, "rules": rules}
    )).run(spark)
    noisy_total = read_sinks(spark, out_noisy).count()

    out_filtered = str(tmp_path / "out_filtered")
    spec = PipelineSpec.from_json(json.dumps({
        "source_dir": src, "out_dir": out_filtered, "rules": rules,
        "files": ["part-*.parquet"], "exclude_files": ["noise-*"],
        "max_partition_bytes": "64MB", "poll_interval": "100ms",
    }))
    assert spec.max_partition_bytes == 64 * 1024 * 1024
    assert spec.poll_interval_us == 100_000
    spec.run(spark)
    got = {
        r["sink"]: r["n"]
        for r in read_sinks(spark, out_filtered)
        .groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == dict(golden["sink_counts"])  # == python oracle
    assert noisy_total > sum(got.values())  # the filter actually removed rows


def test_spec_all_files_excluded_commits_empty(spark, transcripts_pdf, rules, tmp_path):
    from logpipe_spark.ledger import SnapshotLedger
    from logpipe_spark.pipeline import read_lineage

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    res = PipelineSpec.from_json(json.dumps({
        "source_dir": src, "out_dir": out, "rules": rules,
        "files": ["does-not-match-*"],
    })).run(spark)
    assert res["processed"] == [0, 1]
    assert SnapshotLedger(out).committed() == {0, 1}
    lin = read_lineage(spark, out)
    assert lin.agg(F.sum("rows_in")).first()[0] == 0
    with pytest.raises(ValueError):
        read_sinks(spark, out)


def test_exec_source_byte_cap_truncates_at_line(spark):
    """Driver-memory guard: stdout beyond max_bytes is dropped at the last
    complete line — never a partial line, never unbounded driver memory."""
    df = exec_source(
        spark, ["printf", "aaaa\\nbbbb\\ncccc\\n"], name="capped", max_bytes=12
    )
    rows = df.orderBy("line_no").collect()
    assert [r["text"] for r in rows] == ["aaaa", "bbbb"]


def test_spec_conf_restore(spark, transcripts_pdf, rules, tmp_path):
    """max_partition_bytes is per-spec scan tuning: the session conf must
    be restored after run(), not leaked into later jobs."""
    src = str(tmp_path / "src")
    write_snapshots(transcripts_pdf, src, n_snapshots=1)
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    PipelineSpec.from_json(json.dumps({
        "source_dir": src, "out_dir": str(tmp_path / "out"), "rules": rules,
        "max_partition_bytes": "1MB",
    })).run(spark)
    assert spark.conf.get(key) == before


def test_spec_run_streaming_consumes_poll_interval(spark, transcripts_pdf, rules, tmp_path):
    """poll_interval is wired: run_streaming passes it as the processing
    trigger (available_now=False) and the stream drains the source."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    write_snapshots(transcripts_pdf, src, n_snapshots=2)
    spec = PipelineSpec.from_json(json.dumps({
        "source_dir": src, "out_dir": out, "rules": rules,
        "poll_interval": "200ms",
    }))
    res = spec.run_streaming(spark, available_now=False, timeout_sec=25)
    assert res["batches"] >= 1
    from logpipe_spark.streaming.stream import read_stream_sinks
    assert read_stream_sinks(spark, out).count() > 0


def test_units_overflow_is_value_error():
    from logpipe_spark.functions.units import parse_duration_us, parse_size_bytes

    for bad in ("9e999", "1e400"):
        with pytest.raises(ValueError, match="out of range"):
            parse_size_bytes(bad)
        with pytest.raises(ValueError, match="out of range"):
            parse_duration_us(bad + "us")


def test_exec_source_nonzero_exit_raises(spark):
    """A failed command must not be silently ingested as a clean run
    (ADVICE r2): strict mode raises; best-effort mode keeps the output."""
    argv = ["sh", "-c", "echo partial; exit 3"]
    with pytest.raises(RuntimeError, match="exited 3"):
        exec_source(spark, argv)
    rows = exec_source(spark, argv, strict=False).collect()
    assert [r["text"] for r in rows] == ["partial"]


def test_exec_source_timeout_kill_raises(spark):
    """Watchdog kill is a partial run — strict mode surfaces it."""
    argv = ["sh", "-c", "echo line1; sleep 30"]
    with pytest.raises(RuntimeError, match="timeout"):
        exec_source(spark, argv, timeout_sec=1.0)
    rows = exec_source(spark, argv, timeout_sec=1.0, strict=False).collect()
    assert [r["text"] for r in rows] == ["line1"]


def test_exec_source_waits_for_exit_after_stdout_eof(spark):
    """A child that closes stdout before it exits finished cleanly: its
    exit status is read, not replaced by a kill."""
    argv = ["sh", "-c", "echo line1; exec >&-; sleep 0.5"]
    rows = exec_source(spark, argv, timeout_sec=10.0).collect()
    assert [r["text"] for r in rows] == ["line1"]


def test_select_input_files_empty_and_nested_raise(tmp_path):
    """'' from the walk must only ever mean all-globbed-out (ADVICE r2):
    a dataless dir and a nested layout raise instead of silently losing
    the snapshot to a zero-row commit."""
    from logpipe_spark.sources.readers import select_input_files

    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="no data files"):
        select_input_files(str(empty))

    nested = tmp_path / "nested"
    (nested / "sub").mkdir(parents=True)
    (nested / "sub" / "x.parquet").write_bytes(b"")
    with pytest.raises(ValueError, match="subdirectories"):
        select_input_files(str(nested))

    with pytest.raises(FileNotFoundError):
        select_input_files(str(tmp_path / "missing"))

    flat = tmp_path / "flat"
    flat.mkdir()
    (flat / "a.parquet").write_bytes(b"")
    (flat / "_SUCCESS").write_bytes(b"")
    assert select_input_files(str(flat), include=["zzz-*"]) == []  # all filtered: OK


def test_text_lines_roundtrip_byte_faithful(spark, transcripts_pdf, golden, tmp_path):
    """The reference's CORE contract — lines in == lines out, byte for
    byte: write routed transcripts through the raw text sink (one dir per
    sink), read them back with the text source, and compare the multiset
    of lines per sink against the pure-python routing oracle."""
    from logpipe_spark.fixtures import default_route_rules, gen_tool_role_dim
    from logpipe_spark.operators.writers import write_text_lines
    from logpipe_spark.pipeline import build_stage_chain
    from logpipe_spark.sources.readers import text_lines_source

    df = spark.createDataFrame(transcripts_pdf)
    dim = spark.createDataFrame(gen_tool_role_dim())
    routed = build_stage_chain(df, dim, default_route_rules()).filter(
        F.col("sink").isNotNull()
    )
    out = str(tmp_path / "textout")
    write_text_lines(routed, out, partition_cols=["sink"])

    exp_by_sink = {}
    for sink, text in zip(
        golden["routed"]["sink"], golden["routed"]["text"]
    ):
        exp_by_sink.setdefault(sink, []).append(text)

    for sink, exp_lines in exp_by_sink.items():
        got = [
            r["text"]
            for r in text_lines_source(spark, os.path.join(out, f"sink={sink}")).collect()
        ]
        assert sorted(got) == sorted(exp_lines), f"byte mismatch in {sink}"

    # include/exclude globs prune the read-back file list too
    some_sink = next(iter(exp_by_sink))
    d = os.path.join(out, f"sink={some_sink}")
    n_all = text_lines_source(spark, d).count()
    n_inc = text_lines_source(spark, d, include=["part-*"]).count()
    assert n_all == n_inc > 0
    with pytest.raises(ValueError, match="filtered out"):
        text_lines_source(spark, d, include=["zzz-*"])


@pytest.mark.parametrize(
    "field, value",
    [("dim_keys", ["tool"]), ("files", ["part-*.parquet"]), ("exclude_files", ["*.tmp"])],
)
def test_spec_run_streaming_rejects_batch_only_fields(spark, rules, tmp_path, field, value):
    """The stream enriches on (tool, role) and reads every file: a spec
    that sets dim_keys, files or exclude_files fails by name before any
    query starts, instead of enriching and filtering differently than
    run() does."""
    spec = PipelineSpec.from_json(json.dumps({
        "source_dir": str(tmp_path / "src"), "out_dir": str(tmp_path / "out"),
        "rules": rules, field: value,
    }))
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match=field):
        spec.run_streaming(spark)
    assert len(spark.streams.active) == active
    assert not os.path.exists(tmp_path / "out")
