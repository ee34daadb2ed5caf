"""``pipeline.write_batch``, the write-and-lineage core batch and stream
mode share: a key written twice (the stream's replay of a batch id, the
batch's resume after a crash) holds exactly one copy of its rows and its
lineage."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from logpipe_spark.pipeline import build_stage_chain, write_batch


@pytest.mark.parametrize(
    "key_col, run_id, head",
    [
        ("batch", None, ["batch_id"]),
        ("snapshot", "r1", ["run_id", "snapshot_id"]),
    ],
)
def test_write_batch_twice_keeps_one_copy(
    spark, transcripts_df, dim_df, rules, golden, tmp_path, key_col, run_id, head
):
    out = str(tmp_path / "out")
    routed = build_stage_chain(transcripts_df, dim_df, rules).withColumn(
        key_col, F.lit(7)
    )
    first = write_batch(routed, key_col, [7], out, {}, run_id)
    second = write_batch(routed, key_col, [7], out, {}, run_id)
    assert first == second
    n_routed = sum(golden["sink_counts"].values())
    assert second[7]["routed"] == n_routed
    assert second[7]["rows_in"] == second[7]["routed"] + second[7]["dropped"]

    data = os.path.join(out, "data")
    assert [d for d in os.listdir(data) if not d.startswith(("_", "."))] == [f"{key_col}=7"]
    got = spark.read.option("basePath", data).parquet(data)
    assert got.count() == n_routed
    assert got.select("conv_id", "turn_idx").distinct().count() == n_routed

    lineage = glob.glob(os.path.join(out, "lineage", "*", "*.parquet"))
    assert [os.path.basename(os.path.dirname(f)) for f in lineage] == [f"{key_col}=7"]
    lin = pq.read_table(lineage[0]).to_pandas()
    assert list(lin.columns[: len(head)]) == head
    assert (lin["partition_id"] == -1).sum() == 1
    files = lin[lin["partition_id"] >= 0]
    assert all(os.path.isfile(f) for f in files["file"])
    assert sorted(files["file"]) == sorted(
        glob.glob(os.path.join(data, "**", "*.parquet"), recursive=True)
    )
    assert files["routed"].sum() == n_routed


def test_write_batch_drops_a_killed_writes_staging(
    spark, transcripts_df, dim_df, rules, golden, tmp_path
):
    """A write killed after some of its tasks committed leaves their files
    under ``data/_temporary``; the next append's job commit would merge
    them into the data. ``write_batch`` clears the staging dir first, so a
    replay holds only its own rows."""
    out = str(tmp_path / "out")
    ghost = os.path.join(
        out, "data", "_temporary", "0", "task_202601010000000000000_0001_m_000000",
        "batch=3", "sink=ghost",
    )
    os.makedirs(ghost)
    transcripts_df.limit(10).toPandas().to_parquet(
        os.path.join(ghost, "part-ghost.parquet"), index=False
    )
    routed = build_stage_chain(transcripts_df, dim_df, rules).withColumn(
        "batch", F.lit(3)
    )
    write_batch(routed, "batch", [3], out, {}, None)
    data = os.path.join(out, "data")
    assert not glob.glob(os.path.join(data, "**", "part-ghost*"), recursive=True)
    got = spark.read.option("basePath", data).parquet(data)
    assert got.count() == sum(golden["sink_counts"].values())
