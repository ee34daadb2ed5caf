"""Sink writers: partitioned layouts on disk + ES bulk rendering."""

import os

import pytest
from pyspark.sql import functions as F

from logpipe_spark.operators.writers import (
    render_es_bulk,
    write_date_partitioned,
    write_partitioned_by_key,
)


def test_write_partitioned_by_key(spark, transcripts_df, tmp_path):
    out = str(tmp_path / "bykey")
    small = transcripts_df.filter(F.col("conv_id").isin("conv00000000", "conv00000001"))
    write_partitioned_by_key(small, out)
    dirs = {d for d in os.listdir(out) if d.startswith("conv_id=")}
    assert dirs == {"conv_id=conv00000000", "conv_id=conv00000001"}
    back = spark.read.parquet(out)
    assert back.count() == small.count()


def test_write_date_partitioned(spark, transcripts_df, tmp_path):
    out = str(tmp_path / "byday")
    write_date_partitioned(transcripts_df, out)
    days = sorted(d for d in os.listdir(out) if d.startswith("day="))
    assert days and all(len(d) == len("day=20260101") for d in days)
    assert days[0] == "day=20260101"
    back = spark.read.parquet(out)
    assert back.count() == transcripts_df.count()
    # appending again doubles rows, never rewrites (merge-by-append contract)
    write_date_partitioned(transcripts_df, out)
    assert spark.read.parquet(out).count() == 2 * transcripts_df.count()


def test_render_es_bulk_shape(spark):
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(7),
                "text": [f"spark word{i} tail" if i % 2 == 0 else f"plain word{i}" for i in range(7)],
            }
        )
    )
    out = render_es_bulk(
        docs,
        doc_template='{"id":$0,"w":"$2"}',
        key_col=F.col("doc_id").cast("string"),
        grep="spark",
        batch_rows=2,
        order_col="doc_id",
        batch_mode="rank",
    ).orderBy("batch_id").collect()
    # docs 0,2,4,6 match grep → batches of 2 → 2 batches
    assert [r["n_docs"] for r in out] == [2, 2]
    first = out[0]["payload"]
    assert first.startswith('{"index":{}}\n{"id":0,"w":"word0"}\n')
    assert first.endswith("\n")
    assert first.count('{"index":{}}') == 2


def test_render_es_bulk_min_fields(spark):
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["spark a b c", "spark"]})
    )
    out = render_es_bulk(
        docs, '{"id":$0}', F.col("doc_id").cast("string"),
        grep="spark", min_fields=3, order_col="doc_id",
    ).collect()
    assert sum(r["n_docs"] for r in out) == 1


def test_render_es_bulk_keyed_no_global_window(spark):
    """Keyed batching (the default/scale mode): batch_id is a projection of
    the order key — correct payload grouping AND no Window operator / no
    single-partition exchange in the physical plan."""
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(10), "text": [f"spark w{i} t" for i in range(10)]})
    )
    df = render_es_bulk(
        docs, '{"id":$0}', F.col("doc_id").cast("string"),
        grep="spark", batch_rows=4, order_col="doc_id",
    )
    out = {r["batch_id"]: r for r in df.collect()}
    # floor(doc_id/4): batches {0..3}, {4..7}, {8,9}
    assert {k: out[k]["n_docs"] for k in sorted(out)} == {0: 4, 1: 4, 2: 2}
    assert out[2]["payload"] == '{"index":{}}\n{"id":8}\n{"index":{}}\n{"id":9}\n'
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_write_rotation_max_records(spark, transcripts_df, tmp_path):
    """Size-rotation analogue: maxRecordsPerFile rolls files within a
    partition dir (logpipe-output-file.c:160-205 rotates on bytes)."""
    out = str(tmp_path / "rotate")
    one = transcripts_df.filter(F.col("conv_id") == "conv00000000").coalesce(1)
    n = one.count()
    assert n > 10
    write_partitioned_by_key(one, out, max_records_per_file=5)
    pdir = os.path.join(out, "conv_id=conv00000000")
    files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
    assert len(files) >= n // 5  # rolled into multiple files
    import pyarrow.parquet as pq

    assert max(pq.ParquetFile(os.path.join(pdir, f)).metadata.num_rows for f in files) <= 5
    assert spark.read.parquet(out).count() == n


def test_render_es_bulk_keyed_rejects_non_numeric_order(spark):
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["a", "b"], "text": ["spark x", "spark y"]})
    )
    with pytest.raises(ValueError, match="numeric order_col"):
        render_es_bulk(
            docs, '{"k":$0}', F.col("conv_id"), grep="spark", batch_mode="keyed"
        )
    with pytest.raises(ValueError, match="numeric column"):
        render_es_bulk(
            docs, '{"k":$0}', F.col("conv_id"), grep="spark", order_col="conv_id",
            batch_mode="keyed",
        )
    # default auto mode falls back to rank for these callers (ADVICE r2:
    # backward compatible) — small-export path, but it must work
    out = render_es_bulk(docs, '{"k":$0}', F.col("conv_id"), grep="spark").collect()
    assert sum(r["n_docs"] for r in out) == 2
