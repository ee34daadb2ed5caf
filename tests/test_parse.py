"""Parse-stage parity: the builtin (JVM) path == the Python oracle."""

import pandas as pd

from logpipe_spark.operators.parse import (
    PARSE_COLS,
    extract_builtin,
    make_grok_udf,
)
from logpipe_spark.oracle import parse_text


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for c in ("error_code", "meta_offset", "meta_line", "n_fields"):
        out[c] = out[c].astype("Float64")  # unify null int flavors
    for c in ("tool_called", "call_args", "call_status", "error_msg",
              "meta_system", "meta_server"):
        out[c] = out[c].where(pd.notna(out[c]), None)
    return out


def test_builtin_matches_oracle(spark, transcripts_df, transcripts_pdf):
    got = _normalize(
        extract_builtin(transcripts_df).select(
            "conv_id", "turn_idx", *PARSE_COLS
        ).toPandas()
    )
    exp_rows = [parse_text(t) for t in transcripts_pdf["text"]]
    exp = pd.DataFrame(exp_rows)
    exp.insert(0, "conv_id", transcripts_pdf["conv_id"].values)
    exp.insert(1, "turn_idx", transcripts_pdf["turn_idx"].values)
    exp = _normalize(exp)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_text_never_rewritten(spark, transcripts_df, transcripts_pdf):
    """Byte-exact passthrough invariant (FIXTURES.md §1)."""
    got = (
        extract_builtin(transcripts_df)
        .select("conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = (
        transcripts_pdf[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert got["text"].tolist() == exp["text"].tolist()


def test_grok_udf_factory(spark, transcripts_df):
    from pyspark.sql import functions as F

    grok = make_grok_udf({"status": r"-> (\w+)$"})
    got = (
        transcripts_df.withColumn("g", grok(F.col("text")))
        .select("g.status")
        .filter(F.col("status").isNotNull())
        .distinct()
        .toPandas()
    )
    assert set(got["status"]) <= {"ok", "timeout", "denied"}
    assert len(got) > 0
