"""Change-data-capture merge: apply an upsert/delete change stream onto a
base table (the batch MERGE INTO a lakehouse runs between snapshot ledger
commits — see ``logpipe_spark/ledger.py`` for where this slots in: a
snapshot's changes fold into the next committed state).

Related family: :func:`logpipe_spark.operators.asof.scd2_intervals` keeps
EVERY historical value as an interval; this keeps only the LATEST state —
the two standard shapes of dimension maintenance.

100 TB shape: latest-change selection is a per-key window over the CHANGE
stream only (deltas are orders of magnitude smaller than the base), then
ONE full-outer sort-merge join base ⋈ latest on the key — each side
shuffled once by key, no driver collection, no iteration. A pathologically
hot key in the change stream would use the pipeline's standard salting
defense; base keys are unique by contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_changes(
    base: DataFrame,
    changes: DataFrame,
    key_col: str,
    order_cols: list[str],
) -> DataFrame:
    """Latest-wins merge of ``changes`` into ``base``.

    ``changes`` carries ``key_col``, ``op`` ('U' upsert / 'D' delete),
    the ``order_cols`` sequence (ties must be broken by the caller's last
    order column — use a unique id), and the full payload schema of
    ``base``. Per key, only the LAST change by ``order_cols`` applies:
    'U' inserts or replaces the base row, 'D' removes it; keys without
    changes pass through. Output schema == base schema.
    """
    payload = [c for c in base.columns if c != key_col]
    missing = [c for c in payload if c not in changes.columns]
    if missing:
        raise ValueError(f"changes missing payload columns: {missing}")

    w = Window.partitionBy(key_col).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    latest = (
        changes.select(key_col, "op", *order_cols, *payload)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", *order_cols)
    )

    b = base.alias("b")
    c = latest.alias("c")
    joined = b.join(c, on=F.col(f"b.{key_col}") == F.col(f"c.{key_col}"), how="full_outer")
    take_change = F.col(f"c.op").isNotNull()
    return (
        joined
        # a latest 'D' deletes whether or not the key exists in base; a
        # latest 'U' upserts; no change -> base row survives untouched
        .filter(~(take_change & (F.col(f"c.op") == "D")))
        .select(
            F.coalesce(F.col(f"b.{key_col}"), F.col(f"c.{key_col}")).alias(key_col),
            *[
                F.when(take_change, F.col(f"c.{p}"))
                .otherwise(F.col(f"b.{p}"))
                .alias(p)
                for p in payload
            ],
        )
    )
