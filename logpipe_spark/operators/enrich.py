"""Enrich stage — broadcast hash join against small lookup dimensions.

The reference's enrichment is static-tag prepending
(`src-plugins/logpipe-filter-pack-metadata.c:122-152`: system/server tags
string-packed into each block) plus `$tag`-indexed HDFS dir selection
(`src-plugins/logpipe-output-hdfs.c:367-374`). Generalized here, per the
north rule, to a broadcast hash join against a (tool, role) dimension —
metadata stays in typed columns, never string-packed.

Scale notes: the dim is tiny (≤ a few MB even with thousands of tools), so
``F.broadcast`` pins a broadcast-hash-join — zero shuffle of the fact side,
which is the whole game at 10^12 rows. Left-anti/semi variants provide the
dropped-row accounting of the reference's exclude-glob walk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the dimension's join key, unless a caller of ``enrich`` names another
DIM_KEYS = ["tool", "role"]


def enrich(
    fact: DataFrame,
    dim: DataFrame,
    keys: list[str] | None = None,
    how: str = "left",
) -> DataFrame:
    """Broadcast-join `dim` onto `fact`; unmatched rows keep NULL enrich
    columns (accounted separately, not dropped)."""
    return fact.join(F.broadcast(dim), on=keys or DIM_KEYS, how=how)


def unmatched(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """Rows whose key misses the dimension — broadcast left-anti join
    (the 'dropped' accounting analogue of exclude_files,
    `logpipe-input-file.c:593-739`)."""
    return fact.join(F.broadcast(dim), on=DIM_KEYS, how="left_anti")


def matched(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """Broadcast left-semi join — the allowlist filter (include-globs)."""
    return fact.join(F.broadcast(dim), on=DIM_KEYS, how="left_semi")
