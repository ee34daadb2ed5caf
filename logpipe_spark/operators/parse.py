"""Parse stage — vectorized grok/regex extraction from the `text` column.

Reimplements the intent of the reference's only row transforms:

- filter-unpack-metadata: bracket-header parse restoring system/server/
  offset/line (`src-plugins/logpipe-filter-unpack-metadata.c:79-140`;
  its 6-char key compare / strnlen offset bugs at :126-144 are NOT kept)
- ES output tokenization: separator-charset field split with runs of
  separators collapsed (`src-plugins/logpipe-output-es.c:628-661`)
- grep prefilter before tokenize (`logpipe-output-es.c:610-626`) — mirrored
  here by guarding each expensive regex with a cheap `startswith`/`contains`
  predicate, which Catalyst keeps ahead of the extraction expressions.

``extract_builtin`` is pure `pyspark.sql.functions` (JVM, whole-stage
codegen). It adds columns and NEVER rewrites ``text`` (the per-turn
byte-equality invariant is passthrough — FIXTURES.md §1).
``make_grok_udf`` builds the extensible "grok plugin" path, analogous to
the reference's dlopen filter ABI (`src/logpipe_api.h:130-158`): an
Arrow-batched pandas UDF for patterns outside the fixed set. No per-row
Python: batches only.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

CALL_PAT = r"^CALL (\w+)\(([^)]*)\) -> (\w+)"
ERROR_PAT = r"^ERROR (\d{3}) (.*)$"
META_PAT = r"^\[\[system=([^\]]*)\]\[server=([^\]]*)\]\[offset=(\d+)\]\[line=(\d+)\]\](.*)$"

PARSE_COLS = [
    "tool_called", "call_args", "call_status", "error_code", "error_msg",
    "meta_system", "meta_server", "meta_offset", "meta_line", "n_fields",
]


def _guarded(
    text: Column, prefix: str, pat: str, group: int, empty_capable: bool = False
) -> Column:
    """Cheap prefix guard before the regex (grep-before-tokenize,
    `logpipe-output-es.c:610-626`); NULL on no-match instead of
    regexp_extract's empty string.

    ``empty_capable=False`` (a group like ``(\\w+)`` that cannot match the
    empty string): ONE regex pass — ``nullif(regexp_extract, '')`` is
    exactly equivalent to guarding with rlike, because '' only ever means
    "pattern didn't match". The rlike+extract double execution was ~2
    regex passes over `text` per row on the hot families — measurable
    memory-bandwidth relief at 96M rows (BENCH.md round 3).

    ``empty_capable=True`` (a group like ``([^)]*)``): keep the rlike
    guard, since a matched-empty group must stay '' (oracle parity), not
    be folded to NULL."""
    if empty_capable:
        return F.when(
            text.startswith(prefix) & text.rlike(pat),
            F.regexp_extract(text, pat, group),
        )
    return F.when(
        text.startswith(prefix), F.nullif(F.regexp_extract(text, pat, group), F.lit(""))
    )


def n_fields_col(text: Column) -> Column:
    """Count of non-empty space-separated tokens — separator runs collapse,
    matching `logpipe-output-es.c:642-661`. Higher-order fn, stays JVM-side.

    Measured note: `regexp_count(text, '[^ ]+')` is 1.6× faster than this
    split/filter/size in ISOLATION (no token-array allocation), but 20%
    slower inside the full parse→route chain (interleaved A/B at 96M rows,
    local[32]) — the chain already runs several regexes over `text` and
    the extra regex-engine pass costs more than the avoided allocation.
    Keep the split form; re-measure in context before "optimizing" this."""
    return F.size(F.filter(F.split(text, " "), lambda x: x != F.lit(""))).cast("int")


def extract_builtin(df: DataFrame) -> DataFrame:
    """JVM-native extraction from ``df.text`` (whole-stage codegen)."""
    t = F.col("text")
    return df.withColumns(
        {
            # empty_capable flags follow the capture groups: (\w+)/(\d+)
            # can't match empty → single-pass nullif form; ([^)]*)/(.*)/
            # ([^\]]*) can → keep the rlike guard for oracle-exact ''
            "tool_called": _guarded(t, "CALL ", CALL_PAT, 1),
            "call_args": _guarded(t, "CALL ", CALL_PAT, 2, empty_capable=True),
            "call_status": _guarded(t, "CALL ", CALL_PAT, 3),
            "error_code": _guarded(t, "ERROR ", ERROR_PAT, 1).cast("int"),
            "error_msg": _guarded(t, "ERROR ", ERROR_PAT, 2, empty_capable=True),
            "meta_system": _guarded(t, "[[", META_PAT, 1, empty_capable=True),
            "meta_server": _guarded(t, "[[", META_PAT, 2, empty_capable=True),
            "meta_offset": _guarded(t, "[[", META_PAT, 3).cast("long"),
            "meta_line": _guarded(t, "[[", META_PAT, 4).cast("long"),
            "n_fields": n_fields_col(t),
        }
    )


def make_grok_udf(patterns: dict[str, str]):
    """General grok-plugin factory: {column_name: regex-with-one-group} →
    pandas UDF returning a string struct. The Spark analogue of loading a
    custom filter plugin (`src/config.c:151-196` dlopen/dlsym)."""
    compiled = {k: re.compile(v) for k, v in patterns.items()}
    schema = T.StructType([T.StructField(k, T.StringType()) for k in patterns])

    @pandas_udf(schema)
    def grok(text: pd.Series) -> pd.DataFrame:
        out = {}
        for name, rx in compiled.items():
            out[name] = text.str.extract(rx, expand=False)
        return pd.DataFrame(out)

    return grok
