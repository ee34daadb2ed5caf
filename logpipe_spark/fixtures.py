"""Deterministic synthetic transcript fixtures (FIXTURES.md §1-3).

Seeded (default 42) so the pure-Python oracle (``oracle.py``) and the Spark
pipeline see byte-identical inputs. Shapes mirror the log-line grammars the
reference parses:

- tool-call lines           → ES `$N` templates (`logpipe-output-es.c:464-517`)
- ERROR lines               → grep filter targets (`logpipe-output-es.c:610-617`)
- bracket-metadata headers  → filter-unpack-metadata
  (`src-plugins/logpipe-filter-pack-metadata.c:5-7`)
- prose field lines         → separator tokenization (`logpipe-output-es.c:642-661`)
- multibyte payloads        → GB18030 lines in `test/press_logpipe.c:22,42`

Generation is fully vectorized (numpy + pandas) so bench-scale inputs
(millions of turns) build in seconds.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

SEED = 42
BASE_TS = np.datetime64("2026-01-01T00:00:00")

ROLES = np.array(["user", "assistant", "system", "tool"])
ROLE_W = np.array([0.35, 0.40, 0.05, 0.20])
KNOWN_TOOLS = np.array(["bash", "search", "browser", "editor", "sql"])
UNKNOWN_TOOLS = np.array(["quantum", "plugin_x", "legacy9"])  # absent from dim
STATUSES = np.array(["ok", "ok", "ok", "timeout", "denied"])
SYSTEMS = np.array(["auth", "billing", "核心", "edge"])
SERVERS = np.array(["host01", "host02", "hostZ"])
# word pool includes UTF-8 multibyte content (reference handles GB18030)
WORDS = np.array(
    "the quick log pipe stream turn agent reply query batch shuffle spark "
    "día 模型 日志 naïve Größe søk tool call trace flush merge route sink "
    "offset line byte frame block tail rotate watch plan token".split()
)

TOOL_FAMILY = {
    "bash": "shell",
    "search": "retrieval",
    "browser": "ui",
    "editor": "ui",
    "sql": "data",
    "none": "shell",
}


def gen_transcripts(n_turns: int, seed: int = SEED) -> pd.DataFrame:
    """Transcript table per BASELINE.json input_hint:
    (conv_id, turn_idx, role, text, tool, ts).

    Zipf-skewed conversation lengths; conv00000000 is forced hot
    (~15% of all turns) to exercise skew salting (FIXTURES.md §6).
    """
    rng = np.random.default_rng(seed)
    hot = max(1, int(n_turns * 0.15))
    rest = n_turns - hot
    sizes = [hot]
    while rest > 0:
        chunk = np.minimum(rng.zipf(1.4, size=max(64, rest // 4)), 200)
        take = np.cumsum(chunk) <= rest
        chunk = chunk[take]
        if chunk.size == 0:
            sizes.append(rest)
            break
        sizes.extend(chunk.tolist())
        rest -= int(chunk.sum())
    sizes = np.array(sizes, dtype=np.int64)
    n_convs = sizes.size

    conv_ids = np.repeat(
        np.array([f"conv{i:08d}" for i in range(n_convs)], dtype=object), sizes
    )
    # per-conv dense 0..len-1: global arange minus repeated conv start offsets
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    turn_idx = (np.arange(sizes.sum()) - np.repeat(starts, sizes)).astype(np.int32)
    n = int(sizes.sum())

    role = rng.choice(ROLES, size=n, p=ROLE_W)
    kind = rng.choice(4, size=n, p=[0.30, 0.10, 0.10, 0.50])  # call/error/meta/prose

    tool = np.full(n, "none", dtype=object)
    call_mask = kind == 0
    n_call = int(call_mask.sum())
    picked = rng.choice(KNOWN_TOOLS, size=n_call)
    unknown = rng.random(n_call) < 0.03
    picked[unknown] = rng.choice(UNKNOWN_TOOLS, size=int(unknown.sum()))
    tool[call_mask] = picked

    # vectorized text assembly
    w = WORDS[rng.integers(0, WORDS.size, size=(n, 12))]
    prose = pd.Series(["" for _ in range(n)], dtype=object)
    prose = pd.Series(w[:, 0]).str.cat([pd.Series(w[:, j]) for j in range(1, 12)], sep=" ")

    status = rng.choice(STATUSES, size=n)
    args = pd.Series(w[:, 0]).str.cat(pd.Series(w[:, 1]), sep=",")
    call_txt = (
        "CALL " + pd.Series(tool, dtype=object) + "(" + args + ") -> " + pd.Series(status)
    )
    code = rng.integers(400, 600, size=n)
    err_txt = "ERROR " + pd.Series(code).astype(str) + " " + prose.str.slice(0, 80)
    meta_txt = (
        "[[system=" + pd.Series(rng.choice(SYSTEMS, size=n))
        + "][server=" + pd.Series(rng.choice(SERVERS, size=n))
        + "][offset=" + pd.Series(rng.integers(0, 10**9, size=n)).astype(str)
        + "][line=" + pd.Series(rng.integers(1, 10**6, size=n)).astype(str)
        + "]]" + prose.str.slice(0, 60)
    )
    text = prose.copy()
    text[kind == 0] = call_txt[kind == 0]
    text[kind == 1] = err_txt[kind == 1]
    text[kind == 2] = meta_txt[kind == 2]

    # monotone per-conv timestamps: cumulative seeded increments within conv
    incr = rng.integers(1, 90, size=n).astype("int64")
    cum = np.cumsum(incr)
    conv_base = cum - np.repeat(cum[starts] - incr[starts], sizes)
    ts = BASE_TS + conv_base.astype("timedelta64[s]")

    return pd.DataFrame(
        {
            "conv_id": conv_ids,
            "turn_idx": turn_idx,
            "role": role,
            "text": text.astype(object),
            "tool": tool,
            "ts": ts,
        }
    )


def gen_tool_role_dim() -> pd.DataFrame:
    """Broadcast enrichment dimension (FIXTURES.md §2): 24 rows, so Spark
    always picks a broadcast hash join (north rule §2.5)."""
    rng = np.random.default_rng(SEED + 1)
    rows = []
    # plain python strs: numpy.str_ defeats Spark's non-Arrow type inference
    for tool in [str(t) for t in KNOWN_TOOLS] + ["none"]:
        for role in [str(r) for r in ROLES]:
            rows.append(
                {
                    "tool": tool,
                    "role": role,
                    "sink_hint": f"sink_tool_{tool}" if tool != "none" else f"sink_role_{role}",
                    "priority": int(rng.integers(0, 10)),
                    "tool_family": TOOL_FAMILY[tool],
                }
            )
    return pd.DataFrame(rows)


def default_route_rules() -> list[dict]:
    """First-match-wins routing rules (FIXTURES.md §3).

    Glob semantics follow the reference matcher (`IsMatchString`,
    `src-plugins/logpipe-input-file.c:477-529`): ``*``/``?`` only,
    whole-string anchored. Exclude rules mirror `exclude_files*`
    (`logpipe-input-file.c:593-739`); text-substring rules mirror the ES
    `grep` option (`logpipe-output-es.c:610-617`).
    """
    return [
        {"rule_id": 5, "match_col": "text", "pattern": "*denied*", "exclude": True, "sink": "DROP"},
        {"rule_id": 10, "match_col": "text", "pattern": "ERROR *", "exclude": False, "sink": "sink_errors"},
        {"rule_id": 20, "match_col": "tool", "pattern": "bash", "exclude": False, "sink": "sink_assistant_tool"},
        {"rule_id": 21, "match_col": "tool", "pattern": "s??rch", "exclude": False, "sink": "sink_assistant_tool"},
        {"rule_id": 22, "match_col": "tool", "pattern": "browser", "exclude": False, "sink": "sink_assistant_tool"},
        {"rule_id": 23, "match_col": "tool", "pattern": "editor", "exclude": False, "sink": "sink_assistant_tool"},
        {"rule_id": 24, "match_col": "tool", "pattern": "sql", "exclude": False, "sink": "sink_assistant_tool"},
        {"rule_id": 99, "match_col": "role", "pattern": "*", "exclude": False, "sink": "sink_default"},
    ]


def write_transcripts_dir(path: str, n_turns: int, n_files: int = 32) -> str:
    """Materialize a transcript fixture as a directory of ``n_files``
    parquet parts — a realistic splittable table layout (a single
    pandas-written file is one row group = one Spark input split, which
    serializes the scan and hides all parallelism)."""
    import numpy as np

    os.makedirs(path, exist_ok=True)
    df = gen_transcripts(n_turns)
    for i, chunk in enumerate(np.array_split(df.index, n_files)):
        df.loc[chunk].to_parquet(
            os.path.join(path, f"part-{i:05d}.parquet"), index=False
        )
    return path
