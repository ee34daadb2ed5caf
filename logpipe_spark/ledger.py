"""Snapshot ledger — resumable, exactly-once micro-batch bookkeeping.

The reference's resumability is a per-file byte-offset/line ledger committed
AFTER all outputs accept a block (`logpipe-input-file.c:1901-1925`), with a
monitor that restarts crashed workers (`src/monitor.c:89-181`) — an
at-least-once contract with no output-side dedup.

The Spark-native upgrade is snapshot-granular exactly-once:

- the SOURCE is a directory of immutable snapshot partitions
  ``src/snapshot=<k>/*.parquet`` (the stand-in for Iceberg snapshot ranges;
  with a real Iceberg catalog these are `start-snapshot-id` incremental
  scans — no code change above this module).
- the LEDGER is a JSON manifest of committed snapshot ids per sink root,
  written atomically (tmp + rename). A killed run leaves only uncommitted
  snapshots' output behind; re-running clears exactly those snapshots'
  output directories, rewrites them (idempotent) and commits each once.
  Each commit records the snapshot's lineage counters in ``metrics``.

Tests kill a run between write and commit and assert no duplicated routed
rows after resume (SURVEY.md §5 invariant 3).
"""

from __future__ import annotations

import json
import os
import re
import time


class SnapshotLedger:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.manifest_path = os.path.join(out_dir, "_ledger.json")
        os.makedirs(out_dir, exist_ok=True)

    # -- source side -------------------------------------------------------
    @staticmethod
    def list_snapshots(src_dir: str) -> list[int]:
        """Snapshot ids present under ``src_dir/snapshot=<k>/``, ascending."""
        ids = []
        for name in os.listdir(src_dir):
            m = re.fullmatch(r"snapshot=(\d+)", name)
            if m and os.path.isdir(os.path.join(src_dir, name)):
                ids.append(int(m.group(1)))
        return sorted(ids)

    # -- ledger state ------------------------------------------------------
    def _read(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"committed": [], "commits": []}
        with open(self.manifest_path) as f:
            return json.load(f)

    def committed(self) -> set[int]:
        return set(self._read()["committed"])

    def pending(self, src_dir: str) -> list[int]:
        done = self.committed()
        return [s for s in self.list_snapshots(src_dir) if s not in done]

    def commit(self, snapshot_id: int, run_id: str, metrics: dict | None = None) -> None:
        """Atomic commit (tmp + rename): the ordering contract of the
        reference — offsets advance only after every output accepted the
        block — but crash-safe and duplicate-free."""
        state = self._read()
        if snapshot_id in state["committed"]:
            return
        state["committed"].append(snapshot_id)
        state["commits"].append(
            {
                "snapshot_id": snapshot_id,
                "run_id": run_id,
                "ts": time.time(),
                "metrics": metrics or {},
            }
        )
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.manifest_path)


def write_snapshots(pdf, src_dir: str, n_snapshots: int) -> list[int]:
    """Split a pandas transcript table into n immutable snapshot partitions
    by conversation (a conversation's turns never straddle snapshots, like a
    file's bytes never straddle logpipe inputs)."""
    import zlib

    os.makedirs(src_dir, exist_ok=True)
    bucket = pdf["conv_id"].map(
        lambda c: zlib.crc32(c.encode()) % n_snapshots
    )
    ids = []
    for k in range(n_snapshots):
        part = pdf[bucket == k]
        d = os.path.join(src_dir, f"snapshot={k}")
        os.makedirs(d, exist_ok=True)
        part.to_parquet(os.path.join(d, "part-0.parquet"), index=False)
        ids.append(k)
    return ids
