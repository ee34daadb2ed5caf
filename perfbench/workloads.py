"""The four workloads: inputs, one iteration, and the check of its output.

Each workload builds its inputs from the seed (``prepare``), computes the
expected output once per seed (``expected``, cached as JSON), opens
per-session state (``open``), and runs iterations that return a ``Sample``.
A sample is checked against the expected output before it is counted; the
checks run outside the timed region.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import shutil
import threading
import time
import zlib
from dataclasses import dataclass, field

import inputs


@dataclass
class Sample:
    wall: float  # seconds of the timed region
    rows: int  # input rows the iteration processed
    lags: list[float]  # input available → its result visible, seconds
    ok: bool
    attempted: int = 1
    failed: int = 0
    detail: dict = field(default_factory=dict)
    cpu: float = 0.0  # CPU seconds of the timed region (tail_stream: per micro-batch)


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) of this process
    and all its descendants: the Python driver, the Spark JVM it launched
    and the Python workers the JVM forks. Time the hypervisor gave to other
    guests (steal) is not in it."""
    root = os.getpid()
    parent, used = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        parent[pid] = int(fields[1])
        used[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, ticks in used.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += ticks
    return total / _TICK


# --- expected output ---------------------------------------------------------


def text_crc(texts) -> int:
    return sum(zlib.crc32(t.encode("utf-8")) for t in texts)


def reference(pdf) -> dict:
    """Per-sink [rows, chars, tool calls, text crc sum], dropped rows, rows
    whose (tool, role) missed the dimension, and routed rows per ``f<i>/``
    file prefix, from the pure-Python oracle."""
    from logpipe_spark.fixtures import default_route_rules, gen_tool_role_dim
    from logpipe_spark.oracle import run_reference

    ref = run_reference(pdf, gen_tool_role_dim(), default_route_rules())
    routed = ref["routed"]
    sinks = {
        sink: [len(g), int(g["text"].str.len().sum()), int(g["tool_called"].notna().sum()), text_crc(g["text"])]
        for sink, g in routed.groupby("sink")
    }
    prefix = routed["conv_id"].str.split("/", n=1).str[0]
    files = prefix.value_counts().to_dict() if routed["conv_id"].str.contains("/").all() else {}
    return {
        "rows": len(pdf), "dropped": int(ref["dropped"]), "unmatched": int(ref["unmatched_dim"]),
        "sinks": sinks, "files": {k: int(v) for k, v in files.items()},
    }


def cached_json(path: str, build) -> dict:
    if not os.path.exists(path):
        value = build()
        with open(path + ".tmp", "w") as f:
            json.dump(value, f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def read_sinks(data_dir: str) -> dict:
    """Per-sink [rows, chars, tool calls, text crc sum] of the parquet
    files under ``data_dir`` (hive ``sink=`` directories), read with
    pyarrow, plus routed rows per ``f<i>/`` prefix and duplicate keys."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True))
    sinks: dict = {}
    keys = []
    for f in files:
        sink = next(p.split("=", 1)[1] for p in f.split(os.sep) if p.startswith("sink="))
        t = pq.read_table(f, columns=["conv_id", "turn_idx", "text", "tool_called"]).to_pandas()
        prev = sinks.get(sink, [0, 0, 0, 0])
        vals = [len(t), int(t["text"].str.len().sum()), int(t["tool_called"].notna().sum()), text_crc(t["text"])]
        sinks[sink] = [a + b for a, b in zip(prev, vals)]
        keys.append(t[["conv_id", "turn_idx"]])
    out = {"sinks": sinks, "files": {}, "duplicates": 0}
    if keys:
        import pandas as pd

        k = pd.concat(keys)
        out["duplicates"] = int(k.duplicated().sum())
        out["files"] = k["conv_id"].str.split("/", n=1).str[0].value_counts().to_dict()
    return out


def lineage_totals(lineage_dir: str) -> list[dict]:
    """Whole-snapshot/batch counter rows (partition_id = -1) of a lineage table."""
    import pyarrow.parquet as pq

    rows = []
    for f in sorted(glob.glob(os.path.join(lineage_dir, "*", "*.parquet"))):
        t = pq.read_table(f).to_pandas()
        for r in t[t["partition_id"] == -1].to_dict("records"):
            r["dir"] = os.path.basename(os.path.dirname(f))
            rows.append(r)
    return rows


def parquet_bytes(data_dir: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


# --- workloads --------------------------------------------------------------


class Workload:
    name = ""
    loop = "closed"
    min_iters = 2  # timed iterations of a closed loop, at least
    prefixes: tuple[str, ...] = ()  # stage-chain prefixes the traced run ablates

    def __init__(self, root: str, seed: int, cores: int, seconds: float):
        self.seed, self.cores, self.seconds = seed, cores, seconds
        self.inputs = os.path.join(root, "inputs")
        self.work = os.path.join(root, "work", self.name)
        os.makedirs(self.inputs, exist_ok=True)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)

    def key(self) -> str:
        return f"{self.name}-s{self.seed}-n{self.size}"

    def expected_path(self) -> str:
        return os.path.join(self.inputs, self.key() + ".expected.json")

    def open(self, spark) -> None:
        from logpipe_spark.fixtures import default_route_rules, gen_tool_role_dim

        self.spark = spark
        self.dim = spark.createDataFrame(gen_tool_role_dim())
        self.rules = default_route_rules()

    def warmup(self) -> Sample:
        return self.iterate()

    def frames(self) -> list:
        """Factories of the DataFrames one iteration scans, for ablation."""
        return []

    def scan_bytes(self) -> int:
        """On-disk bytes of the parquet files one iteration scans."""
        return sum(parquet_bytes(d)[1] for d in self.scanned)

    def check_sinks(self, got: dict) -> bool:
        want = self.expected["sinks"]
        return {k: list(v) for k, v in got.items()} == {k: list(v) for k, v in want.items()}


class RouteAgg(Workload):
    """Closed loop, one caller: scan → parse → enrich → route → per-sink
    aggregate over a multi-file transcript table. Read-only."""

    name = "route_agg"
    min_iters = 3
    prefixes = ("scan", "parse", "enrich", "route")
    size = 150_000
    n_files = 8

    def prepare(self) -> None:
        def build(tmp):
            inputs.write_table(inputs.transcripts(self.size, self.seed), os.path.join(tmp, "t"), self.n_files)

        self.src = os.path.join(inputs.cached(self.inputs, self.key(), build), "t")
        self.scanned = [self.src]
        self.expected = cached_json(
            self.expected_path(), lambda: reference(inputs.transcripts(self.size, self.seed))
        )

    def frames(self):
        return [lambda: self.spark.read.parquet(self.src)]

    def query(self, df):
        from pyspark.sql import functions as F

        from logpipe_spark.pipeline import build_stage_chain

        routed = build_stage_chain(df, self.dim, self.rules)
        return routed.groupBy("sink").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("text")).alias("chars"),
            F.count("tool_called").alias("n_calls"),
            F.sum(F.crc32(F.col("text").cast("binary"))).alias("crc"),
            F.sum("error_code").alias("err_sum"),
            F.max("meta_offset").alias("max_off"),
            F.sum("n_fields").alias("fields"),
            F.countDistinct("tool_family").alias("fams"),
            F.max("priority").alias("max_prio"),
        )

    def iterate(self) -> Sample:
        agg = self.query(self.spark.read.parquet(self.src))
        c0 = cpu_s()
        t0 = time.perf_counter()
        rows = agg.collect()
        wall = time.perf_counter() - t0
        cpu = cpu_s() - c0
        got = {r["sink"]: [r["n"], r["chars"], r["n_calls"], r["crc"]] for r in rows if r["sink"] is not None}
        dropped = sum(r["n"] for r in rows if r["sink"] is None)
        ok = self.check_sinks(got) and dropped == self.expected["dropped"]
        return Sample(wall, self.size, [wall], ok, detail={"dropped": dropped}, cpu=cpu)


class FanoutCommit(Workload):
    """Closed loop, one caller: ``run_pipeline`` over four single-file
    snapshots into a fresh output directory — both exchanges, the
    partitioned parquet write, lineage and the ledger commit."""

    name = "fanout_commit"
    # the median of four keeps one slow iteration out and fits a run in a
    # minute; with C1 only, their CPU times fall by about 15% from the first
    # to the fourth (by half with C2)
    min_iters = 4
    prefixes = ("scan", "parse", "enrich", "route")
    size = 20_000
    n_snapshots = 4

    def prepare(self) -> None:
        from logpipe_spark.ledger import write_snapshots

        def build(tmp):
            write_snapshots(inputs.transcripts(self.size, self.seed), os.path.join(tmp, "src"), self.n_snapshots)

        self.src = os.path.join(inputs.cached(self.inputs, self.key(), build), "src")
        self.scanned = [self.src]
        self.expected = cached_json(
            self.expected_path(), lambda: reference(inputs.transcripts(self.size, self.seed))
        )
        import pyarrow.parquet as pq

        self.snap_rows = {
            k: pq.ParquetFile(os.path.join(self.src, f"snapshot={k}", "part-0.parquet")).metadata.num_rows
            for k in range(self.n_snapshots)
        }
        self.n_iter = 0

    def frames(self):
        return [
            lambda k=k: self.spark.read.parquet(os.path.join(self.src, f"snapshot={k}")).repartition(
                self.spark.sparkContext.defaultParallelism
            )
            for k in range(self.n_snapshots)
        ]

    def iterate(self) -> Sample:
        from logpipe_spark.ledger import SnapshotLedger
        from logpipe_spark.pipeline import run_pipeline

        self.n_iter += 1
        out = os.path.join(self.work, f"out{self.n_iter % 2}")
        shutil.rmtree(out, ignore_errors=True)
        t_wall = time.time()
        c0 = cpu_s()
        t0 = time.perf_counter()
        run_pipeline(self.spark, self.src, out, self.dim, self.rules, salt_partitions=self.cores)
        wall = time.perf_counter() - t0
        cpu = cpu_s() - c0
        self.last_out = out

        with open(os.path.join(out, "_ledger.json")) as f:
            commits = json.load(f)["commits"]
        lags = [c["ts"] - t_wall for c in commits]
        committed = SnapshotLedger(out).committed()
        totals = lineage_totals(os.path.join(out, "lineage"))
        conserved = len(totals) == self.n_snapshots and all(
            t["rows_in"] == t["routed"] + t["dropped"]
            and t["rows_in"] == self.snap_rows[int(t["snapshot_id"])]
            for t in totals
        )
        got = read_sinks(os.path.join(out, "data"))
        ok = (
            committed == set(range(self.n_snapshots))
            and conserved
            and self.check_sinks(got["sinks"])
            and got["duplicates"] == 0
        )
        dropped = sum(t["dropped"] for t in totals)
        return Sample(wall, self.size, lags, ok, detail={"dropped": dropped}, cpu=cpu)


class TailStream(Workload):
    """Open loop: a generator thread drops transcript files into a watched
    directory on a fixed schedule while ``run_stream`` tails it. A file's
    lag runs from when it was due to the commit of its micro-batch."""

    name = "tail_stream"
    loop = "open"
    # run_stream takes at most 8 files a batch, and a batch takes 1–2.6 s on
    # a 4-core host; 3 files/s keeps the stream below that capacity
    files_per_s = 3
    turns_per_file = 2000
    lead_s = 1.0  # query start before the first file is due
    drain_s = 20.0  # at most, after the last file is due
    trigger_us = 100_000
    warm_files = 4

    def __init__(self, root, seed, cores, seconds):
        super().__init__(root, seed, cores, seconds)
        self.n_files = int(self.files_per_s * seconds)
        self.size = self.n_files * self.turns_per_file

    def prepare(self) -> None:
        import pandas as pd

        def build(tmp):
            for i, part in enumerate(inputs.stream_files(self.n_files, self.turns_per_file, self.seed)):
                part.to_parquet(os.path.join(tmp, f"f{i:04d}.parquet"), index=False)

        self.staged = inputs.cached(self.inputs, self.key(), build)
        self.scanned = [self.staged]
        self.expected = cached_json(
            self.expected_path(),
            lambda: reference(pd.concat(inputs.stream_files(self.n_files, self.turns_per_file, self.seed))),
        )
        self.n_runs = 0

    def _fresh(self, tag: str) -> tuple[str, str]:
        self.n_runs += 1
        src = os.path.join(self.work, f"{tag}{self.n_runs}", "src")
        out = os.path.join(self.work, f"{tag}{self.n_runs}", "out")
        os.makedirs(src)
        return src, out

    def _drop(self, src: str, i: int) -> None:
        name = f"f{i:04d}.parquet"
        tmp = os.path.join(src, "." + name)  # hidden until renamed
        shutil.copyfile(os.path.join(self.staged, name), tmp)
        os.replace(tmp, os.path.join(src, name))

    def warmup(self) -> Sample:
        """Drain a few files with an available-now query (compiles the
        batch body; untimed)."""
        from logpipe_spark.streaming.stream import run_stream

        src, out = self._fresh("warm")
        for i in range(self.warm_files):
            self._drop(src, i)
        t0 = time.perf_counter()
        run_stream(self.spark, src, out, self.dim, self.rules, available_now=True, timeout_sec=120)
        return Sample(time.perf_counter() - t0, self.warm_files * self.turns_per_file, [], True)

    def iterate(self) -> Sample:
        from logpipe_spark.streaming.stream import run_stream

        src, out = self._fresh("run")
        start = time.time() + self.lead_s
        due = [start + i / self.files_per_s for i in range(self.n_files)]
        sent = [0.0] * self.n_files

        def generate():
            """Drop each file when due; once every file's batch has
            committed (or the drain time ran out), stop the query."""
            for i, t in enumerate(due):
                delay = t - time.time()
                if delay > 0:
                    time.sleep(delay)
                sent[i] = time.time()
                self._drop(src, i)
            names = {f"f{i:04d}.parquet" for i in range(self.n_files)}
            give_up = time.time() + self.drain_s
            while time.time() < give_up:
                batches = read_checkpoint(os.path.join(out, "_checkpoint"))
                if names <= {f for m in batches.values() if m["commit"] is not None for f in m["files"]}:
                    break
                time.sleep(0.05)
            for q in self.spark.streams.active:
                q.stop()

        gen = threading.Thread(target=generate, name="tail-generator")
        c0 = cpu_s()
        gen.start()
        try:
            timeout = int(self.lead_s + self.n_files / self.files_per_s + self.drain_s + 30)
            run_stream(
                self.spark, src, out, self.dim, self.rules,
                available_now=False, timeout_sec=timeout, trigger_interval_us=self.trigger_us,
            )
        finally:
            gen.join()
        cpu = cpu_s() - c0
        self.last_out = out
        sample = self.evaluate(out, due, sent)
        sample.cpu = cpu / max(1, sample.detail["batches"])
        return sample

    def evaluate(self, out: str, due: list[float], sent: list[float]) -> Sample:
        batches = read_checkpoint(os.path.join(out, "_checkpoint"))
        file_batch = {f: b for b, meta in batches.items() for f in meta["files"]}
        lags, waits = [], []
        for i, t in enumerate(due):
            b = file_batch.get(f"f{i:04d}.parquet")
            if b is not None and batches[b]["commit"] is not None:
                lags.append(batches[b]["commit"] - t)
                waits.append(batches[b]["start"] - t)
        totals = {int(t["dir"].split("=")[1]): t for t in lineage_totals(os.path.join(out, "lineage"))}
        done = {b: m for b, m in batches.items() if m["commit"] is not None}
        durations = [m["commit"] - m["start"] for m in done.values()]
        rows = [totals[b]["rows_in"] for b in done if b in totals]
        dropped = sum(totals[b]["dropped"] for b in done if b in totals)
        got = read_sinks(os.path.join(out, "data"))
        want_files = self.expected["files"]
        failed = sum(
            1
            for i in range(self.n_files)
            if file_batch.get(f"f{i:04d}.parquet") not in done
            or got["files"].get(f"f{i:04d}", 0) != want_files.get(f"f{i:04d}", 0)
        )
        conserved = all(t["rows_in"] == t["routed"] + t["dropped"] for t in totals.values())
        ok = failed == 0 and conserved and got["duplicates"] == 0 and self.check_sinks(got["sinks"])
        if not ok and failed == 0:
            failed = self.n_files
        # backlog: files due but not yet committed, sampled at each batch start
        commits = [m["commit"] for m in done.values()]
        backlog = [
            sum(1 for t in due if t <= m["start"])
            - sum(len(o["files"]) for o in done.values() if o["commit"] <= m["start"])
            for m in done.values()
        ]
        return Sample(
            wall=sum(durations),
            rows=sum(rows),
            lags=lags,
            ok=ok,
            attempted=self.n_files,
            failed=failed,
            detail={
                "batch_s": durations,
                "batch_rows": rows,
                "files_per_batch": [len(m["files"]) for m in done.values()],
                "queue_wait_s": waits,
                "backlog": backlog,
                "gen_late_s": [s - t for s, t in zip(sent, due)],
                "window": (due[0] - self.lead_s, max(commits) if commits else due[-1]),
                "batches": len(done),
                "dropped": dropped,
            },
        )


def read_checkpoint(cp: str) -> dict:
    """Per micro-batch: source files, start (offsets log written) and
    commit (commit log written) wall times, from the query checkpoint."""
    batches: dict[int, dict] = {}
    for f in glob.glob(os.path.join(cp, "offsets", "[0-9]*")):
        b = int(os.path.basename(f))
        batches[b] = {"files": [], "start": os.stat(f).st_mtime_ns / 1e9, "commit": None}
    for f in glob.glob(os.path.join(cp, "commits", "[0-9]*")):
        b = int(os.path.basename(f))
        if b in batches:
            batches[b]["commit"] = os.stat(f).st_mtime_ns / 1e9
    for f in glob.glob(os.path.join(cp, "sources", "0", "*")):
        if os.path.basename(f).startswith("."):
            continue
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    if e["batchId"] in batches:
                        batches[e["batchId"]]["files"].append(os.path.basename(e["path"]))
    return batches


class CorpusFunnel(Workload):
    """Closed loop, one caller: ``run_corpus_funnel`` over seeded documents
    with planted duplicates, eval overlaps and boilerplate."""

    name = "corpus_funnel"
    min_iters = 1
    prefixes = ("scan",)
    size = 300
    n_files = 4

    def prepare(self) -> None:
        root = inputs.cached(
            self.inputs, self.key(), lambda tmp: inputs.write_documents(tmp, self.size, self.seed, self.n_files)
        )
        self.docs = os.path.join(root, "docs")
        self.eval = os.path.join(root, "eval")
        self.scanned = [self.docs, self.eval]
        self.expected = None  # funnel counts of this seed, fixed by the first iteration

    def open(self, spark) -> None:
        self.spark = spark

    def frames(self):
        return [lambda: self.spark.read.parquet(self.docs)]

    def iterate(self) -> Sample:
        from logpipe_spark.plans.corpus_funnel import run_corpus_funnel

        docs = self.spark.read.parquet(self.docs)
        ev = self.spark.read.parquet(self.eval)
        stage_s: dict = {}
        # the funnel's stage clock starts here, after the two reads' schema jobs
        t_wall = time.time()
        c0 = cpu_s()
        t0 = time.perf_counter()
        funnel = run_corpus_funnel(self.spark, docs, eval_docs=ev, stage_seconds=stage_s)
        wall = time.perf_counter() - t0
        cpu = cpu_s() - c0
        window = (t_wall, t_wall + wall)
        if self.expected is None:
            self.expected = cached_json(self.expected_path(), lambda: dict(funnel))
        fires = (
            funnel["input"] == self.size
            and funnel["quality_gate"] < funnel["clean_text"]
            and funnel["exact_dedup"] < funnel["quality_gate"]
            and funnel["neardup_keep_best"] < funnel["exact_dedup"]
            and funnel["decontaminate"] < funnel["neardup_keep_best"]
            and funnel["pii_line_dedup"] < funnel["decontaminate"]
        )
        ok = fires and dict(funnel) == self.expected
        # a stage's output is visible once its count returns: one lag per stage
        lags = list(itertools.accumulate(stage_s.values()))
        detail = {"funnel": dict(funnel), "stage_s": stage_s, "window": window}
        return Sample(wall, self.size, lags, ok, detail=detail, cpu=cpu)


WORKLOADS = {w.name: w for w in (RouteAgg, FanoutCommit, TailStream, CorpusFunnel)}
