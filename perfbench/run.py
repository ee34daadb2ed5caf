#!/usr/bin/env python3
"""Benchmark of logpipe_spark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload fanout_commit --seed 1 --seconds 5 --trace 0

Run from the repository root; the package is imported from there and every
file the run writes stays under ``.perfbench/``. Inputs are generated from
the seed (see ``inputs.py``) and every output is checked (see
``workloads.py``). With ``--trace 0`` the last line carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics, from traced
iterations alternated with untraced ones, and the spans go to
``.perfbench/trace/``. Metric definitions and the layer map are in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import bisect
import hashlib
import itertools
import json
import os
import statistics
import subprocess
import sys
import threading
import time

FUNNEL_STAGES = [
    "input", "clean_text", "quality_gate", "exact_dedup", "neardup_keep_best",
    "decontaminate", "pii_line_dedup", "temperature_mix", "chunks", "packed_bins", "shuffled",
]

END_TO_END = {"setup_s": "s", "cpu_s_p50": "s", "peak_rss_mb": "MB"}
# wall-clock figures of the untraced iterations: reported, never gated (see README)
WALL = {"wall.run_s_p50": "s", "wall.rows_per_s": "rows/s", "wall.lag_s_p50": "s", "wall.lag_s_p90": "s"}
PER_LAYER = {
    **WALL,
    "session.start_s": "s",
    "scan.s": "s", "scan.bytes": "B", "scan.tasks": "count",
    "parse.self_s": "s", "enrich.self_s": "s", "enrich.unmatched_rows": "count",
    "route.self_s": "s", "route.dropped_ratio": "ratio",
    "pipeline.self_s": "s", "pipeline.jobs": "count", "pipeline.exchanges": "count", "pipeline.gc_s": "s",
    "sinks.write_s": "s", "sinks.shuffle_bytes": "B", "sinks.shuffle_fetch_wait_s": "s",
    "sinks.task_skew": "ratio", "sinks.files": "count", "sinks.bytes": "B",
    "sinks.out_bytes_per_row": "B/row",
    "sinks.file_lineage_s": "s", "sinks.source_lineage_s": "s", "sinks.lineage_write_s": "s",
    "ledger.commit_s": "s",
    "stream.batch_s_p50": "s", "stream.files_per_batch": "count", "stream.queue_wait_s": "s",
    "stream.backlog_max": "count", "stream.jobs_per_batch": "count", "stream.gen_late_s_max": "s",
    "funnel.jobs": "count",
    **{f"funnel.{s}.{k}": u for s in FUNNEL_STAGES for k, u in (("s", "s"), ("jobs", "count"))},
    "trace.overhead_s": "s",
    "scaling.eff_1to4": "ratio",
}

# (module, attribute, span name) wrapped during the traced phase. The
# pipeline and the stream import these names into their own namespaces, so
# the bindings there are the ones wrapped.
TRACED = [
    ("logpipe_spark.pipeline", "run_pipeline", "pipeline.run_pipeline"),
    ("logpipe_spark.pipeline", "extract_builtin", "parse.extract_builtin"),
    ("logpipe_spark.pipeline", "enrich", "enrich.enrich"),
    ("logpipe_spark.pipeline", "route", "route.route"),
    ("logpipe_spark.pipeline", "build_stage_chain", "pipeline.build_stage_chain"),
    ("logpipe_spark.pipeline", "fan_out_write", "sinks.fan_out_write"),
    ("logpipe_spark.pipeline", "file_lineage_rows", "sinks.file_lineage_rows"),
    ("logpipe_spark.pipeline", "source_file_rows", "sinks.source_file_rows"),
    ("logpipe_spark.pipeline", "write_lineage_parquet", "sinks.write_lineage_parquet"),
    ("logpipe_spark.ledger", "SnapshotLedger.commit", "ledger.commit"),
    ("logpipe_spark.streaming.stream", "run_stream", "stream.run_stream"),
    ("logpipe_spark.streaming.stream", "build_stage_chain", "pipeline.build_stage_chain"),
    ("logpipe_spark.operators.sinks", "file_lineage_rows", "sinks.file_lineage_rows"),
    ("logpipe_spark.operators.sinks", "write_lineage_parquet", "sinks.write_lineage_parquet"),
    ("logpipe_spark.plans.corpus_funnel", "run_corpus_funnel", "funnel.run_corpus_funnel"),
    *[
        ("logpipe_spark.plans.corpus_funnel", f, f"funnel.{f}")
        for f in (
            "clean_text", "corpus_filter", "exact_dedup", "ngram_jaccard_pairs", "neardup_keep_best",
            "decontaminate", "pii_redact", "dedup_lines", "temperature_mix", "chunk_documents",
            "sequence_pack", "shuffle_corpus",
        )
    ],
]


def posture(work: str) -> dict:
    """Pin the session through the environment knobs ``session.py`` reads:
    ``local[nproc]``, a heap sized to this host, the throughput collector,
    the client JIT only, and Spark/JVM scratch space inside the run's own
    directory.

    A run's JVM lives about a minute. With the default tiered JIT the C2
    compiler is still catching up for the whole of it: each of the first
    five iterations after the warm-up costs less CPU than the one before,
    and how far along that curve a given iteration lands depends on how
    fast the host runs the compiler threads that minute. With C1 alone the
    curve is flat after the warm-up iteration, and set-up is shorter."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_mb = int(f.readline().split()[1]) // 1024
    heap_gb = max(1, min(4, ram_mb // 1024 // 4))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
            # fixed heap and generation sizes: resident memory then follows
            # live data, not when the collector happened to resize the heap
            "SPARK_GRAFT_JAVA_OPTS": (
                f"-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms{heap_gb}g -XX:TieredStopAtLevel=1"
                f" -Djava.io.tmpdir={tmp}"
            ),
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    return {"nproc": cores, "ram_mb": ram_mb, "heap": f"{heap_gb}g", "gc": "ParallelGC, fixed sizes", "jit": "C1"}


def code_identity(root: str) -> dict:
    """The commit when the tree is a git checkout, and always a digest of
    the package sources (the benchmark may run outside git)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "logpipe_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for n in sorted(files):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(n.encode() + f.read())
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"commit": commit, "package_sha256": h.hexdigest()[:16]}


def start_session(cores: int, work: str):
    from logpipe_spark.session import get_spark

    spark = get_spark(
        cores=cores,
        app_name="perfbench",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class RssPeak:
    """Highest resident set of a process, sampled every 50 ms."""

    def __init__(self, pid: int):
        self.path, self.peak_kb = f"/proc/{pid}/status", 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler")

    def _run(self):
        while not self._stop.is_set():
            with open(self.path) as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                        break
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


def quantile(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


class Bench:
    def __init__(self, wl, seconds: float, work: str):
        self.wl, self.seconds, self.work = wl, seconds, work

    def setup(self):
        """Session start in a cold JVM, then one warm-up iteration."""
        t0 = time.perf_counter()
        self.spark = start_session(self.wl.cores, self.work)
        self.start_s = time.perf_counter() - t0
        self.wl.open(self.spark)
        self.warm_ok = self.wl.warmup().ok
        self.setup_s = time.perf_counter() - t0
        return self.spark

    def one(self):
        t_wall = time.time()
        s = self.wl.iterate()
        s.detail.setdefault("window", (t_wall, time.time()))
        return s

    def measure(self) -> list:
        """Closed loop: iterate for ``seconds`` (at least ``min_iters`` times).
        Open loop: one scheduled run of ``seconds``."""
        deadline = time.perf_counter() + self.seconds
        samples = [self.one()]
        while self.wl.loop == "closed" and (time.perf_counter() < deadline or len(samples) < self.wl.min_iters):
            samples.append(self.one())
        return samples

    def measure_traced(self, tracer) -> tuple[list, list]:
        """Untraced and traced iterations, alternating for a closed loop so
        warm-up drift falls on both sides; one scheduled run each for an
        open loop. Returns (untraced, traced)."""
        plain, traced = [], []
        deadline = time.perf_counter() + 2 * self.seconds
        while not traced or (
            self.wl.loop == "closed"
            and (time.perf_counter() < deadline or min(len(plain), len(traced)) < min(self.wl.min_iters, 2))
        ):
            if len(plain) <= len(traced):
                plain.append(self.one())
                continue
            tracer.iteration = len(traced) + 1
            for mod, attr, name in TRACED:
                tracer.wrap(mod, attr, name)
            try:
                traced.append(self.one())
            finally:
                tracer.unwrap()
        return plain, traced


def end_to_end(b: Bench, samples: list, peak_kb: int) -> dict:
    return {
        "setup_s": b.setup_s,
        "cpu_s_p50": statistics.median(s.cpu for s in samples),
        "peak_rss_mb": peak_kb / 1024.0,
    }


def wall(b: Bench, samples: list) -> dict:
    lags = [x for s in samples for x in s.lags]
    if b.wl.loop == "closed":
        run_p50 = statistics.median(s.wall for s in samples)
        rows_per_s = samples[0].rows / run_p50
    else:
        d = samples[0].detail
        run_p50 = statistics.median(d["batch_s"])
        rows_per_s = sum(d["batch_rows"]) / sum(d["batch_s"])
    return {
        "wall.run_s_p50": run_p50,
        "wall.rows_per_s": rows_per_s,
        "wall.lag_s_p50": statistics.median(lags),
        "wall.lag_s_p90": quantile(lags, 0.9),
    }


def ablate(wl, spark, reps: int = 2) -> dict:
    """Prefix ablation: each prefix of scan → parse → enrich → route written
    to the ``noop`` sink; seconds per iteration (summed over the workload's
    input frames), median of ``reps``."""
    from pyspark.sql import functions as F

    from logpipe_spark.operators.enrich import enrich
    from logpipe_spark.operators.parse import extract_builtin
    from logpipe_spark.operators.route import route

    chains = {
        "scan": lambda df: df,
        "parse": extract_builtin,
        "enrich": lambda df: enrich(extract_builtin(df), wl.dim, keys=["tool", "role"], how="left"),
        "route": lambda df: route(enrich(extract_builtin(df), wl.dim, keys=["tool", "role"], how="left"), wl.rules),
    }
    out = {}
    for name in wl.prefixes:
        chain = chains[name]
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for frame in wl.frames():
                chain(frame()).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times)
    if "enrich" in wl.prefixes:
        out["unmatched"] = sum(
            chains["enrich"](frame()).filter(F.col("sink_hint").isNull()).count() for frame in wl.frames()
        )
    return out


def per_layer(b: Bench, spark, tracer, untraced: list, traced: list, abl: dict) -> dict:
    from spans import SparkStatus

    wl = b.wl
    m = {k: 0.0 for k in PER_LAYER}
    status = SparkStatus(spark)
    n = len(traced)
    m["session.start_s"] = b.start_s
    m.update(wall(b, untraced))
    m["trace.overhead_s"] = wall(b, traced)["wall.run_s_p50"] - m["wall.run_s_p50"]

    per_it = []
    for s in traced:
        t0, t1 = s.detail["window"]
        jobs = status.jobs(t0, t1)
        stages = status.stages(jobs)
        per_it.append((jobs, stages, status.exchanges(t0, t1)))
    units = n if wl.loop == "closed" else max(1, traced[0].detail["batches"])
    all_jobs = [j for jobs, _, _ in per_it for j in jobs]
    all_stages = [st for _, stages, _ in per_it for st in stages]
    m["pipeline.jobs"] = len(all_jobs) / units
    m["pipeline.exchanges"] = sum(x for _, _, x in per_it) / units
    m["pipeline.gc_s"] = sum(st["gc_s"] for st in all_stages) / units
    # Spark's input-bytes metric misses the parquet reader's vectored reads,
    # so scanned bytes are the input files' sizes; tasks come from the stages
    # that read them
    m["scan.bytes"] = wl.scan_bytes() / (1 if wl.loop == "closed" else units)
    m["scan.tasks"] = sum(st["tasks"] for st in all_stages if st["input_bytes"] > 0) / units

    if abl:
        m["scan.s"] = abl["scan"]
        if "parse" in abl:
            m["parse.self_s"] = abl["parse"] - abl["scan"]
            m["enrich.self_s"] = abl["enrich"] - abl["parse"]
            m["route.self_s"] = abl["route"] - abl["enrich"]
            m["enrich.unmatched_rows"] = abl["unmatched"]
    if wl.name in ("route_agg", "fanout_commit", "tail_stream"):
        rows = sum(s.rows for s in traced)
        m["route.dropped_ratio"] = sum(s.detail["dropped"] for s in traced) / rows

    if wl.name in ("fanout_commit", "tail_stream"):
        if wl.name == "fanout_commit":
            # orchestration: run_pipeline minus the sink, lineage and
            # commit calls inside it
            m["pipeline.self_s"] = tracer.self_times()["pipeline.run_pipeline"] / units
            windows = tracer.windows("sinks.fan_out_write")
            write_jobs = [j for a, z in windows for j in status.jobs(a, z)]
            m["sinks.write_s"] = tracer.total("sinks.fan_out_write") / units
            m["sinks.source_lineage_s"] = tracer.total("sinks.source_file_rows") / units
            m["ledger.commit_s"] = tracer.total("ledger.commit") / units
        else:
            write_jobs = all_jobs
            m["sinks.write_s"] = sum(j["s"] for j in write_jobs) / units
        m["sinks.file_lineage_s"] = tracer.total("sinks.file_lineage_rows") / units
        m["sinks.lineage_write_s"] = tracer.total("sinks.write_lineage_parquet") / units
        stages = status.stages(write_jobs)
        m["sinks.shuffle_bytes"] = sum(st["shuffle_write_bytes"] for st in stages) / units
        m["sinks.shuffle_fetch_wait_s"] = sum(st["fetch_wait_s"] for st in stages) / units
        by_id = {st["stage"]: st for st in stages}
        finals = [by_id[max(i for i in j["stages"] if i in by_id)] for j in write_jobs if set(j["stages"]) & set(by_id)]
        skews = [status.task_skew(st) for st in finals if st["tasks"] > 1]
        m["sinks.task_skew"] = statistics.median(skews) if skews else 1.0
        from workloads import parquet_bytes

        files, nbytes = parquet_bytes(os.path.join(wl.last_out, "data"))
        routed = sum(v[0] for v in wl.expected["sinks"].values())
        m["sinks.files"], m["sinks.bytes"] = files, nbytes
        m["sinks.out_bytes_per_row"] = nbytes / routed

    if wl.name == "tail_stream":
        d = traced[0].detail
        m["stream.batch_s_p50"] = statistics.median(d["batch_s"])
        m["stream.files_per_batch"] = statistics.mean(d["files_per_batch"])
        m["stream.queue_wait_s"] = statistics.median(d["queue_wait_s"])
        m["stream.backlog_max"] = max(d["backlog"])
        m["stream.jobs_per_batch"] = len(all_jobs) / units
        m["stream.gen_late_s_max"] = max(d["gen_late_s"])

    if wl.name == "corpus_funnel":
        for s, (jobs, _, _) in zip(traced, per_it):
            # stage k ends where the funnel's k-th count returned; each job
            # belongs to the first stage ending after its submission
            secs = [s.detail["stage_s"].get(stage, 0.0) for stage in FUNNEL_STAGES]
            ends = list(itertools.accumulate(secs, initial=s.detail["window"][0]))[1:]
            m["funnel.jobs"] += len(jobs) / n
            for stage, sec in zip(FUNNEL_STAGES, secs):
                m[f"funnel.{stage}.s"] += sec / n
            for j in jobs:
                k = min(bisect.bisect_left(ends, j["submit"]), len(FUNNEL_STAGES) - 1)
                m[f"funnel.{FUNNEL_STAGES[k]}.jobs"] += 1 / n
    return m


def scaling(b: Bench, run_p50: float):
    """One pass at local[1] against the local[nproc] median: T1 / (N · TN).
    The JVM, its JIT and Spark's codegen cache are already warm, so the pass
    needs no warm-up. Returns the ratio and the pass's sample."""
    b.spark.stop()
    b.spark = start_session(1, b.work)
    b.wl.open(b.spark)
    one = b.wl.iterate()
    return one.wall / (b.wl.cores * run_p50), one


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "logpipe_spark", "pipeline.py")):
        print(f"perfbench: no logpipe_spark package under {root}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench")
    env = posture(work)

    import pyspark

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cls = workloads.WORKLOADS[args.workload]
    wl = cls(work, args.seed, env["nproc"], args.seconds)
    t0 = time.perf_counter()
    wl.prepare()
    env.update(code_identity(root), spark=pyspark.__version__, prepare_s=time.perf_counter() - t0)

    b = Bench(wl, args.seconds, work)
    try:
        spark = b.setup()
        if not args.trace:
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            with RssPeak(jvm_pid) as rss:
                samples = b.measure()
            metrics, units = end_to_end(b, samples, rss.peak_kb), END_TO_END
            detail = wall(b, samples)
        else:
            from spans import Tracer

            tracer = Tracer()
            plain, traced = b.measure_traced(tracer)
            abl = ablate(wl, spark)
            metrics = per_layer(b, spark, tracer, plain, traced, abl)
            # the stream.* metrics exist only for the open loop
            units = {k: u for k, u in PER_LAYER.items() if wl.loop == "open" or not k.startswith("stream.")}
            samples = plain + traced
            detail = {}
            if wl.name in ("route_agg", "fanout_commit"):
                metrics["scaling.eff_1to4"], one = scaling(b, metrics["wall.run_s_p50"])
                samples.append(one)
            os.makedirs(os.path.join(work, "trace"), exist_ok=True)
            tracer.dump(
                os.path.join(work, "trace", f"{wl.name}-s{args.seed}.json"),
                {"workload": wl.name, "seed": args.seed, **env},
                metrics,
            )
    finally:
        if getattr(b, "spark", None) is not None:
            stop_jvm(b.spark)

    attempted = sum(s.attempted for s in samples)
    failed = sum(s.failed if s.failed else (0 if s.ok else s.attempted) for s in samples)
    correct = failed == 0 and b.warm_ok
    print(
        json.dumps(
            {
                "workload": wl.name,
                "seed": args.seed,
                "env": env,
                "setup_s": b.setup_s,
                "samples": len(samples),
                "lag_samples": sum(len(s.lags) for s in samples),
                "iteration_s": [round(s.wall, 4) for s in samples],
                "iteration_cpu_s": [round(s.cpu, 3) for s in samples],
                **detail,
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
