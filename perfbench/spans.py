"""Tracing taken from outside the program.

``Tracer`` wraps public functions of the package's modules and records one
span per call (name, start, end, parent span, iteration id) in memory;
``dump`` writes them once, with the run's per-layer metrics. ``SparkStatus`` reads Spark's own
status stores (job/stage/task metrics and executed SQL plans), which are
kept whether or not the web UI runs.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import statistics
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.iteration = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    # -- spans ---------------------------------------------------------------
    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, module: str, attr: str, name: str | None = None) -> None:
        """Replace ``module.attr`` with a spanning wrapper until ``unwrap``.
        ``attr`` may be ``Class.method``."""
        owner = importlib.import_module(module)
        *path, leaf = attr.split(".")
        for p in path:
            owner = getattr(owner, p)
        original = owner.__dict__[leaf] if isinstance(owner, type) else getattr(owner, leaf)
        span_name = name or attr

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return original(*args, **kwargs)

        setattr(owner, leaf, traced)
        self._patched.append((owner, leaf, original))

    def unwrap(self) -> None:
        for owner, leaf, original in reversed(self._patched):
            setattr(owner, leaf, original)
        self._patched.clear()

    # -- analysis ------------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: each span's duration minus the
        union of its direct children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a = max(a, cur_end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["wall_start"], s["wall_end"]) for s in self.spans if s["name"] == name]

    def dump(self, path: str, meta: dict, metrics: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "metrics": metrics, "spans": self.spans}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        stack = self.t._local.__dict__.setdefault("stack", [])
        with self.t._lock:
            self.id = len(self.t.spans)
            self.t.spans.append(None)  # reserve the id; filled on exit
        self.parent = stack[-1] if stack else None
        stack.append(self.id)
        self.wall = time.time()
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.t._local.stack.pop()
        self.t.spans[self.id] = {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "iteration": self.t.iteration,
            "start": self.start,
            "end": end,
            "wall_start": self.wall,
            "wall_end": self.wall + (end - self.start),
            "error": exc[0].__name__ if exc[0] else None,
        }
        return False


def _opt_ms(opt) -> float | None:
    """Scala ``Option[Date]`` → epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkStatus:
    """Jobs, stages, tasks and SQL plans from the session's status stores."""

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def jobs(self, t0: float, t1: float) -> list[dict]:
        """Jobs submitted in the wall-clock window [t0, t1] (epoch seconds)."""
        seq = self.store.jobsList(None)
        out = []
        for i in range(seq.length()):
            j = seq.apply(i)
            sub = _opt_ms(j.submissionTime())
            if sub is None or not (t0 <= sub <= t1):
                continue
            done = _opt_ms(j.completionTime())
            ids = j.stageIds()
            out.append(
                {
                    "job": j.jobId(),
                    "submit": sub,
                    "s": (done - sub) if done else 0.0,
                    "stages": [ids.apply(k) for k in range(ids.length())],
                }
            )
        return out

    def stages(self, jobs: list[dict]) -> list[dict]:
        out = []
        for sid in sorted({s for j in jobs for s in j["stages"]}):
            st = self.store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            out.append(
                {
                    "stage": sid,
                    "attempt": st.attemptId(),
                    "run_s": st.executorRunTime() / 1000.0,
                    "gc_s": st.jvmGcTime() / 1000.0,
                    "input_bytes": st.inputBytes(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "fetch_wait_s": st.shuffleFetchWaitTime() / 1000.0,
                    "tasks": st.numTasks(),
                }
            )
        return out

    def task_skew(self, stage: dict) -> float:
        """Longest ÷ median task duration of one stage."""
        seq = self.store.taskList(stage["stage"], stage["attempt"], 100000)
        durs = []
        for i in range(seq.length()):
            d = seq.apply(i).duration()
            if d.isDefined():
                durs.append(float(d.get()))
        med = statistics.median(durs) if durs else 0.0
        return max(durs) / med if med > 0 else 1.0

    def exchanges(self, t0: float, t1: float) -> int:
        """Exchange nodes in the final executed plans of the SQL executions
        submitted in [t0, t1]."""
        seq = self.sql.executionsList()
        n = 0
        for i in range(seq.length()):
            e = seq.apply(i)
            if not (t0 <= e.submissionTime() / 1000.0 <= t1):
                continue
            n += count_exchanges(e.physicalPlanDescription())
        return n


def count_exchanges(plan: str) -> int:
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return len(re.findall(r"\b(?:Broadcast)?Exchange \(\d+\)", tree))
