"""Declarative pipeline spec — the JSON config model of the reference
(`src/config.c:11-18`, example `README.md:92-116`) re-imagined as a plan
description compiled to DataFrame transforms.

logpipe config:                       here:
  { "inputs":  [ {plugin, opts} ],      { "source":  {path | snapshots},
    "filters": [ {plugin, opts} ],        "parse":   builtin JSON extract,
    "outputs": [ {plugin, opts} ] }       "enrich":  {dim keys, how},
                                          "route":   [rule, ...],
                                          "sinks":   {out_dir, salt} }

Where the reference dlopens plugin .so files (`src/config.c:63-119`), this
compiles to the same five-stage chain `pipeline.run_pipeline` executes —
the "plugin ABI" is the DataFrame: `pipeline.build_stage_chain` maps a
loaded DataFrame to a routed one, so a custom stage composes with it as an
ordinary DataFrame -> DataFrame function.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, fields

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from logpipe_spark.functions.units import parse_duration_us, parse_size_bytes
from logpipe_spark.pipeline import run_pipeline


@dataclass
class PipelineSpec:
    source_dir: str
    out_dir: str
    rules: list[dict]
    dim_rows: list[dict] = field(default_factory=list)
    dim_keys: list[str] = field(default_factory=lambda: ["tool", "role"])
    run_id: str | None = None
    # source-level basename glob filters (logpipe-input-file.c:593-739):
    # keep iff ALL include globs match and NO exclude glob matches
    files: list[str] = field(default_factory=list)
    exclude_files: list[str] = field(default_factory=list)
    # unit-bearing scalars (util.c:525-568 semantics: "128MB", "100ms")
    max_partition_bytes: int | None = None  # scan split target
    poll_interval_us: int | None = None  # streaming trigger period

    @classmethod
    def from_json(cls, text: str) -> "PipelineSpec":
        cfg = json.loads(text)
        for k in ("source_dir", "out_dir", "rules"):
            if k not in cfg:
                raise ValueError(f"pipeline spec missing required key: {k!r}")
        for rule in cfg["rules"]:
            missing = {"rule_id", "match_col", "pattern", "sink"} - set(rule)
            if missing:
                raise ValueError(f"rule {rule!r} missing keys: {sorted(missing)}")
            rule.setdefault("exclude", False)
        mpb = cfg.get("max_partition_bytes")
        poll = cfg.get("poll_interval")
        return cls(
            source_dir=cfg["source_dir"],
            out_dir=cfg["out_dir"],
            rules=cfg["rules"],
            dim_rows=cfg.get("dim", []),
            dim_keys=cfg.get("dim_keys", ["tool", "role"]),
            run_id=cfg.get("run_id"),
            files=cfg.get("files", []),
            exclude_files=cfg.get("exclude_files", []),
            max_partition_bytes=parse_size_bytes(mpb) if mpb is not None else None,
            poll_interval_us=parse_duration_us(poll) if poll is not None else None,
        )

    @classmethod
    def from_file(cls, path: str) -> "PipelineSpec":
        with open(path) as f:
            return cls.from_json(f.read())

    def _dim(self, spark: SparkSession) -> DataFrame:
        if self.dim_rows:
            # the session's own Row inference fixes the types (and rejects
            # an all-NULL column as it always has); pandas carries the rows
            # through Arrow, so the broadcast build side is a local
            # relation and scanning it starts no Python worker
            schema = spark._inferSchemaFromList(self.dim_rows)
            rows = pd.DataFrame(self.dim_rows, columns=schema.fieldNames())
            return spark.createDataFrame(rows, schema=schema)
        from logpipe_spark.fixtures import gen_tool_role_dim

        return spark.createDataFrame(gen_tool_role_dim())

    def run(self, spark: SparkSession) -> dict:
        # NOTE (ADVICE r2): maxPartitionBytes is a session-global knob —
        # set-then-restore assumes ONE spec runs on this session at a time
        # (the reference's process model: one config file, one pipeline per
        # process). Concurrent spec runs sharing a session would race on
        # it; give each runner its own SparkSession (cheap: newSession()
        # shares the SparkContext but isolates SQL conf) if you need that.
        dim = self._dim(spark)
        conf_key = "spark.sql.files.maxPartitionBytes"
        prev = spark.conf.get(conf_key) if self.max_partition_bytes else None
        if self.max_partition_bytes:
            spark.conf.set(conf_key, str(self.max_partition_bytes))
        try:
            return run_pipeline(
                spark,
                self.source_dir,
                self.out_dir,
                dim,
                self.rules,
                run_id=self.run_id,
                dim_keys=self.dim_keys,
                include_files=self.files or None,
                exclude_files=self.exclude_files or None,
            )
        finally:
            # scan tuning is per-spec, not per-session: restore so one
            # spec's 1MB split target doesn't leak into every later job
            if self.max_partition_bytes:
                spark.conf.set(conf_key, prev)

    def run_streaming(
        self, spark: SparkSession, available_now: bool = True,
        timeout_sec: int = 300,
    ) -> dict:
        """Streaming flavor of the same spec — this is what consumes
        ``poll_interval`` (the reference's usleep tail-poll period): with
        ``available_now=False`` the query triggers every poll interval.

        The stream enriches on (tool, role) and reads every file, so a spec
        that sets ``dim_keys``, ``files`` or ``exclude_files`` otherwise
        raises ValueError rather than run differently than ``run``."""
        from logpipe_spark.streaming.stream import run_stream

        for f in fields(self):
            value = getattr(self, f.name)
            if f.name in ("dim_keys", "files", "exclude_files") and value != f.default_factory():
                raise ValueError(
                    f"run_streaming does not apply the spec's {f.name!r} "
                    f"({value!r}); only run() does"
                )
        return run_stream(
            spark,
            self.source_dir,
            self.out_dir,
            self._dim(spark),
            self.rules,
            available_now=available_now,
            timeout_sec=timeout_sec,
            trigger_interval_us=self.poll_interval_us,
        )
