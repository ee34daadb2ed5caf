"""logpipe.conf compatibility — translate the reference's native config
files into this engine's terms, so a reference deployment carries over.

The reference configures everything through one JSON file per process
(`src/config.c:11-18`; shipped examples `conf/*.conf`), parsed by its own
fasterjson, which tolerates two things strict JSON rejects and the shipped
confs actually use: ``//`` comment lines and bare unit scalars
(``"min_usleep_interval" : 10ms`` — `conf/logpipe_case7...conf`).
``parse_logpipe_conf`` accepts both.

``translate_logpipe_conf`` maps every plugin block the reference ships to
its counterpart here (see PLUGIN_MAP):

- file→file/stdout/hdfs cases compile to a runnable :class:`PipelineSpec`
  (the caller typically overrides the C-host paths with real ones);
- output-es blocks become ready ``render_es_bulk`` kwargs plus the HTTP
  target for ``es_bulk_post`` — the reference's grep/translate/tokenize/
  template/bulk options carry over field for field
  (`logpipe-output-es.c:610-668,464-517,543-596`);
- output-tcp blocks become the ``tcp_sink_send`` peer rotation
  (ip + ip2..ip8, `logpipe-output-tcp.c:57-97`);
- live inputs (tcp/exec/kafka) cannot be expressed as a batch source dir;
  they are returned in ``live_sources`` with the exact API to call
  (``socket_source`` / ``exec_source`` / ``kafka_source``) instead of
  being silently dropped.

Everything the translator consciously ignores lands in ``warnings`` — a
conf never half-translates silently.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from logpipe_spark.plans.spec import PipelineSpec

# reference knobs that have no meaning on this engine, with the reason —
# surfaced as warnings rather than errors (the reference itself treats
# most of them as tuning hints)
_IGNORED_KEYS = {
    "rotate_size": "rotation is the writer's target-file-size, not a knob",
    "exec_after_rotating": "no rotation hook; snapshots commit atomically",
    "compress_algorithm": "parquet codec (zstd) replaces block deflate",
    "min_usleep_interval": "no poll loop; streaming trigger covers pacing",
    "max_usleep_interval": "no poll loop; streaming trigger covers pacing",
    "line_mode": "rows are lines already",
    "inotify_read_bufsize": "no inotify",
    "start_once_for_full_dose": "snapshot model re-reads committed ranges",
    "log_file": "engine logging is Spark's",
    "log_level": "engine logging is Spark's",
}


_BARE_UNIT_RE = re.compile(
    r':\s*(\d+(?:\.\d+)?[a-zA-Z]+)\s*([,}\]\n])'
)


def _requote_bare_units(body: str) -> str:
    """Quote bare unit scalars (``: 10ms,`` -> ``: "10ms",``) — but ONLY
    outside string literals, so a strict-JSON value that happens to
    contain ``: 10ms,`` (e.g. a command line) is untouched and the
    JSON-superset property holds. Walks the body tracking quote/escape
    state and applies the rewrite to the between-string segments."""
    parts: list[str] = []
    i, start, in_str = 0, 0, False
    n = len(body)
    while i < n:
        c = body[i]
        if not in_str:
            if c == '"':
                parts.append(_BARE_UNIT_RE.sub(r': "\1"\2', body[start:i]))
                start, in_str = i, True
        elif c == "\\":
            i += 1
        elif c == '"':
            parts.append(body[start:i + 1])
            start, in_str = i + 1, False
        i += 1
    tail = body[start:]
    parts.append(tail if in_str else _BARE_UNIT_RE.sub(r': "\1"\2', tail))
    return "".join(parts)


def parse_logpipe_conf(text: str) -> dict:
    """Parse a reference conf: strict JSON plus the two fasterjson
    liberties the shipped confs use (``//`` comment lines; bare unit
    scalars like ``10ms``/``10MB``, which are re-quoted so the unit
    parsers downstream see them verbatim)."""
    lines = [
        line for line in text.splitlines()
        if not line.lstrip().startswith("//")
    ]
    return json.loads(_requote_bare_units("\n".join(lines)))


def _plugin_name(block: dict) -> str:
    base = os.path.basename(block.get("plugin", ""))
    return re.sub(r"^logpipe-|\.so$", "", base)


@dataclass
class TranslatedConf:
    """What a reference conf becomes here. ``spec`` is runnable when the
    conf's input side is a directory scan; live inputs are handed back in
    ``live_sources`` as (api_name, options)."""

    spec: PipelineSpec | None = None
    console: bool = False          # output-stdout present
    hdfs: dict | None = None       # output-hdfs target (day-dir write)
    es_render: dict | None = None  # kwargs for operators.writers.render_es_bulk
    es_target: dict | None = None  # host/port/index/type for es_bulk_post
    tcp_peers: list[tuple[str, int]] = field(default_factory=list)
    kafka: dict | None = None      # producer target for kafka_sink_writer
    ingeek: dict | None = None     # key-cut options (functions.text.filename_key_cut)
    live_sources: list[tuple[str, dict]] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)


def translate_logpipe_conf(
    text: str,
    source_dir: str | None = None,
    out_dir: str | None = None,
) -> TranslatedConf:
    """Translate one conf. ``source_dir``/``out_dir`` override the paths
    embedded in the conf (they point at the reference's hosts). The route
    is one catch-all rule per file-ish output: the reference has no
    routing, and every event reaches every output."""
    cfg = parse_logpipe_conf(text)
    out = TranslatedConf()
    src = source_dir
    includes: list[str] = []
    excludes: list[str] = []
    sink_name = None

    def _warn_ignored(block: dict, plugin: str) -> None:
        for k in block:
            if k in _IGNORED_KEYS:
                out.warnings.append(
                    f"{plugin}.{k} ignored: {_IGNORED_KEYS[k]}"
                )

    for block in cfg.get("inputs", []):
        plugin = _plugin_name(block)
        _warn_ignored(block, plugin)
        if plugin == "input-file":
            src = source_dir or block.get("path")
            # file/files..files8: AND-walk include globs; exclude any-match
            for k, v in block.items():
                if re.fullmatch(r"file|files[2-8]?", k):
                    includes.append(v)
                elif re.fullmatch(r"exclude_files[2-8]?", k):
                    excludes.append(v)
        elif plugin == "input-tcp":
            out.live_sources.append(("socket_source", dict(block)))
        elif plugin == "input-exec":
            out.live_sources.append(("exec_source", {"cmd": block.get("cmd"),
                                                     "name": block.get("output_filename")}))
        elif plugin in ("input-kafka", "input-kafka-with-zookeeper"):
            # the -with-zookeeper variant is the pre-0.9 consumer; the
            # connector only speaks bootstrap servers — surface that
            if "zookeeper" in block:
                out.warnings.append(
                    "input-kafka-with-zookeeper: connector needs "
                    "bootstrap_servers (broker list), not a zookeeper quorum"
                )
            out.live_sources.append(("kafka_source", dict(block)))
        else:
            out.warnings.append(f"unknown input plugin {plugin!r} skipped")

    for block in cfg.get("filters", []):
        plugin = _plugin_name(block)
        _warn_ignored(block, plugin)
        if plugin == "filter-log":
            out.warnings.append(
                "filter-log: lineage counters are always on (superset)"
            )
        elif plugin == "filter-pack-metadata":
            out.warnings.append(
                "filter-pack-metadata -> functions.text.pack_metadata "
                "(metadata stays as columns; pack only at an egress edge)"
            )
        elif plugin == "filter-unpack-metadata":
            out.warnings.append(
                "filter-unpack-metadata -> the parse stage "
                "(operators.parse / functions.text.unpack_metadata)"
            )
        else:
            out.warnings.append(f"unknown filter plugin {plugin!r} skipped")

    for block in cfg.get("outputs", []):
        plugin = _plugin_name(block)
        _warn_ignored(block, plugin)
        if plugin == "output-file":
            sink_name = sink_name or os.path.basename(
                (block.get("path") or "sink").rstrip("/")
            )
        elif plugin == "output-stdout":
            out.console = True
            sink_name = sink_name or "stdout"
        elif plugin == "output-hdfs":
            out.hdfs = {k: block[k] for k in ("name_node", "port", "user", "path")
                        if k in block}
            sink_name = sink_name or "hdfs"
        elif plugin in ("output-es", "output-ek"):
            out.es_render = {
                "doc_template": block.get("output_template"),
                "grep": block.get("grep"),
                "translate": block.get("translate_charset"),
                "min_fields": block.get("fields_strictly"),
            }
            # logpipe-output-es.c:202-204: bulk is enabled whenever the
            # key is present and not "false"/"no" — so bulk:"yes"/"1"/
            # anything-else enables; only absence or an explicit negative
            # disables it
            bulk_on = "bulk" in block and str(block["bulk"]).lower() not in (
                "false", "no",
            )
            if not bulk_on:
                out.warnings.append(
                    "output-es bulk disabled: single-doc POSTs become "
                    "batch_rows=1 bulk payloads here"
                )
            for k in ("iconv_from", "iconv_to"):
                if k in block:
                    out.warnings.append(
                        f"output-es.{k}: engine strings are UTF-8; use "
                        "functions.text.recode_gb18030 at the edge if the "
                        "payload bytes must stay in the legacy charset"
                    )
            out.es_target = {
                "host": block.get("ip"),
                "port": block.get("port"),
                "index": block.get("index"),
                "type": block.get("type"),
            }
            sink_name = sink_name or "es"
        elif plugin == "output-tcp":
            # logpipe-output-tcp.c:57-99: the peer loop stops at the FIRST
            # missing/empty ipN (a gap ends collection, later ipM are
            # ignored), and each ipN requires its own portN — the
            # reference hard-errors on a missing one rather than falling
            # back to the base "port"
            peers = []
            for k in ["ip"] + [f"ip{i}" for i in range(2, 9)]:
                if k not in block or str(block[k]) == "":
                    break
                suffix = k[2:]
                pk = f"port{suffix}"
                if pk not in block:
                    raise ValueError(
                        f"output-tcp: expect config for {pk!r} to pair "
                        f"with {k!r} (logpipe-output-tcp.c:76-80)"
                    )
                peers.append((block[k], int(block[pk])))
            out.tcp_peers.extend(peers)
            sink_name = sink_name or "tcp"
        elif plugin == "output-kafka":
            out.kafka = {"bootstrap_servers": block.get("bootstrap_servers"),
                         "topic": block.get("topic")}
            sink_name = sink_name or "kafka"
        elif plugin == "output-ingeek":
            out.ingeek = {k: block[k] for k in ("ip", "port", "key",
                                                "cut_key_seqchar",
                                                "cut_key_words")
                          if k in block}
            sink_name = sink_name or "ingeek"
        else:
            out.warnings.append(f"unknown output plugin {plugin!r} skipped")

    if src and (out_dir or sink_name not in (None, "tcp", "kafka")):
        # a runnable batch spec needs a directory source and somewhere to
        # land rows; the reference routes every event to every output, so
        # the faithful default rule is catch-all
        out.spec = PipelineSpec.from_json(json.dumps({
            "source_dir": src,
            "out_dir": out_dir or "/tmp/logpipe_conf_out",
            "rules": [{
                "rule_id": 1, "match_col": "text", "pattern": "*",
                "sink": sink_name or "sink",
            }],
            "files": includes,
            "exclude_files": excludes,
        }))
    return out
