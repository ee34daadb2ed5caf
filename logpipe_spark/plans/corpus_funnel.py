"""The composed pre-training-corpus pipeline as a library function —
the corpus-management operators chained the way production runs them
(C4/FineWeb/Dolma shape), returning the per-stage funnel counts.

`examples/pretrain_corpus.py` narrates this interactively; `bench.py`
times it as one block (the composition is what a user actually runs —
stage costs hide fusion wins and barrier losses that per-operator
numbers can't show). Every stage keeps the scale posture documented on
its operator: hash groupBys, broadcast eval sets, id-only candidate
shuffles; nothing collects a corpus-sized result to the driver. The one
collect is the near-dup stage's pair graph, and only up to
``dedup._DRIVER_CC_EDGES`` edges: a graph that small is labeled there
(``connected_components_star``), a larger one by the star rounds.

Stage boundaries are ``localCheckpoint``-materialized: without
materialization stage k would re-execute stages 1..k (the iterative
components pass alone would rerun half a dozen times). A stage's count
rides its checkpoint job as an ``observe(count(1))`` on the stage's
frame, the way logpipe keeps its per-file line and offset counts in the
forwarding pass (``trace_line``/``trace_offset``) and never re-reads to
count: no stage pays a second job to count rows it has just written. At
100 TB the same role is played by writing each stage to storage — which
a real run does anyway; they are its restart points.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from logpipe_spark.operators.corpus import (
    chunk_documents,
    clean_text,
    corpus_filter,
    decontaminate,
    pii_redact,
    remove_eval_spans,
    sequence_pack,
    shuffle_corpus,
    temperature_mix,
)
from logpipe_spark.operators.dedup import (
    dedup_lines,
    exact_dedup,
    neardup_keep_best,
    ngram_jaccard_pairs,
)


class _TimedFunnel(dict):
    """Funnel-count dict that takes each stage's count from the job that
    materializes the stage, and records per-stage wall seconds.

    ``checkpoint(stage, df)`` attaches ``observe(count(1))`` to the stage's
    frame and ``localCheckpoint``s it: the count rides the checkpoint job,
    as logpipe keeps its per-file line counts in the forwarding pass
    instead of re-reading to count. ``counted(stage, df)`` only attaches
    the observation; its count is filled, in key order, by the next
    ``checkpoint`` or ``count`` (``input`` rides the first materializing
    job, ``chunks`` the ``packed_bins`` job). So the time between
    consecutive assignments IS the materialization cost of the stages
    filled. Written into the optional ``stage_seconds`` dict so callers can
    attribute the composed pipeline's cost stage by stage."""

    def __init__(self, stage_seconds: dict | None = None):
        super().__init__()
        self._secs = stage_seconds
        self._t = time.perf_counter()
        self._pending: list[tuple[str, Observation]] = []

    def __setitem__(self, key, value):
        now = time.perf_counter()
        if self._secs is not None:
            self._secs[key] = round(now - self._t, 4)
        self._t = now
        super().__setitem__(key, value)

    def counted(self, stage: str, df: DataFrame) -> DataFrame:
        obs = Observation(stage)
        self._pending.append((stage, obs))
        return df.observe(obs, F.count(F.lit(1)).alias("n"))

    def _settle(self) -> None:
        for stage, obs in self._pending:
            self[stage] = obs.get["n"]
        self._pending.clear()

    def checkpoint(self, stage: str, df: DataFrame) -> DataFrame:
        df = self.counted(stage, df).localCheckpoint()
        self._settle()
        return df

    def count(self, stage: str, df: DataFrame) -> None:
        n = df.count()
        self._settle()
        self[stage] = n


def run_corpus_funnel(
    spark: SparkSession,
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    html_col: str | None = None,
    url_blocklist: DataFrame | None = None,
    classifier_threshold: float | None = None,
    decontam_mode: str = "drop",
    stage_seconds: dict | None = None,
) -> dict:
    """[URL blocklist →] [HTML extract →] clean text → quality gate →
    [classifier gate →] exact dedup → near-dup keep-best →
    decontaminate → PII scrub → line dedup → temperature mix (α = 0.5
    over ``lang``) → 128-token chunks → packs of ≤ 256 tokens → shuffle
    order.
    Returns {stage: count} (forcing each stage — this is the
    audit/benchmark entry; a production run would fuse stages it does
    not need counts for).

    The three optional crawl-side gates mirror C4/RefinedWeb order:
    ``url_blocklist`` drops blocked domains FIRST (cheapest predicate,
    broadcast anti-joins, before any text is even parsed),
    ``html_col`` runs the map-only tag-strip chain to produce ``text``,
    and ``classifier_threshold`` applies the hashed-linear quality model
    after the heuristic gate (both map-only; the heuristic first because
    it is cheaper per byte).

    ``decontam_mode``: "drop" (default) removes whole contaminated
    documents (the decontaminate flag); "excise" cuts only the
    contaminated spans (remove_eval_spans) and keeps the remainder,
    dropping a doc only when nothing survives.

    ``stage_seconds``: optional out-dict — receives {stage: wall_sec}
    for every funnel entry (the cost of materializing that stage)."""
    funnel = _TimedFunnel(stage_seconds)
    docs = funnel.counted("input", docs)

    if url_blocklist is not None:
        from logpipe_spark.operators.urls import url_blocklist_filter

        docs = funnel.checkpoint(
            "url_blocklist", url_blocklist_filter(docs, url_blocklist)
        )

    if html_col is not None:
        from logpipe_spark.operators.html import extract_text

        docs = funnel.checkpoint(
            "html_extract",
            extract_text(docs.drop("text"), html_col=html_col).drop(
                html_col, "text_chars"
            ),
        )

    # normalization BEFORE any text-keyed stage: the quality heuristics,
    # dedup fingerprints, and shingles downstream must see one canonical
    # byte form, or composed-vs-decomposed variants of the same document
    # defeat exact dedup entirely. Map-only — the count never changes, the
    # stage is in the funnel because every recipe documents it.
    docs = funnel.checkpoint(
        "clean_text",
        clean_text(docs).drop("text").withColumnRenamed("text_clean", "text"),
    )

    # NULL-keyed docs leave at this gate: every stage after it is keyed
    # on doc_id
    gated = funnel.checkpoint(
        "quality_gate",
        corpus_filter(docs)
        .filter(F.col("keep") & F.col("doc_id").isNotNull())
        .select(*docs.columns),
    )

    if classifier_threshold is not None:
        from logpipe_spark.operators.classify import classifier_score

        gated = funnel.checkpoint(
            "classifier_gate",
            classifier_score(gated, threshold=classifier_threshold)
            .filter(F.col("keep"))
            .select(*gated.columns),
        )

    exact = funnel.checkpoint("exact_dedup", exact_dedup(gated))

    # every gate below filters its operator's output, which carries the
    # input rows; no stage joins a result back on doc_id
    pairs = ngram_jaccard_pairs(exact, n=3, threshold=0.8).select("doc_a", "doc_b")
    deduped = funnel.checkpoint(
        "neardup_keep_best",
        neardup_keep_best(
            exact.withColumn("n_chars", F.length("text").cast("long")), pairs
        )
        .filter(F.col("keep"))
        .select(*exact.columns),
    )

    if eval_docs is not None:
        if decontam_mode == "excise":
            # span surgery: cut the contaminated 8-grams, keep the rest
            # of the doc (drop only docs with nothing left)
            deduped = (
                remove_eval_spans(deduped, eval_docs, n=8)
                .filter(F.col("n_kept") > 0)
                .drop("text", "n_kept")
                .withColumnRenamed("clean_text", "text")
            )
        else:
            deduped = (
                decontaminate(deduped, eval_docs, n=8, min_overlap=3)
                .filter(~F.col("contaminated"))
                .select(*deduped.columns)
            )
        deduped = funnel.checkpoint("decontaminate", deduped)

    scrubbed = pii_redact(deduped).drop("text").withColumnRenamed(
        "text_redacted", "text"
    )
    lined = funnel.checkpoint(
        "pii_line_dedup",
        dedup_lines(scrubbed, min_docs=5)
        .filter(F.col("clean_text") != "")
        .drop("text", "n_lines", "n_kept")
        .withColumnRenamed("clean_text", "text"),
    )

    mixed = funnel.checkpoint(
        "temperature_mix", temperature_mix(lined, alpha=0.5, group_col="lang")
    )

    chunks = funnel.counted("chunks", chunk_documents(mixed, chunk_size=128))
    packed = sequence_pack(
        chunks.select(
            (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("doc_id"),
            F.col("chunk_text").alias("text"),
        ),
        budget=256,
    )
    funnel.count("packed_bins", packed.select("pack_id").distinct())

    funnel.count("shuffled", shuffle_corpus(mixed, num_shards=8, seed="epoch0"))
    return funnel
