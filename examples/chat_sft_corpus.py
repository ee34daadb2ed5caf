#!/usr/bin/env python
"""End-to-end chat-SFT corpus preparation over transcript-shaped input —
the operators a supervised-fine-tuning data pipeline chains on a
row-per-turn corpus:

    assemble (turn rows → conversation docs, deterministic order) →
    loss-mask spans (char offsets of each turn, keyed by role) →
    NFC clean → exact dedup (conversation level) →
    decontaminate (eval-set n-gram overlap) → pack (token budget)

The point this example makes: every document-level hygiene stage the
pre-training funnel runs applies unchanged to conversations ONCE they
are assembled — assembly and the loss mask are the only
transcript-specific moves, and both live in
`logpipe_spark/operators/transcripts.py`.

Run: python examples/chat_sft_corpus.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from logpipe_spark.operators.corpus import clean_text, decontaminate, sequence_pack
from logpipe_spark.operators.dedup import exact_dedup
from logpipe_spark.operators.transcripts import assemble_documents, turn_spans
from logpipe_spark.session import get_spark


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = get_spark(cores=8, shuffle_partitions=8)

    # transcript-shaped input: events as (conv, turn, role, text) — the
    # same construction the contract queries use
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(8)
    turns = ev.select(
        F.col("user_id").alias("conv_id"),
        F.col("event_id").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.concat(F.col("event_type"), F.lit(": "), F.col("props")).alias("text"),
    )
    print(f"turns               {turns.count()}")

    convs = assemble_documents(turns).localCheckpoint()
    print(f"conversations       {convs.count()}")

    # the loss mask rides beside the doc: train on assistant-role spans
    spans = turn_spans(turns)
    n_train_spans = spans.filter(F.col("role") == "purchase").count()
    print(f"mask spans (kept)   {n_train_spans}")

    docs = (
        clean_text(convs.withColumnRenamed("doc", "text"))
        .drop("text")
        .withColumnRenamed("text_clean", "text")
        .withColumnRenamed("conv_id", "doc_id")
    )
    deduped = exact_dedup(docs).localCheckpoint()
    print(f"after exact dedup   {deduped.count()}")

    eval_docs = deduped.filter(F.col("doc_id") % 7 == 0)
    kept = (
        decontaminate(deduped, eval_docs.filter(F.col("doc_id") % 14 != 0),
                      n=8, min_overlap=3)
        .filter(~F.col("contaminated"))
        .select(*deduped.columns)
        .localCheckpoint()
    )
    print(f"after decontam      {kept.count()}")

    packed = sequence_pack(kept, budget=512)
    print(f"packed bins         {packed.select('pack_id').distinct().count()}")

    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:2])
