"""The session's codegen cache holds the corpus funnel's working set, so a
warm funnel call re-uses every generated class instead of re-compiling it."""

import random

from pyspark.sql import functions as F

WORDS = ["the", "and", "of", "river", "stone", "market", "window", "garden",
         "letter", "engine", "harbor", "pencil", "forest", "signal", "copper"]


def _corpus(spark):
    """240 seeded documents over a small vocabulary, each passing the
    quality gate, plus one-word edits of the first 30 so near-dup
    clustering has pairs to join."""
    rng = random.Random(11)
    texts = [" ".join(rng.choice(WORDS) for _ in range(40)) for _ in range(240)]
    texts += [t.rsplit(" ", 1)[0] + " lantern" for t in texts[:30]]
    rows = [(i, t, "en" if i % 3 else "de", f"https://site{i % 9}.example/{i}")
            for i, t in enumerate(texts)]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    )


def test_warm_corpus_funnel_recompiles_under_ten_percent(spark):
    """One run_corpus_funnel call generates a few hundred distinct classes,
    more than Spark's default cache of 100 keeps; with the default, a second
    identical call re-compiled nearly all of them. The counter is the JVM's
    Janino compile count, read as a delta across each call. The module
    sorts before test_corpus.py, whose funnel calls would otherwise have
    filled the session's cache before the first call here."""
    from logpipe_spark.plans.corpus_funnel import run_corpus_funnel

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    docs = _corpus(spark)
    ev = docs.filter(F.col("doc_id") % 89 == 0)

    def compiles_of_one_run():
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        funnel = run_corpus_funnel(spark, docs.repartition(4), eval_docs=ev)
        return metrics.METRIC_COMPILATION_TIME().getCount() - before, funnel

    first, funnel_1 = compiles_of_one_run()
    second, funnel_2 = compiles_of_one_run()
    assert funnel_1 == funnel_2
    assert funnel_1["neardup_keep_best"] < funnel_1["exact_dedup"]
    assert second < 0.1 * first, (first, second)
