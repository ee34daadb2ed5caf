"""SparkSession factory tuned for this engine.

Replaces logpipe's daemon/worker setup (reference ``src/main.c:89-167``,
``src/monitor.c:187-209``): there is no process supervision to build —
Spark's driver/executor model plus task retry *is* the monitor/worker pair.

Config choices are scale-minded:

- AQE on (runtime re-plan, skew-join splitting) — second line of defense
  behind explicit salting (see ``operators/sinks.py``).
- Arrow on — every Python-side transform in this package is a vectorized
  pandas UDF; row-at-a-time Python UDFs are banned (north rule).
- ``spark.sql.session.timeZone=UTC`` — deterministic timestamps and parity
  with the DuckDB correctness oracle.
- ``spark.sql.codegen.cache.maxEntries=1000`` — compile each generated
  class once per JVM. The cache is keyed by generated source, and Spark
  keeps 100 classes; one ``run_corpus_funnel`` call needs 255 distinct
  classes, so with LRU eviction every warm call re-compiled all 255 in
  Janino (28% of the JVM's CPU samples). 1000 holds the funnel's working
  set with room for the transcript pipeline's classes beside it.
- shuffle partitions default to the core count in local mode; on a real
  cluster this would be set to ~2-3× total cores (or left to AQE coalesce).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    cores: int | str | None = None,
    app_name: str = "logpipe_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores``: int N → ``local[N]``; "*" or None → ``local[$SPARK_GRAFT_CPUS]``
    (default all cores). On a real cluster the master comes from
    spark-submit and this argument is ignored via ``SPARK_GRAFT_ON_CLUSTER``.
    """
    if os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = SparkSession.builder.appName(app_name)
    else:
        if cores is None or cores == "*":
            cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
        builder = SparkSession.builder.master(f"local[{cores}]").appName(app_name)

    n_shuffle = shuffle_partitions or (
        int(cores) if isinstance(cores, int) else 32
    )

    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.parquet.compression.codec": "zstd",
        # keep scans pruned: filters/columns must reach the parquet reader
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # GC matters in local mode: N executor threads share ONE JVM, so
        # allocation rate scales with cores while the default heap doesn't —
        # at local[32] the flagship chain spent ~15% of wall time in G1
        # pauses at 8g (BENCH.md round 3). bench.py sets
        # SPARK_GRAFT_DRIVER_MEM=32g and SPARK_GRAFT_JAVA_OPTS=
        # -XX:+UseParallelGC (throughput collector) for measured runs; on a
        # real cluster per-executor heaps make this moot.
        **(
            {"spark.driver.extraJavaOptions": os.environ["SPARK_GRAFT_JAVA_OPTS"]}
            if os.environ.get("SPARK_GRAFT_JAVA_OPTS")
            else {}
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        "spark.sql.codegen.cache.maxEntries": "1000",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
