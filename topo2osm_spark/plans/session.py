"""SparkSession factory with the engine's pinned configs (SURVEY.md §4.2.6)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(app: str = "topo2osm_spark", master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    cores = os.cpu_count() or 8
    master = master or os.environ.get("SPARK_GRAFT_MASTER",
                                      f"local[{os.environ.get('SPARK_GRAFT_CPUS', cores)}]")
    sp = shuffle_partitions or int(os.environ.get(
        "SPARK_GRAFT_SHUFFLE", str(2 * cores)))
    b = (SparkSession.builder.master(master).appName(app)
         .config("spark.sql.shuffle.partitions", str(sp))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                 os.environ.get("SPARK_GRAFT_ARROW_BATCH", "2048"))
         # scan split size: the default 128 MB sizes splits for SCAN
         # cost, but several output branches (span echo, tile join)
         # re-read the documents table directly — at 512k docs the
         # ~700 MB input became ~6 splits, a serial tail on the
         # parallel side (echo wrote in ~20 s at BOTH local[1] and
         # local[4], BENCH r2). 32 MB keeps those JVM-only scan stages
         # wide; the Arrow parse path is unaffected (it repartitions
         # explicitly, see run_pipeline).
         .config("spark.sql.files.maxPartitionBytes",
                 os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES",
                                str(32 * 1024 * 1024)))
         # several broadcast sides here are SMALL SETS WITH EXPENSIVE
         # LINEAGE (e.g. the snap hot-bin probe computes the full parse
         # chain when caches are cold): the 300s default
         # broadcastTimeout kills such jobs at scale — the failure
         # surfaces as "Python worker exited unexpectedly" when the
         # cancelled stage tears down its Arrow workers.
         .config("spark.sql.broadcastTimeout", "3600")
         .config("spark.sql.session.timeZone", "UTC")
         # one conversion generates ~300 distinct classes; at the
         # default 100 entries the codegen cache thrashes and a second
         # conversion in the same JVM compiles them all again
         .config("spark.sql.codegen.cache.maxEntries", "2000")
         .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
         .config("spark.ui.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_session(spark: SparkSession) -> None:
    """Runtime-settable knobs for a session we did not create (the
    driver hands us one in __spark_entry__)."""
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.broadcastTimeout": "3600",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
