"""SparkSession factory with scale-oriented defaults.

The engine targets large clusters (the reference's workload re-imagined at
100 TB): AQE on (runtime coalesce + skew-join handling, cached plans
included), Arrow for any Python-boundary exchange, UTC session time so
timestamp semantics are deterministic across engines/oracles, snappy
parquet for parity with the reference writer (reference:
src/dativo_ingest/parquet_writer.py:424-429).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # Runtime re-planning: partition coalescing, skew-join splitting, and
    # dynamic join-strategy switching — essential at 100 TB where static
    # planning misguesses sizes.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce the final stage of a CACHED plan too. Spark's
    # default (false) freezes every persisted frame at
    # spark.sql.shuffle.partitions, so a 200-row dedup-on-ingest batch
    # cached after its joins was written as one near-empty parquet file
    # per shuffle partition, and every later read of the target paid for
    # them. With this on, a cached frame is sized by bytes
    # (advisoryPartitionSizeInBytes) like any other final stage: one
    # partition for a small batch, thousands at 100 TB.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow batches for pandas UDF / mapInPandas boundaries (10-100x over
    # row-at-a-time pickling).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics (oracle comparisons, cross-engine).
    "spark.sql.session.timeZone": "UTC",
    # Parity with the reference writer: snappy + dictionary encoding.
    "spark.sql.parquet.compression.codec": "snappy",
    # Small dims (region/nation/supplier even at sf large) should broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Read-side split sizing: keep scan partitions in the 128 MB band the
    # reference targets for files (parquet_writer.py:33-35).
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Task-attempt direct rename (v2) instead of the sequential driver-side
    # job-commit rename — measured 8x on the write bench at 10M rows, and
    # an O(files) serial driver step removed at production scale. Object
    # stores replace this wholesale via sinks/object_store.s3a_conf.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # Bound every plan-tree render (UI strings, CachedRDDBuilder's cache
    # name, explain output) to 1M chars. Plan strings are debug-only, but
    # the default bound is 2^31: persisting a frame deep inside a long
    # composed pipeline (examples/curate_corpus.py stacks the full
    # operator funnel lazily) made CacheManager stringify a plan tree
    # whose render alone exceeded the driver heap — a driver OOM from a
    # LOG STRING. 1M chars keeps any human-readable prefix while capping
    # the allocation at a few MB.
    "spark.sql.maxPlanStringLength": str(1_000_000),
}


def get_spark(
    app_name: str = "dativo-ingest-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster master is configured — tests/bench run single-JVM local mode, but
    nothing here assumes it: the same conf is what we'd ship on a
    1000-executor cluster (AQE decides actual parallelism at runtime).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    elif master and master.startswith("local"):
        # Local mode: shuffle width ≈ core count; a cluster deployment leaves
        # this to AQE's coalescing from a higher initial value.
        conf.setdefault("spark.sql.shuffle.partitions", "32")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
