"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame


def widen(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the scan produced fewer partitions than
    cores (tiny/single-file inputs) so expression- or Python-heavy pipeline
    stages use the whole executor pool. No-op at scale, where scans already
    have ample partitions.

    Decided from the unexecuted physical plan, never a job: a frame whose
    plan (cached sub-plans included) already holds an exchange is returned
    unchanged, because asking it for its partition count makes AQE run the
    stages below that exchange. Its width is the exchange's (an earlier
    widen's, or the shuffle width AQE sized by bytes). Only exchange-free
    (scan-backed) frames are measured, which plans file splits but runs
    nothing."""
    if _holds_exchange(df._jdf.queryExecution().executedPlan()):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _holds_exchange(plan) -> bool:
    """Whether a physical plan tree holds a shuffle or broadcast exchange.
    AQE's wrapper counts as one (it is planned only around exchanges and
    subqueries), and an in-memory scan is searched through its cached
    plan (``innerChildren``)."""
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name.endswith(("Exchange", "QueryStage")) \
                or name == "AdaptiveSparkPlan":
            return True
        for seq in (node.children(), node.innerChildren()):
            todo.extend(seq.apply(i) for i in range(seq.size()))
    return False


#: rows per partition for driver-local result frames — large enough that
#: every realistic collected result fits in one partition, small enough
#: that a pathological caller still parallelizes.
_LOCAL_DF_ROWS_PER_SLICE = 10_000


def local_df(spark, rows, schema) -> DataFrame:
    """``createDataFrame`` for driver-local (collected/fixture) rows with a
    partition count sized to the DATA, not the core count.

    A bare ``spark.createDataFrame(rows, schema)`` pickles the rows into
    ``defaultParallelism`` slices; every later evaluation then sets up one
    Python runner per slice — ~0.4 s per action for an 8-row frame on
    local[32], and a ``coalesce(1)`` above such a frame pays the 32 runner
    setups SERIALLY inside one task (measured 5 s). One slice per 10k rows
    keeps tiny result frames at a single Python runner per action while
    still splitting genuinely large fixture loads.
    """
    rows = rows if isinstance(rows, list) else list(rows)
    n_slices = max(1, min(spark.sparkContext.defaultParallelism,
                          -(-len(rows) // _LOCAL_DF_ROWS_PER_SLICE)))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), schema)


#: target rows per parquet file for incremental index appends — per-batch
#: entry sets are tiny relative to the shuffle partition count, and an
#: un-coalesced append fragments the index into one near-empty file per
#: partition per batch (compaction debt + listing cost on every read).
INDEX_APPEND_ROWS_PER_FILE = 1_000_000


def index_append_partitions(n_rows: int) -> int:
    """File count for an index append of ``n_rows`` entry rows."""
    return max(1, -(-int(n_rows) // INDEX_APPEND_ROWS_PER_FILE))
