"""operators.util.widen decides from the unexecuted plan: it never runs a
Spark job, whatever the frame's shape."""

from dativo_ingest_spark.operators.util import widen


def _next_job_id(spark) -> int:
    v = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return v if isinstance(v, int) else v.get()


def test_widen_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "one_file")
    spark.range(64).selectExpr("id", "CAST(id AS STRING) AS t") \
        .coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    widened = widen(scan)
    # a one-file scan is narrower than the core pool: widened as ever
    assert widened is not scan
    assert widened.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism
    # frames whose plan already holds an exchange (a cached one included)
    # come back unchanged, and deciding so runs nothing
    cached = widen(scan).persist()
    try:
        for df in (widened, scan.groupBy("t").count(), cached):
            before = _next_job_id(spark)
            assert widen(df) is df
            assert _next_job_id(spark) == before
    finally:
        cached.unpersist()
