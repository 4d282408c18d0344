"""The Spark job count of one banded dedup-on-ingest call, pinned per mode.

Both banded operators (``dedup.dedup_minhash_against_index`` and
``similarity.dedup_embeddings_against_index``) run one shared pipeline; a
re-plan of that pipeline must show here as a deliberate change of these
numbers, never as a silent one. The batch is scan-backed (the production
shape), tiny, and holds one near-duplicate pair, so the persisted ``kept``
frame must come out as one partition: one file when it is written."""

import pytest

from dativo_ingest_spark.operators import dedup, similarity
from dativo_ingest_spark.sinks.table_commit import FsTable
from tests.test_widen import _next_job_id

_BASE = "the quick brown fox jumps over the lazy dog again and again"
_VEC = [float(i * i % 7) + i * 0.25 for i in range(16)]

#: (mode, index, commit) -> Spark jobs of one operator call. A committed
#: call adds the index append's write jobs; a non-empty index adds the
#: index probe's scan and exchange. The shape is the same in a cold and a
#: warm JVM: ``kept``'s id exchange is explicit, so AQE cannot skip it by
#: re-planning the index anti-join before creating it.
EXPECTED_JOBS = {
    ("minhash", "empty", True): 14,
    ("minhash", "empty", False): 12,
    ("minhash", "nonempty", True): 16,
    ("minhash", "nonempty", False): 14,
    ("embedding", "empty", True): 11,
    ("embedding", "empty", False): 10,
    ("embedding", "nonempty", True): 13,
    ("embedding", "nonempty", False): 12,
}


def _batch(spark, tmp_path, mode, name):
    if mode == "minhash":
        rows = [(f"{name}1", _BASE),
                (f"{name}2", _BASE),
                (f"{name}3", "completely different content about spark "
                             "shuffles and joins")]
        df = spark.createDataFrame(rows, "doc_id string, text string")
    else:
        rows = [(f"{name}1", _VEC), (f"{name}2", [x * 1.5 for x in _VEC]),
                (f"{name}3", [float((-1) ** i) * (i + 1) for i in range(16)])]
        df = spark.createDataFrame(rows, "doc_id string, text array<double>")
    path = str(tmp_path / name)
    df.coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def _run(spark, mode, batch, table, commit):
    op = (dedup.dedup_minhash_against_index if mode == "minhash"
          else similarity.dedup_embeddings_against_index)
    return op(spark, batch, "doc_id", "text", table, commit=commit)


@pytest.mark.parametrize("mode,index,commit", sorted(EXPECTED_JOBS))
def test_banded_operator_job_count(spark, tmp_path, mode, index, commit):
    table = FsTable.create(str(tmp_path / "index"))
    if index == "nonempty":
        seed = _batch(spark, tmp_path, mode, "s").filter("doc_id = 's1'")
        seeded, _, _ = _run(spark, mode, seed, table, commit=True)
        seeded.unpersist()
    batch = _batch(spark, tmp_path, mode, "b")
    before = _next_job_id(spark)
    kept, n_batch, n_index = _run(spark, mode, batch, table, commit)
    jobs = _next_job_id(spark) - before
    try:
        # the pair's second row drops in the batch; against the seeded
        # index (the pair's content under another id) its first row drops
        assert (n_batch, n_index) == (1, 1 if index == "nonempty" else 0)
        assert jobs == EXPECTED_JOBS[(mode, index, commit)]
        assert kept.rdd.getNumPartitions() == 1
    finally:
        kept.unpersist()
