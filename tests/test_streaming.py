"""Structured Streaming: file-stream windowed aggs match the batch plan;
applyInPandasWithState sessionization matches gap semantics."""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F

from dativo_ingest_spark.operators.drift import drift_reference
from dativo_ingest_spark.queries import load
from dativo_ingest_spark.streaming import pipeline
from tests.conftest import SF_DIR


@pytest.fixture()
def events_dir(spark, tmp_path):
    """events (sf tiny) written as several files so AvailableNow sees
    multiple splits; returns (path, schema, batch_df)."""
    ev = load(spark, SF_DIR, "events").select("event_id", "ts", "user_id",
                                              "event_type", "value")
    path = str(tmp_path / "events_stream")
    ev.repartition(4).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return path, back.schema, back


def _norm(rows):
    return sorted(
        tuple(v.isoformat() if isinstance(v, datetime.datetime) else v
              for v in row) for row in rows
    )


def test_stream_windowed_agg_matches_batch(spark, events_dir, tmp_path):
    path, schema, batch = events_dir
    stream = pipeline.stream_from_files(spark, path, schema,
                                        max_files_per_trigger=2)
    agg = pipeline.windowed_agg(stream, "ts", "1 hour",
                                keys=["event_type"], value_col="value")
    pipeline.run_available_now(agg, "win_agg", str(tmp_path / "ckpt"))
    got = spark.sql("SELECT * FROM win_agg").collect()

    expected = pipeline.windowed_agg(batch, "ts", "1 hour",
                                     keys=["event_type"], value_col="value",
                                     watermark=None).collect()
    assert _norm(got) == _norm(expected)
    assert len(got) > 0


def test_stream_sliding_window(spark, events_dir, tmp_path):
    path, schema, batch = events_dir
    stream = pipeline.stream_from_files(spark, path, schema)
    agg = pipeline.windowed_agg(stream, "ts", "2 hours", slide="1 hour")
    pipeline.run_available_now(agg, "slide_agg", str(tmp_path / "ckpt2"))
    got = spark.sql("SELECT * FROM slide_agg").collect()
    expected = pipeline.windowed_agg(batch, "ts", "2 hours", slide="1 hour",
                                     watermark=None).collect()
    assert _norm(got) == _norm(expected)


def test_stateful_sessionize_closes_on_gap(spark, tmp_path):
    t0 = datetime.datetime(2024, 1, 1, 0, 0)

    def at(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        (1, at(0)), (1, at(10)),            # session A: 2 events
        (1, at(120)), (1, at(125)),         # session B (gap 110m > 30m), open
        (2, at(5)),                         # session C: 1 event, then gap
        (2, at(90)),                        # session D, open
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    src = str(tmp_path / "sess_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = pipeline.stream_from_files(spark, src,
                                        spark.read.parquet(src).schema)
    sessions = pipeline.stateful_sessionize(stream, gap_seconds=1800)
    pipeline.run_available_now(sessions, "sessions", str(tmp_path / "ckpt3"),
                               output_mode="append")
    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in spark.sql("SELECT * FROM sessions").collect()}
    # only gap-closed sessions are emitted in a bounded run
    assert got == {
        (1, at(0), at(10 + 30), 2),
        (2, at(5), at(5 + 30), 1),
    }


def test_stateful_sessionize_matches_session_window(spark, tmp_path):
    """Closed sessions from the custom operator == built-in session_window
    rows (dropping each user's final/open session)."""
    ev = load(spark, SF_DIR, "events").select("user_id", "ts")
    src = str(tmp_path / "sess_all")
    ev.repartition(2).write.mode("overwrite").parquet(src)
    back = spark.read.parquet(src)

    stream = pipeline.stream_from_files(spark, src, back.schema)
    sessions = pipeline.stateful_sessionize(stream, gap_seconds=1800)
    pipeline.run_available_now(sessions, "sessions_all",
                               str(tmp_path / "ckpt4"), output_mode="append")
    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in spark.sql("SELECT * FROM sessions_all").collect()}

    batch = pipeline.session_window_agg(back, "ts", "30 minutes",
                                        keys=["user_id"], watermark=None)
    w_last = F.max("session_start").over(
        __import__("pyspark.sql.window", fromlist=["Window"])
        .Window.partitionBy("user_id"))
    expected_df = batch.withColumn("_last", w_last).filter(
        F.col("session_start") < F.col("_last")).drop("_last")
    expected = {(r.user_id, r.session_start, r.session_end, r.n_events)
                for r in expected_df.collect()}
    assert got == expected
    assert len(got) > 0


def test_stream_to_parquet_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt_sink")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    df1.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = pipeline.stream_from_files(spark, src, schema)
    pipeline.stream_to_partitioned_parquet(stream, out, ckpt)
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [1, 2]

    # second drain with no new files: nothing re-ingested
    stream = pipeline.stream_from_files(spark, src, schema)
    pipeline.stream_to_partitioned_parquet(stream, out, ckpt)
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [1, 2]

    # new file arrives → only it is appended
    spark.createDataFrame([(3, "c")], "id bigint, v string")\
        .coalesce(1).write.mode("append").parquet(src)
    stream = pipeline.stream_from_files(spark, src, schema)
    pipeline.stream_to_partitioned_parquet(stream, out, ckpt)
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [1, 2, 3]


def test_hive_epoch_writer_suppresses_replayed_epoch(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed (epoch_id, batch) must not
    append twice."""
    out = str(tmp_path / "out")
    wb = pipeline.hive_epoch_writer(out, [], query_id="q1")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    wb(df, 0)
    wb(df, 0)  # crash-after-checkpoint-miss replay
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [1, 2]
    wb(df, 1)  # a genuinely new epoch still appends
    assert spark.read.parquet(out).count() == 4


def test_hive_epoch_writer_new_query_not_suppressed(spark, tmp_path):
    """A NEW query (fresh checkpoint → epochs restart at 0) on the same
    output path must not have its first batches swallowed by another
    query's markers — that would be silent data loss."""
    out = str(tmp_path / "out")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    pipeline.hive_epoch_writer(out, [], query_id="q1")(df, 0)
    pipeline.hive_epoch_writer(out, [], query_id="q2")(df, 0)
    assert spark.read.parquet(out).count() == 4


def test_table_epoch_writer_exactly_once(spark, tmp_path):
    from dativo_ingest_spark.sinks.table_commit import FsTable

    table = FsTable.create(str(tmp_path / "t"))
    wb = pipeline.table_epoch_writer(table, query_id="q1")
    df = spark.createDataFrame([(1,), (2,)], "id bigint")
    wb(df, 0)
    wb(df, 0)   # replay of committed epoch: skipped
    assert table.read(spark).count() == 2
    wb(df, 1)
    assert table.read(spark).count() == 4
    # replay of an OLDER epoch after newer commits is also skipped
    wb(df, 0)
    assert table.read(spark).count() == 4
    # a fresh tenant branch bootstraps at main's head on its first epoch
    fresh = FsTable.create(str(tmp_path / "fresh"))
    main_v = fresh.current_version()
    wb = pipeline.table_epoch_writer(fresh, branch="acme", query_id="q1")
    wb(df, 0)
    wb(df, 0)   # replay: skipped
    assert len(fresh.history("acme")) == 2      # create + one commit
    assert fresh.read(spark, branch="acme").count() == 2
    assert fresh.current_version() == main_v    # main unchanged


def test_table_epoch_writer_independent_queries(spark, tmp_path):
    """Two independent streaming queries appending to one table/branch:
    each dedups its own replays without suppressing the other, even with
    interleaved commits (properties merge parent→child)."""
    from dativo_ingest_spark.sinks.table_commit import FsTable

    table = FsTable.create(str(tmp_path / "t"))
    a = pipeline.table_epoch_writer(table, query_id="qa")
    b = pipeline.table_epoch_writer(table, query_id="qb")
    df = spark.createDataFrame([(1,), (2,)], "id bigint")
    a(df, 0)
    b(df, 0)            # new query, epoch 0 again: must append
    assert table.read(spark).count() == 4
    a(df, 0)            # qa replay after qb's commit: still skipped
    b(df, 0)            # qb replay: skipped
    assert table.read(spark).count() == 4
    a(df, 1)
    assert table.read(spark).count() == 6


def test_stream_to_table_end_to_end(spark, tmp_path):
    from dativo_ingest_spark.sinks.table_commit import FsTable

    src = str(tmp_path / "src")
    root = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt_tbl")
    spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")\
        .coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    pipeline.stream_to_table(
        pipeline.stream_from_files(spark, src, schema), root, ckpt)
    assert FsTable(root).read(spark).count() == 2
    # re-drain with no new input: no new snapshot rows
    pipeline.stream_to_table(
        pipeline.stream_from_files(spark, src, schema), root, ckpt)
    assert FsTable(root).read(spark).count() == 2


def test_dedup_stream_drops_redelivered_events(spark, tmp_path):
    """At-least-once upstream: the same event_id arriving twice (file
    redelivery) must reach the sink once; batch run is the oracle."""
    src = str(tmp_path / "src")
    base = spark.createDataFrame(
        [(1, "2024-01-20 10:00:00", 5.0), (2, "2024-01-20 10:01:00", 7.0)],
        "event_id bigint, ts_s string, value double",
    ).selectExpr("event_id", "cast(ts_s as timestamp) as ts", "value")
    base.coalesce(1).write.mode("append").parquet(src)
    # redelivery: same events again, plus one genuinely new
    dup = base.union(spark.createDataFrame(
        [(3, "2024-01-20 10:02:00", 9.0)],
        "event_id bigint, ts_s string, value double",
    ).selectExpr("event_id", "cast(ts_s as timestamp) as ts", "value"))
    dup.coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = pipeline.dedup_stream(
        pipeline.stream_from_files(spark, src, schema), ["event_id"])
    pipeline.run_available_now(stream, "dedup_sink",
                               str(tmp_path / "ckpt"), output_mode="append")
    got = sorted(r.event_id
                 for r in spark.sql("SELECT * FROM dedup_sink").collect())
    assert got == [1, 2, 3]
    # batch oracle: same key set
    batch = pipeline.dedup_stream(spark.read.parquet(src), ["event_id"])
    assert sorted(r.event_id for r in batch.collect()) == got


def test_stream_interval_join_matches_batch(spark, events_dir, tmp_path):
    path, schema, batch = events_dir

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"))
        purch = df.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"))
        return clicks, purch

    sc, sp = sides(pipeline.stream_from_files(spark, path, schema))
    joined = pipeline.interval_join(
        sc, sp, ["user_id"], "click_ts", "purchase_ts",
        upper="1 hour", watermark="30 days",
    ).select(sc["user_id"], "click_id", "purchase_id")
    pipeline.run_available_now(joined, "ij", str(tmp_path / "ckpt_ij"),
                               output_mode="append")
    got = spark.sql("SELECT * FROM ij").collect()

    bc, bp = sides(batch)
    expected = pipeline.interval_join(
        bc, bp, ["user_id"], "click_ts", "purchase_ts", upper="1 hour",
    ).select(bc["user_id"], "click_id", "purchase_id").collect()
    assert _norm(got) == _norm(expected)
    assert len(got) > 0


def test_iceberg_epoch_writer_dedups_replayed_epochs(spark):
    """The real-Iceberg epoch writer skips epochs at-or-below the recorded
    snapshot-summary watermark and carries the epoch id ATOMICALLY inside
    each commit via snapshot_properties — never as a post-commit property
    write, which would open a crash window that duplicates the epoch
    (recorded sink — no Iceberg jar in this environment)."""

    class _RecorderSink:
        def __init__(self):
            self.committed = []
            self.snap_props = {}

        def get_snapshot_property(self, spark_, ident, key):
            return self.snap_props.get(key)

        def commit(self, spark_, df, ident, mode, branch, properties,
                   snapshot_properties):
            # the epoch marker must arrive in THIS call's atomic payload,
            # not ride the TBLPROPERTIES dict
            assert "stream.epoch.q7" in snapshot_properties
            assert not properties
            self.committed.append(
                (ident, mode, branch,
                 int(snapshot_properties["stream.epoch.q7"]), df.count()))
            self.snap_props.update(snapshot_properties)

    sink = _RecorderSink()
    write = pipeline.iceberg_epoch_writer(
        "lake.db.events", branch="acme", query_id="q7", sink=sink)
    batch = spark.range(3)
    write(batch, 0)
    write(batch, 1)
    write(batch, 1)   # replay: skipped
    write(batch, 0)   # stale replay: skipped
    write(batch, 2)
    assert [e for (_, _, _, e, _) in sink.committed] == [0, 1, 2]
    assert all(ident == "lake.db.events" and mode == "append"
               and branch == "acme" and n == 3
               for (ident, mode, branch, _, n) in sink.committed)


def test_iceberg_epoch_writer_crash_before_marker_is_safe(spark):
    """Crash DURING the commit (data + marker are one atomic snapshot):
    nothing is recorded, and the replayed epoch commits cleanly once —
    the exact scenario the old TBLPROPERTIES recipe got wrong."""

    class _CrashOnceSink:
        def __init__(self):
            self.snap_props = {}
            self.commits = 0
            self.crashed = False

        def get_snapshot_property(self, spark_, ident, key):
            return self.snap_props.get(key)

        def commit(self, spark_, df, ident, mode, branch, properties,
                   snapshot_properties):
            if not self.crashed:
                self.crashed = True
                raise RuntimeError("executor lost mid-commit")
            self.commits += 1
            self.snap_props.update(snapshot_properties)

    sink = _CrashOnceSink()
    write = pipeline.iceberg_epoch_writer(
        "lake.db.events", query_id="q8", sink=sink)
    batch = spark.range(3)
    import pytest as _pytest
    with _pytest.raises(RuntimeError):
        write(batch, 0)           # atomic commit fails: no data, no marker
    write(batch, 0)               # replay: commits exactly once
    write(batch, 0)               # second replay: skipped via marker
    assert sink.commits == 1
    assert sink.snap_props == {"stream.epoch.q8": "0"}


def test_stream_to_iceberg_requires_catalog(spark, tmp_path):
    import pytest

    from dativo_ingest_spark.config.contracts import ConfigError

    src = str(tmp_path / "s")
    spark.range(3).write.mode("overwrite").parquet(src)
    stream = pipeline.stream_from_files(spark, src,
                                        spark.read.parquet(src).schema)
    with pytest.raises(ConfigError, match="spark.sql.catalog"):
        pipeline.stream_to_iceberg(stream, "lake.db.t",
                                   str(tmp_path / "ckpt"))


def test_stream_static_enrichment_matches_batch(spark, events_dir, tmp_path):
    path, schema, batch = events_dir
    # dimension: per-user segment derived from the same corpus (static side)
    dim = (batch.select("user_id").distinct()
           .withColumn("segment", (F.col("user_id") % 3).cast("long")))
    stream = pipeline.stream_from_files(spark, path, schema)
    enriched = pipeline.enrich_with_dimension(stream, dim, ["user_id"])
    pipeline.run_available_now(
        enriched.select("event_id", "user_id", "segment"),
        "enriched_sink", str(tmp_path / "ckpt"), output_mode="append")
    got = _norm(spark.table("enriched_sink").collect())
    want = _norm(
        pipeline.enrich_with_dimension(batch, dim, ["user_id"])
        .select("event_id", "user_id", "segment").collect())
    assert got == want and got  # identical and non-empty


def test_stream_static_enrichment_broadcasts(spark, events_dir):
    _, _, batch = events_dir
    dim = (batch.select("user_id").distinct()
           .withColumn("segment", (F.col("user_id") % 3).cast("long")))
    plan = (pipeline.enrich_with_dimension(batch, dim, ["user_id"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan


def test_stream_static_enrichment_rejects_outer_on_static_side(spark,
                                                               events_dir):
    _, _, batch = events_dir
    dim = batch.select("user_id").distinct()
    with pytest.raises(ValueError):
        pipeline.enrich_with_dimension(batch, dim, ["user_id"], how="full")


def test_expectations_gate_modes(spark, tmp_path):
    # micro-batch stream where SOME batches violate a range expectation
    src = str(tmp_path / "dq_src")
    ev = load(spark, SF_DIR, "events").select("event_id", "value")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    back = spark.read.parquet(src)
    cap = float(back.approxQuantile("value", [0.5], 0.0)[0])
    exps = [{"type": "range", "column": "value", "min": 0, "max": cap}]

    written: list[int] = []

    def sink(batch_df, epoch_id):
        written.append(batch_df.count())

    def run(mode, out_name):
        written.clear()
        stream = pipeline.stream_from_files(spark, src, back.schema,
                                            max_files_per_trigger=1)
        q = (stream.writeStream
             .foreachBatch(pipeline.expectations_gate(exps, sink,
                                                      on_fail=mode))
             .option("checkpointLocation", str(tmp_path / out_name))
             .trigger(availableNow=True).start())
        return q

    # log mode: all rows pass through despite violations
    q = run("log", "ck_log"); q.awaitTermination()
    assert sum(written) == back.count()
    # skip mode: violating batches dropped, stream completes
    q = run("skip", "ck_skip"); q.awaitTermination()
    assert sum(written) < back.count()
    # abort mode: the query dies on the first violating batch
    q = run("abort", "ck_abort")
    with pytest.raises(Exception):
        q.awaitTermination()
    assert sum(written) < back.count()
    with pytest.raises(ValueError):
        pipeline.expectations_gate(exps, sink, on_fail="explode")


class TestStreamIvfpqIndex:
    """Streaming append leg for the persisted IVF-PQ retrieval index
    (r13 verdict Next #6): the index stays fresh under availableNow
    ingestion, exactly-once, and serves bit-identically to a one-shot
    batch build under the same frozen artifact."""

    DIM = 16

    def _emb_rows(self, lo, hi):
        return [(i, [float(((i * 7 + d * 3) % 23) - 11) / 3.0
                     for d in range(self.DIM)]) for i in range(lo, hi)]

    def test_streamed_index_serves_like_one_shot_build(
            self, spark, tmp_path):
        from dativo_ingest_spark.operators import quantization as Q
        from dativo_ingest_spark.sinks.table_commit import FsTable
        from dativo_ingest_spark.streaming.pipeline import (
            stream_from_files, stream_index_ivfpq)

        schema = "vec_id bigint, embedding array<double>"
        full = spark.createDataFrame(self._emb_rows(0, 48), schema)
        art = Q.ivfpq_train_artifact(full, "vec_id", "embedding",
                                     m=2, k_codes=4, n_cells=4, n_iter=1)
        src = str(tmp_path / "src")
        spark.createDataFrame(self._emb_rows(0, 24), schema) \
            .coalesce(1).write.mode("append").parquet(src)
        spark.createDataFrame(self._emb_rows(24, 48), schema) \
            .coalesce(1).write.mode("append").parquet(src)

        stream = stream_from_files(
            spark, src, spark.read.parquet(src).schema,
            max_files_per_trigger=1)
        ix = stream_index_ivfpq(
            stream, str(tmp_path / "ix"), "vec_id", "embedding", art,
            str(tmp_path / "ckpt"))

        t_one = FsTable.create(str(tmp_path / "one"))
        Q.ivfpq_index_build(full, "vec_id", "embedding", t_one,
                            artifact=art)
        queries = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
                   for r in full.filter(F.col("vec_id").isin(0, 1))
                   .collect()}
        got = sorted(map(tuple, Q.ivfpq_index_topk(
            spark, ix, art, queries, n_probe=2, k=10).collect()))
        want = sorted(map(tuple, Q.ivfpq_index_topk(
            spark, t_one, art, queries, n_probe=2, k=10).collect()))
        assert got == want

        # RESTART over the same checkpoint: no new data, no new commits
        v_before = ix.current_version()
        stream2 = stream_from_files(
            spark, src, spark.read.parquet(src).schema,
            max_files_per_trigger=1)
        stream_index_ivfpq(stream2, str(tmp_path / "ix"), "vec_id",
                           "embedding", art, str(tmp_path / "ckpt"))
        assert ix.current_version() == v_before

    def test_epoch_replay_is_exactly_once(self, spark, tmp_path):
        from dativo_ingest_spark.operators import quantization as Q
        from dativo_ingest_spark.sinks.table_commit import FsTable
        from dativo_ingest_spark.streaming.pipeline import (
            ivfpq_index_epoch_writer)

        schema = "vec_id bigint, embedding array<double>"
        full = spark.createDataFrame(self._emb_rows(0, 24), schema)
        art = Q.ivfpq_train_artifact(full, "vec_id", "embedding",
                                     m=2, k_codes=4, n_cells=4,
                                     n_iter=1)
        ix = FsTable.create(str(tmp_path / "ix"))
        writer = ivfpq_index_epoch_writer(ix, art, "vec_id",
                                          "embedding", query_id="q1")
        writer(full, 0)
        n1 = ix.read(spark).count()
        writer(full, 0)  # replayed epoch: marker suppresses the append
        assert ix.read(spark).count() == n1 == 24
        writer(spark.createDataFrame(self._emb_rows(24, 30), schema), 1)
        assert ix.read(spark).count() == 30


class TestStreamDedupOnIngest:
    """Streaming dedup-on-ingest (dedup_epoch_writer): per-micro-batch
    index dedup with exactly-once publish — the crash window batch mode
    leaves open (publish succeeded, index append lost) must NOT
    duplicate rows on epoch replay."""

    def test_file_stream_dedups_like_one_corpus(self, spark, tmp_path):
        from dativo_ingest_spark.streaming.pipeline import (
            stream_dedup_to_table, stream_from_files)

        rows1 = [("d1", "alpha beta gamma delta words"),
                 ("d2", "totally different content here now")]
        rows2 = [("d3", "alpha beta gamma delta words"),   # exact dup of d1
                 ("d4", "fresh new material entirely")]
        schema = "doc_id string, text string"
        src = str(tmp_path / "src")
        spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
            "append").parquet(src)
        spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
            "append").parquet(src)

        stream = stream_from_files(
            spark, src, spark.read.parquet(src).schema,
            max_files_per_trigger=1)
        out, ix = stream_dedup_to_table(
            stream, str(tmp_path / "corpus"), str(tmp_path / "ix"),
            "doc_id", "text", str(tmp_path / "ckpt"))
        got = sorted(r.doc_id for r in out.read(spark).collect())
        # d3 dropped regardless of which file formed which micro-batch
        assert got in (["d1", "d2", "d4"], ["d2", "d3", "d4"])
        assert ix.read(spark).count() == 3     # one fingerprint per kept

    def test_epoch_replay_after_partial_crash_is_exactly_once(
            self, spark, tmp_path):
        from dativo_ingest_spark.sinks.table_commit import FsTable
        from dativo_ingest_spark.streaming.pipeline import (
            dedup_epoch_writer)

        out = FsTable.create(str(tmp_path / "corpus"))
        ix = FsTable.create(str(tmp_path / "ix"))
        writer = dedup_epoch_writer(out, ix, "doc_id", "text",
                                    query_id="q1")
        batch = spark.createDataFrame(
            [("d1", "alpha beta gamma"), ("d2", "other words here")],
            "doc_id string, text string")

        # epoch 0: crash AFTER the out publish, BEFORE the index append
        real_append = ix.write_append
        calls = {"n": 0}

        def failing_append(*a, **kw):
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("simulated crash before index append")
            return real_append(*a, **kw)

        ix.write_append = failing_append
        try:
            import pytest as _pytest

            with _pytest.raises(RuntimeError):
                writer(batch, 0)
            assert out.read(spark).count() == 2    # published
            assert ix.read(spark).count() == 0     # index lost

            # replay of epoch 0: publish suppressed (no duplicates),
            # index append completes
            writer(batch, 0)
        finally:
            ix.write_append = real_append
        assert out.read(spark).count() == 2
        assert ix.read(spark).count() == 2

        # full replay of the completed epoch is a no-op
        writer(batch, 0)
        assert out.read(spark).count() == 2 and ix.read(spark).count() == 2

        # next epoch replaying old content drops it against the index
        writer(spark.createDataFrame(
            [("d9", "alpha beta gamma")], "doc_id string, text string"), 1)
        assert out.read(spark).count() == 2

    def test_branch_bootstraps_on_first_epoch(self, spark, tmp_path):
        from dativo_ingest_spark.sinks.table_commit import FsTable
        from dativo_ingest_spark.streaming.pipeline import (
            dedup_epoch_writer)

        out = FsTable.create(str(tmp_path / "corpus_b"))
        ix = FsTable.create(str(tmp_path / "ix_b"))
        writer = dedup_epoch_writer(out, ix, "doc_id", "text",
                                    branch="acme", query_id="qb")
        batch = spark.createDataFrame(
            [("d1", "alpha beta gamma")], "doc_id string, text string")
        writer(batch, 0)   # must not raise on the fresh branch
        assert out.read(spark, branch="acme").count() == 1
        assert ix.read(spark, branch="acme").count() == 1


    def test_minhash_epochs_index_from_persisted_signatures(self, spark,
                                                            tmp_path):
        """mode=minhash: each epoch appends band entries built from the
        operator's persisted signatures, and releases them (with the kept
        frame) when the epoch ends."""
        from dativo_ingest_spark.sinks.table_commit import FsTable
        from dativo_ingest_spark.streaming.pipeline import (
            dedup_epoch_writer)

        cache = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        out = FsTable.create(str(tmp_path / "corpus_mh"))
        ix = FsTable.create(str(tmp_path / "ix_mh"))
        writer = dedup_epoch_writer(out, ix, "doc_id", "text",
                                    mode="minhash", query_id="qm")
        text = ("the quick brown fox jumps over the lazy dog again and "
                "again")
        schema = "doc_id string, text string"
        writer(spark.createDataFrame(
            [("d1", text), ("d2", "two words")], schema), 0)
        assert cache.isEmpty()
        # 4 bands for d1; the 2-word doc is kept without an entry
        assert sorted({r.id for r in ix.read(spark).collect()}) == ["d1"]
        assert ix.read(spark).count() == 4

        writer(spark.createDataFrame(
            [("d3", text.replace("lazy", "sleepy")),
             ("d4", "entirely fresh material about joins")], schema), 1)
        assert cache.isEmpty()
        assert sorted(r.doc_id for r in out.read(spark).collect()) == [
            "d1", "d2", "d4"]
        assert ix.read(spark).count() == 8


class TestStreamWindowedRollup:
    """Watermarked UPDATE-mode windowed rollup into an FsTable
    (window_rollup_epoch_writer + stream_windowed_rollup): per-window
    upserts converge to per-window totals regardless of micro-batch
    boundaries, epoch replays never double-apply, and rows later than
    the checkpointed watermark are dropped by the engine."""

    def test_epoch_replay_upserts_not_appends(self, spark, tmp_path):
        from dativo_ingest_spark.sinks.table_commit import FsTable
        from dativo_ingest_spark.streaming.pipeline import (
            window_rollup_epoch_writer)

        table = FsTable.create(str(tmp_path / "win"))
        wb = window_rollup_epoch_writer(table, ["window_start"],
                                        query_id="qw")
        mk = lambda rows: spark.createDataFrame(
            rows, "window_start timestamp, window_end timestamp, "
                  "n_events bigint, sum_cents bigint")
        import datetime as dt
        w0 = dt.datetime(2024, 1, 1)
        w1 = dt.datetime(2024, 1, 2)
        wb(mk([(w0, w1, 3, 100)]), 0)
        wb(mk([(w0, w1, 3, 100)]), 0)           # replay: suppressed
        assert table.read(spark).count() == 1

        # epoch 1 emits the UPDATED cumulative total for w0 plus a new
        # window: w0's row is REPLACED, not duplicated
        wb(mk([(w0, w1, 5, 170), (w1, dt.datetime(2024, 1, 3), 2, 40)]), 1)
        got = {r.window_start: (r.n_events, r.sum_cents)
               for r in table.read(spark).collect()}
        assert got == {w0: (5, 170), w1: (2, 40)}

        # replay of the OLDER epoch after newer commits is also skipped
        wb(mk([(w0, w1, 3, 100)]), 0)
        got = {r.window_start: (r.n_events, r.sum_cents)
               for r in table.read(spark).collect()}
        assert got[w0] == (5, 170)

    def test_multi_batch_converges_to_batch_totals(self, spark, tmp_path):
        """maxFilesPerTrigger=1 forces several micro-batches updating the
        same windows; the final table must equal the one-shot batch agg."""
        ev = load(spark, SF_DIR, "events").select("ts", "value")
        src = str(tmp_path / "src")
        ev.repartition(3).write.mode("overwrite").parquet(src)
        schema = spark.read.parquet(src).schema
        stream = pipeline.stream_from_files(spark, src, schema,
                                            max_files_per_trigger=1)
        table = pipeline.stream_windowed_rollup(
            stream, str(tmp_path / "win"), "ts", "1 day",
            str(tmp_path / "ckpt"), watermark="365 days",
            value_cents_col="value")
        got = {r.window_start: (r.n_events, r.sum_cents)
               for r in table.read(spark).collect()}
        exp_rows = (ev.groupBy(F.window("ts", "1 day").alias("w"))
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.sum(F.expr("CAST(floor(value*100+0.5) AS BIGINT)"))
                         .alias("c"))
                    .select(F.col("w.start").alias("ws"), "n", "c")
                    .collect())
        exp = {r.ws: (r.n, r.c) for r in exp_rows}
        assert got == exp and len(got) > 0

    def test_restart_drops_rows_behind_watermark(self, spark, tmp_path):
        """Two availableNow runs over a growing spool: run 2 re-sends data
        far behind the checkpointed watermark (dropped) plus fresh data
        (admitted); keyed grouping exercises the composite upsert key."""
        import datetime as dt
        mk = lambda rows: spark.createDataFrame(
            rows, "ts timestamp, k string, value double")
        day = lambda d, h=0: dt.datetime(2024, 1, d, h)
        src = str(tmp_path / "src")
        mk([(day(1), "a", 1.0), (day(1), "b", 2.0),
            (day(10), "a", 3.0)]).coalesce(1).write.mode(
            "append").parquet(src)
        schema = spark.read.parquet(src).schema
        table = None
        for phase in range(2):
            stream = pipeline.stream_from_files(spark, src, schema)
            table = pipeline.stream_windowed_rollup(
                stream, str(tmp_path / "win"), "ts", "1 day",
                str(tmp_path / "ckpt"), watermark="1 hour", keys=["k"],
                value_cents_col="value")
            if phase == 0:
                # late: day 1 again (9 days behind the day-10 watermark);
                # fresh: day 11
                mk([(day(1), "a", 100.0), (day(11), "b", 4.0)]).coalesce(
                    1).write.mode("append").parquet(src)
        got = {(r.window_start, r.k): (r.n_events, r.sum_cents)
               for r in table.read(spark).collect()}
        assert got == {(day(1), "a"): (1, 100), (day(1), "b"): (1, 200),
                       (day(10), "a"): (1, 300), (day(11), "b"): (1, 400)}


class TestStatefulSessionizeRestart:
    def test_session_spanning_restart_merges_through_state(
            self, spark, tmp_path):
        """A user whose events straddle two availableNow runs (same
        checkpoint) must get ONE session when the across-restart gap is
        under the threshold — the state-recovery property the driver
        gate relies on."""
        import datetime as dt
        mk = lambda rows: spark.createDataFrame(
            rows, "user_id long, ts timestamp")
        t = lambda m: dt.datetime(2024, 1, 1, 0, m)
        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        mk([(1, t(0)), (1, t(10))]).coalesce(1).write.mode(
            "append").parquet(src)
        schema = spark.read.parquet(src).schema
        for phase in range(2):
            stream = pipeline.stream_from_files(spark, src, schema)
            sess = pipeline.stateful_sessionize(stream, gap_seconds=1800)
            q = (sess.writeStream
                 .foreachBatch(pipeline.hive_epoch_writer(
                     out, [], checkpoint_dir=ckpt))
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            if phase == 0:
                # +20 min (inside the 30-min gap) then a far sentinel
                mk([(1, t(20)),
                    (1, dt.datetime(2024, 2, 1))]).coalesce(1)\
                    .write.mode("append").parquet(src)
        got = [(r.user_id, r.session_start, r.session_end, r.n_events)
               for r in spark.read.parquet(out).collect()]
        assert got == [(1, t(0), dt.datetime(2024, 1, 1, 0, 50), 3)]


class TestWapEpochWriter:
    """Per-micro-batch Write-Audit-Publish: failing epochs quarantine on
    an audit branch (target never sees them), passing epochs publish
    with the marker atomic inside the publish commit (replay-safe)."""

    EXPS = [{"name": "v_range", "type": "range", "column": "v",
             "min": 0, "max": 100}]

    def test_quarantine_publish_and_replay(self, spark, tmp_path):
        from dativo_ingest_spark.sinks.table_commit import FsTable

        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(spark.createDataFrame([(1,)], "v long"))
        wb = pipeline.wap_epoch_writer(t, self.EXPS, query_id="qw")
        good = spark.createDataFrame([(10,), (20,)], "v long")
        bad = spark.createDataFrame([(999,)], "v long")

        wb(good, 0)
        assert sorted(r.v for r in t.read(spark).collect()) == [1, 10, 20]
        wb(good, 0)                    # replayed epoch: suppressed
        assert t.read(spark).count() == 3

        v_before = t.current_version()
        wb(bad, 1)                     # quarantined, stream continues
        assert t.current_version() == v_before
        wb(spark.createDataFrame([(30,)], "v long"), 2)
        assert sorted(r.v for r in t.read(spark).collect()) == \
            [1, 10, 20, 30]
        # a replay of the OLD epoch after newer publishes is suppressed
        wb(good, 0)
        assert t.read(spark).count() == 4

    def test_abort_mode_raises(self, spark, tmp_path):
        from dativo_ingest_spark.sinks.table_commit import FsTable

        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(spark.createDataFrame([(1,)], "v long"))
        wb = pipeline.wap_epoch_writer(t, self.EXPS, query_id="qa",
                                       on_fail="abort")
        with pytest.raises(RuntimeError, match="audit failed"):
            wb(spark.createDataFrame([(999,)], "v long"), 0)
        assert t.read(spark).count() == 1

    def test_end_to_end_stream(self, spark, tmp_path):
        from dativo_ingest_spark.sinks.table_commit import FsTable

        src = str(tmp_path / "src")
        spark.createDataFrame([(5,), (7,)], "v long").coalesce(1)\
            .write.mode("append").parquet(src)
        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(spark.createDataFrame([(1,)], "v long"))
        stream = pipeline.stream_from_files(
            spark, src, spark.read.parquet(src).schema)
        q = (stream.writeStream
             .foreachBatch(pipeline.wap_epoch_writer(
                 t, self.EXPS, checkpoint_dir=str(tmp_path / "ck")))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        assert sorted(r.v for r in t.read(spark).collect()) == [1, 5, 7]


def test_psi_drift_gate(spark, tmp_path):
    # reference: uniform [0, 100); stream batch 1 matches it, batch 2 is
    # shifted far right -> only batch 2 must quarantine
    ref = spark.createDataFrame(
        [(float(i % 100),) for i in range(400)], "value double")
    reference = drift_reference(ref, "value", n_bins=4)

    ok = spark.createDataFrame(
        [(float((i * 7) % 100),) for i in range(200)], "value double")
    drifted = spark.createDataFrame(
        [(float(900 + i),) for i in range(200)], "value double")

    written, quarantined = [], []
    gate = pipeline.psi_drift_gate(
        reference, "value",
        lambda df, e: written.append((e, df.count())),
        quarantine_batch=lambda df, e: quarantined.append((e, df.count())))
    gate(ok, 0)
    gate(drifted, 1)
    assert written == [(0, 200)]
    assert quarantined == [(1, 200)]

    # abort mode raises on the drifted batch
    import pytest as _pytest

    strict = pipeline.psi_drift_gate(
        reference, "value", lambda df, e: None, on_drift="abort")
    strict(ok, 0)
    with _pytest.raises(RuntimeError):
        strict(drifted, 1)

    # log mode writes everything
    written.clear()
    loose = pipeline.psi_drift_gate(
        reference, "value",
        lambda df, e: written.append(e), on_drift="log")
    loose(ok, 0); loose(drifted, 1)
    assert written == [0, 1]

    # and through a REAL availableNow stream: per-file batches, the
    # drifted file quarantines while the in-family file publishes
    src = str(tmp_path / "psi_src")
    ok.repartition(1).write.mode("overwrite").parquet(src)
    drifted.repartition(1).write.mode("append").parquet(src)
    back = spark.read.parquet(src)
    written.clear(); quarantined.clear()
    stream = pipeline.stream_from_files(spark, src, back.schema,
                                        max_files_per_trigger=1)
    q = (stream.writeStream
         .foreachBatch(pipeline.psi_drift_gate(
             reference, "value",
             lambda df, e: written.append(df.count()),
             quarantine_batch=lambda df, e: quarantined.append(df.count())))
         .option("checkpointLocation", str(tmp_path / "psi_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert sum(written) == 200 and sum(quarantined) == 200

    with _pytest.raises(ValueError):
        pipeline.psi_drift_gate(reference, "value", lambda d, e: None,
                                on_drift="nope")
    with _pytest.raises(ValueError):
        pipeline.psi_drift_gate((reference[0], [1, 2]), "value",
                                lambda d, e: None)


def test_ks_drift_gate(spark, tmp_path):
    # reference: uniform [0, 100); an in-family batch publishes, a
    # right-shifted batch quarantines — same harness as the PSI gate,
    # now with the calibrated distribution-free threshold
    ref = spark.createDataFrame(
        [(float(i % 100),) for i in range(400)], "value double")
    reference = drift_reference(ref, "value", n_bins=20)
    # the reference persists ACTUAL per-bin counts (ties can make
    # equi-depth bins unequal), not just the row total
    assert sum(reference[1]) == 400
    assert len(reference[1]) == len(reference[0]) + 1

    ok = spark.createDataFrame(
        [(float((i * 7) % 100),) for i in range(200)], "value double")
    shifted = spark.createDataFrame(
        [(float(50 + (i % 100)),) for i in range(200)], "value double")

    written, quarantined = [], []
    gate = pipeline.ks_drift_gate(
        reference, "value",
        lambda df, e: written.append((e, df.count())),
        quarantine_batch=lambda df, e: quarantined.append((e, df.count())))
    gate(ok, 0)
    gate(shifted, 1)
    assert written == [(0, 200)]
    assert quarantined == [(1, 200)]

    import pytest as _pytest

    strict = pipeline.ks_drift_gate(
        reference, "value", lambda df, e: None, on_drift="abort")
    strict(ok, 0)
    with _pytest.raises(RuntimeError, match="KS drift gate"):
        strict(shifted, 1)

    # empty batch is not a drift signal
    empty = spark.createDataFrame([], "value double")
    written.clear()
    gate2 = pipeline.ks_drift_gate(
        reference, "value", lambda df, e: written.append(e))
    gate2(empty, 7)
    assert written == [7]

    with _pytest.raises(ValueError, match="reference"):
        pipeline.ks_drift_gate(([], 0), "value", lambda d, e: None)
    with _pytest.raises(ValueError, match="on_drift"):
        pipeline.ks_drift_gate(reference, "value", lambda d, e: None,
                               on_drift="explode")


def test_ks_drift_gate_heavy_ties(spark):
    # 75% of the reference mass is ONE tied value: equi-depth edges
    # cannot equalize bin mass, so the old (j+1)/n_points equal-mass
    # assumption would compute ECDF_ref(first cut) = 0.1 while the
    # true reference ECDF there is ~0.75 — an identically-distributed
    # batch would falsely quarantine. The persisted per-bin counts
    # must let it publish.
    ref = spark.createDataFrame(
        [(0.0,)] * 300 + [(float(i),) for i in range(1, 101)],
        "value double")
    reference = drift_reference(ref, "value", n_bins=10)
    assert sum(reference[1]) == 400
    assert max(reference[1]) >= 300          # the tied mass in one bin

    same_dist = spark.createDataFrame(
        [(0.0,)] * 150 + [(float(i),) for i in range(1, 101, 2)],
        "value double")
    written, quarantined = [], []
    gate = pipeline.ks_drift_gate(
        reference, "value",
        lambda df, e: written.append(e),
        quarantine_batch=lambda df, e: quarantined.append(e))
    gate(same_dist, 0)
    assert written == [0] and quarantined == []

    # a genuinely shifted batch still trips the gate
    shifted = spark.createDataFrame(
        [(float(200 + i),) for i in range(200)], "value double")
    gate(shifted, 1)
    assert quarantined == [1]


class TestShardEpochWriter:
    """Streaming shard export: crash-safe, exactly-once, manifest
    epoch-atomic — the foreachBatch sibling of export_training_shards."""

    @staticmethod
    def _mk(spark, ids):
        return spark.createDataFrame(
            [(i, 10 + i) for i in ids], "doc_id long, n_tokens long")

    def test_crash_between_write_and_publish_recovers(
            self, spark, tmp_path):
        import json
        import os

        out = str(tmp_path / "shards")
        writer = pipeline.shard_epoch_writer(
            out, "doc_id", "n_tokens", n_shards=4, query_id="q1")

        writer(self._mk(spark, range(100)), 0)
        man0 = json.load(open(f"{out}/manifest.json"))
        assert man0["epochs"] == [0]
        assert sum(v["n_rows"] for v in man0["shards"].values()) == 100

        # CRASH WINDOW: epoch 1's shard files land but the marker and
        # manifest never publish (simulated by writing the same layout
        # the writer produces, with no marker)
        from dativo_ingest_spark.sinks.shard_export import _shard_hash
        from pyspark.sql import functions as F
        batch1 = self._mk(spark, range(100, 160))
        h = _shard_hash("doc_id", "epoch0")
        (batch1.select(
            F.col("doc_id").alias("id"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            h.alias("_h"), (h % 4).cast("long").alias("shard"))
         .repartition(4, "shard")
         .sortWithinPartitions("shard", "_h", "id")
         .write.mode("overwrite").partitionBy("shard")
         .parquet(f"{out}/epoch=1"))

        # the torn epoch is invisible: manifest unchanged, audit green
        man = json.load(open(f"{out}/manifest.json"))
        assert man["epochs"] == [0]
        from dativo_ingest_spark.sinks.shard_export import (
            audit_streaming_shards)
        assert audit_streaming_shards(spark, out)["ok"]

        # recovery: the source replays epoch 1 — overwrite + publish
        writer(batch1, 1)
        man = json.load(open(f"{out}/manifest.json"))
        assert man["epochs"] == [0, 1]
        assert sum(v["n_rows"] for v in man["shards"].values()) == 160
        audit = audit_streaming_shards(spark, out)
        assert audit["ok"] and audit["epochs"] == 2

        # replayed AGAIN (at-least-once delivery): marker suppresses,
        # totals unchanged
        writer(batch1, 1)
        man2 = json.load(open(f"{out}/manifest.json"))
        assert man2 == man

    def test_matches_batch_exporter_totals(self, spark, tmp_path):
        # the same corpus through two epochs must land every row in the
        # SAME shard as the one-shot batch exporter (md5 assignment is
        # split-invariant), with equal order-insensitive hash_sums
        import json

        from dativo_ingest_spark.sinks.shard_export import (
            export_training_shards)

        out = str(tmp_path / "stream")
        writer = pipeline.shard_epoch_writer(
            out, "doc_id", "n_tokens", n_shards=4, query_id="q1")
        writer(self._mk(spark, range(0, 70)), 0)
        writer(self._mk(spark, range(70, 150)), 1)
        man = json.load(open(f"{out}/manifest.json"))

        batch = export_training_shards(
            self._mk(spark, range(150)), "doc_id", "n_tokens",
            str(tmp_path / "batch"), n_shards=4)
        exp = {str(r.shard): (r.n_rows, r.n_tokens, r.hash_sum)
               for r in batch.collect()}
        got = {k: (v["n_rows"], v["n_tokens"], v["hash_sum"])
               for k, v in man["shards"].items()}
        assert got == exp

    def test_folded_observation_recounts_loudly(self, spark, tmp_path,
                                                monkeypatch, caplog):
        """A driver-local epoch keeps its observe() metrics on this Spark
        build, so the folded-CollectMetrics result (a JVM AssertionError
        from ``Observation.get``) is injected: the shard stats are then
        recounted from the epoch's files, exactly, with one warning. Any
        other error from the observation propagates."""
        import json
        import logging

        from py4j.protocol import Py4JJavaError
        from pyspark.sql import Observation

        from dativo_ingest_spark.sinks.shard_export import (
            export_training_shards)

        exp = {str(r.shard): (r.n_rows, r.n_tokens, r.hash_sum)
               for r in export_training_shards(
                   self._mk(spark, range(150)), "doc_id", "n_tokens",
                   str(tmp_path / "batch"), n_shards=4).collect()}

        def shards(name):
            out = str(tmp_path / name)
            pipeline.shard_epoch_writer(
                out, "doc_id", "n_tokens", n_shards=4, query_id="q1")(
                    self._mk(spark, range(150)), 0)
            man = json.load(open(f"{out}/manifest.json"))
            return {k: (v["n_rows"], v["n_tokens"], v["hash_sum"])
                    for k, v in man["shards"].items()}

        def warnings():
            return [r for r in caplog.records
                    if "optimized away" in r.getMessage()]

        caplog.set_level(logging.WARNING)
        assert shards("observed") == exp and not warnings()

        def raising(java_error):
            def get(self):
                raise Py4JJavaError("observation failed",
                                    java_error("folded"))
            return property(get)

        jvm = spark.sparkContext._jvm
        monkeypatch.setattr(Observation, "get",
                            raising(jvm.java.lang.AssertionError))
        assert shards("folded") == exp and len(warnings()) == 1
        monkeypatch.setattr(Observation, "get",
                            raising(jvm.java.lang.IllegalStateException))
        with pytest.raises(Py4JJavaError):
            shards("other_error")

    def test_real_stream_availablenow(self, spark, tmp_path):
        import json

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        self._mk(spark, range(40)).coalesce(1).write.mode(
            "append").parquet(src)
        schema = spark.read.parquet(src).schema
        for phase in range(2):
            stream = pipeline.stream_from_files(spark, src, schema)
            q = (stream.writeStream
                 .foreachBatch(pipeline.shard_epoch_writer(
                     out, "doc_id", "n_tokens", n_shards=4,
                     checkpoint_dir=ckpt))
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)
            if phase == 0:
                self._mk(spark, range(40, 100)).coalesce(1).write.mode(
                    "append").parquet(src)
        man = json.load(open(f"{out}/manifest.json"))
        assert sum(v["n_rows"] for v in man["shards"].values()) == 100
        from dativo_ingest_spark.sinks.shard_export import (
            audit_streaming_shards)
        assert audit_streaming_shards(spark, out)["ok"]

    def test_validation(self):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="n_shards"):
            pipeline.shard_epoch_writer("/tmp/x", "id", "t",
                                        n_shards=0, query_id="q")


def test_shard_epoch_writer_true_crash_injection(spark, tmp_path,
                                                 monkeypatch):
    """Fault injection, not simulation: os.rename raises on the FIRST
    marker publish — the writer dies after the shard files land but
    before the epoch commits. The manifest must stay at the prior
    epoch, the auditor must stay green, and the replay must publish the
    epoch exactly once."""
    import json
    import os as _os

    out = str(tmp_path / "shards")
    writer = pipeline.shard_epoch_writer(
        out, "doc_id", "n_tokens", n_shards=4, query_id="q1")
    mk = lambda ids: spark.createDataFrame(
        [(i, 10 + i) for i in ids], "doc_id long, n_tokens long")
    writer(mk(range(50)), 0)

    real_rename = _os.rename
    blew_up = {}

    def dying_rename(src, dst):
        if dst.endswith("1.json") and "blown" not in blew_up:
            blew_up["blown"] = True
            raise OSError("injected crash before epoch marker publish")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", dying_rename)
    import pytest as _pytest

    with _pytest.raises(OSError, match="injected crash"):
        writer(mk(range(50, 80)), 1)

    # the torn epoch is invisible everywhere
    man = json.load(open(f"{out}/manifest.json"))
    assert man["epochs"] == [0]
    assert sum(v["n_rows"] for v in man["shards"].values()) == 50
    from dativo_ingest_spark.sinks.shard_export import (
        audit_streaming_shards)
    assert audit_streaming_shards(spark, out)["ok"]
    # orphan data exists on disk but nothing references it
    assert _os.path.isdir(f"{out}/epoch=1")

    # recovery: the source replays the same epoch; publish succeeds
    writer(mk(range(50, 80)), 1)
    man = json.load(open(f"{out}/manifest.json"))
    assert man["epochs"] == [0, 1]
    assert sum(v["n_rows"] for v in man["shards"].values()) == 80
    audit = audit_streaming_shards(spark, out)
    assert audit["ok"] and audit["epochs"] == 2


class TestMixtureAdmissionGate:
    """Streaming mixture admission: frozen solved weights -> per-domain
    hash-predicate rates -> every epoch admits the identical
    deterministic subset (the batch shard.mixture target's streaming
    sibling, composed like the KS/PSI gates)."""

    def test_rates_helper_math(self):
        from dativo_ingest_spark.operators.sampling import (
            mixture_admission_rates)

        rates = mixture_admission_rates(
            {"a": 250_000, "b": 750_000},        # solved mixture 1:3
            {"a": 1000, "b": 300, "c": 50},      # natural supply
            total_budget=400)
        # a: 400*0.25 = 100 of 1000 -> rate 100k micro
        assert rates["a"] == 100_000
        # b: 400*0.75 = 300 of 300 -> saturates at 1e6 (can't upsample)
        assert rates["b"] == 1_000_000
        # c: absent from weights -> explicit 0
        assert rates["c"] == 0
        import pytest as _pytest

        with _pytest.raises(ValueError, match="total_budget"):
            mixture_admission_rates({}, {}, 0)

    def test_admission_matches_batch_predicate_and_replay(self, spark):
        from dativo_ingest_spark.streaming import pipeline as pl

        rows = [(i, "a" if i % 3 else "b", 5) for i in range(300)]
        df = spark.createDataFrame(
            rows, "doc_id long, dom string, n_tokens long")
        seen: list = []
        gate = pl.mixture_admission_gate(
            {"a": 400_000, "b": 1_000_000}, "dom", "doc_id",
            lambda b, e: seen.append((e, {r.doc_id for r in b.collect()})),
            salt="mixfrozen")
        half1, half2 = df.filter("doc_id < 150"), df.filter("doc_id >= 150")
        gate(half1, 0)
        gate(half2, 1)
        union_admitted = seen[0][1] | seen[1][1]
        # the stream's admitted set == the SAME predicate run in batch
        batch_admitted = {r.doc_id
                          for r in gate.admit(df).select("doc_id")
                          .collect()}
        assert union_admitted == batch_admitted
        # rate-1e6 domain admits everything
        b_ids = {i for i, d, _ in rows if d == "b"}
        assert b_ids <= union_admitted
        # replayed epoch admits the IDENTICAL rows (exactly-once
        # composes with the epoch writer's overwrite)
        gate(half1, 0)
        assert seen[2][1] == seen[0][1]

    def test_validation(self, spark):
        import pytest as _pytest

        from dativo_ingest_spark.streaming import pipeline as pl

        with _pytest.raises(ValueError, match="rate"):
            pl.mixture_admission_gate({"a": 2_000_000}, "dom", "id",
                                      lambda b, e: None)
        with _pytest.raises(ValueError, match="default_rate"):
            pl.mixture_admission_gate({}, "dom", "id", lambda b, e: None,
                                      default_rate_micro=-1)

    def test_admission_is_scan_stage(self, spark):
        # the gate's scale contract: a pure filter — no Exchange, no
        # window, no Python anywhere in the admitted-batch plan
        from dativo_ingest_spark.streaming import pipeline as pl

        df = spark.createDataFrame(
            [(i, f"d{i % 3}", 1) for i in range(50)],
            "doc_id long, dom string, n_tokens long")
        gate = pl.mixture_admission_gate(
            {"d0": 500_000, "d1": 250_000}, "dom", "doc_id",
            lambda b, e: None)
        plan = gate.admit(df)._jdf.queryExecution().executedPlan() \
            .toString()
        assert "Exchange" not in plan, plan[:600]
        assert "windowspecdefinition" not in plan
        assert "Python" not in plan

    def test_null_domain_rides_default_rate(self, spark):
        # a None rates key (NULL domain folded driver-side) must not
        # become a NULL map key (Spark rejects those); NULL-domain rows
        # take default_rate_micro like any unlisted domain
        from dativo_ingest_spark.streaming import pipeline as pl

        df = spark.createDataFrame(
            [(i, None if i % 2 else "a", 1) for i in range(100)],
            "doc_id long, dom string, n_tokens long")
        seen: list = []
        gate = pl.mixture_admission_gate(
            {"a": 1_000_000, None: 500_000}, "dom", "doc_id",
            lambda b, e: seen.append({r.doc_id for r in b.collect()}),
            default_rate_micro=1_000_000)
        gate(df, 0)
        assert seen[0] == set(range(100))    # default admits NULL rows
        seen.clear()
        gate2 = pl.mixture_admission_gate(
            {"a": 1_000_000}, "dom", "doc_id",
            lambda b, e: seen.append({r.doc_id for r in b.collect()}))
        gate2(df, 0)
        # default 0: NULL-domain rows drop, 'a' rows all admit
        assert seen[0] == {i for i in range(100) if i % 2 == 0}

    def test_restart_proven_e2e_solved_weights_to_shards(
            self, spark, tmp_path):
        """The full composition, restart-proven: doremi_domain_weights
        solved ONCE -> frozen rates -> mixture_admission_gate wrapping
        shard_epoch_writer across an availableNow restart. The admitted
        id set equals the batch predicate exactly, per-domain admitted
        counts sit within floor bounds of budget*weight, and the
        restart neither drops nor duplicates."""
        import json

        from dativo_ingest_spark.operators.dsir import (
            doremi_domain_weights)
        from dativo_ingest_spark.operators.sampling import (
            mixture_admission_rates)
        from dativo_ingest_spark.sinks.shard_export import (
            audit_streaming_shards)

        # domain 'plain' repeats common words (low NLL), 'rare' uses
        # singletons (high NLL -> upweighted by the solver)
        rows = [(i, "plain", "common words appear here always")
                for i in range(240)]
        rows += [(i, "rare", f"zq{i}x uq{i}v wq{i}y")
                 for i in range(240, 300)]
        docs = spark.createDataFrame(rows,
                                     "doc_id long, dom string, "
                                     "text string")
        weights = {r.domain: r.weight_micro
                   for r in doremi_domain_weights(
                       docs, "dom", "text", n_rounds=3,
                       eta_milli=300).collect()}
        counts = {r.dom: r.c for r in
                  docs.groupBy("dom").agg(F.count(F.lit(1)).alias("c"))
                  .collect()}
        budget = 120
        rates = mixture_admission_rates(weights, counts, budget)
        assert set(rates) == {"plain", "rare"}

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        staged = docs.withColumn("n_tokens", F.lit(5))
        staged.filter("doc_id < 150").coalesce(1).write.mode(
            "append").parquet(src)
        schema = spark.read.parquet(src).schema
        gate = None
        for phase in range(2):                  # phase 1 = RESTART
            gate = pipeline.mixture_admission_gate(
                rates, "dom", "doc_id",
                pipeline.shard_epoch_writer(
                    out, "doc_id", "n_tokens", n_shards=2,
                    checkpoint_dir=ckpt),
                salt="mixfrozen")
            stream = pipeline.stream_from_files(spark, src, schema)
            q = (stream.writeStream.foreachBatch(gate)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)
            if phase == 0:
                staged.filter("doc_id >= 150").coalesce(1).write.mode(
                    "append").parquet(src)

        man = json.load(open(f"{out}/manifest.json"))
        assert audit_streaming_shards(spark, out)["ok"]
        # exact determinism: shard layout ids == batch predicate ids
        shard_ids = {r.id for r in spark.read.parquet(out)
                     .select("id").collect()}
        batch_ids = {r.doc_id for r in gate.admit(staged)
                     .select("doc_id").collect()}
        assert shard_ids == batch_ids
        assert sum(v["n_rows"] for v in man["shards"].values()) == \
            len(shard_ids)
        # per-domain admitted counts within floor bounds of the solved
        # budget share (deterministic — no flake: same ids, same salt)
        dom_of = {i: d for i, d, _ in rows}
        per_dom: dict = {}
        for i in shard_ids:
            per_dom[dom_of[i]] = per_dom.get(dom_of[i], 0) + 1
        for d, n_admitted in per_dom.items():
            target = budget * weights.get(d, 0) / 1_000_000
            cap = min(target, counts[d])
            assert n_admitted >= cap * 0.5, (d, n_admitted, cap)
            assert n_admitted <= max(2 * target, 1) + 2 \
                or rates[d] == 1_000_000, (d, n_admitted, target)


def test_shard_epoch_writer_crash_between_marker_and_manifest(
        spark, tmp_path, monkeypatch):
    """The OTHER crash window: the epoch marker renames successfully but
    the process dies before manifest.json republishes. If that was the
    run's LAST epoch, no later epoch would ever refold it in — the
    replay of the marker-committed epoch must itself republish the
    manifest (idempotent refold), or readers and audits durably
    undercount the committed epoch."""
    import json
    import os as _os

    out = str(tmp_path / "shards")
    writer = pipeline.shard_epoch_writer(
        out, "doc_id", "n_tokens", n_shards=4, query_id="q1")
    mk = lambda ids: spark.createDataFrame(
        [(i, 10 + i) for i in ids], "doc_id long, n_tokens long")
    writer(mk(range(50)), 0)

    real_rename = _os.rename
    blew_up = {}

    def dying_rename(src, dst):
        if dst.endswith("manifest.json") and src.endswith(".tmp.1") \
                and "blown" not in blew_up:
            blew_up["blown"] = True
            raise OSError("injected crash before manifest republish")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", dying_rename)
    import pytest as _pytest

    with _pytest.raises(OSError, match="injected crash"):
        writer(mk(range(50, 80)), 1)

    # epoch 1's marker IS committed, but the manifest lags behind it
    assert _os.path.exists(f"{out}/_epochs/q1/1.json")
    man = json.load(open(f"{out}/manifest.json"))
    assert man["epochs"] == [0]

    # recovery: the source replays epoch 1; the early-return path must
    # still refold the manifest from the committed markers
    writer(mk(range(50, 80)), 1)
    man = json.load(open(f"{out}/manifest.json"))
    assert man["epochs"] == [0, 1]
    assert sum(v["n_rows"] for v in man["shards"].values()) == 80
    from dativo_ingest_spark.sinks.shard_export import (
        audit_streaming_shards)
    audit = audit_streaming_shards(spark, out)
    assert audit["ok"] and audit["epochs"] == 2


def test_shard_epoch_writer_empty_batch_epoch(spark, tmp_path):
    """An empty micro-batch commits its marker (exactly-once
    bookkeeping) without writing an epoch directory — the manifest
    records the epoch, totals are unchanged, and the auditor must not
    trip over the phantom path."""
    import json

    out = str(tmp_path / "shards")
    w = pipeline.shard_epoch_writer(out, "doc_id", "n_tokens",
                                    n_shards=2, query_id="q1")
    w(spark.createDataFrame([(1, 2), (2, 3)],
                            "doc_id long, n_tokens long"), 0)
    w(spark.createDataFrame([], "doc_id long, n_tokens long"), 1)

    man = json.load(open(f"{out}/manifest.json"))
    assert man["epochs"] == [0, 1]
    assert sum(v["n_rows"] for v in man["shards"].values()) == 2
    from dativo_ingest_spark.sinks.shard_export import (
        audit_streaming_shards)
    audit = audit_streaming_shards(spark, out)
    assert audit["ok"] and audit["epochs"] == 2

    # the empty epoch is replay-suppressed like any other
    w(spark.createDataFrame([(9, 9)], "doc_id long, n_tokens long"), 1)
    man2 = json.load(open(f"{out}/manifest.json"))
    assert man2 == man


def test_shard_epoch_writer_refuses_second_query(spark, tmp_path):
    """Epoch ids are checkpoint-scoped: a SECOND query on the same
    shard layout would overwrite the first query's epoch=N dirs and
    clobber its manifest refold — the writer must fail fast, not
    corrupt silently (hive appends are file-grained and shareable;
    epoch-scoped dirs are not)."""
    import pytest as _pytest

    out = str(tmp_path / "shards")
    mk = lambda: spark.createDataFrame([(1, 2)],
                                       "doc_id long, n_tokens long")
    pipeline.shard_epoch_writer(out, "doc_id", "n_tokens", n_shards=2,
                                query_id="q1")(mk(), 0)
    w2 = pipeline.shard_epoch_writer(out, "doc_id", "n_tokens",
                                     n_shards=2, query_id="q2")
    with _pytest.raises(RuntimeError, match="owned by streaming query"):
        w2(mk(), 0)
    # the original owner keeps appending fine
    pipeline.shard_epoch_writer(out, "doc_id", "n_tokens", n_shards=2,
                                query_id="q1")(mk(), 1)


class TestStreamDedupPqIndex:
    """Streaming embedding dedup over the PQ-CODED persistent index
    (r12): dedup_epoch_writer(mode='embedding', index_codec='pq')
    must commit CODES entries, drop replayed vectors against their
    reconstructions, and stay exactly-once across epoch replays."""

    DIM, M, K = 16, 4, 4

    def _clustered(self, n_per=5):
        import random
        rng = random.Random(3)
        rows = []
        for c in range(self.K):
            center = [10.0 if (d % self.K) == c else 1.0 + 0.1 * d
                      for d in range(self.DIM)]
            for i in range(n_per):
                rows.append((f"{i:02d}_c{c}",
                             [x + rng.uniform(-0.01, 0.01)
                              for x in center]))
        return rows

    def test_two_epochs_commit_codes_and_drop_replays(
            self, spark, tmp_path):
        from dativo_ingest_spark.operators import quantization as Q
        from dativo_ingest_spark.sinks.table_commit import FsTable
        from dativo_ingest_spark.streaming.pipeline import (
            dedup_epoch_writer)

        rows = self._clustered()
        schema = "doc_id string, embedding array<double>"
        corpus = spark.createDataFrame(rows, schema)
        cbs = Q.pq_train(corpus, "doc_id", "embedding",
                         m=self.M, k=self.K, n_iter=2)

        out = FsTable.create(str(tmp_path / "corpus_pq"))
        ix = FsTable.create(str(tmp_path / "ix_pq"))
        writer = dedup_epoch_writer(
            out, ix, "doc_id", "embedding", mode="embedding",
            query_id="qpq", threshold=0.99, index_codec="pq",
            codebooks=cbs)

        # epoch 0: one row per cluster survives in-batch dedup
        writer(corpus, 0)
        n0 = out.read(spark).count()
        assert n0 == self.K
        ixdf = ix.read(spark)
        assert set(ixdf.columns) == {"id", "key", "codes", "norm"}
        assert ixdf.count() == self.K * 4   # bands per survivor

        # epoch 1 replays the same content: everything drops against
        # the committed codes (reconstruction self-hit)
        writer(corpus.limit(8), 1)
        assert out.read(spark).count() == n0

        # epoch replay is a no-op (exactly-once markers)
        writer(corpus, 0)
        assert out.read(spark).count() == n0
        assert ix.read(spark).count() == self.K * 4

    def test_residual_codec_two_epochs(self, spark, tmp_path):
        # r13: index_codec='pq_residual' through the streaming writer —
        # entries carry (cell, codes), replays drop against the
        # centroid+residual reconstruction
        from dativo_ingest_spark.operators import quantization as Q
        from dativo_ingest_spark.sinks.table_commit import FsTable
        from dativo_ingest_spark.streaming.pipeline import (
            dedup_epoch_writer)

        rows = self._clustered()
        corpus = spark.createDataFrame(
            rows, "doc_id string, embedding array<double>")
        artifact = Q.ivfpq_train_artifact(
            corpus, "doc_id", "embedding", m=self.M, k_codes=self.K,
            n_cells=self.K, n_iter=2)

        out = FsTable.create(str(tmp_path / "corpus_pqr"))
        ix = FsTable.create(str(tmp_path / "ix_pqr"))
        writer = dedup_epoch_writer(
            out, ix, "doc_id", "embedding", mode="embedding",
            query_id="qpqr", threshold=0.99,
            index_codec="pq_residual", artifact=artifact)

        writer(corpus, 0)
        n0 = out.read(spark).count()
        assert n0 == self.K
        ixdf = ix.read(spark)
        assert set(ixdf.columns) == {"id", "key", "cell", "codes",
                                     "norm"}
        writer(corpus.limit(8), 1)   # replayed content: all drop
        assert out.read(spark).count() == n0
        writer(corpus, 0)            # epoch replay: exactly-once no-op
        assert out.read(spark).count() == n0
        assert ix.read(spark).count() == self.K * 4


def test_shard_epoch_writer_jsonl_container(spark, tmp_path):
    """r12: fmt='jsonl' — the streaming sibling of the batch exporter's
    container option: epochs land as newline-delimited JSON, the marker
    stats recompute from the JSON files read back, replays stay
    byte-idempotent, and audit_streaming_shards recounts them."""
    import json
    import os

    from dativo_ingest_spark.sinks.shard_export import (
        audit_streaming_shards)

    out = str(tmp_path / "shards_jl")
    writer = pipeline.shard_epoch_writer(
        out, "doc_id", "n_tokens", n_shards=4, query_id="qjl",
        fmt="jsonl")

    def mk(ids):
        return spark.createDataFrame(
            [(i, 10 + i) for i in ids], "doc_id long, n_tokens long")

    writer(mk(range(80)), 0)
    writer(mk(range(80, 120)), 1)
    man = json.load(open(f"{out}/manifest.json"))
    assert man["epochs"] == [0, 1]
    assert sum(v["n_rows"] for v in man["shards"].values()) == 120

    # the epoch files are real JSON lines
    sdir = next(d for d in sorted(os.listdir(out))
                if d.startswith("epoch="))
    shard0 = os.path.join(out, sdir, "shard=0")
    fname = next(f for f in os.listdir(shard0) if f.endswith(".json"))
    lines = [json.loads(ln)
             for ln in open(os.path.join(shard0, fname)) if ln.strip()]
    assert lines and all("_h" in d for d in lines)

    # replay is a no-op; the audit recounts the JSON epochs green
    writer(mk(range(80)), 0)
    man2 = json.load(open(f"{out}/manifest.json"))
    assert man2["shards"] == man["shards"]
    rep = audit_streaming_shards(spark, out)
    assert rep["ok"] and rep["epochs"] == 2

    import pytest as _pytest
    with _pytest.raises(ValueError, match="fmt"):
        pipeline.shard_epoch_writer("/tmp/x", "id", "t", fmt="csv")
