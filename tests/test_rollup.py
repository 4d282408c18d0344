"""Incremental rollup maintenance: any batch split/fold order must finalize
byte-identically to a single-shot aggregation over the union — the
materialized-view-maintenance exactness contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dativo_ingest_spark.operators import rollup

KEYS = ["k"]
MEASURES = {
    "n": ("count", "v"),
    "total": ("sum", "v"),
    "lo": ("min", "v"),
    "hi": ("max", "v"),
    "mean": ("avg", "v"),
}


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _frame(spark):
    data = [(i, "a" if i % 3 else "b", float(i * 7 % 13)) for i in range(40)]
    data += [(100, "c", None), (101, "c", 5.0)]  # null measure values
    return spark.createDataFrame(data, "id int, k string, v double")


def _single_shot(df):
    return df.groupBy("k").agg(
        F.count("v").alias("n"), F.sum("v").alias("total"),
        F.min("v").alias("lo"), F.max("v").alias("hi"),
        F.avg("v").alias("mean"),
    )


@pytest.mark.parametrize("splits", [1, 2, 5])
def test_fold_equals_single_shot(spark, splits):
    df = _frame(spark)
    state = None
    for i in range(splits):
        batch = df.filter(F.col("id") % splits == i)
        state = rollup.maintain_rollup(state, batch, KEYS, MEASURES)
    got = _rows(rollup.finalize(state, KEYS, MEASURES))
    assert got == _rows(_single_shot(df))


def test_fold_order_free(spark):
    # merging states in reverse order yields the same result
    df = _frame(spark)
    states = [rollup.partial_state(df.filter(F.col("id") % 3 == i),
                                   KEYS, MEASURES) for i in range(3)]
    fwd = rollup.finalize(rollup.merge_states(states, KEYS), KEYS, MEASURES)
    rev = rollup.finalize(rollup.merge_states(states[::-1], KEYS),
                          KEYS, MEASURES)
    assert _rows(fwd) == _rows(rev)


def test_count_ignores_null_measure_values(spark):
    df = _frame(spark)
    state = rollup.partial_state(df, KEYS, MEASURES)
    out = {r.k: (r.n, r.mean)
           for r in rollup.finalize(state, KEYS, MEASURES).collect()}
    assert out["c"] == (1, 5.0)  # the NULL v row is not counted/averaged


def test_avg_and_sum_share_state_columns(spark):
    # avg is derived from (sum, count): asking for all three over the same
    # source column must not duplicate state
    df = _frame(spark)
    state = rollup.partial_state(df, KEYS, MEASURES)
    sum_cols = [c for c in state.columns if c.endswith("__sum")]
    assert len(sum_cols) == len(set(sum_cols))


def test_validation(spark):
    df = _frame(spark)
    with pytest.raises(ValueError, match="unsupported measure"):
        rollup.partial_state(df, KEYS, {"m": ("median", "v")})
    with pytest.raises(ValueError, match="at least one"):
        rollup.merge_states([], KEYS)


def test_partial_state_is_map_side_combined(spark):
    # one exchange, with a partial aggregation below it: the batch shuffle
    # carries pre-combined state rows, not raw rows
    df = _frame(spark)
    plan = rollup.partial_state(df, KEYS, MEASURES)\
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "partial_" in plan.split("Exchange", 1)[1]


class TestStreamingRollup:
    """rollup_epoch_writer: per-epoch fold with exactly-once replay
    suppression, state + marker in one atomic snapshot commit."""

    def _writer(self, tmp_path, table=None):
        from dativo_ingest_spark.sinks.table_commit import FsTable
        from dativo_ingest_spark.streaming.pipeline import rollup_epoch_writer

        table = table or FsTable.create(str(tmp_path / "state"))
        return table, rollup_epoch_writer(
            table, KEYS, MEASURES, query_id="q-test")

    def test_epoch_folds_match_single_shot(self, spark, tmp_path):
        df = _frame(spark)
        table, write = self._writer(tmp_path)
        for i in range(3):
            write(df.filter(F.col("id") % 3 == i), epoch_id=i)
        got = rollup.finalize(table.read(spark), KEYS, MEASURES)
        assert _rows(got) == _rows(_single_shot(df))

    def test_replayed_epoch_is_not_double_counted(self, spark, tmp_path):
        df = _frame(spark)
        table, write = self._writer(tmp_path)
        write(df.filter(F.col("id") % 2 == 0), epoch_id=0)
        write(df.filter(F.col("id") % 2 == 1), epoch_id=1)
        before = _rows(rollup.finalize(table.read(spark), KEYS, MEASURES))
        # at-least-once delivery: both epochs replay after a crash
        write(df.filter(F.col("id") % 2 == 0), epoch_id=0)
        write(df.filter(F.col("id") % 2 == 1), epoch_id=1)
        after = _rows(rollup.finalize(table.read(spark), KEYS, MEASURES))
        assert after == before == _rows(_single_shot(df))

    def test_distinct_queries_do_not_suppress_each_other(self, spark,
                                                         tmp_path):
        from dativo_ingest_spark.streaming.pipeline import rollup_epoch_writer

        df = _frame(spark)
        table, write_a = self._writer(tmp_path)
        write_b = rollup_epoch_writer(table, KEYS, MEASURES,
                                      query_id="q-other")
        write_a(df.filter(F.col("id") % 2 == 0), epoch_id=0)
        # a DIFFERENT query's epoch 0 must still fold (markers are scoped
        # per query id, the txnAppId analog)
        write_b(df.filter(F.col("id") % 2 == 1), epoch_id=0)
        got = rollup.finalize(table.read(spark), KEYS, MEASURES)
        assert _rows(got) == _rows(_single_shot(df))

    def test_end_to_end_file_stream(self, spark, tmp_path):
        from dativo_ingest_spark.operators.rollup import finalize
        from dativo_ingest_spark.streaming.pipeline import stream_rollup

        df = _frame(spark)
        src = str(tmp_path / "src")
        df.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
        )
        table = stream_rollup(
            stream, str(tmp_path / "state2"), KEYS, MEASURES,
            checkpoint_dir=str(tmp_path / "ckpt"))
        got = finalize(table.read(spark), KEYS, MEASURES)
        assert _rows(got) == _rows(_single_shot(df))


class TestRollupTargetMode:
    """target.options.mode=rollup: the ingestion job itself maintains a
    materialized aggregate across incremental runs."""

    def _cfg(self, src, root, incremental=None):
        from tests.test_runner import job_dict

        cfg = job_dict(src, root, incremental=incremental)
        cfg["source"]["type"] = "parquet"
        cfg["asset"]["schema"] = [
            {"name": "k", "type": "string", "required": True},
            {"name": "v", "type": "float"},
            {"name": "cursor", "type": "integer"},
        ]
        cfg["target"]["options"] = {
            "mode": "rollup", "commit": "table",
            "rollup": {
                "keys": ["k"],
                "measures": {"n": ["count", "v"], "total": ["sum", "v"],
                             "hi": ["max", "v"]},
            },
        }
        return cfg

    def test_incremental_runs_fold_into_state(self, spark, tmp_path):
        from dativo_ingest_spark import runner
        from dativo_ingest_spark.config.contracts import JobConfig
        from dativo_ingest_spark.operators import rollup
        from dativo_ingest_spark.sinks.table_commit import FsTable

        df = _frame(spark).withColumn("cursor", F.col("id"))
        src = str(tmp_path / "src")
        root = str(tmp_path / "tbl")
        state = str(tmp_path / "state")
        inc = {"enabled": True, "cursor_field": "cursor"}
        measures = {"n": ("count", "v"), "total": ("sum", "v"),
                    "hi": ("max", "v")}

        df.filter(F.col("id") < 30).write.mode("overwrite").parquet(src)
        cfg = self._cfg(src, root, incremental=inc)
        r1 = runner.run_job(spark, JobConfig.from_dict(cfg),
                            state_root=state)
        assert r1.exit_code == runner.EXIT_SUCCESS

        # second run: only NEW rows (cursor > state) fold in
        df.write.mode("overwrite").parquet(src)
        r2 = runner.run_job(spark, JobConfig.from_dict(cfg),
                            state_root=state)
        assert r2.exit_code == runner.EXIT_SUCCESS

        # branch defaults to tenant_id (the reference's Nessie rule)
        got = rollup.finalize(
            FsTable(root).read(spark, branch="acme"), ["k"],
            measures).select(
                "k", "n", "total", "hi")
        exp = df.groupBy("k").agg(
            F.count("v").alias("n"), F.sum("v").alias("total"),
            F.max("v").alias("hi"))
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, exp.collect()))

        # full replay of an already-folded source (>= re-reads, retries):
        # every row sits at or below the folded watermark -> state unchanged
        r3 = runner.run_job(spark, JobConfig.from_dict(cfg),
                            state_root=state)
        assert r3.exit_code == runner.EXIT_SUCCESS
        again = rollup.finalize(
            FsTable(root).read(spark, branch="acme"), ["k"],
            measures).select("k", "n", "total", "hi")
        assert sorted(map(tuple, again.collect())) == \
            sorted(map(tuple, exp.collect()))

    def test_missing_rollup_config_is_config_error(self, spark, tmp_path):
        import pytest as _pytest

        from dativo_ingest_spark import runner
        from dativo_ingest_spark.config.contracts import (ConfigError,
                                                          JobConfig)

        from tests.test_widen import _next_job_id

        src = str(tmp_path / "src")
        _frame(spark).withColumn(
            "cursor", F.col("id")).write.parquet(src)
        cfg = self._cfg(src, str(tmp_path / "tbl"))
        del cfg["target"]["options"]["rollup"]
        with _pytest.raises(ConfigError):
            runner.run_job(spark, JobConfig.from_dict(cfg))
        # with the cursor the other preflight checks need, the missing
        # rollup spec still raises at startup: no job, no staged file
        cfg = self._cfg(src, str(tmp_path / "tbl"), incremental={
            "enabled": True, "cursor_field": "cursor"})
        del cfg["target"]["options"]["rollup"]
        before = _next_job_id(spark)
        with _pytest.raises(ConfigError, match="rollup.keys"):
            runner.run_job(spark, JobConfig.from_dict(cfg))
        assert _next_job_id(spark) == before
        assert not list((tmp_path / "tbl").rglob("*.parquet"))

    def test_batch_is_released_when_the_commit_raises(self, spark, tmp_path,
                                                      monkeypatch):
        """The persisted (watermark-filtered) batch is released on every
        exit path: a raising fold-and-commit leaves no cache behind."""
        import pytest as _pytest

        from dativo_ingest_spark import runner
        from dativo_ingest_spark.config.contracts import JobConfig

        def boom(*_a, **_k):
            raise RuntimeError("commit failed")

        monkeypatch.setattr(rollup, "commit_rollup", boom)
        cache = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        src = str(tmp_path / "src")
        _frame(spark).withColumn("cursor", F.col("id")).write.parquet(src)
        cfg = self._cfg(src, str(tmp_path / "tbl"), incremental={
            "enabled": True, "cursor_field": "cursor"})
        with _pytest.raises(RuntimeError, match="commit failed"):
            runner.run_job(spark, JobConfig.from_dict(cfg),
                           state_root=str(tmp_path / "state"))
        assert cache.isEmpty()

    def test_mode_commit_mismatch_is_config_error(self, spark, tmp_path):
        import pytest as _pytest

        from dativo_ingest_spark import runner
        from dativo_ingest_spark.config.contracts import (ConfigError,
                                                          JobConfig)

        src = str(tmp_path / "src")
        _frame(spark).withColumn("cursor", F.col("id")).write.parquet(src)
        # rollup without commit: table would silently append raw rows
        cfg = self._cfg(src, str(tmp_path / "t1"),
                        incremental={"enabled": True,
                                     "cursor_field": "cursor"})
        cfg["target"]["options"]["commit"] = "hive"
        with _pytest.raises(ConfigError, match="commit: table"):
            runner.run_job(spark, JobConfig.from_dict(cfg))
        # rollup without a cursor would double-fold on any replay
        cfg2 = self._cfg(src, str(tmp_path / "t2"))
        with _pytest.raises(ConfigError, match="cursor"):
            runner.run_job(spark, JobConfig.from_dict(cfg2))

    def test_non_unique_cursor_boundary_rows_still_fold(self, spark,
                                                        tmp_path):
        """A timestamp-style (non-unique) cursor: genuinely-new rows that
        share the stored watermark's cursor value must fold in on the next
        run, while replayed already-folded boundary rows must not — the
        boundary row-fingerprint set distinguishes them where a bare
        ``> watermark`` filter cannot."""
        from dativo_ingest_spark import runner
        from dativo_ingest_spark.config.contracts import JobConfig
        from dativo_ingest_spark.operators import rollup
        from dativo_ingest_spark.sinks.table_commit import FsTable

        src = str(tmp_path / "src")
        root = str(tmp_path / "tbl")
        state = str(tmp_path / "state")
        inc = {"enabled": True, "cursor_field": "cursor"}
        measures = {"n": ("count", "v"), "total": ("sum", "v"),
                    "hi": ("max", "v")}
        schema = "k string, v double, cursor int"

        b1 = spark.createDataFrame(
            [("a", 1.0, 1), ("b", 2.0, 1), ("a", 3.0, 2), ("b", 4.0, 2)],
            schema)
        b1.write.mode("overwrite").parquet(src)
        cfg = self._cfg(src, root, incremental=inc)
        r1 = runner.run_job(spark, JobConfig.from_dict(cfg),
                            state_root=state)
        assert r1.exit_code == runner.EXIT_SUCCESS

        # watermark + boundary fingerprints committed atomically with
        # the fold
        table = FsTable(root)
        head = table.snapshot(table.current_version("acme"))
        assert head.properties["rollup.cursor.cursor"] == "2"
        import json as _json

        assert len(_json.loads(
            head.properties["rollup.cursor_rows.cursor"])) == 2

        # second source state: everything so far PLUS two genuinely-new
        # rows AT the watermark cursor (2) and one past it — the >= 2
        # extraction replays the two folded cursor-2 rows alongside them
        b2_all = spark.createDataFrame(
            [("a", 1.0, 1), ("b", 2.0, 1), ("a", 3.0, 2), ("b", 4.0, 2),
             ("a", 10.0, 2), ("c", 20.0, 2), ("b", 30.0, 3)],
            schema)
        b2_all.write.mode("overwrite").parquet(src)
        r2 = runner.run_job(spark, JobConfig.from_dict(cfg),
                            state_root=state)
        assert r2.exit_code == runner.EXIT_SUCCESS

        got = rollup.finalize(
            table.read(spark, branch="acme"), ["k"], measures
        ).select("k", "n", "total", "hi")
        exp = b2_all.groupBy("k").agg(
            F.count("v").alias("n"), F.sum("v").alias("total"),
            F.max("v").alias("hi"))
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, exp.collect()))

        # replaying the new source state verbatim folds nothing further
        r3 = runner.run_job(spark, JobConfig.from_dict(cfg),
                            state_root=state)
        assert r3.exit_code == runner.EXIT_SUCCESS
        again = rollup.finalize(
            table.read(spark, branch="acme"), ["k"], measures
        ).select("k", "n", "total", "hi")
        assert sorted(map(tuple, again.collect())) == \
            sorted(map(tuple, exp.collect()))

    def test_boundary_overflow_clears_stale_set(self, spark, tmp_path,
                                                monkeypatch):
        """Snapshot properties MERGE with the previous head, so the
        overflow fallback must explicitly overwrite the stored boundary
        set — a stale set from an older watermark would re-admit (and
        double-fold) every replayed boundary row. Degradation contract:
        after an overflow the NEXT run uses the strict > filter (new rows
        at the watermark cursor are dropped, replays never double-fold)."""
        import json as _json

        from dativo_ingest_spark import runner
        from dativo_ingest_spark.config.contracts import JobConfig
        from dativo_ingest_spark.operators import rollup
        from dativo_ingest_spark.sinks.table_commit import FsTable

        monkeypatch.setattr(runner, "_ROLLUP_BOUNDARY_CAP", 2)
        src = str(tmp_path / "src")
        root = str(tmp_path / "tbl")
        state = str(tmp_path / "state")
        inc = {"enabled": True, "cursor_field": "cursor"}
        measures = {"n": ("count", "v"), "total": ("sum", "v"),
                    "hi": ("max", "v")}
        schema = "k string, v double, cursor int"

        b1 = spark.createDataFrame(
            [("a", 1.0, 1), ("b", 2.0, 1), ("c", 3.0, 1)], schema)
        b1.write.mode("overwrite").parquet(src)
        cfg = self._cfg(src, root, incremental=inc)
        assert runner.run_job(spark, JobConfig.from_dict(cfg),
                              state_root=state).exit_code == 0

        table = FsTable(root)
        head = table.snapshot(table.current_version("acme"))
        # 3 boundary rows > cap 2 -> set explicitly cleared, not inherited
        assert head.properties["rollup.cursor_rows.cursor"] == ""
        assert head.properties["rollup.cursor.cursor"] == "1"

        # run 2: full replay plus one row past the watermark — the
        # strict > fallback must fold ONLY the new cursor-2 row
        b2 = spark.createDataFrame(
            [("a", 1.0, 1), ("b", 2.0, 1), ("c", 3.0, 1),
             ("d", 9.0, 2)], schema)
        b2.write.mode("overwrite").parquet(src)
        assert runner.run_job(spark, JobConfig.from_dict(cfg),
                              state_root=state).exit_code == 0
        got = rollup.finalize(
            table.read(spark, branch="acme"), ["k"], measures
        ).select("k", "n", "total", "hi")
        exp = b2.groupBy("k").agg(
            F.count("v").alias("n"), F.sum("v").alias("total"),
            F.max("v").alias("hi"))
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, exp.collect()))
        # cursor-2 boundary set fits the cap again -> stored
        head2 = table.snapshot(table.current_version("acme"))
        assert len(_json.loads(
            head2.properties["rollup.cursor_rows.cursor"])) == 1


class TestMaintainFromChanges:
    MEASURES = {"n": ("count", "v"), "total": ("sum", "v")}

    def _changes(self, spark, rows):
        from dativo_ingest_spark.operators import rollup  # noqa: F401
        return spark.createDataFrame(
            rows, "k string, v long, _change_type string")

    def test_update_adjusts_exactly(self, spark):
        from dativo_ingest_spark.operators import rollup

        base = spark.createDataFrame(
            [("a", 10), ("a", 20), ("b", 5)], "k string, v long")
        state = rollup.partial_state(base, ["k"], self.MEASURES)
        # UPDATE a:20 -> a:25 arrives as delete+insert
        ch = self._changes(spark, [("a", 20, "delete"), ("a", 25, "insert")])
        new = rollup.maintain_rollup_from_changes(
            state, ch, ["k"], self.MEASURES)
        got = {r.k: (r.n, r.total) for r in
               rollup.finalize(new, ["k"], self.MEASURES).collect()}
        assert got == {"a": (2, 35), "b": (1, 5)}

    def test_group_vanishes_at_zero_count(self, spark):
        from dativo_ingest_spark.operators import rollup

        base = spark.createDataFrame([("a", 10)], "k string, v long")
        state = rollup.partial_state(base, ["k"], self.MEASURES)
        ch = self._changes(spark, [("a", 10, "delete"), ("c", 7, "insert")])
        new = rollup.maintain_rollup_from_changes(
            state, ch, ["k"], self.MEASURES)
        got = {r.k: (r.n, r.total) for r in
               rollup.finalize(new, ["k"], self.MEASURES).collect()}
        assert got == {"c": (1, 7)}

    def test_matches_recompute_over_many_feeds(self, spark):
        from dativo_ingest_spark.operators import rollup

        base = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3), ("b", 4)], "k string, v long")
        state = rollup.partial_state(base, ["k"], self.MEASURES)
        feeds = [
            [("a", 1, "delete"), ("a", 9, "insert")],
            [("b", 3, "delete"), ("b", 4, "delete"), ("d", 2, "insert")],
            [("d", 8, "insert")],
        ]
        live = [("a", 2), ("a", 9), ("d", 2), ("d", 8)]
        for f in feeds:
            state = rollup.maintain_rollup_from_changes(
                state, self._changes(spark, f), ["k"], self.MEASURES)
        got = {r.k: (r.n, r.total) for r in
               rollup.finalize(state, ["k"], self.MEASURES).collect()}
        exp_df = rollup.finalize(rollup.partial_state(
            spark.createDataFrame(live, "k string, v long"),
            ["k"], self.MEASURES), ["k"], self.MEASURES)
        assert got == {r.k: (r.n, r.total) for r in exp_df.collect()}

    def test_min_max_rejected(self, spark):
        from dativo_ingest_spark.operators import rollup

        with pytest.raises(ValueError, match="not invertible"):
            rollup.maintain_rollup_from_changes(
                None, self._changes(spark, []), ["k"],
                {"lo": ("min", "v")})
