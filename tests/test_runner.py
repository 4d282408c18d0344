"""End-to-end job runner: extract → validate → partitioned write → state,
with the reference's exit-code contract."""

from __future__ import annotations

import json

import pytest

from dativo_ingest_spark import runner
from dativo_ingest_spark.config.contracts import ConfigError, JobConfig


def job_dict(src_path, out_path, mode="strict", incremental=None,
             partition_by=None):
    return {
        "tenant_id": "acme",
        "schema_validation_mode": mode,
        "source": {"type": "csv", "path": src_path,
                   **({"incremental": incremental} if incremental else {})},
        "target": {"type": "parquet", "path": out_path,
                   "partition_by": partition_by or [],
                   "options": {"mode": "overwrite"}},
        "asset": {
            "name": "people", "version": "1.0", "domain": "hr",
            "schema": [
                {"name": "id", "type": "integer", "required": True},
                {"name": "name", "type": "string", "required": True,
                 "classification": "pii"},
                {"name": "active", "type": "boolean"},
            ],
            "compliance": {"classification": ["internal"],
                           "retention_days": 30},
        },
    }


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "people.csv"
    p.write_text("id,name,active\n1,alice,true\n2,bob,no\n3,carol,1\n")
    return str(p)


def test_strict_success_writes_and_tags(spark, csv_file, tmp_path):
    out = str(tmp_path / "out")
    job = JobConfig.from_dict(job_dict(csv_file, out))
    res = runner.run_job(spark, job)
    assert res.exit_code == runner.EXIT_SUCCESS
    assert (res.records_in, res.records_valid, res.records_invalid) == (3, 3, 0)
    back = spark.read.parquet(out)
    assert dict(back.dtypes) == {"id": "bigint", "name": "string",
                                 "active": "boolean"}
    props = json.load(open(f"{out}/_dativo_properties.json"))
    assert props["classification.fields.name"] == "pii"
    assert props["classification.default"] == "internal"
    assert props["governance.retention_days"] == "30"
    assert res.records_per_second > 0


def test_strict_failure_exit_2(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("id,name\n1,alice\n,missing_id\nx,carol\n")
    out = str(tmp_path / "out")
    job = JobConfig.from_dict(job_dict(str(p), out))
    res = runner.run_job(spark, job)
    assert res.exit_code == runner.EXIT_FAILURE
    assert res.records_invalid == 2
    assert res.error_sample  # capped error taxonomy
    kinds = {e["error"] for e in res.error_sample}
    assert any("missing_required" in k or "type_mismatch" in k for k in kinds)


def test_warn_partial_exit_1(spark, tmp_path):
    p = tmp_path / "warn.csv"
    p.write_text("id,name,extra\n1,alice,x\n,missing,y\n")
    out = str(tmp_path / "out")
    job = JobConfig.from_dict(job_dict(str(p), out, mode="warn"))
    res = runner.run_job(spark, job)
    assert res.exit_code == runner.EXIT_PARTIAL
    # warn: everything passes through to the sink, but the counters report
    # actual input rows and error-free rows (mirrors validation.split_counts)
    assert res.records_in == 2
    assert res.records_valid == 1
    assert res.records_invalid == 1
    back = spark.read.parquet(out)
    assert "extra" in back.columns  # warn mode preserves observed columns
    # original pre-coercion values preserved (reference warn semantics)
    from dativo_ingest_spark.operators.validation import RAW_COL
    assert RAW_COL in back.columns
    raws = {r[RAW_COL]["id"] for r in back.collect()}
    assert "" in raws or None in raws  # the failed empty-id original


def test_warn_mode_cursor_covers_written_invalid_rows(spark, tmp_path):
    """Warn mode writes EVERY row to the sink, so the cursor state must
    advance over invalid rows too — otherwise rows already in the sink sit
    above the stored cursor and are re-ingested on every subsequent run."""
    p = tmp_path / "w.csv"
    p.write_text("id,name\n1,alice\n2,bob\n3,\n")  # highest cursor invalid
    out = str(tmp_path / "out")
    inc = {"enabled": True, "strategy": "cursor", "cursor_field": "id"}
    job = JobConfig.from_dict(
        job_dict(str(p), out, mode="warn", incremental=inc))
    res = runner.run_job(spark, job, state_root=str(tmp_path / "state"))
    assert res.exit_code == runner.EXIT_PARTIAL
    assert res.records_invalid == 1
    assert spark.read.parquet(out).count() == 3  # all rows written
    assert res.state_value == 3  # state covers the written invalid row


def test_run_job_is_single_pass(spark, csv_file, tmp_path, monkeypatch):
    """Scale regression: a clean job = ONE source scan. Counters, state
    cursor and the write all ride the observe() metrics of the write
    action; the only other action is the bounded (<=1000-row) size probe.
    No count/collect anywhere on the success path."""
    import pyspark.sql.readwriter as rw_mod

    # the session's own DataFrame class: on Spark 4 that is the classic
    # subclass, which overrides count/collect/isEmpty
    frame_cls = type(spark.range(1))
    actions: list[str] = []
    for name in ("count", "collect", "toPandas", "toLocalIterator",
                 "isEmpty"):
        orig = getattr(frame_cls, name)

        def wrapper(self, *a, _n=name, _o=orig, **k):
            actions.append(_n)
            return _o(self, *a, **k)

        monkeypatch.setattr(frame_cls, name, wrapper)
    spark.range(1).count()
    assert actions == ["count"]     # the spy is live
    actions.clear()
    orig_parquet = rw_mod.DataFrameWriter.parquet

    def parquet_spy(self, *a, **k):
        actions.append("write")
        return orig_parquet(self, *a, **k)

    monkeypatch.setattr(rw_mod.DataFrameWriter, "parquet", parquet_spy)

    out = str(tmp_path / "out")
    inc = {"enabled": True, "strategy": "cursor", "cursor_field": "id"}
    job = JobConfig.from_dict(job_dict(csv_file, out, incremental=inc))
    res = runner.run_job(spark, job, state_root=str(tmp_path / "state"))
    assert res.exit_code == runner.EXIT_SUCCESS
    assert res.state_value == 3          # cursor came from the write pass
    assert actions == ["write", "write"]  # size probe + staged write — only


def test_table_commit_mode_snapshot_publish(spark, csv_file, tmp_path):
    """commit: table routes publish through the FsTable snapshot sink:
    partition values ride as _p_* data columns, table properties land in
    the snapshot, and overwrite is a manifest swap."""
    from dativo_ingest_spark.sinks.table_commit import FsTable

    out = str(tmp_path / "t")
    d = job_dict(csv_file, out, partition_by=["ingest_date"])
    d["target"]["options"]["commit"] = "table"
    res = runner.run_job(spark, JobConfig.from_dict(d))
    assert res.exit_code == runner.EXIT_SUCCESS
    table = FsTable(out)
    # branch-per-tenant: commits land on the tenant branch (Nessie default)
    back = table.read(spark, branch="acme")
    assert back.count() == 3
    assert "_p_ingest_date" in back.columns
    assert table.read(spark).count() == 0  # main untouched
    snap = table.snapshot(table.current_version("acme"))
    assert snap.properties["classification.fields.name"] == "pii"
    # second run overwrites via manifest swap; old version still readable
    res2 = runner.run_job(spark, JobConfig.from_dict(d))
    assert res2.exit_code == 0
    assert table.read(spark, branch="acme").count() == 3
    assert table.read(spark, version=1, branch="acme").count() == 3


def test_table_commit_mode_strict_abort_leaves_table_unchanged(
        spark, csv_file, tmp_path):
    """Strict-mode failure after staging must not change the table: staged
    files are unreferenced orphans until the manifest commit."""
    from dativo_ingest_spark.sinks.table_commit import FsTable

    out = str(tmp_path / "t")
    d = job_dict(csv_file, out)
    d["target"]["options"]["commit"] = "table"
    runner.run_job(spark, JobConfig.from_dict(d))
    v0 = FsTable(out).current_version("acme")

    bad = tmp_path / "bad.csv"
    bad.write_text("id,name\n1,alice\n,missing_id\n")
    d_bad = job_dict(str(bad), out)
    d_bad["target"]["options"]["commit"] = "table"
    res = runner.run_job(spark, JobConfig.from_dict(d_bad))
    assert res.exit_code == runner.EXIT_FAILURE
    assert FsTable(out).current_version("acme") == v0
    assert FsTable(out).read(spark, branch="acme").count() == 3


def test_table_commit_mode_crash_before_commit(spark, csv_file, tmp_path,
                                               monkeypatch):
    """A crash between the staged write and add_files leaves the table
    unchanged; the retried job lands the data exactly once."""
    from dativo_ingest_spark.sinks.table_commit import FsTable

    out = str(tmp_path / "t")
    d = job_dict(csv_file, out)
    d["target"]["options"]["commit"] = "table"
    runner.run_job(spark, JobConfig.from_dict(d))

    orig = FsTable.add_files

    def crash(self, *a, **k):
        raise RuntimeError("simulated crash before manifest commit")

    monkeypatch.setattr(FsTable, "add_files", crash)
    d2 = dict(d)
    d2["target"] = {**d["target"], "options": {"mode": "append",
                                               "commit": "table"}}
    with pytest.raises(RuntimeError):
        runner.run_job(spark, JobConfig.from_dict(d2))
    monkeypatch.setattr(FsTable, "add_files", orig)
    assert FsTable(out).read(spark, branch="acme").count() == 3  # unchanged
    res = runner.run_job(spark, JobConfig.from_dict(d2))
    assert res.exit_code == 0
    assert FsTable(out).read(spark,
                             branch="acme").count() == 6  # one append


def test_hive_overwrite_publish_never_empty(spark, csv_file, tmp_path,
                                            monkeypatch):
    """Overwrite publish tombstones old files only AFTER the new ones are
    in place — a crash mid-publish may briefly duplicate, never truncate."""
    out = str(tmp_path / "out")
    job = JobConfig.from_dict(job_dict(csv_file, out))
    runner.run_job(spark, job)

    import os as _os
    real_replace = _os.replace
    moved = []

    def counting_replace(src, dst):
        moved.append(dst)
        real_replace(src, dst)

    monkeypatch.setattr(runner.os, "replace", counting_replace)
    real_remove = _os.remove

    def crashing_remove(path):
        raise RuntimeError("crash during tombstone sweep")

    monkeypatch.setattr(runner.os, "remove", crashing_remove)
    with pytest.raises(RuntimeError):
        runner.run_job(spark, job)
    monkeypatch.setattr(runner.os, "remove", real_remove)
    # new files fully landed before any delete was attempted
    assert moved and all(_os.path.exists(p) for p in moved)
    assert spark.read.parquet(out).count() >= 3


def test_mtime_skip_second_run(spark, csv_file, tmp_path):
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    inc = {"enabled": True, "strategy": "file_modified_time"}
    job = JobConfig.from_dict(job_dict(csv_file, out, incremental=inc))
    r1 = runner.run_job(spark, job, state_root=state)
    assert r1.exit_code == 0 and not r1.skipped
    r2 = runner.run_job(spark, job, state_root=state)
    assert r2.skipped and r2.exit_code == 0


def test_parquet_cursor_incremental(spark, tmp_path):
    src = str(tmp_path / "events_src")
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id bigint, cursor bigint"
    ).write.parquet(src)
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    d = job_dict(src, out, incremental={
        "enabled": True, "strategy": "updated_at", "cursor_field": "cursor"})
    d["source"]["type"] = "parquet"
    d["asset"]["schema"] = [
        {"name": "id", "type": "integer", "required": True},
        {"name": "cursor", "type": "integer", "required": True},
    ]
    # updated_at strategy is jdbc-family; parquet source uses cursor too
    d["source"]["incremental"]["strategy"] = None
    job = JobConfig.from_dict(d)
    r1 = runner.run_job(spark, job, state_root=state)
    assert r1.records_valid == 3 and r1.state_value == 30
    # append two newer rows; next run reads cursor >= 30 (re-reads boundary)
    spark.createDataFrame([(4, 40), (3, 30)], "id bigint, cursor bigint")\
        .write.mode("append").parquet(src)
    r2 = runner.run_job(spark, job, state_root=state)
    assert r2.state_value == 40
    assert r2.records_valid == 3  # 30 (x2, >= re-read) + 40


def test_partitioned_output(spark, csv_file, tmp_path):
    out = str(tmp_path / "out")
    job = JobConfig.from_dict(
        job_dict(csv_file, out, partition_by=["ingest_date", "active"]))
    res = runner.run_job(spark, job)
    assert res.partition_cols == ["_p_ingest_date", "_p_active"]
    from dativo_ingest_spark.sinks.parquet_sink import list_partitions
    vals = {p["value"] for p in list_partitions(out) if p["column"] == "_p_active"}
    assert vals == {"true", "false"}


def test_markdown_kv_job(spark, tmp_path):
    (tmp_path / "d1.md").write_text("a:: 1\nb:: two\n")
    out = str(tmp_path / "out")
    d = job_dict(str(tmp_path / "*.md"), out)
    d["source"]["type"] = "markdown_kv"
    d["source"]["options"] = {"storage": "row_per_kv"}
    job = JobConfig.from_dict(d)
    res = runner.run_job(spark, job)
    assert res.exit_code == 0
    back = spark.read.parquet(out)
    assert {r.key for r in back.collect()} == {"a", "b"}


def test_markdown_kv_raw_file_job(spark, tmp_path):
    """raw_file mode: one row per document of the configured extension —
    raw text + path, other extensions filtered out (reference
    markdown_kv_storage {mode: raw_file, file_extension} shape)."""
    (tmp_path / "d1.mdkv").write_text("a:: 1\n")
    (tmp_path / "d2.md").write_text("b:: 2\n")
    out = str(tmp_path / "out")
    d = job_dict(str(tmp_path / "*"), out)
    d["source"]["type"] = "markdown_kv"
    d["source"]["options"] = {"markdown_kv_storage": {
        "mode": "raw_file", "file_extension": ".mdkv"}}
    res = runner.run_job(spark, JobConfig.from_dict(d))
    assert res.exit_code == 0
    back = spark.read.parquet(out).collect()
    assert [(r.doc_id, r.content) for r in back] == [("d1", "a:: 1\n")]
    assert back[0].path.endswith("d1.mdkv")


def test_markdown_kv_hybrid_job(spark, tmp_path):
    """The reference's nested structured/hybrid config routes end-to-end
    (it VALIDATES this shape but its parser raises on it)."""
    (tmp_path / "d1.md").write_text("a:: 1\nb:: two\n")
    out = str(tmp_path / "out")
    d = job_dict(str(tmp_path / "*.md"), out)
    d["source"]["type"] = "markdown_kv"
    d["source"]["options"] = {"markdown_kv_storage": {
        "mode": "structured", "structured_pattern": "hybrid"}}
    res = runner.run_job(spark, JobConfig.from_dict(d))
    assert res.exit_code == 0
    back = spark.read.parquet(out)
    rows = {(r.key, r.value) for r in back.collect()}
    assert rows == {("a", "1"), ("b", "two")}
    assert {r.n_kv for r in back.collect()} == {2}


def test_markdown_kv_raw_file_rejects_bad_extension(spark, tmp_path):
    from dativo_ingest_spark.sources import mdkv_source

    (tmp_path / "d1.md").write_text("a:: 1\n")
    with pytest.raises(ValueError, match="file_extension"):
        mdkv_source.extract(spark, str(tmp_path / "*"), storage="raw_file",
                            file_extension=".txt")


def test_mdkv_resolve_storage_shapes():
    from dativo_ingest_spark.sources.mdkv_source import resolve_storage

    assert resolve_storage({}) == ("row_per_kv", ".mdkv")
    assert resolve_storage({"storage": "string"}) == ("string", ".mdkv")
    assert resolve_storage({"markdown_kv_storage": {
        "mode": "raw_file", "file_extension": ".md"}}) == ("raw_file", ".md")
    assert resolve_storage({"markdown_kv_storage": {
        "mode": "structured", "structured_pattern": "hybrid"}}) == \
        ("hybrid", ".mdkv")
    assert resolve_storage({"markdown_kv_storage": {
        "mode": "string"}}) == ("string", ".mdkv")


def test_job_dir_and_config_error(spark, tmp_path, csv_file):
    jobs = tmp_path / "jobs"
    jobs.mkdir()
    import yaml
    (jobs / "j1.yaml").write_text(yaml.dump(
        job_dict(csv_file, str(tmp_path / "o1"))))
    results = runner.run_job_dir(spark, str(jobs))
    assert all(r.exit_code == 0 for r in results.values())
    with pytest.raises(ConfigError):
        JobConfig.from_dict({"tenant_id": "t", "source": {"type": "csv"},
                             "target": {}, "asset": {"name": "x",
                                                     "schema": []}})


def test_jdbc_job_end_to_end_derby(spark, tmp_path):
    """Full job lifecycle from a JDBC source over embedded Derby: pushed
    cursor predicate, partitioned read, contract cast, parquet sink,
    commit-then-state, and incremental resume on the second run."""
    from pyspark.sql import functions as F

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    spark.range(0, 100).select(
        F.col("id").alias("ID"), (F.col("id") * 3).alias("UPDATED")
    ).write.format("jdbc").option("url", url).option("dbtable", "T").save()

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    d = {
        "tenant_id": "acme",
        "source": {
            "type": "derby",
            "options": {"url": url, "table": "T",
                        "partition_column": "ID", "lower_bound": 0,
                        "upper_bound": 100, "num_partitions": 4},
            "incremental": {"enabled": True, "strategy": "cursor",
                            "cursor_field": "UPDATED"},
        },
        "target": {"type": "parquet", "path": out,
                   "options": {"mode": "overwrite"}},
        "asset": {"name": "t", "schema": [
            {"name": "ID", "type": "integer", "required": True},
            {"name": "UPDATED", "type": "integer", "required": True},
        ]},
    }
    job = JobConfig.from_dict(d)
    r1 = runner.run_job(spark, job, state_root=state)
    assert r1.exit_code == runner.EXIT_SUCCESS
    assert r1.records_valid == 100 and r1.state_value == 297

    # new rows land in the DB; resume reads only cursor >= 297
    spark.createDataFrame([(100, 300), (101, 303)], "ID bigint, UPDATED bigint")\
        .write.format("jdbc").option("url", url).option("dbtable", "T")\
        .mode("append").save()
    r2 = runner.run_job(spark, job, state_root=state)
    assert r2.records_valid == 3  # 297 boundary re-read + 300 + 303
    assert r2.state_value == 303

    # cloud mode refuses the database connector before touching it
    with pytest.raises(ConfigError, match="not allowed in cloud mode"):
        runner.run_job(spark, job, state_root=state, mode="cloud")


def test_table_commit_mode_records_partition_stats(spark, csv_file,
                                                   tmp_path):
    """commit: table records partition-column stats in the manifest so a
    partition-predicate read prunes files driver-side."""
    from dativo_ingest_spark.sinks.table_commit import FsTable

    out = str(tmp_path / "t")
    d = job_dict(csv_file, out, partition_by=["ingest_date"])
    d["target"]["options"]["commit"] = "table"
    runner.run_job(spark, JobConfig.from_dict(d))
    table = FsTable(out)
    snap = table.snapshot(table.current_version("acme"))
    assert all("_p_ingest_date" in f.get("stats", {}) for f in snap.files)
    # a predicate on a future date prunes every file
    assert table.matching_files(snap, [("_p_ingest_date", ">", "9999")]) == []
    assert table.read(spark, branch="acme",
                      where=[("_p_ingest_date", ">", "9999")]).count() == 0


def test_table_commit_merge_mode_is_idempotent_upsert(spark, tmp_path):
    """mode: merge + merge_keys upserts by key through the copy-on-write
    path — re-running a job over an unchanged source (the >= cursor
    re-read) must not duplicate rows, and changed rows must replace."""
    from dativo_ingest_spark.sinks.table_commit import FsTable

    src = tmp_path / "people.csv"
    src.write_text("id,name,active\n1,alice,true\n2,bob,no\n")
    out = str(tmp_path / "t")
    d = job_dict(str(src), out)
    d["target"]["options"] = {"mode": "merge", "commit": "table",
                              "merge_keys": "id"}
    assert runner.run_job(spark, JobConfig.from_dict(d)).exit_code == 0
    table = FsTable(out)
    assert table.read(spark, branch="acme").count() == 2

    # identical re-run: no duplicates
    assert runner.run_job(spark, JobConfig.from_dict(d)).exit_code == 0
    assert table.read(spark, branch="acme").count() == 2

    # changed row + new row: update applies, insert lands
    src.write_text("id,name,active\n2,robert,yes\n3,carol,1\n")
    assert runner.run_job(spark, JobConfig.from_dict(d)).exit_code == 0
    got = {r["id"]: r["name"]
           for r in table.read(spark, branch="acme").collect()}
    assert got == {1: "alice", 2: "robert", 3: "carol"}


def test_table_commit_merge_mode_keeps_newest_boundary_version(
        spark, tmp_path):
    """The >= cursor re-reads the previous batch's boundary row; when the
    next delta updates that same key, the batch holds two versions of it.
    The merge must keep only the newest (by cursor), one row per key."""
    from dativo_ingest_spark.sinks.table_commit import FsTable

    src, out = str(tmp_path / "src"), str(tmp_path / "t")
    state = str(tmp_path / "state")
    d = job_dict(src, out, incremental={"enabled": True,
                                        "cursor_field": "cursor"})
    d["source"]["type"] = "parquet"
    d["target"]["options"] = {"mode": "merge", "commit": "table",
                              "merge_keys": "id"}
    d["asset"]["schema"] = [
        {"name": "id", "type": "integer", "required": True},
        {"name": "name", "type": "string", "required": True},
        {"name": "cursor", "type": "integer", "required": True},
    ]
    job = JobConfig.from_dict(d)
    schema = "id bigint, name string, cursor bigint"
    spark.createDataFrame([(1, "alice", 10), (2, "bob", 20)], schema)\
        .write.parquet(src)
    assert runner.run_job(spark, job, state_root=state).exit_code == 0
    # second delta updates key 2, the first delta's boundary row (cursor 20)
    spark.createDataFrame([(2, "robert", 30), (3, "carol", 25)], schema)\
        .write.mode("append").parquet(src)
    r2 = runner.run_job(spark, job, state_root=state)
    assert r2.exit_code == 0 and r2.records_in == 3  # boundary re-read
    rows = FsTable(out).read(spark, branch="acme").collect()
    assert len(rows) == 3
    assert {r["id"]: (r["name"], r["cursor"]) for r in rows} == {
        1: ("alice", 10), 2: ("robert", 30), 3: ("carol", 25)}


def _raises_before_any_data(spark, d, table_root, match):
    """run_job raises ConfigError at startup: no Spark job ran and no
    parquet file landed under the table."""
    from tests.test_widen import _next_job_id

    before = _next_job_id(spark)
    with pytest.raises(ConfigError, match=match):
        runner.run_job(spark, JobConfig.from_dict(d))
    assert _next_job_id(spark) == before
    assert not list(table_root.rglob("*.parquet"))


def test_table_commit_merge_mode_requires_keys(spark, tmp_path):
    src = tmp_path / "p.csv"
    src.write_text("id,name,active\n1,a,true\n")
    d = job_dict(str(src), str(tmp_path / "t"))
    d["target"]["options"] = {"mode": "merge", "commit": "table"}
    _raises_before_any_data(spark, d, tmp_path / "t", "merge_keys")
    # the hive publish only appends: an updated key would keep both rows
    d["target"]["options"] = {"mode": "merge", "merge_keys": "id"}
    _raises_before_any_data(spark, d, tmp_path / "t", "commit: table")


def test_table_commit_scd2_mode_requires_config(spark, tmp_path):
    src = tmp_path / "p.csv"
    src.write_text("id,name,active\n1,a,true\n")
    d = job_dict(str(src), str(tmp_path / "t"))
    d["target"]["options"] = {"mode": "scd2", "commit": "table",
                              "scd2": {"keys": ["id"]}}
    _raises_before_any_data(spark, d, tmp_path / "t", "scd2.tracked")


# --- real-Iceberg commit path (config-gated; no jar in this env) ----------


def test_iceberg_commit_requires_catalog_config(spark, csv_file, tmp_path):
    """commit=iceberg without a registered catalog fails at config time
    (exit-2 class error, before any Spark job) and names the conf."""
    d = job_dict(csv_file, str(tmp_path / "out"))
    d["target"]["table"] = "lakehouse.db.people"
    d["target"]["options"]["commit"] = "iceberg"
    _raises_before_any_data(spark, d, tmp_path / "out",
                            "spark.sql.catalog.lakehouse")
    # nothing staged, nothing published
    assert not (tmp_path / "out").exists()


def test_iceberg_commit_requires_three_part_table(spark, csv_file, tmp_path):
    d = job_dict(csv_file, str(tmp_path / "out"))
    d["target"]["table"] = "people"  # no catalog.db prefix
    d["target"]["options"]["commit"] = "iceberg"
    _raises_before_any_data(spark, d, tmp_path / "out", "catalog.db.table")


def test_zorder_requires_columns(spark, csv_file, tmp_path):
    d = job_dict(csv_file, str(tmp_path / "out"))
    d["target"]["options"]["zorder"] = {"columns": {}, "files": 2}
    _raises_before_any_data(spark, d, tmp_path / "out",
                            "zorder needs columns")


def test_iceberg_commit_path_selected_with_mocked_catalog(
        spark, csv_file, tmp_path, monkeypatch):
    """With the catalog conf present, the runner stages, validates, then
    hands the staged rows to iceberg_sink.commit — recorded here in place
    of a live writeTo() (no Iceberg jar in this environment)."""
    from dativo_ingest_spark.sinks import iceberg_sink

    recorded = {}

    def fake_commit(spark_, df, table_ident, mode="append", branch=None,
                    partition_by=None, properties=None, merge_keys=None):
        recorded.update(
            rows=df.count(), table=table_ident, mode=mode, branch=branch,
            partition_by=partition_by, merge_keys=merge_keys,
            props={k: v for k, v in (properties or {}).items()
                   if k.startswith("classification.fields")},
        )
        return {"table": table_ident, "branch": branch or "main",
                "mode": mode}

    monkeypatch.setattr(iceberg_sink, "commit", fake_commit)
    spark.conf.set("spark.sql.catalog.lakehouse", "fake.CatalogImpl")
    try:
        d = job_dict(csv_file, str(tmp_path / "out"))
        d["target"]["table"] = "lakehouse.db.people"
        d["target"]["options"]["commit"] = "iceberg"
        res = runner.run_job(spark, JobConfig.from_dict(d))
    finally:
        spark.conf.unset("spark.sql.catalog.lakehouse")
    assert res.exit_code == runner.EXIT_SUCCESS
    assert recorded["rows"] == 3
    assert recorded["table"] == "lakehouse.db.people"
    assert recorded["branch"] == "acme"  # branch-per-tenant default
    assert recorded["props"] == {"classification.fields.name": "pii"}
    # staging swept after commit
    assert not list((tmp_path / "out" / "_staging").glob("*")) \
        if (tmp_path / "out" / "_staging").exists() else True


def test_iceberg_merge_hands_newest_version_per_key(
        spark, tmp_path, monkeypatch):
    """A cursor batch holding two versions of one key reaches the mocked
    MERGE INTO as one row per key, the newest by cursor: MERGE allows one
    source row per target row."""
    from dativo_ingest_spark.sinks import iceberg_sink

    recorded = {}

    def fake_commit(spark_, df, table_ident, mode="append", branch=None,
                    partition_by=None, properties=None, merge_keys=None):
        recorded.update(mode=mode, merge_keys=merge_keys, rows=sorted(
            tuple(r) for r in df.select("id", "name", "cursor").collect()))

    monkeypatch.setattr(iceberg_sink, "commit", fake_commit)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "alice", 10), (2, "bob", 20), (2, "robert", 30)],
        "id bigint, name string, cursor bigint").write.parquet(src)
    d = job_dict(src, str(tmp_path / "out"),
                 incremental={"enabled": True, "cursor_field": "cursor"})
    d["source"]["type"] = "parquet"
    d["target"]["table"] = "lakehouse.db.people"
    d["target"]["options"] = {"mode": "merge", "commit": "iceberg",
                              "merge_keys": "id"}
    d["asset"]["schema"] = [
        {"name": "id", "type": "integer", "required": True},
        {"name": "name", "type": "string", "required": True},
        {"name": "cursor", "type": "integer", "required": True},
    ]
    spark.conf.set("spark.sql.catalog.lakehouse", "fake.CatalogImpl")
    try:
        res = runner.run_job(spark, JobConfig.from_dict(d),
                             state_root=str(tmp_path / "state"))
    finally:
        spark.conf.unset("spark.sql.catalog.lakehouse")
    assert res.exit_code == runner.EXIT_SUCCESS and res.records_in == 3
    assert recorded == {"mode": "merge", "merge_keys": ["id"],
                        "rows": [(1, "alice", 10), (2, "robert", 30)]}


def test_iceberg_strict_abort_never_reaches_commit(
        spark, tmp_path, monkeypatch):
    from dativo_ingest_spark.sinks import iceberg_sink

    called = []
    monkeypatch.setattr(iceberg_sink, "commit",
                        lambda *a, **k: called.append(1))
    src = tmp_path / "bad.csv"
    src.write_text("id,name\n1,alice\n,missing_id\n")
    spark.conf.set("spark.sql.catalog.lakehouse", "fake.CatalogImpl")
    try:
        d = job_dict(str(src), str(tmp_path / "out"))
        d["target"]["table"] = "lakehouse.db.people"
        d["target"]["options"]["commit"] = "iceberg"
        res = runner.run_job(spark, JobConfig.from_dict(d))
    finally:
        spark.conf.unset("spark.sql.catalog.lakehouse")
    assert res.exit_code == runner.EXIT_FAILURE
    assert called == []  # strict abort happens before the snapshot commit


def test_iceberg_sink_helpers(spark):
    from dativo_ingest_spark.sinks import iceberg_sink

    assert iceberg_sink.branch_ident("c.db.t", None) == "c.db.t"
    assert iceberg_sink.branch_ident("c.db.t", "main") == "c.db.t"
    assert iceberg_sink.branch_ident("c.db.t", "acme") == "c.db.t.branch_acme"
    assert not iceberg_sink.catalog_configured(spark, "nope_catalog")
    spark.conf.set("spark.sql.catalog.c9", "x.Impl")
    try:
        assert iceberg_sink.catalog_configured(spark, "c9")
        assert iceberg_sink.require_available(spark, "c9.db.t") == "c9"
    finally:
        spark.conf.unset("spark.sql.catalog.c9")

    class _SQLRecorder:
        def __init__(self):
            self.stmts = []

        def sql(self, stmt):
            self.stmts.append(stmt)

    rec = _SQLRecorder()
    iceberg_sink.set_properties(rec, "c.db.t", {"a": "x'y", "b": "2"})
    assert rec.stmts == [
        "ALTER TABLE c.db.t SET TBLPROPERTIES ('a' = 'x''y', 'b' = '2')"]
    rec2 = _SQLRecorder()
    iceberg_sink.ensure_branch(rec2, "c.db.t", "acme")
    assert rec2.stmts == [
        "ALTER TABLE c.db.t CREATE BRANCH IF NOT EXISTS `acme`"]
    iceberg_sink.ensure_branch(rec2, "c.db.t", "main")  # no-op
    assert len(rec2.stmts) == 1


def test_iceberg_snapshot_property_read_and_merge_guard(spark):
    from dativo_ingest_spark.sinks import iceberg_sink

    class _SnapRecorder:
        def __init__(self, rows):
            self.rows = rows
            self.stmts = []

        def sql(self, stmt):
            self.stmts.append(stmt)

            class _R:
                def __init__(self, rows):
                    self._rows = rows

                def collect(self):
                    return self._rows

            return _R(self.rows)

    # reads the newest snapshot summary holding the key, quotes escaped
    rec = _SnapRecorder([("41",)])
    assert iceberg_sink.get_snapshot_property(
        rec, "c.db.t", "stream.epoch.q'1") == "41"
    assert "summary['stream.epoch.q''1']" in rec.stmts[0]
    assert "ORDER BY committed_at DESC LIMIT 1" in rec.stmts[0]
    assert iceberg_sink.get_snapshot_property(
        _SnapRecorder([]), "c.db.t", "k") is None

    # MERGE cannot carry snapshot properties atomically -> hard error,
    # never a silent at-least-once downgrade
    from dativo_ingest_spark.config.contracts import ConfigError
    spark.conf.set("spark.sql.catalog.c10", "x.Impl")
    try:
        with pytest.raises(ConfigError, match="snapshot_properties"):
            iceberg_sink.commit(
                spark, spark.range(1), "c10.db.t", mode="merge",
                merge_keys=["id"], snapshot_properties={"k": "1"})
    finally:
        spark.conf.unset("spark.sql.catalog.c10")


def test_dynamic_partition_overwrite(spark, tmp_path):
    """mode=overwrite_partitions replaces exactly the partitions present
    in the batch; untouched partitions survive."""
    out = str(tmp_path / "out")

    def run(rows):
        src = tmp_path / f"src_{len(list(tmp_path.iterdir()))}.csv"
        src.write_text("id,name,active\n" +
                       "\n".join(f"{i},{n},true" for i, n in rows) + "\n")
        cfg = job_dict(str(src), out, partition_by=["name"])
        cfg["target"]["options"]["mode"] = "overwrite_partitions"
        return runner.run_job(spark, JobConfig.from_dict(cfg))

    assert run([(1, "alice"), (2, "bob")]).exit_code == 0
    # second batch touches ONLY alice: bob's partition must survive,
    # alice's must be replaced (not appended)
    assert run([(10, "alice")]).exit_code == 0
    back = spark.read.parquet(out)
    got = sorted((r["id"], r["_p_name"]) for r in back.collect())
    assert got == [(2, "bob"), (10, "alice")]


class TestDedupOnIngestOption:
    """target.options.dedup: runner-level dedup-on-ingest against a
    persistent index, with the index append deferred until after the sink
    publish (commit-then-index)."""

    @staticmethod
    def _job(src, out, index, mode="warn", extra=None):
        d = job_dict(src, out, mode=mode)
        d["target"]["options"]["mode"] = "append"   # overwrite is rejected
        d["target"]["options"]["dedup"] = {
            "index": index, "id_field": "id", "content_field": "name",
            **(extra or {})}
        return JobConfig.from_dict(d)

    def test_second_run_drops_already_ingested_rows(self, spark, tmp_path):
        src1 = tmp_path / "b1.csv"
        src1.write_text("id,name,active\n1,alice,true\n2,bob,true\n")
        src2 = tmp_path / "b2.csv"
        src2.write_text("id,name,active\n3,alice,true\n4,dana,true\n")
        index = str(tmp_path / "ix")
        out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
        r1 = runner.run_job(spark, self._job(str(src1), out1, index))
        assert r1.exit_code == runner.EXIT_SUCCESS
        assert r1.records_in == 2 and r1.dedup_dropped == {
            "batch": 0, "index": 0}
        # run 2: "alice" content was already admitted by run 1
        r2 = runner.run_job(spark, self._job(str(src2), out2, index))
        assert r2.exit_code == runner.EXIT_SUCCESS
        assert r2.records_in == 1
        assert r2.dedup_dropped == {"batch": 0, "index": 1}
        back = spark.read.parquet(out2)
        assert [r.name for r in back.collect()] == ["dana"]

    def test_within_batch_dups_collapse(self, spark, tmp_path):
        src = tmp_path / "b.csv"
        src.write_text(
            "id,name,active\n1,alice,true\n2,alice,true\n3,bob,true\n")
        index = str(tmp_path / "ix")
        out = str(tmp_path / "o")
        r = runner.run_job(spark, self._job(str(src), out, index))
        assert r.records_in == 2
        assert r.dedup_dropped == {"batch": 1, "index": 0}
        assert r.metrics()["records_dedup_dropped"] == 1

    def test_strict_abort_leaves_index_untouched(self, spark, tmp_path):
        # run 1 fails strict validation (bad boolean) AFTER dedup ran;
        # nothing published -> nothing indexed -> the rows are re-admitted
        # by a later clean run
        src_bad = tmp_path / "bad.csv"
        src_bad.write_text("id,name,active\n1,alice,maybe\n")
        src_ok = tmp_path / "ok.csv"
        src_ok.write_text("id,name,active\n9,alice,true\n")
        index = str(tmp_path / "ix")
        r1 = runner.run_job(
            spark, self._job(str(src_bad), str(tmp_path / "o1"), index,
                             mode="strict"))
        assert r1.exit_code == runner.EXIT_FAILURE
        r2 = runner.run_job(
            spark, self._job(str(src_ok), str(tmp_path / "o2"), index,
                             mode="strict"))
        assert r2.exit_code == runner.EXIT_SUCCESS
        assert r2.records_in == 1 and r2.dedup_dropped["index"] == 0

    def test_config_errors_fail_at_startup(self, spark, tmp_path):
        src = tmp_path / "b.csv"
        src.write_text("id,name,active\n1,alice,true\n")
        out = str(tmp_path / "o")
        bad = job_dict(str(src), out)
        bad["target"]["options"]["mode"] = "append"
        bad["target"]["options"]["dedup"] = {"index": str(tmp_path / "ix")}
        with pytest.raises(ConfigError, match="id_field"):
            runner.run_job(spark, JobConfig.from_dict(bad))
        with pytest.raises(ConfigError, match="mode"):
            runner.run_job(spark, self._job(
                str(src), out, str(tmp_path / "ix"),
                extra={"mode": "fuzzy"}))
        with pytest.raises(ConfigError, match="not in the extracted"):
            runner.run_job(spark, self._job(
                str(src), out, str(tmp_path / "ix"),
                extra={"content_field": "nope"}))

    def test_embedding_mode_end_to_end(self, spark, tmp_path):
        # parquet source; the embedding column is NOT in the asset
        # contract (projected away from the sink) yet still drives dedup
        # and the deferred index append
        def write_batch(path, rows):
            spark.createDataFrame(
                rows, "id long, name string, active boolean, "
                      "embedding array<double>"
            ).write.parquet(path)

        v1 = [0.5, -1.5, 2.5, 0.25, 3.0, -0.75, 1.0, 4.0]
        v2 = [float((-1) ** i) * (i + 1) for i in range(8)]
        b1 = str(tmp_path / "b1"); b2 = str(tmp_path / "b2")
        write_batch(b1, [(1, "a", True, v1), (2, "b", True, v2)])
        # batch 2: a scaled re-encode of v1 (cosine 1.0) + one new vector
        write_batch(b2, [(3, "c", True, [x * 2.0 for x in v1]),
                         (4, "d", True, [1.0] * 8)])
        index = str(tmp_path / "ix")

        def job(src, out):
            d = job_dict(src, out)
            d["source"] = {"type": "parquet", "path": src}
            d["target"]["options"]["mode"] = "append"
            d["target"]["options"]["dedup"] = {
                "index": index, "id_field": "id",
                "content_field": "embedding", "mode": "embedding",
                "threshold": 0.99}
            return JobConfig.from_dict(d)

        r1 = runner.run_job(spark, job(b1, str(tmp_path / "o1")))
        assert r1.exit_code == runner.EXIT_SUCCESS and r1.records_in == 2
        r2 = runner.run_job(spark, job(b2, str(tmp_path / "o2")))
        assert r2.records_in == 1
        assert r2.dedup_dropped == {"batch": 0, "index": 1}
        back = spark.read.parquet(str(tmp_path / "o2"))
        assert "embedding" not in back.columns   # contract projection
        assert [r.name for r in back.collect()] == ["d"]

    def test_embedding_mode_pq_codec_end_to_end(self, spark, tmp_path):
        # r12: the PQ-coded index through the runner config seam —
        # codebooks load from a JSON artifact (the classifier-model
        # pattern), the deferred append commits CODES, and a scaled
        # re-encode still drops against the reconstruction
        import json

        from dativo_ingest_spark.operators import quantization as Q
        from dativo_ingest_spark.sinks.table_commit import FsTable

        def write_batch(path, rows):
            spark.createDataFrame(
                rows, "id long, name string, active boolean, "
                      "embedding array<double>"
            ).write.parquet(path)

        v1 = [0.5, -1.5, 2.5, 0.25, 3.0, -0.75, 1.0, 4.0]
        v2 = [float((-1) ** i) * (i + 1) for i in range(8)]
        b1 = str(tmp_path / "b1"); b2 = str(tmp_path / "b2")
        write_batch(b1, [(1, "a", True, v1), (2, "b", True, v2)])
        write_batch(b2, [(3, "c", True, [x * 2.0 for x in v1]),
                         (4, "d", True, [1.0] * 8)])
        cbs = Q.pq_train(
            spark.read.parquet(b1), "id", "embedding", m=4, k=2,
            n_iter=2)
        art = tmp_path / "pq_codebooks.json"
        art.write_text(json.dumps({"codebooks": cbs, "scale": 10000}))
        index = str(tmp_path / "ix_pq")

        def job(src, out):
            d = job_dict(src, out)
            d["source"] = {"type": "parquet", "path": src}
            d["target"]["options"]["mode"] = "append"
            d["target"]["options"]["dedup"] = {
                "index": index, "id_field": "id",
                "content_field": "embedding", "mode": "embedding",
                "threshold": 0.9, "index_codec": "pq",
                "codebooks": str(art)}
            return JobConfig.from_dict(d)

        r1 = runner.run_job(spark, job(b1, str(tmp_path / "o1")))
        assert r1.exit_code == runner.EXIT_SUCCESS and r1.records_in == 2
        ix = FsTable.create(index).read(spark)
        assert set(ix.columns) == {"id", "key", "codes", "norm"}
        r2 = runner.run_job(spark, job(b2, str(tmp_path / "o2")))
        # the scaled re-encode of v1 reconstructs onto v1's codes and
        # drops; the orthogonal all-ones vector publishes
        assert r2.records_in == 1
        assert r2.dedup_dropped == {"batch": 0, "index": 1}

    def test_embedding_mode_pq_residual_codec_end_to_end(
            self, spark, tmp_path):
        # r13: the RESIDUAL codec through the runner config seam — the
        # full ivfpq_train_artifact dict rides the codebooks JSON path,
        # the deferred append commits (cell, codes), and a scaled
        # re-encode still drops against the centroid+residual decode
        import json

        from dativo_ingest_spark.operators import quantization as Q
        from dativo_ingest_spark.sinks.table_commit import FsTable

        def write_batch(path, rows):
            spark.createDataFrame(
                rows, "id long, name string, active boolean, "
                      "embedding array<double>"
            ).write.parquet(path)

        v1 = [0.5, -1.5, 2.5, 0.25, 3.0, -0.75, 1.0, 4.0]
        v2 = [float((-1) ** i) * (i + 1) for i in range(8)]
        b1 = str(tmp_path / "b1"); b2 = str(tmp_path / "b2")
        write_batch(b1, [(1, "a", True, v1), (2, "b", True, v2)])
        write_batch(b2, [(3, "c", True, [x * 2.0 for x in v1]),
                         (4, "d", True, [1.0] * 8)])
        artifact = Q.ivfpq_train_artifact(
            spark.read.parquet(b1), "id", "embedding", m=4, k_codes=2,
            n_cells=2, n_iter=2)
        art = tmp_path / "ivfpq_artifact.json"
        art.write_text(json.dumps(artifact))
        index = str(tmp_path / "ix_pqr")

        def job(src, out):
            d = job_dict(src, out)
            d["source"] = {"type": "parquet", "path": src}
            d["target"]["options"]["mode"] = "append"
            d["target"]["options"]["dedup"] = {
                "index": index, "id_field": "id",
                "content_field": "embedding", "mode": "embedding",
                "threshold": 0.9, "index_codec": "pq_residual",
                "codebooks": str(art)}
            return JobConfig.from_dict(d)

        r1 = runner.run_job(spark, job(b1, str(tmp_path / "o1")))
        assert r1.exit_code == runner.EXIT_SUCCESS and r1.records_in == 2
        ix = FsTable.create(index).read(spark)
        assert set(ix.columns) == {"id", "key", "cell", "codes", "norm"}
        r2 = runner.run_job(spark, job(b2, str(tmp_path / "o2")))
        assert r2.records_in == 1
        assert r2.dedup_dropped == {"batch": 0, "index": 1}

    def test_pq_residual_codec_config_validation(self, spark, tmp_path):
        import json

        src = tmp_path / "b.csv"
        src.write_text("id,name,active\n1,alice,true\n")
        out = str(tmp_path / "o")

        def bad(extra):
            d = job_dict(str(src), out)
            d["target"]["options"]["mode"] = "append"
            d["target"]["options"]["dedup"] = dict(
                {"index": str(tmp_path / "ix"), "id_field": "id",
                 "content_field": "name"}, **extra)
            return JobConfig.from_dict(d)

        # a plain pq codebooks artifact (no cells) must be rejected for
        # the residual codec — it cannot decode without the coarse cells
        art = tmp_path / "plain_pq.json"
        art.write_text(json.dumps(
            {"codebooks": [[[0.0, 0.0]]], "scale": 10000}))
        with pytest.raises(ConfigError, match="cells"):
            runner.run_job(spark, bad(
                {"index_codec": "pq_residual", "mode": "embedding",
                 "content_field": "name", "codebooks": str(art)}))

    def test_pq_codec_config_validation(self, spark, tmp_path):
        src = tmp_path / "b.csv"
        src.write_text("id,name,active\n1,alice,true\n")
        out = str(tmp_path / "o")

        def bad(extra):
            d = job_dict(str(src), out)
            d["target"]["options"]["mode"] = "append"
            d["target"]["options"]["dedup"] = dict(
                {"index": str(tmp_path / "ix"), "id_field": "id",
                 "content_field": "name"}, **extra)
            return JobConfig.from_dict(d)

        with pytest.raises(ConfigError, match="index_codec"):
            runner.run_job(spark, bad({"index_codec": "zstd"}))
        with pytest.raises(ConfigError, match="only"):
            runner.run_job(spark, bad({"index_codec": "pq"}))
        with pytest.raises(ConfigError, match="codebooks"):
            runner.run_job(spark, bad(
                {"index_codec": "pq", "mode": "embedding",
                 "content_field": "name"}))
        art = tmp_path / "bad.json"
        art.write_text("{\"codebooks\": 3}")
        with pytest.raises(ConfigError, match="nested list"):
            runner.run_job(spark, bad(
                {"index_codec": "pq", "mode": "embedding",
                 "content_field": "name", "codebooks": str(art)}))

    def test_overwrite_mode_rejected_with_dedup(self, spark, tmp_path):
        src = tmp_path / "b.csv"
        src.write_text("id,name,active\n1,alice,true\n")
        d = job_dict(str(src), str(tmp_path / "o"))   # mode: overwrite
        d["target"]["options"]["dedup"] = {
            "index": str(tmp_path / "ix"), "id_field": "id",
            "content_field": "name"}
        with pytest.raises(ConfigError, match="append-only"):
            runner.run_job(spark, JobConfig.from_dict(d))

    def test_optional_id_field_rejected(self, spark, tmp_path):
        src = tmp_path / "b.csv"
        src.write_text("id,name,active\n1,alice,true\n")
        d = job_dict(str(src), str(tmp_path / "o"))
        d["target"]["options"]["mode"] = "append"
        d["target"]["options"]["dedup"] = {
            "index": str(tmp_path / "ix"), "id_field": "active",
            "content_field": "name"}   # active is not required
        with pytest.raises(ConfigError, match="REQUIRED"):
            runner.run_job(spark, JobConfig.from_dict(d))

    def test_cursor_advances_past_dedup_dropped_rows(self, spark, tmp_path):
        # batch 2 is ALL duplicates at higher cursor values: without the
        # dropped-rows watermark fold the state would stall and the tail
        # would be re-extracted forever
        def write_batch(path, rows):
            spark.createDataFrame(
                rows, "id long, name string, active boolean").write.parquet(
                path)

        b = str(tmp_path / "b")
        write_batch(b, [(1, "alice", True), (2, "bob", True)])
        state = str(tmp_path / "state")
        index = str(tmp_path / "ix")

        def job(out):
            d = job_dict(b, out)
            d["source"] = {"type": "parquet", "path": b,
                           "incremental": {"enabled": True,
                                           "cursor_field": "id"}}
            d["target"]["options"]["mode"] = "append"
            d["target"]["options"]["dedup"] = {
                "index": index, "id_field": "id", "content_field": "name"}
            return JobConfig.from_dict(d)

        r1 = runner.run_job(spark, job(str(tmp_path / "o1")),
                            state_root=state)
        assert r1.records_in == 2 and str(r1.state_value) == "2"
        # append duplicate-content rows at cursor 3 and 4
        spark.createDataFrame(
            [(3, "alice", True), (4, "bob", True)],
            "id long, name string, active boolean",
        ).write.mode("append").parquet(b)
        r2 = runner.run_job(spark, job(str(tmp_path / "o2")),
                            state_root=state)
        # the >= cursor re-read pulls id=2 (bob) back in: it collides
        # with id=4's bob within the batch (1), and the remaining two
        # rows drop against the index (2) — nothing publishes, yet the
        # watermark still advances past the all-duplicate tail
        assert r2.records_in == 0
        assert r2.dedup_dropped == {"batch": 1, "index": 2}
        assert str(r2.state_value) == "4"   # advanced past the dropped tail

    def test_cursor_advance_with_string_source_cursor(self, spark,
                                                      tmp_path):
        """CSV sources extract all-string frames: the dedup dropped-rows
        watermark fold must coerce the raw cursor through the contract
        ladder before comparing with the (coerced) state value — a silent
        str-vs-int TypeError here used to stall the watermark behind an
        all-duplicate tail forever."""
        src = tmp_path / "b.csv"
        src.write_text("id,name,active\n1,alice,true\n2,bob,true\n")
        state = str(tmp_path / "state")
        index = str(tmp_path / "ix")

        def job(out):
            d = job_dict(str(src), out)
            d["source"]["incremental"] = {"enabled": True,
                                          "cursor_field": "id"}
            d["target"]["options"]["mode"] = "append"
            d["target"]["options"]["dedup"] = {
                "index": index, "id_field": "id", "content_field": "name"}
            return JobConfig.from_dict(d)

        r1 = runner.run_job(spark, job(str(tmp_path / "o1")),
                            state_root=state)
        assert r1.records_in == 2 and str(r1.state_value) == "2"
        # one new row (cursor 3) plus a duplicate-content row ABOVE it
        # (cursor 4): state_value comes off the coerced write pass (int 3)
        # while the dropped row's raw cursor is the string "4"
        src.write_text("id,name,active\n1,alice,true\n2,bob,true\n"
                       "3,carol,true\n4,alice,true\n")
        r2 = runner.run_job(spark, job(str(tmp_path / "o2")),
                            state_root=state)
        assert r2.dedup_dropped["index"] >= 1
        assert str(r2.state_value) == "4"   # advanced past the dup tail

    def test_returned_kept_frame_cache_actually_releases(self, spark,
                                                         tmp_path):
        """dedup_against_index / dedup_embeddings_against_index return the
        PERSISTED frame itself (not an unpersistable child of it), so the
        caller's unpersist() genuinely frees the cache entry."""
        from dativo_ingest_spark.operators import dedup as dedup_mod
        from dativo_ingest_spark.operators import similarity as sim_mod
        from dativo_ingest_spark.sinks import table_commit

        docs = spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], "id long, text string")
        t1 = table_commit.FsTable.create(str(tmp_path / "ix1"))
        kept, _, _ = dedup_mod.dedup_against_index(
            spark, docs, "id", "text", t1)
        assert kept.is_cached
        kept.unpersist(blocking=True)
        assert not kept.is_cached

        emb = spark.createDataFrame(
            [(1, [1.0, 0.0, 2.0, 1.0]), (2, [0.0, 3.0, 1.0, 2.0])],
            "id long, vec array<double>")
        t2 = table_commit.FsTable.create(str(tmp_path / "ix2"))
        kept2, _, _ = sim_mod.dedup_embeddings_against_index(
            spark, emb, "id", "vec", t2)
        assert kept2.is_cached
        kept2.unpersist(blocking=True)
        assert not kept2.is_cached

    def test_minhash_mode_end_to_end(self, spark, tmp_path):
        """mode=minhash: lightly-edited near-dup text drops across runs
        against the persistent band index (deferred commit, exact twin's
        crash contract)."""
        base = ("the quick brown fox jumps over the lazy dog again and "
                "again tonight")
        index = str(tmp_path / "mh_ix")

        def write_batch(path, rows):
            spark.createDataFrame(
                rows, "id long, name string, active boolean"
            ).write.parquet(path)

        b1 = str(tmp_path / "b1")
        b2 = str(tmp_path / "b2")
        write_batch(b1, [(1, base, True),
                         (2, "entirely different spark shuffle words here",
                          True)])
        # batch 2: one-word edit of the batch-1 text + fresh content
        write_batch(b2, [(3, base.replace("lazy", "sleepy"), True),
                         (4, "fresh unrelated material entirely new words",
                          True)])

        def job(src, out):
            d = job_dict(src, out)
            d["source"] = {"type": "parquet", "path": src}
            d["target"]["options"]["mode"] = "append"
            d["target"]["options"]["dedup"] = {
                "index": index, "id_field": "id", "content_field": "name",
                "mode": "minhash", "threshold": 0.5}
            return JobConfig.from_dict(d)

        r1 = runner.run_job(spark, job(b1, str(tmp_path / "o1")))
        assert r1.exit_code == runner.EXIT_SUCCESS and r1.records_in == 2
        r2 = runner.run_job(spark, job(b2, str(tmp_path / "o2")))
        assert r2.records_in == 1
        assert r2.dedup_dropped == {"batch": 0, "index": 1}
        back = spark.read.parquet(str(tmp_path / "o2"))
        assert [r.id for r in back.collect()] == [4]

    def _minhash_batch(self, tmp_path, name, rows):
        src = tmp_path / f"{name}.csv"
        src.write_text("id,name,active\n" + "".join(
            f"{i},{text},{flag}\n" for i, text, flag in rows))
        return str(src)

    def _minhash_job(self, src, out, index, **kw):
        return self._job(src, out, index, extra={"mode": "minhash"}, **kw)

    def test_minhash_tiny_batch_publishes_one_file(self, spark, tmp_path):
        """A small batch is written at its real size: the cached kept
        frame is coalesced by bytes, not held at the shuffle width."""
        import glob

        text = "the quick brown fox jumps over the lazy dog"
        src = self._minhash_batch(tmp_path, "b", [
            (1, text, "true"), (2, text, "true"),
            (3, "spark shuffles rows between stages", "true"),
            (4, "two words", "true")])
        out = str(tmp_path / "o")
        index = str(tmp_path / "ix")
        r = runner.run_job(spark, self._minhash_job(src, out, index))
        assert r.exit_code == runner.EXIT_SUCCESS
        assert r.records_in == 3 and r.dedup_dropped["batch"] == 1
        assert len(glob.glob(f"{out}/*.parquet")) == 1
        from dativo_ingest_spark.sinks import table_commit

        entries = table_commit.FsTable(index).read(spark)
        # 4 bands per sig-able doc; the 2-word doc has no signature
        assert sorted({x.id for x in entries.collect()}) == ["1", "3"]
        assert entries.count() == 8

    def test_no_cache_outlives_the_job(self, spark, tmp_path):
        """The kept frame and the persisted signatures are released on
        success, on a strict-mode abort and on a config error raised
        after the dedup ran."""
        cache = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        text = "the quick brown fox jumps over the lazy dog"
        ok = self._minhash_batch(tmp_path, "ok", [
            (1, text, "true"), (2, "spark shuffles rows", "true")])
        bad = self._minhash_batch(tmp_path, "bad", [
            (3, "fresh words for a new doc", "maybe")])
        index = str(tmp_path / "ix")

        r = runner.run_job(spark, self._minhash_job(
            ok, str(tmp_path / "o1"), index, mode="strict"))
        assert r.exit_code == runner.EXIT_SUCCESS
        assert cache.isEmpty()

        r = runner.run_job(spark, self._minhash_job(
            bad, str(tmp_path / "o2"), index, mode="strict"))
        assert r.exit_code == runner.EXIT_FAILURE
        assert cache.isEmpty()

        job = self._minhash_job(bad, str(tmp_path / "o3"), index)
        job.target.options["zorder"] = {"columns": {"nope": [0, 1]}}
        with pytest.raises(ConfigError, match="zorder"):
            runner.run_job(spark, job)
        assert cache.isEmpty()

    def test_minhash_knobs_validated_at_preflight(self, spark, tmp_path):
        """Bad banding/threshold config must fail as a ConfigError BEFORE
        any data moves, not a mid-job ValueError."""
        src = tmp_path / "b.csv"
        src.write_text("id,name,active\n1,alice,true\n")

        def job(**dedup_extra):
            d = job_dict(str(src), str(tmp_path / "o"))
            d["target"]["options"]["mode"] = "append"
            d["target"]["options"]["dedup"] = {
                "index": str(tmp_path / "ix"), "id_field": "id",
                "content_field": "name", "mode": "minhash", **dedup_extra}
            return JobConfig.from_dict(d)

        with pytest.raises(ConfigError, match="rows_per_band"):
            runner.run_job(spark, job(num_hashes=8, rows_per_band=3))
        with pytest.raises(ConfigError, match="threshold"):
            runner.run_job(spark, job(threshold=0.0))


class TestDriftGate:
    def _job(self, src, out, ref, on_drift="warn",
             threshold_milli=250):
        d = job_dict(src, out)
        d["asset"]["schema"] = [
            {"name": "id", "type": "integer", "required": True},
            {"name": "amount", "type": "number", "required": True},
        ]
        d["asset"]["name"] = "amounts"
        d["target"]["options"]["drift_gate"] = {
            "column": "amount", "reference_path": ref,
            "n_bins": 4, "threshold_milli": threshold_milli,
            "on_drift": on_drift,
        }
        return JobConfig.from_dict(d)

    def _csv(self, tmp_path, name, values):
        p = tmp_path / name
        p.write_text("id,amount\n" + "".join(
            f"{i},{v}\n" for i, v in enumerate(values)))
        return str(p)

    def test_bootstrap_then_stable_then_drift(self, spark, tmp_path):
        ref = str(tmp_path / "ref")
        base = self._csv(tmp_path, "b.csv",
                         [float(i % 100) for i in range(200)])
        out = str(tmp_path / "out")
        # run 1: bootstraps the frozen reference
        res = runner.run_job(spark, self._job(base, out, ref))
        assert res.exit_code == runner.EXIT_SUCCESS
        assert res.drift_report.get("bootstrapped") is True
        import os

        assert os.path.exists(f"{ref}/drift_reference.json")
        # run 2: same distribution -> scored, not drifted
        res = runner.run_job(spark, self._job(base, out, ref))
        assert res.exit_code == runner.EXIT_SUCCESS
        assert res.drift_report["drifted"] is False
        assert res.drift_report["psi_milli"] < 50
        # run 3: shifted distribution -> warn records it, job succeeds
        shifted = self._csv(tmp_path, "s.csv",
                            [float(5000 + i) for i in range(200)])
        res = runner.run_job(spark, self._job(shifted, out, ref))
        assert res.exit_code == runner.EXIT_SUCCESS
        assert res.drift_report["drifted"] is True
        # run 4: abort mode fails BEFORE staging
        res = runner.run_job(
            spark, self._job(shifted, out, ref, on_drift="abort"))
        assert res.exit_code == runner.EXIT_FAILURE
        assert res.drift_report["drifted"] is True

    def test_config_validation(self, spark, tmp_path):
        src = self._csv(tmp_path, "c.csv", [1.0])
        d = job_dict(src, str(tmp_path / "o"))
        d["target"]["options"]["drift_gate"] = {"column": "x"}
        with pytest.raises(ConfigError):
            runner.run_job(spark, JobConfig.from_dict(d))
        d["target"]["options"]["drift_gate"] = {
            "column": "x", "reference_path": str(tmp_path / "r"),
            "on_drift": "explode"}
        with pytest.raises(ConfigError):
            runner.run_job(spark, JobConfig.from_dict(d))
        # a column outside the validated asset schema is refused
        job = self._job(src, str(tmp_path / "o2"), str(tmp_path / "r2"))
        job.target.options["drift_gate"]["column"] = "nope"
        with pytest.raises(ConfigError):
            runner.run_job(spark, job)


class TestShardExportTarget:
    """target.options.mode=shard_export: the trainer-facing last mile as
    a runner target — deterministic shards + published manifest, staged
    like any hive publish (strict abort leaves nothing visible)."""

    def _job(self, src, out, mode="strict", shard=None, partition_by=None):
        d = job_dict(src, out, mode=mode, partition_by=partition_by)
        d["target"]["options"] = {
            "mode": "shard_export",
            "shard": shard if shard is not None
            else {"id_field": "id", "token_field": "id", "n_shards": 4},
        }
        return JobConfig.from_dict(d)

    def test_exports_shards_and_manifest(self, spark, tmp_path):
        p = tmp_path / "in.csv"
        p.write_text("id,name,active\n" + "".join(
            f"{i},n{i},true\n" for i in range(1, 41)))
        out = str(tmp_path / "out")
        res = runner.run_job(spark, self._job(str(p), out))
        assert res.exit_code == runner.EXIT_SUCCESS
        assert res.records_in == 40
        back = spark.read.parquet(out + "/shard=0")
        assert back.count() > 0
        manifest = spark.read.parquet(out + "/manifest")
        rows = manifest.collect()
        assert sum(r.n_rows for r in rows) == 40
        assert len(rows) == 4
        # determinism: a re-run publishes the identical manifest
        res2 = runner.run_job(spark, self._job(str(p), out))
        assert res2.exit_code == runner.EXIT_SUCCESS
        again = sorted(map(tuple, spark.read.parquet(
            out + "/manifest").collect()))
        assert again == sorted(map(tuple, rows))

    def test_strict_abort_leaves_nothing(self, spark, tmp_path):
        p = tmp_path / "bad.csv"
        p.write_text("id,name\n1,alice\n,missing\n")
        out = str(tmp_path / "out")
        res = runner.run_job(spark, self._job(str(p), out))
        assert res.exit_code == runner.EXIT_FAILURE
        import glob
        assert not glob.glob(out + "/shard=*")

    def test_config_validation(self, spark, tmp_path):
        import pytest as _pytest

        from dativo_ingest_spark.config.contracts import ConfigError

        p = tmp_path / "in.csv"
        p.write_text("id,name\n1,a\n")
        with _pytest.raises(ConfigError, match="id_field"):
            runner.run_job(spark, self._job(
                str(p), str(tmp_path / "o1"), shard={}))
        with _pytest.raises(ConfigError, match="partition_by"):
            runner.run_job(spark, self._job(
                str(p), str(tmp_path / "o2"), partition_by=["name"]))

    def test_mixture_admission_before_export(self, spark, tmp_path):
        """shard.mixture: DoReMi-solved per-domain budgets gate
        admission before the deterministic export — the runner-surface
        twin of examples/mixture_pipeline.py."""
        p = tmp_path / "in.csv"
        # two domains by name prefix; 'weird' rows use singleton words
        # (high NLL -> upweighted), 'plain' rows repeat common words
        rows = [f"{i},plain common words here,a\n" for i in range(1, 31)]
        rows += [f"{i},zz{i}q xq{i}v unique{i},b\n" for i in range(31, 46)]
        p.write_text("id,name,dom\n" + "".join(rows))
        out = str(tmp_path / "mix_out")
        d = job_dict(str(p), out)
        d["asset"]["schema"] = [
            {"name": "id", "type": "integer", "required": True},
            {"name": "name", "type": "string", "required": True},
            {"name": "dom", "type": "string", "required": True}]
        d["target"]["options"] = {
            "mode": "shard_export",
            "shard": {"id_field": "id", "token_field": "id",
                      "n_shards": 2,
                      "mixture": {"domain_field": "dom",
                                  "text_field": "name",
                                  "total_budget": 20,
                                  "eta_milli": 500}}}
        res = runner.run_job(spark, JobConfig.from_dict(d))
        assert res.exit_code == runner.EXIT_SUCCESS
        first = spark.read.parquet(out + "/manifest").collect()
        n = sum(r.n_rows for r in first)
        assert 0 < n <= 20 + 2          # budgets floor to >= 1 per domain

        # determinism: identical manifest on re-run
        res2 = runner.run_job(spark, JobConfig.from_dict(d))
        assert res2.exit_code == runner.EXIT_SUCCESS
        again = spark.read.parquet(out + "/manifest").collect()
        assert sorted(map(tuple, first)) == sorted(map(tuple, again))

        # validation: absent columns and bad budgets are refused
        import pytest as _pytest

        from dativo_ingest_spark.config.contracts import ConfigError

        import copy

        bad = copy.deepcopy(d)
        bad["target"]["options"]["shard"]["mixture"]["total_budget"] = 0
        with _pytest.raises(ConfigError, match="total_budget"):
            runner.run_job(spark, JobConfig.from_dict(bad))
        bad2 = copy.deepcopy(d)
        bad2["target"]["options"]["shard"]["mixture"]["domain_field"] \
            = "nope"
        with _pytest.raises(ConfigError, match="domain_field"):
            runner.run_job(spark, JobConfig.from_dict(bad2))


class TestKsDriftGateRunner:
    """target.options.drift_gate.method=ks: the calibrated
    distribution-free alternative to the PSI rule of thumb, same
    fit-once reference file and action contract."""

    def _job(self, src, out, ref, on_drift="warn", method="ks"):
        d = job_dict(src, out)
        d["asset"]["schema"] = [
            {"name": "id", "type": "integer", "required": True},
            {"name": "amount", "type": "number", "required": True},
        ]
        d["asset"]["name"] = "amounts"
        d["target"]["options"]["drift_gate"] = {
            "column": "amount", "reference_path": ref,
            "n_bins": 8, "on_drift": on_drift, "method": method,
        }
        return JobConfig.from_dict(d)

    def _csv(self, tmp_path, name, values):
        p = tmp_path / name
        p.write_text("id,amount\n" + "".join(
            f"{i},{v}\n" for i, v in enumerate(values)))
        return str(p)

    def test_ks_bootstrap_stable_drift(self, spark, tmp_path):
        ref = str(tmp_path / "ref")
        base = self._csv(tmp_path, "b.csv",
                         [float(i % 100) for i in range(400)])
        out = str(tmp_path / "o1")
        r0 = runner.run_job(spark, self._job(base, out, ref))
        assert r0.drift_report.get("bootstrapped")

        stable = self._csv(tmp_path, "s.csv",
                           [float((i * 7) % 100) for i in range(200)])
        r1 = runner.run_job(
            spark, self._job(stable, str(tmp_path / "o2"), ref))
        assert r1.drift_report["method"] == "ks"
        assert r1.drift_report["drifted"] is False
        assert r1.exit_code == runner.EXIT_SUCCESS

        shifted = self._csv(tmp_path, "d.csv",
                            [float(50 + i % 100) for i in range(200)])
        r2 = runner.run_job(
            spark, self._job(shifted, str(tmp_path / "o3"), ref,
                             on_drift="abort"))
        assert r2.exit_code == runner.EXIT_FAILURE
        assert r2.drift_report["drifted"] is True
        assert r2.drift_report["d_stat_micro"] > \
            r2.drift_report["crit_micro"]

    def test_method_validation(self, spark, tmp_path):
        import pytest as _pytest

        from dativo_ingest_spark.config.contracts import ConfigError

        base = self._csv(tmp_path, "b.csv", [1.0, 2.0])
        with _pytest.raises(ConfigError, match="method"):
            runner.run_job(spark, self._job(
                base, str(tmp_path / "o"), str(tmp_path / "ref"),
                method="chi2"))


class TestMixtureEmptyTextDomain:
    def test_all_empty_text_domain_floors_to_one(self, spark, tmp_path):
        """A domain whose every doc has empty text is absent from the
        solved weights (no tokens to score) — it must still admit ONE
        doc (the documented floor), never silently vanish."""
        import glob

        p = tmp_path / "in.csv"
        rows = [f"{i},common words here,a\n" for i in range(1, 21)]
        rows += [f"{i},   ,empty\n" for i in range(21, 26)]
        p.write_text("id,name,dom\n" + "".join(rows))
        out = str(tmp_path / "out")
        d = job_dict(str(p), out)
        d["asset"]["schema"] = [
            {"name": "id", "type": "integer", "required": True},
            {"name": "name", "type": "string", "required": True},
            {"name": "dom", "type": "string", "required": True}]
        d["target"]["options"] = {
            "mode": "shard_export",
            "shard": {"id_field": "id", "token_field": "id",
                      "n_shards": 2,
                      "mixture": {"domain_field": "dom",
                                  "text_field": "name",
                                  "total_budget": 10}}}
        res = runner.run_job(spark, JobConfig.from_dict(d))
        assert res.exit_code == runner.EXIT_SUCCESS
        assert glob.glob(out + "/shard=*")
        manifest = spark.read.parquet(out + "/manifest")
        n = sum(r.n_rows for r in manifest.collect())
        # the one scored domain takes the full budget (weight 1e6 ->
        # 10 docs); the empty-text domain floors to exactly 1 admitted
        # doc instead of vanishing — total 11, not 10
        assert n == 11
