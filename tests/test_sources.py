"""Sources: CSV contract reader, JDBC builders, markdown-kv file source."""

from __future__ import annotations

import os
import time

import pytest

from dativo_ingest_spark.config.contracts import AssetDefinition
from dativo_ingest_spark.sources import csv_source, jdbc, mdkv_source

ASSET = AssetDefinition.from_dict({
    "name": "employees", "version": "1.0",
    "schema": [
        {"name": "id", "type": "integer", "required": True},
        {"name": "name", "type": "string", "required": True},
        {"name": "active", "type": "boolean"},
        {"name": "hired", "type": "date"},
    ],
})


@pytest.fixture()
def csv_dir(tmp_path):
    (tmp_path / "a.csv").write_text(
        "id,name,active,extra\n1,alice,true,x\n2,NULL,no,y\n3,carol,1,None\n"
    )
    (tmp_path / "b.csv").write_text(
        "id,name,active,extra\n4,dave,off,z\n,eve,yes,w\n"
    )
    return tmp_path


def test_csv_all_string_read_and_sentinels(spark, csv_dir):
    df = csv_source.read_csv(spark, str(csv_dir / "*.csv"), ASSET)
    assert dict(df.dtypes) == {c: "string" for c in
                               ["id", "name", "active", "extra", "hired"]}
    rows = {r.id: r for r in df.collect()}
    assert rows["2"].name is None          # NULL sentinel
    assert rows["3"].extra is None         # None sentinel
    assert rows[None].id is None           # empty string → null
    assert rows["1"].hired is None         # contract col missing in file


def test_csv_extract_validation_split(spark, csv_dir):
    res = csv_source.extract(spark, str(csv_dir / "*.csv"), ASSET, mode="strict")
    valid = res.valid.collect()
    # row with empty id fails required; "2,NULL" fails required name
    assert {r.id for r in valid} == {1, 3, 4}
    assert dict(res.valid.dtypes) == {
        "id": "bigint", "name": "string", "active": "boolean", "hired": "date"}
    booleans = {r.id: r.active for r in valid}
    assert booleans == {1: True, 3: True, 4: False}
    assert res.invalid.count() == 2


def test_error_summary_caps_in_row_then_field_order(spark, tmp_path):
    """Rows carrying several errors each: the sample is exactly ``cap``
    field/error/value dicts in row order, then contract-field order within
    a row, and warn and strict mode sample the same errors."""
    (tmp_path / "m.csv").write_text(
        "id,name,active,hired\n"
        "x1,,maybe,notadate\n"
        "1,alice,true,2020-01-01\n"
        ",bob,perhaps,\n"
        "y2,,true,\n")
    want = [
        {"field": "id", "error": "type_mismatch", "value": "x1"},
        {"field": "name", "error": "missing_required", "value": None},
        {"field": "active", "error": "type_mismatch", "value": "maybe"},
        {"field": "hired", "error": "type_mismatch", "value": "notadate"},
        {"field": "id", "error": "missing_required", "value": None},
        {"field": "active", "error": "type_mismatch", "value": "perhaps"},
        {"field": "id", "error": "type_mismatch", "value": "y2"},
        {"field": "name", "error": "missing_required", "value": None},
    ]
    samples = {}
    for mode in ("strict", "warn"):
        res = csv_source.extract(spark, str(tmp_path / "m.csv"), ASSET,
                                 mode=mode)
        samples[mode] = res.error_summary(cap=5)
        assert res.error_summary() == want   # cap above the error total
    assert samples["strict"] == want[:5]
    assert samples["warn"] == samples["strict"]


def test_csv_mtime_skip(spark, csv_dir, tmp_path):
    pattern = str(csv_dir / "*.csv")
    listing = dict(csv_source.list_csv_files(pattern))
    a, b = sorted(listing)
    # b seen at current mtime, a never seen → only a survives the diff
    assert csv_source.changed_files(pattern, {b: listing[b]}) == [a]
    # lookback disables the skip
    assert len(csv_source.changed_files(pattern, {b: listing[b]},
                                        lookback_days=1)) == 2
    # everything seen → extract returns None
    assert csv_source.extract(spark, pattern, ASSET, seen=listing) is None


def test_jdbc_query_builders():
    q = jdbc.build_query("postgres", "users", schema="app",
                         columns=["id", "updated_at"],
                         cursor_field="updated_at",
                         cursor_start="2024-01-01 00:00:00")
    assert q == ('SELECT "id", "updated_at" FROM "app"."users" '
                 "WHERE \"updated_at\" >= '2024-01-01 00:00:00'")
    q = jdbc.build_query("mysql", "users", cursor_field="updated_at",
                         lookback_days=7)
    assert q == ("SELECT * FROM `users` WHERE `updated_at` >= "
                 "DATE_SUB(CURDATE(), INTERVAL 7 DAY)")
    # cursor resume wins over lookback
    q = jdbc.build_query("postgres", "t", cursor_field="c", cursor_start=5,
                         lookback_days=7)
    assert q.endswith('WHERE "c" >= 5')
    # injection-safe literal
    q = jdbc.build_query("postgres", "t", cursor_field="c",
                         cursor_start="o'brien")
    assert "o''brien" in q


def test_jdbc_reader_options():
    opts = jdbc.reader_options("jdbc:postgresql://h/db", "SELECT * FROM t",
                               user="u", password="p")
    assert opts["query"] == "SELECT * FROM t" and opts["fetchsize"] == "10000"
    opts = jdbc.reader_options("jdbc:mysql://h/db", "SELECT * FROM t",
                               partition_column="id", lower_bound=0,
                               upper_bound=1000, num_partitions=8)
    assert opts["dbtable"] == "(SELECT * FROM t) AS src"
    assert opts["numPartitions"] == "8"
    with pytest.raises(ValueError):
        jdbc.reader_options("u", "q", partition_column="id")


def test_blob_to_string(spark):
    df = spark.createDataFrame(
        [(1, bytearray("héllo", "utf-8")), (2, bytearray(b"\xff\xfe\x01"))],
        "id int, payload binary",
    )
    out = {r.id: r.s for r in
           df.select("id", jdbc.blob_to_string(df.payload).alias("s")).collect()}
    assert out[1] == "héllo"
    import base64
    assert out[2] == base64.b64encode(b"\xff\xfe\x01").decode()


@pytest.fixture()
def mdkv_dir(tmp_path):
    (tmp_path / "doc1.md").write_text(
        "---\ntitle: One\n---\n\nk1:: v1\nk2:: 42\n")
    (tmp_path / "doc2.mdkv").write_text("# Sec\nk3:: v3\n")
    (tmp_path / "ignore.txt").write_text("not markdown")
    return tmp_path


def test_mdkv_source_shapes(spark, mdkv_dir):
    pattern = str(mdkv_dir / "*")
    raw = mdkv_source.extract(spark, pattern, storage="string")
    assert {r.doc_id for r in raw.collect()} == {"doc1", "doc2"}

    rows = mdkv_source.extract(spark, pattern, storage="row_per_kv").collect()
    got = {(r.doc_id, r.section, r.key, r.value) for r in rows}
    assert ("doc1", "_front_matter", "title", "One") in got
    assert ("doc1", "_default", "k2", "42") in got
    assert ("doc2", "Sec", "k3", "v3") in got

    docs = {r.doc_id: r for r in
            mdkv_source.extract(spark, pattern, storage="document_level").collect()}
    assert docs["doc1"].title == "One"

    # mtime skip: everything seen → None
    seen = dict(mdkv_source.list_markdown_files(pattern))
    assert mdkv_source.extract(spark, pattern, seen=seen) is None


def test_csv_header_drift_union(spark, tmp_path):
    """Files with different headers union by NAME, never positionally."""
    (tmp_path / "v1.csv").write_text("id,name\n1,alice\n")
    (tmp_path / "v2.csv").write_text("name,id,city\nbob,2,berlin\n")
    (tmp_path / "v3.csv").write_text("id,city\n3,paris\n")
    df = csv_source.read_csv(spark, str(tmp_path / "*.csv"), ASSET)
    rows = {r.id: r for r in df.collect()}
    assert rows["1"].name == "alice" and rows["1"].city is None
    assert rows["2"].name == "bob" and rows["2"].city == "berlin"
    assert rows["3"].name is None and rows["3"].city == "paris"
    # contract columns appended everywhere
    assert "hired" in df.columns and "active" in df.columns


def test_jdbc_end_to_end_embedded_derby(spark, tmp_path):
    """The LIVE read path over embedded Derby (ships in Spark's jars):
    cursor predicate pushed into the source SQL, partitioned range scan
    fanning out to N concurrent queries, and a JDBC write creating the
    table — no external database needed."""
    from pyspark.sql import functions as F

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    src = spark.range(0, 1000).select(
        F.col("id").alias("ID"), (F.col("id") * 2).alias("CURSOR_V"))
    src.write.format("jdbc").option("url", url) \
        .option("dbtable", "EVENTS").save()

    q = jdbc.build_query("derby", "EVENTS", columns=["ID", "CURSOR_V"],
                         cursor_field="CURSOR_V", cursor_start=1000)
    assert q == ('SELECT "ID", "CURSOR_V" FROM "EVENTS" '
                 'WHERE "CURSOR_V" >= 1000')

    # single-cursor read: predicate evaluated DB-side
    df = jdbc.read(spark, jdbc.reader_options(url, q))
    assert df.count() == 500
    assert df.agg(F.min("ID")).first()[0] == 500

    # partitioned read: 4 concurrent range scans over the same pushed query
    opts = jdbc.reader_options(
        url, q, partition_column="ID", lower_bound=0, upper_bound=1000,
        num_partitions=4)
    df4 = jdbc.read(spark, opts)
    assert df4.rdd.getNumPartitions() == 4
    assert df4.count() == 500
    plan = df4._jdf.queryExecution().executedPlan().toString()
    assert "JDBCRelation" in plan and "numPartitions=4" in plan

    # incremental resume from the observed max: only new rows come back
    nxt = jdbc.build_query("derby", "EVENTS", cursor_field="CURSOR_V",
                           cursor_start=1998)
    assert jdbc.read(spark, jdbc.reader_options(url, nxt)).count() == 1


def test_csv_source_tag_extraction(spark, tmp_path):
    (tmp_path / "a.csv").write_text("id,email\n1,x@y\n")
    (tmp_path / "b.csv").write_text("id,phone\n2,555\n")
    tags = csv_source.extract_source_tags(spark, str(tmp_path / "*.csv"))
    assert tags == {"id": "column", "email": "column", "phone": "column"}
