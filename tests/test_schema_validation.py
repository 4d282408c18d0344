"""Opt-in JSON-schema validation of job YAML (reference config.py:291-337:
validate_against_schema + the validate_schema opt-in flag, exit 2 at parse).
"""

from __future__ import annotations

import pytest
import yaml

from dativo_ingest_spark import runner
from dativo_ingest_spark.config import schema_validation
from dativo_ingest_spark.config.contracts import ConfigError, JobConfig

VALID = {
    "tenant_id": "acme",
    "source": {"type": "csv", "path": "/data/*.csv",
               "incremental": {"enabled": True,
                               "strategy": "file_modified_time",
                               "cursor_field": "updated_at",
                               "lookback_days": 3}},
    "target": {"type": "parquet", "path": "/out",
               "partition_by": ["dt"], "target_file_size_mb": 150},
    "asset": {"name": "contacts", "schema": [
        {"name": "id", "type": "integer", "required": True},
        {"name": "email", "type": "string", "classification": "pii"},
    ]},
    "schema_validation_mode": "warn",
}


def test_valid_config_passes():
    schema_validation.validate_job_dict(VALID)  # no raise


def test_target_option_enums_hold_the_runner_values(spark, tmp_path):
    """commit/mode enums are the runner's own value sets: the default
    ``commit: hive`` and ``mode: shard_export`` validate, an unknown
    commit fails both the schema and run_job's startup check."""
    def with_options(options):
        return {**VALID, "target": {**VALID["target"], "options": options}}

    schema_validation.validate_job_dict(
        with_options({"commit": "hive", "mode": "shard_export"}))
    with pytest.raises(ConfigError, match="commit"):
        schema_validation.validate_job_dict(with_options({"commit": "bogus"}))
    job = JobConfig.from_dict({
        **with_options({"commit": "bogus"}),
        "source": {"type": "csv", "path": str(tmp_path / "none.csv")}})
    with pytest.raises(ConfigError, match="commit"):
        runner.run_job(spark, job)


def test_violations_listed_with_pointers():
    bad = {
        "tenant_id": "",                     # minLength 1
        "source": {"path": "/x"},            # missing type
        "target": {"target_file_size_mb": 0},  # minimum 1
        "asset": {"name": "a", "schema": []},  # minItems 1
        "schema_validation_mode": "loose",   # enum
    }
    with pytest.raises(ConfigError) as exc:
        schema_validation.validate_job_dict(bad)
    msg = str(exc.value)
    assert "/tenant_id" in msg
    assert "/source" in msg
    assert "/target/target_file_size_mb" in msg
    assert "/asset/schema" in msg or "/asset" in msg
    assert "/schema_validation_mode" in msg
    assert "violation" in msg


def test_markdown_kv_storage_shapes_rejected():
    """The reference's own fixture shapes: bad mode, bad structured_pattern,
    bad file_extension (config.py:419-443 validation rules)."""
    for block in (
        {"mode": "nope"},
        {"mode": "structured", "structured_pattern": "zigzag"},
        {"mode": "raw_file", "file_extension": ".txt"},
    ):
        doc = dict(VALID)
        doc["source"] = {"type": "markdown_kv", "path": "/d/*.md",
                         "options": {"markdown_kv_storage": block}}
        with pytest.raises(ConfigError, match="markdown_kv_storage"):
            schema_validation.validate_job_dict(doc)
    # every valid combination passes
    doc = dict(VALID)
    doc["source"] = {"type": "markdown_kv", "path": "/d/*.md",
                     "options": {"markdown_kv_storage": {
                         "mode": "structured",
                         "structured_pattern": "hybrid"}}}
    schema_validation.validate_job_dict(doc)


def test_opt_in_flag_and_self_declared_schema(tmp_path):
    bad = dict(VALID)
    bad = {**VALID, "schema_validation_mode": "loose"}
    p = tmp_path / "job.yaml"
    p.write_text(yaml.dump(bad))
    # default OFF: schema violations surface via dataclass checks only
    # (this one happens to be caught there too, so use a schema-only flaw)
    shape_only = {**VALID,
                  "target": {**VALID["target"], "target_file_size_mb": 0}}
    p2 = tmp_path / "job2.yaml"
    p2.write_text(yaml.dump(shape_only))
    JobConfig.from_yaml(str(p2))  # off: dataclass checks don't mind 0
    with pytest.raises(ConfigError, match="target_file_size_mb"):
        JobConfig.from_yaml(str(p2), validate_schema=True)
    # self-declared $schema turns validation on without the flag
    p3 = tmp_path / "job3.yaml"
    p3.write_text(yaml.dump({**shape_only,
                             "$schema": "schemas/job-config.schema.json"}))
    with pytest.raises(ConfigError, match="target_file_size_mb"):
        JobConfig.from_yaml(str(p3))


def test_runner_validates_before_secrets(tmp_path, monkeypatch):
    """load_job_with_secrets gates on the schema BEFORE resolving secrets:
    a malformed config never touches a secret backend."""
    doc = {**VALID,
           "secrets": "env",
           "target": {**VALID["target"], "target_file_size_mb": -5}}
    p = tmp_path / "job.yaml"
    p.write_text(yaml.dump(doc))

    from dativo_ingest_spark import secrets as secrets_mod

    def boom(*a, **k):
        raise AssertionError("secret backend touched before schema gate")

    monkeypatch.setattr(secrets_mod, "load_secrets", boom)
    with pytest.raises(ConfigError, match="target_file_size_mb"):
        runner.load_job_with_secrets(str(p), validate_schema=True)


def test_missing_schema_file_is_config_error():
    with pytest.raises(ConfigError, match="not found"):
        schema_validation.validate_job_dict(VALID,
                                            schema_path="/nope.schema.json")


# --- asset contracts (ODCS profile) ----------------------------------------

ASSET = {
    "name": "contacts",
    "version": "2.1",
    "domain": "crm",
    "source_type": "csv",
    "object": "contacts",
    "target": {"file_format": "parquet", "partitioning": ["dt"],
               "mode": "strict"},
    "compliance": {"classification": ["PII"], "regulations": ["GDPR"],
                   "retention_days": 365},
    "team": {"owner": "data-eng"},
    "schema": [
        {"name": "id", "logicalType": "integer", "required": True},
        {"name": "email", "logicalType": "string", "classification": "pii"},
    ],
}


def test_asset_normalization_fills_odcs_envelope():
    doc = schema_validation.normalize_asset_to_odcs(ASSET)
    assert doc["apiVersion"] == "v3.0.2"
    assert doc["kind"] == "DataContract"
    assert doc["status"] == "active"
    assert doc["id"]  # minted
    # deterministic: same asset -> same id, every run
    assert doc["id"] == schema_validation.normalize_asset_to_odcs(ASSET)["id"]
    # explicit envelope fields are never overwritten
    keep = schema_validation.normalize_asset_to_odcs(
        {**ASSET, "status": "draft", "id": "fixed"})
    assert keep["status"] == "draft" and keep["id"] == "fixed"


def test_asset_legacy_nested_wrapper_unwrapped():
    doc = schema_validation.normalize_asset_to_odcs({"asset": ASSET})
    assert doc["name"] == "contacts"


def test_asset_governance_migrates_to_team():
    src = {k: v for k, v in ASSET.items() if k != "team"}
    src["governance"] = {"owner": "legacy-team"}
    doc = schema_validation.normalize_asset_to_odcs(src)
    assert doc["team"] == {"owner": "legacy-team"}


def test_valid_asset_passes_and_invalid_listed():
    schema_validation.validate_asset_dict(ASSET)  # no raise
    bad = {**ASSET, "status": "bogus",
           "schema": [{"logicalType": "string"}],       # field missing name
           "compliance": {"retention_days": -1}}
    with pytest.raises(ConfigError) as exc:
        schema_validation.validate_asset_dict(bad)
    msg = str(exc.value)
    assert "/status" in msg
    assert "/schema/0" in msg
    assert "/compliance/retention_days" in msg


def test_job_yaml_opt_in_validates_inline_asset(tmp_path):
    cfg = dict(VALID)
    cfg["asset"] = {**ASSET, "status": "bogus"}
    p = tmp_path / "job.yaml"
    p.write_text(yaml.safe_dump(cfg))
    with pytest.raises(ConfigError, match="/status"):
        JobConfig.from_yaml(str(p), validate_schema=True)
    # default-off path still loads (dataclass checks only)
    cfg["asset"]["status"] = "active"
    p.write_text(yaml.safe_dump(cfg))
    assert JobConfig.from_yaml(str(p)).asset.name == "contacts"


def test_asset_path_reference_validates(tmp_path):
    ap = tmp_path / "asset.yaml"
    ap.write_text(yaml.safe_dump({**ASSET, "schema": [{"notname": True}]}))
    cfg = dict(VALID)
    cfg["asset"] = str(ap)
    p = tmp_path / "job.yaml"
    p.write_text(yaml.safe_dump(cfg))
    with pytest.raises(ConfigError):
        JobConfig.from_yaml(str(p), validate_schema=True)


def test_shipped_examples_validate():
    """Every shipped example job passes full opt-in validation (job schema
    + ODCS asset normalization) and builds a JobConfig — the 'a reference
    user could run these' contract."""
    import glob
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(glob.glob(os.path.join(repo, "examples", "jobs", "*.yaml")))
    assert len(paths) >= 5
    for p in paths:
        doc = yaml.safe_load(open(p))
        if "${secret:" in open(p).read():
            # secret placeholders resolve at run time; validate the shape
            schema_validation.validate_job_dict(doc)
            if isinstance(doc.get("asset"), dict):
                schema_validation.validate_asset_dict(doc["asset"])
            continue
        job = JobConfig.from_yaml(p, validate_schema=True)
        assert job.asset.fields, p


# --- schema parity for the runner's startup checks --------------------------

_ROLLUP = {"keys": ["email"], "measures": {"n": ["count", "id"]}}
_SCD2 = {"keys": ["id"], "tracked": ["email"], "ts_field": "updated_at"}
_SHARD = {"id_field": "id", "token_field": "id"}
_DEDUP = {"index": "/ix", "id_field": "id", "content_field": "email"}
_DRIFT = {"column": "id", "reference_path": "/ref"}


def _no_cursor(doc):
    doc["source"]["incremental"] = {"enabled": False}


def _no_partitions(doc):
    doc["target"]["partition_by"] = []


def _table(name):
    def edit(doc):
        doc["target"]["table"] = name
    return edit


def _shard(**extra):
    return {"mode": "shard_export", "shard": {**_SHARD, **extra}}


def _mixture(**mixture):
    return _shard(mixture=mixture)


#: (case, target.options, an edit of the rest of the doc, ConfigError match)
#: — one entry per ConfigError that runner.TargetPlan.from_job raises
PLAN_ERRORS = [
    ("commit_unknown", {"commit": "bogus"}, None, "commit must be"),
    ("mode_unknown", {"mode": "upsert"}, None, "mode must be one of"),
    ("merge_on_hive", {"mode": "merge", "merge_keys": "id"}, None,
     "commit: table"),
    ("merge_without_keys", {"mode": "merge", "commit": "table"}, None,
     "merge_keys"),
    ("merge_keys_blank",
     {"mode": "merge", "commit": "table", "merge_keys": ""}, None,
     "merge_keys"),
    ("rollup_on_hive", {"mode": "rollup", "rollup": _ROLLUP}, None,
     "commit: table"),
    ("rollup_without_spec", {"mode": "rollup", "commit": "table"}, None,
     "rollup.keys"),
    ("rollup_without_keys",
     {"mode": "rollup", "commit": "table",
      "rollup": {**_ROLLUP, "keys": []}}, None, "rollup.keys"),
    ("rollup_without_cursor",
     {"mode": "rollup", "commit": "table", "rollup": _ROLLUP}, _no_cursor,
     "cursor"),
    ("scd2_on_iceberg", {"mode": "scd2", "commit": "iceberg",
                         "scd2": _SCD2}, _table("lake.db.t"),
     "commit: table"),
    ("scd2_without_tracked",
     {"mode": "scd2", "commit": "table",
      "scd2": {"keys": ["id"], "ts_field": "updated_at"}}, None,
     "scd2.tracked"),
    ("scd2_ts_field_in_keys",
     {"mode": "scd2", "commit": "table", "scd2": {**_SCD2,
                                                  "ts_field": "id"}},
     None, "ts_field must not"),
    ("overwrite_partitions_on_table",
     {"mode": "overwrite_partitions", "commit": "table"}, None,
     "hive-publish"),
    ("shard_export_on_table", {**_shard(), "commit": "table"},
     _no_partitions, "shard=K"),
    ("shard_without_token_field",
     {"mode": "shard_export", "shard": {"id_field": "id"}}, _no_partitions,
     "token_field"),
    ("shard_with_partition_by", _shard(), None, "partition_by must be"),
    ("shard_format", _shard(format="csv"), _no_partitions,
     "parquet or jsonl"),
    ("mixture_without_domain", _mixture(total_budget=5), _no_partitions,
     "domain_field"),
    ("mixture_without_budget", _mixture(domain_field="d", total_budget=0),
     _no_partitions, "total_budget"),
    ("mixture_negative_rounds",
     _mixture(domain_field="d", total_budget=5, n_rounds=-1),
     _no_partitions, "n_rounds"),
    ("dedup_without_index",
     {"dedup": {"id_field": "id", "content_field": "email"}}, None,
     "needs index"),
    ("dedup_mode", {"dedup": {**_DEDUP, "mode": "fuzzy"}}, None,
     "dedup.mode"),
    ("dedup_threshold",
     {"dedup": {**_DEDUP, "mode": "minhash", "threshold": 1.5}}, None,
     "threshold"),
    ("dedup_rows_per_band",
     {"dedup": {**_DEDUP, "mode": "minhash", "num_hashes": 10,
                "rows_per_band": 3}}, None, "rows_per_band"),
    ("dedup_codec_without_embedding",
     {"dedup": {**_DEDUP, "index_codec": "pq", "codebooks": "/cb"}}, None,
     "applies only"),
    ("dedup_with_overwrite", {"mode": "overwrite", "dedup": _DEDUP}, None,
     "cannot combine"),
    ("dedup_id_not_required",
     {"dedup": {**_DEDUP, "id_field": "email"}}, None, "REQUIRED"),
    ("drift_without_reference", {"drift_gate": {"column": "id"}}, None,
     "reference_path"),
    ("drift_on_drift", {"drift_gate": {**_DRIFT, "on_drift": "explode"}},
     None, "on_drift"),
    ("drift_bins", {"drift_gate": {**_DRIFT, "n_bins": 1}}, None,
     "n_bins"),
    ("drift_threshold", {"drift_gate": {**_DRIFT, "threshold_milli": 0}},
     None, "threshold_milli"),
    ("drift_method", {"drift_gate": {**_DRIFT, "method": "kl"}}, None,
     "method"),
    ("zorder_without_columns", {"zorder": {"columns": {}}}, None,
     "zorder needs columns"),
    ("iceberg_two_part_table", {"commit": "iceberg"}, _table("db.t"),
     "catalog.db.table"),
    ("iceberg_without_catalog", {"commit": "iceberg"},
     _table("nocat.db.t"), "spark.sql.catalog.nocat"),
]

#: checks that span fields (or the Spark session) which the JSON schema
#: does not express: only TargetPlan enforces these
CROSS_FIELD = {
    "merge_on_hive", "merge_without_keys", "rollup_on_hive",
    "rollup_without_spec", "rollup_without_cursor", "scd2_on_iceberg",
    "scd2_ts_field_in_keys", "overwrite_partitions_on_table",
    "shard_export_on_table", "shard_with_partition_by",
    "dedup_rows_per_band", "dedup_codec_without_embedding",
    "dedup_with_overwrite", "dedup_id_not_required",
    "iceberg_two_part_table", "iceberg_without_catalog",
}


@pytest.mark.parametrize("case, options, edit, match", PLAN_ERRORS,
                         ids=[c[0] for c in PLAN_ERRORS])
def test_target_plan_errors_match_the_schema(spark, case, options, edit,
                                             match):
    """Every startup ConfigError of the runner's target plan raises before
    any Spark job, and is either rejected by the opt-in schema too or
    named in CROSS_FIELD (never both: a cross-field case the schema
    learns to reject leaves the list)."""
    import copy

    from tests.test_widen import _next_job_id

    doc = copy.deepcopy(VALID)
    doc["target"]["options"] = options
    if edit is not None:
        edit(doc)
    before = _next_job_id(spark)
    with pytest.raises(ConfigError, match=match):
        runner.TargetPlan.from_job(JobConfig.from_dict(doc), spark)
    assert _next_job_id(spark) == before
    try:
        schema_validation.validate_job_dict(doc)
        rejected = False
    except ConfigError:
        rejected = True
    assert rejected != (case in CROSS_FIELD)
