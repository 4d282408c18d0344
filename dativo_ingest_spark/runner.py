"""Job runner: the reference's ``dativo run`` lifecycle on Spark.

Retraces ``cli.py`` §3.1 (reference ``/root/reference/src/dativo_ingest/
cli.py:285-1228``): parse/resolve config → build the extractor → validate
against the asset contract → partitioned write → commit → update incremental
state → exit code. The explicit per-batch loop disappears: the whole job is
one lazy DataFrame DAG that Catalyst optimizes and Spark executes
distributed.

Exit-code contract (``cli.py:971-983, 1123-1129``):
  0 = success; 1 = partial success (warn mode with invalid records);
  2 = failure (config error, strict-mode validation failure, source error).

Phase order (``_run_job``; each phase runs under
``obs.span("runner.<phase>")``):

  plan          ``TargetPlan.from_job``: every target option parsed and
                checked (ConfigError, exit 2) before any Spark job runs
  extract       ``_extract``: the extractor for ``source.type``
  dedup         ``_dedup``: drop rows the dedup index already holds
  validate      ``_validate``: contract cast + the write pass's counters
  dq_gate       ``_dq_gate``: data-quality expectations (strict aborts)
  drift_gate    ``_drift_gate``: frozen-reference PSI/KS gate
  stage         the commit handler writes the observed frame (the one
                data pass); strict mode with invalid rows sweeps it
  commit        the commit handler publishes; properties sidecar
  index_append  ``_index_append``: the deferred dedup-index append
  state         ``_write_state``: cursor / file-mtime state
  catalog       ``catalog_mod.push_after_commit``

Commit handlers (``_HANDLERS``; every other (commit, mode) pair is a
startup ConfigError):

  table   × append, overwrite                 ``_TableFiles``
  table   × merge                             ``_TableMerge``
  table   × rollup                            ``_TableRollup``
  table   × scd2                              ``_TableScd2``
  iceberg × append, overwrite, merge          ``_Iceberg``
  hive    × append, overwrite, overwrite_partitions   ``_Hive``
  hive    × shard_export                      ``_ShardExport``

Commit-then-state ordering: the reference updates cursor state *during*
extraction (``postgres_extractor.py:317-328``), which double-ingests on
mid-job failure; here state is written only after the sink commit succeeds
(idempotent with ``>=`` cursor predicates — SURVEY §4(b)). That makes a
batch job at-least-once, not exactly-once: a crash after the commit and
before the state write re-ingests the batch on retry (merge, scd2 and the
rollup watermark absorb it; append does not). ``commit: hive`` is weaker
still: state is written after a rename loop that has no snapshot, so a
crash inside the loop also leaves part of the batch visible.

Table properties (governance/classification/finops) are written as a JSON
sidecar ``_dativo_properties.json`` next to the parquet output — the stand-in
for Iceberg ``TBLPROPERTIES`` until a catalog is attached (documented
divergence; `config/tags.py` produces the identical dict either way).
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dativo_ingest_spark import catalog as catalog_mod
from dativo_ingest_spark import infrastructure, obs
from dativo_ingest_spark.config import tags as tags_mod
from dativo_ingest_spark.config import registry
from dativo_ingest_spark.config.contracts import ConfigError, JobConfig
from dativo_ingest_spark.operators import incremental, validation
from dativo_ingest_spark.sinks import parquet_sink, table_commit
from dativo_ingest_spark.sources import csv_source, mdkv_source

EXIT_SUCCESS = 0
EXIT_PARTIAL = 1
EXIT_FAILURE = 2

#: max row fingerprints kept for rollup's cursor-boundary replay set
#: (rows sharing the max cursor value) — ~33 bytes each in snapshot
#: properties, so the default bounds the metadata cost at ~150 KB.
_ROLLUP_BOUNDARY_CAP = 5000


@dataclass
class JobResult:
    exit_code: int
    records_in: int = 0
    records_valid: int = 0
    records_invalid: int = 0
    error_sample: list[dict] = dc_field(default_factory=list)
    output_path: str | None = None
    partition_cols: list[str] = dc_field(default_factory=list)
    table_properties: dict[str, str] = dc_field(default_factory=dict)
    state_value: Any | None = None
    duration_s: float = 0.0
    skipped: bool = False  # every source file unchanged (mtime skip)
    catalog_status: dict[str, Any] = dc_field(default_factory=dict)
    infrastructure: dict[str, list[str]] = dc_field(default_factory=dict)
    #: one entry per evaluated data-quality expectation (operators/quality)
    dq_report: list[dict] = dc_field(default_factory=list)
    #: dedup-on-ingest drops: {"batch": within-batch, "index": vs history}
    dedup_dropped: dict[str, int] = dc_field(default_factory=dict)
    #: PSI drift gate outcome (target.options.drift_gate): bootstrap or
    #: {psi_milli, drifted, bins, reference}
    drift_report: dict = dc_field(default_factory=dict)

    @property
    def records_per_second(self) -> float:
        """Reference metrics.py:189-238 throughput counter."""
        return self.records_in / self.duration_s if self.duration_s else 0.0

    def metrics(self) -> dict[str, Any]:
        """End-of-job metrics summary, the scrape-able parity surface of
        the reference collector (metrics.py:189-238): status +
        execution_time_seconds + record counters + records_per_second.
        Emitted as one structured log line by ``run_job``."""
        status = {EXIT_SUCCESS: "success", EXIT_PARTIAL: "partial",
                  EXIT_FAILURE: "failure"}[self.exit_code]
        return {
            "status": "skipped" if self.skipped else status,
            "exit_code": self.exit_code,
            "execution_time_seconds": round(self.duration_s, 3),
            "records_extracted": self.records_in,
            "records_valid": self.records_valid,
            "records_invalid": self.records_invalid,
            "records_loaded": 0
            if (self.skipped or self.exit_code == EXIT_FAILURE)
            else self.records_valid + (
                # warn mode writes invalid rows too (annotated)
                self.records_invalid if self.exit_code == EXIT_PARTIAL
                else 0),
            "records_per_second": round(self.records_per_second, 3),
            "records_dedup_dropped": sum(self.dedup_dropped.values()),
            "output_path": self.output_path,
            "state_value": (str(self.state_value)
                            if self.state_value is not None else None),
        }


def _state_key(job: JobConfig) -> incremental.StateKey:
    obj = job.asset.name
    return incremental.StateKey(job.tenant_id, job.source.type, obj)


def _extract(spark: SparkSession, job: JobConfig,
             store: incremental.StateStore | None,
             mode: str = "self_hosted") -> DataFrame | None:
    """Extractor dispatch on source.type (cli.py:453-614 analog)."""
    src, key = job.source, _state_key(job)
    inc = src.incremental
    files_family = src.type in ("csv", "jsonl", "markdown_kv")
    # the stored cursor value (None on a first run or without a cursor)
    state = (store.get(key, inc.cursor_field)
             if store is not None and inc.enabled and inc.cursor_field
             and not files_family else None)

    # file-family sources skip files whose mtime the state already holds
    seen = None
    if files_family and store is not None \
            and inc.enabled and inc.strategy == "file_modified_time":
        seen = store.get_file_mtimes(key)

    if src.type in ("csv", "jsonl"):
        files = csv_source.changed_files(src.path, seen, inc.lookback_days)
        if not files:
            return None
        if src.type == "csv":
            return csv_source.read_csv(spark, files, job.asset, src.options)
        from dativo_ingest_spark.sources import jsonl_source

        return jsonl_source.read_jsonl(spark, files, job.asset, src.options)

    if src.type == "parquet":
        df = spark.read.options(**{
            k: str(v) for k, v in src.options.items()
        }).parquet(src.path)
        start = incremental.effective_cursor_start(state, inc.lookback_days)
        if inc.enabled and inc.cursor_field and start is not None:
            df = df.filter(
                incremental.cursor_predicate(inc.cursor_field, start))
        return df

    if src.type == "markdown_kv":
        storage, ext = mdkv_source.resolve_storage(src.options)
        return mdkv_source.extract(spark, src.path, storage=storage,
                                   seen=seen, file_extension=ext)

    if src.type in ("postgres", "mysql", "derby", "jdbc"):
        return _extract_jdbc(spark, job, state)

    if src.type == "custom_python":
        # Custom reader plugin (reference cli.py:616-723), with the
        # reference's sandbox gating: explicit sandbox.enabled wins, cloud
        # mode jails by default (plugin_sandbox.should_sandbox_plugin).
        from dativo_ingest_spark import plugin_sandbox
        from dativo_ingest_spark import plugins as plugins_mod

        spec = src.options.get("plugin")
        schema = src.options.get("schema")
        if not spec or not schema:
            raise ConfigError(
                "custom_python source needs options.plugin "
                "('file.py:Class') and options.schema (DDL string)")
        reader = plugin_sandbox.make_reader(
            str(spec), dict(src.options), mode=mode,
            plugin_config={k: v for k, v in src.options.items()
                           if k == "sandbox"})
        return plugins_mod.reader_to_dataframe(
            spark, reader, str(schema),
            state=None if state is None else {inc.cursor_field: state})

    raise ConfigError(
        f"source type '{src.type}' is not runnable in this environment "
        "(sheets/drive/airbyte need live endpoints; see sources/)"
    )


def _extract_jdbc(spark: SparkSession, job: JobConfig,
                  state: Any) -> DataFrame:
    """JDBC extraction: pushed-down query built from options + incremental
    state, optionally fanned out as a partitioned range scan. Exercised
    end-to-end over embedded Derby in tests; postgres/mysql take the same
    code path with their driver jar + dialect."""
    from dativo_ingest_spark.sources import jdbc

    src = job.source
    opts = src.options
    inc = src.incremental
    dialect = str(opts.get("dialect", src.type))
    if dialect == "jdbc":
        dialect = "postgres"
    query = jdbc.build_query(
        dialect,
        opts["table"],
        schema=opts.get("schema"),
        columns=job.asset.field_names() if opts.get("prune_columns") else None,
        cursor_field=inc.cursor_field if inc.enabled else None,
        cursor_start=incremental.effective_cursor_start(state, 0),
        # date-based lookback only applies when configured (>0): for the
        # generic column cursor a 0-day lookback means "no predicate yet"
        lookback_days=(inc.lookback_days
                       if inc.enabled and inc.lookback_days > 0 else None),
    )
    reader = jdbc.reader_options(
        url=opts["url"],
        query=query,
        user=opts.get("user"),
        password=opts.get("password"),
        partition_column=opts.get("partition_column"),
        lower_bound=opts.get("lower_bound"),
        upper_bound=opts.get("upper_bound"),
        num_partitions=opts.get("num_partitions"),
        fetch_size=int(opts.get("fetch_size", jdbc.DEFAULT_FETCH_SIZE)),
    )
    return jdbc.read(spark, reader)


def _newest_per_key(df, keys: list[str], cursor_field: str | None):
    """One row per merge key, the newest cursor version: the ``>=``
    re-read boundary row and a later update of the same key land in one
    batch, and both merge sinks take each update row verbatim. Without a
    cursor column the batch passes unchanged."""
    if not cursor_field or cursor_field not in df.columns:
        return df
    newest = Window.partitionBy(*keys).orderBy(F.col(cursor_field).desc())
    return (df.withColumn("_dativo_rank", F.row_number().over(newest))
            .filter("_dativo_rank = 1").drop("_dativo_rank"))


#: the message for a mode whose commit is not in the handler table:
#: merge needs a committing sink that can replace rows by key (the hive
#: publish would keep both versions of an updated key), rollup and scd2
#: folds only exist on the snapshot-commit path, dynamic partition
#: overwrite is a hive-publish operation, shard export a hive layout.
_PAIR_ERRORS = {
    "merge": "target.options.mode=merge requires commit: table or "
             "commit: iceberg (the hive publish only appends)",
    "rollup": "target.options.mode=rollup requires commit: table "
              "(the snapshot-commit sink holds the rollup state)",
    "scd2": "target.options.mode=scd2 requires commit: table (the "
            "snapshot-commit sink holds the dimension history)",
    "overwrite_partitions": "target.options.mode=overwrite_partitions is "
                            "a hive-publish operation; the snapshot sinks "
                            "express it as an overwrite commit instead",
    "shard_export": "target.options.mode=shard_export publishes a hive "
                    "shard=K layout (commit: hive)",
}


@dataclass(frozen=True)
class TargetPlan:
    """Every ``target.options`` entry, parsed and checked once before any
    Spark job runs (exit 2 for a bad config, the reference's
    fail-at-startup). Schema validation is opt-in
    (``schema_validation.should_validate``), so these checks are the
    always-on gate; the runner reads these fields, never the raw
    options. A spec of a mode the job does not run is empty."""

    commit: str                       # hive | table | iceberg
    mode: str                         # (commit, mode) keys _HANDLERS
    merge_keys: list[str]
    rollup: dict[str, Any]            # keys, measures {name: (op, col)}
    scd2: dict[str, Any]              # keys, tracked, ts_field, ...
    shard: dict[str, Any]             # id/token fields, layout, mixture
    dedup_index: str | None
    dedup: Any                        # ingest_dedup.IngestDedup | None
    drift_gate: dict[str, Any] | None
    zorder: dict[str, Any] | None     # columns {name: (lo, hi)}, files, bits

    @classmethod
    def from_job(cls, job: JobConfig, spark: SparkSession) -> TargetPlan:
        opts = job.target.options
        commit = str(opts.get("commit", "hive"))
        mode = str(opts.get("mode", "append"))
        if commit not in ("hive", "table", "iceberg"):
            raise ConfigError(
                "target.options.commit must be hive, table or iceberg, got "
                f"{commit!r}")
        if (commit, mode) not in _HANDLERS:
            raise ConfigError(_PAIR_ERRORS.get(mode, (
                "target.options.mode must be one of "
                f"{sorted({m for _, m in _HANDLERS})}, got {mode!r}")))
        # a YAML list or a comma string (the schema allows both; str() on
        # a list would mangle the keys)
        raw = opts.get("merge_keys", "")
        merge_keys = [str(k).strip() for k in (
            raw if isinstance(raw, (list, tuple)) else str(raw).split(","))
            if str(k).strip()]
        if mode == "merge" and not merge_keys:
            raise ConfigError("target.options.mode=merge needs merge_keys")
        rollup = _rollup_spec(job) if mode == "rollup" else {}
        scd2 = _scd2_spec(opts) if mode == "scd2" else {}
        shard = _shard_spec(job) if mode == "shard_export" else {}
        dedup_index, dedup = _dedup_spec(job, mode)
        drift_gate, zorder = _drift_spec(opts), _zorder_spec(opts)
        if commit == "iceberg":
            from dativo_ingest_spark.sinks import iceberg_sink

            iceberg_sink.require_available(spark, job.target.table)
        return cls(commit, mode, merge_keys, rollup, scd2, shard,
                   dedup_index, dedup, drift_gate, zorder)


def _cast(spec: dict, **types) -> dict:
    """``spec`` with the named entries cast (``n_bins=int``)."""
    return {**spec, **{k: t(spec[k]) for k, t in types.items()}}


def _rollup_spec(job: JobConfig) -> dict[str, Any]:
    conf = dict(job.target.options.get("rollup") or {})
    keys = list(conf.get("keys") or [])
    measures = {str(name): (str(spec[0]), str(spec[1]))
                for name, spec in dict(conf.get("measures") or {}).items()}
    if not keys or not measures:
        raise ConfigError(
            "target.options.mode=rollup needs rollup.keys and "
            "rollup.measures ({name: [op, column]})")
    if not (job.source.incremental.enabled
            and job.source.incremental.cursor_field):
        raise ConfigError(
            "target.options.mode=rollup requires a cursor-field "
            "incremental source: the folded watermark that makes "
            "replays and >= boundary re-reads idempotent is keyed on "
            "the cursor (file-mtime re-extraction would double-fold "
            "additive state)")
    return {"keys": keys, "measures": measures}


def _scd2_spec(opts: dict) -> dict[str, Any]:
    spec = {"tiebreaker": None, "collapse_unchanged": True,
            **dict(opts.get("scd2") or {})}
    if not (spec.get("keys") and spec.get("tracked")
            and spec.get("ts_field")):
        raise ConfigError(
            "target.options.mode=scd2 needs scd2.keys, "
            "scd2.tracked and scd2.ts_field")
    if spec["ts_field"] in [*spec["tracked"], *spec["keys"]]:
        raise ConfigError(
            "scd2.ts_field must not appear in scd2.keys or "
            "scd2.tracked (it becomes the version interval boundary, "
            "not an attribute)")
    return _cast(spec, ts_field=str, collapse_unchanged=bool)


def _shard_spec(job: JobConfig) -> dict[str, Any]:
    """The trainer-facing deterministic shard layout (sinks/shard_export)
    and its optional solved-mixture admission, defaults filled in."""
    sh = {"n_shards": 8, "seed": "epoch0", "format": "parquet",
          "mixture": None, **dict(job.target.options.get("shard") or {})}
    if not sh.get("id_field") or not sh.get("token_field"):
        raise ConfigError(
            "shard_export needs target.options.shard.id_field and "
            "shard.token_field")
    if job.target.partition_by:
        raise ConfigError(
            "shard_export derives its own shard partitioning; "
            "target.partition_by must be empty")
    if str(sh["format"]) not in ("parquet", "jsonl"):
        raise ConfigError(
            "target.options.shard.format must be parquet or jsonl, "
            f"got {sh['format']!r}")
    sh = _cast(sh, id_field=str, token_field=str, n_shards=int, seed=str,
               format=str)
    if sh["mixture"] is None:
        return sh
    mx = {"text_field": "text", "n_rounds": 5, "eta_milli": 200,
          "average_rounds": False, "total_budget": 0, **dict(sh["mixture"])}
    if not mx.get("domain_field"):
        raise ConfigError(
            "shard.mixture needs domain_field (the column the "
            "DoReMi solver groups by)")
    mx = _cast(mx, domain_field=str, text_field=str, total_budget=int,
               n_rounds=int, eta_milli=int, average_rounds=bool)
    if mx["total_budget"] < 1:
        raise ConfigError(
            "shard.mixture needs total_budget >= 1 (documents "
            "admitted across all domains)")
    if mx["n_rounds"] < 0 or mx["eta_milli"] < 0:
        raise ConfigError(
            "shard.mixture: n_rounds and eta_milli must be >= 0")
    return {**sh, "mixture": mx}


def _dedup_spec(job: JobConfig, mode: str) -> tuple[str | None, Any]:
    """Dedup-on-ingest config (operators/ingest_dedup.py) as
    ``(index path, IngestDedup)``, or ``(None, None)`` without one."""
    if job.target.options.get("dedup") is None:
        return None, None
    from dativo_ingest_spark.operators import ingest_dedup

    index_path, conf = ingest_dedup.from_options(
        job.target.options["dedup"])
    if mode in ("overwrite", "overwrite_partitions"):
        raise ConfigError(
            "target.options.dedup cannot combine with mode="
            f"{mode}: the dedup index is append-only corpus memory, "
            "so overwriting the corpus would leave the index "
            "remembering content the table no longer holds (and "
            "silently dropping its legitimate re-ingestion)")
    id_field = next(
        (f for f in job.asset.fields if f.name == conf.id_col), None)
    if id_field is None or not id_field.required:
        raise ConfigError(
            "target.options.dedup.id_field must be a REQUIRED asset "
            "schema column: the deferred index append records only "
            "the rows that actually published, decided by joining on "
            "the validated frame's id — an optional id could coerce "
            "to NULL, publish under warn mode, and never be indexed "
            "(its content would then re-publish on every later run)")
    return index_path, conf


def _drift_spec(opts: dict) -> dict[str, Any] | None:
    """The distribution-drift gate config (the batch analog of
    streaming/pipeline.py:psi_drift_gate) with its defaults filled in."""
    if opts.get("drift_gate") is None:
        return None
    dg = {"on_drift": "warn", "n_bins": 10, "threshold_milli": 250,
          "method": "psi", "c_milli": 1358, **dict(opts["drift_gate"])}
    if not (dg.get("column") and dg.get("reference_path")):
        raise ConfigError(
            "target.options.drift_gate needs column (a numeric asset "
            "field) and reference_path (where the frozen reference "
            "distribution lives)")
    dg = _cast(dg, on_drift=str, method=str, n_bins=int,
               threshold_milli=int, c_milli=int)
    if dg["on_drift"] not in ("warn", "abort"):
        raise ConfigError(
            "target.options.drift_gate.on_drift must be warn or "
            f"abort, got {dg['on_drift']!r}")
    if dg["n_bins"] < 2 or dg["threshold_milli"] < 1:
        raise ConfigError(
            "target.options.drift_gate: n_bins must be >= 2 and "
            "threshold_milli >= 1")
    if dg["method"] not in ("psi", "ks"):
        raise ConfigError(
            "target.options.drift_gate.method must be psi or ks, "
            f"got {dg['method']!r}")
    return dg


def _zorder_spec(opts: dict) -> dict[str, Any] | None:
    """Optional Z-order clustering of the write (operators/layout.py)."""
    if not opts.get("zorder"):
        return None
    from dativo_ingest_spark.operators import layout

    conf = {"files": 8, "bits": layout.DEFAULT_BITS, **dict(opts["zorder"])}
    cols = {str(c): (float(b[0]), float(b[1]))
            for c, b in (conf.get("columns") or {}).items()}
    if not cols:
        raise ConfigError(
            "target.options.zorder needs columns: {name: [lo, hi]}")
    return _cast({**conf, "columns": cols}, files=int, bits=int)


def run_job(
    spark: SparkSession,
    job: JobConfig,
    state_root: str | None = None,
    classification_overrides: dict[str, str] | None = None,
    governance_overrides: dict[str, Any] | None = None,
    finops_overrides: dict[str, Any] | None = None,
    catalog: "catalog_mod.BaseCatalog | None" = None,
    mode: str = "self_hosted",
) -> JobResult:
    """Execute one job end-to-end; never raises for data errors — the
    exit code carries the outcome (config errors raise ConfigError before
    any data is touched, matching the reference's fail-at-startup).

    ``mode`` gates connectors against the registry (reference
    validator.py:88-241): in ``cloud`` mode database connectors are
    rejected before extraction. Every frame the job persists is released
    on return and on raise alike."""
    cleanup: list = []
    try:
        return _run_job(spark, job, state_root, classification_overrides,
                        governance_overrides, finops_overrides, catalog,
                        mode, cleanup)
    finally:
        for frame in cleanup:
            try:
                frame.unpersist()
            except Exception:  # pragma: no cover - session teardown races
                pass


def _run_job(spark, job, state_root, classification_overrides,
             governance_overrides, finops_overrides, catalog,
             deployment_mode, cleanup: list) -> JobResult:
    """:func:`run_job`'s phases in order; ``cleanup`` collects the
    persisted frames the caller releases on every exit path."""
    registry.gate_job(job, deployment_mode)
    plan = TargetPlan.from_job(job, spark)
    t0 = time.perf_counter()
    # Warn-only preflight: endpoint reachability surfaces in logs/result,
    # never in the exit code (reference cli.py:236-244 catches-and-logs).
    infra = infrastructure.validate_infrastructure(job)

    def finish(exit_code: int, **fields) -> JobResult:
        res = JobResult(exit_code, duration_s=time.perf_counter() - t0,
                        infrastructure=infra, **fields)
        logging.getLogger(__name__).info(
            "job metrics: %s", json.dumps(res.metrics(), sort_keys=True))
        return res

    store = incremental.StateStore(state_root) if state_root else None
    with obs.span("runner.extract"):
        df = _extract(spark, job, store, deployment_mode)
    if df is None:
        return finish(EXIT_SUCCESS, skipped=True)
    dd = None
    if plan.dedup is not None:
        with obs.span("runner.dedup"):
            dd = _dedup(spark, plan, df, cleanup)
        df = dd.kept
    dropped = dd.dropped if dd else {}
    with obs.span("runner.validate"):
        v = _validate(job, df, store)
    strict = job.validation_mode == "strict"

    dq_report: list[dict] = []
    dq_failed = False  # warn mode: a failed expectation exits partial
    if (job.asset.data_quality or {}).get("expectations"):
        with obs.span("runner.dq_gate"):
            dq_report, dq_failed, total = _dq_gate(job, v.probe)
        # strict mode aborts BEFORE staging on any failed expectation;
        # warn mode records the report and downgrades the exit to partial
        if dq_failed and strict:
            return finish(
                EXIT_FAILURE, records_in=total, records_valid=total,
                error_sample=[e for e in dq_report if not e["passed"]],
                dq_report=dq_report, dedup_dropped=dropped)
    drift_report: dict = {}
    if plan.drift_gate:
        with obs.span("runner.drift_gate"):
            drift_report = _drift_gate(plan.drift_gate, v.probe)
        if drift_report.get("drifted") \
                and plan.drift_gate["on_drift"] == "abort":
            # row counters aren't observed yet (that happens in the write
            # pass the abort prevents); the binned total is the best
            # pre-staging row figure
            total = sum(drift_report["bins"])
            return finish(
                EXIT_FAILURE, records_in=total, records_valid=total,
                dq_report=dq_report, drift_report=drift_report,
                dedup_dropped=dropped)

    props = tags_mod.derive_table_properties(
        job.asset, classification_overrides=classification_overrides,
        governance_overrides=governance_overrides,
        finops_overrides=finops_overrides)
    handler = _HANDLERS[(plan.commit, plan.mode)](
        spark, job, plan, props, cleanup)
    with obs.span("runner.stage"):
        handler.stage(_zorder(plan.zorder, v.to_write) if plan.zorder
                      else v.to_write, v.probe)
    m = v.observation.get
    n_rows, n_invalid = int(m["n_rows"]), int(m["n_invalid"] or 0)
    counts = {"records_in": n_rows, "records_valid": n_rows - n_invalid,
              "records_invalid": n_invalid, "dedup_dropped": dropped}
    if strict and n_invalid:
        handler.sweep()
        # failure path only: one extra capped scan for the sample
        return finish(EXIT_FAILURE, error_sample=v.result.error_summary(),
                      **counts)

    out_path = job.target.path
    with obs.span("runner.commit"):
        handler.publish()
        if out_path:
            with open(os.path.join(out_path, "_dativo_properties.json"),
                      "w") as fh:
                json.dump(props, fh, indent=2, sort_keys=True)
    # Commit-then-index: the publish above succeeded, so the kept rows'
    # dedup-index entries may now be recorded (a crash before this point
    # re-admits on retry, the safe direction).
    if dd is not None and n_rows > 0:
        with obs.span("runner.index_append"):
            _index_append(dd, v, n_rows)
    # informational warn-mode sample: capped scan, only when errors exist
    sample = v.result.error_summary() if (n_invalid and v.result) else []
    # Commit-then-state: only after the write succeeded. The state value
    # came off the write pass's observation — no extra aggregation scan.
    with obs.span("runner.state"):
        state_value = _write_state(job, store, v.cursor, m, dd)

    # Catalog push after commit+state; failures never fail the job
    # (reference cli.py:1194-1205). File-family sources contribute their
    # observed columns as structural source tags (reference
    # csv_extractor.py:260-316) — taken from the extracted frame's schema,
    # zero extra I/O.
    catalog_status: dict[str, Any] = {}
    if catalog is not None:
        with obs.span("runner.catalog"):
            source_tags = ({c: "column" for c in df.columns}
                           if job.source.type in ("csv", "jsonl", "parquet",
                                                  "markdown_kv") else None)
            catalog_status = catalog_mod.push_after_commit(
                catalog, job, props, source_tags=source_tags)
    return finish(
        EXIT_PARTIAL if (n_invalid or dq_failed) else EXIT_SUCCESS,
        error_sample=sample, dq_report=dq_report, output_path=out_path,
        partition_cols=handler.pcols, table_properties=props,
        state_value=state_value, catalog_status=catalog_status,
        drift_report=drift_report, **counts)


# --- phases -----------------------------------------------------------------


@dataclass
class _Dedup:
    """What dedup-on-ingest hands the later phases: the kept rows (the
    index append's source), the raw extracted frame (the cursor advance
    past dropped rows) and the drop counts."""

    conf: Any                   # ingest_dedup.IngestDedup
    index: table_commit.FsTable
    raw: DataFrame
    kept: DataFrame
    sig: DataFrame | None       # persisted minhash signatures, if any
    dropped: dict[str, int]     # {"batch": within-batch, "index": history}


def _dedup(spark, plan: TargetPlan, df: DataFrame, cleanup: list) -> _Dedup:
    """Drop rows the corpus already holds BEFORE validation/write, against
    a persistent index that is the compact thing joined — history is
    never rescanned. The index append is DEFERRED to after the sink
    publish (:func:`_index_append`), so the job's row counters count
    post-dedup rows; the drops are reported in JobResult.dedup_dropped."""
    conf = plan.dedup
    for c in (conf.id_col, conf.content_col):
        if c not in df.columns:
            raise ConfigError(
                f"target.options.dedup field {c!r} not in the "
                f"extracted columns {sorted(df.columns)}")
    index = table_commit.FsTable.create(plan.dedup_index)
    kept, n_b, n_i, sig = conf.against_index(spark, df, index)
    cleanup.extend(f for f in (kept, sig) if f is not None)
    return _Dedup(conf, index, df, kept, sig,
                  {"batch": int(n_b), "index": int(n_i)})


@dataclass
class _Validated:
    """The validated frame, split for the single write pass."""

    result: Any                 # validation.ValidationResult, None on bypass
    to_write: DataFrame         # observed: the write action fills the counters
    probe: DataFrame            # the same rows, un-observed
    observation: Observation
    cursor: str | None          # the cursor the observation maxes, if any
    valid_only: bool            # strict/bypass: only valid rows publish


def _validate(job: JobConfig, df: DataFrame,
              store: incremental.StateStore | None) -> _Validated:
    """Single-pass lifecycle: validation counters, the max-cursor state
    value and the write all ride ONE source scan — observe() metrics on
    the annotated frame, evaluated by the write action itself. The write
    goes to a stage first so strict mode can abort without a pre-count.
    ``probe`` is the un-observed twin for every other action (sizing
    probe, DQ, drift), which must not consume the observation.

    markdown_kv structured shapes bypass the contract cast (their schema
    is fixed by the parser), everything else validates against the
    asset."""
    bypass = job.source.type == "markdown_kv" and \
        mdkv_source.resolve_storage(job.source.options)[0] != "string"
    result = None
    if bypass:
        annotated = df.withColumn(validation.ERRORS_COL, F.array().cast(
            "array<struct<field:string,error:string,value:string>>"))
    else:
        result = validation.validate(df, job.asset, job.validation_mode)
        annotated = result.annotated
    ok = F.size(F.col(validation.ERRORS_COL)) == 0
    inc = job.source.incremental
    cursor = inc.cursor_field if (store is not None and inc.enabled
                                  and inc.cursor_field) else None
    metrics = [F.count(F.lit(1)).alias("n_rows"),
               F.sum(F.when(ok, 0).otherwise(1)).alias("n_invalid")]
    valid_only = job.validation_mode == "strict" or bypass
    if cursor:
        # Strict/bypass filter invalid rows out of the sink, so only valid
        # rows may advance the incremental state. Warn mode writes EVERY
        # row (invalid ones carry their error struct), so state must cover
        # them all — otherwise rows already in the sink sit above the
        # cursor and are re-ingested forever.
        metrics.append(F.max(F.when(ok, F.col(cursor)) if valid_only
                             else F.col(cursor)).alias("max_cursor"))
    observation = Observation()
    observed = annotated.observe(observation, *metrics)
    # warn mode keeps the original (pre-coercion) values alongside the
    # coerced columns (reference schema_validator.py:114-123 preserves
    # originals on coercion failure) — the raw struct column travels into
    # the sink so nothing is lost.
    to_write, probe = (
        f.filter(ok).drop(validation.ERRORS_COL, validation.RAW_COL)
        if valid_only else f.drop(validation.ERRORS_COL)
        for f in (observed, annotated))
    return _Validated(result, to_write, probe, observation, cursor,
                      valid_only)


def _dq_gate(job: JobConfig, probe: DataFrame
             ) -> tuple[list[dict], bool, int]:
    """Data-quality expectations (ODCS data_quality block — the reference
    parses it, config.py:137-142; here it is enforced): one aggregate
    pass over the un-observed probe frame. Returns the report, whether
    any expectation failed, and the rows checked."""
    from dativo_ingest_spark.operators import quality as dq_mod

    results = dq_mod.run_expectations(
        probe, job.asset.data_quality["expectations"])
    report = [{"name": r.name, "kind": r.kind, "column": r.column,
               "failed": r.failed, "total": r.total, "passed": r.passed}
              for r in results]
    log = logging.getLogger(__name__)
    for entry in report:
        (log.warning if not entry["passed"] else log.info)(
            "dq expectation", extra={"dq": entry})
    return (report, any(not r.passed for r in results),
            results[0].total if results else 0)


def _drift_gate(dg: dict[str, Any], probe: DataFrame) -> dict:
    """PSI/KS drift gate (the batch analog of streaming/pipeline.py:
    psi_drift_gate, fit-once/score-many across RUNS): the first run
    bootstraps the frozen reference next to the job's other state; later
    runs score the batch against it driver-side (k bins). A unit change
    or upstream subsetting keeps every row individually valid — this is
    the population-level complement of the row-level expectations.
    Returns the report; the caller aborts on ``drifted`` when
    ``on_drift: abort``, before staging, like strict DQ."""
    from dativo_ingest_spark.operators import drift

    if dg["column"] not in probe.columns:
        raise ConfigError(
            f"target.options.drift_gate.column {dg['column']!r} "
            "is not a validated asset column")
    ref_file = os.path.join(dg["reference_path"], "drift_reference.json")
    if not os.path.exists(ref_file):
        edges, counts = drift.drift_reference(
            probe, dg["column"], n_bins=dg["n_bins"])
        os.makedirs(dg["reference_path"], exist_ok=True)
        with open(ref_file, "w") as fh:
            json.dump({"column": dg["column"], "edges": edges,
                       "counts": counts}, fh)
        return {"bootstrapped": True, "bins": counts}
    with open(ref_file) as fh:
        ref = json.load(fh)
    counts = ref["counts"]
    cur = drift.bin_counts(probe, dg["column"], ref["edges"])
    report: dict[str, Any] = {"bins": cur, "reference": counts}
    if dg["method"] == "ks" and sum(cur) > 0 and sum(counts) > 0:
        # two-sample KS on the shared bin grid: max ECDF gap, calibrated
        # threshold — the distribution-free alternative to PSI's 0.25
        # rule of thumb
        d, crit = drift.ks_score(counts, cur, dg["c_milli"])
        report.update(method="ks", d_stat_micro=int(d * 1e6),
                      crit_micro=int(crit * 1e6), drifted=d > crit)
    else:
        psi = drift.psi_score(counts, cur)
        report.update(method="psi", psi_milli=int(psi * 1000),
                      drifted=psi * 1000 >= dg["threshold_milli"])
    if report["drifted"]:
        logging.getLogger(__name__).warning(
            "drift gate", extra={"drift": report})
    return report


def _zorder(zorder: dict[str, Any], to_write: DataFrame) -> DataFrame:
    """Optional Z-order clustering (operators/layout.py): range-partition
    the write along a Morton curve so per-file min/max stats prune range
    predicates on every curve column. Bounds are explicit literals —
    reproducibility contract, same as the operator."""
    from dativo_ingest_spark.operators import layout

    missing = [c for c in zorder["columns"] if c not in to_write.columns]
    if missing:
        raise ConfigError(f"zorder columns not in output: {missing}")
    return layout.zorder_by(
        to_write, zorder["columns"], n_files=zorder["files"],
        bits=zorder["bits"]).drop("_zkey")


def _index_append(dd: _Dedup, v: _Validated, n_rows: int) -> None:
    """The deferred dedup-index append. Entries derive from the
    operator's kept frame (it still carries the content/embedding column
    even when the contract projection dropped it from the sink),
    restricted to the rows that actually PUBLISHED — valid-only under
    strict/bypass, all rows under warn. Both sides hit persisted caches;
    minhash entries come off the signature frame the operator persisted.
    """
    # strict/bypass: only validated rows published — restrict via their
    # ids (id_field is a required contract column, so a published row's
    # id is never NULL and the semi-join cannot miss it). Warn mode
    # publishes every row — index them all directly (a coerced-NULL id
    # would silently fall out of a semi-join).
    id_col = dd.conf.id_col
    published = (dd.kept.join(v.probe.select(id_col).distinct(), id_col,
                              "left_semi") if v.valid_only else dd.kept)
    # the observation's post-dedup row count is a free upper bound on
    # published rows: it only sizes the append's file count, so an extra
    # count() job over the semi-join would be pure waste
    dd.index.write_append(dd.conf.index_entries(
        published, sig=dd.sig, n_rows=n_rows))


def _write_state(job: JobConfig, store: incremental.StateStore | None,
                 cursor: str | None, m: dict, dd: _Dedup | None) -> Any:
    """Write the incremental state after the commit; returns the cursor
    value stored (None when there is none)."""
    inc = job.source.incremental
    if store is None or not inc.enabled:
        return None
    key = _state_key(job)
    state_value = None
    if cursor:
        state_value = m.get("max_cursor")
        # Dedup-dropped rows are handled content (already in the corpus):
        # the cursor must advance past them, else a batch whose newest
        # rows are all duplicates stalls the watermark and the same tail
        # is re-extracted and re-deduped forever. One extra cursor-pruned
        # pass over the batch source, only when something was dropped.
        if dd is not None and sum(dd.dropped.values()) \
                and cursor in dd.raw.columns:
            state_value = _advance_past_dropped(job, dd, cursor, state_value)
        if state_value is not None:
            store.set(key, cursor, state_value)
    if inc.strategy == "file_modified_time" and job.source.path:
        list_files = (mdkv_source.list_markdown_files
                      if job.source.type == "markdown_kv"
                      else csv_source.list_csv_files)
        store.set_file_mtimes(key, dict(list_files(job.source.path)))
    return state_value


def _advance_past_dropped(job: JobConfig, dd: _Dedup, cursor: str,
                          state_value: Any) -> Any:
    """Max of ``state_value`` and the dropped rows' cursor.

    ``dd.raw`` is the RAW extracted frame (all-string for CSV/JSONL),
    while ``state_value`` came off the coerced write pass — the raw
    cursor goes through the same contract ladder before taking max so
    the comparison is like-typed (a string "9" vs int 10 comparison
    would otherwise stall the watermark behind an all-dup tail)."""
    from dativo_ingest_spark.functions import coercion

    raw_cursor = F.col(cursor)
    field = next((f for f in job.asset.fields if f.name == cursor), None)
    if field is not None:
        raw_cursor = coercion.coerce(
            raw_cursor, field.type, dd.raw.schema[cursor].dataType)
    dropped_max = dd.raw.join(
        dd.kept.select(dd.conf.id_col).distinct(), dd.conf.id_col,
        "left_anti").agg(F.max(raw_cursor).alias("m")).first()["m"]
    try:
        if dropped_max is not None and (
                state_value is None or dropped_max > state_value):
            return dropped_max
    except TypeError:
        # should be unreachable now that both sides are contract-coerced;
        # keep the job alive but say so
        logging.getLogger(__name__).warning(
            "dedup cursor advance skipped: dropped_max %r not comparable "
            "to state value %r", dropped_max, state_value)
    return state_value


# --- commit handlers: one per (commit, mode) pair ---------------------------


class _Commit:
    """One (commit, mode) pair. ``stage(to_write, probe)`` writes the
    observed frame — the job's single data pass — where nothing reads it
    yet and sets ``pcols``; ``publish()`` makes the stage visible;
    :meth:`sweep` drops the stage (the strict-mode abort, and after a
    publish that copied the staged rows elsewhere)."""

    def __init__(self, spark: SparkSession, job: JobConfig,
                 plan: TargetPlan, props: dict[str, str], cleanup: list):
        self.spark, self.job, self.plan = spark, job, plan
        self.props, self.cleanup = props, cleanup
        self.out_path, inc = job.target.path, job.source.incremental
        # the merge and rollup folds key their >= re-read handling on it
        self.cursor_field = inc.cursor_field if inc.enabled else None
        self.stage_dir = self.out_path and os.path.join(
            self.out_path, "_staging", uuid.uuid4().hex)

    def sweep(self) -> None:
        shutil.rmtree(self.stage_dir, ignore_errors=True)
        if self.out_path:
            _prune_staging(self.out_path)

    def _stage_flat(self, to_write: DataFrame, probe: DataFrame) -> None:
        """The snapshot sinks' stage: partition values ride as sanitized
        ``_p_*`` DATA columns (Iceberg-style: values in table
        metadata/files, not dir names)."""
        part_by = self.job.target.partition_by
        self.staged_df, self.pcols = parquet_sink.with_partition_columns(
            to_write, part_by)
        parquet_sink.write_partitioned(
            self.staged_df, self.stage_dir, [],
            target_file_size_mb=self.job.target.target_file_size_mb,
            mode="overwrite",
            probe_df=parquet_sink.with_partition_columns(probe, part_by)[0])


class _TableFiles(_Commit):
    """``table`` × append/overwrite. Snapshot-commit sink: staged files
    are invisible until the manifest lands, so strict-mode abort and
    crash-at-any-point both leave the table exactly as it was (no rename
    loop, no delete window); the staged files themselves are committed.
    Subclasses replace :meth:`commit` and fold the stage instead."""

    def stage(self, to_write, probe):
        self.table = table_commit.FsTable.create(self.out_path)
        self.stage_rel = self.table.new_stage()
        self.stage_dir = os.path.join(self.out_path, self.stage_rel)
        self._stage_flat(to_write, probe)

    def publish(self):
        # branch-per-tenant (the reference's Nessie default: branch =
        # tenant_id, contracts.TargetConfig.from_dict) — head() creates a
        # missing branch at the current main head on first use
        self.branch = self.job.target.branch or "main"
        self.commit(self.table.head(self.branch))

    def commit(self, head) -> None:
        self.table.add_files(
            # partition-column min/max land in the manifest so reads with
            # a partition predicate plan only the matching files
            self.table.staged_files(self.stage_rel, stats_columns=self.pcols),
            operation=self.plan.mode,  # append | overwrite
            schema_json=self.staged_df.schema.json(),
            properties=self.props,  # the Iceberg TBLPROPERTIES analog
            branch=self.branch)


class _TableMerge(_TableFiles):
    """``table`` × merge: idempotent upsert for the >= cursor re-read. The
    staged batch merges by key through the copy-on-write path
    (manifest-stats pruning keeps the rewrite to the files that can hold
    the keys); the plain stage becomes redundant after the merge's own
    committed stage and is swept."""

    def commit(self, head):
        keys = self.plan.merge_keys
        batch = self.spark.read.parquet(self.stage_dir)
        self.table.merge_upsert(
            self.spark, _newest_per_key(batch, keys, self.cursor_field),
            keys, branch=self.branch,
            stats_columns=sorted({*keys, *self.pcols}),
            properties=self.props)
        self.sweep()


class _TableRollup(_TableFiles):
    """``table`` × rollup: incremental aggregate maintenance as a TARGET
    MODE. The table holds compact rollup state (one row per key), each
    ingested batch folds in via operators/rollup.py and the new state
    commits as one atomic overwrite snapshot — a materialized view
    maintained by the ingestion job itself, per-run cost one batch
    shuffle + key-count-bounded merge, never a history rescan. Query it
    with rollup.finalize.

    The >= cursor predicate re-reads the boundary row by design
    (reference semantics) and retries can replay whole batches — both
    would double-fold an additive state. The state commit therefore
    carries its own FOLDED watermark in snapshot properties (atomic with
    the fold, like the streaming epoch markers). Because a cursor need
    not be unique (timestamps), a bare ``> watermark`` filter would
    silently drop GENUINE new rows sharing the boundary cursor value — so
    alongside the watermark it stores the row fingerprints of the
    already-folded rows AT the watermark: boundary rows re-read by ``>=``
    drop only when their full-row fingerprint is in that set. The set is
    bounded (``_ROLLUP_BOUNDARY_CAP``, rows sharing the max cursor value
    are few in practice); on overflow it degrades — loudly — to the
    ``>`` filter. Rows identical in EVERY column still collapse (inherent
    to identity-based replay detection; give such sources a unique id
    column)."""

    def commit(self, head):
        from dativo_ingest_spark.operators import rollup as rollup_mod

        batch = self.spark.read.parquet(self.stage_dir)
        rprops = dict(self.props)
        cur = self.cursor_field
        if cur and cur in batch.columns:
            wm_key, bd_key = f"rollup.cursor.{cur}", f"rollup.cursor_rows.{cur}"
            prev = head.properties.get(wm_key)
            row_fp = F.md5(F.to_json(F.struct(
                *[F.col(c) for c in sorted(batch.columns)])))
            prev_fps: list = []
            if prev is not None:
                try:
                    prev_fps = list(json.loads(
                        head.properties.get(bd_key) or "[]"))
                except (ValueError, TypeError):
                    prev_fps = []
                bound = F.lit(prev).cast(batch.schema[cur].dataType)
                batch = batch.filter(
                    (F.col(cur) > bound) | ((F.col(cur) == bound)
                                            & ~row_fp.isin(*prev_fps))
                    if prev_fps else F.col(cur) > bound)
            # released by run_job on every exit path, a raising commit too
            batch = batch.persist()
            self.cleanup.append(batch)
            new_max = batch.agg(F.max(cur).alias("m")).first()["m"]
            if new_max is not None:
                rprops[wm_key] = str(new_max)
                # bounded collect: limit(cap+1) caps driver memory in the
                # degenerate case the cap exists for (a coarse cursor
                # putting a huge batch on one value) — the same
                # discipline as dedup.without_hot_keys
                fps = {r["fp"] for r in batch
                       .filter(F.col(cur) == F.lit(new_max))
                       .select(row_fp.alias("fp")).distinct()
                       .limit(_ROLLUP_BOUNDARY_CAP + 1).collect()}
                if str(new_max) == prev and prev_fps:
                    fps |= set(prev_fps)
                # snapshot properties MERGE with the previous head
                # (table_commit.add_files), so on overflow the stale set
                # must be overwritten explicitly ("") — dropping the key
                # would silently inherit an older watermark's fingerprints
                # and double-fold its boundary rows
                rprops[bd_key] = (json.dumps(sorted(fps))
                                  if len(fps) <= _ROLLUP_BOUNDARY_CAP
                                  else "")
                if len(fps) > _ROLLUP_BOUNDARY_CAP:
                    logging.getLogger(__name__).warning(
                        "rollup boundary set for %s exceeds the cap "
                        "(%d rows at cursor=%s): falling back to the "
                        "strict > watermark filter — genuine new rows at "
                        "this cursor value in the NEXT batch will be "
                        "dropped; use a higher-resolution or unique "
                        "cursor", cur, _ROLLUP_BOUNDARY_CAP, new_max)
            # an empty delta sets neither key: the commit's properties
            # merge over the head's, which keep the watermark and its set
        rollup_mod.commit_rollup(
            self.table, batch, self.plan.rollup["keys"],
            self.plan.rollup["measures"], branch=self.branch,
            properties=rprops)
        self.sweep()


class _TableScd2(_TableFiles):
    """``table`` × scd2: CDC changelog -> maintained SCD type-2
    dimension. Each batch folds through operators/scd.py:scd2_merge
    (untouched entities pass through by anti-join, affected keys rebuild
    from history + batch) and the new dimension commits as one atomic
    overwrite snapshot. Replays are idempotent by construction (merging
    an already-applied batch rebuilds the same history — no watermark
    needed), so the >= cursor re-read is harmless here, unlike rollup's
    additive state."""

    def commit(self, head):
        from dativo_ingest_spark.operators import scd as scd_mod

        s = self.plan.scd2
        tie = s["tiebreaker"]
        batch = self.spark.read.parquet(self.stage_dir).select(
            *s["keys"], s["ts_field"],
            *([str(tie)] if tie and tie not in s["tracked"] else []),
            *s["tracked"])
        scd_mod.commit_scd2(
            self.table, batch, s["keys"], s["ts_field"], s["tracked"],
            branch=self.branch, tiebreaker=tie,
            collapse_unchanged=s["collapse_unchanged"], properties=self.props)
        self.sweep()


class _Iceberg(_Commit):
    """``iceberg`` × append/overwrite/merge (jar-present deployments; the
    catalog config was checked by :class:`TargetPlan`): stage to a
    scratch dir so strict mode can still abort pre-commit, then hand the
    staged rows to the native writeTo() / MERGE INTO snapshot commit."""

    def stage(self, to_write, probe):
        if not self.out_path:
            import tempfile

            self.stage_dir = tempfile.mkdtemp(prefix="dativo_iceberg_stage_")
        self._stage_flat(to_write, probe)

    def publish(self):
        from dativo_ingest_spark.sinks import iceberg_sink

        staged = self.spark.read.parquet(self.stage_dir)
        if self.plan.mode == "merge":
            # MERGE INTO allows one source row per target row
            staged = _newest_per_key(staged, self.plan.merge_keys,
                                     self.cursor_field)
        iceberg_sink.commit(
            self.spark, staged, self.job.target.table, mode=self.plan.mode,
            branch=self.job.target.branch, partition_by=self.pcols,
            properties=self.props,  # real TBLPROPERTIES on this path
            merge_keys=self.plan.merge_keys or None)
        self.sweep()


class _Hive(_Commit):
    """``hive`` × append/overwrite/overwrite_partitions: a hive-partitioned
    write to ``_staging/<uuid>``, published by :func:`_publish_staging`'s
    same-filesystem rename loop (no snapshot: at-least-once)."""

    def stage(self, to_write, probe):
        self.pcols = parquet_sink.write_partitioned(
            to_write, self.stage_dir, self.job.target.partition_by,
            target_file_size_mb=self.job.target.target_file_size_mb,
            mode="overwrite",
            probe_df=probe)  # the probe must not consume the observation

    def publish(self):
        _publish_staging(self.stage_dir, self.out_path, self.plan.mode)


class _ShardExport(_Hive):
    """``hive`` × shard_export: deterministic trainer shards staged like
    any hive publish, so strict-mode abort sweeps the stage before
    anything is visible. The export's write action carries the
    observation, and the read-back manifest publishes alongside the
    shards as manifest/*.parquet — the trainer-side audit artifact.
    Re-runs replace the whole corpus (deterministic assignment makes
    append meaningless — same rows, same shards)."""

    def stage(self, to_write, probe):
        from dativo_ingest_spark.sinks.shard_export import (
            export_training_shards)

        sh = self.plan.shard
        if sh["mixture"] is not None:
            to_write = _mixture_admit(to_write, sh)
        manifest = export_training_shards(
            to_write, sh["id_field"], sh["token_field"], self.stage_dir,
            n_shards=sh["n_shards"], seed=sh["seed"], fmt=sh["format"])
        manifest.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.stage_dir, "manifest"))
        self.pcols = ["shard"]

    def publish(self):
        _publish_staging(self.stage_dir, self.out_path, "overwrite")


def _mixture_admit(to_write: DataFrame, sh: dict[str, Any]) -> DataFrame:
    """Solved-mixture admission before export (DoReMi weights ->
    per-domain budgets -> the shared hash-rank sampler; see
    examples/mixture_pipeline.py for the standalone walk)."""
    from dativo_ingest_spark.operators.dsir import (
        MICRO_UNITS, doremi_domain_weights)
    from dativo_ingest_spark.operators.sampling import (
        host_cap_sample_bucketed)

    mx = sh["mixture"]
    domain = mx["domain_field"]
    for col, what in ((domain, "domain_field"),
                      (mx["text_field"], "text_field")):
        if col not in to_write.columns:
            raise ConfigError(
                f"shard.mixture.{what} {col!r} is not a column "
                "of the validated frame")
    weights = doremi_domain_weights(
        to_write, domain, mx["text_field"], n_rounds=mx["n_rounds"],
        eta_milli=mx["eta_milli"], average_rounds=mx["average_rounds"])
    budgets = {r["domain"]: max(1, (int(r["weight_micro"])
                                    * mx["total_budget"]) // MICRO_UNITS)
               for r in weights.collect()}
    cap = F.create_map(*[F.lit(x) for kv in budgets.items() for x in kv])
    # a domain absent from the solved weights (e.g. every doc empty-text)
    # maps to NULL — floor it to 1 admitted doc instead of silently
    # dropping the whole domain. The bucketed form admits the identical
    # set with NO domain-only window (mixtures have ~5-50 domains; a
    # Window.partitionBy(domain) row_number would sort a whole domain's
    # corpus in one task at 100x)
    return host_cap_sample_bucketed(
        to_write, domain, sh["id_field"],
        cap=F.coalesce(cap[F.col(domain)], F.lit(1)), salt="mixture")


#: the allowed (commit, mode) pairs; TargetPlan rejects every other pair
_HANDLERS: dict[tuple[str, str], type[_Commit]] = {
    **{("table", m): _TableFiles for m in ("append", "overwrite")},
    ("table", "merge"): _TableMerge,
    ("table", "rollup"): _TableRollup,
    ("table", "scd2"): _TableScd2,
    **{("iceberg", m): _Iceberg for m in ("append", "overwrite", "merge")},
    **{("hive", m): _Hive
       for m in ("append", "overwrite", "overwrite_partitions")},
    ("hive", "shard_export"): _ShardExport,
}


def _publish_staging(stage: str, out_path: str, mode: str) -> None:
    """Move staged part files into the final hive layout (same-filesystem
    rename; committer files like _SUCCESS stay behind).

    ``overwrite`` tombstones the previous contents *after* the new files
    land: a crash mid-publish can briefly expose old+new together (a
    duplicate window), never an empty or new-only-partial table. True
    atomic overwrite is the snapshot sink (``target.options.commit:
    "table"``), where visibility flips on one manifest rename.

    ``overwrite_partitions`` is DYNAMIC partition overwrite (Spark's
    ``partitionOverwriteMode=dynamic`` semantics on the staged-publish
    path): only the hive partitions PRESENT IN THIS BATCH are replaced —
    the backfill/reprocess-one-day primitive — all other partitions stay
    untouched. Same tombstone-after-land ordering per replaced partition."""
    old_files: list[str] = []
    if mode == "overwrite":
        for root, _dirs, files in os.walk(out_path):
            rel = os.path.relpath(root, out_path)
            if rel.split(os.sep)[0] == "_staging":
                continue
            old_files.extend(os.path.join(root, f) for f in files)
    elif mode == "overwrite_partitions":
        staged_parts = set()
        for root, _dirs, files in os.walk(stage):
            if any(not f.startswith(("_", ".")) for f in files):
                staged_parts.add(os.path.relpath(root, stage))
        for rel in staged_parts:
            tgt = out_path if rel == "." else os.path.join(out_path, rel)
            if os.path.isdir(tgt):
                old_files.extend(
                    os.path.join(tgt, f) for f in os.listdir(tgt)
                    if os.path.isfile(os.path.join(tgt, f)))
    for root, _dirs, files in os.walk(stage):
        for fname in files:
            if fname.startswith(("_", ".")):
                continue
            src = os.path.join(root, fname)
            dst = os.path.join(out_path, os.path.relpath(src, stage))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
    for f in old_files:  # sweep tombstoned files (names never collide:
        try:             # committer part files are uuid-unique)
            os.remove(f)
        except FileNotFoundError:
            pass
    shutil.rmtree(stage, ignore_errors=True)
    for root, _dirs, _files in os.walk(out_path, topdown=False):
        if root != out_path:
            try:
                os.rmdir(root)  # prunes dirs emptied by the sweep only
            except OSError:
                pass
    _prune_staging(out_path)


def _prune_staging(out_path: str) -> None:
    try:
        os.rmdir(os.path.join(out_path, "_staging"))
    except OSError:
        pass


def load_job_with_secrets(config_path: str,
                          secret_manager: str | None = None,
                          secrets_dir: str = "/secrets",
                          secret_manager_config: dict | None = None,
                          validate_schema: bool = False,
                          ) -> JobConfig:
    """Parse a job YAML with startup-time secret resolution (reference
    cli.py:201-217: secrets load before any job runs).

    The job may carry a ``secrets:`` block (``manager`` / ``secrets_dir`` /
    ``config``) overriding the CLI-level defaults; ``${secret:name}`` /
    ``${secret:name.key}`` placeholders anywhere in the job tree are
    substituted from the loaded secrets, so credentials never ride raw in
    YAML. No block, no placeholders → behaves exactly as before. Loaded
    values are registered with the root logger's redaction filter."""
    import yaml as _yaml

    from dativo_ingest_spark import secrets as secrets_mod

    with open(config_path) as fh:
        doc = _yaml.safe_load(fh) or {}
    # structural gate BEFORE secret resolution/popping: placeholders are
    # plain strings so the shape check is placeholder-agnostic, and a
    # malformed config exits 2 here without touching any secret backend
    from dativo_ingest_spark.config import schema_validation

    if schema_validation.should_validate(doc, validate_schema):
        schema_validation.validate_job_dict(doc)
    block = doc.pop("secrets", None) or {}
    if isinstance(block, str):  # shorthand: `secrets: env`
        block = {"manager": block}
    wants = block or secret_manager or \
        secrets_mod._PLACEHOLDER_RE.search(json.dumps(doc, default=str))
    if wants:
        tenant = doc.get("tenant_id") or "default"
        loaded = secrets_mod.load_secrets(
            tenant,
            secrets_dir=block.get("secrets_dir", secrets_dir),
            manager_type=block.get("manager", secret_manager),
            manager_config=block.get("config", secret_manager_config),
        )
        secrets_mod.redactor(loaded)
        doc = secrets_mod.resolve_placeholders(doc, loaded)
        creds = (doc.get("source") or {}).get("credentials")
        if isinstance(creds, dict):
            secrets_mod.validate_for_connector(
                loaded, str((doc.get("source") or {}).get("type", "")),
                creds)
    return JobConfig.from_dict(doc)


def run_job_file(spark: SparkSession, config_path: str,
                 state_root: str | None = None,
                 secret_manager: str | None = None,
                 secrets_dir: str = "/secrets",
                 validate_schema: bool = False) -> JobResult:
    """``dativo run --config job.yaml`` analog."""
    job = load_job_with_secrets(config_path, secret_manager=secret_manager,
                                secrets_dir=secrets_dir,
                                validate_schema=validate_schema)
    return run_job(spark, job, state_root=state_root)


def run_job_dir(spark: SparkSession, job_dir: str,
                state_root: str | None = None,
                secret_manager: str | None = None,
                secrets_dir: str = "/secrets",
                validate_schema: bool = False) -> dict[str, JobResult]:
    """``dativo run --job-dir`` analog: recursive YAML discovery, sequential
    execution, combined exit semantics (reference cli.py:121-323)."""
    results: dict[str, JobResult] = {}
    for root, _dirs, files in os.walk(job_dir):
        for fname in sorted(files):
            if fname.endswith((".yaml", ".yml")):
                path = os.path.join(root, fname)
                results[path] = run_job_file(
                    spark, path, state_root,
                    secret_manager=secret_manager, secrets_dir=secrets_dir,
                    validate_schema=validate_schema)
    return results
