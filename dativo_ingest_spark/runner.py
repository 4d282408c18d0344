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

Commit-then-state ordering: the reference updates cursor state *during*
extraction (``postgres_extractor.py:317-328``), which double-ingests on
mid-job failure; here state is written only after the sink commit succeeds
(idempotent with ``>=`` cursor predicates — SURVEY §4(b)).

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
from dativo_ingest_spark import infrastructure
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
    src = job.source
    inc = src.incremental
    key = _state_key(job)

    # file-family sources skip files whose mtime the state already holds
    seen = None
    if src.type in ("csv", "jsonl", "markdown_kv") and store is not None \
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
        if inc.enabled and inc.cursor_field:
            state = store.get(key, inc.cursor_field) if store else None
            start = incremental.effective_cursor_start(
                state, inc.lookback_days)
            if start is not None:
                df = df.filter(
                    incremental.cursor_predicate(inc.cursor_field, start))
        return df

    if src.type == "markdown_kv":
        storage, ext = mdkv_source.resolve_storage(src.options)
        return mdkv_source.extract(spark, src.path, storage=storage,
                                   seen=seen, file_extension=ext)

    if src.type in ("postgres", "mysql", "derby", "jdbc"):
        return _extract_jdbc(spark, job, store)

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
        state = None
        if store is not None and inc.enabled and inc.cursor_field:
            s = store.get(key, inc.cursor_field)
            if s is not None:
                state = {inc.cursor_field: s}
        return plugins_mod.reader_to_dataframe(spark, reader, str(schema),
                                               state=state)

    raise ConfigError(
        f"source type '{src.type}' is not runnable in this environment "
        "(sheets/drive/airbyte need live endpoints; see sources/)"
    )


def _extract_jdbc(spark: SparkSession, job: JobConfig,
                  store: incremental.StateStore | None) -> DataFrame:
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
    cursor_start = None
    if store is not None and inc.enabled and inc.cursor_field:
        state = store.get(_state_key(job), inc.cursor_field)
        cursor_start = incremental.effective_cursor_start(state, 0)
    query = jdbc.build_query(
        dialect,
        opts["table"],
        schema=opts.get("schema"),
        columns=job.asset.field_names() if opts.get("prune_columns") else None,
        cursor_field=inc.cursor_field if inc.enabled else None,
        cursor_start=cursor_start,
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


def _merge_keys(options: dict) -> list[str]:
    """target.options.merge_keys accepts a YAML list or a comma string
    (the schema allows both; str() on a list would mangle the keys)."""
    raw = options.get("merge_keys", "")
    if isinstance(raw, (list, tuple)):
        return [str(k).strip() for k in raw if str(k).strip()]
    return [k.strip() for k in str(raw).split(",") if k.strip()]


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
             governance_overrides, finops_overrides, catalog, mode,
             _cleanup: list) -> JobResult:
    """:func:`run_job`'s body; ``_cleanup`` collects the persisted frames
    the caller releases on every exit path."""
    registry.gate_job(job, mode)
    # Fail-at-startup for mode/commit combinations that would otherwise
    # silently degrade to a plain append (exit 2 before any data moves):
    # merge needs a committing sink that can replace rows by key (the
    # hive publish would keep both versions of an updated key), rollup
    # folds only exist on the snapshot-commit path, and its
    # anti-double-count watermark needs a cursor to key on; dynamic
    # partition overwrite is a hive-publish operation.
    write_mode = str(job.target.options.get("mode", "append"))
    commit_mode = str(job.target.options.get("commit", "hive"))
    if commit_mode not in ("hive", "table", "iceberg"):
        raise ConfigError(
            "target.options.commit must be hive, table or iceberg, got "
            f"{commit_mode!r}")
    merge_keys = _merge_keys(job.target.options)
    if write_mode == "merge":
        if commit_mode == "hive":
            raise ConfigError(
                "target.options.mode=merge requires commit: table or "
                "commit: iceberg (the hive publish only appends)")
        if not merge_keys:
            raise ConfigError("target.options.mode=merge needs merge_keys")
    if write_mode == "rollup":
        if commit_mode != "table":
            raise ConfigError(
                "target.options.mode=rollup requires commit: table "
                "(the snapshot-commit sink holds the rollup state)")
        rconf = dict(job.target.options.get("rollup") or {})
        rkeys = list(rconf.get("keys") or [])
        rmeasures = {
            str(name): (str(spec[0]), str(spec[1]))
            for name, spec in dict(rconf.get("measures") or {}).items()
        }
        if not rkeys or not rmeasures:
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
    if write_mode == "scd2":
        if commit_mode != "table":
            raise ConfigError(
                "target.options.mode=scd2 requires commit: table (the "
                "snapshot-commit sink holds the dimension history)")
        sconf = dict(job.target.options.get("scd2") or {})
        skeys = list(sconf.get("keys") or [])
        stracked = list(sconf.get("tracked") or [])
        sts = sconf.get("ts_field")
        if not skeys or not stracked or not sts:
            raise ConfigError(
                "target.options.mode=scd2 needs scd2.keys, "
                "scd2.tracked and scd2.ts_field")
        if sts in stracked or sts in skeys:
            raise ConfigError(
                "scd2.ts_field must not appear in scd2.keys or "
                "scd2.tracked (it becomes the version interval boundary, "
                "not an attribute)")
    if write_mode == "overwrite_partitions" and commit_mode != "hive":
        raise ConfigError(
            "target.options.mode=overwrite_partitions is a hive-publish "
            "operation; the snapshot sinks express it as an overwrite "
            "commit instead")
    if write_mode == "shard_export":
        # trainer-facing deterministic shard layout (sinks/shard_export):
        # validated before any data moves, like every other target option
        if commit_mode != "hive":
            raise ConfigError(
                "target.options.mode=shard_export publishes a hive "
                "shard=K layout (commit: hive)")
        _sh = dict(job.target.options.get("shard") or {})
        if not _sh.get("id_field") or not _sh.get("token_field"):
            raise ConfigError(
                "shard_export needs target.options.shard.id_field and "
                "shard.token_field")
        if job.target.partition_by:
            raise ConfigError(
                "shard_export derives its own shard partitioning; "
                "target.partition_by must be empty")
        if str(_sh.get("format", "parquet")) not in ("parquet", "jsonl"):
            raise ConfigError(
                "target.options.shard.format must be parquet or jsonl, "
                f"got {_sh.get('format')!r}")
        _mx = _sh.get("mixture")
        if _mx is not None:
            _mx = dict(_mx)
            if not _mx.get("domain_field"):
                raise ConfigError(
                    "shard.mixture needs domain_field (the column the "
                    "DoReMi solver groups by)")
            if int(_mx.get("total_budget", 0)) < 1:
                raise ConfigError(
                    "shard.mixture needs total_budget >= 1 (documents "
                    "admitted across all domains)")
            if int(_mx.get("n_rounds", 5)) < 0 \
                    or int(_mx.get("eta_milli", 200)) < 0:
                raise ConfigError(
                    "shard.mixture: n_rounds and eta_milli must be "
                    ">= 0")
    # dedup-on-ingest config (operators/ingest_dedup.py): validated
    # before any data moves, like every other target option.
    dedup_conf = None
    if job.target.options.get("dedup") is not None:
        from dativo_ingest_spark.operators import ingest_dedup

        dedup_index_path, dedup_conf = ingest_dedup.from_options(
            job.target.options["dedup"])
        if write_mode in ("overwrite", "overwrite_partitions"):
            raise ConfigError(
                "target.options.dedup cannot combine with mode="
                f"{write_mode}: the dedup index is append-only corpus memory, "
                "so overwriting the corpus would leave the index "
                "remembering content the table no longer holds (and "
                "silently dropping its legitimate re-ingestion)")
        _id_field_def = next(
            (f for f in job.asset.fields if f.name == dedup_conf.id_col),
            None)
        if _id_field_def is None or not _id_field_def.required:
            raise ConfigError(
                "target.options.dedup.id_field must be a REQUIRED asset "
                "schema column: the deferred index append records only "
                "the rows that actually published, decided by joining on "
                "the validated frame's id — an optional id could coerce "
                "to NULL, publish under warn mode, and never be indexed "
                "(its content would then re-publish on every later run)")
    # distribution-drift gate config (the batch analog of
    # streaming/pipeline.py:psi_drift_gate): validated before data moves
    _dg = job.target.options.get("drift_gate")
    if _dg is not None:
        _dg = dict(_dg)
        if not (_dg.get("column") and _dg.get("reference_path")):
            raise ConfigError(
                "target.options.drift_gate needs column (a numeric asset "
                "field) and reference_path (where the frozen reference "
                "distribution lives)")
        _dg["on_drift"] = str(_dg.get("on_drift", "warn"))
        if _dg["on_drift"] not in ("warn", "abort"):
            raise ConfigError(
                "target.options.drift_gate.on_drift must be warn or "
                f"abort, got {_dg['on_drift']!r}")
        _dg["n_bins"] = int(_dg.get("n_bins", 10))
        _dg["threshold_milli"] = int(_dg.get("threshold_milli", 250))
        if _dg["n_bins"] < 2 or _dg["threshold_milli"] < 1:
            raise ConfigError(
                "target.options.drift_gate: n_bins must be >= 2 and "
                "threshold_milli >= 1")
        _dg["method"] = str(_dg.get("method", "psi"))
        if _dg["method"] not in ("psi", "ks"):
            raise ConfigError(
                "target.options.drift_gate.method must be psi or ks, "
                f"got {_dg['method']!r}")
        _dg["c_milli"] = int(_dg.get("c_milli", 1358))
    t0 = time.perf_counter()
    # Warn-only preflight: endpoint reachability surfaces in logs/result,
    # never in the exit code (reference cli.py:236-244 catches-and-logs).
    infra = infrastructure.validate_infrastructure(job)

    def _finish(res: JobResult) -> JobResult:
        res.infrastructure = infra
        logging.getLogger(__name__).info(
            "job metrics: %s", json.dumps(res.metrics(), sort_keys=True))
        return res

    store = incremental.StateStore(state_root) if state_root else None
    key = _state_key(job)

    df = _extract(spark, job, store, mode)
    if df is None:
        return _finish(JobResult(exit_code=EXIT_SUCCESS, skipped=True,
                                 duration_s=time.perf_counter() - t0))

    # Dedup-on-ingest: drop rows the corpus already holds BEFORE
    # validation/write, against a persistent index that is the compact
    # thing joined — history is never rescanned. The index append is
    # DEFERRED to after the sink publish (commit=False here): a crash in
    # between re-admits rows on retry, never loses them. records_in /
    # the observation below therefore count post-dedup rows; the drops
    # are reported separately in JobResult.dedup_dropped.
    dedup_dropped: dict[str, int] = {}
    dedup_index_table = None
    dedup_kept = dedup_sig = None
    pre_dedup_df = None
    if dedup_conf is not None:
        pre_dedup_df = df
        for c in (dedup_conf.id_col, dedup_conf.content_col):
            if c not in df.columns:
                raise ConfigError(
                    f"target.options.dedup field {c!r} not in the "
                    f"extracted columns {sorted(df.columns)}")
        dedup_index_table = table_commit.FsTable.create(dedup_index_path)
        kept, n_b, n_i, dedup_sig = dedup_conf.against_index(
            spark, df, dedup_index_table)
        dedup_dropped = {"batch": int(n_b), "index": int(n_i)}
        df = dedup_kept = kept
        _cleanup.extend(f for f in (kept, dedup_sig) if f is not None)

    # Single-pass lifecycle: validation counters, the max-cursor state value
    # and the write all ride ONE source scan — observe() metrics on the
    # annotated frame, evaluated by the write action itself. The write goes
    # to a staging dir first so strict mode can abort without a pre-count;
    # publish is a same-filesystem rename (the production path swaps in the
    # FsTable/Iceberg manifest commit, sinks/table_commit.py).
    #
    # markdown_kv structured shapes bypass the contract cast (their schema
    # is fixed by the parser), everything else validates against the asset.
    mode = job.validation_mode
    bypass = job.source.type == "markdown_kv" and \
        mdkv_source.resolve_storage(job.source.options)[0] != "string"
    if bypass:
        result = None
        annotated = df.withColumn(
            validation.ERRORS_COL,
            F.array().cast(
                "array<struct<field:string,error:string,value:string>>"),
        )
    else:
        result = validation.validate(df, job.asset, mode)
        annotated = result.annotated

    ok = F.size(F.col(validation.ERRORS_COL)) == 0
    inc = job.source.incremental
    cursor = (inc.cursor_field
              if store is not None and inc.enabled and inc.cursor_field
              else None)
    metrics = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(ok, 0).otherwise(1)).alias("n_invalid"),
    ]
    if cursor:
        # Strict/bypass filter invalid rows out of the sink, so only valid
        # rows may advance the incremental state. Warn mode writes EVERY
        # row (invalid ones carry their error struct), so state must cover
        # them all — otherwise rows already in the sink sit above the
        # cursor and are re-ingested forever.
        if mode == "warn" and not bypass:
            metrics.append(F.max(F.col(cursor)).alias("max_cursor"))
        else:
            metrics.append(
                F.max(F.when(ok, F.col(cursor))).alias("max_cursor"))
    obs = Observation()
    observed = annotated.observe(obs, *metrics)

    if mode == "strict" or bypass:
        to_write = observed.filter(ok).drop(validation.ERRORS_COL,
                                            validation.RAW_COL)
        probe = annotated.filter(ok).drop(validation.ERRORS_COL,
                                          validation.RAW_COL)
    else:
        # warn mode keeps the original (pre-coercion) values alongside the
        # coerced columns (reference schema_validator.py:114-123 preserves
        # originals on coercion failure) — the raw struct column travels
        # into the sink so nothing is lost.
        to_write = observed.drop(validation.ERRORS_COL)
        probe = annotated.drop(validation.ERRORS_COL)

    # data-quality expectations (ODCS data_quality block — the reference
    # parses it, config.py:137-142; here it is enforced): one aggregate
    # pass over the un-observed probe frame (the observation must stay
    # reserved for the write pass). Strict mode aborts BEFORE staging on
    # any failed expectation; warn mode records the report and downgrades
    # the exit to partial.
    dq_report: list[dict] = []
    dq_failed = False
    dq_exps = (job.asset.data_quality or {}).get("expectations") or []
    if dq_exps:
        from dativo_ingest_spark.operators import quality as dq_mod

        dq_results = dq_mod.run_expectations(probe, dq_exps)
        dq_report = [
            {"name": r.name, "kind": r.kind, "column": r.column,
             "failed": r.failed, "total": r.total, "passed": r.passed}
            for r in dq_results
        ]
        dq_failed = any(not r.passed for r in dq_results)
        dq_log = logging.getLogger(__name__)
        for entry in dq_report:
            (dq_log.warning if not entry["passed"] else dq_log.info)(
                "dq expectation", extra={"dq": entry})
        if dq_failed and mode == "strict":
            total = dq_results[0].total if dq_results else 0
            return _finish(JobResult(
                exit_code=EXIT_FAILURE,
                records_in=total,
                records_valid=total,
                error_sample=[e for e in dq_report if not e["passed"]],
                dq_report=dq_report,
                duration_s=time.perf_counter() - t0,
                dedup_dropped=dedup_dropped,
            ))

    # PSI drift gate (the batch analog of streaming/pipeline.py:
    # psi_drift_gate, fit-once/score-many across RUNS): the first run
    # bootstraps the frozen reference next to the job's other state;
    # later runs score the batch against it driver-side (k bins). A
    # unit change or upstream subsetting keeps every row individually
    # valid — this is the population-level complement of the row-level
    # expectations above. warn records the report (exit stays
    # success); abort fails BEFORE staging, like strict DQ.
    drift_report: dict = {}
    if _dg:
        from dativo_ingest_spark.operators import drift

        if _dg["column"] not in probe.columns:
            raise ConfigError(
                f"target.options.drift_gate.column {_dg['column']!r} "
                "is not a validated asset column")
        _ref_file = os.path.join(_dg["reference_path"],
                                 "drift_reference.json")
        if not os.path.exists(_ref_file):
            _edges, _counts = drift.drift_reference(
                probe, _dg["column"], n_bins=_dg["n_bins"])
            os.makedirs(_dg["reference_path"], exist_ok=True)
            with open(_ref_file, "w") as _fh:
                json.dump({"column": _dg["column"], "edges": _edges,
                           "counts": _counts}, _fh)
            drift_report = {"bootstrapped": True, "bins": _counts}
        else:
            with open(_ref_file) as _fh:
                _ref = json.load(_fh)
            _counts = _ref["counts"]
            _cur = drift.bin_counts(probe, _dg["column"], _ref["edges"])
            _n_cur = sum(_cur)
            if _dg["method"] == "ks" and _n_cur > 0 and sum(_counts) > 0:
                # two-sample KS on the shared bin grid: max ECDF gap,
                # calibrated threshold — the distribution-free
                # alternative to PSI's 0.25 rule of thumb
                _d, _crit = drift.ks_score(_counts, _cur, _dg["c_milli"])
                drift_report = {
                    "method": "ks",
                    "d_stat_micro": int(_d * 1e6),
                    "crit_micro": int(_crit * 1e6),
                    "drifted": _d > _crit,
                    "bins": _cur, "reference": _counts,
                }
            else:
                _psi = drift.psi_score(_counts, _cur)
                drift_report = {
                    "method": "psi",
                    "psi_milli": int(_psi * 1000),
                    "drifted": _psi * 1000 >= _dg["threshold_milli"],
                    "bins": _cur, "reference": _counts,
                }
            if drift_report["drifted"]:
                logging.getLogger(__name__).warning(
                    "drift gate", extra={"drift": drift_report})
                if _dg["on_drift"] == "abort":
                    # row counters aren't observed yet (that happens in
                    # the write pass the abort prevents); the binned
                    # total is the best pre-staging row figure
                    return _finish(JobResult(
                        exit_code=EXIT_FAILURE,
                        records_in=_n_cur,
                        records_valid=_n_cur,
                        dq_report=dq_report,
                        drift_report=drift_report,
                        duration_s=time.perf_counter() - t0,
                        dedup_dropped=dedup_dropped,
                    ))

    props = tags_mod.derive_table_properties(
        job.asset,
        classification_overrides=classification_overrides,
        governance_overrides=governance_overrides,
        finops_overrides=finops_overrides,
    )

    # optional Z-order clustering (operators/layout.py): range-partition
    # the write along a Morton curve so per-file min/max stats prune range
    # predicates on every curve column. Bounds are explicit literals —
    # reproducibility contract, same as the operator.
    zconf = job.target.options.get("zorder")
    if zconf:
        from dativo_ingest_spark.operators import layout

        zcols = {
            str(c): (float(b[0]), float(b[1]))
            for c, b in (dict(zconf).get("columns") or {}).items()
        }
        if not zcols:
            raise ConfigError(
                "target.options.zorder needs columns: {name: [lo, hi]}")
        missing = [c for c in zcols if c not in to_write.columns]
        if missing:
            raise ConfigError(f"zorder columns not in output: {missing}")
        to_write = layout.zorder_by(
            to_write, zcols,
            n_files=int(dict(zconf).get("files", 8)),
            bits=int(dict(zconf).get("bits", layout.DEFAULT_BITS)),
        ).drop("_zkey")

    out_path = job.target.path
    table = None
    if commit_mode in ("iceberg", "table"):
        if commit_mode == "iceberg":
            # Real-Iceberg path (jar-present deployments): validate the
            # catalog config BEFORE any data is staged (fail-at-startup,
            # exit 2), stage to a scratch dir so strict mode can still
            # abort pre-commit, then hand the staged rows to the native
            # writeTo() snapshot commit.
            from dativo_ingest_spark.sinks import iceberg_sink

            iceberg_sink.require_available(spark, job.target.table)
            if out_path:
                stage = os.path.join(out_path, "_staging",
                                     uuid.uuid4().hex)
            else:
                import tempfile

                stage = tempfile.mkdtemp(prefix="dativo_iceberg_stage_")
        else:
            # Snapshot-commit sink: staged files are invisible until the
            # manifest lands, so strict-mode abort and crash-at-any-point
            # both leave the table exactly as it was (no rename loop, no
            # delete window). Partition values ride as sanitized ``_p_*``
            # DATA columns (Iceberg-style: values in table metadata/files,
            # not dir names).
            table = table_commit.FsTable.create(out_path)
            stage_rel = table.new_stage()
            stage = os.path.join(out_path, stage_rel)
        staged_df, pcols = parquet_sink.with_partition_columns(
            to_write, job.target.partition_by)
        probe_staged, _ = parquet_sink.with_partition_columns(
            probe, job.target.partition_by)
        parquet_sink.write_partitioned(
            staged_df, stage, [],
            target_file_size_mb=job.target.target_file_size_mb,
            mode="overwrite", probe_df=probe_staged,
        )
    elif write_mode == "shard_export":
        # deterministic trainer shards staged like any hive publish:
        # strict-mode abort sweeps the stage before anything is visible.
        # The export's write action carries the observation (to_write is
        # the observed frame), and the read-back manifest publishes
        # alongside the shards as manifest/*.parquet — the trainer-side
        # audit artifact.
        from dativo_ingest_spark.sinks.shard_export import (
            export_training_shards)

        stage = os.path.join(out_path, "_staging", uuid.uuid4().hex)
        _sh = dict(job.target.options.get("shard") or {})
        _mx = _sh.get("mixture")
        if _mx is not None:
            # solved-mixture admission before export (DoReMi weights ->
            # per-domain budgets -> the shared hash-rank sampler; see
            # examples/mixture_pipeline.py for the standalone walk)
            from dativo_ingest_spark.operators.dsir import (
                MICRO_UNITS, doremi_domain_weights)
            from dativo_ingest_spark.operators.sampling import (
                host_cap_sample_bucketed)
            from pyspark.sql import functions as _F

            _mx = dict(_mx)
            _dfield = str(_mx["domain_field"])
            _tfield = str(_mx.get("text_field", "text"))
            for _c, _what in ((_dfield, "domain_field"),
                              (_tfield, "text_field")):
                if _c not in to_write.columns:
                    raise ConfigError(
                        f"shard.mixture.{_what} {_c!r} is not a column "
                        "of the validated frame")
            _budget_total = int(_mx["total_budget"])
            _wt = doremi_domain_weights(
                to_write, _dfield, _tfield,
                n_rounds=int(_mx.get("n_rounds", 5)),
                eta_milli=int(_mx.get("eta_milli", 200)),
                average_rounds=bool(_mx.get("average_rounds", False)))
            _budgets = {
                r["domain"]: max(1, (int(r["weight_micro"])
                                     * _budget_total) // MICRO_UNITS)
                for r in _wt.collect()}
            _bexpr = _F.create_map(
                *[_F.lit(x) for kv in _budgets.items() for x in kv])
            # a domain absent from the solved weights (e.g. every doc
            # empty-text) maps to NULL — floor it to 1 admitted doc
            # instead of silently dropping the whole domain. The
            # bucketed form admits the identical set with NO
            # domain-only window (mixtures have ~5-50 domains; a
            # Window.partitionBy(domain) row_number would sort a whole
            # domain's corpus in one task at 100x)
            to_write = host_cap_sample_bucketed(
                to_write, _dfield, str(_sh["id_field"]),
                cap=_F.coalesce(_bexpr[_F.col(_dfield)], _F.lit(1)),
                salt="mixture")
        manifest = export_training_shards(
            to_write, str(_sh["id_field"]), str(_sh["token_field"]),
            stage,
            n_shards=int(_sh.get("n_shards", 8)),
            seed=str(_sh.get("seed", "epoch0")),
            fmt=str(_sh.get("format", "parquet")))
        manifest.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(stage, "manifest"))
        pcols = ["shard"]
    else:
        stage = os.path.join(out_path, "_staging", uuid.uuid4().hex)
        pcols = parquet_sink.write_partitioned(
            to_write,
            stage,
            job.target.partition_by,
            target_file_size_mb=job.target.target_file_size_mb,
            mode="overwrite",
            probe_df=probe,  # the probe must not consume the observation
        )
    m = obs.get
    n_rows = int(m["n_rows"])
    invalid_count = int(m["n_invalid"] or 0)
    n_valid = n_rows - invalid_count

    if mode == "strict" and invalid_count:
        shutil.rmtree(stage, ignore_errors=True)
        if table is None and out_path:
            _prune_staging(out_path)
        return _finish(JobResult(
            exit_code=EXIT_FAILURE,
            records_in=n_rows,
            records_valid=n_valid,
            records_invalid=invalid_count,
            # failure path only: one extra capped scan for the sample
            error_sample=result.error_summary(),
            duration_s=time.perf_counter() - t0,
            dedup_dropped=dedup_dropped,
        ))

    # the merge and rollup folds key their >= re-read handling on it
    cursor_field = inc.cursor_field if inc.enabled else None
    if table is not None:
        # branch-per-tenant (the reference's Nessie default: branch =
        # tenant_id, contracts.TargetConfig.from_dict) — created at the
        # current main head on first use
        branch = job.target.branch or "main"
        head = table.head(branch)
        if write_mode == "merge":
            # idempotent upsert for the >= cursor re-read: the staged batch
            # merges by key through the copy-on-write path (manifest-stats
            # pruning keeps the rewrite to the files that can hold the
            # keys); the plain stage becomes redundant after the merge's
            # own committed stage and is swept
            table.merge_upsert(
                spark, _newest_per_key(spark.read.parquet(stage),
                                       merge_keys, cursor_field),
                merge_keys,
                branch=branch,
                stats_columns=sorted({*merge_keys, *pcols}),
                properties=props,
            )
            shutil.rmtree(stage, ignore_errors=True)
        elif write_mode == "rollup":
            # Incremental aggregate maintenance as a TARGET MODE: the
            # table holds compact rollup state (one row per key), each
            # ingested batch folds in via operators/rollup.py and the new
            # state commits as one atomic overwrite snapshot — a
            # materialized view maintained by the ingestion job itself,
            # per-run cost one batch shuffle + key-count-bounded merge,
            # never a history rescan. Query it with rollup.finalize.
            from dativo_ingest_spark.operators import rollup as rollup_mod

            batch = spark.read.parquet(stage)
            # The >= cursor predicate re-reads the boundary row by design
            # (reference semantics) and retries can replay whole batches —
            # both would double-fold an additive state. The state commit
            # therefore carries its own FOLDED watermark in snapshot
            # properties (atomic with the fold, like the streaming epoch
            # markers). Because a cursor need not be unique (timestamps),
            # a bare ``> watermark`` filter would silently drop GENUINE
            # new rows sharing the boundary cursor value — so alongside
            # the watermark we store the row fingerprints of the
            # already-folded rows AT the watermark: boundary rows re-read
            # by ``>=`` drop only when their full-row fingerprint is in
            # that set. The set is bounded (``_ROLLUP_BOUNDARY_CAP``,
            # rows sharing the max cursor value are few in practice); on
            # overflow it degrades — loudly — to the old ``>`` filter.
            # Rows identical in EVERY column still collapse (inherent to
            # identity-based replay detection; give such sources a unique
            # id column).
            rprops = dict(props)
            if cursor_field and cursor_field in batch.columns:
                wm_key = f"rollup.cursor.{cursor_field}"
                bd_key = f"rollup.cursor_rows.{cursor_field}"
                prev = head.properties.get(wm_key)
                row_fp = F.md5(F.to_json(F.struct(
                    *[F.col(c) for c in sorted(batch.columns)])))
                prev_fps: list | None = None
                if prev is not None:
                    raw_bd = head.properties.get(bd_key)
                    if raw_bd:
                        try:
                            prev_fps = list(json.loads(raw_bd))
                        except (ValueError, TypeError):
                            prev_fps = None
                    bound = F.lit(prev).cast(
                        batch.schema[cursor_field].dataType)
                    if prev_fps:
                        batch = batch.filter(
                            (F.col(cursor_field) > bound)
                            | ((F.col(cursor_field) == bound)
                               & ~row_fp.isin(*prev_fps)))
                    else:
                        batch = batch.filter(F.col(cursor_field) > bound)
                batch = batch.persist()
                new_max = batch.agg(
                    F.max(cursor_field).alias("m")).first()["m"]
                if new_max is not None:
                    rprops[wm_key] = str(new_max)
                    # bounded collect: limit(cap+1) caps driver memory in
                    # the degenerate case the cap exists for (a coarse
                    # cursor putting a huge batch on one value) — the
                    # same discipline as dedup.without_hot_keys
                    fps = sorted(
                        r["fp"] for r in batch
                        .filter(F.col(cursor_field) == F.lit(new_max))
                        .select(row_fp.alias("fp")).distinct()
                        .limit(_ROLLUP_BOUNDARY_CAP + 1).collect())
                    if str(new_max) == prev and prev_fps:
                        fps = sorted(set(fps) | set(prev_fps))
                    if len(fps) <= _ROLLUP_BOUNDARY_CAP:
                        rprops[bd_key] = json.dumps(fps)
                    else:
                        logging.getLogger(__name__).warning(
                            "rollup boundary set for %s exceeds the cap "
                            "(%d rows at cursor=%s): falling back to the "
                            "strict > watermark filter — genuine new rows "
                            "at this cursor value in the NEXT batch will "
                            "be dropped; use a higher-resolution or "
                            "unique cursor", cursor_field,
                            _ROLLUP_BOUNDARY_CAP, new_max)
                        # snapshot properties MERGE with the previous
                        # head (table_commit.add_files), so the stale set
                        # must be overwritten explicitly — a pop() here
                        # would silently inherit an older watermark's
                        # fingerprints and double-fold its boundary rows
                        rprops[bd_key] = ""
                elif prev is not None:
                    rprops[wm_key] = prev   # empty delta keeps watermark
                    if head.properties.get(bd_key):
                        rprops[bd_key] = head.properties[bd_key]
            rollup_mod.commit_rollup(table, batch, rkeys, rmeasures,
                                     branch=branch, properties=rprops)
            if cursor_field and cursor_field in batch.columns:
                batch.unpersist()
            shutil.rmtree(stage, ignore_errors=True)
        elif write_mode == "scd2":
            # CDC changelog -> maintained SCD type-2 dimension: each batch
            # folds through operators/scd.py:scd2_merge (untouched
            # entities pass through by anti-join, affected keys rebuild
            # from history + batch) and the new dimension commits as one
            # atomic overwrite snapshot. Replays are idempotent by
            # construction (merging an already-applied batch rebuilds the
            # same history — no watermark needed), so the >= cursor
            # re-read is harmless here, unlike rollup's additive state.
            from dativo_ingest_spark.operators import scd as scd_mod

            stie = sconf.get("tiebreaker")
            scollapse = bool(sconf.get("collapse_unchanged", True))
            batch = spark.read.parquet(stage).select(
                *skeys, str(sts),
                *([str(stie)] if stie and stie not in stracked else []),
                *stracked)
            scd_mod.commit_scd2(
                table, batch, skeys, str(sts), stracked, branch=branch,
                tiebreaker=stie, collapse_unchanged=scollapse,
                properties=props)
            shutil.rmtree(stage, ignore_errors=True)
        else:
            table.add_files(
                # partition-column min/max land in the manifest so reads
                # with a partition predicate plan only the matching files
                table.staged_files(stage_rel, stats_columns=pcols),
                operation="overwrite" if write_mode == "overwrite"
                else "append",
                schema_json=staged_df.schema.json(),
                properties=props,  # the Iceberg TBLPROPERTIES analog
                branch=branch,
            )
    elif commit_mode == "iceberg":
        from dativo_ingest_spark.sinks import iceberg_sink

        staged = spark.read.parquet(stage)
        if write_mode == "merge":
            # MERGE INTO allows one source row per target row
            staged = _newest_per_key(staged, merge_keys, cursor_field)
        iceberg_sink.commit(
            spark, staged, job.target.table,
            mode=write_mode,
            branch=job.target.branch,
            partition_by=pcols,
            properties=props,  # real TBLPROPERTIES on this path
            merge_keys=merge_keys or None,
        )
        shutil.rmtree(stage, ignore_errors=True)
        if out_path:
            _prune_staging(out_path)
    else:
        # shard_export re-runs replace the whole corpus (deterministic
        # assignment makes append meaningless — same rows, same shards)
        _publish_staging(stage, out_path,
                         "overwrite" if write_mode == "shard_export"
                         else write_mode)
    if out_path:
        props_path = os.path.join(out_path, "_dativo_properties.json")
        with open(props_path, "w") as fh:
            json.dump(props, fh, indent=2, sort_keys=True)

    # Commit-then-index: the sink publish above succeeded, so the kept
    # rows' dedup-index entries may now be recorded (deferred from the
    # commit=False call — crash before this point re-admits on retry,
    # the safe direction). Entries derive from the operator's kept frame
    # (it still carries the content/embedding column even when the
    # contract projection dropped it from the sink), restricted to the
    # rows that actually PUBLISHED via a semi-join on the validated
    # frame's ids — valid-only under strict/bypass, all rows under warn.
    # Both sides hit persisted caches; minhash entries come off the
    # signature frame the operator persisted, semi-joined to those ids.
    if dedup_index_table is not None and dedup_kept is not None \
            and n_rows > 0:
        if mode == "strict" or bypass:
            # only validated rows published — restrict via their ids
            # (id_field is a required contract column, so a published
            # row's id is never NULL and the semi-join cannot miss it)
            published = dedup_kept.join(
                probe.select(dedup_conf.id_col).distinct(),
                dedup_conf.id_col, "left_semi")
        else:
            # warn mode publishes every row — index them all directly
            # (a coerced-NULL id would silently fall out of a semi-join)
            published = dedup_kept
        # the observation's post-dedup row count is a free upper bound on
        # published rows: it only sizes the append's file count, so an
        # extra count() job over the semi-join would be pure waste
        dedup_index_table.write_append(dedup_conf.index_entries(
            published, sig=dedup_sig, n_rows=n_rows))

    # informational warn-mode sample: capped scan, only when errors exist
    sample = result.error_summary() if (invalid_count and result) else []

    # Commit-then-state: only after the write succeeded. The state value
    # came off the write pass's observation — no extra aggregation scan.
    state_value = None
    if store is not None and inc.enabled:
        if cursor:
            state_value = m.get("max_cursor")
            # Dedup-dropped rows are handled content (already in the
            # corpus): the cursor must advance past them, else a batch
            # whose newest rows are all duplicates stalls the watermark
            # and the same tail is re-extracted and re-deduped forever.
            # One extra cursor-pruned pass over the batch source, only
            # when something was dropped.
            if (pre_dedup_df is not None and dedup_kept is not None
                    and sum(dedup_dropped.values())
                    and cursor in pre_dedup_df.columns):
                # pre_dedup_df is the RAW extracted frame (all-string for
                # CSV/JSONL), while state_value came off the coerced write
                # pass — coerce the raw cursor through the same contract
                # ladder before taking max so the comparison below is
                # like-typed (a string "9" vs int 10 comparison would
                # otherwise stall the watermark behind an all-dup tail).
                from dativo_ingest_spark.functions import coercion

                raw_cursor = F.col(cursor)
                _cf = next((f for f in job.asset.fields
                            if f.name == cursor), None)
                if _cf is not None:
                    raw_cursor = coercion.coerce(
                        raw_cursor, _cf.type,
                        pre_dedup_df.schema[cursor].dataType)
                dropped_max = (
                    pre_dedup_df
                    .join(dedup_kept.select(dedup_conf.id_col).distinct(),
                          dedup_conf.id_col, "left_anti")
                    .agg(F.max(raw_cursor).alias("m")).first()["m"])
                try:
                    if dropped_max is not None and (
                            state_value is None
                            or dropped_max > state_value):
                        state_value = dropped_max
                except TypeError:
                    # should be unreachable now that both sides are
                    # contract-coerced; keep the job alive but say so
                    logging.getLogger(__name__).warning(
                        "dedup cursor advance skipped: dropped_max %r "
                        "not comparable to state value %r",
                        dropped_max, state_value)
            if state_value is not None:
                store.set(key, cursor, state_value)
        if inc.strategy == "file_modified_time" and job.source.path:
            listing = (mdkv_source.list_markdown_files(job.source.path)
                       if job.source.type == "markdown_kv"
                       else csv_source.list_csv_files(job.source.path))
            store.set_file_mtimes(key, dict(listing))

    # Catalog push after commit+state; failures never fail the job
    # (reference cli.py:1194-1205). File-family sources contribute their
    # observed columns as structural source tags (reference
    # csv_extractor.py:260-316) — taken from the extracted frame's schema,
    # zero extra I/O.
    catalog_status: dict[str, Any] = {}
    if catalog is not None:
        source_tags = None
        if job.source.type in ("csv", "jsonl", "parquet", "markdown_kv"):
            source_tags = {c: "column" for c in df.columns}
        catalog_status = catalog_mod.push_after_commit(
            catalog, job, props, source_tags=source_tags)

    return _finish(JobResult(
        exit_code=(EXIT_PARTIAL if (invalid_count or dq_failed)
                   else EXIT_SUCCESS),
        records_in=n_rows,
        records_valid=n_valid,
        records_invalid=invalid_count,
        error_sample=sample,
        dq_report=dq_report,
        output_path=out_path,
        partition_cols=pcols,
        table_properties=props,
        state_value=state_value,
        duration_s=time.perf_counter() - t0,
        catalog_status=catalog_status,
        dedup_dropped=dedup_dropped,
        drift_report=drift_report,
    ))


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
