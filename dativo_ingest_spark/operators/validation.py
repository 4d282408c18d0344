"""Contract validation: strict/warn split as a single declarative plan.

Re-expresses the reference's batch validator (reference: src/dativo_ingest/
schema_validator.py:58-172) on DataFrames:

- per-field checks: ``missing_required`` (required & NULL) and
  ``type_mismatch`` (value present but uncoercible) — same error taxonomy;
- **strict** (default): any invalid record fails the job (exit-2 analog →
  ``StrictValidationError``); output columns are exactly the contract fields,
  in contract order, coerced (reference: parquet_writer.py:287-353);
- **warn**: every record passes; coercion failures keep a raw-value sidecar
  (``_raw`` struct of the original strings for failed fields — the typed
  column cannot hold the original value, which the reference's dict rows
  could; this is the documented divergence), extra columns NOT in the
  contract are preserved (reference: schema_validator.py:114-123,167-170);
- error summary capped at 100 (reference: schema_validator.py:293-301),
  collected row-wise, never exploded: see ``ValidationResult.error_summary``.

Everything is one Catalyst plan: the valid/invalid split is two filters over
a shared projection, so at scale the source is scanned once per branch with
full pushdown, and no Python touches any row.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dativo_ingest_spark.config.contracts import AssetDefinition, Field
from dativo_ingest_spark.functions import coercion

ERRORS_COL = "_dativo_errors"
RAW_COL = "_dativo_raw"


class StrictValidationError(RuntimeError):
    """Raised when strict mode sees >=1 invalid record (exit code 2 analog)."""

    def __init__(self, n_invalid: int, sample: list[dict]):
        self.n_invalid = n_invalid
        self.sample = sample
        super().__init__(
            f"{n_invalid} record(s) failed strict validation; "
            f"first {len(sample)} error(s): {sample[:5]}"
        )


@dataclass
class ValidationResult:
    valid: DataFrame
    invalid: DataFrame
    mode: str
    #: full frame with ERRORS_COL attached, pre-split — single-pass callers
    #: (runner.run_job) attach observe() counters here and filter themselves
    annotated: DataFrame | None = None

    def error_summary(self, cap: int = 100) -> list[dict]:
        """First ``cap`` errors (reference caps at 100), row-then-field order.

        Flattens the error arrays of the first ``cap`` invalid rows (each
        holds >=1 error). An in-plan ``explode`` makes Catalyst's
        ``InferFiltersFromGenerate`` cost ~2x per contract column: on 4
        cores, 1.48 of 1.58 s rule time at 12 columns (OOM at 16) vs 0.08 s.
        """
        rows = self.invalid.select(ERRORS_COL).limit(cap).collect()
        return [e.asDict() for r in rows for e in r[0]][:cap]


def _field_error(df: DataFrame, f: Field) -> tuple[Column, Column]:
    """(coerced column, error struct-or-null) for one contract field."""
    present = f.name in df.columns
    raw = F.col(f.name) if present else F.lit(None).cast("string")
    if present:
        input_type = df.schema[f.name].dataType
        coerced = coercion.coerce(raw, f.type, input_type)
    else:
        coerced = F.lit(None).cast(coercion.spark_type_for(f.type))
    err = F.when(
        raw.isNull() & F.lit(f.required),
        _error(f.name, "missing_required", F.lit(None).cast("string")),
    ).when(
        raw.isNotNull() & coerced.isNull(),
        _error(f.name, "type_mismatch", raw.cast("string")),
    )
    return coerced, err


def _error(field: str, kind: str, value: Column) -> Column:
    return F.struct(F.lit(field).alias("field"), F.lit(kind).alias("error"),
                    value.alias("value"))


def validate(
    df: DataFrame,
    asset: AssetDefinition,
    mode: str = "strict",
) -> ValidationResult:
    """Validate + coerce ``df`` against the asset contract.

    Returns the valid/invalid split; call :func:`enforce_strict` (or
    ``ValidationResult.error_summary``) for the reference's job-level
    behavior.
    """
    coerced_cols: list[Column] = []
    err_cols: list[Column] = []
    for f in asset.fields:
        coerced, err = _field_error(df, f)
        coerced_cols.append(coerced.alias(f.name))
        err_cols.append(err)

    errors = F.array_compact(F.array(*err_cols)).alias(ERRORS_COL)
    contract_names = set(asset.field_names())
    extra_cols = [c for c in df.columns if c not in contract_names]

    if mode == "strict":
        # Output exactly the contract columns, in contract order.
        annotated = df.select(*coerced_cols, errors)
    else:
        # warn: preserve extra observed columns + raw values of failed fields.
        raw_struct = F.struct(
            *[F.col(f.name).cast("string").alias(f.name)
              for f in asset.fields if f.name in df.columns]
        ).alias(RAW_COL)
        annotated = df.select(
            *coerced_cols, *[F.col(c) for c in extra_cols], raw_struct, errors
        )

    ok = F.size(F.col(ERRORS_COL)) == 0
    valid = annotated.filter(ok).drop(ERRORS_COL)
    if mode == "warn":
        valid = annotated  # warn mode: everything passes, errors attached
    invalid = annotated.filter(~ok)
    return ValidationResult(valid=valid, invalid=invalid, mode=mode,
                            annotated=annotated)


def enforce_strict(result: ValidationResult, cap: int = 100) -> DataFrame:
    """Strict-mode gate: raise if any record is invalid, else valid rows.

    One pass over the invalid branch with an early limit — at scale this is
    a cheap short-circuit count, not a full materialization.
    """
    sample = result.error_summary(cap)
    if sample:
        # Exact count only needed for the message once we know it's non-empty.
        n = result.invalid.count()
        raise StrictValidationError(n, sample)
    return result.valid


def split_counts(result: ValidationResult) -> dict[str, int]:
    """records/valid/invalid counters (reference metrics analog)."""
    total_valid = result.valid.count()
    total_invalid = result.invalid.count()
    if result.mode == "warn":
        total_valid = total_valid - total_invalid
    return {
        "records": total_valid + total_invalid,
        "valid": total_valid,
        "invalid": total_invalid,
    }
