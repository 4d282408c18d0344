"""Size-targeted, Hive-partitioned Parquet sink.

Reference semantics (``/root/reference/src/dativo_ingest/parquet_writer.py``):
partition-value derivation — ``ingest_date`` = run date, datetime→date-iso,
null→``"unknown"``, values sanitized ``[^a-z0-9_-]→_`` (``:88-158``); snappy +
dictionary encoding (``:424-429``); size-targeted files 128–200 MB, default
150, estimated from a ≤1000-row sample write (``:355-386``).

Spark-first re-expression:

* partition values become real sanitized columns and ``partitionBy`` emits
  the same ``col=value/`` Hive layout — no per-record path math, no
  driver-side grouping (the reference holds one open buffer per partition
  per batch; Spark's committer scales this out).
* file sizing uses ``maxRecordsPerFile`` computed from the same ≤1000-row
  sample-write trick — files roll over at the target size with **no extra
  shuffle**, which is the property that matters at 100 TB (the naive
  ``repartition(n)`` alternative is a full shuffle of the entire write).

File *naming* is committer-managed (``part-*``), diverging from the
reference's ``{table}_{counter:06d}.parquet`` — documented divergence; the
layout contract (dir structure + sizes + compression) is preserved.
"""

from __future__ import annotations

import datetime
import math
import re
import tempfile
import uuid
from pathlib import Path

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from dativo_ingest_spark.operators.util import local_df

TARGET_FILE_SIZE_MB_DEFAULT = 150
_SAMPLE_ROWS = 1000
#: the reference writer's codec (``parquet_writer.py:424-429``)
_COMPRESSION = "snappy"


def normalize_partition_col(name: str) -> str:
    """lowercase; spaces/hyphens → underscores (``parquet_writer.py:130``)."""
    return name.lower().replace(" ", "_").replace("-", "_")


def partition_value(col: Column, dtype: T.DataType) -> Column:
    """Sanitized string partition value per the reference derivation:
    timestamp/date → ISO date; null → 'unknown'; other values lowercased
    with ``[^a-z0-9_-]`` squashed to ``_``."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        s = F.date_format(col, "yyyy-MM-dd")
    else:
        s = F.regexp_replace(
            F.regexp_replace(F.lower(col.cast("string")), " ", "_"),
            "[^a-z0-9_-]", "_",
        )
    return F.coalesce(s, F.lit("unknown"))


def with_partition_columns(
    df: DataFrame,
    partitioning: list[str],
    ingest_date: datetime.date | None = None,
) -> tuple[DataFrame, list[str]]:
    """Append one sanitized ``_p_<col>`` column per partition key; a
    requested ``ingest_date`` key not present in the frame is injected as
    the run date (reference ``parquet_writer.py:99-101``)."""
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    out_cols: list[str] = []
    for p in partitioning:
        norm = normalize_partition_col(p)
        out = f"_p_{norm}"
        if p == "ingest_date" and p not in df.columns:
            value = F.lit((ingest_date or datetime.date.today()).isoformat())
        else:
            value = partition_value(F.col(p), dtypes[p])
        df = df.withColumn(out, value)
        out_cols.append(out)
    return df, out_cols


def _estimate_bytes_per_row(df: DataFrame) -> float | None:
    """Reference's sizing trick (``parquet_writer.py:355-386``), Spark-side:
    write a ≤1000-row sample as parquet, measure, extrapolate. Row count
    comes from the written files' footers (no extra Spark action)."""
    import pyarrow.parquet as pq

    with tempfile.TemporaryDirectory(prefix="dativo_size_probe_") as tmp:
        probe = Path(tmp) / f"probe_{uuid.uuid4().hex}"
        sample = df.limit(_SAMPLE_ROWS)
        sample.coalesce(1).write.option("compression", _COMPRESSION).parquet(
            str(probe)
        )
        files = list(probe.rglob("*.parquet"))
        n = sum(pq.ParquetFile(str(f)).metadata.num_rows for f in files)
        if n == 0:
            return None
        size = sum(f.stat().st_size for f in files)
        return size / n


def write_partitioned(
    df: DataFrame,
    path: str,
    partitioning: list[str] | None = None,
    target_file_size_mb: int = TARGET_FILE_SIZE_MB_DEFAULT,
    mode: str = "append",
    ingest_date: datetime.date | None = None,
    probe_df: DataFrame | None = None,
) -> list[str]:
    """Write ``df`` as Hive-partitioned, snappy-compressed parquet; returns
    the partition column names used.

    ``probe_df``: frame to run the file-size probe on instead of ``df``.
    Pass a plan-equivalent frame when ``df`` carries ``observe()`` metrics
    — the probe is a separate (limited) action and would otherwise consume
    the observation with partial, 1000-row numbers."""
    partitioning = partitioning or []
    out, pcols = with_partition_columns(df, partitioning, ingest_date)

    if probe_df is not None:
        probe_out, _ = with_partition_columns(probe_df, partitioning,
                                              ingest_date)
    else:
        probe_out = out
    bpr = _estimate_bytes_per_row(probe_out)
    writer = out.write.mode(mode).option("compression", _COMPRESSION)
    if bpr:
        max_records = max(1, math.floor(target_file_size_mb * 1024 * 1024 / bpr))
        writer = writer.option("maxRecordsPerFile", max_records)
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(path)
    return pcols


_HIVE_DIR_RE = re.compile(r"^(?P<col>[^=]+)=(?P<val>.*)$")


def list_partitions(path: str) -> list[dict[str, str]]:
    """Enumerate ``col=value`` partition dirs under ``path`` (driver-side
    listing util mirroring the reference's file-metadata flow)."""
    root = Path(path)
    parts = []
    for p in sorted(root.rglob("*")):
        if p.is_dir():
            m = _HIVE_DIR_RE.match(p.name)
            if m:
                parts.append({"dir": str(p.relative_to(root)),
                              "column": m.group("col"), "value": m.group("val")})
    return parts


def partition_audit(expected: DataFrame, out_dir: str,
                    part_col: str) -> DataFrame:
    """Backfill auditor: diff the partitions a hive-layout output
    ACTUALLY has on disk against the partition values the source says
    should exist. Returns (partition string, status 'missing'|'extra')
    — empty means the output is complete and carries nothing stale.

    ``expected`` is a one-column DataFrame of partition values (e.g.
    distinct days from the source); the disk side is a driver-side
    directory listing of ``part_col=value`` entries — metadata only,
    zero data I/O, so the audit costs one distinct-aggregate over the
    source however large the output is. The reprocess loop pairs this
    with mode=overwrite_partitions: audit → backfill exactly the
    missing days → audit again to empty.
    """
    import os

    spark = expected.sparkSession
    prefix = f"{part_col}="
    on_disk = set()
    if os.path.isdir(out_dir):
        for name in os.listdir(out_dir):
            if name.startswith(prefix) and \
                    os.path.isdir(os.path.join(out_dir, name)):
                on_disk.add(name[len(prefix):])
    want = {str(r[0]) for r in
            expected.select(expected.columns[0]).distinct().collect()
            if r[0] is not None}
    rows = ([(p, "missing") for p in sorted(want - on_disk)]
            + [(p, "extra") for p in sorted(on_disk - want)])
    return local_df(spark, rows or [],
                    "partition string, status string")
