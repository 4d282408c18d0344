"""Structured Streaming surface.

The reference is batch-only — "streaming" there is scheduled re-runs over
cursor/mtime state (SURVEY §2.8). This module supplies the real streaming
counterparts on Spark primitives:

* file streams (``readStream`` with an explicit schema — never infer on a
  stream) as the Auto-Loader-style continuation of the mtime-skip source;
* watermarked tumbling/sliding window aggregations for late data;
* built-in ``session_window`` gap sessionization;
* a custom stateful sessionizer on ``applyInPandasWithState`` — the pattern
  for operators Spark lacks (per-key state machine, Arrow-batched);
* ``*_epoch_writer`` foreachBatch callables that publish each micro-batch
  exactly once, and launchers (``stream_to_table`` and its siblings) that
  drain a stream through them under Trigger.AvailableNow and block until
  it is consumed.

Exactly-once on the snapshot-commit table (sinks/table_commit.FsTable):
``foreachBatch`` delivers at least once, so every FsTable epoch writer
commits the epoch id inside the same snapshot as its data, under the
property ``stream.epoch.{query_id}`` (Delta's txnAppId + txnVersion). The
query id is the streaming query's own (see :func:`_query_id_resolver`),
so two queries, or a rebuilt checkpoint, never suppress each other. Before
any work an epoch reads the head of its branch (creating a missing tenant
branch at main's head) and returns when the recorded epoch is ``>=`` its
own: a replay after a crash between our commit and Spark's checkpoint
commit is a no-op. Properties merge parent to child on commit
(table_commit.add_files), so interleaved commits from other queries on the
same branch never erase this query's marker, and parquet staged before a
crash stays invisible until its manifest lands. The rule lives in
:func:`_exactly_once`; each writer supplies only its commit.

Scale notes: windowed aggs shuffle once on (key, window) and keep state
bounded by the watermark horizon; ``applyInPandasWithState`` partitions by
the grouping key so state is sharded across executors — both survive a
1000-executor deployment as long as keys aren't pathologically skewed
(events data: user_id keys, uniform).
"""

from __future__ import annotations

import datetime as _dt
import logging
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stream_from_files(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    options: dict | None = None,
) -> DataFrame:
    """File-source stream (one micro-batch per new file set)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def _watermarkable(df: DataFrame, ts_col: str) -> DataFrame:
    """Normalize the event-time column for ``withWatermark``.

    Parquet timestamps read back as TIMESTAMP_NTZ under Spark 4's inference,
    but Structured Streaming event time must be TIMESTAMP (LTZ) —
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise. The session runs in UTC
    (session.py), so the cast is wall-clock preserving and batch oracles
    stay comparable."""
    field = df.schema[ts_col]
    if isinstance(field.dataType, T.TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast(T.TimestampType()))
    return df


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    window: str,
    slide: str | None = None,
    watermark: str | None = "10 minutes",
    keys: list[str] | None = None,
    value_col: str | None = None,
) -> DataFrame:
    """Tumbling (or sliding, with ``slide``) windowed count/sum.

    Works identically on batch and streaming frames — the batch run is the
    oracle for the streaming run in tests. Output: keys + window_start /
    window_end + n_events (+ sum_value when ``value_col``)."""
    if watermark is not None and df.isStreaming:
        df = _watermarkable(df, ts_col).withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window, slide) if slide else \
        F.window(F.col(ts_col), window)
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 2).alias("sum_value"))
    grouped = df.groupBy(win.alias("w"), *[F.col(k) for k in (keys or [])])
    return grouped.agg(*aggs).select(
        *(keys or []),
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n_events",
        *(["sum_value"] if value_col is not None else []),
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Built-in gap sessionization: a session extends while successive
    events arrive within ``gap``; ``session_end`` = last event + gap."""
    if watermark is not None and df.isStreaming:
        df = _watermarkable(df, ts_col).withWatermark(ts_col, watermark)
    grouped = df.groupBy(F.session_window(F.col(ts_col), gap).alias("s"),
                         *[F.col(k) for k in keys])
    return grouped.agg(F.count(F.lit(1)).alias("n_events")).select(
        *keys,
        F.col("s.start").alias("session_start"),
        F.col("s.end").alias("session_end"),
        "n_events",
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    upper: str = "1 hour",
    lower: str = "0 seconds",
    watermark: str | None = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream (or batch) interval join: pair rows sharing ``keys``
    where ``right_ts ∈ [left_ts - lower, left_ts + upper]``.

    The canonical Structured Streaming two-stream pattern (click ⋈
    purchase attribution): both sides get event-time watermarks and the
    join condition bounds event-time distance, which is exactly what lets
    Spark expire join state — without the time bound a stream-stream join
    must buffer both streams forever. State per side is O(rows within
    watermark + interval), independent of stream age.

    On batch frames the same equi-join + range predicate shuffles both
    sides once on ``keys`` (SMJ under AQE) — no pair blow-up beyond the
    true output; batch runs are the oracle for streaming runs in tests.
    Column collisions are the caller's concern: pre-select/alias sides.
    """
    if left.isStreaming and watermark is not None:
        left = _watermarkable(left, left_ts).withWatermark(left_ts, watermark)
    if right.isStreaming and watermark is not None:
        right = _watermarkable(right, right_ts)\
            .withWatermark(right_ts, watermark)
    lts, rts = F.col(left_ts), F.col(right_ts)
    cond = (
        (rts >= lts - F.expr(f"INTERVAL {lower}"))
        & (rts <= lts + F.expr(f"INTERVAL {upper}"))
    )
    for k in keys:
        cond = (left[k] == right[k]) & cond
    return left.join(right, cond, how)


def enrich_with_dimension(
    stream: DataFrame,
    dim: DataFrame,
    keys: list[str],
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static dimension enrichment: join each micro-batch against a
    static (or slowly-changing) dimension table.

    The canonical Structured Streaming lookup pattern: the static side is
    re-evaluated per micro-batch, so a dimension backed by a file/table
    source picks up slowly-changing updates between batches without
    restarting the query. With ``broadcast_dim`` (the default, matching the
    repo's small-dim policy) the dimension hash table ships to executors
    and the STREAM side never shuffles — per-batch cost is a map-side hash
    join, no state store involved (unlike stream-stream joins there is
    nothing to expire: the static side is bounded by definition).

    ``how`` is restricted to the types Structured Streaming supports for
    stream-static joins with a static right side (inner / left outer /
    left semi) — a right/full outer would need the unmatched STATIC rows,
    which is unknowable while the stream is unbounded.

    At 100 TB-of-stream: the only scale knob is the dimension size — past
    the broadcast threshold set ``broadcast_dim=False`` and the join
    becomes a per-batch shuffled hash join (still stateless). Works
    identically on batch frames, which is how tests oracle it.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi"}
    if how not in allowed:
        raise ValueError(
            f"stream-static join supports {sorted(allowed)}, got {how!r}"
        )
    right = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(right, on=keys, how=how)


def expectations_gate(
    expectations: list[dict],
    write_batch,
    on_fail: str = "abort",
):
    """foreachBatch wrapper enforcing data-quality expectations per
    micro-batch (operators/quality.py — same engine the batch runner
    gates on, so batch and streaming jobs share one DQ vocabulary).

    Each micro-batch pays one aggregate pass (conditional counts) before
    its write. ``on_fail``:

    * ``abort``: raise — the query stops and the failed batch is NOT
      written; on restart the source replays it (strict semantics).
    * ``skip``: drop the offending batch, keep the stream alive (the
      quarantine move — log carries the report).
    * ``log``: write anyway, warn with the report (monitoring mode).

    Returns a ``(batch_df, epoch_id)`` callable for
    ``writeStream.foreachBatch``. Freshness checks need a literal
    ``as_of`` — in a stream that means the watermark/window logic should
    own recency, not this gate.
    """
    if on_fail not in ("abort", "skip", "log"):
        raise ValueError(f"on_fail must be abort|skip|log, got {on_fail!r}")
    from dativo_ingest_spark.operators import quality

    logger = logging.getLogger(__name__)

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        results = quality.run_expectations(batch_df, expectations)
        failed = [r for r in results if not r.passed]
        if failed:
            report = [{"name": r.name, "failed": r.failed, "total": r.total}
                      for r in failed]
            if on_fail == "abort":
                raise RuntimeError(
                    f"epoch {epoch_id}: dq expectations failed: {report}")
            logger.warning("epoch %s dq failures (%s): %s",
                           epoch_id, on_fail, report)
            if on_fail == "skip":
                return
        write_batch(batch_df, epoch_id)

    return _apply


def dedup_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key within the
    watermark horizon — the streaming counterpart of
    ``operators/dedup.exact_dedup`` for at-least-once upstream sources
    (file redelivery, Kafka replays).

    ``dropDuplicatesWithinWatermark`` bounds the dedup state by event time:
    state for a key is dropped once the watermark passes it, so memory is
    O(keys per horizon) instead of O(all keys ever) — the property that
    keeps this runnable forever on a 1000-executor cluster. On a batch
    frame it falls back to plain ``dropDuplicates`` (same result set when
    all data is in hand), so batch runs remain the oracle for streaming
    runs in tests."""
    if df.isStreaming:
        return _watermarkable(df, ts_col).withWatermark(ts_col, watermark)\
            .dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


SESSION_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
])

_SESSION_STATE_SCHEMA = T.StructType([
    T.StructField("start", T.LongType()),   # epoch nanoseconds (exact)
    T.StructField("last", T.LongType()),
    T.StructField("count", T.LongType()),
])


def stateful_sessionize(
    events: DataFrame,
    gap_seconds: float = 1800.0,
    key_col: str = "user_id",
    ts_col: str = "ts",
    flush_on_timeout: bool = False,
) -> DataFrame:
    """Custom per-key session state machine via ``applyInPandasWithState``.

    Emits a session row whenever a key's gap is exceeded by a newly arrived
    event. Demonstrates the escape hatch for stateful operators the
    built-ins can't express (e.g. sessions with per-event dynamic gaps); for
    the fixed-gap case prefer :func:`session_window_agg` (JVM-side state
    store, RocksDB-backed).

    ``flush_on_timeout=True`` additionally closes idle sessions after
    ``gap_seconds`` of *processing* time — for continuously running
    deployments. Leave it off for bounded/Trigger.AvailableNow runs:
    processing-time timeouts keep scheduling wake-up micro-batches, so an
    AvailableNow query never terminates (observed on Spark 4.1: endless
    empty epochs).

    ``session_end`` is the last event time + gap, matching
    ``session_window`` semantics so both operators are interchangeable.
    """
    import pandas as pd  # executor-side

    gap_ns = int(gap_seconds * 1_000_000_000)

    def emit(user, sessions: list[tuple[int, int, int]]) -> "pd.DataFrame":
        return pd.DataFrame({
            "user_id": [user] * len(sessions),
            "session_start": [pd.Timestamp(s, unit="ns") for s, _, _ in sessions],
            "session_end": [pd.Timestamp(e + gap_ns, unit="ns")
                            for _, e, _ in sessions],
            "n_events": [c for _, _, c in sessions],
        })

    def fn(key: tuple, pdfs: Iterator["pd.DataFrame"],
           state: GroupState) -> Iterator["pd.DataFrame"]:
        (user,) = key
        if state.hasTimedOut:
            start, last, count = state.get
            state.remove()
            yield emit(user, [(start, last, count)])
            return
        ts_values: list[int] = []
        for pdf in pdfs:
            # exact integer ns regardless of the pandas datetime unit
            ns = pdf[ts_col].to_numpy().astype("datetime64[ns]").astype("int64")
            ts_values.extend(int(v) for v in ns)
        ts_values.sort()
        start, last, count = state.get if state.exists else (None, None, 0)
        closed: list[tuple[int, int, int]] = []
        for t in ts_values:
            if start is None:
                start, last, count = t, t, 1
            elif t - last >= gap_ns:
                closed.append((start, last, count))
                start, last, count = t, t, 1
            else:
                last, count = t, count + 1
        state.update((start, last, count))
        if flush_on_timeout:
            state.setTimeoutDuration(int(gap_seconds * 1000))
        if closed:
            yield emit(user, closed)

    return (
        events.groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout
                         if flush_on_timeout else GroupStateTimeout.NoTimeout),
        )
    )


def run_available_now(
    stream_df: DataFrame,
    table_name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
) -> None:
    """Drain a stream into a memory sink with Trigger.AvailableNow and block
    until done (test/CI helper; production writes go to parquet/Kafka sinks
    with the same trigger for incremental batch)."""
    _drain(stream_df.writeStream.format("memory").queryName(table_name)
           .outputMode(output_mode), checkpoint_dir)


def _drain(writer, checkpoint_dir: str) -> None:
    """Start a configured ``DataStreamWriter`` from ``checkpoint_dir``
    under Trigger.AvailableNow and block until it has consumed all input
    available at start (a failed micro-batch raises here)."""
    writer.option("checkpointLocation", checkpoint_dir)\
        .trigger(availableNow=True).start().awaitTermination()


def stream_to_partitioned_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    partitioning: list[str] | None = None,
    target_file_size_mb: int = 150,
) -> None:
    """Continuous ingestion into the same size-targeted hive layout the
    batch sink writes (sinks/parquet_sink.py), via ``foreachBatch`` — the
    streaming-native upgrade of the reference's mtime-skip state
    (validator.py:309-349). Blocks until drained under AvailableNow.

    Delivery: ``foreachBatch`` is at-least-once, so replayed epochs are
    suppressed with a per-epoch marker file (written after the append,
    atomic rename). A restart replays only already-marked epochs and
    skips them; the residual window — a crash after the parquet append
    completes but before the marker lands — can duplicate that one epoch.
    For strict exactly-once use :func:`stream_to_table`, whose staged
    snapshot commit closes that window.
    """
    _drain(stream_df.writeStream.foreachBatch(hive_epoch_writer(
        path, partitioning, target_file_size_mb,
        checkpoint_dir=checkpoint_dir)), checkpoint_dir)


def _query_id_resolver(query_id: str | None, checkpoint_dir: str | None):
    """Stable per-query identity for epoch dedup (Delta's ``txnAppId``).

    Epoch ids are checkpoint-scoped: a fresh checkpoint restarts at 0, so a
    bare ``epoch_id`` marker written by an earlier query on the same output
    would silently swallow the new query's first batches. Scope every marker
    by the streaming query id Spark persists in ``<checkpoint>/metadata`` —
    it survives restarts from the same checkpoint (replays dedup) and is
    regenerated for a fresh checkpoint (no false skip). Resolution is lazy:
    the metadata file exists by the time the first micro-batch runs."""
    if (query_id is None) == (checkpoint_dir is None):
        raise ValueError("pass exactly one of query_id / checkpoint_dir")

    def resolve() -> str:
        nonlocal query_id
        if query_id is None:
            import json as _json
            import os as _os
            with open(_os.path.join(checkpoint_dir, "metadata")) as fh:
                query_id = _json.loads(fh.read())["id"]
        return query_id

    return resolve


def _marker(query_id: str, epoch_id: int) -> dict[str, str]:
    """The snapshot property recording ``epoch_id`` for one query."""
    return {f"stream.epoch.{query_id}": str(epoch_id)}


def _committed(properties, marker: dict[str, str]) -> bool:
    """The replay rule: ``properties`` already record the marker's query
    at an epoch ``>=`` the marker's own."""
    ((key, epoch),) = marker.items()
    last = properties.get(key)
    return last is not None and int(last) >= int(epoch)


def _exactly_once(table, branch: str, query_id: str | None,
                  checkpoint_dir: str | None, commit):
    """foreachBatch callable for an FsTable epoch writer (the recipe in
    the module docstring): a replayed epoch returns at the head of
    ``branch``, any other calls ``commit(batch_df, marker)``, which must
    commit ``marker`` in the properties of the snapshot it publishes."""
    qid = _query_id_resolver(query_id, checkpoint_dir)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        marker = _marker(qid(), epoch_id)
        if not _committed(table.head(branch).properties, marker):
            commit(batch_df, marker)

    return write_batch


def hive_epoch_writer(path, partitioning, target_file_size_mb=150,
                      query_id: str | None = None,
                      checkpoint_dir: str | None = None):
    """foreachBatch callable: size-targeted hive append with marker-based
    epoch replay suppression (module-level so tests can drive replays).
    Markers live under ``_epochs/{query_id}/`` so two queries (or a rebuilt
    checkpoint) on the same output path never suppress each other."""
    import os

    from dativo_ingest_spark.sinks import parquet_sink

    qid = _query_id_resolver(query_id, checkpoint_dir)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        marker_dir = os.path.join(path, "_epochs", qid())
        marker = os.path.join(marker_dir, f"{epoch_id}.committed")
        if os.path.exists(marker):  # replayed epoch: already appended
            return
        if not batch_df.isEmpty():
            parquet_sink.write_partitioned(
                batch_df, path, partitioning or [],
                target_file_size_mb=target_file_size_mb, mode="append",
            )
        os.makedirs(marker_dir, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write("1")
        os.rename(tmp, marker)

    return write_batch


def shard_epoch_writer(out_dir: str, id_col: str, token_col: str,
                       n_shards: int = 8, seed: str = "epoch0",
                       query_id: str | None = None,
                       checkpoint_dir: str | None = None,
                       fmt: str = "parquet"):
    """foreachBatch callable: the streaming sibling of
    sinks/shard_export.export_training_shards — append each micro-batch
    to the SAME deterministic ``md5(seed || id) % n_shards`` layout and
    republish the manifest epoch-atomically.

    Exactly-once without a table format, by construction:

    * each epoch writes into its OWN partition directory
      ``epoch=<id>/shard=<k>`` with mode=overwrite — a replayed epoch
      (at-least-once delivery) overwrites the same directory
      byte-identically (the md5 assignment is re-run/AQE-stable), so a
      crash ANYWHERE in the write window can never duplicate rows;
    * per-shard stats (n_rows, n_tokens, hash_sum) are computed from
      the epoch's files READ BACK, then the epoch marker — stats
      included — publishes via temp-file + atomic rename;
    * the manifest (``manifest.json``) is a pure fold of all committed
      epoch markers, rewritten temp+rename after every epoch: readers
      and auditors always see a complete manifest for a prefix of
      committed epochs, NEVER a half-published state. A crash between
      the shard write and the marker/manifest publish leaves orphan
      ``epoch=<id>`` files that no manifest references; the replay
      overwrites and then publishes them.

    Scale: the per-epoch shuffle is batch-sized (one
    repartition+sortWithinPartitions, exactly the batch path); the
    manifest fold is O(epochs x shards) driver-side JSON — thousands
    of epochs x thousands of shards, never row-scaled.

    Audit with sinks/shard_export.audit_streaming_shards — the
    trainer-side recount over committed epochs only.
    """
    import json as _json
    import os

    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    if fmt not in ("parquet", "jsonl"):
        raise ValueError(f"fmt must be parquet or jsonl, got {fmt!r}")
    from dativo_ingest_spark.sinks.shard_export import _shard_hash

    qid = _query_id_resolver(query_id, checkpoint_dir)

    def republish_manifest(marker_dir: str, epoch_id: int) -> None:
        # the manifest is a pure fold of ALL committed markers —
        # idempotent, so it is safe (and necessary) to re-run on a
        # replayed epoch: a crash after the marker rename but before
        # the manifest rename would otherwise leave that committed
        # epoch missing from the manifest FOREVER when it was the
        # run's last epoch (readers and audits durably undercount)
        epochs, totals = [], {}
        for name in sorted(os.listdir(marker_dir)):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(marker_dir, name)) as fh:
                m = _json.load(fh)
            epochs.append(int(m["epoch"]))
            for s in m["shards"]:
                t = totals.setdefault(
                    int(s["shard"]),
                    {"n_rows": 0, "n_tokens": 0, "hash_sum": 0})
                t["n_rows"] += s["n_rows"]
                t["n_tokens"] += s["n_tokens"]
                t["hash_sum"] += s["hash_sum"]
        man = os.path.join(out_dir, "manifest.json")
        tmp = man + f".tmp.{epoch_id}"
        with open(tmp, "w") as fh:
            _json.dump({"version": epoch_id, "query_id": qid(),
                        "n_shards": n_shards, "seed": seed,
                        # recorded at export time so the audit never
                        # has to sniff part-file extensions (ADVICE r12
                        # — sniffing bound audits to local paths)
                        "format": fmt,
                        "epochs": sorted(epochs),
                        "shards": {str(k): v
                                   for k, v in sorted(totals.items())}},
                       fh)
        os.rename(tmp, man)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        marker_dir = os.path.join(out_dir, "_epochs", qid())
        marker = os.path.join(marker_dir, f"{epoch_id}.json")
        if os.path.exists(marker):  # replayed epoch: already appended —
            # but the manifest republish may not have happened (crash
            # between marker rename and manifest rename): refold anyway
            republish_manifest(marker_dir, epoch_id)
            return
        # single-writer layout: unlike hive appends (file-grained, safe
        # to share), TWO queries here would collide on epoch=N dirs
        # (epoch ids are checkpoint-scoped) and clobber each other's
        # manifest refold — fail fast instead of corrupting silently
        man_path = os.path.join(out_dir, "manifest.json")
        if os.path.exists(man_path):
            with open(man_path) as fh:
                _owner = _json.load(fh).get("query_id")
            if _owner is not None and _owner != qid():
                raise RuntimeError(
                    f"shard layout {out_dir} is owned by streaming "
                    f"query {_owner!r}; this query is {qid()!r} — "
                    "epoch-scoped directories cannot be shared across "
                    "queries (point each query at its own out_dir)")
        spark = batch_df.sparkSession
        epoch_dir = os.path.join(out_dir, f"epoch={epoch_id}")
        stats: list = []
        if not batch_df.isEmpty():
            from pyspark.sql import Observation

            from dativo_ingest_spark.operators.dedup import (
                observation_or_none)

            h = _shard_hash(id_col, seed)
            staged = batch_df.select(
                F.col(id_col).alias("id"),
                F.coalesce(F.col(token_col).cast("long"), F.lit(0))
                .alias("n_tokens"),
                h.alias("_h"),
                (h % n_shards).cast("long").alias("shard"))
            # per-shard stats ride the epoch write itself as observe()
            # metrics (n_shards x 3 conditional aggregates over the rows
            # the writer emits — identical values to the old post-write
            # read-back, which cost one extra full-epoch job per batch).
            # observe() discards updates from failed/retried tasks, and
            # the marker below still publishes only AFTER the write
            # returned, so the exactly-once contract is untouched.
            obs = Observation()
            metrics = []
            for k in range(n_shards):
                is_k = F.col("shard") == k
                metrics += [
                    F.count(F.when(is_k, 1)).alias(f"r{k}"),
                    F.sum(F.when(is_k, F.col("n_tokens"))
                          .otherwise(F.lit(0))).alias(f"t{k}"),
                    F.sum(F.when(is_k, F.col("_h"))
                          .otherwise(F.lit(0))).alias(f"h{k}"),
                ]
            observed = (staged.repartition(n_shards, "shard")
                        .sortWithinPartitions("shard", "_h", "id")
                        .observe(obs, metrics[0], *metrics[1:]))
            writer = observed.write.mode("overwrite").partitionBy("shard")
            if fmt == "jsonl":
                # same container option as the batch exporter
                # (sinks/shard_export.export_training_shards fmt) —
                # newline-delimited JSON epochs a trainer loader streams
                # directly
                writer.json(epoch_dir)
            else:
                writer.option("compression", "snappy").parquet(epoch_dir)
            got = observation_or_none(
                obs, "recounting the epoch's shards from its files")
            if got is not None:
                stats = [
                    {"shard": k, "n_rows": int(got[f"r{k}"]),
                     "n_tokens": int(got[f"t{k}"]),
                     "hash_sum": int(got[f"h{k}"])}
                    for k in range(n_shards) if int(got[f"r{k}"])]
            else:
                # the pre-r15 read-back: exact either way
                if fmt == "jsonl":
                    back = (spark.read
                            .schema(staged.drop("shard").schema)
                            .option("basePath", epoch_dir)
                            .json(f"{epoch_dir}/shard=*"))
                else:
                    back = spark.read.parquet(epoch_dir)
                stats = [
                    {"shard": int(r.shard), "n_rows": int(r.n_rows),
                     "n_tokens": int(r.n_tokens),
                     "hash_sum": int(r.hash_sum)}
                    for r in (back
                              .groupBy("shard")
                              .agg(F.count(F.lit(1)).alias("n_rows"),
                                   F.sum("n_tokens").alias("n_tokens"),
                                   F.sum("_h").alias("hash_sum"))
                              .collect())]
                stats.sort(key=lambda s: s["shard"])
        os.makedirs(marker_dir, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump({"epoch": epoch_id, "shards": stats}, fh)
        os.rename(tmp, marker)

        # republish the manifest from ALL committed markers — a pure
        # fold, atomic swap; a reader never observes a torn manifest
        republish_manifest(marker_dir, epoch_id)

    return write_batch


def table_epoch_writer(table, branch: str = "main",
                       properties: dict[str, str] | None = None,
                       query_id: str | None = None,
                       checkpoint_dir: str | None = None):
    """foreachBatch callable appending each epoch to the FsTable ``table``
    as one snapshot on ``branch``; ``properties`` ride along with the
    epoch marker."""

    def commit(batch_df: DataFrame, marker: dict[str, str]) -> None:
        table.write_append(batch_df, branch=branch,
                           properties={**(properties or {}), **marker})

    return _exactly_once(table, branch, query_id, checkpoint_dir, commit)


def iceberg_epoch_writer(table_ident: str, branch: str = "main",
                         properties: dict[str, str] | None = None,
                         query_id: str | None = None,
                         checkpoint_dir: str | None = None,
                         sink=None):
    """foreachBatch callable committing each epoch as one REAL Iceberg
    snapshot (jar-present deployments) — the native-catalog twin of
    :func:`table_epoch_writer`, with the same marker key and replay rule.
    The marker rides in the SNAPSHOT SUMMARY, written atomically inside
    the data commit via the ``snapshot-property.<key>`` write option and
    read back from snapshot history (iceberg_sink.get_snapshot_property).
    TBLPROPERTIES would NOT be safe here: a property write is a second
    transaction after the append, and a crash in between would leave the
    epoch unrecorded — the replay would append again (duplicates).
    ``sink`` is injectable for tests; defaults to
    :mod:`dativo_ingest_spark.sinks.iceberg_sink`."""
    if sink is None:
        from dativo_ingest_spark.sinks import iceberg_sink as sink

    qid = _query_id_resolver(query_id, checkpoint_dir)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = _marker(qid(), epoch_id)
        (key,) = marker
        last = sink.get_snapshot_property(spark, table_ident, key)
        if _committed({key: last}, marker):
            return
        sink.commit(
            spark, batch_df, table_ident, mode="append", branch=branch,
            properties=properties, snapshot_properties=marker,
        )

    return write_batch


def stream_to_iceberg(
    stream_df: DataFrame,
    table_ident: str,
    checkpoint_dir: str,
    branch: str = "main",
) -> None:
    """Exactly-once streaming ingestion into a real Iceberg table:
    ``foreachBatch`` + :func:`iceberg_epoch_writer` (requires the catalog
    registered in the Spark conf — sinks/iceberg_sink.require_available)."""
    from dativo_ingest_spark.sinks import iceberg_sink

    iceberg_sink.require_available(stream_df.sparkSession, table_ident)
    _drain(stream_df.writeStream.foreachBatch(iceberg_epoch_writer(
        table_ident, branch, checkpoint_dir=checkpoint_dir)), checkpoint_dir)


def stream_to_table(
    stream_df: DataFrame,
    table_root: str,
    checkpoint_dir: str,
    branch: str = "main",
) -> None:
    """Exactly-once streaming ingestion into an FsTable (snapshot-commit
    sink): foreachBatch + :func:`table_epoch_writer`."""
    from dativo_ingest_spark.sinks.table_commit import FsTable

    table = FsTable.create(table_root)
    _drain(stream_df.writeStream.foreachBatch(table_epoch_writer(
        table, branch, checkpoint_dir=checkpoint_dir)), checkpoint_dir)


def rollup_epoch_writer(table, keys, measures, branch: str = "main",
                        query_id: str | None = None,
                        checkpoint_dir: str | None = None):
    """foreachBatch callable maintaining an incremental rollup (a streaming
    materialized view): each micro-batch folds into the persisted partial
    state and the NEW state commits as one atomic overwrite snapshot
    (operators/rollup.py:commit_rollup). The marker rides in that same
    commit, so state content and replay marker can never diverge and the
    fold is applied exactly once per batch. Readers serve queries from
    ``rollup.finalize(table.read(spark), keys, measures)`` at any time and
    flip atomically between consistent states.

    Scale: per-epoch cost is one shuffle over the micro-batch plus a merge
    proportional to the ROLLUP KEY COUNT — never a rescan of history.
    State stays compact by construction (one row per key), so the overwrite
    rewrite is bounded by key cardinality, not stream length; at very large
    key counts the overwrite becomes a MERGE INTO on the keyed subset
    (sinks/table_commit.py:merge_upsert is the swap point).
    """
    from dativo_ingest_spark.operators import rollup

    def commit(batch_df: DataFrame, marker: dict[str, str]) -> None:
        rollup.commit_rollup(table, batch_df, keys, measures, branch=branch,
                             properties=marker)

    return _exactly_once(table, branch, query_id, checkpoint_dir, commit)


def stream_rollup(
    stream_df: DataFrame,
    table_root: str,
    keys,
    measures,
    checkpoint_dir: str,
    branch: str = "main",
):
    """Maintain a rollup table from a stream: foreachBatch +
    :func:`rollup_epoch_writer`. Returns the FsTable holding the state;
    query it with ``rollup.finalize(table.read(spark), keys, measures)``."""
    from dativo_ingest_spark.sinks.table_commit import FsTable

    table = FsTable.create(table_root)
    _drain(stream_df.writeStream.foreachBatch(rollup_epoch_writer(
        table, keys, measures, branch, checkpoint_dir=checkpoint_dir)),
        checkpoint_dir)
    return table


def scd2_epoch_writer(table, keys, ts_col, tracked, branch: str = "main",
                      tiebreaker: str | None = None,
                      collapse_unchanged: bool = True,
                      query_id: str | None = None,
                      checkpoint_dir: str | None = None):
    """foreachBatch callable maintaining an SCD type-2 dimension from a
    change stream: each micro-batch merges into the dimension and the new
    dimension commits as one atomic overwrite snapshot
    (operators/scd.py:commit_scd2).

    Unlike :func:`rollup_epoch_writer` the epoch marker is belt-and-
    braces, not load-bearing: merging an already-applied batch rebuilds
    identical history (scd2_merge is idempotent), so even a lost marker
    cannot corrupt the dimension — the marker just skips redundant work
    on replay."""
    from dativo_ingest_spark.operators import scd

    def commit(batch_df: DataFrame, marker: dict[str, str]) -> None:
        scd.commit_scd2(table, batch_df, keys, ts_col, tracked,
                        branch=branch, tiebreaker=tiebreaker,
                        collapse_unchanged=collapse_unchanged,
                        properties=marker)

    return _exactly_once(table, branch, query_id, checkpoint_dir, commit)


def dedup_epoch_writer(out_table, index_table, id_col: str,
                       content_col: str, mode: str = "exact",
                       branch: str = "main",
                       query_id: str | None = None,
                       checkpoint_dir: str | None = None,
                       **dedup_opts):
    """foreachBatch callable: per-micro-batch dedup-on-ingest against a
    persistent index, with EXACTLY-ONCE publish — the streaming form of
    the runner's ``target.options.dedup`` (batch mode documents an
    at-least-once crash window; the replayed-epoch machinery here closes
    it).

    Each epoch: drop batch rows already in the corpus (``mode`` =
    ``exact`` fingerprints / ``minhash`` band signatures / ``embedding``
    LSH cells — operators/ingest_dedup.py), publish the survivors to
    ``out_table`` as ONE snapshot carrying the epoch marker, then append
    the survivors' index entries with the same marker. The INDEX head
    gates the epoch, and the out table is checked with the same marker,
    so every crash window is safe:

    * before publish → full replay, the dedup re-runs identically
      (deterministic vs the unchanged index);
    * between publish and index append → the replay passes the index
      gate, re-derives the SAME kept set from the unchanged index, finds
      the OUT marker and skips the publish (no duplicate rows — this is
      the window batch mode leaves open), and completes the index append;
    * after both → the replay sees the INDEX marker and returns.

    ``dedup_opts`` pass through to the mode's operator (threshold, bands,
    num_hashes, ...).
    """
    from dativo_ingest_spark.operators.ingest_dedup import IngestDedup

    dd = IngestDedup(mode, id_col, content_col, dedup_opts)

    def commit(batch_df: DataFrame, marker: dict[str, str]) -> None:
        kept, _, _, sig = dd.against_index(
            batch_df.sparkSession, batch_df, index_table, branch=branch)
        # the deferred entries carry the index codec's columns (PQ codes,
        # cell + residual codes), or the next epoch's reader finds the
        # wrong schema
        entries = dd.index_entries(kept, sig=sig)
        try:
            if not _committed(out_table.head(branch).properties, marker):
                out_table.write_append(kept, branch=branch,
                                       properties=marker)
            # index entries append AFTER the publish (crash re-derives,
            # never loses)
            index_table.write_append(entries, branch=branch,
                                     properties=marker)
        finally:
            kept.unpersist()
            if sig is not None:
                sig.unpersist()

    return _exactly_once(index_table, branch, query_id, checkpoint_dir,
                         commit)


def ivfpq_index_epoch_writer(index_table, artifact: dict, id_col: str,
                             vec_col: str, branch: str = "main",
                             query_id: str | None = None,
                             checkpoint_dir: str | None = None):
    """foreachBatch callable: keep the PERSISTED IVF-PQ retrieval index
    fresh under streaming ingestion (r13 verdict Next #6 — the
    retrieval sibling of :func:`dedup_epoch_writer`'s index leg). Each
    micro-batch encodes under the FROZEN ``artifact`` (the identical
    expressions a batch ``ivfpq_index_append`` uses — mismatched
    codebooks silently mis-encode, so the artifact rides the closure,
    never the batch) and appends its (id, cell, codes) rows as ONE
    cell-clustered snapshot carrying the epoch marker. Serving
    (:func:`ivfpq_index_topk`) keeps its manifest file prune — every
    epoch's files carry cell stats — and :func:`ivfpq_index_compact` is
    the scheduled maintenance that collapses the per-epoch
    fragmentation."""
    from dativo_ingest_spark.operators.quantization import (
        ivfpq_index_append)

    def commit(batch_df: DataFrame, marker: dict[str, str]) -> None:
        ivfpq_index_append(batch_df, id_col, vec_col, index_table,
                           artifact, branch=branch, properties=marker)

    return _exactly_once(index_table, branch, query_id, checkpoint_dir,
                         commit)


def stream_index_ivfpq(
    stream_df: DataFrame,
    index_root: str,
    id_col: str,
    vec_col: str,
    artifact: dict,
    checkpoint_dir: str,
    branch: str = "main",
):
    """Continuously append a vector stream to a persisted IVF-PQ
    retrieval index: foreachBatch + :func:`ivfpq_index_epoch_writer`.
    Returns the index FsTable (train the artifact on a sample FIRST —
    the index serves only under the artifact it was encoded with)."""
    from dativo_ingest_spark.sinks.table_commit import FsTable

    index_table = FsTable.create(index_root)
    _drain(stream_df.writeStream.foreachBatch(ivfpq_index_epoch_writer(
        index_table, artifact, id_col, vec_col, branch=branch,
        checkpoint_dir=checkpoint_dir)), checkpoint_dir)
    return index_table


def stream_dedup_to_table(
    stream_df: DataFrame,
    out_root: str,
    index_root: str,
    id_col: str,
    content_col: str,
    checkpoint_dir: str,
    mode: str = "exact",
    branch: str = "main",
    **dedup_opts,
):
    """Continuously ingest a stream into a deduplicated corpus table:
    foreachBatch + :func:`dedup_epoch_writer`. Returns
    ``(out_table, index_table)``."""
    from dativo_ingest_spark.sinks.table_commit import FsTable

    out_table = FsTable.create(out_root)
    index_table = FsTable.create(index_root)
    _drain(stream_df.writeStream.foreachBatch(dedup_epoch_writer(
        out_table, index_table, id_col, content_col, mode=mode,
        branch=branch, checkpoint_dir=checkpoint_dir, **dedup_opts)),
        checkpoint_dir)
    return out_table, index_table


def window_rollup_epoch_writer(table, keys: list[str],
                               query_id: str | None = None,
                               checkpoint_dir: str | None = None):
    """foreachBatch callable publishing an UPDATE-mode windowed aggregation
    into an FsTable by key upsert: each micro-batch's changed window rows
    MERGE over their previous values (sinks/table_commit.py:merge_upsert),
    with the epoch marker inside the same snapshot.

    Update mode re-emits a window's CURRENT total whenever a batch touches
    it, so replace-by-key is the correct fold and emission timing never
    matters: the table converges to per-window totals over every row the
    watermark admitted, whether or not a final no-data batch ran (the
    append-mode flush dependence this design deliberately avoids).

    Scale: per-epoch cost is the micro-batch agg plus a MERGE bounded by
    the touched-window count — the updates' key bounds prune the rewrite
    to recent files via manifest stats, so old windows carry by reference.
    """

    def commit(batch_df: DataFrame, marker: dict[str, str]) -> None:
        if not table.head().files:
            table.write_append(batch_df, stats_columns=list(keys),
                               properties=marker)
        else:
            table.merge_upsert(batch_df.sparkSession, batch_df,
                               keys=list(keys), stats_columns=list(keys),
                               properties=marker)

    return _exactly_once(table, "main", query_id, checkpoint_dir, commit)


def stream_windowed_rollup(
    stream_df: DataFrame,
    table_root: str,
    ts_col: str,
    window: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    keys: list[str] | None = None,
    value_cents_col: str | None = None,
):
    """Watermarked tumbling-window rollup from a stream into an FsTable:
    late rows land or drop by the engine's watermark (state for closed
    windows is gone, so a row later than the horizon cannot re-open its
    window), and every admitted update upserts exactly-once via
    :func:`window_rollup_epoch_writer`.

    Measures: ``n_events`` plus, when ``value_cents_col`` names a DOUBLE
    column, ``sum_cents`` — the value quantized to integer cents PER ROW
    before summation, so totals are exact bigints under any batch
    boundary or partial-agg order (the oracle-parity discipline applied
    to streaming state). Returns the FsTable holding one row per
    (window_start [, keys]).
    """
    from dativo_ingest_spark.sinks.table_commit import FsTable

    group_keys = list(keys or [])
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_cents_col is not None:
        aggs.append(F.sum(
            F.expr(f"CAST(floor(`{value_cents_col}` * 100 + 0.5) "
                   "AS BIGINT)")).alias("sum_cents"))
    agged = (
        _watermarkable(stream_df, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"),
                 *[F.col(k) for k in group_keys])
        .agg(*aggs)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *group_keys,
            *[a_name for a_name in
              (["n_events"] + (["sum_cents"]
                               if value_cents_col is not None else []))],
        )
    )
    table = FsTable.create(table_root)
    _drain(agged.writeStream.outputMode("update").foreachBatch(
        window_rollup_epoch_writer(table, ["window_start"] + group_keys,
                                   checkpoint_dir=checkpoint_dir)),
        checkpoint_dir)
    return table


def wap_epoch_writer(table, expectations: list[dict],
                     query_id: str | None = None,
                     checkpoint_dir: str | None = None,
                     on_fail: str = "skip"):
    """foreachBatch callable running Write-Audit-Publish per micro-batch
    (sinks/table_commit.py:write_audit_publish): each epoch stages on a
    fresh audit branch, the shared expectations engine audits the full
    post-append state, and only passing epochs publish — a consumer of
    the target branch can NEVER observe a batch that failed its audit,
    which the plain :func:`expectations_gate` (audits the batch frame
    before an append) cannot promise under a crash between gate and
    sink.

    The epoch marker rides INSIDE the publish commit's properties, so a
    replayed epoch is suppressed before any audit work. Failed epochs
    leave their evidence on the uuid audit branch; ``on_fail='skip'``
    quarantines and continues (``'abort'`` re-raises to stop the stream —
    strict semantics, the source replays the batch on restart).

    Scale: per epoch = one expectations aggregate over the audited state
    plus a manifest-only publish (data files shared by reference).
    """
    if on_fail not in ("skip", "abort"):
        raise ValueError(f"on_fail must be skip|abort, got {on_fail!r}")
    logger = logging.getLogger(__name__)

    def commit(batch_df: DataFrame, marker: dict[str, str]) -> None:
        ok, results, branch = table.write_audit_publish(
            batch_df.sparkSession, batch_df, expectations,
            publish_properties=marker)
        if not ok:
            (epoch_id,) = marker.values()
            failed = [r.name for r in results if not r.passed]
            if on_fail == "abort":
                raise RuntimeError(
                    f"epoch {epoch_id}: audit failed {failed}; "
                    f"evidence on branch {branch!r}")
            logger.warning(
                "epoch %s quarantined on branch %r (failed: %s)",
                epoch_id, branch, failed)

    return _exactly_once(table, "main", query_id, checkpoint_dir, commit)


def mixture_admission_gate(rates_micro: dict, domain_col: str,
                           id_col: str, write_batch,
                           salt: str = "mixture",
                           default_rate_micro: int = 0):
    """foreachBatch wrapper admitting each micro-batch to a FROZEN
    training mixture before its write — the streaming sibling of the
    runner's ``shard.mixture`` target, composed exactly the way the
    KS/PSI gates compose with :func:`expectations_gate`: solve
    ``doremi_domain_weights`` ONCE on a reference corpus, convert to
    per-domain admission rates
    (``operators/sampling.py:mixture_admission_rates``), freeze them,
    and let every epoch admit through the same deterministic hash
    predicate.

    Per row: admit iff ``u32(md5(salt|id)) * 1e6 < rate_micro(domain)
    * 2^32`` — the md5-uniform scan-stage predicate every sampler here
    shares, so admission is a pure function of (salt, id, rates):
    replayed epochs admit the IDENTICAL rows (exactly-once composes
    with the epoch writer's overwrite), a restart changes nothing, and
    the admitted stream equals the batch predicate applied to the
    union of all batches — no per-epoch state, no windows, no caps to
    coordinate across executors. Domains missing from ``rates_micro``
    admit at ``default_rate_micro`` (default 0 = drop; the batch
    target's floor-to-1-doc rule has no rate analogue, so absent
    domains are an explicit caller decision here).

    Scale: one ``create_map`` literal lookup + one md5 per row,
    scan-stage, zero shuffle added; the rates map is mixture-sized
    (5-50 entries).
    """
    for d, r in rates_micro.items():
        if not (0 <= int(r) <= 1_000_000):
            raise ValueError(
                f"rate for domain {d!r} must be in [0, 1e6] micro: {r}")
    if not (0 <= int(default_rate_micro) <= 1_000_000):
        raise ValueError("default_rate_micro must be in [0, 1e6]")

    # Spark map keys cannot be NULL: a None domain (rows with a NULL
    # domain column fold to key None driver-side) rides the
    # default_rate path like any unlisted domain
    rates_micro = {d: r for d, r in rates_micro.items() if d is not None}
    pairs = [x for kv in rates_micro.items() for x in kv]
    rate_map = F.create_map(*[F.lit(x) for x in pairs]) if pairs else None

    def _admit(batch_df: DataFrame) -> DataFrame:
        u32 = F.conv(F.substring(F.md5(F.concat(
            F.lit(salt), F.lit("|"),
            F.col(id_col).cast("string"))), 1, 8), 16, 10).cast("long")
        rate = (F.coalesce(rate_map[F.col(domain_col)],
                           F.lit(int(default_rate_micro)))
                if rate_map is not None
                else F.lit(int(default_rate_micro)))
        # u32 < 2^32 and rate <= 1e6: u32 * 1e6 < 2^52 — bigint-safe
        return batch_df.filter(
            u32 * F.lit(1_000_000) < rate.cast("long") * F.lit(1 << 32))

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        write_batch(_admit(batch_df), epoch_id)

    _apply.admit = _admit          # exposed for batch-equality audits
    return _apply


def _drift_gate(name: str, edges, value_col: str, write_batch, score,
                on_drift: str, quarantine_batch):
    """The action contract the PSI and KS gates share: bin each
    micro-batch against the frozen ``edges`` (operators/drift.py), and
    when ``score(counts)`` returns a drift report, ``skip`` (quarantine),
    ``abort`` (raise) or ``log`` (write anyway, warn)."""
    from dativo_ingest_spark.operators import drift

    if on_drift not in ("abort", "skip", "log"):
        raise ValueError(
            f"on_drift must be abort|skip|log, got {on_drift!r}")
    logger = logging.getLogger(__name__)

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        report = score(drift.bin_counts(batch_df, value_col, edges))
        if report is not None:
            report = {"epoch": epoch_id, **report}
            if on_drift == "abort":
                raise RuntimeError(f"{name} drift gate: {report}")
            logger.warning("%s drift gate (%s): %s", name, on_drift, report)
            if on_drift == "skip":
                if quarantine_batch is not None:
                    quarantine_batch(batch_df, epoch_id)
                return
        write_batch(batch_df, epoch_id)

    return _apply


def psi_drift_gate(reference, value_col: str, write_batch,
                   threshold_milli: int = 250, on_drift: str = "skip",
                   quarantine_batch=None):
    """foreachBatch wrapper gating each micro-batch on Population
    Stability Index against a FROZEN reference distribution — the
    DISTRIBUTIONAL complement of :func:`expectations_gate`: a unit
    change or silent upstream subsetting keeps every row individually
    valid (nulls fine, ranges fine) while shifting the population; PSI
    catches exactly that class before it reaches training.

    ``reference`` = (edges, counts) from
    ``operators/drift.py:drift_reference``. Per epoch: one scan-stage
    bin cascade + a k-row count collect; the PSI fold runs driver-side
    over k bins (``drift.psi_score``, the same Laplace-smoothed
    (p-q)*ln(p/q) as operators/profiling.py:psi_drift). Total PSI >=
    ``threshold_milli``/1000 (default 0.25 — the conventional
    'shifted' bar) triggers ``on_drift``:

    * ``skip``: quarantine — the batch is NOT written; when
      ``quarantine_batch`` is given the batch lands there instead
      (e.g. a ``table_epoch_writer`` on a quarantine table), so
      drifted data is preserved for diagnosis, never silently lost.
    * ``abort``: raise — strict semantics, the source replays the
      epoch on restart.
    * ``log``: write anyway, warn with the per-bin report.
    """
    from dativo_ingest_spark.operators import drift

    edges, ref_counts = drift.check_reference(reference)

    def score(cur):
        psi = drift.psi_score(ref_counts, cur)
        if psi * 1000 >= threshold_milli:
            return {"psi": round(psi, 6), "bins": cur,
                    "reference": ref_counts}
        return None

    return _drift_gate("PSI", edges, value_col, write_batch, score,
                       on_drift, quarantine_batch)


def ks_drift_gate(reference, value_col: str, write_batch,
                  c_milli: int = 1358, on_drift: str = "skip",
                  quarantine_batch=None):
    """foreachBatch wrapper gating each micro-batch on the two-sample
    Kolmogorov-Smirnov statistic against a FROZEN reference
    (operators/profiling.py:ks_drift's streaming sibling): per epoch
    ONE scan-stage ``<=``-cascade bin count, then a driver-side fold
    over the bins (``drift.ks_score``) computes D = max |ECDF_ref -
    ECDF_batch| on the reference's quantile grid, with ECDF_ref taken
    from the reference's PERSISTED per-bin counts. Distribution-free,
    no stability rule of thumb: the batch quarantines/aborts/logs when
    D > (c_milli/1000) * sqrt((n+m)/(n*m)) — alpha 0.05 at the default
    1.358, 0.01 at 1.628. An empty batch is not a drift signal.

    ``reference`` = (cuts, counts) from
    ``operators/drift.py:drift_reference``; same action contract as
    :func:`psi_drift_gate`: ``skip`` (with optional
    ``quarantine_batch``), ``abort``, ``log``.
    """
    from dativo_ingest_spark.operators import drift

    cuts, ref_counts = drift.check_reference(reference)
    if not cuts or sum(ref_counts) <= 0:
        raise ValueError("reference must carry quantile cuts and a "
                         "positive row count")

    def score(cur):
        m = sum(cur)
        if m == 0:
            return None                       # nothing to test
        d_stat, crit = drift.ks_score(ref_counts, cur, c_milli)
        if d_stat > crit:
            return {"d_stat": round(d_stat, 6), "crit": round(crit, 6),
                    "n_batch": m, "bins": cur}
        return None

    return _drift_gate("KS", cuts, value_col, write_batch, score,
                       on_drift, quarantine_batch)


def quality_admission_gate(weights_micro: list[int], text_col: str,
                           write_batch, threshold_milli: int = 500):
    """foreachBatch wrapper admitting documents the TRAINED linear
    quality head scores at or above ``threshold_milli`` — the serving
    leg of ``operators/training.py``: train
    (:func:`~dativo_ingest_spark.operators.training.train_quality_logreg`)
    ONCE on a reference corpus, freeze the 5 integer weights, and let
    every epoch admit through the same deterministic score predicate
    (the frozen-artifact contract :func:`mixture_admission_gate` and
    the KS/PSI gates share).

    Per row: admit iff ``quality_score_milli(text) >= threshold`` —
    featurize + integer margin + hard sigmoid as ONE scan-stage Column
    expression (zero Python, zero shuffle, no per-epoch state), so
    admission is a pure function of (text, weights): replayed epochs
    admit IDENTICAL rows, a restart changes nothing, and the admitted
    stream equals the batch predicate over the union of all batches.
    NULL text scores as empty text (total function — a gate must not
    error on a malformed row).
    """
    from dativo_ingest_spark.operators.training import quality_score_milli

    if not (0 <= int(threshold_milli) <= 1000):
        raise ValueError("threshold_milli must be in [0, 1000]")
    score = quality_score_milli(text_col, [int(w) for w in weights_micro])

    def _admit(batch_df: DataFrame) -> DataFrame:
        return batch_df.filter(score >= F.lit(int(threshold_milli)))

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        write_batch(_admit(batch_df), epoch_id)

    _apply.admit = _admit          # exposed for batch-equality audits
    return _apply
