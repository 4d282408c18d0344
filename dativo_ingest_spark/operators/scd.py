"""Slowly-changing-dimension type-2 history construction and maintenance.

The reference ingests rows with a ``>=`` cursor and leaves "what did this
entity look like on date X" to the warehouse; SCD2 is the standard answer:
every entity version becomes a row with an [effective_from, effective_to)
validity interval, the open row (``effective_to IS NULL``) being current.

Construction (:func:`scd2_from_changelog`) is one shuffle on the entity
key: order each key's changes by (ts, tiebreaker), drop consecutive
versions whose tracked attributes did not change (lag compare), then close
each version with the next one's start (lead). All window work is an O(1)
accumulator per key partition — no self-join, no per-row rescan.

Maintenance (:func:`scd2_merge`) is the rebuild-affected-keys move:
untouched entities' history passes through by anti-join, while rows of
entities present in the update batch are unioned with the batch and
reconstructed. Cost per batch is a semi/anti join on the key plus one
window over (affected keys' history + batch) — proportional to churn,
never to table size; at 100 TB the pass-through side is a file-level
operation under a copy-on-write table format (table_commit.merge_upsert
rewrites only files that can hold affected keys).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def scd2_from_changelog(
    changes: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tracked: Sequence[str],
    tiebreaker: str | None = None,
    collapse_unchanged: bool = True,
) -> DataFrame:
    """Build SCD2 history from an append-only changelog.

    Returns keys + tracked + (effective_from, effective_to, is_current,
    version_n). ``tiebreaker`` (a unique column) makes ordering total when
    one key has several changes at the same timestamp — without it, equal
    timestamps would make lag/lead comparisons engine-dependent.
    """
    keys = list(keys)
    tracked = list(tracked)
    order = [F.col(ts_col)] + (
        [F.col(tiebreaker)] if tiebreaker is not None else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    df = changes.select(*keys, ts_col, *(
        [tiebreaker] if tiebreaker and tiebreaker not in tracked else []
    ), *tracked)
    if collapse_unchanged:
        same = F.lit(True)
        for c in tracked:
            same = same & F.col(c).eqNullSafe(F.lag(c).over(w))
        # first row per key has lag NULL on every column -> eqNullSafe only
        # true if the value is also NULL; guard with an explicit row marker
        df = (
            df.withColumn("_is_first", F.row_number().over(w) == 1)
            .withColumn("_same", same & ~F.col("_is_first"))
            .filter(~F.col("_same"))
            .drop("_is_first", "_same")
        )
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("effective_from", F.col(ts_col))
        .withColumn("effective_to", F.lead(ts_col).over(w2))
        .withColumn("is_current", F.col("effective_to").isNull())
        .withColumn("version_n",
                    F.row_number().over(w2).cast("long"))
        .drop(ts_col)
    )


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tracked: Sequence[str],
    tiebreaker: str | None = None,
    collapse_unchanged: bool = True,
) -> DataFrame:
    """Fold an update batch into an existing SCD2 frame.

    ``dim`` must have the :func:`scd2_from_changelog` shape; ``updates``
    is a raw changelog batch. History of keys untouched by the batch
    passes through unchanged (anti-join); affected keys rebuild from
    their existing versions + the batch, so out-of-order and
    intra-batch-duplicate updates land correctly rather than corrupting
    open intervals. Pass the SAME ``collapse_unchanged`` the dim was
    constructed with — the rebuild re-applies it.

    Exactness contract: with ``collapse_unchanged=False`` (lossless
    history — every raw event is a version) the merge equals a full
    rebuild from the complete raw log for ANY batch split. With collapsed
    history, an update landing strictly INSIDE a closed collapsed run
    takes effect until the next *recorded* transition: the collapse
    discarded any unrecorded re-assertions of the run's value, so a
    raw-log rebuild that had e.g. red@10, red@20 collapsed to red[10,30)
    cannot resurrect the red@20 re-assertion after a green@15 lands —
    the merged history reads green[15,30). Late-arriving data older than
    the retained history needs the lossless mode (or a raw-log rebuild).

    The distinct-key frame of a dimension batch is small by nature
    (churn, not table size), hence the broadcast hint on both probes; a
    full-history backfill should go through
    :func:`scd2_from_changelog` directly instead of a giant merge.
    """
    keys = list(keys)
    batch_keys = updates.select(*keys).distinct()
    untouched = dim.join(F.broadcast(batch_keys), keys, "left_anti")
    affected_hist = (
        dim.join(F.broadcast(batch_keys), keys, "left_semi")
        .select(*keys, F.col("effective_from").alias(ts_col), *(
            [tiebreaker] if tiebreaker and tiebreaker not in tracked else []
        ), *tracked)
    )
    cols = affected_hist.columns
    combined = affected_hist.unionByName(updates.select(*cols))
    if tiebreaker is not None:
        # exact-duplicate change events (replayed batches, >= cursor
        # boundary re-reads) drop before the rebuild: with collapse ON the
        # window would absorb them anyway, but in LOSSLESS mode they would
        # otherwise become spurious zero-length versions — this is what
        # makes the merge replay-idempotent. Full-row distinct, and ONLY
        # when a unique tiebreaker exists: with one, two genuinely
        # different events can never be row-identical; without one, a raw
        # log may legitimately repeat a full row, and dropping it would
        # break the lossless merge==rebuild contract — so no-tiebreaker
        # lossless mode trades replay idempotence for event fidelity.
        combined = combined.dropDuplicates()
    rebuilt = scd2_from_changelog(
        combined, keys, ts_col, tracked, tiebreaker=tiebreaker,
        collapse_unchanged=collapse_unchanged,
    )
    return untouched.unionByName(rebuilt)


def commit_scd2(
    table,
    batch: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tracked: Sequence[str],
    branch: str = "main",
    tiebreaker: str | None = None,
    collapse_unchanged: bool = True,
    properties: dict[str, str] | None = None,
):
    """Fold a changelog batch into the SCD2 dimension an FsTable holds
    (:func:`scd2_merge`, or :func:`scd2_from_changelog` while the table
    is empty) and commit the new dimension as one overwrite snapshot
    carrying ``properties``. Returns the committed snapshot."""
    if table.head(branch).files:
        new_dim = scd2_merge(
            table.read(batch.sparkSession, branch=branch), batch, keys,
            ts_col, tracked, tiebreaker=tiebreaker,
            collapse_unchanged=collapse_unchanged)
    else:
        new_dim = scd2_from_changelog(
            batch, keys, ts_col, tracked, tiebreaker=tiebreaker,
            collapse_unchanged=collapse_unchanged)
    return table.write_append(new_dim, branch=branch, operation="overwrite",
                              properties=properties)


def pit_join(
    facts: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    fact_ts: str,
    how: str = "inner",
    from_col: str = "effective_from",
    to_col: str = "effective_to",
) -> DataFrame:
    """Point-in-time (AS OF) join: attach to each fact the dimension
    version that was valid at the fact's event time —
    ``effective_from <= fact_ts`` and (open row or
    ``fact_ts < effective_to``).

    The reason SCD2 history exists: training features and financial
    reports must see the attribute AS IT WAS, not as it is. Because a
    key's validity intervals partition time (scd2_from_changelog's
    half-open lead-closed construction; zero-length [t, t) versions
    created by same-timestamp ties match nothing), every fact matches AT
    MOST one version — the join never fans out, ``how="left"`` marks
    facts before a key's first version with NULL attributes.

    Shape: equi-join on ``keys`` with the interval predicate as a
    post-join filter — one shuffle per side on the key (SMJ/AQE), the
    same envelope as the as-of family; Spark broadcasts automatically
    when the dimension is small. At 100 TB bucket both sides on the key
    (operators/skew.py:write_bucketed) so fact scans co-locate with
    their dimension slices and the shuffle disappears.
    """
    keys = list(keys)
    cond = None
    for k in keys:
        c = facts[k] == dim[k]
        cond = c if cond is None else cond & c
    ts = facts[fact_ts]
    cond = cond & (dim[from_col] <= ts) & (
        dim[to_col].isNull() | (ts < dim[to_col]))
    joined = facts.join(dim, cond, how)
    # drop the dimension's duplicate key columns; facts' survive
    for k in keys:
        joined = joined.drop(dim[k])
    return joined
