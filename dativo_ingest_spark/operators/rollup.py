"""Incremental aggregate maintenance (rollup tables updated per batch).

The 100 TB problem: a dashboard aggregate (``GROUP BY event_type, day``)
over an append-only fact table should not rescan history on every ingest
batch. The classic answer — materialized-view maintenance for *algebraic*
aggregates (Gray et al., "Data Cube", 1997 taxonomy) — keeps a compact
partial-state table and folds each new batch into it:

* **distributive** measures (sum, count, min, max) merge directly:
  ``sum(a ∪ b) = sum(a) + sum(b)`` etc.;
* **algebraic** measures (avg) are derived from a fixed-width tuple of
  distributive ones (sum, count) at read time;
* **holistic** measures (exact median, exact count-distinct) have no
  bounded partial state — they are deliberately NOT offered here. The
  scale path for those is a mergeable sketch column (Spark's
  ``hll_sketch_agg``/``hll_union_agg`` for distinct, a quantile sketch for
  percentiles) carried through the same partial/merge/finalize contract.

Cost per batch at any scale: ONE shuffle over the batch (partial state,
map-side combined), then a merge shuffle proportional to |rollup keys| —
never to the history row count. The merged state is exact: folding batches
in any order/grouping yields byte-identical finalized results to a
single-shot aggregation over the union (associative + commutative partial
aggs), which also makes retried/replayed batch merges idempotent-safe to
verify against a recompute.

Reference parity note: the reference engine has no aggregation surface at
all (SURVEY §2.6 — absent there); this is part of the declared query
surface the Spark engine adds on top of ingested tables.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: measure op -> partial-state columns it needs. avg is algebraic: derived
#: from (sum, count) at finalize; everything else is distributive.
_SUPPORTED = ("sum", "count", "min", "max", "avg")


def _state_cols(name: str, op: str, col: str) -> list[tuple[str, F.Column]]:
    if op == "sum":
        return [(f"{name}__sum", F.sum(col))]
    if op == "count":
        # count of non-null col values, like SQL count(col)
        return [(f"{name}__cnt", F.count(col))]
    if op == "min":
        return [(f"{name}__min", F.min(col))]
    if op == "max":
        return [(f"{name}__max", F.max(col))]
    if op == "avg":
        return [(f"{name}__sum", F.sum(col)), (f"{name}__cnt", F.count(col))]
    raise ValueError(f"unsupported measure op {op!r}; one of {_SUPPORTED} "
                     "(holistic measures need a sketch column — see module "
                     "docstring)")


def _merge_expr(state_col: str) -> F.Column:
    suffix = state_col.rsplit("__", 1)[1]
    if suffix in ("sum", "cnt"):
        return F.sum(state_col).alias(state_col)
    if suffix == "min":
        return F.min(state_col).alias(state_col)
    if suffix == "max":
        return F.max(state_col).alias(state_col)
    raise AssertionError(f"unrecognized state column {state_col}")


def partial_state(
    batch: DataFrame,
    keys: Sequence[str],
    measures: Mapping[str, tuple[str, str]],
) -> DataFrame:
    """Aggregate one batch into rollup partial state.

    ``measures`` maps output name -> (op, source column), e.g.
    ``{"revenue": ("sum", "price"), "avg_qty": ("avg", "qty")}``.
    The result has one row per key combination present in the batch and
    only distributive state columns — safe to persist as the rollup table
    and to merge with any other batch's state.
    """
    keys = list(keys)
    seen: dict[str, F.Column] = {}
    for name, (op, col) in measures.items():
        for sc, expr in _state_cols(name, op, col):
            # avg+sum over the same source share the identical state column
            seen.setdefault(sc, expr.alias(sc))
    return batch.groupBy(*keys).agg(*seen.values())


def merge_states(states: Sequence[DataFrame], keys: Sequence[str]) -> DataFrame:
    """Fold any number of partial-state frames into one (exact, order-free).

    Union + re-aggregate: sums/counts add, mins/maxs combine — the same
    map-side-combinable shape as ``partial_state`` itself, so merging N
    batch states is one shuffle over their concatenation.
    """
    if not states:
        raise ValueError("merge_states needs at least one state frame")
    keys = list(keys)
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    state_cols = [c for c in merged.columns if c not in keys]
    return merged.groupBy(*keys).agg(*[_merge_expr(c) for c in state_cols])


def finalize(
    state: DataFrame,
    keys: Sequence[str],
    measures: Mapping[str, tuple[str, str]],
) -> DataFrame:
    """Derive the requested measures from partial state (read-time view)."""
    keys = list(keys)
    out: list[F.Column] = [F.col(k) for k in keys]
    for name, (op, _col) in measures.items():
        if op == "sum":
            out.append(F.col(f"{name}__sum").alias(name))
        elif op == "count":
            out.append(F.col(f"{name}__cnt").alias(name))
        elif op == "min":
            out.append(F.col(f"{name}__min").alias(name))
        elif op == "max":
            out.append(F.col(f"{name}__max").alias(name))
        elif op == "avg":
            out.append(
                (F.col(f"{name}__sum") / F.col(f"{name}__cnt")).alias(name))
    return state.select(*out)


def maintain_rollup(
    base_state: DataFrame | None,
    batch: DataFrame,
    keys: Sequence[str],
    measures: Mapping[str, tuple[str, str]],
) -> DataFrame:
    """One maintenance step: fold a new raw batch into the rollup state.

    ``base_state`` is the persisted state table (None on first batch).
    Returns the NEW state frame (:func:`commit_rollup` writes it back to
    a snapshot-commit table); ``finalize`` serves queries from it.
    """
    delta = partial_state(batch, keys, measures)
    if base_state is None:
        return delta
    return merge_states([base_state, delta], keys)


def commit_rollup(
    table,
    batch: DataFrame,
    keys: Sequence[str],
    measures: Mapping[str, tuple[str, str]],
    branch: str = "main",
    properties: dict[str, str] | None = None,
):
    """Fold a raw batch into the rollup state an FsTable holds
    (:func:`maintain_rollup`) and commit the new state as one overwrite
    snapshot carrying ``properties``, so readers flip atomically between
    consistent states. Returns the committed snapshot."""
    base = (table.read(batch.sparkSession, branch=branch)
            if table.head(branch).files else None)
    return table.write_append(
        maintain_rollup(base, batch, keys, measures), branch=branch,
        operation="overwrite", properties=properties)


def maintain_rollup_from_changes(
    base_state: DataFrame | None,
    changes: DataFrame,
    keys: Sequence[str],
    measures: Mapping[str, tuple[str, str]],
    change_type_col: str = "_change_type",
) -> DataFrame:
    """CDC-driven maintenance: fold a row-level change feed
    (``sinks/table_commit.py:changes`` — insert postimages + delete
    preimages) into the rollup state. This is what the cursor-based
    :func:`maintain_rollup` cannot do: an UPDATE to an already-folded
    row arrives as delete+insert and the state adjusts exactly, no
    history rescan.

    Only **invertible** distributive measures participate: sum/count
    (and avg, which derives from them) — a delete subtracts its
    contribution. min/max are NOT invertible under deletes (removing
    the current min needs a rescan of the group) and raise here; keep
    those on the append-only :func:`maintain_rollup` path or a sketch.

    Groups whose row count reaches zero are dropped from the returned
    state when a count state column exists (every ``avg``/``count``
    measure carries one); with pure-sum measure sets a zero sum is
    indistinguishable from live rows summing to zero, so rows are kept
    and the caller owns tombstone compaction.

    Cost per feed: one signed partial-state shuffle over the changes
    (map-side combined) + a merge shuffle proportional to |touched
    groups| — churn-sized, never history-sized.
    """
    bad = [n for n, (op, _c) in measures.items() if op in ("min", "max")]
    if bad:
        raise ValueError(
            f"min/max measures are not invertible under deletes: {bad}; "
            "use maintain_rollup (append-only) or a sketch column")
    keys = list(keys)
    ins = partial_state(
        changes.filter(F.col(change_type_col) == "insert"), keys, measures)
    state_cols = [c for c in ins.columns if c not in keys]
    dels = partial_state(
        changes.filter(F.col(change_type_col) == "delete"), keys, measures
    ).select(*keys, *[(-F.col(c)).alias(c) for c in state_cols])
    delta = merge_states([ins, dels], keys)
    new_state = (delta if base_state is None
                 else merge_states([base_state, delta], keys))
    cnt_cols = [c for c in state_cols if c.endswith("__cnt")]
    if cnt_cols:
        new_state = new_state.filter(F.col(cnt_cols[0]) != 0)
    return new_state
