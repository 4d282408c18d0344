"""Frozen-reference drift scoring: fit a reference distribution once,
then bin every later batch against the SAME edges and score it.

Shared by the runner's ``target.options.drift_gate`` and the streaming
``psi_drift_gate`` / ``ks_drift_gate`` wrappers. Per batch the Spark work
is one scan-stage ``<=`` bin cascade plus a k-row count collect
(:func:`bin_counts`); the PSI and KS scores then run on the driver over
the k bin counts, in a fixed float expression order.

A reference is ``(edges, counts)``: the ``n_bins - 1`` equi-depth cut
points and the ACTUAL per-bin reference counts. Heavy ties at a cut make
equi-depth bins unequal, so the KS reference ECDF is taken from the
counts, never from an equal-mass assumption.
"""

from __future__ import annotations

from math import log, sqrt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dativo_ingest_spark.operators.quality import (
    apply_equi_depth_bins, equi_depth_edges)


def bin_counts(df: DataFrame, col: str, edges: list[float]) -> list[int]:
    """Rows of ``df`` per bin of ``edges`` (``len(edges) + 1`` bins; NULL
    values are not counted)."""
    counts = [0] * (len(edges) + 1)
    for r in (apply_equi_depth_bins(df, col, edges)
              .filter(F.col("bin").isNotNull())
              .groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
              .collect()):
        counts[int(r.bin)] = int(r.n)
    return counts


def drift_reference(df: DataFrame, value_col: str, n_bins: int = 10,
                    exact: bool = True) -> tuple[list[float], list[int]]:
    """Fit the frozen reference ``(edges, counts)`` from a trusted
    baseline frame: equi-depth edges (``quality.equi_depth_edges``) and
    the baseline's per-bin counts. Persist it once; batches are scored
    against it instead of re-fitting and chasing the drift."""
    edges = equi_depth_edges(df, value_col, n_bins, exact=exact)
    return edges, bin_counts(df, value_col, edges)


def check_reference(reference) -> tuple[list[float], list[int]]:
    """``reference`` as ``(edges, counts)`` lists; ``ValueError`` unless
    it carries one count per bin."""
    edges, counts = reference
    if not isinstance(counts, (list, tuple)) or \
            len(counts) != len(edges) + 1:
        raise ValueError(
            f"reference counts must have {len(edges) + 1} bins, got "
            f"{counts!r}")
    return list(edges), list(counts)


def psi_score(ref_counts: list[int], cur_counts: list[int]) -> float:
    """Population Stability Index over shared bins, Laplace-smoothed so
    empty bins are defined: ``sum (p - q) * ln(p / q)`` (the same term as
    ``profiling.psi_drift``)."""
    k = len(ref_counts)
    t_ref, t_cur = sum(ref_counts), sum(cur_counts)
    psi = 0.0
    for r, c in zip(ref_counts, cur_counts):
        p = (r + 1) / (t_ref + k)
        q = (c + 1) / (t_cur + k)
        psi += (p - q) * log(p / q)
    return psi


def ks_score(ref_counts: list[int], cur_counts: list[int],
             c_milli: int) -> tuple[float, float]:
    """``(D, critical value)`` of the two-sample Kolmogorov-Smirnov test on
    the shared bin grid: D is the largest ECDF gap at a cut, and drift
    means ``D > (c_milli/1000) * sqrt((n+m)/(n*m))`` (alpha 0.05 at 1358,
    0.01 at 1628). Both totals must be positive."""
    n, m = sum(ref_counts), sum(cur_counts)
    d = 0.0
    cum_ref = cum_cur = 0
    for r, c in zip(ref_counts[:-1], cur_counts[:-1]):
        cum_ref += r
        cum_cur += c
        d = max(d, abs(cum_ref / n - cum_cur / m))
    return d, (c_milli / 1000.0) * sqrt((n + m) / (n * m))
