"""Product quantization (Jegou et al. 2011): train per-subspace
codebooks, encode the corpus to m-byte codes, and answer top-k queries
by asymmetric distance computation (ADC) over a broadcast lookup table.

PQ is the memory leg of the 100 TB ANN stack this repo already carries
(brute-force baseline → IVF coarse routing → int8 scalar quantization):
a d=768 float corpus shrinks ~384x to m=8 codes, the codes frame fits
where the raw vectors never could, and ADC scans it with NO distance
arithmetic per dimension — one table lookup per subspace. IVF-PQ (route
with operators/similarity.ivf_topk's cells, re-rank candidates here) is
the composition FAISS ships as its default large-scale index.

Determinism mirrors operators/clustering.fixed_point_kmeans exactly —
vectors quantize to the fixed-point grid at scan stage, centroid updates
are exact integer means, every distance is a sequential index-order IEEE
fold rounded to 9dp (Spark, DuckDB and the Python LUT builder all agree
bit-for-bit), argmin ties break to the lower code. Training is therefore
retry/speculation/partitioning-stable, and the whole pipeline — training
included — replays in the DuckDB oracle.

Scale shape: training scans a (cached, typically sampled) frame
``n_iter + 1`` times with one (sub, code, pos)-keyed partial-agg shuffle
per round (collapses to m*k*sub_dim rows per task — FAISS trains PQ
codebooks on ~1M samples, not the corpus; pass a sampled ``df``).
Encoding is ONE scan: all m argmins evaluate in the same stage, inlined
as codegen literals while total literals (k*d) fit the plan budget and
as one Arrow-batched kernel above it. ADC is one scan of the CODES
frame with the (queries x m x k) LUT riding as literals (KBs), plus a
per-query top-k window over scored rows.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dativo_ingest_spark.functions import vectors
from dativo_ingest_spark.operators.clustering import (
    INLINE_LITERAL_BUDGET,
    _spark_round9,
    _sqdist_to_literal,
    _sqdist_to_literal_sql,
)


#: the inline argmin path additionally caps the NUMBER of struct-argmin
#: fold expressions (m·k): the k·dim literal budget alone admits shapes
#: like m=16/k=8 (512 literals) whose 128 generated fold expressions
#: blow whole-stage codegen past usefulness — measured 6.9 s inline vs
#: 1.2 s through the (bit-identical, test-pinned) Arrow kernel on the
#: sf0.1 encode. m=2-4 PQ stays inline (8-16 folds, the sweet spot).
PQ_INLINE_ARGMIN_BUDGET = 32


def _pq_use_inline(m: int, k: int, dim: int) -> bool:
    return (k * dim <= INLINE_LITERAL_BUDGET
            and m * k <= PQ_INLINE_ARGMIN_BUDGET)


def _quantize_driver(x: float, scale: int) -> float:
    """Replicate ``F.round(x * scale)`` (HALF_UP on the shortest decimal
    repr — half away from zero, the Spark/DuckDB agreement the kmeans
    header pins) for driver-side query vectors."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x) * scale)).quantize(
        Decimal("1"), rounding=ROUND_HALF_UP))


def _subspace_bounds(dim: int, m: int) -> list[tuple[int, int]]:
    if m <= 0 or dim % m != 0:
        raise ValueError(f"m={m} must evenly divide the dimension {dim}")
    sub = dim // m
    return [(j * sub + 1, sub) for j in range(m)]  # (1-based start, length)


def _quantized(df: DataFrame, id_col: str, vec_col: str,
               scale: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(
            vectors.as_double_array(F.col(vec_col)),
            lambda x: F.round(x * scale).cast("long"),
        ).alias("qvec"),
    )


def _assign_inline(sub_col: str, centroids: Sequence[Sequence[float]]):
    """Struct-argmin over inlined centroid literals: 9dp-rounded
    sequential-fold squared L2, ties to the lower code.

    One parsed SQL expression (see _sqdist_to_literal_sql): the Column
    construction was ~k*dim py4j roundtrips of driver time per call."""
    entries = ", ".join(
        f"named_struct('a', round({_sqdist_to_literal_sql(sub_col, cvec)}"
        f", 9), 'i', CAST({int(code)} AS BIGINT))"
        for code, cvec in enumerate(centroids)
    )
    return F.expr(f"array_min(array({entries})).i")


def _pq_assign_udf(codebooks: Sequence[Sequence[Sequence[float]]]):
    """Arrow-batched all-subspace encoder for large k*d: one kernel maps
    qvec -> codes array. Same fold/round/tie semantics as the inline
    path (see clustering._assign_argmin_udf for the two-tier argument:
    margins beyond 2e-9 cannot be reordered by 9dp rounding; ambiguous
    rows replay Spark's HALF_UP decimal rounding exactly)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    mats = [np.array(cb, dtype=np.float64) for cb in codebooks]  # k x sub
    sub = mats[0].shape[1]

    @pandas_udf("array<long>")
    def encode(vecs: pd.Series) -> pd.Series:
        V = np.stack(vecs.to_numpy()).astype(np.float64)
        out = np.empty((len(V), len(mats)), dtype=np.int64)
        for jj, mat in enumerate(mats):
            S = V[:, jj * sub:(jj + 1) * sub]
            acc = np.zeros((len(V), mat.shape[0]))
            for d in range(sub):  # sequential fold, never pairwise
                diff = S[:, d, None] - mat[None, :, d]
                acc += diff * diff
            two = (np.argpartition(acc, 1, axis=1)[:, :2]
                   if mat.shape[0] > 1 else
                   np.zeros((len(V), 2), dtype=np.int64))
            d_two = np.take_along_axis(acc, two, axis=1)
            swap = d_two[:, 0] > d_two[:, 1]
            best = np.where(swap, two[:, 1], two[:, 0])
            margin = np.abs(d_two[:, 1] - d_two[:, 0])
            for i in np.nonzero(margin <= 2e-9)[0]:
                rounded = [_spark_round9(x) for x in acc[i]]
                mn = min(rounded)
                best[i] = next(c for c, x in enumerate(rounded) if x == mn)
            out[:, jj] = best
        return pd.Series(list(out))

    return encode


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k: int = 8,
    n_iter: int = 1,
    scale: int = 10_000,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks; returns ``codebooks[j][code]`` =
    centroid vector (exact rationals on the fixed-point grid).

    Init: the k lowest-``id_col`` rows seed every subspace, code =
    seed rank (0..k-1). Each round runs ALL m subspace assignments in
    ONE scan (the per-row codes explode to (sub, code, subvec) rows) and
    one (sub, code, pos)-keyed integer-mean update whose map-side
    partial agg collapses tasks to m*k*sub_dim rows. Empty codes keep
    their previous centroid. Pass a SAMPLED df at corpus scale — PQ
    codebooks need ~1M training points, not 100 TB.
    """
    if k <= 0 or n_iter < 0:
        raise ValueError("k must be positive and n_iter non-negative")
    quantized = _quantized(df, id_col, vec_col, scale).cache()
    try:
        # dim comes from the seeds themselves — the old separate
        # .first() dim probe was a whole extra job per train call
        seeds = quantized.orderBy("id").limit(k).collect()
        if not seeds:
            raise ValueError("empty input — no codebook seeds")
        if len(seeds) < k:
            raise ValueError(f"need at least k={k} rows, got {len(seeds)}")
        dim = len(seeds[0]["qvec"])
        bounds = _subspace_bounds(dim, m)
        sub = dim // m
        codebooks: list[list[list[float]]] = [
            [[float(x) for x in r["qvec"][start - 1:start - 1 + length]]
             for r in seeds]
            for (start, length) in bounds
        ]

        def encode_cols(frame: DataFrame) -> list[F.Column]:
            if _pq_use_inline(m, k, dim):
                return [
                    _assign_inline(f"_s{j}", codebooks[j]).alias(f"_c{j}")
                    for j in range(m)
                ]
            codes = _pq_assign_udf(codebooks)(F.col("qvec"))
            return [F.element_at(codes, j + 1).alias(f"_c{j}")
                    for j in range(m)]

        for _ in range(n_iter):
            sliced = quantized.select(
                "qvec", *[F.slice("qvec", s, ln).alias(f"_s{j}")
                          for j, (s, ln) in enumerate(bounds)])
            assigned = sliced.select(
                *[F.col(f"_s{j}") for j in range(m)],
                *encode_cols(sliced))
            cells = (assigned.select(F.explode(F.array(*[
                F.struct(F.lit(j).alias("sub"),
                         F.col(f"_c{j}").alias("code"),
                         F.col(f"_s{j}").alias("sq"))
                for j in range(m)])).alias("e"))
                .select("e.sub", "e.code",
                        F.posexplode("e.sq").alias("pos", "val"))
                .groupBy("sub", "code", "pos")
                .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect())
            updated: dict[tuple[int, int], list[float]] = {}
            for r in cells:
                vec = updated.setdefault(
                    (int(r["sub"]), int(r["code"])), [0.0] * sub)
                vec[int(r["pos"])] = float(r["s"]) / float(r["n"])
            for (j, code), vec in updated.items():
                codebooks[j][code] = vec
        return codebooks
    finally:
        quantized.unpersist()


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: Sequence[Sequence[Sequence[float]]],
    scale: int = 10_000,
) -> DataFrame:
    """Encode every vector to its m-code array under trained codebooks:
    (id, codes array<long>). ONE scan; inline codegen argmins while
    k*d literals fit the plan budget, one Arrow kernel above it
    (bit-identical semantics, unit-pinned)."""
    m = len(codebooks)
    k = len(codebooks[0])
    sub = len(codebooks[0][0])
    dim = m * sub
    quantized = _quantized(df, id_col, vec_col, scale)
    if _pq_use_inline(m, k, dim):
        sliced = quantized.select(
            "id", *[F.slice("qvec", j * sub + 1, sub).alias(f"_s{j}")
                    for j in range(m)])
        return sliced.select(
            "id",
            F.array(*[_assign_inline(f"_s{j}", codebooks[j])
                      for j in range(m)]).alias("codes"))
    return quantized.select(
        "id", _pq_assign_udf(codebooks)(F.col("qvec")).alias("codes"))


def pq_reconstruct(codes, codebooks: Sequence[Sequence[Sequence[float]]],
                   scale: int = 10_000):
    """Decode a PQ ``codes`` array Column back to its reconstruction
    ``x̂`` in RAW (unscaled) units — the concatenation of each
    subspace's centroid divided by the training grid ``scale``.

    A pure Catalyst expression: the m×k×sub codebook rides as one
    nested array literal (KBs — the same budget pq_adc_topk's LUT uses)
    and each row costs m ``element_at`` lookups plus one flatten; no
    Python, no shuffle. This is the serving half of the PQ-coded
    persistent embedding index (similarity.index_entries_pq): codes are
    ~m·1B against dim·8B raw vectors, and reconstruction happens only on
    the index slice a batch's cells actually touch."""
    m = len(codebooks)
    # one parsed literal (the nested F.lit loop was m*k*sub py4j
    # roundtrips of driver build time per call; values bit-identical)
    cb_lit = F.expr("array(" + ", ".join(
        "array(" + ", ".join(
            "array(" + ", ".join(f"{float(x) / scale!r}D" for x in cvec)
            + ")" for cvec in codebooks[j]) + ")"
        for j in range(m)) + ")")
    return F.flatten(F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.element_at(
            F.element_at(cb_lit, (j + 1).cast("int")),
            (F.element_at(codes, (j + 1).cast("int")) + 1).cast("int"))))


def pq_reconstruct_residual(
    cell,
    codes,
    cells: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    scale: int = 10_000,
):
    """Decode a RESIDUAL-coded row back to its reconstruction ``x̂`` in
    RAW units: ``x̂[i] = (cell_centroid[i] + decoded_residual[i]) /
    scale``. Residual codebooks train on the integer residual grid
    (scale=1 — see ivfpq_train_artifact), so :func:`pq_reconstruct`
    at scale=1 yields the residual and the coarse centroid restores the
    global position. Pure Catalyst like :func:`pq_reconstruct`: the
    coarse cells ride as one more nested literal, each row pays one
    extra element_at + zip_with. Spends the same m·k code budget as the
    raw-vector PQ codec but only on WITHIN-CELL geometry — measurably
    lower reconstruction error at equal storage (pinned by tests)."""
    cells_lit = F.expr("array(" + ", ".join(
        "array(" + ", ".join(f"{float(x)!r}D" for x in cv) + ")"
        for cv in cells) + ")")
    resid = pq_reconstruct(codes, codebooks, scale=1)
    return F.zip_with(
        F.element_at(cells_lit, (cell + 1).cast("int")),
        resid,
        lambda c, r: (c + r) / F.lit(float(scale)))


def pq_adc_topk(
    codes_df: DataFrame,
    queries: dict,
    codebooks: Sequence[Sequence[Sequence[float]]],
    scale: int = 10_000,
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k over the codes frame: for each query,
    the per-(subspace, code) squared distances precompute driver-side
    into a LUT (|queries| * m * k_codes doubles — KBs, rides as plan
    literals), each corpus row scores as a SEQUENTIAL j-order sum of m
    lookups (zero per-dimension arithmetic), and a per-query window
    takes the k nearest (ties -> lower id).

    (query_id, rank, id, adc) — ``adc`` is exact: every LUT entry is the
    same 9dp-rounded sequential IEEE fold the trainer uses (replicated
    bit-for-bit by :func:`clustering._spark_round9`), and the m-term sum
    folds in index order on both engines.
    """
    if not queries:
        raise ValueError("queries must be non-empty")
    m = len(codebooks)
    qids = sorted(queries)
    luts = []  # [qi][j][code] -> rounded partial distance
    for qid in qids:
        qq = [_quantize_driver(x, scale) for x in queries[qid]]
        if len(qq) != m * len(codebooks[0][0]):
            raise ValueError(f"query {qid!r} dimension mismatch")
        sub = len(codebooks[0][0])
        lut_q = []
        for j in range(m):
            qs = qq[j * sub:(j + 1) * sub]
            row = []
            for cvec in codebooks[j]:
                acc = 0.0
                for a, b in zip(qs, cvec):   # sequential fold
                    acc = acc + (a - b) * (a - b)
                row.append(_spark_round9(acc))
            lut_q.append(row)
        luts.append(lut_q)

    lut_lit = _dlit_array(luts)
    qid_lit = F.array(*[F.lit(q) for q in qids])

    scored = (codes_df
              .select(F.col(codes_df.columns[0]).alias("id"), "codes")
              .select(
                  "id", "codes",
                  F.posexplode(qid_lit).alias("qi", "query_id"))
              .select(
                  "query_id", "id",
                  F.aggregate(
                      F.sequence(F.lit(0), F.lit(m - 1)),
                      F.lit(0.0),
                      lambda acc, j: acc + F.element_at(
                          F.element_at(F.element_at(lut_lit,
                                                    F.col("qi") + 1),
                                       j + 1),
                          (F.element_at("codes", j + 1) + 1)
                          .cast("int"))).alias("adc")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    "id", "adc"))


def ivfpq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: dict,
    m: int = 2,
    k_codes: int = 4,
    n_cells: int = 4,
    n_probe: int = 2,
    n_iter: int = 1,
    scale: int = 10_000,
    k: int = 10,
) -> DataFrame:
    """IVF-PQ composition — FAISS's default large-scale index shape:
    route each query to its ``n_probe`` nearest coarse cells, then
    ADC-score ONLY the probed cells' rows over the PQ codes frame.

    Compute per query drops from O(N) lookups to
    O(N * n_probe / n_cells); at 100 TB with n_cells ~ tens of
    thousands that is the difference between scanning the corpus and
    scanning a few shards. Coarse centroids here are the ``n_cells``
    lowest-id vectors (the same deterministic k-means stand-in
    similarity.ivf_topk documents — the routing/plan shape is what
    matters); classic residual encoding (PQ over vector minus cell
    centroid) is the documented refinement and drops in by subtracting
    the cell centroid before :func:`pq_encode`.

    Determinism: cell assignment and query probing use the same
    9dp-rounded sequential L2 fold as everything else in this module
    (probing runs driver-side over the literal centroid set — n_cells
    rows, exact replica of the engine fold), so the probed-cell sets
    and every ADC score replay bit-for-bit in the oracle.

    Returns (query_id, rank, id, adc) — approximate by construction
    (rows outside probed cells are unseen); pair with
    :func:`pq_adc_topk` over the full codes frame to measure routing
    recall.
    """
    if not queries:
        raise ValueError("queries must be non-empty")
    quantized = _quantized(df, id_col, vec_col, scale).cache()
    try:
        cents = [[float(x) for x in r["qvec"]]
                 for r in quantized.orderBy("id").limit(n_cells).collect()]
        if len(cents) < n_cells:
            raise ValueError(f"need {n_cells} rows for cell centroids")
        codebooks = pq_train(quantized, "id", "qvec",
                             m=m, k=k_codes, n_iter=n_iter, scale=1)
        dim = len(cents[0])
        sub = dim // m

        cell_col = _assign_inline("qvec", cents) \
            if n_cells * dim <= INLINE_LITERAL_BUDGET else None
        if cell_col is None:
            ids_codes = _pq_assign_udf([cents])(F.col("qvec"))
            cell_col = F.element_at(ids_codes, 1)
        coded = pq_encode(quantized, "id", "qvec", codebooks, scale=1) \
            .join(quantized.select("id", cell_col.alias("cell")), "id")

        # driver-side probing: exact replica of the engine fold
        qids = sorted(queries)
        probes = []
        for qid in qids:
            qq = [_quantize_driver(x, scale) for x in queries[qid]]
            dists = []
            for cid, cvec in enumerate(cents):
                acc = 0.0
                for a, b in zip(qq, cvec):
                    acc = acc + (a - b) * (a - b)
                dists.append((_spark_round9(acc), cid))
            dists.sort()
            probes.append(sorted(c for _, c in dists[:n_probe]))

        probe_lit = _ilit_array(probes)
        qid_lit = F.array(*[F.lit(q) for q in qids])
        routed = (coded
                  .select("id", "codes", "cell",
                          F.posexplode(qid_lit).alias("qi", "query_id"))
                  .filter(F.array_contains(
                      F.element_at(probe_lit, F.col("qi") + 1),
                      F.col("cell").cast("int"))))

        luts = []
        for qid in qids:
            qq = [_quantize_driver(x, scale) for x in queries[qid]]
            lut_q = []
            for j in range(m):
                qs = qq[j * sub:(j + 1) * sub]
                row = []
                for cvec in codebooks[j]:
                    acc = 0.0
                    for a, b in zip(qs, cvec):
                        acc = acc + (a - b) * (a - b)
                    row.append(_spark_round9(acc))
                lut_q.append(row)
            luts.append(lut_q)
        lut_lit = _dlit_array(luts)

        scored = routed.select(
            "query_id", "id",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                lambda acc, j: acc + F.element_at(
                    F.element_at(F.element_at(lut_lit, F.col("qi") + 1),
                                 j + 1),
                    (F.element_at("codes", j + 1) + 1).cast("int")))
            .alias("adc"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("adc").asc(), F.col("id").asc())
        out = (scored.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k)
               .select("query_id",
                       F.col("rank").cast("long").alias("rank"),
                       "id", "adc"))
        return out.localCheckpoint(eager=True)
    finally:
        quantized.unpersist()


def ivfpq_residual_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: dict,
    m: int = 2,
    k_codes: int = 4,
    n_cells: int = 4,
    n_probe: int = 2,
    n_iter: int = 1,
    scale: int = 10_000,
    k: int = 10,
    coarse_n_iter: int = 0,
    coarse_init: str = "lowest_id",
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the actual FAISS IVFPQ: each
    vector PQ-encodes its OFFSET from its cell centroid rather than the
    raw vector, so the codebooks spend their entire resolution on the
    within-cell geometry instead of re-describing the coarse structure
    the cell id already captures (markedly better distance fidelity at
    the same m·k bits — the refinement :func:`ivfpq_topk` documents).

    Exactness carries through unchanged because the cell centroids are
    the n_cells lowest-id QUANTIZED vectors — integer grid points — so
    residuals are exact BIGINTs and the whole train/encode/ADC pipeline
    reuses the fixed-point Lloyd discipline verbatim (scale=1 over
    residuals). The ADC lookup table grows one axis: per (query, PROBED
    cell, subspace, code), since a query's distance to a code now
    depends on which cell's frame the code lives in — still
    Q·n_probe·m·k doubles, KBs riding as literals.

    Returns (query_id, rank, id, adc); same contract as
    :func:`ivfpq_topk`. ``coarse_n_iter`` Lloyd-trains the coarse
    quantizer on the integer grid (see :func:`_coarse_cells`) — 0 keeps
    the legacy lowest-id centroids.
    """
    if not queries:
        raise ValueError("queries must be non-empty")
    quantized = _quantized(df, id_col, vec_col, scale).cache()
    try:
        cents = _coarse_cells(quantized, n_cells, n_iter=coarse_n_iter,
                              init=coarse_init)
        with_res = _with_residuals(quantized, cents)
        res_frame = with_res.select("id", "qvec").localCheckpoint(
            eager=True)
        codebooks = pq_train(res_frame, "id", "qvec",
                             m=m, k=k_codes, n_iter=n_iter, scale=1)
        coded = (pq_encode(res_frame, "id", "qvec", codebooks, scale=1)
                 .join(with_res.select("id", "cell"), "id"))
        out = _residual_adc_topk(coded, cents, codebooks, queries,
                                 n_probe=n_probe, k=k, scale=scale)
        return out.localCheckpoint(eager=True)
    finally:
        quantized.unpersist()


def _snap_mean(s: int, n: int) -> int:
    """Round-half-AWAY-FROM-ZERO of the exact mean ``s/n`` (n > 0) using
    only non-negative integer division, so the driver and the DuckDB
    oracle (``//`` on non-negative operands) agree bit-for-bit — the
    signed-division discipline operators/training.py pins."""
    if s >= 0:
        return (2 * s + n) // (2 * n)
    return -((-2 * s + n) // (2 * n))



def _dlit_array(v) -> F.Column:
    """Arbitrarily nested list of floats as ONE parsed array literal
    (per-element F.lit loops cost one py4j roundtrip per element of
    driver time; ``{x!r}D`` doubles are bit-identical to F.lit)."""
    return F.expr(_dlit_sql(v))


def _dlit_sql(v) -> str:
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(_dlit_sql(x) for x in v) + ")"
    return f"{float(v)!r}D"


def _ilit_array(v) -> F.Column:
    """Nested list of ints as ONE parsed array literal."""
    def sql(x):
        if isinstance(x, (list, tuple)):
            return "array(" + ", ".join(sql(e) for e in x) + ")"
        return str(int(x))
    return F.expr(sql(v))


def _cells_literal(cents: Sequence[Sequence[float]]):
    """``array<array<int>>`` literal of the coarse centroids, parsed as
    ONE SQL expression (the per-element ``F.lit`` loop was n_cells*dim
    py4j roundtrips of driver time per call)."""
    return F.expr("array(" + ", ".join(
        "array(" + ", ".join(str(int(x)) for x in cv) + ")"
        for cv in cents) + ")")


def _cell_assign_col(cents: Sequence[Sequence[float]]):
    """The coarse-cell argmin Column over a ``qvec`` column — inline
    codegen under the literal budget, the Arrow kernel above it (both
    bit-identical 9dp-fold/ties-low semantics)."""
    n_cells, dim = len(cents), len(cents[0])
    if n_cells * dim <= INLINE_LITERAL_BUDGET:
        return _assign_inline("qvec", cents)
    return F.element_at(_pq_assign_udf([cents])(F.col("qvec")), 1)


def _coarse_cells(quantized: DataFrame, n_cells: int,
                  n_iter: int = 0,
                  init: str = "lowest_id") -> list[list[float]]:
    """The coarse cell centroids, Lloyd-trained ON THE INTEGER GRID
    (r13 verdict Next #1).

    Init: ``lowest_id`` takes the n_cells lowest-id QUANTIZED vectors —
    integer grid points, so residuals stay exact BIGINTs (``n_iter=0``
    with this init is exactly the legacy behavior every proven oracle
    replays). ``farthest`` is deterministic Gonzalez/farthest-first
    seeding (the k-means++-class init every production coarse quantizer
    uses): seed 0 is the lowest-id vector, each next seed is the vector
    maximizing its min 9dp-rounded distance to the chosen seeds (ties
    to the lower id) — one scan + a 1-row top-1 per seed, n_cells
    driver rounds at SAMPLE-scale train time (the min-distance
    expression inlines seed literals, so keep farthest-init cell counts
    in the hundreds and train on a sample — production IVF does both). Lloyd alone cannot split
    a centroid pair stranded inside one data mode while two real modes
    share a centroid (the classic local optimum — measured on the
    adversarial fixture in tests); farthest-first lands one seed per
    separated mode and Lloyd then converges. Each Lloyd round
    assigns every vector to its nearest centroid (the module's 9dp
    sequential fold, ties to the lower cell) in ONE scan, aggregates an
    exact integer (cell, pos)-keyed sum/count (map-side combinable —
    n_cells*dim rows to the driver, never the corpus), and SNAPS each
    coordinate mean back to the integer grid with round-half-away-from-
    zero (:func:`_snap_mean`) so residuals remain exact BIGINTs and the
    DuckDB oracle replays every round. Empty cells keep their previous
    centroid (the pq_train discipline).

    Why it matters at 100 TB: arbitrary data points as centroids give
    unbalanced cells at realistic cell counts — a hot cell degrades
    both recall (huge residuals starve the m·k code budget) and the
    manifest file prune (one cell's files hold half the corpus).
    Trained centroids move to the data's actual modes. Driver memory is
    n_cells*dim integers per round — the artifact's own size, corpus-
    independent; train on a SAMPLE at corpus scale like pq_train."""
    if init not in ("lowest_id", "farthest"):
        raise ValueError(
            f"init must be lowest_id or farthest, got {init!r}")
    cents = [[float(x) for x in r["qvec"]]
             for r in quantized.orderBy("id").limit(n_cells).collect()]
    if len(cents) < n_cells:
        raise ValueError(f"need {n_cells} rows for cell centroids")
    if init == "farthest":
        cents = [cents[0]]
        for _ in range(n_cells - 1):
            mind = F.least(*[
                F.round(_sqdist_to_literal("qvec", cv), 9)
                for cv in cents]) if len(cents) > 1 else \
                F.round(_sqdist_to_literal("qvec", cents[0]), 9)
            far = (quantized.select("id", "qvec", mind.alias("d"))
                   .orderBy(F.desc("d"), F.asc("id")).first())
            cents.append([float(x) for x in far["qvec"]])
    sub = len(cents[0])
    for _ in range(n_iter):
        rows = (quantized
                .select(_cell_assign_col(cents).alias("cell"), "qvec")
                .select("cell", F.posexplode("qvec").alias("pos", "val"))
                .groupBy("cell", "pos")
                .agg(F.sum("val").alias("s"),
                     F.count(F.lit(1)).alias("n"))
                .collect())
        updated: dict[int, list[float]] = {}
        for r in rows:
            vec = updated.setdefault(int(r["cell"]), [0.0] * sub)
            vec[int(r["pos"])] = float(_snap_mean(int(r["s"]),
                                                  int(r["n"])))
        for cell, vec in updated.items():
            cents[cell] = vec
    return cents


def _with_residuals(quantized: DataFrame,
                    cents: Sequence[Sequence[float]]) -> DataFrame:
    """(id, cell, qvec=residual) — assign each quantized vector its
    nearest coarse cell (inline argmin under the literal budget, Arrow
    kernel above) and subtract that cell's centroid."""
    cell_col = _cell_assign_col(cents)
    cells_lit = _cells_literal(cents)
    return quantized.select(
        "id", cell_col.alias("cell"),
        F.zip_with("qvec",
                   F.element_at(cells_lit,
                                (cell_col + 1).cast("int")),
                   lambda a, b: (a - b).cast("long")).alias("qvec"))


def _residual_adc_topk(
    coded: DataFrame,
    cents: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    queries: dict,
    n_probe: int,
    k: int,
    scale: int,
) -> DataFrame:
    """The residual-IVFPQ SERVING stage over an (id, cell, codes) frame:
    driver-side coarse probing + per-(query, probed cell) residual LUTs
    riding as plan literals, one routed scan of the codes frame, m
    lookups per row, per-query top-k window. Factored out of
    :func:`ivfpq_residual_topk` (r13) so the PERSISTED index
    (:func:`ivfpq_index_topk`) serves through the byte-identical plan."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    qids = sorted(queries)
    probes, luts = [], []
    for qid in qids:
        qq = [_quantize_driver(x, scale) for x in queries[qid]]
        dists = []
        for cid, cvec in enumerate(cents):
            acc = 0.0
            for a, b in zip(qq, cvec):
                acc = acc + (a - b) * (a - b)
            dists.append((_spark_round9(acc), cid))
        dists.sort()
        probed = sorted(c for _, c in dists[:n_probe])
        probes.append(probed)
        # per probed cell: LUT over the query's RESIDUAL in that
        # cell's frame
        lut_q = []
        for cid in probed:
            qres = [a - b for a, b in zip(qq, cents[cid])]
            lut_c = []
            for j in range(m):
                qs = qres[j * sub:(j + 1) * sub]
                row = []
                for cvec in codebooks[j]:
                    acc = 0.0
                    for a, b in zip(qs, cvec):
                        acc = acc + (a - b) * (a - b)
                    row.append(_spark_round9(acc))
                lut_c.append(row)
            lut_q.append(lut_c)
        luts.append(lut_q)

    probe_lit = _ilit_array(probes)
    lut_lit = _dlit_array(luts)
    qid_lit = F.array(*[F.lit(q) for q in qids])

    routed = (coded
              .select("id", "codes", "cell",
                      F.posexplode(qid_lit).alias("qi", "query_id"))
              .withColumn(
                  "slot",
                  F.array_position(
                      F.element_at(probe_lit, F.col("qi") + 1),
                      F.col("cell").cast("int")))
              .filter(F.col("slot") > 0))
    scored = routed.select(
        "query_id", "id",
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc + F.element_at(
                F.element_at(
                    F.element_at(
                        F.element_at(lut_lit, F.col("qi") + 1),
                        F.col("slot").cast("int")),
                    j + 1),
                (F.element_at("codes", j + 1) + 1).cast("int")))
        .alias("adc"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id",
                    F.col("rank").cast("long").alias("rank"),
                    "id", "adc"))


# ---------------------------------------------------------------------------
# Persisted IVF-PQ retrieval index (r12 verdict Next #5): the retrieval
# sibling of the PQ-coded dedup ingest index. ivfpq_residual_topk builds
# codebooks/codes in-frame per call; here the codes + coarse cell ids
# COMMIT to an FsTable once (sorted by cell, per-file cell stats), new
# corpus batches append incrementally under the FROZEN artifact, and
# top-k serves against the committed table reading ONLY the files whose
# [min,max] cell range intersects the probed cells — at 100 TB with
# thousands of cells a query touches n_probe cells' worth of files, not
# the corpus. Serving is _residual_adc_topk, byte-identical to the
# in-frame operator's plan, so the proven residual oracle pins the whole
# persistent lifecycle.
# ---------------------------------------------------------------------------


def ivfpq_train_artifact(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 2,
    k_codes: int = 4,
    n_cells: int = 4,
    n_iter: int = 1,
    scale: int = 10_000,
    coarse_n_iter: int = 0,
    coarse_init: str = "lowest_id",
) -> dict:
    """Train the frozen IVF-PQ artifact — coarse cells (lowest-id
    seeds, Lloyd-trained on the integer grid for ``coarse_n_iter``
    rounds — see :func:`_coarse_cells`) + RESIDUAL codebooks — and
    return it as a JSON-safe dict (the codebooks-as-artifact pattern
    the PQ ingest runner mode uses: persist it next to the index; every
    later append and every serve must run under the SAME artifact,
    since mismatched codebooks silently mis-encode). Train on a SAMPLE
    at corpus scale — FAISS trains on ~1M points, not 100 TB."""
    quantized = _quantized(df, id_col, vec_col, scale).cache()
    try:
        cents = _coarse_cells(quantized, n_cells, n_iter=coarse_n_iter,
                              init=coarse_init)
        # no eager checkpoint: pq_train caches its own quantized view of
        # this frame, so its seeds collect is the materialization barrier
        # — the old localCheckpoint was a whole extra pass (r14; the
        # residual plan itself is one parsed expr now, cheap to carry)
        res_frame = _with_residuals(quantized, cents).select("id", "qvec")
        codebooks = pq_train(res_frame, "id", "qvec",
                             m=m, k=k_codes, n_iter=n_iter, scale=1)
    finally:
        quantized.unpersist()
    return {"kind": "ivfpq_residual", "m": m, "k": k_codes,
            "n_cells": n_cells, "scale": scale,
            "dim": len(cents[0]),
            "cells": [[int(x) for x in cv] for cv in cents],
            "codebooks": [[[float(x) for x in cvec] for cvec in cb]
                          for cb in codebooks]}


def ivfpq_encode(df: DataFrame, id_col: str, vec_col: str,
                 artifact: dict) -> DataFrame:
    """Encode rows under a FROZEN artifact: (id, cell, codes). The
    identical assign/residual/encode expressions the trainer used, so
    appended batches code exactly as a from-scratch build would. Codes
    store as the narrowest integer type that holds k (the
    index_entries_pq discipline); cell as int."""
    cents = artifact["cells"]
    codebooks = artifact["codebooks"]
    k = len(codebooks[0])
    code_t = "tinyint" if k <= 128 else ("smallint" if k <= 32768
                                         else "long")
    quantized = _quantized(df, id_col, vec_col, int(artifact["scale"]))
    with_res = _with_residuals(quantized, cents)
    coded = pq_encode(with_res.select("id", "qvec"), "id", "qvec",
                      codebooks, scale=1)
    return (coded.join(with_res.select("id", "cell"), "id")
            .select("id", F.col("cell").cast("int").alias("cell"),
                    F.col("codes").cast(f"array<{code_t}>")
                    .alias("codes")))


def ivfpq_index_build(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_table,
    artifact: dict | None = None,
    m: int = 2,
    k_codes: int = 4,
    n_cells: int = 4,
    n_iter: int = 1,
    scale: int = 10_000,
    branch: str = "main",
) -> dict:
    """Build the persistent retrieval index: train the artifact (or
    take a pre-trained one — the production shape: train on a sample,
    encode everything) and commit ``df``'s coded entries. Returns the
    artifact; persist it WITH the table (it is the decoder)."""
    if artifact is None:
        artifact = ivfpq_train_artifact(
            df, id_col, vec_col, m=m, k_codes=k_codes,
            n_cells=n_cells, n_iter=n_iter, scale=scale)
    _ivfpq_append(df, id_col, vec_col, index_table, artifact, branch,
                  operation="overwrite")
    return artifact


def ivfpq_index_append(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_table,
    artifact: dict,
    branch: str = "main",
    properties: dict | None = None,
) -> None:
    """Incrementally append a corpus batch to the committed index under
    the FROZEN artifact (atomic snapshot append — a crash re-appends,
    never half-publishes). ``properties`` ride the snapshot (the
    streaming epoch writer stamps its exactly-once marker here)."""
    _ivfpq_append(df, id_col, vec_col, index_table, artifact, branch,
                  operation="append", properties=properties)


def _ivfpq_append(df, id_col, vec_col, index_table, artifact, branch,
                  operation, properties=None) -> None:
    coded = ivfpq_encode(df, id_col, vec_col, artifact)
    n_cells = int(artifact["n_cells"])
    # cluster the files BY CELL RANGE before committing: each file then
    # spans a contiguous cell interval, so its recorded [min,max] cell
    # stats prune serving reads to the probed slice (hash partitioning
    # would interleave cells across files and gut the prune). Partition
    # count follows the cell count, not the session shuffle default — a
    # 4-cell index should be ~4 files, not 32 near-empty ones.
    staged = (coded.repartitionByRange(min(n_cells, 200), "cell")
              .sortWithinPartitions("cell", "id"))
    index_table.write_append(staged, branch=branch, operation=operation,
                             stats_columns=["cell"],
                             properties=properties)


def _fragmented_cell_files(files: list[dict],
                           max_files_per_cell: int) -> list[dict]:
    """The manifest files participating in a FRAGMENTED cell range:
    sweep the per-file [min,max] cell stats (driver-side, manifest
    only) for cells covered by more than ``max_files_per_cell`` files,
    then return every file whose range touches such a cell. A statless
    file counts as covering everything (conservative — it gets
    compacted, which also restores its stats)."""
    statful, statless = [], []
    for f in files:
        if not f.get("num_rows"):
            continue  # empty file: nothing to compact, prune-neutral
        rng = (f.get("stats") or {}).get("cell")
        (statful if rng else statless).append(f)
    events: dict[int, int] = {}
    for f in statful:
        rng = f["stats"]["cell"]
        events[int(rng["min"])] = events.get(int(rng["min"]), 0) + 1
        events[int(rng["max"]) + 1] = events.get(int(rng["max"]) + 1,
                                                 0) - 1
    base = len(statless)  # statless files overlap every cell
    hot: set[int] = set()
    depth, prev = base, None
    for cell in sorted(events):
        if prev is not None and depth > max_files_per_cell:
            hot.update(range(prev, cell))
        depth += events[cell]
        prev = cell
    if not hot:
        return list(statless) if base > max_files_per_cell else []
    picked = list(statless)
    for f in statful:
        rng = f["stats"]["cell"]
        lo, hi = int(rng["min"]), int(rng["max"])
        if any(lo <= c <= hi for c in hot):
            picked.append(f)
    return picked


def ivfpq_index_compact(
    spark,
    index_table,
    branch: str = "main",
    max_files_per_cell: int | None = None,
) -> int:
    """Re-cluster the committed retrieval index by cell range — the
    maintenance half of the incremental-append story: every
    :func:`ivfpq_index_append` adds its own cell-sorted file set, so
    after N appends a probed cell's rows are spread over ~N files and
    the manifest prune degrades toward a full scan.

    ``max_files_per_cell=None`` (default) re-clusters the WHOLE table;
    passing a threshold compacts ONLY the fragmented cell ranges —
    files covering cells that more than that many files hold — leaving
    well-clustered files untouched by reference (r13 verdict Next #3:
    at 100 TB a compaction that rewrites the whole index is itself the
    bottleneck; touching only the hot ranges makes maintenance
    O(fragmentation), not O(corpus)).

    Commit discipline (ADVICE r13, the lost-update fix): the recluster
    is a plan on :meth:`FsTable.rewrite`, which commits pinned to the
    snapshot the plan read and re-plans from the new head on a
    conflict, so a concurrent :func:`ivfpq_index_append` landing
    between the read and the commit is NEVER silently dropped. Old
    files stay time-travelable until vacuum; serving reads are never
    blocked (snapshot isolation); results are unchanged (codes are
    data, placement is layout). Returns the head's new file count
    (whole table), or -1 if nothing qualified."""
    from dativo_ingest_spark.sinks.table_commit import Rewrite

    def plan(base):
        if max_files_per_cell is None:
            victims = [f for f in base.files if f.get("num_rows")]
        else:
            victims = _fragmented_cell_files(base.files,
                                             max_files_per_cell)
        if len(victims) < 2:
            return None  # nothing to gain
        coded = index_table.scan(spark, [f["path"] for f in victims],
                                 base.schema_json)
        n_cells = (coded.agg(F.max("cell")).first()[0] or 0) + 1
        return Rewrite(
            victims,
            coded.repartitionByRange(min(int(n_cells), 200), "cell")
            .sortWithinPartitions("cell", "id"),
            stats_columns=["cell"],
            properties={"compaction": "ivfpq-cell-recluster"})

    snap = index_table.rewrite(plan, branch)
    return -1 if snap is None else len(snap.files)


def ivfpq_index_topk(
    spark,
    index_table,
    artifact: dict,
    queries: dict,
    n_probe: int = 2,
    k: int = 10,
    branch: str = "main",
) -> DataFrame:
    """Serve top-k against the COMMITTED index: probe the artifact's
    coarse cells driver-side, read only the files whose cell stats
    intersect the probed range (manifest pruning — the 100 TB win),
    row-filter to the probed cells, then the byte-identical
    _residual_adc_topk serving plan. Same (query_id, rank, id, adc)
    contract as :func:`ivfpq_residual_topk`."""
    if not queries:
        raise ValueError("queries must be non-empty")
    cents = artifact["cells"]
    scale = int(artifact["scale"])
    probed: set[int] = set()
    for qvecf in queries.values():
        qq = [_quantize_driver(x, scale) for x in qvecf]
        dists = []
        for cid, cvec in enumerate(cents):
            acc = 0.0
            for a, b in zip(qq, cvec):
                acc = acc + (a - b) * (a - b)
            dists.append((_spark_round9(acc), cid))
        dists.sort()
        probed.update(c for _, c in dists[:n_probe])
    # file-granular prune on the conjunctive [min,max] hull of the
    # probed cells; _residual_adc_topk's slot filter re-applies the
    # exact per-query routing row-level, so hull false-positives only
    # cost I/O, never correctness
    coded = index_table.read(
        spark, branch=branch,
        where=[("cell", ">=", min(probed)), ("cell", "<=", max(probed))]
    ).filter(F.col("cell").isin(*[int(c) for c in probed]))
    return _residual_adc_topk(coded, cents, artifact["codebooks"],
                              queries, n_probe=n_probe, k=k, scale=scale)


def ivfpq_cell_balance(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    artifact: dict,
) -> DataFrame:
    """Cell-balance report for a coarse partition under a FROZEN
    artifact — the number that says whether the coarse quantizer is
    doing its job (r13 verdict Next #1): one row per NON-EMPTY cell,
    (cell, n_rows, balance_milli), where ``balance_milli`` is the
    table-wide max-cell-size over MEAN-cell-size ratio in exact
    integer milli units (mean over the artifact's n_cells, empty cells
    included): ``max_n * 1000 * n_cells DIV total``. 1000 = perfectly
    balanced; n_cells*1000 = everything in one cell. At 100 TB an
    unbalanced partition degrades both recall (hot cells starve the
    residual code budget) and the manifest file prune (a hot cell's
    files hold half the corpus) — monitor this next to recall@k.

    ONE scan + one cell-keyed agg (n_cells rows) + a broadcast of the
    2-value summary; exact integers throughout, oracle-replayable."""
    cents = artifact["cells"]
    n_cells = int(artifact["n_cells"])
    quantized = _quantized(df, id_col, vec_col, int(artifact["scale"]))
    per = (quantized.select(_cell_assign_col(cents).alias("cell"))
           .groupBy("cell")
           .agg(F.count(F.lit(1)).alias("n_rows")))
    summary = per.agg(F.max("n_rows").alias("_mx"),
                      F.sum("n_rows").alias("_tt"))
    return (per.crossJoin(F.broadcast(summary))
            .select(F.col("cell").cast("long").alias("cell"),
                    F.col("n_rows").cast("long").alias("n_rows"),
                    F.expr(f"(_mx * 1000 * {n_cells}) DIV _tt")
                    .cast("long").alias("balance_milli")))


def exact_grid_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: Sequence,
    k: int = 10,
    scale: int = 10_000,
    broadcast_guard: str = "warn",
) -> DataFrame:
    """Exact squared-L2 top-k on the integer grid — the ground truth an
    ANN recall meter measures against. Both sides quantize with the
    engine's own ``round(x*scale)`` (no driver-side rounding anywhere),
    so every distance is an exact BIGINT: ``d2 = sum (qi - vi)^2`` over
    int64 grid points, deterministic ties to the lower id, and a SQL
    oracle replays it with a list_reduce over the same integers.

    (query_id, vec_id, d2, rank). Scale shape: the exact baseline —
    broadcast the |query_ids|-row side over ONE corpus scan, per-query
    top-k via the rank window (|query_ids| partitions of N; the same
    broadcast-guarded contract as similarity.brute_force_topk — IVF/PQ
    are the scale path, this is the meter they're measured with).

    int64 bound: d2 <= dim * (2*scale*max|x|)^2 — at scale 1e4 and
    unit-norm embeddings, ~64 * 4e8 << 2^63.
    """
    ids = [int(q) for q in query_ids]
    if not ids:
        raise ValueError("query_ids must be non-empty")
    from dativo_ingest_spark.operators.similarity import _guard_broadcast

    g = _quantized(df, id_col, vec_col, scale)
    qs = (g.filter(F.col("id").isin(ids))
          .select(F.col("id").alias("query_id"),
                  F.col("qvec").alias("qg")))
    _guard_broadcast(qs, "exact_grid_topk", broadcast_guard)
    scored = (F.broadcast(qs).crossJoin(g)
              .select("query_id", F.col("id").alias("vec_id"),
                      F.aggregate(
                          F.zip_with("qg", "qvec",
                                     lambda a, b: (a - b) * (a - b)),
                          F.lit(0).cast("long"),
                          lambda acc, x: acc + x).alias("d2"))
              # a width-mismatched vector zip_with-pads with NULL and
              # folds to a NULL d2 — which sorts FIRST ascending and
              # would corrupt the ranking; exclude it instead
              .filter(F.col("d2").isNotNull()))
    w = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k))


def recall_at_k(approx: DataFrame, truth: DataFrame, k: int) -> DataFrame:
    """Recall@k of an approximate ranking against its exact ground
    truth — THE index-quality number every ANN deployment monitors
    (FAISS's own benchmark metric): per query,
    ``|approx_ids ∩ truth_ids| / k``.

    Inputs: two (query_id, vec_id) frames (extra columns ignored; at
    most k rows per query each — the rankings' cut lists). One row per
    TRUTH query: (query_id, k, n_hits, recall_micro) — a query the
    approximate side missed entirely still reports, with 0.

    Exactness: set intersection + one integer floor division — nothing
    to drift. Scale: both inputs are queries x k rows; everything here
    is ranking-sized, never corpus-sized.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    t = truth.select("query_id", "vec_id").dropDuplicates()
    a = approx.select("query_id", "vec_id").dropDuplicates()
    hits = (t.join(a, ["query_id", "vec_id"])
            .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits")))
    base = t.select("query_id").distinct()
    return (base.join(hits, "query_id", "left")
            .select("query_id",
                    F.lit(int(k)).cast("long").alias("k"),
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"),
                    F.expr(f"(coalesce(n_hits, 0) * 1000000) DIV {int(k)}")
                    .cast("long").alias("recall_micro")))


def ivfpq_recall_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: dict,
    m: int = 2,
    k_codes: int = 4,
    n_cells: int = 4,
    n_probe: int = 2,
    n_iter: int = 1,
    scale: int = 10_000,
    k: int = 10,
    residual: bool = False,
    coarse_n_iter: int = 0,
    coarse_init: str = "lowest_id",
) -> DataFrame:
    """Recall@k of the IVF-PQ index against the exact integer-grid
    ground truth — the self-measuring quality gate a production index
    ships with: probe/cell/codebook knobs move recall, and this report
    is the number that says whether the speedup was paid for with
    misses. Composes :func:`ivfpq_topk` (the approximate path under
    measurement) with :func:`exact_grid_topk` (the meter) through
    :func:`recall_at_k`. ``residual=True`` measures the
    residual-encoded variant (:func:`ivfpq_residual_topk`) instead —
    same meter, FAISS's actual index shape under test.

    One row per query: (query_id, k, n_hits, recall_micro).
    ``coarse_n_iter`` (residual variant only) Lloyd-trains the coarse
    quantizer on the integer grid before encoding.
    """
    if residual:
        approx = ivfpq_residual_topk(
            df, id_col, vec_col, queries, m=m, k_codes=k_codes,
            n_cells=n_cells, n_probe=n_probe, n_iter=n_iter,
            scale=scale, k=k, coarse_n_iter=coarse_n_iter,
            coarse_init=coarse_init)
    else:
        approx = ivfpq_topk(df, id_col, vec_col, queries, m=m,
                            k_codes=k_codes, n_cells=n_cells,
                            n_probe=n_probe, n_iter=n_iter, scale=scale,
                            k=k)
    truth = exact_grid_topk(df, id_col, vec_col, list(queries), k=k,
                            scale=scale)
    return recall_at_k(approx.select("query_id",
                                     F.col("id").alias("vec_id")),
                       truth, k)
