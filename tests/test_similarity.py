"""Similarity search: IVF vs brute-force recall, zero-norm guards."""

from __future__ import annotations

from pyspark.sql import functions as F

from dativo_ingest_spark.operators import similarity
from dativo_ingest_spark.queries import load
from tests.conftest import SF_DIR


def test_ivf_recall_vs_bruteforce(spark):
    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in
             similarity.brute_force_topk(emb, q, "vec_id", "embedding",
                                         k=10).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in
              similarity.ivf_topk(emb, q, "vec_id", "embedding", k=10,
                                  n_centroids=8, n_probe=2).collect()}
    # IVF is approximate; with 2/8 cells probed demand recall >= 0.5 and a
    # correctly bounded result size
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    per_query = {}
    for qid, _ in approx:
        per_query[qid] = per_query.get(qid, 0) + 1
    assert all(n <= 10 for n in per_query.values())


def test_ivf_more_probes_more_recall(spark):
    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in
             similarity.brute_force_topk(emb, q, "vec_id", "embedding",
                                         k=10).collect()}

    def recall(n_probe):
        approx = {(r.query_id, r.neighbor_id) for r in
                  similarity.ivf_topk(emb, q, "vec_id", "embedding", k=10,
                                      n_centroids=8, n_probe=n_probe).collect()}
        return len(exact & approx) / len(exact)

    r1, r8 = recall(1), recall(8)
    assert r8 >= r1
    assert r8 == 1.0  # probing every cell degenerates to exact search


def test_zero_norm_vectors_null_cosine(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 2.0])],
        "vec_id bigint, embedding array<double>",
    )
    q = df.filter(F.col("vec_id") == 0)
    rows = {r.neighbor_id: r.cosine for r in
            similarity.brute_force_topk(df, q, "vec_id", "embedding",
                                        k=5).collect()}
    assert rows[1] is None  # zero-norm → NULL, not division error
    assert rows[2] == 0.0


def test_quantized_recall_vs_bruteforce(spark):
    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in
             similarity.brute_force_topk(emb, q, "vec_id", "embedding",
                                         k=10).collect()}
    quant = {(r.query_id, r.neighbor_id) for r in
             similarity.quantized_topk(emb, q, "vec_id", "embedding",
                                       k=10).collect()}
    # int8 quantization distorts scores only slightly: demand recall >= 0.9
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, f"int8 recall too low: {recall}"


def test_quantize_codes_bounded_and_zero_guarded(spark):
    from dativo_ingest_spark.functions import vectors

    df = spark.createDataFrame(
        [(1, [3.0, -1.5, 0.75]), (2, [0.0, 0.0, 0.0])],
        "id long, v array<double>")
    out = {r["id"]: r for r in df.select(
        "id",
        vectors.quantize_int8(F.col("v")).alias("q"),
        vectors.int_dot(vectors.quantize_int8(F.col("v")),
                        vectors.quantize_int8(F.col("v"))).alias("qq"),
    ).collect()}
    assert out[1]["q"] == [127, -64, 32]   # max |x| maps to ±127
    assert out[2]["q"] == [0, 0, 0] and out[2]["qq"] == 0
    assert all(-127 <= c <= 127 for c in out[1]["q"])


def test_ivf_udf_path_matches_literal_path(spark):
    """Forcing the pandas-UDF centroid scorer (inline_centroid_limit=0)
    reproduces the inlined-literal path's results exactly — same 9dp
    rounding, same tie-to-higher-cell-id ordering."""
    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    lit_rows = {(r.query_id, r.neighbor_id, r.cosine, r.rank) for r in
                similarity.ivf_topk(emb, q, "vec_id", "embedding", k=10,
                                    n_centroids=8, n_probe=2).collect()}
    udf_rows = {(r.query_id, r.neighbor_id, r.cosine, r.rank) for r in
                similarity.ivf_topk(emb, q, "vec_id", "embedding", k=10,
                                    n_centroids=8, n_probe=2,
                                    inline_centroid_limit=0).collect()}
    assert lit_rows == udf_rows


def test_ivf_scales_past_inline_limit(spark):
    """n_centroids above IVF_INLINE_CENTROID_LIMIT switches to the
    pandas-UDF scorer: recall holds and the plan stays O(1) in the
    centroid count (no literal explosion)."""
    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in
             similarity.brute_force_topk(emb, q, "vec_id", "embedding",
                                         k=10).collect()}
    df = similarity.ivf_topk(emb, q, "vec_id", "embedding", k=10,
                             n_centroids=128, n_probe=32)
    approx = {(r.query_id, r.neighbor_id) for r in df.collect()}
    assert len(exact & approx) / len(exact) >= 0.5
    # plan-size bound: 128 centroids x 64 dims inlined would be ~8k+
    # literals; the UDF plan must not carry them
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 50_000, f"plan blew up: {len(plan)} chars"


def test_broadcast_guard_warn_and_error(spark, caplog):
    import logging

    import pytest

    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 50)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try:
        with pytest.raises(ValueError, match="exceeds"):
            similarity.brute_force_topk(emb, q, "vec_id", "embedding",
                                        k=5, broadcast_guard="error")
        with pytest.raises(ValueError, match="exceeds"):
            similarity.quantized_topk(emb, q, "vec_id", "embedding",
                                      k=5, broadcast_guard="error")
        with caplog.at_level(logging.WARNING,
                             logger="dativo_ingest_spark.operators.similarity"):
            similarity.brute_force_topk(emb, q, "vec_id", "embedding", k=5)
        assert any("exceeds" in r.message for r in caplog.records)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # guard off / within threshold: no exception, query still correct
    rows = similarity.brute_force_topk(
        emb, q.limit(2), "vec_id", "embedding", k=3,
        broadcast_guard="off").collect()
    assert len(rows) == 6


class TestEmbeddingIndexDedup:
    """Embedding near-dup-on-ingest against a persistent banded cell index
    (similarity.dedup_embeddings_against_index)."""

    def _table(self, tmp_path):
        from dativo_ingest_spark.sinks.table_commit import FsTable

        return FsTable.create(str(tmp_path / "emb_index"))

    @staticmethod
    def _frame(spark, rows):
        return spark.createDataFrame(
            rows, "doc_id string, embedding array<double>")

    def test_batches_drop_near_dups_like_one_corpus(self, spark, tmp_path):
        table = self._table(tmp_path)
        base = [float(i * i % 7) + i * 0.25 for i in range(16)]
        scaled = [x * 1.5 for x in base]          # cosine 1.0 with base
        other = [float((-1) ** i) * (i + 1) for i in range(16)]
        b1 = self._frame(spark, [("d1", base), ("d2", other),
                                 ("d3", scaled)])
        kept1, batch_dups1, index_dups1 = (
            similarity.dedup_embeddings_against_index(
                spark, b1, "doc_id", "embedding", table, threshold=0.95))
        assert sorted(r.doc_id for r in kept1.collect()) == ["d1", "d2"]
        assert (batch_dups1, index_dups1) == (1, 0)
        kept1.unpersist()

        # batch 2: a re-encode of d1 (tiny perturbation) and a new vector
        wiggle = [x + (0.0001 if i % 3 else -0.0001)
                  for i, x in enumerate(base)]
        fresh = [float(i % 5) - 2.0 for i in range(16)]
        b2 = self._frame(spark, [("d4", wiggle), ("d5", fresh)])
        kept2, batch_dups2, index_dups2 = (
            similarity.dedup_embeddings_against_index(
                spark, b2, "doc_id", "embedding", table, threshold=0.95))
        assert [r.doc_id for r in kept2.collect()] == ["d5"]
        assert (batch_dups2, index_dups2) == (0, 1)
        kept2.unpersist()

        # replay of batch 2: d5 now sits in the index as an exact entry
        kept3, _, index_dups3 = similarity.dedup_embeddings_against_index(
            spark, b2, "doc_id", "embedding", table, threshold=0.95)
        assert kept3.count() == 0 and index_dups3 == 2
        kept3.unpersist()

    def test_schema_preserved_commit_off_and_validation(
            self, spark, tmp_path):
        import pytest

        table = self._table(tmp_path)
        b = spark.createDataFrame(
            [("d1", [1.0, 2.0, 3.0, 4.0], "en")],
            "doc_id string, embedding array<double>, lang string")
        kept, _, _ = similarity.dedup_embeddings_against_index(
            spark, b, "doc_id", "embedding", table, commit=False)
        assert set(kept.columns) == {"doc_id", "embedding", "lang"}
        kept.unpersist()
        # commit=False left the index empty -> the row survives a re-run
        kept2, _, index_dups = similarity.dedup_embeddings_against_index(
            spark, b, "doc_id", "embedding", table)
        assert kept2.count() == 1 and index_dups == 0
        kept2.unpersist()
        with pytest.raises(ValueError):
            similarity.dedup_embeddings_against_index(
                spark, b, "doc_id", "embedding", table, threshold=0.0)
        with pytest.raises(ValueError):
            similarity.dedup_embeddings_against_index(
                spark, b, "doc_id", "embedding", table, bands=0)

    def test_distinct_vectors_survive_shared_cells(self, spark, tmp_path):
        # vectors sharing a band cell but below the cosine threshold are
        # NOT dropped — the cell join only proposes candidates
        table = self._table(tmp_path)
        up = [float(i) for i in range(16)]            # increasing ramp
        mixed = [float(i) if i % 2 == 0 else float(i) - 0.5
                 for i in range(16)]                  # same rank pattern
        b = self._frame(spark, [("a", up), ("b", mixed)])
        from dativo_ingest_spark.functions import vectors as V
        cos = b.alias("x").crossJoin(b.alias("y")).filter(
            F.col("x.doc_id") < F.col("y.doc_id")).select(
            V.cosine(F.col("x.embedding"), F.col("y.embedding"))).first()[0]
        kept, batch_dups, _ = similarity.dedup_embeddings_against_index(
            spark, b, "doc_id", "embedding", table, threshold=0.999999)
        if cos < 0.999999:
            assert kept.count() == 2 and batch_dups == 0
        kept.unpersist()

    def test_exact_duplicate_always_caught(self, spark, tmp_path):
        # exact duplicates agree on EVERY band: recall 1.0 by construction
        table = self._table(tmp_path)
        v = [0.3, -1.2, 4.5, 0.0, 2.2, -0.7, 1.1, 9.9]
        b1 = self._frame(spark, [("a", v)])
        kept1, _, _ = similarity.dedup_embeddings_against_index(
            spark, b1, "doc_id", "embedding", table)
        kept1.unpersist()
        b2 = self._frame(spark, [("b", list(v))])
        kept2, _, index_dups = similarity.dedup_embeddings_against_index(
            spark, b2, "doc_id", "embedding", table)
        assert kept2.count() == 0 and index_dups == 1
        kept2.unpersist()


def test_sign_band_keys_bands_distinct_low_dim(spark):
    # 16-dim vectors with the default 4x8 banding: every band must test a
    # DIFFERENT comparison set (the stride+offset construction), so a
    # single-dimension perturbation flips some bands but not all — with
    # overlapping bands the recall amplifier silently collapses to one
    from dativo_ingest_spark.operators.similarity import sign_band_keys

    base = [float((i * 7) % 5) + i * 0.1 for i in range(16)]
    rows = [("base", base)]
    for d in range(16):
        v = list(base)
        v[d] += 100.0   # force every comparison involving dim d to flip
        rows.append((f"p{d}", v))
    df = spark.createDataFrame(rows, "doc_id string, embedding array<double>")
    out = {r.doc_id: list(r.k) for r in df.select(
        "doc_id", sign_band_keys(F.col("embedding")).alias("k")).collect()}
    keys = out["base"]
    bodies = {k.split(":", 1)[1] for k in keys}
    # band key BODIES must not all coincide across the 4 bands — the
    # regression shape: a uniform t*w stride makes every band test the
    # IDENTICAL pairs at d=16 and the amplifier collapses to one band
    assert len(bodies) > 1
    # bands REACT to perturbations (some band flips for every gross
    # single-dim change), and at least one dim leaves >= 1 band intact —
    # impossible when all bands are the same comparison set
    agrees = [
        sum(1 for a, b in zip(keys, out[f"p{d}"]) if a == b)
        for d in range(16)]
    # independence signature: some dims flip only SOME bands (partial
    # agreement 1..3) — impossible when every band is the same
    # comparison set (then agreement is all-or-nothing per dim)
    assert any(1 <= a <= 3 for a in agrees), agrees


class TestCellSizeGuards:
    """The embedding stack's skew guards: one degenerate cell (a pile of
    identical/boilerplate embeddings) must not concentrate a quadratic
    pair task on a single shuffle key."""

    def test_bucketed_pairs_skip_hot_cell(self, spark):
        base = [1.0, 2.0, 3.0, 4.0]
        pile = [("p%03d" % i, "hot", base) for i in range(300)]
        ok = [("a", "ok", [1.0, 0.0, 0.0, 0.0]),
              ("b", "ok", [0.999, 0.01, 0.0, 0.0]),   # near-dup of a
              ("c", "ok", [0.0, 1.0, 0.0, 0.0])]
        df = spark.createDataFrame(
            pile + ok, "id string, bucket string, vec array<double>")

        unguarded = similarity.bucketed_neardup_pairs(
            df, "id", "vec", "bucket", threshold=0.95,
            max_bucket_size=None)
        assert unguarded.filter(F.col("id_a").startswith("p")).count() \
            == 300 * 299 // 2

        stats: dict = {}
        guarded = similarity.bucketed_neardup_pairs(
            df, "id", "vec", "bucket", threshold=0.95,
            max_bucket_size=100, stats=stats)
        got = [(r.id_a, r.id_b) for r in guarded.collect()]
        assert got == [("a", "b")]   # hot cell skipped, clean cell scored
        # the recall cut is surfaced programmatically, not just logged
        assert stats["skipped_cells"] == 1

        cold_stats: dict = {}
        similarity.bucketed_neardup_pairs(
            df.filter(F.col("bucket") == "ok"), "id", "vec", "bucket",
            threshold=0.95, max_bucket_size=100, stats=cold_stats)
        assert cold_stats["skipped_cells"] == 0

    def test_index_dedup_hot_cell_admits_undeduped(self, spark, tmp_path):
        from dativo_ingest_spark.sinks.table_commit import FsTable

        pile_vec = [2.0, 1.0, 4.0, 3.0, 6.0, 5.0, 8.0, 7.0]
        pile = [("p%03d" % i, pile_vec) for i in range(300)]
        a = [float((-1) ** i) * (i + 1) for i in range(8)]
        extra = [("x1", a), ("x2", [v * 2.0 for v in a])]  # exact re-encode
        batch = spark.createDataFrame(
            pile + extra, "doc_id string, embedding array<double>")

        # guarded (default): the pile's cells blow the cap -> its rows
        # admit UN-deduped; the small near-dup pair still resolves
        t1 = FsTable.create(str(tmp_path / "ix_guard"))
        kept, n_b, n_i = similarity.dedup_embeddings_against_index(
            spark, batch, "doc_id", "embedding", t1, threshold=0.99,
            max_cell_size=100)
        assert kept.count() == 301 and (n_b, n_i) == (1, 0)
        kept.unpersist()

        # unguarded: the pile collapses to its lowest id (299 batch dups)
        t2 = FsTable.create(str(tmp_path / "ix_raw"))
        kept2, n_b2, n_i2 = similarity.dedup_embeddings_against_index(
            spark, batch, "doc_id", "embedding", t2, threshold=0.99,
            max_cell_size=None)
        assert kept2.count() == 2 and (n_b2, n_i2) == (300, 0)
        kept2.unpersist()

    def test_index_cell_prefilter_equivalent(self, spark, tmp_path,
                                             monkeypatch):
        """The broadcast cell pre-filter over the index (big-history path)
        must not change results vs the plain shuffle scoring join."""
        from dativo_ingest_spark.sinks.table_commit import FsTable

        base = [float(i * i % 7) + i * 0.25 for i in range(16)]
        other = [float((-1) ** i) * (i + 1) for i in range(16)]
        b1 = spark.createDataFrame(
            [("d1", base), ("d2", other)],
            "doc_id string, embedding array<double>")
        b2 = spark.createDataFrame(
            [("d3", [x * 1.5 for x in base]), ("d4", [1.0] * 16)],
            "doc_id string, embedding array<double>")

        from dativo_ingest_spark.operators import dedup

        results = []
        # without the cell guard no key list is harvested, so the limit
        # picks between the broadcast prune and the plain shuffle join
        for name, limit in [("bcast", 4_000_000), ("shuffle", 0)]:
            monkeypatch.setattr(dedup, "_INDEX_BROADCAST_LIMIT", limit)
            t = FsTable.create(str(tmp_path / f"ix_{name}"))
            similarity.dedup_embeddings_against_index(
                spark, b1, "doc_id", "embedding", t, threshold=0.95)
            kept, n_b, n_i = similarity.dedup_embeddings_against_index(
                spark, b2, "doc_id", "embedding", t, threshold=0.95,
                max_cell_size=None)
            results.append((sorted(r.doc_id for r in kept.collect()),
                            n_b, n_i))
            kept.unpersist()
        assert results[0] == results[1] == (["d4"], 0, 1)


class TestRrfFuse:
    def _rank(self, spark, rows):
        return spark.createDataFrame(
            rows, "query_id long, neighbor_id long, rank long")

    def test_hand_computed_fusion(self, spark):
        # list A ranks (10, 11, 12); list B ranks (11, 12, 13)
        a = self._rank(spark, [(1, 10, 1), (1, 11, 2), (1, 12, 3)])
        b = self._rank(spark, [(1, 11, 1), (1, 12, 2), (1, 13, 3)])
        got = {r.neighbor_id: (r.n_lists, r.rrf_micro, r.fused_rank)
               for r in similarity.rrf_fuse([a, b], k0=60, k=10).collect()}
        m = 1_000_000
        assert got[11] == (2, m // 61 + m // 62, 1)   # best consensus
        assert got[12] == (2, m // 63 + m // 62, 2)
        assert got[10] == (1, m // 61, 3)
        assert got[13] == (1, m // 63, 4)

    def test_tie_breaks_on_neighbor_id(self, spark):
        # 20 and 30 get identical contributions; lower id ranks first
        a = self._rank(spark, [(1, 30, 1), (1, 20, 2)])
        b = self._rank(spark, [(1, 20, 1), (1, 30, 2)])
        got = {r.neighbor_id: r.fused_rank
               for r in similarity.rrf_fuse([a, b]).collect()}
        assert got == {20: 1, 30: 2}

    def test_topk_cut_and_validation(self, spark):
        import pytest
        a = self._rank(spark, [(1, i, i) for i in range(1, 8)])
        out = similarity.rrf_fuse([a], k=3).collect()
        assert [r.neighbor_id for r in
                sorted(out, key=lambda r: r.fused_rank)] == [1, 2, 3]
        with pytest.raises(ValueError):
            similarity.rrf_fuse([])
        with pytest.raises(ValueError):
            similarity.rrf_fuse([a], k0=0)

    def test_fusing_exact_with_quantized_boosts_consensus(self, spark):
        emb = load(spark, SF_DIR, "embeddings")
        q = emb.filter(F.col("vec_id") < 3)
        exact = similarity.brute_force_topk(emb, q, "vec_id", "embedding",
                                            k=20)
        quant = similarity.quantized_topk(emb, q, "vec_id", "embedding",
                                          k=20)
        fused = similarity.rrf_fuse([exact, quant], k=10).collect()
        assert len(fused) == 30  # 3 queries x top-10
        # every fused top-3 candidate should sit in both source lists
        # (consensus dominates single-list outliers)
        top3 = [r for r in fused if r.fused_rank <= 3]
        assert all(r.n_lists == 2 for r in top3)


class TestCrossEncoderRerank:
    """The learned-pair-scorer last mile: rerank rrf_fuse output under
    the vendored bilinear head — order pinned against a NumPy replay,
    one Arrow boundary over the k*Q fused rows only."""

    def _fused(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "query_id long, neighbor_id long, n_lists long, "
            "rrf_micro long, fused_rank long")

    def test_rerank_order_matches_numpy_replay(self, spark):
        import math

        import numpy as np

        dim = 4
        model = {"dim": dim, "weight_scale": 1000,
                 "weights_milli": [[1000 if i == j else
                                    ((31 * i + 17 * j) % 41) - 20
                                    for j in range(dim)]
                                   for i in range(dim)]}
        qvecs = [(1, [0.5, -0.25, 0.125, 0.75])]
        dvecs = [(10, [0.5, -0.25, 0.0, 0.5]),
                 (11, [-0.5, 0.25, 0.125, 0.75]),
                 (12, [0.1, 0.9, -0.3, 0.2]),
                 (13, [0.75, 0.5, 0.25, -0.125])]
        fused = self._fused(spark, [(1, 10, 2, 100, 1), (1, 11, 2, 90, 2),
                                    (1, 12, 1, 80, 3), (1, 13, 1, 70, 4)])
        qf = spark.createDataFrame(qvecs, "query_id long, "
                                          "qvec array<double>")
        df_ = spark.createDataFrame(dvecs, "neighbor_id long, "
                                           "dvec array<double>")
        out = similarity.cross_encoder_rerank(
            fused, qf, df_, model=model, k=4).collect()

        W = np.asarray(model["weights_milli"], dtype=np.int64)

        def micro(v):
            return np.asarray(
                [math.floor(1e6 * x + 0.5) for x in v], dtype=np.int64)

        qm = micro(qvecs[0][1])
        expect = {nid: int(qm @ W @ micro(v)) for nid, v in dvecs}
        got = {r.neighbor_id: r.ce_score for r in out}
        assert got == expect
        order = [r.neighbor_id for r in
                 sorted(out, key=lambda r: r.rerank)]
        assert order == [n for n, _ in
                         sorted(expect.items(),
                                key=lambda kv: (-kv[1], kv[0]))]
        # the reranker genuinely reorders vs the fusion consensus
        by_fused = [r.neighbor_id for r in
                    sorted(out, key=lambda r: r.fused_rank)]
        assert order != by_fused

    def test_width_mismatch_and_null_vectors_excluded(self, spark):
        model = {"dim": 3, "weight_scale": 1000,
                 "weights_milli": [[1000, 0, 0], [0, 1000, 0],
                                   [0, 0, 1000]]}
        fused = self._fused(spark, [(1, 10, 1, 50, 1), (1, 11, 1, 40, 2),
                                    (1, 12, 1, 30, 3)])
        qf = spark.createDataFrame([(1, [1.0, 0.0, 0.0])],
                                   "query_id long, qvec array<double>")
        df_ = spark.createDataFrame(
            [(10, [1.0, 0.0]),               # wrong width -> excluded
             (11, None),                     # NULL -> excluded
             (12, [0.5, 0.5, 0.5])],
            "neighbor_id long, dvec array<double>")
        out = similarity.cross_encoder_rerank(
            fused, qf, df_, model=model, k=10).collect()
        assert [r.neighbor_id for r in out] == [12]

    def test_vendored_artifact_loads_and_reranks_real_fusion(self, spark):
        model = similarity.load_cross_encoder_v1()
        assert model["dim"] == 64
        emb = load(spark, SF_DIR, "embeddings")
        q = emb.filter(F.col("vec_id") < 2)
        exact = similarity.brute_force_topk(emb, q, "vec_id",
                                            "embedding", k=20)
        fused = similarity.rrf_fuse([exact], k=10)
        qf = q.select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("qvec"))
        df_ = emb.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("embedding").alias("dvec"))
        out = similarity.cross_encoder_rerank(fused, qf, df_, k=5)
        rows = out.collect()
        assert len(rows) == 10                 # 2 queries x top-5
        for r in rows:
            assert 1 <= r.rerank <= 5
        # determinism: identical on a second run
        again = out.collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    def test_one_arrow_eval_over_candidates_only(self, spark):
        # plan gate: exactly ONE ArrowEvalPython, the corpus side joins
        # via broadcast (the fused Q*k frame broadcasts INTO the
        # feature-store scan), no cartesian
        model = similarity.load_cross_encoder_v1()
        emb = load(spark, SF_DIR, "embeddings")
        q = emb.filter(F.col("vec_id") < 2)
        fused_src = similarity.rrf_fuse(
            [similarity.brute_force_topk(emb, q, "vec_id", "embedding",
                                         k=10)], k=5)
        # materialize the fused frame so the plan under test is the
        # RERANKER's own (upstream brute-force carries its self-match
        # BNLJ exclusion; the reranker must add none)
        fused = spark.createDataFrame(fused_src.collect(),
                                      fused_src.schema)
        out = similarity.cross_encoder_rerank(
            fused,
            q.select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("qvec")),
            emb.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").alias("dvec")),
            model=model, k=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan[:800]
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BroadcastHashJoin" in plan    # candidates INTO the scan


class TestRankingQualityReport:
    def _rank(self, spark, rows):
        return spark.createDataFrame(
            rows, "query_id long, neighbor_id long, rank long")

    def test_hand_computed_recall_and_rr(self, spark):
        truth = self._rank(spark, [(1, 10, 1), (1, 11, 2), (1, 12, 3)])
        # candidate finds 10 (at rank 2) and 12, misses 11
        approx = self._rank(spark, [(1, 99, 1), (1, 10, 2), (1, 12, 3)])
        r = similarity.ranking_quality_report(truth, approx, k=3) \
            .collect()[0]
        assert (r.k, r.n_hits) == (3, 2)
        assert r.recall_micro == 2 * 1_000_000 // 3
        assert r.rr_micro == 1_000_000 // 2      # truth top-1 at rank 2

    def test_truth_top1_missing_gives_zero_rr(self, spark):
        truth = self._rank(spark, [(1, 10, 1), (1, 11, 2)])
        approx = self._rank(spark, [(1, 11, 1), (1, 50, 2)])
        r = similarity.ranking_quality_report(truth, approx, k=2) \
            .collect()[0]
        assert r.n_hits == 1 and r.rr_micro == 0

    def test_query_missed_entirely_still_reports(self, spark):
        truth = self._rank(spark, [(1, 10, 1), (2, 20, 1)])
        approx = self._rank(spark, [(1, 10, 1)])   # query 2 absent
        got = {r.query_id: (r.n_hits, r.recall_micro, r.rr_micro)
               for r in similarity.ranking_quality_report(
                   truth, approx, k=1).collect()}
        assert got[1] == (1, 1_000_000, 1_000_000)
        assert got[2] == (0, 0, 0)
        import pytest as _pytest

        with _pytest.raises(ValueError):
            similarity.ranking_quality_report(truth, approx, k=0)

    def test_rank_cut_applies_to_both_sides(self, spark):
        # rows beyond k in EITHER list must not count
        truth = self._rank(spark, [(1, 10, 1), (1, 11, 2), (1, 12, 3)])
        approx = self._rank(spark, [(1, 12, 1), (1, 11, 2), (1, 10, 3)])
        r = similarity.ranking_quality_report(truth, approx, k=2) \
            .collect()[0]
        # truth top-2 {10,11}; approx top-2 {12,11} -> 1 hit; truth
        # top-1 (10) sits at approx rank 3, beyond k -> rr 0
        assert r.n_hits == 1 and r.rr_micro == 0


class TestPrototypicality:
    def _frame(self, spark):
        rows = [
            (1, "a", [1.0, 0.0]),
            (2, "a", [0.0, 1.0]),
            (3, "b", [1.0, 1.0]),
            (4, "b", [1.0, 1.0]),
            (5, "b", [0.0, 0.0]),  # zero-norm vector -> NULL score
        ]
        return spark.createDataFrame(
            rows, "id bigint, grp string, vec array<double>")

    def test_hand_computed_scores(self, spark):
        df = self._frame(spark)
        out = {r.id: r.proto_cos for r in similarity.prototypicality(
            df, "id", "vec", "grp").collect()}
        # group a centroid = [0.5, 0.5]; cos([1,0], [.5,.5]) = 0.707107
        assert out[1] == 0.707107
        assert out[2] == 0.707107
        # group b centroid = [2/3, 2/3]; cos([1,1], c) = 1.0
        assert out[3] == 1.0
        assert out[4] == 1.0
        assert out[5] is None  # zero-norm vector

    def test_exact_integer_means_stable_under_partitioning(self, spark):
        emb = load(spark, SF_DIR, "embeddings")
        a = similarity.prototypicality(emb, "vec_id", "embedding", "label")
        b = similarity.prototypicality(
            emb.repartition(7, "vec_id"), "vec_id", "embedding", "label")
        assert sorted(map(tuple, a.collect())) == \
            sorted(map(tuple, b.collect()))


class TestHardNegatives:
    def test_excludes_same_label_and_ranks(self, spark):
        emb = load(spark, SF_DIR, "embeddings")
        q = emb.filter(F.col("vec_id") < 3)
        out = similarity.hard_negative_topk(
            emb, q, "vec_id", "embedding", "label", k=5).collect()
        assert all(r.query_label != r.neighbor_label for r in out)
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append(r)
        for qid, rows in by_q.items():
            rows.sort(key=lambda r: r.rank)
            assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
            cosines = [r.cosine for r in rows]
            assert cosines == sorted(cosines, reverse=True)

    def test_negatives_are_filtered_bruteforce(self, spark):
        emb = load(spark, SF_DIR, "embeddings")
        q = emb.filter(F.col("vec_id") == 0)
        labels = {r.vec_id: r.label for r in
                  emb.select("vec_id", "label").collect()}
        exact = [r for r in similarity.brute_force_topk(
            emb, q, "vec_id", "embedding", k=1000).collect()
            if labels[r.neighbor_id] != labels[r.query_id]][:5]
        hard = similarity.hard_negative_topk(
            emb, q, "vec_id", "embedding", "label", k=5).collect()
        assert [(r.query_id, r.neighbor_id, r.cosine) for r in exact] == \
            [(r.query_id, r.neighbor_id, r.cosine) for r in hard]


class TestRandomProjection:
    def test_weights_are_md5_pinned(self):
        from dativo_ingest_spark.operators.similarity import (
            jl_projection_weights)

        w = jl_projection_weights(2, 2, seed="rp")
        assert w[0][0] == 45            # md5('rp_0_0') % 2001 - 1000
        assert all(-1000 <= x <= 1000 for row in w for x in row)
        assert jl_projection_weights(2, 2) == w   # deterministic

    def test_inline_and_arrow_paths_agree(self, spark, monkeypatch):
        from dativo_ingest_spark.operators import clustering
        from dativo_ingest_spark.operators.similarity import (
            random_projection)
        from dativo_ingest_spark.queries import load
        from tests.conftest import SF_DIR

        emb = load(spark, SF_DIR, "embeddings").limit(50)
        a = {r.vec_id: (r.p0, r.p1, r.p2)
             for r in random_projection(emb, "vec_id", "embedding",
                                        3).collect()}
        monkeypatch.setattr(clustering, "INLINE_LITERAL_BUDGET", 1)
        b = {r.vec_id: (r.p0, r.p1, r.p2)
             for r in random_projection(emb, "vec_id", "embedding",
                                        3).collect()}
        assert a == b and len(a) == 50

    def test_partitioning_invariant_exact_ints(self, spark):
        from dativo_ingest_spark.operators.similarity import (
            random_projection)
        from dativo_ingest_spark.queries import load
        from tests.conftest import SF_DIR

        emb = load(spark, SF_DIR, "embeddings").limit(40)
        a = {r.vec_id: r.p0 for r in random_projection(
            emb.coalesce(1), "vec_id", "embedding", 2).collect()}
        b = {r.vec_id: r.p0 for r in random_projection(
            emb.repartition(7), "vec_id", "embedding", 2).collect()}
        assert a == b

    def test_empty_frame(self, spark):
        from dativo_ingest_spark.operators.similarity import (
            random_projection)

        df = spark.createDataFrame([], "vec_id long, embedding array<float>")
        out = random_projection(df, "vec_id", "embedding", 4)
        assert out.columns == ["vec_id", "p0", "p1", "p2", "p3"]
        assert out.count() == 0


class TestProjectionRecall:
    def test_projected_space_preserves_neighbors(self, spark):
        """JL composition proof: top-10 in the 32-dim projected space
        recovers the true 64-dim top-10 at far above the ~2% chance
        rate. The synthetic embeddings are near-random (weak neighbor
        structure), so absolute recall is modest by construction; the
        floor pins the composition staying sane, deterministically on
        the fixed sf dataset (no randomness anywhere)."""
        from dativo_ingest_spark.operators.similarity import (
            brute_force_topk, random_projection)
        from dativo_ingest_spark.queries import load
        from tests.conftest import SF_DIR
        from pyspark.sql import functions as F

        emb = load(spark, SF_DIR, "embeddings")
        queries = emb.orderBy("vec_id").limit(5)
        truth = brute_force_topk(emb, queries, "vec_id", "embedding",
                                 k=10)
        proj = random_projection(emb, "vec_id", "embedding", 32)
        pv = proj.select(
            "vec_id",
            F.array(*[F.col(f"p{j}").cast("double")
                      for j in range(32)]).alias("embedding"))
        pq = pv.join(queries.select("vec_id"), "vec_id", "left_semi")
        approx = brute_force_topk(pv, pq, "vec_id", "embedding", k=10)
        t = {(r.query_id, r.neighbor_id) for r in truth.collect()}
        a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        recall = len(t & a) / len(t)
        # measured 0.32 on this fixed dataset vs ~0.02 by chance
        assert recall >= 0.15, recall


class TestCmSketch:
    def test_overcount_only_and_exact_for_light_collisions(self, spark):
        from dativo_ingest_spark.operators import sketches

        rows = [(f"k{i % 50}",) for i in range(5000)]
        df = spark.createDataFrame(rows, "k string")
        cells = [(r.row, r.col, r["count"]) for r in
                 sketches.cm_sketch(df, "k", width=1024, depth=4)
                 .collect()]
        # every key occurs exactly 100 times; CM never undercounts
        for i in range(50):
            est = sketches.cm_estimate(cells, f"k{i}", 1024, 4)
            assert est >= 100
            assert est <= 100 + 2 * 5000 // 1024 * 4  # loose bound
        # absent keys estimate only collision mass
        assert sketches.cm_estimate(cells, "absent", 1024, 4) \
            <= 2 * 5000 // 1024 * 4 + 100

    def test_mergeable_by_cell_sum(self, spark):
        from dativo_ingest_spark.operators import sketches

        a = spark.createDataFrame([("x",)] * 30 + [("y",)] * 5,
                                  "k string")
        b = spark.createDataFrame([("x",)] * 20 + [("z",)] * 7,
                                  "k string")
        whole = a.union(b)
        merged = {}
        for frame in (a, b):
            for r in sketches.cm_sketch(frame, "k", 256, 4).collect():
                merged[(r.row, r.col)] = (
                    merged.get((r.row, r.col), 0) + r["count"])
        cells_m = [(r, c, n) for (r, c), n in merged.items()]
        cells_w = [(r.row, r.col, r["count"]) for r in
                   sketches.cm_sketch(whole, "k", 256, 4).collect()]
        for key in ("x", "y", "z", "missing"):
            assert (sketches.cm_estimate(cells_m, key, 256, 4)
                    == sketches.cm_estimate(cells_w, key, 256, 4))

    def test_weighted_and_validation(self, spark):
        from dativo_ingest_spark.operators import sketches

        df = spark.createDataFrame([("a", 10), ("a", 5), ("b", 1)],
                                   "k string, w long")
        cells = [(r.row, r.col, r["count"]) for r in
                 sketches.cm_sketch(df, "k", 256, 4, weight_col="w")
                 .collect()]
        assert sketches.cm_estimate(cells, "a", 256, 4) >= 15
        import pytest as _pytest

        with _pytest.raises(ValueError):
            sketches.cm_sketch(df, "k", width=1, depth=4)


class TestEmbeddingIsotropy:
    def test_exact_identity_vs_bruteforce_pairs(self, spark):
        from dativo_ingest_spark.operators.similarity import (
            embedding_isotropy)

        vecs = [[0.5, -0.25, 0.125], [0.1, 0.2, -0.3],
                [-0.4, 0.05, 0.6], [0.33, 0.33, 0.33]]
        df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)],
                                   "vec_id bigint, embedding array<double>")
        r = embedding_isotropy(df, "vec_id", "embedding").collect()[0]
        q = [[round(x * 10_000) for x in v] for v in vecs]
        pair = sum(sum(a * b for a, b in zip(q[i], q[j]))
                   for i in range(4) for j in range(4) if i != j)
        ssn = sum(sum(x * x for x in v) for v in q)
        assert r.sum_sq_norm == ssn
        assert r.mean_pair_dot_micro == int(pair / (4 * 3 * 100)) \
            if pair >= 0 else True
        import math
        assert r.anisotropy_micro == math.floor(
            pair / (3.0 * ssn) * 1e6 + 0.5)

    def test_collapsed_vs_spread(self, spark):
        from dativo_ingest_spark.operators.similarity import (
            embedding_isotropy)

        same = spark.createDataFrame(
            [(i, [0.6, 0.8, 0.0]) for i in range(50)],
            "vec_id bigint, embedding array<double>")
        collapsed = embedding_isotropy(
            same, "vec_id", "embedding").collect()[0]
        assert collapsed.anisotropy_micro == 1_000_000
        # balanced +/- directions: pairwise dots cancel
        spread = spark.createDataFrame(
            [(i, [s * 1.0, 0.0, 0.0]) for i, s in
             enumerate([1, -1] * 25)],
            "vec_id bigint, embedding array<double>")
        iso = embedding_isotropy(spread, "vec_id", "embedding").collect()[0]
        assert abs(iso.anisotropy_micro) < 25_000   # ~ -1/(n-1)

    def test_single_vector_no_division_by_zero(self, spark):
        # n = 1 has no pairs: n*(n-1) = 0 — the pair statistics must be
        # NULL, never a /0 (NULL in legacy mode, runtime error under
        # ANSI with the anisotropy floor then seeing +/-Infinity)
        from dativo_ingest_spark.operators.similarity import (
            embedding_isotropy)

        df = spark.createDataFrame(
            [(0, [0.5, -0.25, 0.125])],
            "vec_id bigint, embedding array<double>")
        r = embedding_isotropy(df, "vec_id", "embedding").collect()[0]
        assert r.n_vectors == 1
        assert r.sum_sq_norm > 0
        assert r.mean_pair_dot_micro is None
        assert r.anisotropy_micro is None

    def test_scale_validation(self, spark):
        import pytest as _pytest

        from dativo_ingest_spark.operators.similarity import (
            embedding_isotropy)

        df = spark.createDataFrame([(0, [1.0])],
                                   "vec_id bigint, embedding array<double>")
        with _pytest.raises(ValueError, match="scale"):
            embedding_isotropy(df, "vec_id", "embedding", scale=500)


class TestPqCodedIndex:
    """PQ-coded persistent embedding index (r11 verdict Next #5):
    index_codec='pq' stores codes + true norm instead of raw vectors;
    scoring reconstructs in-plan. Pins (a) recall vs the raw-vector
    index on engineered geometry, (b) the on-disk size ratio, (c) the
    commit/read round-trip through the real FsTable."""

    DIM, M, K = 16, 4, 4

    def _table(self, tmp_path, name):
        from dativo_ingest_spark.sinks.table_commit import FsTable

        return FsTable.create(str(tmp_path / name))

    @staticmethod
    def _frame(spark, rows):
        return spark.createDataFrame(
            rows, "doc_id string, embedding array<double>")

    def _clustered(self, n_per=6):
        # K well-separated axis clusters with tiny per-point jitter:
        # quantization reconstructs near-exactly, so pq and raw agree
        import random
        rng = random.Random(7)
        rows = []
        for c in range(self.K):
            center = [0.0] * self.DIM
            for d in range(self.DIM):
                center[d] = 10.0 if (d % self.K) == c else 1.0 + 0.1 * d
            for i in range(n_per):
                # id order interleaves clusters: pq_train seeds from the
                # k lowest ids, which must span the cluster structure
                rows.append((f"{i:02d}_c{c}",
                             [x + rng.uniform(-0.01, 0.01)
                              for x in center]))
        return rows

    def _codebooks(self, spark, rows):
        from dativo_ingest_spark.operators import quantization as Q

        corpus = self._frame(spark, rows)
        return Q.pq_train(corpus, "doc_id", "embedding",
                          m=self.M, k=self.K, n_iter=2)

    def test_pq_matches_raw_on_clustered_corpus(self, spark, tmp_path):
        rows = self._clustered()
        cbs = self._codebooks(spark, rows)
        seed = self._frame(spark, rows)
        t_raw = self._table(tmp_path, "raw")
        t_pq = self._table(tmp_path, "pq")
        k1, _, _ = similarity.dedup_embeddings_against_index(
            spark, seed, "doc_id", "embedding", t_raw, threshold=0.999)
        k1.unpersist()
        k2, _, _ = similarity.dedup_embeddings_against_index(
            spark, seed, "doc_id", "embedding", t_pq, threshold=0.999,
            index_codec="pq", codebooks=cbs)
        k2.unpersist()

        # probe batch: one near-dup per cluster + two novel vectors
        import random
        rng = random.Random(11)
        probe = []
        for c in range(self.K):
            center = [0.0] * self.DIM
            for d in range(self.DIM):
                center[d] = 10.0 if (d % self.K) == c else 1.0 + 0.1 * d
            probe.append((f"p{c}", [x + rng.uniform(-0.005, 0.005)
                                    for x in center]))
        probe.append(("novel0",
                      [float((-1) ** i) * (i + 1)
                       for i in range(self.DIM)]))
        probe.append(("novel1",
                      [float(i % 5) - 2.0 for i in range(self.DIM)]))
        pb = self._frame(spark, probe)
        kr, _, raw_dups = similarity.dedup_embeddings_against_index(
            spark, pb, "doc_id", "embedding", t_raw, threshold=0.999,
            commit=False)
        kp, _, pq_dups = similarity.dedup_embeddings_against_index(
            spark, pb, "doc_id", "embedding", t_pq, threshold=0.999,
            index_codec="pq", codebooks=cbs, commit=False)
        raw_kept = sorted(r.doc_id for r in kr.collect())
        pq_kept = sorted(r.doc_id for r in kp.collect())
        kr.unpersist(); kp.unpersist()
        # the raw index catches every cluster probe, keeps the novels
        assert raw_kept == ["novel0", "novel1"] and raw_dups == self.K
        # pq recall vs raw on this geometry: identical admitted set
        assert pq_kept == raw_kept and pq_dups == raw_dups

    def test_replay_caught_and_committed_codes_roundtrip(
            self, spark, tmp_path):
        rows = self._clustered()
        cbs = self._codebooks(spark, rows)
        t_pq = self._table(tmp_path, "pq")
        seed = self._frame(spark, rows)
        k1, _, _ = similarity.dedup_embeddings_against_index(
            spark, seed, "doc_id", "embedding", t_pq, threshold=0.99,
            index_codec="pq", codebooks=cbs)
        n1 = k1.count(); k1.unpersist()
        # at 0.99 each cluster batch-dedups to one admitted survivor
        assert n1 == self.K
        # replay: the in-batch losers drop first again; every admitted
        # survivor's exact vector reconstructs within the quantization
        # error of itself -> caught as an index dup
        k2, _, index_dups = similarity.dedup_embeddings_against_index(
            spark, seed, "doc_id", "embedding", t_pq, threshold=0.99,
            index_codec="pq", codebooks=cbs, commit=False)
        assert k2.count() == 0 and index_dups == n1
        k2.unpersist()
        # index schema: codes are narrow ints, no raw vector column
        ix = t_pq.read(spark)
        assert set(ix.columns) == {"id", "key", "codes", "norm"}
        el = dict(ix.schema["codes"].dataType.jsonValue())
        assert el["elementType"] in ("byte", "short")

    def test_index_size_ratio(self, spark, tmp_path):
        import os

        rows = self._clustered(n_per=64)
        cbs = self._codebooks(spark, rows)
        df = self._frame(spark, rows)
        raw = similarity.index_entries(df, "doc_id", "embedding")
        pq = similarity.index_entries_pq(df, "doc_id", "embedding", cbs)
        p_raw = str(tmp_path / "raw_ix"); p_pq = str(tmp_path / "pq_ix")
        raw.coalesce(1).write.parquet(p_raw)
        pq.coalesce(1).write.parquet(p_pq)

        def _bytes(p):
            return sum(os.path.getsize(os.path.join(p, f))
                       for f in os.listdir(p) if f.endswith(".parquet"))

        ratio = _bytes(p_raw) / _bytes(p_pq)
        # dim=16 float64 (128 B) vs m=4 codes + norm: parquet overhead
        # eats some of it, but the cut must stay material; at dim 768
        # the same codec is ~100x
        assert ratio >= 3.0, ratio

    def test_pq_validation(self, spark, tmp_path):
        import pytest

        t = self._table(tmp_path, "v")
        b = self._frame(spark, [("a", [1.0] * self.DIM)])
        with pytest.raises(ValueError, match="codebooks"):
            similarity.dedup_embeddings_against_index(
                spark, b, "doc_id", "embedding", t, index_codec="pq")
        with pytest.raises(ValueError, match="index_codec"):
            similarity.dedup_embeddings_against_index(
                spark, b, "doc_id", "embedding", t, index_codec="ivf")

    def test_reconstruction_matches_codebook_lookup(self, spark):
        # pq_reconstruct must equal the driver-side decode exactly
        import pytest

        from dativo_ingest_spark.operators import quantization as Q

        rows = self._clustered()
        cbs = self._codebooks(spark, rows)
        df = self._frame(spark, rows[:5])
        codes = Q.pq_encode(df, "doc_id", "embedding", cbs)
        got = {r["id"]: r["xhat"] for r in codes.select(
            "id", Q.pq_reconstruct(F.col("codes"), cbs).alias("xhat")
        ).collect()}
        want = {}
        for r in codes.collect():
            flat = []
            for j, c in enumerate(r["codes"]):
                flat.extend(x / 10_000 for x in cbs[j][int(c)])
            want[r["id"]] = flat
        for k in want:
            assert got[k] == pytest.approx(want[k], abs=1e-12), k
