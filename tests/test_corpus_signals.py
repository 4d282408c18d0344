"""Unit tests for the corpus-statistics operators added late in round 6:
unigram-LM document scoring, duplicated-passage detection, and the
HLL-sketch accuracy contract — hand-computed expectations on tiny frames
(parity vs DuckDB is covered separately in test_oracle_parity.py).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dativo_ingest_spark.operators import dedup, sketches, textops


def _rows(df):
    return {r["id"]: r.asDict() for r in df.collect()}


class TestUnigramLogprob:
    def test_hand_computed_corpus(self, spark):
        # corpus: doc1 = "a a", doc2 = "a b" -> counts a=3, b=1, total=4
        df = spark.createDataFrame(
            [(1, "a a"), (2, "a b")], ["doc_id", "text"])
        out = _rows(textops.unigram_logprob(df, "doc_id", "text"))

        def lpq(p):
            return math.floor(math.log(p) * 1_000_000 + 0.5)

        exp1 = round((2 * lpq(3 / 4)) / 2 / 1_000_000, 6)
        exp2 = round((lpq(3 / 4) + lpq(1 / 4)) / 2 / 1_000_000, 6)
        assert out[1]["n_words"] == 2 and out[2]["n_words"] == 2
        assert out[1]["avg_logprob"] == exp1
        assert out[2]["avg_logprob"] == exp2
        # common-word doc scores strictly higher than the rare-word doc
        assert out[1]["avg_logprob"] > out[2]["avg_logprob"]

    def test_empty_and_whitespace_docs_drop(self, spark):
        df = spark.createDataFrame(
            [(1, "x y"), (2, ""), (3, "   ")], ["doc_id", "text"])
        out = _rows(textops.unigram_logprob(df, "doc_id", "text"))
        assert set(out) == {1}


class TestDuplicatePassages:
    def test_shared_trigram_flags_both_docs(self, spark):
        df = spark.createDataFrame(
            [(1, "one two three four"), (2, "zero one two three")],
            ["doc_id", "text"])
        out = _rows(
            dedup.duplicate_passages(df, "doc_id", "text", n=3,
                                     max_gram_df=None))
        # each doc has 2 positioned trigrams; "one two three" is shared
        for i in (1, 2):
            assert out[i]["n_grams"] == 2
            assert out[i]["n_dup"] == 1
            assert out[i]["dup_ratio"] == 0.5

    def test_within_doc_repeat_is_not_cross_doc(self, spark):
        # the same trigram twice in ONE doc is not duplication across docs
        df = spark.createDataFrame(
            [(1, "a b c a b c"), (2, "x y z w")], ["doc_id", "text"])
        out = _rows(
            dedup.duplicate_passages(df, "doc_id", "text", n=3,
                                     max_gram_df=None))
        assert out[1]["n_dup"] == 0 and out[2]["n_dup"] == 0

    def test_short_docs_yield_no_grams(self, spark):
        df = spark.createDataFrame(
            [(1, "too short"), (2, "one two three four")],
            ["doc_id", "text"])
        out = _rows(
            dedup.duplicate_passages(df, "doc_id", "text", n=3,
                                     max_gram_df=None))
        assert set(out) == {2}

    def test_hash_paths_agree(self, spark):
        # the production xxhash64 path and the oracle-portable md5 path
        # must produce identical per-doc counts (hash only keys the
        # shuffle; any disagreement would mean a collision or a plumbing
        # difference)
        df = spark.createDataFrame(
            [(i, f"shared passage words here unique{i} tail{i}")
             for i in range(4)], ["doc_id", "text"])
        kw = dict(n=3, max_gram_df=None)
        fast = _rows(dedup.duplicate_passages(
            df, "doc_id", "text", hash_fn="xxhash64", **kw))
        portable = _rows(dedup.duplicate_passages(
            df, "doc_id", "text", hash_fn="md5", **kw))
        assert fast == portable
        import pytest as _pytest
        with _pytest.raises(ValueError):
            dedup.duplicate_passages(df, "doc_id", "text",
                                     hash_fn="sha9000")

    def test_hot_gram_cut_drops_boilerplate(self, spark):
        # the license-header gram appears in 3 docs; with max_gram_df=2 the
        # df-cut removes it BEFORE the distinct-doc test, so nothing is
        # flagged and the gram totals shrink accordingly
        df = spark.createDataFrame(
            [(i, f"common header line unique{i} tail{i}") for i in range(3)],
            ["doc_id", "text"])
        loose = _rows(
            dedup.duplicate_passages(df, "doc_id", "text", n=3,
                                     max_gram_df=None))
        assert all(v["n_dup"] == 1 for v in loose.values())
        cut = _rows(
            dedup.duplicate_passages(df, "doc_id", "text", n=3,
                                     max_gram_df=2))
        assert all(v["n_dup"] == 0 for v in cut.values())
        assert all(cut[i]["n_grams"] == loose[i]["n_grams"] - 1
                   for i in cut)


class TestApproxDistinctCheck:
    def test_small_cardinalities_within_tolerance(self, spark):
        df = spark.createDataFrame(
            [(t, u) for t in ("a", "b") for u in range(50)],
            ["event_type", "user_id"])
        out = sketches.approx_distinct_check(
            df, "event_type", "user_id").collect()
        by = {r["group"]: r for r in out}
        assert by["a"]["exact"] == 50 and by["b"]["exact"] == 50
        assert all(r["approx_ok"] for r in out)
        # the sketch estimate never leaks into the output schema
        assert sorted(by["a"].asDict()) == ["approx_ok", "exact", "group"]


class TestDedupAgainstIndex:
    """dedup-on-ingest: batch rows drop against a persistent fingerprint
    index; surviving fingerprints append atomically."""

    def _table(self, tmp_path):
        from dativo_ingest_spark.sinks.table_commit import FsTable

        return FsTable.create(str(tmp_path / "fp_index"))

    def test_three_batches_dedupe_like_one_corpus(self, spark, tmp_path):
        table = self._table(tmp_path)
        b1 = spark.createDataFrame(
            [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
            ["doc_id", "text"])
        kept1, batch_dups1, index_dups1 = dedup.dedup_against_index(
            spark, b1, "doc_id", "text", table)
        assert sorted(r["doc_id"] for r in kept1.collect()) == [1, 2]
        assert (batch_dups1, index_dups1) == (1, 0)

        b2 = spark.createDataFrame(
            [(4, "alpha text"), (5, "gamma text")], ["doc_id", "text"])
        kept2, batch_dups2, index_dups2 = dedup.dedup_against_index(
            spark, b2, "doc_id", "text", table)
        assert [r["doc_id"] for r in kept2.collect()] == [5]
        assert (batch_dups2, index_dups2) == (0, 1)

        # replay of batch 2 (crash-retry direction): BOTH rows now sit in
        # the index (alpha from batch 1, gamma from batch 2) and drop
        kept3, _, index_dups3 = dedup.dedup_against_index(
            spark, b2, "doc_id", "text", table)
        assert kept3.count() == 0 and index_dups3 == 2

    def test_batch_schema_preserved_and_commit_off(self, spark, tmp_path):
        table = self._table(tmp_path)
        b = spark.createDataFrame(
            [(1, "x y", "en")], ["doc_id", "text", "lang"])
        kept, _, _ = dedup.dedup_against_index(
            spark, b, "doc_id", "text", table, commit=False)
        assert set(kept.columns) == {"doc_id", "text", "lang"}
        # commit=False: the index stays empty, a second pass keeps the row
        kept2, _, index_dups = dedup.dedup_against_index(
            spark, b, "doc_id", "text", table, commit=False)
        assert kept2.count() == 1 and index_dups == 0

    def test_normalized_content_matches(self, spark, tmp_path):
        # fingerprint is over normalized text: whitespace/case variants of
        # already-seen content drop
        table = self._table(tmp_path)
        b1 = spark.createDataFrame([(1, "Hello   World")],
                                   ["doc_id", "text"])
        dedup.dedup_against_index(spark, b1, "doc_id", "text", table)
        b2 = spark.createDataFrame([(2, "hello world")],
                                   ["doc_id", "text"])
        kept, _, index_dups = dedup.dedup_against_index(
            spark, b2, "doc_id", "text", table)
        assert kept.count() == 0 and index_dups == 1


    def test_index_anti_join_never_shuffles_index(self, spark, tmp_path):
        """Planted 100x-scale index (20k fingerprints) vs a 100-row
        batch: the broadcast-candidate plan must scan — never shuffle —
        the index, and must agree row-for-row with the shuffle plan."""
        from dativo_ingest_spark.inspect_cmd import plan_summary
        from pyspark.sql import functions as F

        table = self._table(tmp_path)
        big = spark.range(20_000).select(
            F.md5(F.concat(F.lit("hist"), F.col("id").cast("string")))
            .alias("fingerprint"))
        table.write_append(big)
        index = table.read(spark).select("fingerprint")

        # 100-row batch: 10 collide with the index, 90 are new
        batch = spark.range(100).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < 10,
                   F.md5(F.concat(F.lit("hist"),
                                  (F.col("id") * 2000).cast("string"))))
            .otherwise(F.md5(F.concat(F.lit("new"),
                                      F.col("id").cast("string"))))
            .alias("fingerprint"))

        fast = dedup.index_anti_join(batch, index, broadcast=True)
        plan = plan_summary(fast)
        assert plan["sort_merge_joins"] == 0
        assert plan["exchanges"] == 0      # index scanned, never shuffled
        assert plan["broadcast_hash_joins"] == 2
        assert plan["cartesian_products"] == 0

        slow = dedup.index_anti_join(batch, index, broadcast=False)
        a = sorted(tuple(r) for r in fast.collect())
        b = sorted(tuple(r) for r in slow.collect())
        assert a == b and len(a) == 90

    def test_large_batch_falls_back_to_shuffle_join(self, spark, tmp_path):
        """broadcast_batch_limit=0 forces the fallback path end-to-end —
        same kept rows and counters as the broadcast plan."""
        table_a = self._table(tmp_path)
        b1 = spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], ["doc_id", "text"])
        dedup.dedup_against_index(spark, b1, "doc_id", "text", table_a)
        b2 = spark.createDataFrame(
            [(3, "alpha"), (4, "gamma"), (5, "gamma")], ["doc_id", "text"])
        kept, n_b, n_i = dedup.dedup_against_index(
            spark, b2, "doc_id", "text", table_a, broadcast_batch_limit=0)
        assert sorted(r.doc_id for r in kept.collect()) == [4]
        assert (n_b, n_i) == (1, 1)


def test_quantile_rank_check_ignores_nulls(spark):
    from dativo_ingest_spark.operators import sketches

    rows = [("a", float(v)) for v in range(800)] + [("a", None)] * 200
    df = spark.createDataFrame(rows, "g string, v double")
    out = sketches.approx_quantile_rank_check(df, "g", "v").collect()
    assert len(out) == 1
    # nulls excluded from both the sketch AND the rank denominator
    assert out[0]["n"] == 800 and out[0]["rank_ok"]


def test_duplicate_passages_spam_doc_does_not_blind_cut(spark):
    # one doc repeating a trigram 5x (row count > max_gram_df) while only
    # 2 DISTINCT docs carry it: the df-cut counts docs, so the cross-doc
    # signal survives
    spam = " ".join(["spam gram here"] * 5)
    df = spark.createDataFrame(
        [(1, spam), (2, "spam gram here tail")], ["doc_id", "text"])
    out = _rows(dedup.duplicate_passages(df, "doc_id", "text", n=3,
                                         max_gram_df=3))
    assert out[2]["n_dup"] >= 1


class TestGroupAwareSplit:
    def test_near_dup_groups_never_straddle(self, spark):
        from dativo_ingest_spark.operators import sampling

        # 50 near-dup clusters of 4 docs each; group = cluster id
        df = spark.createDataFrame(
            [(c * 10 + i, c) for c in range(50) for i in range(4)],
            ["doc_id", "cluster"])
        out = sampling.group_aware_split(
            df, "cluster", {"train": 0.8, "test": 0.2})
        sides = (out.groupBy("cluster")
                 .agg(F.count_distinct("split").alias("ns")).collect())
        assert all(r["ns"] == 1 for r in sides)   # no cluster straddles
        names = {r["split"] for r in out.select("split").distinct().collect()}
        assert names == {"train", "test"}

    def test_deterministic_and_salt_redeal(self, spark):
        from dativo_ingest_spark.operators import sampling

        df = spark.createDataFrame(
            [(i, i // 3) for i in range(90)], ["doc_id", "g"])
        w = {"train": 0.5, "test": 0.5}
        a = {r["doc_id"]: r["split"] for r in
             sampling.group_aware_split(df, "g", w).collect()}
        b = {r["doc_id"]: r["split"] for r in
             sampling.group_aware_split(df, "g", w).collect()}
        assert a == b
        c = {r["doc_id"]: r["split"] for r in
             sampling.group_aware_split(df, "g", w,
                                        salt="other").collect()}
        assert c != a   # re-deal


class TestUnigramDrift:
    def test_injected_spam_dominates_contributions(self, spark):
        base = [(i, "the quick brown fox jumps over the lazy dog")
                for i in range(40)]
        df_a = spark.createDataFrame(
            base + [(100 + i, "viagra casino viagra casino viagra")
                    for i in range(20)], ["doc_id", "text"])
        df_b = spark.createDataFrame(base, ["doc_id", "text"])
        out = textops.unigram_drift(df_a, df_b, "doc_id", "text", top_k=4)
        top_words = [r["word"] for r in out.collect()]
        assert set(top_words[:2]) == {"viagra", "casino"}
        top = out.collect()[0]
        assert top["c_b"] == 0 and top["kl_contrib"] > 0

    def test_identical_corpora_have_zero_contributions(self, spark):
        df = spark.createDataFrame(
            [(i, "same words everywhere") for i in range(10)],
            ["doc_id", "text"])
        out = textops.unigram_drift(df, df, "doc_id", "text", top_k=5)
        assert all(abs(r["kl_contrib"]) < 1e-12 for r in out.collect())


def test_curate_corpus_example_end_to_end(spark, tmp_path):
    """examples/curate_corpus.py: the composed curation funnel runs and
    shrinks monotonically, ending in a committed snapshot."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "curate_corpus", os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples", "curate_corpus.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.curate(spark, "/root/testdata/sf0.001",
                     str(tmp_path / "curated"))
    assert (out["input"] >= out["gopher_kept"]
            >= out["quality_kept"] >= out["length_clipped"]
            >= out["exact_deduped"] >= out["passages_excised"]
            >= out["neardup_resolved"]
            >= out["decontaminated"] >= out["dsir_selected"]
            >= out["mixture_sampled"] > 0)
    assert out["train_packs"] > 0 and out["table_version"] >= 1


class TestMinhashAgainstIndex:
    """Text near-dup-on-ingest against a persistent MinHash band index
    (dedup.dedup_minhash_against_index) — the third ingest-dedup leg."""

    def _table(self, tmp_path):
        from dativo_ingest_spark.sinks.table_commit import FsTable

        return FsTable.create(str(tmp_path / "mh_index"))

    @staticmethod
    def _frame(spark, rows):
        return spark.createDataFrame(rows, "doc_id string, text string")

    def test_batches_drop_near_dups_like_one_corpus(self, spark, tmp_path):
        table = self._table(tmp_path)
        base = "the quick brown fox jumps over the lazy dog again and again"
        edited = base.replace("lazy", "sleepy")       # one word changed
        other = "completely different content about spark shuffles and joins"
        b1 = self._frame(spark, [("d1", base), ("d2", other),
                                 ("d3", base)])       # d3 exact dup of d1
        kept1, bd1, id1 = dedup.dedup_minhash_against_index(
            spark, b1, "doc_id", "text", table, threshold=0.5)
        assert sorted(r.doc_id for r in kept1.collect()) == ["d1", "d2"]
        assert (bd1, id1) == (1, 0)
        kept1.unpersist()

        # batch 2: a light edit of d1 (shares most shingles) + fresh text
        b2 = self._frame(spark, [("d4", edited),
                                 ("d5", "fresh unrelated words entirely "
                                        "new material here")])
        kept2, bd2, id2 = dedup.dedup_minhash_against_index(
            spark, b2, "doc_id", "text", table, threshold=0.5)
        assert [r.doc_id for r in kept2.collect()] == ["d5"]
        assert (bd2, id2) == (0, 1)
        kept2.unpersist()

        # replay of batch 2: d5 now has exact-equal index entries
        # (signature agreement 1.0) and drops by construction
        kept3, _, id3 = dedup.dedup_minhash_against_index(
            spark, b2, "doc_id", "text", table, threshold=0.5)
        assert kept3.count() == 0 and id3 == 2
        kept3.unpersist()

    def test_short_docs_always_kept_never_indexed(self, spark, tmp_path):
        table = self._table(tmp_path)
        b = self._frame(spark, [("s1", "two words"), ("s2", "two words")])
        kept, bd, _ = dedup.dedup_minhash_against_index(
            spark, b, "doc_id", "text", table)
        # < n words -> no shingles -> no signature -> both keep
        assert kept.count() == 2 and bd == 0
        kept.unpersist()
        assert table.read(spark).count() == 0   # nothing indexed

    def test_schema_preserved_commit_off_and_validation(self, spark,
                                                        tmp_path):
        import pytest as _pytest

        table = self._table(tmp_path)
        b = spark.createDataFrame(
            [("1", "alpha beta gamma delta", "en")],
            ["doc_id", "text", "lang"])
        kept, _, _ = dedup.dedup_minhash_against_index(
            spark, b, "doc_id", "text", table, commit=False)
        assert set(kept.columns) == {"doc_id", "text", "lang"}
        assert kept.is_cached
        kept.unpersist(blocking=True)
        assert not kept.is_cached
        assert table.read(spark).count() == 0
        with _pytest.raises(ValueError):
            dedup.dedup_minhash_against_index(
                spark, b, "doc_id", "text", table, threshold=0.0)
        with _pytest.raises(ValueError):
            dedup.dedup_minhash_against_index(
                spark, b, "doc_id", "text", table, rows_per_band=3)

    def test_entries_come_from_the_persisted_signatures(self, spark,
                                                         tmp_path):
        """The inline commit and the deferred IngestDedup append both
        build entries from the operator's persisted signatures; row for
        row they equal a fresh shingle-and-hash of the kept documents. An
        exact copy drops within the batch, a doc shorter than n words is
        kept without an entry."""
        from dativo_ingest_spark.operators.ingest_dedup import IngestDedup

        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [("d1", base), ("d2", base),
                ("d3", "completely different content about spark shuffles"),
                ("s1", "two words")]
        b = self._frame(spark, rows)

        def fresh_entries(ids):
            kept_rows = self._frame(
                spark, [r for r in rows if r[0] in ids])
            return sorted(
                (r.id, r.key, tuple(r.sig)) for r in
                dedup._minhash_sig_frame(kept_rows, "doc_id", "text",
                                         3, 8, 2)
                .select(F.col("id").cast("string").alias("id"),
                        F.explode("_keys").alias("key"),
                        F.col("_sig").alias("sig")).collect())

        expected = fresh_entries({"d1", "d3", "s1"})
        assert {e[0] for e in expected} == {"d1", "d3"}
        assert len(expected) == 2 * 4   # one row per band per sig-able doc

        inline = self._table(tmp_path)
        kept, bd, _ = dedup.dedup_minhash_against_index(
            spark, b, "doc_id", "text", inline)
        assert sorted(r.doc_id for r in kept.collect()) == ["d1", "d3", "s1"]
        assert bd == 1
        kept.unpersist()
        assert sorted((r.id, r.key, tuple(r.sig))
                      for r in inline.read(spark).collect()) == expected

        dd = IngestDedup("minhash", "doc_id", "text", {})
        deferred = self._table(tmp_path / "deferred")
        kept, _, _, sig = dd.against_index(spark, b, deferred)
        try:
            assert sig.is_cached
            entries = dd.index_entries(kept, sig=sig, n_rows=3)
            assert sorted((r.id, r.key, tuple(r.sig))
                          for r in entries.collect()) == expected
        finally:
            kept.unpersist()
            sig.unpersist()

    def test_folded_observation_falls_back_loudly(self, spark, tmp_path,
                                                  caplog):
        """A batch with no signatures lets AQE drop the observed subtree:
        the count falls back to one extra job, logged once. A scan-backed
        batch keeps its observations and logs nothing."""
        import logging

        caplog.set_level(logging.WARNING, logger=dedup.__name__)
        short = self._frame(spark, [("s1", "two words"),
                                    ("s2", "two words"),
                                    ("s3", "tiny doc")])
        kept, bd, idx = dedup.dedup_minhash_against_index(
            spark, short, "doc_id", "text", self._table(tmp_path))
        assert (kept.count(), bd, idx) == (3, 0, 0)
        kept.unpersist()
        fallbacks = [r for r in caplog.records
                     if "optimized away" in r.getMessage()]
        assert len(fallbacks) == 1

        caplog.clear()
        path = str(tmp_path / "batch")
        base = "the quick brown fox jumps over the lazy dog again and again"
        self._frame(spark, [("d1", base), ("d2", base),
                            ("d3", "other words about spark and joins")]) \
            .write.parquet(path)
        kept, bd, idx = dedup.dedup_minhash_against_index(
            spark, spark.read.parquet(path), "doc_id", "text",
            self._table(tmp_path / "scan"))
        assert (kept.count(), bd, idx) == (2, 1, 0)
        kept.unpersist()
        assert not [r for r in caplog.records
                    if "optimized away" in r.getMessage()]

    def test_hot_cell_admits_undeduped(self, spark, tmp_path):
        table = self._table(tmp_path)
        pile_text = "spam spam spam wonderful spam spam baked beans spam"
        pile = [("p%03d" % i, pile_text) for i in range(300)]
        a = "the quick brown fox jumps over the lazy dog once more"
        b = [("x1", a), ("x2", a)]
        batch = self._frame(spark, pile + b)
        kept, bd, _ = dedup.dedup_minhash_against_index(
            spark, batch, "doc_id", "text", table, threshold=0.5,
            max_cell_size=100)
        # pile cells blow the cap -> admit un-deduped; x pair resolves
        assert kept.count() == 301 and bd == 1
        kept.unpersist()


class TestRemoveDuplicatePassages:
    """Span-level excision: remove-all-but-one for cross-doc n-gram
    passages (the detector's removal counterpart)."""

    def _rows(self, df):
        return {r.id: r for r in df.collect()}

    def test_planted_overlap_excised_from_all_but_one(self, spark):
        shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [
            (1, f"one unique start {shared} one tail words here now"),
            (2, f"two other opening {shared} two closing remark text"),
            (3, f"three distinct head {shared} three ending bits again"),
            (4, "totally unrelated content with no shared passage here"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = self._rows(
            dedup.remove_duplicate_passages(df, "doc_id", "text", n=8))
        # winner (min id) keeps the passage verbatim
        assert shared in out[1].text and out[1].n_removed == 0
        # losers lose the WHOLE 10-word span (run of overlapping grams),
        # not just one 8-gram, and keep their unique prefix/suffix
        for i in (2, 3):
            assert shared.split()[0] not in out[i].text
            assert out[i].n_removed == 10
        assert out[2].text == "two other opening two closing remark text"
        assert out[4].n_removed == 0 and out[4].text == rows[3][1]

    def test_every_doc_present_and_short_docs_verbatim(self, spark):
        df = spark.createDataFrame(
            [(1, "tiny"), (2, None), (3, "three words only")],
            "doc_id long, text string")
        out = self._rows(
            dedup.remove_duplicate_passages(df, "doc_id", "text", n=8))
        assert set(out) == {1, 2, 3}
        assert out[1].text == "tiny" and out[1].n_removed == 0
        assert out[2].text == "" and out[2].n_words == 0
        assert out[3].text == "three words only"

    def test_longer_than_n_span_union_of_grams(self, spark):
        # 5-word shared span with n=3: three overlapping flagged grams
        # union to the full span in the loser
        df = spark.createDataFrame(
            [(1, "p q r s t head"), (2, "tail p q r s t")],
            "doc_id long, text string")
        out = self._rows(
            dedup.remove_duplicate_passages(
                df, "doc_id", "text", n=3, max_gram_df=None))
        assert out[1].text == "p q r s t head"
        assert out[2].text == "tail" and out[2].n_removed == 5

    def test_hot_gram_cut_leaves_boilerplate_in_place(self, spark):
        # grams over max_gram_df are boilerplate: NOT excised here (the
        # line remover's job), same guard split as the detector
        df = spark.createDataFrame(
            [(i, f"common header line unique{i} tail{i}")
             for i in range(3)], "doc_id long, text string")
        cut = self._rows(dedup.remove_duplicate_passages(
            df, "doc_id", "text", n=3, max_gram_df=2))
        assert all(v.n_removed == 0 for v in cut.values())
        loose = self._rows(dedup.remove_duplicate_passages(
            df, "doc_id", "text", n=3, max_gram_df=None))
        assert loose[0].n_removed == 0            # winner
        assert loose[1].n_removed == 3 and loose[2].n_removed == 3

    def test_fully_excised_doc_still_present(self, spark):
        # a loser doc that IS the shared passage loses every word but
        # must still appear with text '' (the every-doc-present rule)
        p = "a b c d e f g h"
        df = spark.createDataFrame(
            [(1, f"{p} plus trailing content"), (2, p)],
            "doc_id long, text string")
        out = self._rows(
            dedup.remove_duplicate_passages(df, "doc_id", "text", n=8))
        assert out[2].text == "" and out[2].n_removed == 8
        assert out[1].n_removed == 0

    def test_no_pair_join_in_plan(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f g h i"), (2, "a b c d e f g h j")],
            "doc_id long, text string")
        plan = dedup.remove_duplicate_passages(
            df, "doc_id", "text", n=8)._sc is None and "" or \
            dedup.remove_duplicate_passages(
                df, "doc_id", "text", n=8)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestMinSpanExactSubstring:
    """The Lee et al. 2021 ExactSubstr length contract: with min_span=L
    a shared substring of L-1 words survives BOTH copies and one of L
    words excises from the loser — the >= L threshold, proven at both
    edges (gram-chain stitching: a run of r consecutive flagged grams
    covers r - 1 + n words)."""

    def _rows(self, df):
        return {r.id: r for r in df.collect()}

    def test_planted_at_l_minus_one_kept(self, spark):
        # n=4, L=6: a 5-word shared substring IS flagged (two 4-gram
        # runs) but its stitched span 5 < 6 -> kept everywhere
        shared = "p q r s t"
        df = spark.createDataFrame(
            [(1, f"one uniq head {shared} one tail bit"),
             (2, f"two other top {shared} two ending part")],
            "doc_id long, text string")
        out = self._rows(dedup.remove_duplicate_passages(
            df, "doc_id", "text", n=4, max_gram_df=None, min_span=6))
        assert shared in out[1].text and out[1].n_removed == 0
        assert shared in out[2].text and out[2].n_removed == 0
        # the legacy default (min_span=None) excises the same plant
        loose = self._rows(dedup.remove_duplicate_passages(
            df, "doc_id", "text", n=4, max_gram_df=None))
        assert loose[2].n_removed == 5

    def test_planted_at_l_excised_from_loser(self, spark):
        shared = "p q r s t u"                   # exactly L=6 words
        df = spark.createDataFrame(
            [(1, f"one uniq head {shared} one tail bit"),
             (2, f"two other top {shared} two ending part")],
            "doc_id long, text string")
        out = self._rows(dedup.remove_duplicate_passages(
            df, "doc_id", "text", n=4, max_gram_df=None, min_span=6))
        assert shared in out[1].text and out[1].n_removed == 0
        assert "p" not in out[2].text.split()
        assert out[2].n_removed == 6
        assert out[2].text == "two other top two ending part"

    def test_mixed_spans_only_long_run_excised(self, spark):
        # one doc carries TWO shared spans separated by unique filler:
        # a 6-word span (>= L) and a 5-word span (< L) — only the long
        # run excises; runs are measured independently
        long_s, short_s = "p q r s t u", "v w x y z"
        df = spark.createDataFrame(
            [(1, f"w1 w2 {long_s} w3 w4 {short_s} w5 w6"),
             (2, f"a1 a2 {long_s} a3 a4 {short_s} a5 a6")],
            "doc_id long, text string")
        out = self._rows(dedup.remove_duplicate_passages(
            df, "doc_id", "text", n=4, max_gram_df=None, min_span=6))
        assert out[1].n_removed == 0
        assert out[2].n_removed == 6
        assert short_s in out[2].text
        assert "p" not in out[2].text.split()

    def test_min_span_validation_and_equivalence_at_n(self, spark):
        import pytest as _pytest

        df = spark.createDataFrame(
            [(1, "a b c d e x"), (2, "y a b c d e")],
            "doc_id long, text string")
        with _pytest.raises(ValueError, match="min_span"):
            dedup.remove_duplicate_passages(
                df, "doc_id", "text", n=4, min_span=3)
        # min_span == n is exactly the legacy behavior
        a = sorted(map(tuple, dedup.remove_duplicate_passages(
            df, "doc_id", "text", n=4, max_gram_df=None,
            min_span=4).collect()))
        b = sorted(map(tuple, dedup.remove_duplicate_passages(
            df, "doc_id", "text", n=4,
            max_gram_df=None).collect()))
        assert a == b

    def test_stitch_window_is_doc_keyed(self, spark):
        # scale contract: the stitching window partitions by the doc id
        # (bounded by one doc's grams), never corpus-wide
        import re

        df = spark.createDataFrame(
            [(1, "a b c d e f g"), (2, "z a b c d e f")],
            "doc_id long, text string")
        plan = dedup.remove_duplicate_passages(
            df, "doc_id", "text", n=4, min_span=6)._jdf \
            .queryExecution().executedPlan().toString()
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs and all("id" in s for s in specs)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestBigramLogprob:
    def _docs(self, spark, texts):
        return spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string")

    def test_self_trained_hand_values(self, spark):
        # "a b a b": bigrams (a,b) (b,a) (a,b); c(a,b)=2 c(b,a)=1 c(a)=2
        # -> lpq = [0, floor(ln(.5)*1e6+.5), 0] = [0, -693147, 0]
        df = self._docs(spark, ["a b a b"])
        row = textops.bigram_logprob(df, "doc_id", "text").collect()[0]
        assert row.n_bigrams == 3 and row.n_backoff == 0
        assert row.avg_logprob == round(-693147 / 3 / 1e6, 6)

    def test_self_training_never_backs_off(self, spark):
        df = self._docs(spark, ["the quick brown fox", "the quick dog",
                                "lazy dog sleeps"])
        rows = textops.bigram_logprob(df, "doc_id", "text").collect()
        assert rows and all(r.n_backoff == 0 for r in rows)

    def test_backoff_path_hand_values(self, spark):
        # model: "a b" -> uc={a:1, b:1}, total=2, vocab=2, bc={(a,b):1}
        model = self._docs(spark, ["a b"])
        scored = self._docs(spark, ["a b", "a z", "z q"])
        got = {r.id: r for r in textops.bigram_logprob(
            scored, "doc_id", "text", model_df=model).collect()}
        assert got[0].n_backoff == 0 and got[0].avg_logprob == 0.0
        # (a,z): unseen bigram, z unseen unigram ->
        #   ln(2*(0+1) / (5*(2+2))) = ln(0.1)
        lp_unseen = math.floor(math.log(2 / 20) * 1e6 + 0.5)
        assert got[1].n_backoff == 1
        assert got[1].avg_logprob == round(lp_unseen / 1e6, 6)
        assert got[2].n_backoff == 1
        assert got[2].avg_logprob == round(lp_unseen / 1e6, 6)

    def test_backoff_uses_seen_unigram_mass(self, spark):
        # (z,b): unseen bigram but b IS in the model -> c2=1 path
        model = self._docs(spark, ["a b"])
        scored = self._docs(spark, ["z b"])
        row = textops.bigram_logprob(
            scored, "doc_id", "text", model_df=model).collect()[0]
        lp = math.floor(math.log((2 * 2) / (5 * 4)) * 1e6 + 0.5)
        assert row.n_backoff == 1
        assert row.avg_logprob == round(lp / 1e6, 6)

    def test_short_docs_have_no_bigrams(self, spark):
        df = self._docs(spark, ["single", "", "two words"])
        ids = {r.id for r in
               textops.bigram_logprob(df, "doc_id", "text").collect()}
        assert ids == {2}


class TestFrequentItems:
    """SpaceSaving candidates + exact recount: output must be EXACT
    (identical to the naive full GROUP BY) whenever capacity covers the
    threshold — the completeness guarantee, not an approximation."""

    def test_equals_naive_groupby(self, spark):
        import math

        from dativo_ingest_spark.functions import text
        from dativo_ingest_spark.operators import sketches
        from dativo_ingest_spark.queries import load
        from tests.conftest import SF_DIR
        from pyspark.sql import functions as F

        docs = load(spark, SF_DIR, "documents")
        words = docs.select(F.explode(
            text.words(F.coalesce(F.col("text"), F.lit("")))).alias("w"))
        got = {(r.item, r.n) for r in sketches.frequent_items(
            words, "w", threshold_fraction=0.002,
            capacity=1000).collect()}
        n = words.count()
        thresh = math.ceil(n * 0.002)
        exp = {(r.w, r.n) for r in
               words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
               .filter(F.col("n") >= thresh).collect()}
        assert got == exp and len(got) > 0

    def test_planted_heavy_hitter_survives_tiny_capacity(self, spark):
        from dativo_ingest_spark.operators import sketches
        from pyspark.sql import functions as F

        # 1000 distinct singletons + one item at 30%: capacity 10 <<
        # distinct items, yet the hitter MUST surface
        rows = [(f"u{i}",) for i in range(1000)] + [("HOT",)] * 430
        df = spark.createDataFrame(rows, "w string").repartition(8)
        out = sketches.frequent_items(df, "w",
                                      threshold_fraction=0.2, capacity=10)
        got = [(r.item, r.n) for r in out.collect()]
        assert got == [("HOT", 430)]

    def test_non_string_key_column_stays_typed(self, spark):
        from dativo_ingest_spark.operators import sketches
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        # Bigint keys: the sketch output schema must mirror the input
        # type so the recount semi-join compares bigint = bigint, never
        # an implicit string cast.
        rows = [(i % 7,) for i in range(700)] + [(999,)] * 300
        df = spark.createDataFrame(rows, "k bigint").repartition(4)
        cands = sketches.spacesaving_candidates(df, "k", capacity=50)
        assert isinstance(cands.schema["k"].dataType, LongType)
        out = sketches.frequent_items(df, "k", threshold_fraction=0.25,
                                      capacity=50)
        assert isinstance(out.schema["item"].dataType, LongType)
        got = [(r.item, r.n) for r in out.collect()]
        assert got == [(999, 300)]

    def test_capacity_below_threshold_rejected(self, spark):
        from dativo_ingest_spark.operators import sketches

        df = spark.createDataFrame([("a",)], "w string")
        import pytest as _pytest
        with _pytest.raises(ValueError, match="completeness"):
            sketches.frequent_items(df, "w", threshold_fraction=0.001,
                                    capacity=100)


class TestBloomIndexAntiJoin:
    def test_no_false_negatives_exact_result(self, spark):
        from pyspark.sql import functions as F

        index = spark.range(5_000).select(
            F.md5(F.concat(F.lit("hist"), F.col("id").cast("string")))
            .alias("fingerprint"))
        batch = spark.range(400).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < 50,
                   F.md5(F.concat(F.lit("hist"),
                                  (F.col("id") * 100).cast("string"))))
            .otherwise(F.md5(F.concat(F.lit("new"),
                                      F.col("id").cast("string"))))
            .alias("fingerprint"))
        got = sorted(tuple(r) for r in dedup.bloom_index_anti_join(
            batch, index).collect())
        want = sorted(tuple(r) for r in dedup.index_anti_join(
            batch, index, broadcast=False).collect())
        assert got == want and len(got) == 350

    def test_bitmap_membership_and_fp_rate(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        keys = spark.range(2_000).select(
            F.md5(F.col("id").cast("string")).alias("fingerprint"))
        m = dedup._bloom_m_bits(2_000, dedup.BLOOM_BITS_PER_KEY)
        bm = dedup.bloom_bitmap(keys, "fingerprint", m)
        # every inserted key must hit (no false negatives)
        hits = (keys.withColumn(
            "_probes",
            dedup._bloom_positions(F.col("fingerprint"),
                                   dedup.BLOOM_NUM_PROBES, m))
            .select(dedup._bloom_hit_udf(bm)(F.col("_probes"))
                    .alias("h")))
        assert all(r.h for r in hits.collect())
        # non-members mostly miss (designed fp ~6e-4; allow 100x slack)
        others = spark.range(10_000).select(
            F.md5(F.concat(F.lit("x"), F.col("id").cast("string")))
            .alias("fingerprint"))
        fp = (others.withColumn(
            "_probes",
            dedup._bloom_positions(F.col("fingerprint"),
                                   dedup.BLOOM_NUM_PROBES, m))
            .filter(dedup._bloom_hit_udf(bm)(F.col("_probes"))).count())
        assert fp <= 10_000 * 0.06
        assert isinstance(bm, np.ndarray) and bm.dtype == np.uint64

    def test_index_side_never_exchanges(self, spark):
        from dativo_ingest_spark.inspect_cmd import plan_summary
        from pyspark.sql import functions as F

        index = spark.range(20_000).select(
            F.md5(F.col("id").cast("string")).alias("fingerprint"))
        batch = spark.range(100).select(
            F.md5(F.concat(F.lit("b"), F.col("id").cast("string")))
            .alias("fingerprint"))
        m = dedup._bloom_m_bits(100, dedup.BLOOM_BITS_PER_KEY)
        bm = dedup.bloom_bitmap(batch, "fingerprint", m)
        candidates = (index.withColumn(
            "_probes",
            dedup._bloom_positions(F.col("fingerprint"),
                                   dedup.BLOOM_NUM_PROBES, m))
            .filter(dedup._bloom_hit_udf(bm)(F.col("_probes"))))
        plan = plan_summary(candidates)
        assert plan["exchanges"] == 0   # pure scan-stage prefilter

    def test_dedup_against_index_routes_large_batches_to_bloom(
            self, spark, tmp_path):
        from dativo_ingest_spark.sinks.table_commit import FsTable

        table = FsTable.create(str(tmp_path / "bloom_idx"))
        b1 = spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], ["doc_id", "text"])
        dedup.dedup_against_index(spark, b1, "doc_id", "text", table)
        b2 = spark.createDataFrame(
            [(3, "alpha"), (4, "gamma"), (5, "gamma")],
            ["doc_id", "text"])
        # limit=0 forces every batch down the large-batch (bloom) path
        kept, n_b, n_i = dedup.dedup_against_index(
            spark, b2, "doc_id", "text", table, broadcast_batch_limit=0)
        assert sorted(r.doc_id for r in kept.collect()) == [4]
        assert (n_b, n_i) == (1, 1)


class TestSetsimPrefixPairs:
    def _sets(self, spark, rows):
        return spark.createDataFrame(rows, "id long, grams array<string>")

    def test_matches_bruteforce(self, spark):
        import itertools

        rows = [
            (1, ["a", "b", "c", "d"]),
            (2, ["a", "b", "c", "e"]),      # J(1,2)=3/5=0.6
            (3, ["a", "b", "c", "d"]),      # J(1,3)=1.0
            (4, ["x", "y", "z", "w"]),      # disjoint from 1-3
            (5, ["x", "y", "z", "q"]),      # J(4,5)=0.6
            (6, ["m"]),
        ]
        got = {(r.id_a, r.id_b): r.jaccard_micro
               for r in dedup.setsim_prefix_pairs(
                   self._sets(spark, rows), threshold=0.6).collect()}
        want = {}
        for (ia, sa), (ib, sb) in itertools.combinations(
                [(i, set(g)) for i, g in rows], 2):
            o = len(sa & sb)
            u = len(sa | sb)
            if u and o * 1_000_000 >= 600_000 * u:
                want[(ia, ib)] = (o * 1_000_000) // u
        assert got == want
        assert (1, 3) in got and got[(1, 3)] == 1_000_000

    def test_lossless_on_hot_boilerplate(self, spark):
        # a token shared by EVERY doc (the case ngram_jaccard's df-cut
        # can lose): identical docs must still pair at threshold 1.0
        rows = [(i, ["boiler", f"u{i}"]) for i in range(50)]
        rows += [(100, ["boiler", "dup"]), (101, ["boiler", "dup"])]
        got = {(r.id_a, r.id_b) for r in dedup.setsim_prefix_pairs(
            self._sets(spark, rows), threshold=0.99).collect()}
        assert got == {(100, 101)}

    def test_prefix_prunes_candidates(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window as _W

        # 40 docs sharing half their tokens pairwise-disjointly enough
        # that high-threshold prefixes (rarest tokens = the unique ones)
        # generate far fewer than all pairs
        rows = [(i, [f"common{j}" for j in range(5)]
                 + [f"uniq{i}_{j}" for j in range(15)])
                for i in range(40)]
        sets = self._sets(spark, rows)
        sized = sets.select(
            "id", F.col("grams").alias("toks"),
            F.size("grams").alias("sz"))
        inv = sized.select("id", "sz", F.explode("toks").alias("tok"))
        dfc = inv.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
        ranked = inv.join(dfc, "tok").withColumn(
            "_rk", F.row_number().over(
                _W.partitionBy("id").orderBy("_df", "tok")))
        prefix = ranked.filter(
            F.col("_rk") <= F.col("sz")
            - F.ceil(F.lit(0.8) * F.col("sz")) + 1).select("id", "tok")
        n_cand = (prefix.alias("a").join(prefix.alias("b"), "tok")
                  .filter(F.col("a.id") < F.col("b.id"))
                  .select("a.id", "b.id").distinct().count())
        assert n_cand == 0          # prefixes are all-unique tokens
        # and the full verify agrees: nothing reaches J >= 0.8
        assert dedup.setsim_prefix_pairs(
            sets, threshold=0.8).count() == 0

    def test_empty_sets_dropped(self, spark):
        rows = [(1, []), (2, ["a"]), (3, ["a"])]
        got = {(r.id_a, r.id_b) for r in dedup.setsim_prefix_pairs(
            self._sets(spark, rows), threshold=0.5).collect()}
        assert got == {(2, 3)}


class TestLshTuning:
    def test_module_defaults_are_the_tuned_choice(self):
        # the shipped minhash defaults (8 hashes, 2 rows/band) are
        # exactly what the tuner picks for the default 0.5 threshold
        got = dedup.lsh_tuning(0.5, 8)
        assert (got["rows_per_band"], got["num_bands"]) == (2, 4)
        assert got["midpoint"] == 0.5

    def test_midpoint_sits_at_or_below_threshold(self):
        for t in (0.5, 0.6, 0.7, 0.8, 0.9):
            for h in (8, 16, 32, 64, 128):
                got = dedup.lsh_tuning(t, h)
                assert got["rows_per_band"] * got["num_bands"] == h
                # recall-safe: high P(candidate) at the threshold
                assert got["p_at_threshold"] > 0.5

    def test_scurve_and_validation(self):
        assert dedup.lsh_candidate_probability(1.0, 4, 2) == 1.0
        assert dedup.lsh_candidate_probability(0.0, 4, 2) == 0.0
        import pytest as _pytest

        with _pytest.raises(ValueError):
            dedup.lsh_tuning(1.5, 8)
        with _pytest.raises(ValueError):
            dedup.lsh_tuning(0.5, 1)


class TestDedupByQuality:
    def _corpus(self, spark):
        return spark.createDataFrame(
            [(1, "mirror copy", 0.2), (2, "clean original", 0.9),
             (3, "ocr copy", 0.1), (4, "unrelated", 0.5),
             (10, "tie a", 0.7), (11, "tie b", 0.7)],
            "doc_id long, text string, score double")

    def _pairs(self, spark, pairs):
        return spark.createDataFrame(pairs, "id_a long, id_b long")

    def test_keeps_best_not_first(self, spark):
        df = self._corpus(spark)
        pairs = self._pairs(spark, [(1, 2), (2, 3)])
        kept = {r.doc_id for r in dedup.dedup_corpus_by_quality(
            df, pairs, "doc_id", "score").collect()}
        # min-id policy would keep 1 (the mirror); quality keeps 2
        assert kept == {2, 4, 10, 11}
        old = {r.doc_id for r in dedup.dedup_corpus(
            df, pairs, "doc_id").collect()}
        assert 1 in old and 2 not in old

    def test_quality_tie_resolves_to_lower_id(self, spark):
        df = self._corpus(spark)
        pairs = self._pairs(spark, [(10, 11)])
        kept = {r.doc_id for r in dedup.dedup_corpus_by_quality(
            df, pairs, "doc_id", "score").collect()}
        assert 10 in kept and 11 not in kept

    def test_unpaired_docs_pass_through(self, spark):
        df = self._corpus(spark)
        pairs = self._pairs(spark, [(1, 3)])
        kept = {r.doc_id for r in dedup.dedup_corpus_by_quality(
            df, pairs, "doc_id", "score").collect()}
        assert {2, 4, 10, 11} <= kept


class TestSketchRollupServing:
    def test_rollup_roundtrip_and_regroup(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from dativo_ingest_spark.operators.sketches import (
            build_sketch_rollup, serve_distinct)
        from dativo_ingest_spark.queries import load
        from tests.conftest import SF_DIR

        ev = load(spark, SF_DIR, "events")
        out = str(tmp_path / "rollup")
        build_sketch_rollup(ev, "ts", "event_type", "user_id", out)
        # regroup ACROSS the day grain the rollup was built under
        got = {r.group: r.approx_distinct
               for r in serve_distinct(spark, out, "key").collect()}
        exact = {r.event_type: r.n for r in ev.groupBy("event_type")
                 .agg(F.countDistinct("user_id").alias("n")).collect()}
        assert set(got) == set(exact)
        for k, n in exact.items():
            assert abs(got[k] - n) <= max(0.05 * n, 2), (k, got[k], n)
        # day-range filter: serving a slice touches only rollup rows
        sliced = serve_distinct(spark, out, "'all'",
                                where="day % 2 = 0").collect()
        assert len(sliced) == 1 and sliced[0].approx_distinct > 0

    def test_global_union_matches_total(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from dativo_ingest_spark.operators.sketches import (
            build_sketch_rollup, serve_distinct)
        from dativo_ingest_spark.queries import load
        from tests.conftest import SF_DIR

        ev = load(spark, SF_DIR, "events")
        out = str(tmp_path / "rollup2")
        build_sketch_rollup(ev, "ts", "event_type", "user_id", out)
        got = serve_distinct(spark, out, "'all'").collect()[0]
        n = ev.agg(F.countDistinct("user_id")).collect()[0][0]
        assert abs(got.approx_distinct - n) <= max(0.05 * n, 2)


def test_retrieval_pipeline_example_end_to_end(spark):
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "retrieval_pipeline",
        os.path.join(os.path.dirname(__file__), os.pardir, "examples",
                     "retrieval_pipeline.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from tests.conftest import SF_DIR

    out = mod.search(spark, SF_DIR)
    assert out["queries"] == 2 and out["fused_candidates"] == 20
    assert out["n_vectors"] > 0


def test_mixture_pipeline_example_end_to_end(spark, tmp_path):
    """examples/mixture_pipeline.py: solve weights -> budgeted admission
    -> shard export -> audit, deterministically."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "mixture_pipeline",
        os.path.join(os.path.dirname(__file__), os.pardir, "examples",
                     "mixture_pipeline.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from tests.conftest import SF_DIR

    out = mod.build_mixture(spark, SF_DIR, str(tmp_path / "mix"),
                            total_budget=60, n_shards=2)
    assert out["audit_ok"] and out["shards"] == 2
    assert out["domains"] >= 2
    # weights are normalized micro shares; budgets follow them
    assert abs(sum(out["weights"].values()) - 1_000_000) \
        <= out["domains"]
    assert sum(out["budgets"].values()) <= 60 + out["domains"]
    # admission respects per-domain budgets (cap, not quota-fill)
    assert out["admitted"] <= sum(out["budgets"].values())

    # determinism: a second run admits the identical corpus
    out2 = mod.build_mixture(spark, SF_DIR, str(tmp_path / "mix2"),
                             total_budget=60, n_shards=2)
    assert out2["weights"] == out["weights"]
    assert out2["admitted"] == out["admitted"]
