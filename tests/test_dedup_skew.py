"""Skew guards for the dedup pair generators.

At corpus scale one boilerplate gram (licence header, navigation chrome)
or one degenerate LSH bucket makes the candidate self-join quadratic on a
single shuffle key. The guards must be ON by default and actually remove
the hot keys before the join.
"""

from __future__ import annotations

import inspect

from pyspark.sql import functions as F

from dativo_ingest_spark.operators import dedup


def test_skew_guards_default_on():
    assert (
        inspect.signature(dedup.ngram_jaccard_pairs)
        .parameters["max_gram_df"].default == dedup.MAX_GRAM_DF_DEFAULT
        is not None
    )
    assert (
        inspect.signature(dedup.minhash_lsh_pairs)
        .parameters["max_bucket_size"].default
        == dedup.MAX_BUCKET_SIZE_DEFAULT
        is not None
    )


def test_drop_hot_grams_removes_only_hot_keys(spark):
    rows = [(i, "hot") for i in range(30)] + [(0, "cold"), (1, "cold")]
    inv = spark.createDataFrame(rows, "id bigint, gram string")
    kept = dedup.drop_hot_grams(inv, max_gram_df=10)
    assert {r.gram for r in kept.collect()} == {"cold"}
    assert kept.count() == 2
    # a gram at exactly the cut survives (> semantics)
    assert dedup.drop_hot_grams(inv, max_gram_df=30).count() == 32


def test_drop_hot_buckets_removes_only_degenerate_cells(spark):
    rows = [(i, 0, "deadbeef") for i in range(25)] + [
        (0, 0, "cafe"), (1, 0, "cafe"), (2, 1, "deadbeef")]
    bands = spark.createDataFrame(rows, "id bigint, band int, bucket string")
    kept = dedup.drop_hot_buckets(bands, max_bucket_size=10)
    got = {(r.band, r.bucket) for r in kept.collect()}
    # the (0, deadbeef) cell of 25 docs is gone; same bucket value in
    # another band (size 1) and the small cafe cell survive
    assert got == {(0, "cafe"), (1, "deadbeef")}
    assert kept.count() == 3


def _boilerplate_corpus(spark, n_docs=40):
    """Docs sharing a long boilerplate prefix with long unique tails, plus
    one genuine duplicate pair (9000/9001) with no boilerplate at all."""
    boiler = ("all rights reserved this document is provided as is without "
              "warranty of any kind either express or implied")
    rows = [
        (i, boiler + " " + " ".join(f"tail{i}w{k}" for k in range(30)))
        for i in range(n_docs)
    ]
    dup = "completely original content " + " ".join(
        f"unique{k}" for k in range(30))
    rows += [(9000, dup), (9001, dup)]
    return spark.createDataFrame(rows, "doc_id bigint, body string")


def test_ngram_guard_kills_boilerplate_pairs_keeps_true_dups(spark):
    docs = _boilerplate_corpus(spark)
    got = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "body", threshold=0.5, max_gram_df=5).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(9000, 9001)}
    assert got[0].jaccard == 1.0  # dup pair has no hot grams: exact value
    # hot-gram join rows never exist: the inverted index itself is clean
    grams = dedup.gram_sets(docs, "doc_id", "body", 3)
    inv = grams.select("id", F.explode("grams").alias("gram"))
    kept = dedup.drop_hot_grams(inv, max_gram_df=5)
    hot_df = kept.groupBy("gram").count().agg(F.max("count")).first()[0]
    assert hot_df <= 5  # no remaining gram can fan the self-join out


def test_minhash_bucket_guard_drops_degenerate_corpus(spark):
    """30 identical docs collapse into one LSH bucket per band — the guard
    skips those cells (mass-identical content is exact_dedup's job, at one
    shuffle on a 16-byte key). Disabling the guard restores all pairs."""
    text = "identical boilerplate body repeated verbatim across the corpus"
    docs = spark.createDataFrame(
        [(i, text) for i in range(30)], "doc_id bigint, body string")
    guarded = dedup.minhash_lsh_pairs(
        docs, "doc_id", "body", n=3, threshold=0.5, max_bucket_size=10)
    assert guarded.count() == 0
    unguarded = dedup.minhash_lsh_pairs(
        docs, "doc_id", "body", n=3, threshold=0.5, max_bucket_size=None)
    assert unguarded.count() == 30 * 29 // 2
    # exact dedup catches the same mass-dup group cheaply
    groups = dedup.exact_dedup(docs, "doc_id", "body")
    assert [(r.survivor_id, r.n_dups) for r in groups.collect()] == [(0, 30)]


def test_benchmark_contamination_flags_planted_overlap(spark):
    bench = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "intro text then the quick brown fox jumps away"),   # 2 shared trigrams
         (2, "quick brown cat sleeps all day"),                   # 0 shared
         (3, "over the lazy dog and nothing else")],              # 2 shared
        "doc_id long, text string")
    got = {(r.id, r.bench_id): r.shared_grams
           for r in dedup.benchmark_contamination(
               corpus, bench, "doc_id", "text", n=3, min_shared=2).collect()}
    assert (1, 1000) in got and got[(1, 1000)] >= 2
    assert (3, 1000) in got
    assert all(cid != 2 for cid, _ in got)


def test_benchmark_contamination_broadcasts_bench_side(spark):
    bench = spark.createDataFrame([(9, "a b c d")], "doc_id long, text string")
    corpus = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = dedup.benchmark_contamination(
        corpus, bench, "doc_id", "text")._jdf.queryExecution()\
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_inline_key_filter_escapes_backslash_and_quote_drops_none(spark):
    """Keys holding ``\\`` and ``'`` match literally; a ``None`` key matches
    nothing (not the string ``'None'``, not a NULL row)."""
    stored = ["a\\b", "a\b", "o'brien", "c\\'d", "plain", "None", None,
              "other"]
    frame = spark.createDataFrame([(k,) for k in stored], "_key string")
    keys = ["a\\b", "o'brien", "c\\'d", "plain", None]
    got = [r[0] for r in frame.filter(
        dedup._inline_key_filter("_key", keys)).collect()]
    assert sorted(got) == sorted(["a\\b", "o'brien", "c\\'d", "plain"])
    assert frame.filter(dedup._inline_key_filter("_key", [None])).count() == 0
