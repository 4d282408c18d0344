"""Deduplication operators for large-scale text corpora.

Exact, n-gram-Jaccard, and MinHash+LSH dedup as DataFrame pipelines. These
are beyond the reference's own surface (it has no dedup; its `>=` cursor
re-reads even *require* one downstream — SURVEY §2.8) and are first-class
operators of this engine for training-data curation at 100 TB.

Scale notes (the whole point of each design):

- **exact_dedup**: md5-of-normalized-text fingerprint + min-id-per-group.
  One shuffle on a 16-byte key; partial aggregation makes it map-side cheap.
- **ngram_jaccard_pairs**: inverted-index candidate generation — explode
  distinct n-grams, self-join on the gram, count shared grams per pair, then
  exact Jaccard from set sizes. Never materializes the O(n²) pair space;
  common-gram skew is bounded with ``max_gram_df`` (drop grams appearing in
  more than N docs — standard df-cut, also kills stopword-gram hot keys).
- **minhash_lsh_pairs**: minwise signatures (md5, engine-portable — see
  functions/hashing.py) → banded LSH buckets → pair join within buckets →
  exact-Jaccard verification of candidates only. Shuffle volume is
  O(docs × bands), independent of pair count; this is the 100 TB path.
"""

from __future__ import annotations

import logging

import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dativo_ingest_spark.functions import hashing, text
from dativo_ingest_spark.operators.util import widen as _widen
from dativo_ingest_spark.operators.util import local_df


def with_fingerprint(df: DataFrame, text_col: str, out_col: str = "fingerprint") -> DataFrame:
    return df.withColumn(out_col, hashing.content_fingerprint(F.col(text_col)))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Survivor per exact-content group: min id per fingerprint.

    Returns (fingerprint, survivor_id, n_dups).
    """
    return (
        with_fingerprint(_widen(df), text_col)
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def gram_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, grams) with grams = distinct word n-gram set of the doc.

    Docs with fewer than ``n`` words yield an empty gram set (kept — explode
    and pair joins drop them naturally; callers needing them gone must filter
    *above* a materialization barrier, never here: a ``size(grams) > 0``
    filter gets predicate-pushed below these projections and re-inlines the
    whole normalize+split+ngram expression per row, a measured >20x slowdown).

    The token array is materialized through a projection boundary before the
    n-gram lambda: higher-order-function lambdas get no common-subexpression
    elimination, so inlining ``words`` would re-run the full normalize+split
    per element_at (~3x grams per doc).
    """
    tokens = _widen(df).select(
        F.col(id_col).alias("id"),
        text.words(F.col(text_col)).alias("_words"),
    )
    return tokens.select(
        "id",
        F.array_distinct(text.word_ngrams(F.col("_words"), n)).alias("grams"),
    )


#: Skew-guard defaults — ON because a single corpus-wide boilerplate gram
#: (or one degenerate LSH bucket) turns the candidate self-join quadratic on
#: that key: df docs sharing a gram contribute df²/2 join rows, so one
#: licence header shared by 1M docs is 5×10¹¹ rows on ONE shuffle key. The
#: defaults only engage on keys that are boilerplate by construction (a gram
#: in >1000 docs / an LSH bucket holding >500 docs carries no pair-specific
#: signal); pass ``None`` explicitly to disable.
MAX_GRAM_DF_DEFAULT = 1000
MAX_BUCKET_SIZE_DEFAULT = 500


def drop_hot_grams(inv: DataFrame, max_gram_df: int) -> DataFrame:
    """Document-frequency cut over an inverted index (id, gram): remove
    grams occurring in more than ``max_gram_df`` documents. The hot-gram
    list is tiny by construction (heavy-hitter tail) → broadcast anti-join,
    no extra shuffle of the index itself."""
    hot = (
        inv.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_gram_df)
        .select("gram")
    )
    return inv.join(F.broadcast(hot), "gram", "left_anti")


def drop_hot_buckets(bands: DataFrame, max_bucket_size: int) -> DataFrame:
    """Degenerate-bucket cut over LSH band rows (id, band, bucket): remove
    (band, bucket) cells holding more than ``max_bucket_size`` docs."""
    big = (
        bands.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") > max_bucket_size)
        .select("band", "bucket")
    )
    return bands.join(F.broadcast(big), ["band", "bucket"], "left_anti")


#: ceiling for inlining a hot-key list as a literal NOT-IN filter; beyond
#: it (a pathologically degenerate corpus) the guard falls back to the
#: broadcast anti-join, whose memory stays bounded by the broadcast.
MAX_INLINE_HOT_KEYS = 1024


def without_hot_keys(df: DataFrame, key_col: str, max_count: int,
                     max_inline: int = MAX_INLINE_HOT_KEYS,
                     stats: dict | None = None,
                     collect_keys: int = 0) -> DataFrame:
    """Heavy-hitter cut with a driver-resolved fast path.

    The r3 guards kept the key-count aggregate + broadcast anti-join as
    *branches of the main plan*, which re-compiled the md5-heavy upstream
    subtree per branch and cost ~2x wall on the bench even when zero keys
    were hot. Here the hot list is resolved eagerly with one small job,
    then:

    * empty — the overwhelmingly common case: the main plan is returned
      untouched, compiling exactly as if the guard were off;
    * small (<= ``max_inline`` keys): inlined literal NOT-IN filter —
      scan-stage, no join;
    * large (>``max_inline`` keys each above ``max_count``): broadcast
      anti-join fallback — memory bounded, never inlines an unbounded
      literal list.

    ONLY for callers whose upstream is already materialized (the dedup
    pipelines cache their gram/signature frames): the eager job then costs
    one cached pass + a map-side-combined count whose result is O(hot
    keys), not O(rows). For single-pass pipelines over an uncached 100 TB
    scan (benchmark_contamination) the plan-branch anti-join is the right
    tool — an eager job there would be a second full corpus pass.

    ``stats`` (optional out-param): mutated with ``hot_keys`` = the exact
    number of keys the cut removed (one extra count job only in the
    rare >``max_inline`` regime), so callers can expose the recall
    effect programmatically instead of relying on log lines.

    ``collect_keys`` (requires ``stats``): harvest the batch's DISTINCT
    key list from the SAME aggregate job — when the batch has at most
    that many distinct keys, ``stats['keys']`` is set to the surviving
    (non-hot) keys, letting ingest callers prune their index scan with
    an inlined pushdown predicate instead of running a separate
    distinct + broadcast-exchange job over the cached upstream. Above
    the bound ``stats['keys']`` is absent and one extra (cached-scan)
    job resolves the hot list exactly as before."""
    agg = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("_sz"))
    big = agg.filter(F.col("_sz") > max_count).select(key_col)
    if collect_keys and stats is not None:
        bound = max(int(collect_keys), max_inline)
        rows = agg.limit(bound + 1).collect()
        if len(rows) <= bound:
            hot = [r[0] for r in rows if r[1] > max_count]
            stats["hot_keys"] = len(hot)
            stats["keys"] = [r[0] for r in rows if r[1] <= max_count]
            if not hot:
                return df
            if len(hot) <= max_inline:
                return df.filter(~F.col(key_col).isin(hot))
            # degenerate regime: the hot list is in hand but too long to
            # inline — anti-join against a driver-local frame (no second
            # aggregate job over df)
            from dativo_ingest_spark.operators.util import local_df

            hot_df = local_df(
                df.sparkSession, [(k,) for k in hot], "k string"
            ).select(F.col("k").cast(df.schema[key_col].dataType)
                     .alias(key_col))
            return df.join(F.broadcast(hot_df), key_col, "left_anti")
        # more distinct keys than the harvest bound: fall through to the
        # classic hot-only collect (one more small job over the agg)
    hot = [r[0] for r in big.limit(max_inline + 1).collect()]
    if stats is not None:
        stats["hot_keys"] = (
            len(hot) if len(hot) <= max_inline else big.count())
    if not hot:
        return df
    if len(hot) <= max_inline:
        return df.filter(~F.col(key_col).isin(hot))
    return df.join(F.broadcast(big), key_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_gram_df: int | None = MAX_GRAM_DF_DEFAULT,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    ``max_gram_df`` (default on) drops grams occurring in more than that
    many documents before the self-join — the skew guard that keeps the
    join from going quadratic on a boilerplate gram. Dropped grams are
    excluded from the shared-gram counts (set sizes stay exact), so pairs
    whose overlap is *only* corpus-wide boilerplate score lower — the
    standard df-cut semantics, and the wanted ones: boilerplate overlap is
    not duplication evidence.
    """
    # cache: grams feed both the size lookup and the inverted index, and
    # the explode below re-evaluates an uncached child per OUTPUT row (see
    # simhash_signatures — measured ~75x).
    grams = gram_sets(df, id_col, text_col, n).cache()
    sizes = grams.select("id", F.size("grams").alias("n_grams"))
    inv = grams.select("id", F.explode("grams").alias("gram"))
    if max_gram_df is not None:
        # grams is cached above, so the guard resolves driver-side (one
        # cheap job); on a clean corpus the self-join plan stays untouched
        inv = without_hot_keys(inv, "gram", max_gram_df)
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(b, (F.col("a.gram") == F.col("b.gram"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _sig_from_grams(grams: DataFrame, num_hashes: int) -> DataFrame:
    """(id, _s0.._sH) minwise signature columns from a (id, grams) frame.

    THE load-bearing construction both the pair-mining path
    (:func:`minhash_lsh_pairs`) and the persistent-index ingest path
    (:func:`dedup_minhash_against_index`) shuffle on — one shared builder
    so they can never silently diverge (a divergence would stop every
    committed index entry from matching future batches). Callers MUST
    pass a materialization-barriered grams frame (cache or exchange):
    the explode otherwise re-evaluates the tokenize+ngram pipeline per
    OUTPUT row (gram_sets docstring, measured ~20-75x)."""
    hashed = grams.select("id", F.explode("grams").alias("gram")).select(
        "id", hashing.chunked_gram_hashes(F.col("gram"), num_hashes).alias("h")
    )
    return hashed.groupBy("id").agg(
        *[
            F.min(F.substring("h", s * 8 + 1, 8)).alias(f"_s{s}")
            for s in range(num_hashes)
        ]
    )


def _band_key_cols(num_hashes: int, rows_per_band: int) -> list:
    """One ``'b|slice|..'`` LSH band-key Column per band over the
    ``_s{i}`` signature columns — shared by the pair-mining bucket
    explode and the ingest index keys (same divergence stakes as
    :func:`_sig_from_grams`)."""
    num_bands = num_hashes // rows_per_band
    return [
        F.concat_ws(
            "|",
            F.lit(str(b)),
            *[
                F.col(f"_s{b * rows_per_band + r}")
                for r in range(rows_per_band)
            ],
        )
        for b in range(num_bands)
    ]


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
) -> DataFrame:
    """MinHash+LSH candidate pairs, verified with exact n-gram Jaccard.

    Returns (id_a, id_b, jaccard) for candidates whose true Jaccard >=
    threshold. ``max_bucket_size`` (default on) skips degenerate LSH
    buckets — the skew guard for boilerplate corpora, where one bucket
    holding B docs contributes B²/2 candidate rows on a single shuffle
    key. Verification stays exact (full gram sets), so the guard affects
    candidate recall only, never a surviving pair's jaccard value.

    Signatures are computed explode-first: (id, gram) rows → one flat
    chunked-md5 expression (``hashing.chunked_gram_hashes``; ceil(H/4) md5
    per gram, not H) → ``groupBy(id)`` with ``num_hashes`` ``min`` aggs.
    Map-side partial aggregation collapses each doc's grams before the
    shuffle, so the exchange carries one (id, H×8-char) row per doc per
    partition — and the whole hash path is whole-stage-codegen'd scalar
    code. The per-row HOF alternative (8 ``transform``→``array_min`` md5
    arrays per doc) allocates ~4× the garbage; under bench-session heap
    pressure that showed 0.7→14.8 s swings at sf0.1 from GC alone.
    """
    # Cache is the materialization barrier: the emptiness filter sits above
    # it so it can't be predicate-pushed into the gram expressions.
    grams = gram_sets(df, id_col, text_col, n).cache()
    grams = grams.filter(F.size("grams") > 0)
    # NOT cached deliberately: the band frame is consumed by the hot-bucket
    # aggregate, its anti-join probe, and both self-join sides, but
    # ReusedExchange already shares the shuffled signature across them —
    # measured best-of-3 with a sig.cache() barrier was equal at best and
    # up to 7x worse under heap pressure (cache-write + GC swings).
    sig = _sig_from_grams(grams, num_hashes)
    num_bands = num_hashes // rows_per_band
    assert num_bands * rows_per_band == num_hashes
    # Bucket key = band index prefixed onto the RAW signature slice. Only
    # key *equality* matters for LSH banding, so hashing the slice (md5 in
    # r2/r3) bought nothing: the raw concat is shorter than md5's 32 hex
    # chars (band + 2x8 here), cheaper to produce, and shuffles less.
    bands = sig.select(
        "id",
        F.explode(F.array(*_band_key_cols(num_hashes, rows_per_band)))
        .alias("bucket"),
    )
    if max_bucket_size is not None:
        # cache before the guard's eager count: the signature pipeline runs
        # once (guard job materializes it), the self-join sides read the
        # cached (id, bucket) rows — O(docs x bands x ~30B), spill-safe
        bands = bands.cache()
        bands = without_hot_keys(bands, "bucket", max_bucket_size)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ga = grams.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = grams.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, n: int = 3
) -> DataFrame:
    """(id, simhash) — portable bitstring SimHash over distinct word
    ``n``-gram shingles (shingles, not unigrams: same-vocabulary corpora
    share most token *sets*, which collapses unigram SimHash).

    Bit ``b`` of a shingle = bit ``b`` of the unsigned 32-bit integer value
    of the md5's leading 8 hex chars — decoded with arithmetic (hex-digit
    positional sum + div/mod) any engine reproduces. Computed as
    explode → groupBy(id) with ``bits`` conditional sums: flat expressions
    that stay inside whole-stage codegen with map-side partial aggregation.
    (The alternative — a scan-stage ``aggregate``/``zip_with`` fold over an
    int-array accumulator — avoids the shuffle but generates a single
    megamorphic expression that took ~20 s to JIT cold and fell out of
    codegen; the shuffle here is (id, 16-byte md5) per shingle, the same
    volume MinHash-LSH already moves.)

    Empty-shingle docs are excluded by a *cheap* pre-filter on the word
    count (``>= n`` words ⟺ ≥1 shingle) — a post-hoc ``size(grams) > 0``
    filter gets predicate-pushed below the widening exchange and re-inlines
    the gram pipeline on the scan\'s single partition.
    """
    assert bits <= 32
    eligible = df.filter(F.size(text.words(F.col(text_col))) >= n)
    # cache() before explode is mandatory, not an optimization: Generate
    # re-evaluates its child expression per OUTPUT row, so exploding
    # directly over the gram pipeline re-runs tokenize+ngram per gram
    # (measured ~75x: 17.9s vs 0.2s at sf0.1; a repartition barrier does
    # NOT stop it — only materialization does). At 100 TB use
    # persist(DISK_ONLY) or a staged temp table; the volume equals the
    # shingle sets, which MinHash-LSH also materializes.
    grams = gram_sets(eligible, id_col, text_col, n).cache()
    # One hex→int decode per shingle (md5's leading 8 hex chars as an
    # unsigned 32-bit value); the per-bit votes are then pure shifts on a
    # long — 1 conv instead of 32 substring+conv per row.
    hashed = grams.select(
        "id", F.explode("grams").alias("gram")
    ).select(
        "id",
        F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10)
        .cast("long").alias("hv"),
    )

    votes = []
    for b in range(bits):
        bit = F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1))
        votes.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"_b{b}")
        )
    summed = hashed.groupBy("id").agg(*votes)
    return summed.select(
        "id",
        F.concat(
            *[F.when(F.col(f"_b{b}") > 0, "1").otherwise("0")
              for b in range(bits)]
        ).alias("simhash"),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    n: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: banded candidate join + hamming verification.

    Returns (id_a, id_b, hamming) with id_a < id_b, hamming <= max_hamming.
    Pigeonhole guarantee: with ``bands`` > ``max_hamming`` every qualifying
    pair shares at least one exact band, so banding loses no recall. Shuffle
    volume is O(docs × bands) — the same scale shape as MinHash-LSH; the
    all-pairs hamming join never materializes.

    Band *width* is the selectivity knob: bucket count per band is
    ``2^(bits/bands)``, so more bands (pigeonhole headroom for a higher
    ``max_hamming``) means exponentially coarser buckets and a candidate
    blow-up — 8 bands of 4 bits over this corpus produced 5.1M candidates
    where 4 bands of 8 bits produce ~200k for the same verified output.
    Raise ``bits`` (64) before raising ``bands`` past 4-6.
    """
    assert bits % bands == 0 and bands > max_hamming
    width = bits // bands
    sig = simhash_signatures(df, id_col, text_col, bits, n).cache()
    bands_df = sig.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(k).alias("band"),
                    F.substring("simhash", 1 + k * width, width).alias("chunk"),
                )
                for k in range(bands)
            ])
        ).alias("bk"),
    ).select("id", "bk.band", "bk.chunk")
    a, b = bands_df.alias("a"), bands_df.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sig.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    ham = hashing.hamming_distance(F.col("sh_a"), F.col("sh_b"), bits)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(id, component) — connected components over a near-dup pair list via
    iterative min-label propagation (alternating large-star rounds).

    Each round joins every node's current label against its neighbors' and
    keeps the minimum; convergence is reached when no label changes
    (checked with a cheap count). Rounds needed = graph diameter ≤
    ``max_iterations`` — near-dup graphs are overwhelmingly tiny cliques,
    so 2-3 rounds is typical. Each round is one shuffle join on the edge
    list; labels are ``localCheckpoint``-ed per round, which TRUNCATES the
    logical plan (``cache()`` alone does not — the plan tree doubles per
    iteration, and a consumer that composes the result into a larger
    pipeline dies rendering/optimizing the exploded plan long before data
    size matters). Local checkpoints live in executor storage: on a
    cluster an executor loss forfeits the shortcut and fails the job —
    swap to ``checkpoint()`` + ``setCheckpointDir`` for long-running
    production graphs.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .cache()
    )
    if max_iterations < 1:
        return (
            edges.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("component", F.col("id"))
        )
    # Round 1 fused into the seed: against the trivial labels (every
    # node labels itself), a neighbor's label IS its id, so the first
    # propagation is just min(dst) per src — one aggregate over the
    # cached edges instead of a seed-distinct shuffle PLUS a
    # labels-vs-edges join round. Result identical to running the loop
    # body once over identity labels by construction. Since edges are
    # symmetrized, every node appears as src, so coverage matches the
    # old distinct seed.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_nmin"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("_nmin")).alias("component"),
            (F.col("_nmin") < F.col("src")).alias("_chg"),
        )
        .localCheckpoint()
    )
    changed = bool(labels.agg(F.max(F.col("_chg"))).collect()[0][0])
    prev = labels
    labels = labels.select("id", "component")
    if not changed:
        return labels
    for _ in range(max_iterations - 1):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("n_min"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("n_min"), F.col("component"))
                ).alias("component"),
                # changed-flag computed IN the propagation pass: a label
                # changes iff a neighbor's label beats the current one, so
                # convergence needs no second join of new vs old labels —
                # the old per-round check was its own shuffle-join job
                (F.col("n_min") < F.col("component")).alias("_chg"),
            )
            .localCheckpoint()  # truncates lineage; also caches (eager)
        )
        # one PARALLEL aggregate over the cached checkpoint: a
        # filter+limit(1)+count here runs CollectLimit's sequential
        # partition ramp-up (several one-partition mini-jobs per round —
        # measured ~0.7 s/query slower than the old join check); max()
        # scans all partitions in a single job
        changed = bool(new_labels.agg(
            F.max(F.col("_chg"))).collect()[0][0])
        # unpersist the PREVIOUS round's storage (round 1: the seed
        # cache; later: the prior checkpoint backing labels' projection)
        prev.unpersist()
        prev = new_labels
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
    return labels


def dedup_corpus(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup group resolution: keep the min-id survivor of every
    connected component, pass through all unpaired docs.

    Returns the deduplicated corpus (original columns). The anti-join drops
    only non-survivor members of components — the common 100 TB shape:
    pair list ≪ corpus, so the component labels broadcast.
    """
    comp = connected_components(pairs, id_a, id_b)
    losers = comp.filter(F.col("id") != F.col("component")).select("id")
    return df.join(
        F.broadcast(losers),
        df[id_col] == losers.id,
        "left_anti",
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_shared: int = 2,
    max_gram_df: int | None = MAX_GRAM_DF_DEFAULT,
) -> DataFrame:
    """Benchmark decontamination: corpus docs overlapping an eval set.

    Returns (id, bench_id, shared_grams) for every corpus doc sharing at
    least ``min_shared`` distinct word n-grams with a benchmark doc — the
    standard pre-training hygiene pass (a training corpus must not contain
    the eval set it will be judged on).

    Scale shape: the benchmark is small by definition (eval sets are
    thousands of docs), so its inverted index **broadcasts** and the corpus
    index never shuffles for the join — the probe rides the corpus scan.
    The groupBy(id, bench_id) is partial-aggregated. ``max_gram_df``
    (default on) df-cuts corpus-hot grams first: boilerplate shared with a
    benchmark doc is not contamination evidence, and one stopword gram
    would otherwise fan out |corpus-df| × |bench-df| join rows.
    """
    # explode_outer, NOT explode: a plain explode makes Spark push a
    # ``size(grams) > 0`` pre-filter below these projections, re-inlining
    # the whole normalize+split+ngram expression into the scan filter (the
    # trap documented on gram_sets; the dedup self-joins block it with a
    # cache barrier, which a 100 TB corpus scan cannot afford). The outer
    # explode needs no pre-filter; the null rows drop on a cheap
    # post-Generate column filter instead.
    c_inv = gram_sets(corpus, id_col, text_col, n).select(
        "id", F.explode_outer("grams").alias("gram")
    ).filter(F.col("gram").isNotNull())
    if max_gram_df is not None:
        c_inv = drop_hot_grams(c_inv, max_gram_df)
    b_inv = gram_sets(benchmark, id_col, text_col, n).select(
        F.col("id").alias("bench_id"), F.explode_outer("grams").alias("gram")
    ).filter(F.col("gram").isNotNull())
    return (
        c_inv.join(F.broadcast(b_inv), "gram")
        .groupBy("id", "bench_id")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_grams"))
        .filter(F.col("shared_grams") >= min_shared)
    )


def duplicate_passages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    max_gram_df: int | None = MAX_GRAM_DF_DEFAULT,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Exact duplicated-passage detection: word n-grams shared across docs.

    (id, n_grams, n_dup, dup_ratio) per document with >= n words —
    ``n_dup`` counts gram *positions* whose n-gram also appears in at
    least one OTHER document, the substring-level dedup signal of
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al., 2021): a high ratio means the doc is stitched from passages the
    corpus already contains even when no whole-doc fingerprint matches.

    Scale: positions explode ~#words rows/doc, but each row is a fixed-
    width hash of its gram, never the passage text. ``hash_fn`` picks it:
    ``"xxhash64"`` (default) shuffles 8-byte longs — the production path,
    ~4x narrower and far cheaper to compute than md5; ``"md5"`` shuffles
    32-char hex strings but is bit-identical across engines (DuckDB has
    md5, not Spark's xxhash64), which is what the oracle-parity gate
    runs. The cross-doc test is one aggregate on the gram key (count
    distinct docs >= 2); corpus-wide boilerplate grams are exactly the
    hot keys the ``max_gram_df`` cut drops (they carry no passage-
    specific signal and would concentrate the shuffle), same guard and
    rationale as :func:`ngram_jaccard_pairs`. Per-doc fold is one more
    aggregation on the doc id.  No pair join exists anywhere — cost is
    linear in corpus size at any scale.
    """
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5': {hash_fn!r}")
    hasher = F.xxhash64 if hash_fn == "xxhash64" else F.md5
    tokens = _widen(df).select(
        F.col(id_col).alias("id"),
        text.words(F.col(text_col)).alias("_words"),
    )
    # cache: the positioned-gram frame has FOUR consumers (the df-cut
    # aggregate, the cross-doc dup aggregate, the flagged semi-join's
    # probe side, and the per-doc gram counts) — uncached, each one
    # re-evaluates the full tokenize+ngram+hash subtree (no
    # ReusedExchange fires across the branches): three extra corpus
    # passes. The cache is the positioned-gram volume (#words rows of
    # fixed-width hashes), the same materialization the pair-mining
    # paths make of their gram sets.
    grams = tokens.select(
        "id", F.explode(text.word_ngrams(F.col("_words"), n)).alias("g")
    ).select("id", hasher(F.col("g")).alias("gram")).cache()
    if max_gram_df is not None:
        # positioned grams repeat within a doc, so the df-cut must count
        # DISTINCT docs per gram (drop_hot_grams counts rows — correct for
        # gram_sets' distinct grams, wrong here: one log-spam doc
        # repeating a gram 1000x must not blind the cross-doc test to it)
        hot = (
            grams.groupBy("gram")
            .agg(F.count_distinct("id").alias("df"))
            .filter(F.col("df") > max_gram_df)
            .select("gram")
        )
        grams = grams.join(F.broadcast(hot), "gram", "left_anti")
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    flagged = grams.join(dup, "gram", "left_semi")
    per_doc = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    dup_doc = flagged.groupBy("id").agg(F.count(F.lit(1)).alias("n_dup"))
    return (
        per_doc.join(dup_doc, "id", "left")
        .select(
            "id", "n_grams",
            F.coalesce(F.col("n_dup"), F.lit(0)).alias("n_dup"),
            F.round(
                F.coalesce(F.col("n_dup"), F.lit(0)).cast("double")
                / F.col("n_grams"), 6
            ).alias("dup_ratio"),
        )
    )


def remove_duplicate_passages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    max_gram_df: int | None = MAX_GRAM_DF_DEFAULT,
    hash_fn: str = "xxhash64",
    min_span: int | None = None,
) -> DataFrame:
    """Span-level duplicate-passage REMOVAL — the excision counterpart of
    :func:`duplicate_passages` (which only detects): every word n-gram
    appearing in >= 2 distinct documents keeps exactly ONE canonical copy
    (the lowest ``id`` holding it) and is excised everywhere else, the
    remove-all-but-one policy of Lee et al. 2021 applied at n-gram-span
    grain (reference test surface: the dedup expectations the ingest
    contract family checks; no reference counterpart — beyond-ref op).

    Output: (id, text, n_words, n_removed) for EVERY input document —
    ``text`` is the surviving words rejoined by single spaces in original
    order (whitespace normalizes, the line remover's rebuilt-text
    convention), ``n_removed`` the count of excised word positions. Docs
    under ``n`` words carry no grams: returned verbatim (normalized),
    ``n_removed`` 0. A duplicated passage LONGER than ``n`` words is a
    run of overlapping flagged grams whose covered word-positions union
    into the full span, so the whole passage excises from every loser
    and survives intact in the winner: per-gram winners are all "the
    min-id document holding the gram", which for a shared passage is the
    same document for every gram in the run.

    ``min_span`` is the exact-substring length threshold of Lee et
    al. 2021 (their ExactSubstr contract removes duplicated substrings
    of >= 50 TOKENS, not every duplicated 8-gram): when set (must be
    >= ``n``), each loser's flagged gram positions stitch into maximal
    consecutive-position runs — a run of r grams covers r - 1 + n
    words — and ONLY runs covering >= ``min_span`` words excise; a
    planted shared substring of ``min_span - 1`` words survives both
    copies, one of ``min_span`` words excises from the loser
    (unit-tested at both edges). The default ``None`` keeps the legacy
    every-flagged-gram behavior (equivalent to ``min_span=n``).
    Stitched spans are per-doc unions of grams that may be shared with
    DIFFERENT partner docs, so a chimera span stitched across two
    sources can excise even when its full text appears nowhere else —
    the over-removal direction, matching the paper's
    every-duplicated-window-is-suspect stance. Stitching adds one
    window partitioned by (doc id) over the FLAGGED positions only —
    per-task work is bounded by a single document's gram count, the
    sessionize-by-user shape, never a corpus-keyed sort.

    Distributed shape — NO pair join anywhere, linear at any corpus
    size: positioned grams hash (``hash_fn`` as in the detector:
    xxhash64 8-byte production path, md5 for cross-engine oracle
    parity) → one gram-key aggregate computes (distinct-doc count,
    min id) per gram → flagged stats join back on the gram key (shuffle
    equi-join; the ``max_gram_df`` heavy-hitter cut drops boilerplate
    grams from BOTH sides first — those stay in the text, run
    :func:`~dativo_ingest_spark.operators.textops.drop_duplicate_lines`
    for template boilerplate, same guard split as the detector) →
    loser occurrences explode to covered word positions (n rows per
    flagged gram, bounded) → one (id, position) anti-join against the
    exploded words → one groupBy(id) reassembly shuffle. Cost at 100 TB:
    ~#words rows of fixed-width keys through 4 exchanges, no quadratic
    term, hot keys guarded.
    """
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5': {hash_fn!r}")
    hasher = F.xxhash64 if hash_fn == "xxhash64" else F.md5
    # NULL text normalizes to the empty document (the line remover's
    # rule): every input row appears in the output.
    # cache: the tokenized frame has THREE consumers (the gram explode,
    # the positioned-word explode for reassembly, and the per-doc word
    # counts) and the positioned-gram frame two more (the gram-key stats
    # aggregate and the loser join) — uncached, every consumer
    # re-evaluates the full normalize/tokenize subtree from the scan (no
    # ReusedExchange fires across branches): three extra corpus passes.
    # Both caches are bounded by the corpus token volume, the same
    # materialization the pair-mining paths make of their gram sets.
    tokens = _widen(df).select(
        F.col(id_col).alias("id"),
        text.words(F.coalesce(F.col(text_col), F.lit("")))
        .alias("_words"),
    ).cache()
    # pos is 0-based: gram at pos covers 1-based word indices
    # [pos+1, pos+n]
    grams = tokens.select(
        "id",
        F.posexplode(text.word_ngrams(F.col("_words"), n))
        .alias("pos", "g"),
    ).select("id", "pos", hasher(F.col("g")).alias("gram")).cache()
    if max_gram_df is not None:
        hot = (
            grams.groupBy("gram")
            .agg(F.count_distinct("id").alias("df"))
            .filter(F.col("df") > max_gram_df)
            .select("gram")
        )
        grams = grams.join(F.broadcast(hot), "gram", "left_anti")
    stats = (
        grams.groupBy("gram")
        .agg(F.count_distinct("id").alias("nd"), F.min("id").alias("win"))
        .filter(F.col("nd") >= 2)
        .select("gram", "win")
    )
    losers = (
        grams.join(stats, "gram")
        .filter(F.col("id") != F.col("win"))
        .select("id", "pos")
    )
    if min_span is not None:
        if min_span < n:
            raise ValueError(
                f"min_span ({min_span}) must be >= the gram width n "
                f"({n}) — spans shorter than one gram are undetectable")
        from pyspark.sql.window import Window as _W

        # gaps-and-islands: consecutive flagged positions share
        # (pos - row_number); a run p0..p1 covers p1 - p0 + n words
        w_run = _W.partitionBy("id").orderBy("pos")
        spans = (
            losers.withColumn(
                "_grp", F.col("pos") - F.row_number().over(w_run))
            .groupBy("id", "_grp")
            .agg(F.min("pos").alias("_p0"), F.max("pos").alias("_p1"))
            .filter((F.col("_p1") - F.col("_p0") + n) >= min_span)
        )
        covered = spans.select(
            "id",
            F.explode(F.sequence(F.col("_p0") + 1,
                                 F.col("_p1") + F.lit(n))).alias("wpos"),
        ).distinct()
    else:
        covered = (
            losers.select(
                "id",
                F.explode(F.sequence(F.col("pos") + 1, F.col("pos") + n))
                .alias("wpos"),
            ).distinct()
        )
    toks = tokens.select(
        "id",
        F.posexplode("_words").alias("p0", "word"),
    ).select("id", (F.col("p0") + 1).alias("wpos"), "word")
    kept = toks.join(covered, ["id", "wpos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(F.struct(F.col("wpos"), F.col("word")))
            )["word"],
            " ",
        ).alias("text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    # left join from the per-doc frame: empty docs and FULLY-excised
    # docs (every word covered — no surviving rows to group) both still
    # appear, with text '' and n_removed == n_words
    per_doc = tokens.select("id", F.size("_words").alias("_nw"))
    return per_doc.join(rebuilt, "id", "left").select(
        "id",
        F.coalesce("text", F.lit("")).alias("text"),
        F.col("_nw").cast("long").alias("n_words"),
        (F.col("_nw") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("long").alias("n_removed"),
    )


#: above this many batch rows the index anti-join falls back from the
#: broadcast-candidate plan (batch fingerprints broadcast twice: as a
#: semi filter over the index scan, then the surviving candidates into
#: the anti-join) to a plain shuffle anti-join — ~80 B/fingerprint in a
#: broadcast hash relation puts the default near 100 MB per executor.
BROADCAST_BATCH_FP_LIMIT = 1_000_000


def index_anti_join(batch_survivors: DataFrame, index: DataFrame,
                    broadcast: bool = True) -> DataFrame:
    """Anti-join a (fingerprint-unique) batch against the persistent
    fingerprint index without ever SHUFFLING the index.

    The wrong-way-round plan — ``batch.join(index, "left_anti")`` with a
    multi-billion-row index — sort-merge-shuffles the WHOLE index every
    batch, so per-batch cost grows with history. Flipped (``broadcast=
    True``): the batch's fingerprints broadcast into a left-semi filter
    over the index SCAN (each index row probes a hash set; no exchange on
    the index side), and the few surviving candidates — at most one per
    batch row — broadcast into the anti-join. Per-batch EXCHANGE cost is
    O(batch), independent of index size; the index contributes one
    scan-stage pass, the part object storage serves embarrassingly
    parallel. ``broadcast=False`` is the plain shuffle anti-join —
    kept as the semantics baseline; batches too large to broadcast
    (:data:`BROADCAST_BATCH_FP_LIMIT`) should route through
    :func:`bloom_index_anti_join` instead (dedup_against_index does),
    which keeps the index un-shuffled at ANY batch size."""
    if not broadcast:
        return batch_survivors.join(index, "fingerprint", "left_anti")
    candidates = index.join(
        F.broadcast(batch_survivors.select("fingerprint")),
        "fingerprint", "left_semi")
    return batch_survivors.join(
        F.broadcast(candidates), "fingerprint", "left_anti")


def dedup_against_index(
    spark,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    index_table,
    branch: str = "main",
    commit: bool = True,
    broadcast_batch_limit: int = BROADCAST_BATCH_FP_LIMIT,
    stats: dict | None = None,
):
    """Dedup-on-ingest: drop batch rows whose content the corpus has
    already seen, then record the batch's new fingerprints.

    The historical corpus is represented ONLY by its fingerprint index (a
    snapshot-commit table of ``fingerprint`` strings), never rescanned:
    per batch the cost is one fingerprint scan of the batch, one
    within-batch exact dedup (first occurrence survives, by min id), and
    one anti-join against the index via :func:`index_anti_join` — for
    normal-sized batches the index is SCANNED but never shuffled (the
    batch fingerprints broadcast as a semi filter, the surviving
    candidates broadcast into the anti-join), so per-batch exchange cost
    is O(batch) and stays flat as history grows to billions of rows. With ``commit=True``
    the surviving fingerprints append to the index atomically, so a crash
    between filter and commit re-admits (never loses) rows — re-ingesting
    the same batch then drops them, which is the idempotent direction.

    Returns (kept_df, n_batch_dups, n_index_dups). ``kept_df`` preserves
    the batch's full schema and is returned PERSISTED (the caller's write
    is one more action over it; unpersist when done) — the fingerprint
    scan materializes once, so the counters, the committed fingerprints
    and the returned rows all come from the same snapshot of the input
    even when the batch reads a live directory. A non-``main`` branch is
    bootstrapped on first use. ``stats`` (optional out-param) receives
    ``n_kept`` so callers that need the kept-row count skip an extra
    (cached-scan) count job.
    """
    fp = with_fingerprint(_widen(batch), text_col)
    first = Window.partitionBy("fingerprint").orderBy(F.col(id_col))
    ranked = fp.withColumn("_rk", F.row_number().over(first))
    # persist the fingerprinted frame: the counters, the anti-join and the
    # index append all derive from THIS materialization, so the
    # fingerprint scan runs once and the numbers can't diverge from what
    # was committed even if the batch source is a live directory
    ranked = ranked.persist()
    batch_survivors = ranked.filter(F.col("_rk") == 1).drop("_rk")
    # one materializing aggregate gives both the batch size and the
    # within-batch survivor count — the old separate
    # batch_survivors.count() was a whole extra (cached-scan) job
    _tc = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("_rk") == 1, 1)).alias("surv")).collect()[0]
    n_total = int(_tc["n"])
    n_survivors = int(_tc["surv"])
    head = index_table.head(branch)
    if head.files:
        index = index_table.read(spark, branch=branch).select("fingerprint")
        if n_total <= broadcast_batch_limit:
            kept = index_anti_join(batch_survivors, index, broadcast=True)
        else:
            # batches too large to broadcast exactly: bloom-prefilter
            # the index scan instead of shuffling the whole index
            # (bloom_index_anti_join — exact result, O(batch +
            # candidates) exchange)
            kept = bloom_index_anti_join(
                batch_survivors, index, n_keys=n_total)
    else:
        kept = batch_survivors
    # persist the frame we RETURN (post-drop) — persisting a parent and
    # returning a child would make the caller's unpersist() a no-op and
    # leak a cache entry per call in long-lived sessions; the caller's
    # write is another action over it, unpersist when done. The commit
    # below recomputes fingerprints from the cached kept rows
    # (deterministic md5 — identical to what the anti-join filtered on).
    kept = kept.drop("fingerprint").persist()
    n_kept = kept.count()
    n_batch_dups = n_total - n_survivors
    n_index_dups = n_total - n_batch_dups - n_kept
    if stats is not None:
        stats["n_kept"] = n_kept
    if commit and n_kept:
        from dativo_ingest_spark.operators.util import (
            index_append_partitions)

        # coalesce the append: per-batch fingerprint sets are tiny vs the
        # shuffle partition count, and one near-empty file per partition
        # per batch fragments the index (read/listing cost + compaction
        # debt for every future anti-join). Coalesce the cached INPUT,
        # not the computed entries — a coalesce above the fingerprint
        # expressions re-instantiates the whole evaluation chain once
        # per parent partition inside the single write task (see
        # ingest_dedup.IngestDedup.index_entries).
        index_table.write_append(
            index_entries(kept.coalesce(index_append_partitions(n_kept)),
                          text_col),
            branch=branch)
    ranked.unpersist()
    return kept, n_batch_dups, n_index_dups


def index_entries(df: DataFrame, text_col: str) -> DataFrame:
    """The fingerprint-index rows for ``df`` — what
    :func:`dedup_against_index` commits. Exposed separately so callers
    that must defer the index append until AFTER their own sink publish
    (e.g. the runner's dedup-on-ingest: crash between publish and append
    re-admits, never loses) can recompute entries from the kept frame;
    the md5 fingerprint is deterministic, so the deferred rows are
    identical to what an inline commit would have written."""
    return with_fingerprint(_widen(df), text_col).select("fingerprint")


#: default in-cell population cap for the banded pair joins (the ingest
#: operators below and similarity.bucketed_neardup_pairs): one degenerate
#: cell (a boilerplate band, a zero-vector pile) must not concentrate a
#: B²/2-pair task on one shuffle key. Expected cell size under
#: corpus-scaled clustering is ~queries._SEMANTIC_CELL_SIZE (64), so the
#: default only fires on pathological piles.
MAX_CELL_SIZE_DEFAULT = 10_000

#: above this many (row, band) keys :func:`banded_against_index` skips the
#: broadcast prune of the index scan and lets the scoring join shuffle
#: both sides; band keys are short strings, so the default is generous.
_INDEX_BROADCAST_LIMIT = 4_000_000

#: up to this many distinct batch band keys are harvested driver-side from
#: the hot-cell guard's aggregate (a bounded collect over key-grain rows)
#: and inlined as ONE parsed IN predicate pruning the index scan —
#: replacing the separate distinct + broadcast-exchange job AND giving the
#: parquet reader a pushable filter. Larger batches fall back to the
#: broadcast semi-join (same O(batch)-exchange contract).
_INLINE_TOUCHED_KEYS_LIMIT = 16_384


def observation_or_none(obs, fallback: str) -> dict | None:
    """``obs.get``, or ``None`` when the CollectMetrics node was optimized
    away, logging a warning that names the caller's ``fallback``.

    AQE can replace a subtree it finds empty at runtime (a batch whose
    every document is shorter than the shingle width leaves no
    signatures) with an empty relation, CollectMetrics included; the
    observation then completes with a schemaless empty row, and ``.get``
    raises a JVM ``AssertionError`` from ``PythonSQLUtils.toPyRow``. Only
    that error is recognized; any other propagates. The warning is there
    because every fallback costs at least one more job."""
    try:
        return obs.get
    except Py4JJavaError as exc:
        if exc.java_exception.getClass().getName() \
                != "java.lang.AssertionError":
            raise
    logging.getLogger(__name__).warning(
        "observe() metric was optimized away; %s", fallback)
    return None


def _observed_count(obs, frame: DataFrame) -> int:
    """Row count from an ``observe()`` metric named ``n``, falling back to
    a real ``count()`` job when the metric was optimized away
    (:func:`observation_or_none`). Scan-backed batches with signatures
    (the production shape) keep the node and never pay it."""
    got = observation_or_none(obs, "counting with a second job")
    return frame.count() if got is None else int(got["n"])


def _inline_key_filter(key_col: str, keys: list):
    """One parsed ``key IN (...)`` predicate over literal strings.

    ``Column.isin(list)`` builds one ``lit`` Column per element — a py4j
    roundtrip each, ~1 s of pure driver time at a few thousand keys (the
    r14 expression-builder lesson) — while a single SQL string parses in
    one call and reaches the data source as a pushable In/InSet filter.
    Backslashes are escaped before quotes (Spark string literals treat
    ``\\`` as an escape); ``None`` keys are dropped, as NULL never matches.
    """
    keys = [k for k in keys if k is not None]
    if not keys:
        return F.lit(False)
    quoted = ",".join(
        "'" + str(k).replace("\\", "\\\\").replace("'", "''") + "'"
        for k in keys)
    return F.expr(f"{key_col} IN ({quoted})")


def banded_against_index(spark, base: DataFrame, obs_total,
                         keyed: DataFrame, score, threshold: float,
                         index_table, index_cols: list, entries, *,
                         id_col: str, bands: int, branch: str, commit: bool,
                         max_cell_size: int | None, stats: dict | None,
                         cap_hint: str, drop: tuple = (), decode=None):
    """Banded near-dup-on-ingest against a persistent band index: the one
    filter-then-verify pipeline behind :func:`dedup_minhash_against_index`
    (Jaccard estimate over MinHash signatures) and
    ``similarity.dedup_embeddings_against_index`` (cosine over embeddings).

    Inputs. ``base`` is the batch, persisted, carrying ``obs_total`` (an
    ``observe()`` row count named ``n``). ``keyed`` is one ``(id,
    payload..., _key)`` row per batch row and band, built from cached
    frames. ``score(p, q)`` is the pair score of two payloads whose columns
    are named ``p + name`` and ``q + name``: ``("a.", "b.")`` in the
    within-batch self-join, ``("", "_ix")`` in the index join.
    ``index_cols`` are the index payload columns, read as ``_ix_<name>``
    beside ``key AS _key``; ``decode`` (the PQ codecs) maps the pruned
    index slice to the payload ``score`` reads. ``entries(kept, n_kept)``
    builds the inline commit's index rows. ``drop`` names the staging
    columns ``base`` adds to the batch; ``base`` is unpersisted before
    returning.

    Semantics. Within the batch, one-pass lower-id-wins: a row with a
    smaller-id candidate scoring ``>= threshold`` in a shared band drops.
    Ids are assumed unique within the batch (the loser rule keys on id).
    A survivor with an index candidate scoring ``>= threshold`` drops too.
    History is represented only by the index (``bands`` rows per admitted
    document) and never rescanned.

    Crash contract. With ``commit`` the survivors' index rows append
    atomically AFTER the filter, so a crash re-admits rather than loses,
    and a replay of a committed batch drops its rows against the committed
    entries: an exact duplicate agrees on every band and scores 1.0. With
    ``commit=False`` the caller appends after its own publish
    (``ingest_dedup.IngestDedup``).

    100 TB shape. Everything shuffles on the band key. The batch's distinct
    keys prune the index scan before the scoring join, so the index is
    never shuffled and per-batch exchange is O(batch) as history grows:
    one parsed ``IN`` predicate when the hot-cell guard's aggregate
    harvested them, else a broadcast left-semi filter (up to
    ``_INDEX_BROADCAST_LIMIT`` keys), else a plain shuffle join.
    ``max_cell_size`` excludes batch cells above the cap from both scoring
    joins (their rows admit un-deduped, logged).

    Job shape. The guard's aggregate materializes ``base`` and ``keyed``
    and carries the batch size as ``obs_total``; the ``kept`` count
    materializes the persisted result and carries the within-batch
    survivor count as another ``observe()`` metric; a committed batch adds
    the index append's write. Returns ``(kept, n_batch_dups,
    n_index_dups)`` with ``kept`` persisted (the caller unpersists) in the
    batch schema. ``stats`` (optional out-param) receives ``n_kept``, so
    callers that need the kept-row count skip a cached-scan job.
    ``cap_hint`` names the operator and its cell-size knob in the guard's
    warning.

    Partitioning. The within-batch survivors are repartitioned on the id,
    the exchange the index anti-join needs anyway, so ``kept`` always comes
    out of an exchange that AQE coalesces to its real size (one partition
    for a small batch). Left to the join, that exchange exists only if AQE
    creates it before it re-plans the join (to a broadcast against a small
    index, or away against an empty one), so a small batch would be cached
    at ``base``'s width or as one partition depending on timing."""
    from pyspark.sql import Observation

    touched_keys = None
    if max_cell_size is not None:
        gstats: dict = {}
        guarded = without_hot_keys(
            keyed, "_key", max_cell_size, stats=gstats,
            collect_keys=_INLINE_TOUCHED_KEYS_LIMIT)
        touched_keys = gstats.get("keys")
        if guarded is not keyed:
            logging.getLogger(__name__).warning(
                "batch cells over max_cell_size=%d excluded from scoring "
                "(their rows admit un-deduped); %s", max_cell_size, cap_hint)
        keyed = guarded
        n_total = _observed_count(obs_total, base)
    else:
        n_total = base.count()

    a, b = keyed.alias("a"), keyed.alias("b")
    # evaluated exactly once, inside the kept materialization below (the
    # after-batch counter rides that same job as an observe() metric, so
    # no second consumer needs a persist here)
    batch_losers = (
        a.join(b, (F.col("a._key") == F.col("b._key"))
               & (F.col("b.id") < F.col("a.id")))
        .filter(score("a.", "b.") >= threshold)
        .select(F.col("a.id").alias("id")).distinct()
    )

    head = index_table.head(branch)
    if head.files:
        index = index_table.read(spark, branch=branch).select(
            F.col("key").alias("_key"),
            *[F.col(c).alias(f"_ix_{c}") for c in index_cols])
        if touched_keys is not None:
            index = index.filter(_inline_key_filter("_key", touched_keys))
        elif n_total * bands <= _INDEX_BROADCAST_LIMIT:
            index = index.join(
                F.broadcast(keyed.select("_key").distinct()),
                "_key", "left_semi")
        if decode is not None:
            # after the prune: only the touched slice pays the decode
            index = decode(index)
        index_hits = (
            keyed.join(index, "_key")
            .filter(score("", "_ix") >= threshold)
            .select("id").distinct()
        )
    else:
        index_hits = local_df(spark, [], "id string").select(
            F.col("id").cast(keyed.schema["id"].dataType).alias("id"))

    obs_after = Observation()
    after_batch = base.join(
        batch_losers, base[id_col] == batch_losers["id"], "left_anti"
    ).observe(obs_after, F.count(F.lit(1)).alias("n")).repartition(id_col)
    # persist the frame we RETURN: persisting a parent and returning a
    # child would make the caller's unpersist() a no-op
    kept = after_batch.join(
        index_hits, base[id_col] == index_hits["id"], "left_anti")
    kept = (kept.drop(*drop) if drop else kept).persist()
    # kept's parallel count materializes the cache (folding it into the
    # commit write was measured slower: the cache then fills serially
    # inside the single-task coalesce)
    n_kept = kept.count()
    n_after_batch = _observed_count(obs_after, after_batch)
    if stats is not None:
        stats["n_kept"] = n_kept
    if commit and n_kept:
        index_table.write_append(entries(kept, n_kept), branch=branch)
    base.unpersist()
    return kept, n_total - n_after_batch, n_after_batch - n_kept


def _minhash_sig_frame(df: DataFrame, id_col: str, text_col: str,
                       n: int, num_hashes: int,
                       rows_per_band: int) -> DataFrame:
    """(id, _sig array<string>, _keys array<string>) — minwise signature
    plus one LSH band key per band (``'b|slice|slice'``), built on the
    SAME :func:`_sig_from_grams`/:func:`_band_key_cols` construction
    :func:`minhash_lsh_pairs` shuffles on. Docs with fewer than ``n``
    words have no shingles: their empty gram sets explode to zero rows,
    so no signature row exists for them. The ``repartition`` is the
    mandatory materialization barrier before the explode (gram_sets
    docstring): an id-keyed exchange of (id, grams) rows, the same volume
    the signature shuffle moves anyway. The one caller persists the
    result, and both index appends (inline and deferred) build their
    entries from that cache (:func:`index_entries_minhash`)."""
    grams = gram_sets(df, id_col, text_col, n).repartition("id")
    sig = _sig_from_grams(grams, num_hashes)
    return sig.select(
        "id",
        F.array(*[F.col(f"_s{s}") for s in range(num_hashes)]).alias("_sig"),
        F.array(*_band_key_cols(num_hashes, rows_per_band)).alias("_keys"),
    )


def _sig_agreement(a_sig, b_sig, num_hashes: int):
    """Estimated Jaccard: fraction of agreeing minwise components (6dp)."""
    eq = F.zip_with(a_sig, b_sig, lambda x, y: x == y)
    return F.round(
        F.size(F.filter(eq, lambda m: m)) / F.lit(float(num_hashes)), 6)


def dedup_minhash_against_index(
    spark,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    index_table,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    branch: str = "main",
    commit: bool = True,
    max_cell_size: int | None = MAX_CELL_SIZE_DEFAULT,
    stats: dict | None = None,
):
    """Text NEAR-dup-on-ingest against a persistent MinHash band index —
    the third leg of the ingest-dedup triad (``dedup_against_index``
    catches exact content, ``similarity.dedup_embeddings_against_index``
    catches high-cosine embeddings; this catches lightly-edited copy
    sharing most word shingles, with no embedding required). Runs
    :func:`banded_against_index`, which states the job shape and the crash
    contract.

    An index row is one band key plus the full signature
    (``num_hashes/rows_per_band`` rows per admitted doc). Candidates
    verify by ESTIMATED Jaccard — the fraction of agreeing minwise
    components, the standard MinHash estimate — not the exact gram-set
    Jaccard the pair-mining path uses: storing gram sets in the index
    would make it corpus-sized. Docs with fewer than ``n`` words have no
    signature: always kept, never indexed (their replays re-publish — run
    the exact twin for those, mirroring the embedding twin's zero-norm
    vectors).

    ``stats`` (optional out-param) receives ``n_kept``; with
    ``commit=False`` it also receives ``sig``, the persisted signature
    frame, so a deferred append builds its entries without re-shingling
    (:func:`index_entries_minhash`); the caller then unpersists ``sig``
    as well. Without ``stats`` nothing outlives the call but ``kept``.
    """
    from pyspark.sql import Observation

    from dativo_ingest_spark.operators.util import index_append_partitions

    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    num_bands, rem = divmod(num_hashes, rows_per_band)
    if rem or num_bands < 1:
        raise ValueError("rows_per_band must divide num_hashes")

    obs_total = Observation()
    base = _widen(batch).observe(
        obs_total, F.count(F.lit(1)).alias("n")).persist()
    sig = _minhash_sig_frame(
        base, id_col, text_col, n, num_hashes, rows_per_band).persist()
    hand_back = not commit and stats is not None
    if hand_back:
        stats["sig"] = sig

    def score(p, q):
        return _sig_agreement(F.col(f"{p}_sig"), F.col(f"{q}_sig"),
                              num_hashes)

    def entries(kept, n_kept):
        return index_entries_minhash(
            sig, kept.select(F.col(id_col).alias("id")),
            index_append_partitions(n_kept * num_bands))

    out = banded_against_index(
        spark, base, obs_total,
        sig.select("id", "_sig", F.explode("_keys").alias("_key")),
        score, threshold, index_table, ["sig"], entries,
        id_col=id_col, bands=num_bands, branch=branch, commit=commit,
        max_cell_size=max_cell_size, stats=stats,
        cap_hint="dedup_minhash_against_index: raise rows_per_band or "
                 "max_cell_size")
    if not hand_back:
        sig.unpersist()
    return out


def index_entries_minhash(sig: DataFrame, ids: DataFrame,
                          num_files: int | None = None) -> DataFrame:
    """The band-index rows (id, band key, full signature; one row per
    band) for the documents in ``ids``, built from the persisted
    ``(id, _sig, _keys)`` frame :func:`dedup_minhash_against_index`
    computed: what its inline commit writes and what a deferred append
    (the runner's, after its sink publish) writes, with no re-shingling.
    ``ids`` holds one ``id`` column; a document without a signature row
    (fewer than ``n`` words) gets no entry. The coalesce to ``num_files``
    (when given) sits BELOW the explode, on the semi-joined cached rows,
    so each write task evaluates the chain once instead of once per
    parent partition (see ingest_dedup.IngestDedup.index_entries)."""
    rows = sig.join(ids, "id", "left_semi")
    if num_files is not None:
        rows = rows.coalesce(num_files)
    return rows.select(
        F.col("id").cast("string").alias("id"),
        F.explode("_keys").alias("key"),
        F.col("_sig").alias("sig"),
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered index anti-join: the large-batch ingest-dedup path.
# ---------------------------------------------------------------------------

#: bloom sizing: ~16 bits and 8 probes per key give a false-positive rate
#: of ~6e-4 ((1 - e^(-kn/m))^k) — at a 10-billion-row index a 10M-key
#: batch bitmap is 20 MB and mis-flags ~6M index rows as candidates, both
#: comfortably inside one executor's broadcast/shuffle budget.
BLOOM_BITS_PER_KEY = 16
BLOOM_NUM_PROBES = 8


def _bloom_positions(col, num_probes: int, m_bits: int):
    """array<long> of ``num_probes`` bit positions for a key — 8-hex-char
    chunks of chained md5s (hashing.chunked_gram_hashes), mod the bitmap
    size. Codegen expressions only; the SAME positions are recomputed
    numpy-side when probing, so build and probe can never disagree."""
    h = hashing.chunked_gram_hashes(col, num_probes)
    return F.array(*[
        (F.conv(F.substring(h, s * 8 + 1, 8), 16, 10).cast("long")
         % m_bits)
        for s in range(num_probes)
    ])


def bloom_bitmap(df: DataFrame, key_col: str, m_bits: int,
                 num_probes: int = BLOOM_NUM_PROBES):
    """Build an ``m_bits`` bloom filter over ``df[key_col]`` distributed,
    returning a numpy uint64 word array of length ``m_bits/64``.

    Shape: one scan exploding ``num_probes`` positions per key, one
    partial-aggregating ``bit_or`` shuffle keyed on the ~``m_bits/64``
    word indexes, then a driver collect of the non-zero words — bytes,
    not data (20 MB for a 10M-key batch), the same control-plane budget
    as collecting k-means centroids."""
    import numpy as np

    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    words = (
        df.select(F.explode(
            _bloom_positions(F.col(key_col), num_probes, m_bits))
            .alias("pos"))
        .select(
            F.expr("pos div 64").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            .alias("bit"))
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    bm = np.zeros(m_bits // 64, dtype=np.int64)
    for r in words:
        bm[int(r.w)] = r.bits
    return bm.view(np.uint64)


def _bloom_hit_udf(bitmap):
    """Arrow-batched membership probe: the bitmap rides in the UDF
    closure (one copy per executor, the pandas-UDF analog of a broadcast
    variable — operators/clustering.py:_assign_argmin_udf precedent).
    Input: array<long> probe positions; output: true iff every probed
    bit is set. Pure vectorized numpy over the Arrow batch."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    bm = bitmap

    @pandas_udf("boolean")
    def hit(probes: pd.Series) -> pd.Series:
        if not len(probes):
            return pd.Series(np.zeros(0, dtype=bool))
        P = np.stack(probes.to_numpy()).astype(np.int64)   # B x k
        w = P >> 6
        b = (P & 63).astype(np.uint64)
        bits = (bm[w] >> b) & np.uint64(1)
        return pd.Series(bits.all(axis=1))

    return hit


def _bloom_m_bits(n_keys: int, bits_per_key: int) -> int:
    """Bitmap size: next power of two >= bits_per_key * n_keys (and at
    least 64) — power-of-two so the modulo is cheap and fp-rate analysis
    matches the sizing comment."""
    target = max(64, bits_per_key * max(1, n_keys))
    m = 64
    while m < target:
        m <<= 1
    return m


def bloom_index_anti_join(
    batch_survivors: DataFrame,
    index: DataFrame,
    n_keys: int | None = None,
    bits_per_key: int = BLOOM_BITS_PER_KEY,
    num_probes: int = BLOOM_NUM_PROBES,
) -> DataFrame:
    """Exact anti-join of a LARGE batch against a huge fingerprint index
    without broadcasting the batch or shuffling the index.

    :func:`index_anti_join`'s broadcast plan caps out when the batch's
    fingerprint set no longer fits a broadcast
    (:data:`BROADCAST_BATCH_FP_LIMIT`); the naive fallback shuffle
    anti-join re-exchanges the WHOLE index every batch. This path
    replaces the exact broadcast set with a bloom filter ~25x smaller
    (16 bits/key vs a ~50-byte broadcast-map entry): (1) build the
    bitmap from the batch distributed (one bit_or shuffle over word
    indexes, driver collect of megabytes), (2) probe it over the index
    SCAN via an Arrow-batched numpy kernel — zero exchange on the index
    side, no false negatives by construction — and (3) exact anti-join
    the batch against only the surviving candidates (true duplicates +
    ~6e-4 false positives). EXACT result — identical rows to the plain
    anti-join — with per-batch exchange cost O(batch + candidates),
    index contribution one embarrassingly-parallel scan regardless of
    history size.
    """
    if n_keys is None:
        n_keys = batch_survivors.count()
    m_bits = _bloom_m_bits(n_keys, bits_per_key)
    bm = bloom_bitmap(batch_survivors, "fingerprint", m_bits, num_probes)
    hit = _bloom_hit_udf(bm)
    candidates = (
        index.withColumn(
            "_probes",
            _bloom_positions(F.col("fingerprint"), num_probes, m_bits))
        .filter(hit(F.col("_probes")))
        .select("fingerprint")
    )
    return batch_survivors.join(candidates, "fingerprint", "left_anti")


def setsim_prefix_pairs(
    sets_df: DataFrame,
    id_col: str = "id",
    tokens_col: str = "grams",
    threshold: float = 0.7,
    micro_units: int = 1_000_000,
) -> DataFrame:
    """LOSSLESS exact set-similarity join via prefix filtering
    (Chaudhuri/Ganti/Kaushik 2006, Xiao et al. PPJoin — the standard
    exact all-pairs algorithm): every pair with Jaccard >= ``threshold``
    over ``tokens_col`` sets, with NO recall caveat — unlike
    :func:`ngram_jaccard_pairs` (whose df-cut can drop pairs glued only
    by hot grams) and :func:`minhash_lsh_pairs` (probabilistic), this
    completes the near-dup family's exactness spectrum.

    Prefix theorem: order each doc's tokens by GLOBAL rarity (ascending
    document frequency, token as tie-break); if J(a,b) >= t then the
    overlap is >= ceil(t*|a|), so a's first ``|a| - ceil(t*|a|) + 1``
    tokens must share at least one token with b's prefix. Candidates =
    pairs sharing any PREFIX token; each candidate is then verified with
    the exact integer predicate ``o * 1e6 >= t_micro * (|a|+|b|-o)``.

    Returns (id_a, id_b, jaccard_micro) with id_a < id_b and
    ``jaccard_micro = (o * 1e6) div (|a|+|b|-o)`` — pure BIGINT
    arithmetic, engine-portable bit-for-bit.

    Scale: the candidate self-join explodes only the ~(1-t) rarest
    fraction of each doc's tokens, and rarity-first ordering means the
    join keys are by construction LOW-df tokens — corpus-wide
    boilerplate (the hot keys that force guards elsewhere) can only
    enter a prefix for docs consisting almost entirely of it. The
    verification join touches Σ|a| rows over candidates only. One
    df-count agg, one per-doc rank window (keyed on id, bounded by doc
    length), one rare-key candidate join, one candidate-sized verify
    join — never an unguarded all-pairs product.
    """
    from pyspark.sql.window import Window as _W

    t_micro = int(round(threshold * micro_units))
    # cache: the token frame feeds the df counts, the rank window, and
    # BOTH sides of the verification join — uncached, the full
    # normalize/split/ngram expression re-evaluates ~5x (the
    # ngram_jaccard_pairs / simhash precedent, measured ~75x there).
    # The empty-set filter sits ABOVE the cache barrier: pushed below
    # the projection it re-inlines the whole tokenize expression per
    # row (the gram_sets docstring trap — measured 24s vs 2s at sf0.1)
    cached = sets_df.select(
        F.col(id_col).alias("id"),
        F.col(tokens_col).alias("toks"),
        F.size(tokens_col).alias("sz"),
    ).cache()
    sized = cached.filter(F.col("sz") > 0)
    inv = sized.select("id", "sz", F.explode("toks").alias("tok"))
    # document frequency as a COUNT window over the token exchange, not a
    # groupBy + join-back: the old shape shuffled inv twice (once into
    # the df aggregate, once into the join) before the per-doc rank
    # window; a count() over (partition by tok) yields the identical _df
    # per row (every inv row's tok is in the df table by construction)
    # with ONE exchange on tok, then the rank window re-keys on id
    ranked = (
        inv.withColumn(
            "_df",
            F.count(F.lit(1)).over(_W.partitionBy("tok")))
        .withColumn(
            "_rk",
            F.row_number().over(
                _W.partitionBy("id").orderBy("_df", "tok")),
        )
    )
    prefix = ranked.filter(
        F.col("_rk") <= F.col("sz")
        - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select("id", "sz", "tok")
    # PPJoin length filter inside the candidate join: J >= t forces
    # min(|a|,|b|) >= t*max(|a|,|b|), so wildly different-sized docs
    # can never qualify — pruned BEFORE the distinct, in integer math
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .filter(
            (F.col("a.id") < F.col("b.id"))
            & (F.col("a.sz") * micro_units >= t_micro * F.col("b.sz"))
            & (F.col("b.sz") * micro_units >= t_micro * F.col("a.sz")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ov = (
        cand
        .join(inv.select(F.col("id").alias("id_a"), "tok"), "id_a")
        .join(inv.select(F.col("id").alias("id_b"), "tok"),
              ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    sizes = sized.select("id", "sz")
    return (
        ov
        .join(sizes.select(F.col("id").alias("id_a"),
                           F.col("sz").alias("sa")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"),
                           F.col("sz").alias("sb")), "id_b")
        .filter(
            F.col("o") * micro_units
            >= F.lit(t_micro) * (F.col("sa") + F.col("sb") - F.col("o")))
        .select(
            "id_a", "id_b",
            F.expr(f"(o * {micro_units}) div (sa + sb - o)")
            .alias("jaccard_micro"),
        )
    )


def lsh_candidate_probability(s: float, num_bands: int,
                              rows_per_band: int) -> float:
    """P(candidate) for a pair with true Jaccard ``s`` under banded LSH:
    ``1 - (1 - s^r)^b`` — the standard S-curve (Leskovec/Rajaraman/
    Ullman, MMDS ch.3)."""
    return 1.0 - (1.0 - s ** rows_per_band) ** num_bands


def lsh_tuning(threshold: float, num_hashes: int) -> dict:
    """Choose ``rows_per_band`` for a signature budget: among the
    divisors of ``num_hashes``, pick the banding whose S-curve midpoint
    (the similarity where P(candidate) = 0.5, ``(1/b)^(1/r)``) sits
    closest BELOW the target threshold — below, because LSH misses are
    unrecoverable (the exact-Jaccard verify step removes false
    positives for free, but a pair never bucketed together is lost).

    Returns {rows_per_band, num_bands, midpoint, p_at_threshold,
    p_at_half_threshold} — the last two are the recall at the
    threshold and the leakage at half of it, the numbers to read
    before spending a corpus pass. Pure driver-side arithmetic; feed
    the result into :func:`minhash_lsh_pairs`.
    """
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    if num_hashes < 2:
        raise ValueError("num_hashes must be >= 2")
    best = None
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        mid = (1.0 / b) ** (1.0 / r)
        # prefer midpoints at-or-below the threshold (recall-safe);
        # among those, the closest; fall back to the closest overall
        # when every divisor lands above (tiny signature budgets)
        key = (mid > threshold, abs(threshold - mid))
        if best is None or key < best[0]:
            best = (key, r, b, mid)
    _, r, b, mid = best
    return {
        "rows_per_band": r,
        "num_bands": b,
        "midpoint": round(mid, 6),
        "p_at_threshold": round(
            lsh_candidate_probability(threshold, b, r), 6),
        "p_at_half_threshold": round(
            lsh_candidate_probability(threshold / 2, b, r), 6),
    }


#: inline-predicate ceiling for index erasure — above it the IN-list
#: SQL string itself becomes the bottleneck; bulk erasures should land
#: as an anti-join rewrite (documented in forget_fingerprints)
FORGET_INLINE_LIMIT = 10_000


def forget_fingerprints(spark, index_table, fingerprints,
                        branch: str = "main"):
    """Right-to-erasure COMPLETENESS for dedup-on-ingest: deleting
    documents from the corpus does NOT remove their fingerprints from
    the persistent ingest index, so a later legitimate re-submission of
    the same content would be silently dropped as a "duplicate" of data
    the pipeline was ordered to forget — erasure must reach the index
    too. Removes the fingerprints in one atomic stats-pruned COW delete
    on the index table (sinks/table_commit.py:delete_where); returns
    the new snapshot or None when none were present.

    ``fingerprints``: md5-hex strings (what :func:`index_entries`
    commits), or texts via ``content_fingerprint`` upstream. Bounded at
    :data:`FORGET_INLINE_LIMIT` — erasure batches are human-scaled
    (legal requests), not corpus-scaled; a bulk forget (policy change
    over millions of rows) should instead rewrite the index with one
    broadcast anti-join + replace_files commit, the same COW shape at
    file grain.
    """
    fps = sorted({str(f) for f in fingerprints})
    if not fps:
        return None
    if len(fps) > FORGET_INLINE_LIMIT:
        raise ValueError(
            f"{len(fps)} fingerprints exceed FORGET_INLINE_LIMIT="
            f"{FORGET_INLINE_LIMIT}; bulk erasure should rewrite the "
            "index via a broadcast anti-join (see docstring)")
    if any(not f.isalnum() for f in fps):
        raise ValueError("fingerprints must be md5-hex strings")
    quoted = ", ".join(f"'{f}'" for f in fps)
    return index_table.delete_where(
        spark, f"fingerprint IN ({quoted})", branch=branch)


def dedup_corpus_by_quality(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    quality_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup group resolution keeping the HIGHEST-QUALITY member of
    every connected component (ties to the lower id) instead of
    :func:`dedup_corpus`'s min-id survivor — the curation-correct
    policy: near-dup clusters usually hold one clean original plus OCR/
    mirror/boilerplate-wrapped copies, and min-id keeps whichever was
    crawled first, silently preferring the mirror when it was.

    ``quality_col`` is any per-doc score already on ``df`` (classifier
    margin, unigram log-prob, Flesch — the operators in textops.py).
    Deterministic: survivor = max_by(score, then min id) per component.

    Scale: same shape as :func:`dedup_corpus` — components from the
    pair list (≪ corpus), one component-keyed argmax over ONLY the
    clustered docs (broadcast semi-filtered from the corpus), then a
    broadcast anti-join of the losers. The corpus is never shuffled.
    """
    comp = connected_components(pairs, id_a, id_b)
    members = df.join(
        F.broadcast(comp),
        df[id_col] == comp.id,
        "inner",
    ).select(
        F.col("component"),
        F.col("id"),
        F.col(quality_col).alias("_q"),
    )
    # max_by on (quality, -id): highest score wins, ties to lower id —
    # the struct ordering both engines share
    winners = (
        members.groupBy("component")
        .agg(F.expr("max_by(id, struct(_q, -id))").alias("keep"))
    )
    losers = (
        comp.join(F.broadcast(winners), "component")
        .filter(F.col("id") != F.col("keep"))
        .select("id")
    )
    return df.join(
        F.broadcast(losers),
        df[id_col] == losers.id,
        "left_anti",
    )
