"""Entity resolution / record linkage: candidate generation by blocking,
similarity scoring, and per-record best-match resolution.

Linking two record sets on a noisy key (names, titles, addresses) is the
structured-data sibling of document near-dup: an all-pairs comparison is
O(n*m) and never survives scale, so every practical linker is

    block -> candidate pairs -> verify/score -> resolve best match

with the blocking step designed so true matches share at least one block
key and block sizes stay bounded. Two complementary blockers ship here:

* **Deletion neighborhood (FastSS)** — for edit-distance-<=1 linkage: a
  string is indexed under itself plus every delete-one-character variant,
  so two strings within one edit share a variant *by construction* (an
  exact match shares the identity variant; a substitution shares the
  variant deleting the differing position; an insertion/deletion shares
  the shorter string itself). Candidates are then *verified* with the
  exact ``levenshtein`` distance — cheap because it runs on candidates
  only. Per row the index holds L+1 keys (L = capped string length), so
  the index is a linear row-explosion, never a pair-explosion.
* **Rarest-token blocking** — for word-level fuzziness beyond one edit:
  each record blocks on its lowest-document-frequency token (ties to the
  lexicographically smallest), concentrating candidates where they are
  most selective; scoring is character-trigram Jaccard. The df table is
  one word-count aggregate over the corpus.

At 100 TB: both blockers are equi-joins on a derived key — one shuffle on
the block key (or a broadcast when one side is small), with the same
driver-resolved heavy-hitter guard the dedup inverted indexes use
(``without_hot_keys``) so a degenerate key (mass-duplicate name, stop
token) can never go quadratic; the cut is surfaced in a ``stats``
out-param, not just a log line. Verification (levenshtein / trigram
Jaccard) runs JVM-side on the candidate set only.

No reference analog (the reference has no join surface at all); the
deletion-neighborhood index follows Bocek et al.'s FastSS and the
blocking/verify split is the standard record-linkage architecture
(Fellegi-Sunter era onward).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: characters of the key string that contribute deletion variants; beyond
#: this the tail is ignored for *blocking* (verification still sees the
#: full string). Bounds the index explosion at L+1 rows per record.
DELETION_VARIANT_CAP = 64

#: default per-block candidate ceiling — a block key matched by more rows
#: than this on the indexed side is cut (reported via ``stats``), keeping
#: the join linear under degenerate keys.
MAX_BLOCK_SIZE_DEFAULT = 10_000

#: variant-index rows up to which the candidate join broadcasts the
#: indexed side instead of shuffling both explosions (guide §3.1: pick
#: the strategy deliberately — a reference table of ~100k keys explodes
#: to ~2M short variant rows, well inside one executor's broadcast
#: budget, and the probe side then never shuffles on the variant key).
#: Above the limit the plain equi-join shuffle applies unchanged.
EDIT1_BROADCAST_VARIANT_LIMIT = 2_000_000


def deletion_variants(col: Column | str,
                      max_len: int = DELETION_VARIANT_CAP) -> Column:
    """Array of the string itself plus every delete-one-character variant
    (positions 1..min(length, max_len)), distinct.

    Pure Catalyst (``sequence`` + ``transform`` + ``substring``): a
    scan-stage projection, no Python, no shuffle.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    variants = F.expr(
        f"transform(sequence(1, least(length({_sql(s)}), {int(max_len)})), "
        f"i -> concat(substring({_sql(s)}, 1, i - 1), "
        f"substring({_sql(s)}, i + 1, {1 << 30})))"
    )
    return F.array_distinct(F.concat(F.array(s), variants))


def _sql(col: Column) -> str:
    """Render a Column into an expr-embeddable SQL fragment."""
    # Column's __str__ is "Column<'expr'>"; strip the wrapper.
    text = str(col)
    return text[len("Column<'"):-len("'>")]


def edit1_candidate_pairs(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_col: str,
    right_col: str,
    max_block_size: int | None = MAX_BLOCK_SIZE_DEFAULT,
    stats: dict | None = None,
) -> DataFrame:
    """Candidate pairs whose key strings are within edit distance 1,
    found via the deletion-neighborhood (FastSS) index, verified exactly.

    Returns ``[left_id, right_id, left_val, right_val, lev]`` with
    ``lev = levenshtein(left_val, right_val) <= 1`` guaranteed; one row
    per distinct (left, right) pair. The *right* side is the index: its
    variant frame is cached for the heavy-hitter guard's eager count
    (the `without_hot_keys` contract) and unpersisted before return.

    Completeness: two strings at edit distance 1 share a deletion variant
    whenever the edit position falls inside ``DELETION_VARIANT_CAP`` —
    substitution at i: both delete i; insertion/deletion: the shorter
    string equals one of the longer's variants and is its own identity
    variant. Edits beyond the cap are missed (documented recall bound;
    raise the cap for long keys).
    """
    from pyspark.sql import Observation

    from dativo_ingest_spark.operators.dedup import (_observed_count,
                                                     without_hot_keys)

    lv = left.select(
        F.col(left_id),
        F.col(left_col).alias("left_val"),
        F.explode(deletion_variants(left_col)).alias("_var"),
    )
    obs = Observation()
    rv = right.select(
        F.col(right_id),
        F.col(right_col).alias("right_val"),
        F.explode(deletion_variants(right_col)).alias("_var"),
    ).observe(obs, F.count(F.lit(1)).alias("n")).persist()
    try:
        if max_block_size is not None:
            rv_g = without_hot_keys(rv, "_var", max_block_size, stats=stats)
            # the guard job materialized rv; its row count rides it as an
            # observe() metric and picks the join strategy below
            n_var = _observed_count(obs, rv)
        else:
            rv_g = rv
            n_var = rv.count()
        # join strategy (guide §3.1): an index side under the broadcast
        # limit ships to every task — the probe side's variant explosion
        # is then never shuffled at all; above it, the plain equi-join
        # shuffle. De-dup of multi-variant pairs runs on a left_id-keyed
        # exchange (hashpartitioning(left_id) satisfies the aggregate's
        # clustered distribution over the full pair tuple), so the whole
        # candidate pass costs ONE exchange under broadcast — the old
        # shape paid three (both explosions into the join, plus the
        # 4-column distinct).
        rv_j = F.broadcast(rv_g) \
            if n_var <= EDIT1_BROADCAST_VARIANT_LIMIT else rv_g
        pairs = (
            lv.join(rv_j, "_var")
            .select(left_id, right_id, "left_val", "right_val")
            .repartition(left_id)
            .dropDuplicates()
            .withColumn("lev", F.levenshtein("left_val", "right_val"))
            .filter(F.col("lev") <= 1)
        )
        # the join and dedup must run before rv is released
        pairs = pairs.localCheckpoint(eager=True)
    finally:
        rv.unpersist()
    return pairs


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """Sorted distinct character n-grams of the lowercased string —
    scan-stage Catalyst, the trigram-Jaccard scorer's input."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.lower(c.cast("string"))
    grams = F.expr(
        f"transform(sequence(1, greatest(length({_sql(s)}) - {n - 1}, 0)), "
        f"i -> substring({_sql(s)}, i, {n}))"
    )
    return F.array_sort(F.array_distinct(grams))


def jaccard_micro(a: Column, b: Column) -> Column:
    """Jaccard similarity of two (distinct-element) arrays, quantized to
    integer micro-units: floor(1e6 * |a n b| / |a u b| + 0.5).

    Integer output keeps the score engine-portable (the driver's hash
    parity discipline): intersection/union sizes are exact ints, the
    single division on identical operands is IEEE-identical everywhere.
    """
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.floor(F.lit(1_000_000.0) * inter / union + F.lit(0.5)) \
        .cast("long")


def rare_token_block_key(df: DataFrame, id_col: str, text_col: str,
                         out_col: str = "block_key") -> DataFrame:
    """Assign each record its rarest (lowest document frequency) token as
    the block key; ties break to the lexicographically smallest token.

    Shape: tokens explode (scan-stage) -> document frequency as a COUNT
    window over the token exchange (one shuffle on the token — the old
    aggregate + join-back shuffled the token frame twice for the
    identical per-row df, the setsim_prefix_pairs lesson) -> min_by per
    record, a partial-aggregable ``min(struct(df, token))`` on a second
    (id-keyed) exchange.
    """
    from pyspark.sql.window import Window as _W

    toks = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
        ).alias("_tok"),
    ).filter(F.col("_tok") != "")
    best = (
        toks.withColumn(
            "_df", F.count(F.lit(1)).over(_W.partitionBy("_tok")))
        .groupBy(id_col)
        .agg(F.min(F.struct("_df", "_tok")).alias("_best"))
        .select(id_col, F.col("_best._tok").alias(out_col))
    )
    return df.join(best, id_col)


def token_block_pairs(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_col: str,
    right_col: str,
    ngram: int = 3,
    max_block_size: int | None = MAX_BLOCK_SIZE_DEFAULT,
    stats: dict | None = None,
) -> DataFrame:
    """Rarest-token-blocked candidate pairs scored by character-trigram
    Jaccard (micro-units). Returns
    ``[left_id, right_id, left_val, right_val, jaccard_micro]``.

    Each side blocks on its own rarest token (df computed per side — at
    link time the indexed side's df table is the stable one); candidates
    are the equi-join on the block key, guarded against degenerate
    tokens. True matches whose rarest tokens differ are missed — the
    standard single-key blocking recall trade; run multiple passes with
    different keys (or the edit1 index) to tighten.
    """
    from dativo_ingest_spark.operators.dedup import without_hot_keys

    lb = rare_token_block_key(
        left.select(F.col(left_id), F.col(left_col).alias("left_val")),
        left_id, "left_val")
    rb = rare_token_block_key(
        right.select(F.col(right_id), F.col(right_col).alias("right_val")),
        right_id, "right_val").persist()
    try:
        if max_block_size is not None:
            rb_g = without_hot_keys(rb, "block_key", max_block_size,
                                    stats=stats)
        else:
            rb_g = rb
        pairs = (
            lb.join(rb_g, "block_key")
            .select(
                left_id, right_id, "left_val", "right_val",
                jaccard_micro(
                    char_ngrams("left_val", ngram),
                    char_ngrams("right_val", ngram),
                ).alias("jaccard_micro"),
            )
        )
        pairs = pairs.localCheckpoint(eager=True)
    finally:
        rb.unpersist()
    return pairs


def best_match(pairs: DataFrame, left_id: str, right_id: str,
               score_col: str, ascending: bool = True) -> DataFrame:
    """Resolve each left record to its single best candidate: min (or max
    for ``ascending=False``) score, ties to the smallest right id —
    deterministic regardless of partition layout.

    One partial-aggregable ``min(struct(score, right_id))`` per left key
    — a single shuffle on ``left_id``, no window sort.
    """
    score = F.col(score_col) if ascending else -F.col(score_col)
    agg = (
        pairs.groupBy(left_id)
        .agg(F.min(F.struct(score.alias("_s"),
                            F.col(right_id).alias("_rid"))).alias("_best"))
    )
    picked = agg.select(
        left_id,
        F.col("_best._rid").alias(right_id),
        (F.col("_best._s") if ascending else -F.col("_best._s"))
        .alias(score_col),
    )
    return picked
