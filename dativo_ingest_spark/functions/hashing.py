"""Deterministic, engine-portable hashing for fingerprints / MinHash / LSH.

Everything is built on ``md5`` over strings because md5 is bit-identical in
Spark, DuckDB, and any other engine — which makes near-dup results
oracle-checkable. Hash *ordering* uses the hex-string values directly
(fixed-width lowercase hex compares lexicographically the same everywhere),
avoiding engine-specific hex→int conversions.

* :func:`content_fingerprint` — the exact-dup key.
* :func:`chunked_gram_hashes` — ``num_hashes`` 32-bit minwise hash values
  per shingle as 8-hex-char chunks; ``operators/dedup.py`` takes the
  per-chunk min over a doc's shingles as its MinHash signature and bands
  it into ``'b|slice|..'`` LSH keys (``_sig_from_grams`` /
  ``_band_key_cols``), and ``operators/sketches.py`` reuses the chunks.
* :func:`hamming_distance` — SimHash bitstring distance.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dativo_ingest_spark.functions.text import normalize_ws


def content_fingerprint(col: Column) -> Column:
    """md5 of whitespace-normalized lowercase text (exact-dup key)."""
    return F.md5(normalize_ws(col))


def chunked_gram_hashes(col: Column, num_hashes: int) -> Column:
    """Concatenated-md5 hex string whose 8-char chunks are ``num_hashes``
    independent 32-bit minwise hash values for ``col``.

    Chunk ``s`` (``substring(h, s*8+1, 8)``) is hash function ``s``; the min
    over a doc's shingles of each chunk is the minwise signature. Fixed-width
    lowercase hex compares lexicographically like the 32-bit value, so
    ``min()`` needs no hex→int conversion anywhere. ceil(num_hashes/4) md5
    calls per shingle (vs one md5 per hash function in the per-seed scheme),
    and the flat expression stays in whole-stage codegen on exploded rows.
    """
    n_md5 = -(-num_hashes // 4)  # 32 hex chars = 4 chunks per md5
    parts = [
        F.md5(col) if i == 0 else F.md5(F.concat(F.lit("x" * i), col))
        for i in range(n_md5)
    ]
    return parts[0] if n_md5 == 1 else F.concat(*parts)


def hamming_distance(a: Column, b: Column, bits: int) -> Column:
    """Differing-position count between two equal-length bitstrings."""
    return F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda i: a.substr(i, F.lit(1)) != b.substr(i, F.lit(1)),
        )
    ).cast("long")
