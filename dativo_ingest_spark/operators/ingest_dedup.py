"""Dedup-on-ingest: the mode x index-codec decision in one place.

Mode ``exact | minhash | embedding`` picks the ``*_against_index``
operator (``operators/dedup.py``, ``operators/similarity.py``); for
``embedding`` the index codec ``raw | pq | pq_residual`` picks what an
index row stores. The two banded modes share one pipeline,
``dedup.banded_against_index``: their operators only build the keyed
batch frame and pass the Jaccard-estimate or cosine pair score, so a
re-plan of the band-key filter, the index probe or the counters is one
edit there. Three callers share the decision: the runner's
``target.options.dedup``, the streaming ``dedup_epoch_writer`` and the
embedding operator's own inline commit. Each goes through
:class:`IngestDedup`:

* :func:`from_options` turns ``target.options.dedup`` YAML into operator
  kwargs, raising ``ConfigError`` before any data moves;
* :meth:`IngestDedup.against_index` runs the mode's operator with
  ``commit=False``, so the caller appends the index after its own publish;
* :meth:`IngestDedup.index_entries` builds the index rows for the mode and
  codec; the minhash rows come from the signature frame the operator
  already persisted, never from a re-shingle.

Operator defaults (threshold, bands, num_hashes, ...) are stated only in
the operator signatures: a key absent from the YAML is not passed.
"""

from __future__ import annotations

import inspect
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dativo_ingest_spark.config.contracts import ConfigError
from dativo_ingest_spark.operators import dedup, similarity
from dativo_ingest_spark.operators.util import index_append_partitions

MODES = ("exact", "minhash", "embedding")
CODECS = ("raw", "pq", "pq_residual")

#: per mode: YAML key -> (operator kwarg, cast)
_YAML_KEYS = {
    "exact": {},
    "minhash": {"ngram": ("n", int), "num_hashes": ("num_hashes", int),
                "rows_per_band": ("rows_per_band", int),
                "threshold": ("threshold", float)},
    "embedding": {"threshold": ("threshold", float),
                  "bands": ("bands", int), "band_width": ("band_width", int)},
}


def _defaults(fn) -> dict:
    return {k: p.default for k, p in inspect.signature(fn).parameters.items()
            if p.default is not inspect.Parameter.empty}


def _accepted(fn, kwargs: dict) -> dict:
    """The subset of ``kwargs`` that ``fn`` takes."""
    params = inspect.signature(fn).parameters
    return {k: v for k, v in kwargs.items() if k in params}


@dataclass(frozen=True)
class IngestDedup:
    """One dedup-on-ingest configuration: ``mode`` plus the kwargs its
    operator takes (``threshold``, ``bands``, ``index_codec``,
    ``codebooks``, ...); absent kwargs take the operator default."""

    mode: str
    id_col: str
    content_col: str
    options: dict

    def __post_init__(self):
        if self.mode not in MODES:
            raise ValueError(
                f"mode must be exact, minhash or embedding, got {self.mode!r}")

    def against_index(self, spark, batch: DataFrame, index_table,
                      branch: str = "main"):
        """``(kept, n_batch_dups, n_index_dups, sig)`` from the mode's
        operator, run with ``commit=False``. ``kept`` is persisted; for
        ``minhash`` so is ``sig``, the signature frame
        :meth:`index_entries` appends from (``None`` for the other modes).
        The caller unpersists both."""
        args = (spark, batch, self.id_col, self.content_col, index_table)
        if self.mode == "embedding":
            return similarity.dedup_embeddings_against_index(
                *args, branch=branch, commit=False, **self.options) + (None,)
        if self.mode == "minhash":
            stats: dict = {}
            kept, n_b, n_i = dedup.dedup_minhash_against_index(
                *args, branch=branch, commit=False, stats=stats,
                **self.options)
            return kept, n_b, n_i, stats["sig"]
        return dedup.dedup_against_index(
            *args, branch=branch, commit=False, **self.options) + (None,)

    def index_entries(self, df: DataFrame, sig: DataFrame | None = None,
                      n_rows: int | None = None) -> DataFrame:
        """The index rows for ``df``: exactly what the operator's inline
        commit would write. ``sig`` is the frame :meth:`against_index`
        returned (required for ``minhash``). ``n_rows``, an upper bound on
        ``df``'s rows, sizes the append's file count; the coalesce sits
        below the entry-encode chain, so the write task evaluates the
        chain (and, for the PQ codecs, its Arrow Python runner) once, not
        once per parent partition, serially: measured 9.3 s vs 1.0 s on a
        500-row batch over 32 cached partitions."""
        parts = (None if n_rows is None else index_append_partitions(
            n_rows * self.entries_per_row()))
        if self.mode == "minhash":
            return dedup.index_entries_minhash(
                sig, df.select(F.col(self.id_col).alias("id")), parts)
        if parts is not None:
            df = df.coalesce(parts)
        if self.mode == "exact":
            return dedup.index_entries(df, self.content_col)
        args = (df, self.id_col, self.content_col)
        codec = self.options.get("index_codec", "raw")
        if codec == "pq":
            return similarity.index_entries_pq(
                *args, **_accepted(similarity.index_entries_pq, self.options))
        if codec == "pq_residual":
            return similarity.index_entries_pq_residual(
                *args, **_accepted(similarity.index_entries_pq_residual,
                                   self.options))
        return similarity.index_entries(
            *args, **_accepted(similarity.index_entries, self.options))

    def entries_per_row(self) -> int:
        """Index rows per kept row: one per band for the banded modes."""
        if self.mode == "exact":
            return 1
        if self.mode == "minhash":
            kw = {**_defaults(dedup.dedup_minhash_against_index),
                  **self.options}
            return kw["num_hashes"] // kw["rows_per_band"]
        return {**_defaults(similarity.index_entries), **self.options}["bands"]


def from_options(opts: dict) -> tuple[str, IngestDedup]:
    """``(index path, IngestDedup)`` from ``target.options.dedup``; every
    config error raises ``ConfigError`` here, before any data moves. YAML
    keys keep their names (``ngram`` is the operator's ``n``)."""
    opts = dict(opts)
    if not (opts.get("index") and opts.get("id_field")
            and opts.get("content_field")):
        raise ConfigError(
            "target.options.dedup needs index (the dedup-index table "
            "path), id_field and content_field")
    mode = str(opts.get("mode", "exact"))
    if mode not in MODES:
        raise ConfigError(
            "target.options.dedup.mode must be exact, embedding or "
            f"minhash, got {mode!r}")
    kw = {arg: cast(opts[key])
          for key, (arg, cast) in _YAML_KEYS[mode].items() if key in opts}
    if "threshold" in kw and not (0.0 < kw["threshold"] <= 1.0):
        raise ConfigError(
            "target.options.dedup.threshold must be in (0, 1], "
            f"got {kw['threshold']}")
    if mode == "minhash":
        resolved = {**_defaults(dedup.dedup_minhash_against_index), **kw}
        nh, rpb = resolved["num_hashes"], resolved["rows_per_band"]
        if rpb < 1 or nh % rpb != 0:
            raise ConfigError(
                "target.options.dedup.rows_per_band must divide "
                f"num_hashes (got {rpb} / {nh})")
    codec = str(opts.get("index_codec", "raw"))
    if codec not in CODECS:
        raise ConfigError(
            "target.options.dedup.index_codec must be raw, pq or "
            f"pq_residual, got {codec!r}")
    if codec != "raw":
        if mode != "embedding":
            raise ConfigError(
                f"target.options.dedup.index_codec={codec} applies only "
                "to mode=embedding")
        kw["index_codec"] = codec
        kw.update(_codec_artifact(codec, opts.get("codebooks")))
    return str(opts["index"]), IngestDedup(
        mode, str(opts["id_field"]), str(opts["content_field"]), kw)


def _codec_artifact(codec: str, path) -> dict:
    """Operator kwargs from the codebooks JSON artifact: PQ codebooks ship
    as a file (the classifier-model pattern), since a trained m x k x sub
    float tensor cannot ride YAML."""
    if not path:
        raise ConfigError(
            f"target.options.dedup.index_codec={codec} needs codebooks "
            "(path to a JSON artifact: quantization.pq_train output under "
            "key 'codebooks' for pq, the full "
            "quantization.ivfpq_train_artifact dict for pq_residual)")
    try:
        with open(str(path)) as fh:
            art = json.load(fh)
    except (OSError, ValueError) as exc:
        raise ConfigError(
            f"target.options.dedup.codebooks: cannot load {path!r}: "
            f"{exc}") from exc
    cbs = art.get("codebooks") if isinstance(art, dict) else art
    if (not isinstance(cbs, list) or not cbs
            or not isinstance(cbs[0], list) or not cbs[0]
            or not isinstance(cbs[0][0], list)):
        raise ConfigError(
            "target.options.dedup.codebooks artifact must hold an "
            "m x k x sub nested list (optionally under key 'codebooks')")
    if codec == "pq_residual":
        # the residual codec decodes against the coarse cells too
        if not (isinstance(art, dict) and isinstance(art.get("cells"), list)
                and art["cells"]):
            raise ConfigError(
                "target.options.dedup.index_codec=pq_residual needs the "
                "codebooks artifact to be the FULL "
                "quantization.ivfpq_train_artifact dict (keys cells + "
                "codebooks + scale)")
        return {"artifact": art}
    kw = {"codebooks": cbs}
    if isinstance(art, dict) and art.get("scale"):
        kw["scale"] = int(art["scale"])
    return kw
