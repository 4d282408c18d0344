"""The three ingest-lifecycle workloads: seeded input generators, job YAML,
consumer reads and output checks.

Every workload is a sequence of *units* (a CSV drop, a CDC delta, a JSONL
batch). A *round* lands the units one at a time into a fresh inbox and runs
``runner.run_job_file`` once per unit against a fresh target and state
root, so each job picks up exactly one new unit. The first job of a round
is its *load* job and is kept out of the warm-job statistics.

Generators take the seed as an argument, write only under the directory
they are given, and give byte-identical files for the same seed. The engine
receives only the generated files and the job YAML.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
import yaml

TENANT = "bench"
EPOCH = dt.datetime(2024, 1, 1)


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase pseudo-words of 3-9 letters."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        lens = rng.integers(3, 10, size=n)
        codes = rng.integers(97, 123, size=(n, 9), dtype=np.uint8)
        for row, k in zip(codes, lens):
            w = row[:k].tobytes().decode()
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return np.array(words)


def _join_words(vocab: np.ndarray, idx: np.ndarray) -> pa.Array:
    cols = [pa.array(vocab[idx[:, k]]) for k in range(idx.shape[1])]
    return pc.binary_join_element_wise(*cols, " ")


def dir_bytes(path: str | Path) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def delta_sizes(count: int, lo: int, hi: int) -> list[int]:
    """Unit sizes in ``[lo, hi]``. They are the same for every seed, so a
    seed changes what the units hold but not how much: rows/s and job times
    stay comparable across seeds."""
    return np.random.default_rng(0).integers(lo, hi + 1, count).tolist()


def _write_job(path: Path, doc: dict) -> None:
    path.write_text(yaml.safe_dump(doc, sort_keys=False))


@dataclass
class Unit:
    """One landed input: its files (relative to the inputs dir), source
    rows and bytes, plus whatever ground truth its checks need."""

    files: list[str]
    rows: int
    bytes: int
    truth: dict[str, Any] = field(default_factory=dict)


@dataclass
class JobCheck:
    ok: bool
    why: str = ""


class Round:
    """One pass over a workload's units against a fresh target."""

    def __init__(self, wl: "Workload", spark, inputs: Path, units: list[Unit],
                 root: Path):
        self.wl, self.spark, self.inputs, self.units = wl, spark, inputs, units
        self.root = root
        self.inbox = root / "inbox"
        self.target = root / "target"
        self.state = root / "state"
        self.job_yaml = root / "job.yaml"
        for d in (self.inbox, self.state):
            d.mkdir(parents=True, exist_ok=True)
        self.done = 0          # units landed and run
        self.source_bytes = 0
        self.ctx: dict[str, Any] = {}
        _write_job(self.job_yaml, wl.job_doc(self))

    def land(self) -> Unit:
        unit = self.units[self.done]
        for rel in unit.files:
            shutil.copyfile(self.inputs / rel, self.inbox / Path(rel).name)
        self.done += 1
        self.source_bytes += unit.bytes
        return unit


class Workload:
    name = ""
    why = ""

    def generate(self, out: Path, seed: int) -> list[Unit]:
        raise NotImplementedError

    def job_doc(self, rnd: Round) -> dict:
        raise NotImplementedError

    def check_job(self, rnd: Round, unit: Unit, res) -> JobCheck:
        raise NotImplementedError

    def read(self, rnd: Round, unit: Unit) -> JobCheck:
        """The consumer read after publish (timed by the caller)."""
        raise NotImplementedError

    def check_round(self, rnd: Round) -> JobCheck:
        return JobCheck(True)

    def stored_bytes(self, rnd: Round) -> int:
        return dir_bytes(rnd.target)

    def quality(self, rounds: list[Round]) -> dict[str, float]:
        return {}

    def layer_extras(self, rnd: Round) -> dict[str, float]:
        """Per-job counts read from the workload's own tables."""
        return {}


# -- bulk_csv_backfill --------------------------------------------------------

SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP",
                      "TRUCK"])


class BulkCsvBackfill(Workload):
    """Daily lineitem CSV drops, warn mode, partitioned by ship mode.

    The drops carry 12 of lineitem's 16 columns. Planning the warn-mode
    error sample (``ValidationResult.error_summary``, run whenever a drop
    holds a malformed row) costs driver time that roughly doubles with each
    CSV column: measured on a 4-core host, 0.5 s at 10 columns, 1.9 s at 12
    and 33 s at 16, where it also exhausts the default 1 GiB driver heap.
    At 16 columns one job would outlast a benchmark run; at 12 the stall
    is still the largest single cost of a job and shows in
    ``runner.self_s`` and ``runner.driver_s``.
    """

    name = "bulk_csv_backfill"
    why = ("CSV parse, the coercion ladder, the warn-mode error sample and "
           "the parquet encode carry the work")
    drops = 6
    files_per_drop = 3
    rows_per_drop = 2_400
    bad_cell_share = 0.01
    int_cols = ("l_orderkey", "l_partkey", "l_suppkey")
    float_cols = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    date_cols = ("l_shipdate", "l_receiptdate")
    read_mode = "air"
    stored_after = 3

    def properties(self) -> dict:
        return {"drops": self.drops, "files_per_drop": self.files_per_drop,
                "rows_per_drop": self.rows_per_drop, "csv_columns": 12,
                "malformed_cell_share": self.bad_cell_share,
                "partition_by": "l_shipmode (7 values)"}

    def _file(self, rng: np.random.Generator, n: int, day: dt.datetime,
              vocab: np.ndarray) -> tuple[pa.Table, int]:
        cols: dict[str, pa.Array] = {}
        cells = {
            "l_orderkey": rng.integers(1, 6_000_000, n),
            "l_partkey": rng.integers(1, 200_000, n),
            "l_suppkey": rng.integers(1, 10_000, n),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
        }
        bad_any = np.zeros(n, dtype=bool)
        for name in self.int_cols + self.float_cols:
            good = pc.cast(pa.array(cells[name]), pa.string())
            bad = rng.random(n) < self.bad_cell_share
            bad_any |= bad
            cols[name] = pc.if_else(
                pa.array(bad), pc.binary_join_element_wise(good, "x", ""),
                good)
        cols["l_returnflag"] = pa.array(rng.choice(["A", "N", "R"], n))
        base = np.datetime64(day, "s")
        for name, lo, hi in (("l_shipdate", 0, 86_400),
                             ("l_receiptdate", 86_400, 31 * 86_400)):
            ts = base + rng.integers(lo, hi, n).astype("timedelta64[s]")
            good = pc.strftime(pa.array(ts), format="%Y-%m-%d %H:%M:%S")
            bad = rng.random(n) < self.bad_cell_share
            bad_any |= bad
            cols[name] = pc.if_else(
                pa.array(bad), pc.replace_substring(good, "-", "/"), good)
        cols["l_shipmode"] = pa.array(rng.choice(SHIPMODES, n))
        cols["l_comment"] = _join_words(
            vocab, rng.integers(0, len(vocab), (n, 4)))
        return pa.table(cols), int(bad_any.sum())

    def generate(self, out: Path, seed: int) -> list[Unit]:
        rng = np.random.default_rng([seed, 1])
        vocab = _vocab(rng, 2_000)
        units = []
        per_file = self.rows_per_drop // self.files_per_drop
        for d in range(self.drops):
            day = EPOCH + dt.timedelta(days=d)
            files, bad, size = [], 0, 0
            for k in range(self.files_per_drop):
                table, n_bad = self._file(rng, per_file, day, vocab)
                rel = f"drop{d:02d}/lineitem_{d:02d}_{k}.csv"
                (out / rel).parent.mkdir(parents=True, exist_ok=True)
                pacsv.write_csv(table, out / rel, pacsv.WriteOptions(
                    quoting_style="none"))
                files.append(rel)
                bad += n_bad
                size += (out / rel).stat().st_size
            units.append(Unit(files, per_file * self.files_per_drop, size,
                              {"malformed_rows": bad}))
        return units

    def job_doc(self, rnd: Round) -> dict:
        schema = ([{"name": c, "type": "integer",
                    "required": c == "l_orderkey"} for c in self.int_cols]
                  + [{"name": c, "type": "float"} for c in self.float_cols]
                  + [{"name": "l_returnflag", "type": "string"}]
                  + [{"name": c, "type": "timestamp"} for c in self.date_cols]
                  + [{"name": "l_shipmode", "type": "string",
                      "required": True},
                     {"name": "l_comment", "type": "string"}])
        return {
            "tenant_id": TENANT,
            "schema_validation_mode": "warn",
            "source": {"type": "csv", "path": str(rnd.inbox / "*.csv"),
                       "incremental": {"enabled": True,
                                       "strategy": "file_modified_time"}},
            "target": {"type": "parquet", "path": str(rnd.target),
                       "partition_by": ["l_shipmode"],
                       "options": {"mode": "append"}},
            "asset": {"name": "lineitem", "version": "1.0",
                      "schema": schema},
        }

    def check_job(self, rnd: Round, unit: Unit, res) -> JobCheck:
        from dativo_ingest_spark.operators import incremental

        want_exit = 1 if unit.truth["malformed_rows"] else 0
        if res.exit_code != want_exit:
            return JobCheck(False, f"exit {res.exit_code} != {want_exit}")
        if res.records_in != unit.rows:
            return JobCheck(False, f"records_in {res.records_in} != "
                                   f"{unit.rows}")
        if res.records_invalid != unit.truth["malformed_rows"]:
            return JobCheck(False, f"records_invalid {res.records_invalid} "
                                   f"!= {unit.truth['malformed_rows']}")
        published = sum(pq.ParquetFile(p).metadata.num_rows
                        for p in rnd.target.rglob("*.parquet"))
        want = sum(u.rows for u in rnd.units[:rnd.done])
        if published != want:
            return JobCheck(False, f"published {published} != {want}")
        seen = incremental.StateStore(str(rnd.state)).get_file_mtimes(
            incremental.StateKey(TENANT, "csv", "lineitem"))
        landed = {str(rnd.inbox / Path(rel).name)
                  for u in rnd.units[:rnd.done] for rel in u.files}
        if not landed <= set(seen):
            return JobCheck(False, "state misses landed files "
                                   f"{sorted(landed - set(seen))[:3]}")
        return JobCheck(True)

    def read(self, rnd: Round, unit: Unit) -> JobCheck:
        from pyspark.sql import functions as F

        row = (rnd.spark.read.parquet(str(rnd.target))
               .filter(F.col("_p_l_shipmode") == self.read_mode)
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("l_extendedprice").alias("revenue"),
                    F.max("l_shipdate").alias("last"))
               .first())
        if not row["n"]:
            return JobCheck(False, "empty partition read")
        return JobCheck(True)


# -- cdc_merge_table ----------------------------------------------------------

ORDER_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.date32()), ("o_orderpriority", pa.string()),
    ("o_clerk", pa.string()), ("o_shippriority", pa.int64()),
    ("o_comment", pa.string()), ("updated_at", pa.timestamp("us", "UTC")),
])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])


class CdcMergeTable(Workload):
    name = "cdc_merge_table"
    why = ("overhead- and commit-bound: plan construction, jobs per job, "
           "manifest commit and copy-on-write rewrites")
    initial_rows = 150_000
    deltas = 30
    stored_after = 6         # units landed when storage is measured
    delta_rows = (1_000, 10_000)
    recent_share = 0.80      # of delta rows: updates of the newest keys
    old_share = 0.05         # of delta rows: updates of uniformly old keys
    recent_window = 15_000   # "recent" = the newest keys this many deep
    lookup_keys = 100

    def properties(self) -> dict:
        return {"initial_rows": self.initial_rows, "deltas": self.deltas,
                "delta_rows": list(self.delta_rows),
                "update_recent_share": self.recent_share,
                "update_old_share": self.old_share,
                "insert_share": round(1 - self.recent_share
                                      - self.old_share, 2),
                "recent_window_keys": self.recent_window}

    def _rows(self, rng: np.random.Generator, keys: np.ndarray,
              ts0: int, vocab: np.ndarray) -> pa.Table:
        n = len(keys)
        days = rng.integers(0, 2_400, n).astype("timedelta64[D]")
        return pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(1, 150_000, n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": pa.array(np.round(rng.uniform(800, 500_000, n),
                                              2)),
            "o_orderdate": pa.array(np.datetime64("2018-01-01") + days,
                                    pa.date32()),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
            "o_clerk": pc.binary_join_element_wise(
                "Clerk#", pc.cast(pa.array(rng.integers(1, 1_000, n)),
                                  pa.string()), ""),
            "o_shippriority": pa.array(np.zeros(n, np.int64)),
            "o_comment": _join_words(vocab, rng.integers(0, len(vocab),
                                                         (n, 5))),
            # strictly increasing: one second per row
            "updated_at": pa.array(
                (np.datetime64(EPOCH, "s") + ts0
                 + np.arange(n)).astype("datetime64[us]"),
                pa.timestamp("us", "UTC")),
        }, schema=ORDER_SCHEMA)

    def generate(self, out: Path, seed: int) -> list[Unit]:
        rng = np.random.default_rng([seed, 2])
        vocab = _vocab(rng, 2_000)
        (out / "cdc").mkdir(parents=True, exist_ok=True)
        max_key = self.initial_rows
        ts = 0
        tables = [self._rows(rng, np.arange(1, max_key + 1), ts, vocab)]
        ts += self.initial_rows
        for n in delta_sizes(self.deltas, *self.delta_rows):
            n_recent = int(n * self.recent_share)
            n_old = int(n * self.old_share)
            n_new = n - n_recent - n_old
            recent = rng.choice(np.arange(max_key - self.recent_window + 1,
                                          max_key + 1), n_recent,
                                replace=False)
            old = rng.choice(np.arange(1, max_key - self.recent_window + 1),
                             n_old, replace=False)
            new = np.arange(max_key + 1, max_key + 1 + n_new)
            keys = np.concatenate([recent, old, new])
            rng.shuffle(keys)
            tables.append(self._rows(rng, keys, ts, vocab))
            ts += n
            max_key += n_new
        units = []
        for i, table in enumerate(tables):
            rel = f"cdc/delta_{i:04d}.parquet"
            pq.write_table(table, out / rel)
            units.append(Unit([rel], table.num_rows,
                              (out / rel).stat().st_size))
        return units

    def job_doc(self, rnd: Round) -> dict:
        types = {pa.int64(): "integer", pa.string(): "string",
                 pa.float64(): "float", pa.date32(): "date"}
        schema = [{"name": f.name,
                   "type": types.get(f.type, "timestamp"),
                   "required": f.name in ("o_orderkey", "updated_at")}
                  for f in ORDER_SCHEMA]
        return {
            "tenant_id": TENANT,
            "schema_validation_mode": "strict",
            "source": {"type": "parquet", "path": str(rnd.inbox),
                       "incremental": {"enabled": True,
                                       "cursor_field": "updated_at"}},
            "target": {"type": "parquet", "path": str(rnd.target),
                       "options": {"mode": "merge",
                                   "merge_keys": "o_orderkey",
                                   "commit": "table"}},
            "asset": {"name": "orders", "version": "1.0", "schema": schema},
        }

    def _table(self, rnd: Round):
        from dativo_ingest_spark.sinks import table_commit

        return table_commit.FsTable(str(rnd.target))

    def _live_files(self, rnd: Round) -> list[dict]:
        table = self._table(rnd)
        return table.snapshot(table.current_version(TENANT)).files

    def expected(self, rnd: Round) -> pa.Table:
        """Last-write-wins-by-key fold of every unit landed so far."""
        merged = pa.concat_tables(
            pq.read_table(rnd.inputs / u.files[0]) for u in
            rnd.units[:rnd.done]).to_pandas()
        merged = merged.sort_values("updated_at").drop_duplicates(
            "o_orderkey", keep="last")
        return pa.Table.from_pandas(merged, ORDER_SCHEMA,
                                    preserve_index=False)

    def check_job(self, rnd: Round, unit: Unit, res) -> JobCheck:
        if res.exit_code != 0:
            return JobCheck(False, f"exit {res.exit_code}")
        # the >= cursor re-reads the previous unit's boundary row
        want = unit.rows + (1 if rnd.done > 1 else 0)
        if res.records_in != want:
            return JobCheck(False, f"records_in {res.records_in} != {want}")
        live = self._table(rnd).manifest_aggregate(branch=TENANT)
        keys = rnd.ctx.setdefault("keys", set())
        keys.update(pq.read_table(rnd.inputs / unit.files[0],
                                  columns=["o_orderkey"])
                    .column(0).to_numpy().tolist())
        # rows beyond one per key: a job that raises it wrote a key twice,
        # one that takes it below zero lost rows (a later merge of a
        # duplicated key legitimately brings it back down)
        excess = live["num_rows"] - len(keys)
        before = rnd.ctx.get("excess", 0)
        rnd.ctx["excess"] = excess
        if excess > before or excess < 0:
            return JobCheck(False, f"table rows minus distinct keys went "
                                   f"from {before} to {excess}")
        return JobCheck(True)

    def read(self, rnd: Round, unit: Unit) -> JobCheck:
        """Point lookup of just-updated keys through ``FsTable.read``."""
        from pyspark.sql import functions as F

        delta = pq.read_table(rnd.inputs / unit.files[0],
                              columns=["o_orderkey", "updated_at"])
        step = max(1, delta.num_rows // self.lookup_keys)
        keys = delta.column(0).to_numpy()[::step][:self.lookup_keys]
        micros = pc.cast(delta.column(1), pa.int64()).to_numpy()
        want = dict(zip(keys.tolist(), micros[::step].tolist()))
        lo, hi = int(keys.min()), int(keys.max())
        rows = (self._table(rnd)
                .read(rnd.spark, branch=TENANT,
                      where=[("o_orderkey", ">=", lo),
                             ("o_orderkey", "<=", hi)])
                .filter(F.col("o_orderkey").isin(keys.tolist()))
                .select("o_orderkey", F.unix_micros("updated_at").alias("u"))
                .collect())
        got: dict[int, list[int]] = {}
        for r in rows:
            got.setdefault(r["o_orderkey"], []).append(r["u"])
        bad = [k for k, u in want.items() if got.get(k) != [u]]
        if bad:
            return JobCheck(False, f"lookup mismatch on {len(bad)} keys, "
                                   f"e.g. {bad[0]}: {got.get(bad[0])}")
        return JobCheck(True)

    def check_round(self, rnd: Round) -> JobCheck:
        got = pa.concat_tables(
            pq.read_table(rnd.target / f["path"], columns=ORDER_SCHEMA.names)
            for f in self._live_files(rnd))
        return fold_matches(got, self.expected(rnd))

    def stored_bytes(self, rnd: Round) -> int:
        return (sum(f["size_bytes"] for f in self._live_files(rnd))
                + dir_bytes(rnd.target / "metadata"))


def _canonical_digest(table: pa.Table) -> tuple[int, int]:
    """Row count and an order-independent checksum: the wrapping sum of
    per-row 64-bit hashes over the values with time types as integers."""
    cols = {}
    for name in ORDER_SCHEMA.names:
        col = table.column(name)
        if pa.types.is_timestamp(col.type):
            col = pc.cast(col.cast(pa.timestamp("us", col.type.tz)),
                          pa.int64())
        elif pa.types.is_date(col.type):
            col = pc.cast(col, pa.int32())
        cols[name] = col.to_pandas()
    frame = pd.DataFrame(cols)
    hashes = pd.util.hash_pandas_object(frame, index=False).to_numpy()
    return len(frame), int(hashes.sum(dtype=np.uint64))


def fold_matches(got: pa.Table, want: pa.Table) -> JobCheck:
    """Does the table hold exactly the last-write-wins fold?"""
    (n_got, h_got), (n_want, h_want) = (_canonical_digest(got),
                                        _canonical_digest(want))
    if (n_got, h_got) != (n_want, h_want):
        return JobCheck(False, f"fold mismatch: table {n_got} rows, "
                               f"expected {n_want}")
    return JobCheck(True)


# -- corpus_dedup_ingest ------------------------------------------------------


class CorpusDedupIngest(Workload):
    name = "corpus_dedup_ingest"
    why = ("operator-bound: MinHash dedup-on-ingest against a persistent "
           "index that grows every batch")
    batches = 10
    stored_after = 3
    docs_per_batch = (180, 220)
    words_per_doc = (30, 80)
    near_dup_share = 0.15
    max_edit_share = 0.05
    exact_copies = 5
    vocab_size = 30_000

    def properties(self) -> dict:
        return {"batches": self.batches,
                "docs_per_batch": list(self.docs_per_batch),
                "words_per_doc": list(self.words_per_doc),
                "planted_near_dup_share": self.near_dup_share,
                "max_edited_word_share": self.max_edit_share,
                "exact_copies_per_batch": self.exact_copies,
                "vocabulary": self.vocab_size}

    def generate(self, out: Path, seed: int) -> list[Unit]:
        rng = np.random.default_rng([seed, 3])
        vocab = _vocab(rng, self.vocab_size)
        originals: list[list[int]] = []   # word ids of unique docs so far
        units = []
        (out / "jsonl").mkdir(parents=True, exist_ok=True)
        for b, n in enumerate(delta_sizes(self.batches,
                                          *self.docs_per_batch)):
            n_near = int(n * self.near_dup_share) if originals else 0
            n_exact = self.exact_copies if originals else 0
            kinds = np.array(["unique"] * (n - n_near - n_exact)
                             + ["near"] * n_near + ["exact"] * n_exact)
            rng.shuffle(kinds)
            docs, truth = [], {"unique": [], "near": [], "exact": []}
            batch_originals = []
            for i, kind in enumerate(kinds):
                doc_id = f"b{b:02d}-{i:05d}"
                if kind == "unique":
                    words = rng.integers(
                        0, len(vocab), int(rng.integers(
                            self.words_per_doc[0],
                            self.words_per_doc[1] + 1))).tolist()
                    batch_originals.append(words)
                else:
                    # copies only reach earlier batches, so the index (not
                    # the within-batch pass) decides every planted drop
                    words = list(originals[int(rng.integers(
                        len(originals)))])
                    if kind == "near":
                        k = int(rng.integers(
                            1, int(len(words) * self.max_edit_share) + 1))
                        for pos in rng.choice(len(words), k, replace=False):
                            words[pos] = int(rng.integers(len(vocab)))
                truth[kind].append(doc_id)
                docs.append({"doc_id": doc_id,
                             "text": " ".join(vocab[words]),
                             "lang": "en"})
            originals.extend(batch_originals)
            rel = f"jsonl/batch_{b:02d}.jsonl"
            with open(out / rel, "w") as fh:
                for d in docs:
                    fh.write(json.dumps(d) + "\n")
            units.append(Unit([rel], n, (out / rel).stat().st_size,
                              {**truth, "prefix": f"b{b:02d}-"}))
        return units

    def job_doc(self, rnd: Round) -> dict:
        return {
            "tenant_id": TENANT,
            "schema_validation_mode": "warn",
            "source": {"type": "jsonl", "path": str(rnd.inbox / "*.jsonl"),
                       "incremental": {"enabled": True,
                                       "strategy": "file_modified_time"}},
            "target": {"type": "parquet", "path": str(rnd.target),
                       "options": {"mode": "append", "dedup": {
                           "index": str(rnd.root / "index"),
                           "id_field": "doc_id", "content_field": "text",
                           "mode": "minhash", "ngram": 3, "num_hashes": 8,
                           "rows_per_band": 2, "threshold": 0.5}}},
            "asset": {"name": "crawl_documents", "version": "1.0",
                      "schema": [
                          {"name": "doc_id", "type": "string",
                           "required": True},
                          {"name": "text", "type": "string",
                           "required": True},
                          {"name": "lang", "type": "string"}]},
        }

    def check_job(self, rnd: Round, unit: Unit, res) -> JobCheck:
        if res.exit_code != 0:
            return JobCheck(False, f"exit {res.exit_code}")
        dropped = sum(res.dedup_dropped.values())
        if res.records_in + dropped != unit.rows:
            return JobCheck(False, f"kept {res.records_in} + dropped "
                                   f"{dropped} != {unit.rows}")
        return JobCheck(True)

    def read(self, rnd: Round, unit: Unit) -> JobCheck:
        """Fetch the newly published batch (a downstream consumer's read)
        and record which documents survived."""
        from pyspark.sql import functions as F

        kept = {r["doc_id"] for r in
                rnd.spark.read.parquet(str(rnd.target))
                .filter(F.col("doc_id").startswith(unit.truth["prefix"]))
                .select("doc_id").collect()}
        rnd.ctx.setdefault("kept", {})[unit.truth["prefix"]] = kept
        leaked = [d for d in unit.truth["exact"] if d in kept]
        if leaked:
            return JobCheck(False, f"exact copies kept: {leaked[:3]}")
        return JobCheck(True)

    def stored_bytes(self, rnd: Round) -> int:
        from dativo_ingest_spark.sinks import table_commit

        index = table_commit.FsTable(str(rnd.root / "index"))
        snap = index.snapshot(index.current_version("main"))
        return (dir_bytes(rnd.target)
                + sum(f["size_bytes"] for f in snap.files)
                + dir_bytes(rnd.root / "index" / "metadata"))

    def layer_extras(self, rnd: Round) -> dict[str, float]:
        from dativo_ingest_spark.sinks import table_commit

        index = table_commit.FsTable(str(rnd.root / "index"))
        return {"index_rows": index.manifest_aggregate()["num_rows"] or 0}

    def quality(self, rounds: list[Round]) -> dict[str, float]:
        near = near_hit = uniq = uniq_drop = 0
        for rnd in rounds:
            for unit in rnd.units[:rnd.done]:
                kept = rnd.ctx.get("kept", {}).get(unit.truth["prefix"])
                if kept is None:
                    continue
                near += len(unit.truth["near"])
                near_hit += sum(d not in kept for d in unit.truth["near"])
                uniq += len(unit.truth["unique"])
                uniq_drop += sum(d not in kept for d in unit.truth["unique"])
        return {"dup_recall": near_hit / near if near else 1.0,
                "false_drop_ratio": uniq_drop / uniq if uniq else 0.0}


WORKLOADS: dict[str, Workload] = {
    w.name: w for w in (BulkCsvBackfill(), CdcMergeTable(),
                        CorpusDedupIngest())}
