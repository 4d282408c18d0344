"""Filesystem table-commit protocol: Iceberg-style snapshot commits without
an Iceberg runtime.

The reference commits parquet files to Iceberg via PyIceberg ``add_files``
(new snapshot per commit, Nessie branch refs, graceful catalog degradation —
``/root/reference/src/dativo_ingest/iceberg_committer.py:498-693``). No
Iceberg jar ships in this environment, so this module implements the same
transactional contract directly on a filesystem/object-store layout, modeled
on Iceberg's HadoopTableOperations versioning:

  {root}/data/{stage-uuid}/part-*.parquet   immutable data files
  {root}/metadata/v{N}.json                 snapshot manifest (O_EXCL create)
  {root}/metadata/refs/{branch}             branch pointer -> version

Guarantees (the ones that matter at 100 TB, where a commit races with
concurrent writers and any executor can die mid-write):

- **Atomic visibility**: data files are staged under an unreferenced uuid
  dir; they become visible only when a manifest referencing them is
  published. A crash before publish leaves invisible orphans, never a
  partial table.
- **Exactly-one-winner (base-tracking CAS)**: advancing a branch from base
  version B is arbitrated by an exclusive *claim file*
  ``refs/.{branch}.{B}.next`` created atomically (hard-link of a
  pre-written temp file, so it can never be observed empty). Exactly one
  writer per (branch, base) wins; a loser's base is provably stale — it
  re-reads the head and recomputes its file list, so a concurrent commit
  can never be silently dropped (Iceberg's base-unchanged optimistic CAS).
  The ``O_CREAT|O_EXCL`` manifest create only keeps the global version
  numbers unique; losing *that* race just renumbers, it is not a conflict.
- **Time travel**: snapshots are immutable; a *committed* snapshot is any
  version reachable from a branch ref via parent pointers. A writer that
  loses the branch CAS leaves its already-published manifest as an orphan
  in the global version sequence — never reachable from any ref — so
  version reads are validated against the branch's parent chain
  (``read(version=...)`` raises ``LookupError`` for orphans).
- **Branches**: the claim-file chain is the branch's commit log (source of
  truth); ``refs/{branch}`` is a fast-path cache repaired on read, so a
  crash between claim and cache update loses nothing.

Readers plan from a manifest's explicit file list — a 1000-executor scan
never lists directories (object-store LIST is both slow and eventually
consistent); the driver hands Spark the exact paths.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from dativo_ingest_spark.operators.util import local_df


#: attempts :meth:`FsTable.rewrite` re-plans from a moved head, and
#: :meth:`FsTable.add_files` rebases onto one, before giving up (only
#: sustained contention exhausts either)
_MAX_REPLANS = 3
_MAX_RETRIES = 5


class CommitConflict(Exception):
    """Another writer published this version first; retry against the new
    current version (staged files remain valid)."""


def _json_safe(v: Any) -> Any:
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _footer_stats(path: str, columns: list[str]) -> dict[str, Any]:
    """Per-column min/max from the parquet footer (metadata only, no data
    pages). Columns missing stats are omitted — absent stats must mean
    'cannot prune', never 'matches nothing'."""
    import pyarrow.parquet as pq

    return _footer_stats_md(pq.ParquetFile(path).metadata, columns)


def _footer_stats_md(md, columns: list[str]) -> dict[str, Any]:
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict[str, Any] = {}
    for col in columns:
        i = idx.get(col)
        if i is None:
            continue
        mins: list[Any] = []
        maxs: list[Any] = []
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mins.append(st.min)
            maxs.append(st.max)
        if ok and mins:
            out[col] = {"min": _json_safe(min(mins)),
                        "max": _json_safe(max(maxs))}
    return out


#: predicate ops usable against [min, max] file ranges
_PRUNE_OPS = {
    "==": lambda lo, hi, v: v < lo or v > hi,
    ">=": lambda lo, hi, v: hi < v,
    ">": lambda lo, hi, v: hi <= v,
    "<=": lambda lo, hi, v: lo > v,
    "<": lambda lo, hi, v: lo >= v,
}


def file_excluded(stats: dict[str, Any] | None,
                  predicates: list[tuple[str, str, Any]]) -> bool:
    """True iff the file's [min,max] ranges PROVE no row can satisfy the
    AND of ``predicates`` (conservative: missing stats keep the file)."""
    for col, op, value in predicates:
        rng = (stats or {}).get(col)
        if not rng:
            continue
        if _PRUNE_OPS[op](rng["min"], rng["max"], value):
            return True
    return False


@dataclass
class Snapshot:
    version: int
    operation: str
    files: list[dict[str, Any]]
    parent: int | None = None
    schema_json: str | None = None
    properties: dict[str, str] = field(default_factory=dict)


class Rewrite(NamedTuple):
    """What a :meth:`FsTable.rewrite` plan returns: drop ``remove`` (file
    entries of the snapshot it planned against) and add the files of
    ``frame``, with per-file stats for ``stats_columns``.
    ``schema_json=None`` keeps the base snapshot's schema."""

    remove: list[dict[str, Any]]
    frame: DataFrame
    stats_columns: list[str] | None = None
    schema_json: str | None = None
    properties: dict[str, str] | None = None


class FsTable:
    """A versioned parquet table rooted at ``root``."""

    def __init__(self, root: str):
        self.root = root
        self._meta = os.path.join(root, "metadata")
        self._refs = os.path.join(self._meta, "refs")

    # -- metadata primitives ------------------------------------------------

    @classmethod
    def create(cls, root: str, properties: dict[str, str] | None = None) -> "FsTable":
        t = cls(root)
        os.makedirs(t._refs, exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        if t.current_version("main") is None:
            t._publish(
                Snapshot(version=0, operation="create", files=[],
                         properties=dict(properties or {})),
            )
            t._set_ref("main", 0)
        return t

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._meta, f"v{version}.json")

    def current_version(self, branch: str = "main") -> int | None:
        """Branch head = cached ref, advanced along the claim-file chain
        (the chain is authoritative; the ref file is repaired if stale).
        The walk is cycle-guarded (r14): a claim chain corrupted by the
        pre-r14 vacuum version-reuse bug must fail loudly, never spin."""
        try:
            with open(os.path.join(self._refs, branch)) as fh:
                cached = int(fh.read().strip())
        except FileNotFoundError:
            return None
        head = cached
        seen = {head}
        while (nxt := self._read_claim(branch, head)) is not None:
            if nxt in seen:
                raise RuntimeError(
                    f"claim-chain cycle at v{nxt} on branch {branch!r} "
                    "(stale claim files + version-number reuse); repair "
                    "the refs dir by removing stale .next claim files")
            seen.add(nxt)
            head = nxt
        if head != cached:
            self._set_ref(branch, head)
        return head

    def _version(self, branch: str) -> int:
        """The branch head's version; ValueError for an unknown branch."""
        v = self.current_version(branch)
        if v is None:
            raise ValueError(f"unknown branch {branch!r}")
        return v

    def _claim_path(self, branch: str, base_v: int) -> str:
        return os.path.join(self._refs, f".{branch}.{base_v}.next")

    def _read_claim(self, branch: str, base_v: int) -> int | None:
        try:
            with open(self._claim_path(branch, base_v)) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None

    def _claim(self, branch: str, base_v: int, next_v: int) -> bool:
        """Atomically advance ``branch`` from ``base_v`` to ``next_v``.
        Returns False when another writer already advanced from this base
        — the caller's base is stale. Hard-linking a pre-written temp file
        is create-exclusive WITH content, so readers never see an empty
        claim."""
        tmp = os.path.join(self._refs, f".claim.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            fh.write(str(next_v))
        try:
            os.link(tmp, self._claim_path(branch, base_v))
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    _version_hint = 0

    def _hint_path(self) -> str:
        return os.path.join(self._meta, "version-hint.txt")

    def _read_hint_file(self) -> int:
        try:
            with open(self._hint_path()) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def _bump_hint_file(self, floor: int) -> None:
        """Monotonically raise the persisted version high-water mark
        (atomic rename — a torn read can never be observed)."""
        if self._read_hint_file() >= floor:
            return
        tmp = os.path.join(self._meta, f".hint.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            fh.write(str(floor))
        os.replace(tmp, self._hint_path())

    def _next_version(self) -> int:
        """First unallocated version: probe forward from a per-instance
        hint instead of listing the whole metadata dir (O(#snapshots) per
        commit otherwise — at 100k commits that listdir dominates). The
        hint only ever lags reality; ``_publish``'s O_EXCL create is the
        real arbiter, so a stale hint costs extra probes, never a
        collision.

        r14: the probe also floors at the PERSISTED high-water mark
        (``metadata/version-hint.txt``, maintained by ``_publish`` and
        ``vacuum``) so version numbers are NEVER reused after vacuum
        expires their manifests. Reuse corrupted the metadata graph two
        ways: a stale ``.next`` claim file at the reused number splices
        the old chain into the new one (ref-walk cycle → every reader
        hangs), and the reused manifest's parent pointer can close a
        parent-chain cycle (history() hangs). Found by the r14
        maintain-mode e2e; regression-pinned in test_table_commit."""
        v = max(self._version_hint, self._read_hint_file())
        while os.path.exists(self._manifest_path(v)):
            v += 1
        self._version_hint = v
        return v

    def snapshot(self, version: int) -> Snapshot:
        with open(self._manifest_path(version)) as fh:
            d = json.load(fh)
        return Snapshot(
            version=d["version"], operation=d["operation"], files=d["files"],
            parent=d.get("parent"), schema_json=d.get("schema_json"),
            properties=d.get("properties", {}),
        )

    def _publish(self, snap: Snapshot) -> None:
        """Exactly-one-winner manifest creation for ``snap.version``."""
        payload = json.dumps(
            {
                "version": snap.version, "parent": snap.parent,
                "operation": snap.operation, "files": snap.files,
                "schema_json": snap.schema_json, "properties": snap.properties,
            },
            indent=1,
        )
        path = self._manifest_path(snap.version)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            raise CommitConflict(
                f"version {snap.version} already published"
            ) from None
        with os.fdopen(fd, "w") as fh:
            fh.write(payload)
        # persist the high-water mark so vacuum can never hand this
        # version number back out (see _next_version, r14)
        self._bump_hint_file(snap.version + 1)

    def _set_ref(self, branch: str, version: int) -> None:
        tmp = os.path.join(self._refs, f".{branch}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.rename(tmp, os.path.join(self._refs, branch))  # atomic on POSIX

    def create_branch(self, name: str, at_version: int | None = None) -> None:
        v = self.current_version("main") if at_version is None else at_version
        assert v is not None, "branch from an uncreated table"
        self._set_ref(name, v)

    def head(self, branch: str = "main") -> Snapshot:
        """The branch head snapshot. A missing non-main branch is first
        created at main's head (branch-per-tenant: a tenant's first
        write starts from the shared history)."""
        v = self.current_version(branch)
        if v is None and branch != "main":
            self.create_branch(branch)
            v = self.current_version(branch)
        return self.snapshot(v)

    # -- commits ------------------------------------------------------------

    def schema_history(self, branch: str = "main") -> list[dict]:
        """Schema-evolution audit from manifests alone: one entry per
        version that CHANGED the schema — (version, added, dropped,
        retyped column lists), oldest first. The contract-drift
        complement of the change feed: answers "when did column X
        appear / change type" without touching a data file; at 100 TB
        this is a driver-side walk of kilobyte manifests.

        Versions predating schema tracking (no ``schema_json``) are
        skipped — absence of a recorded schema is not a schema change.
        """
        entries = []
        prev: dict[str, str] | None = None
        for v in reversed(self.history(branch)):
            snap = self.snapshot(v)
            if not snap.schema_json:
                continue
            fields = {
                f["name"]: json.dumps(f["type"], sort_keys=True)
                for f in json.loads(snap.schema_json).get("fields", [])
            }
            if prev is None:
                entries.append({"version": v,
                                "added": sorted(fields), "dropped": [],
                                "retyped": []})
            else:
                added = sorted(set(fields) - set(prev))
                dropped = sorted(set(prev) - set(fields))
                retyped = sorted(
                    c for c in set(fields) & set(prev)
                    if fields[c] != prev[c])
                if added or dropped or retyped:
                    entries.append({"version": v, "added": added,
                                    "dropped": dropped,
                                    "retyped": retyped})
            prev = fields
        return entries

    def rollback(self, version: int, branch: str = "main") -> "Snapshot":
        """Roll the branch back to ``version`` by committing a NEW
        snapshot whose file list (and schema) is exactly that
        snapshot's — Iceberg's rollback semantics: history only ever
        moves FORWARD, the audit trail survives, and time travel to the
        bad intermediate versions still works until vacuum trims them.

        Never resets the branch ref in place: the claim chain is keyed
        on (branch, base), so a rewound ref would let a later append
        from the same base silently "repair" the chain forward onto the
        rolled-back commit. Committing forward rides the same CAS path
        as every other writer, so concurrent commits either land before
        (and are rolled back too) or conflict-and-retry after.

        ``version`` must be reachable from the branch head (the same
        parent-chain validation time-travel reads use); data files are
        immutable and content-addressed, so re-pointing at them is
        metadata-only — zero data movement at any table size.
        """
        if version not in self.history(branch):
            raise LookupError(
                f"version {version} is not reachable from branch "
                f"{branch!r}; cannot roll back to it")
        old = self.snapshot(version)
        return self.add_files(
            list(old.files), operation="overwrite", branch=branch,
            schema_json=old.schema_json)

    def _commit(
        self,
        base: Snapshot,
        branch: str,
        operation: str,
        files: list[dict[str, Any]],
        schema_json: str | None,
        properties: dict[str, str] | None,
    ) -> Snapshot | None:
        """Publish ``files`` as the child of ``base`` and advance ``branch``
        to it; None when the branch already moved past ``base`` (the
        published manifest is then unreachable from any ref — a metadata
        orphan, like Iceberg's).

        Version numbers are a single global sequence across branches
        (lineage lives in the parent pointer, Nessie-style). Losing the
        number race to a writer on ANY branch is benign — the manifest
        content is base-correct — so it just renumbers."""
        for _ in range(1000):
            snap = Snapshot(
                version=self._next_version(), parent=base.version,
                operation=operation, files=files,
                schema_json=schema_json or base.schema_json,
                properties={**base.properties, **(properties or {})},
            )
            try:
                self._publish(snap)
                break
            except CommitConflict:
                continue
        else:  # pragma: no cover - pathological contention
            raise CommitConflict("could not allocate a version number")
        if not self._claim(branch, base.version, snap.version):
            return None
        self._set_ref(branch, snap.version)
        return snap

    def add_files(
        self,
        staged: list[dict[str, Any]],
        operation: str = "append",
        branch: str = "main",
        schema_json: str | None = None,
        properties: dict[str, str] | None = None,
    ) -> Snapshot:
        """Commit staged files (dicts with ``path`` relative to root, plus
        any stats) as a new snapshot on ``branch``.

        ``append`` keeps the parent's file list; ``overwrite`` replaces it.
        A stale base (another writer advanced the branch between our read
        and our claim) is retried by re-reading the head and recomputing
        the file list — staged files never change, only the base snapshot
        does, so no concurrent commit is ever dropped.
        """
        for _ in range(_MAX_RETRIES):
            base = self.snapshot(self._version(branch))
            files = staged if operation == "overwrite" else base.files + staged
            snap = self._commit(base, branch, operation, files, schema_json,
                                properties)
            if snap is not None:
                return snap
        raise CommitConflict(
            f"gave up after {_MAX_RETRIES} retries on branch {branch!r}"
        )

    def replace_files(
        self,
        remove_paths: list[str],
        staged: list[dict[str, Any]],
        expected_base: int,
        branch: str = "main",
        schema_json: str | None = None,
        properties: dict[str, str] | None = None,
    ) -> Snapshot:
        """Precise single-attempt commit: (base files − ``remove_paths``) +
        ``staged``, valid ONLY while the branch head is still
        ``expected_base``.

        Unlike :meth:`add_files`, a stale base is **not** rebased-and-
        retried here: a file replacement planned against an old snapshot
        cannot be blindly rebased — concurrent appends may hold rows the
        plan should have rewritten, and removed files may already be gone.
        Raises :class:`CommitConflict` so the caller re-plans from the new
        head (:meth:`rewrite` does exactly that)."""
        base = self.snapshot(expected_base)
        remove = set(remove_paths)
        snap = self._commit(
            base, branch, "replace",
            [f for f in base.files if f["path"] not in remove] + staged,
            schema_json, properties)
        if snap is None:
            raise CommitConflict(
                f"branch {branch!r} advanced past v{expected_base}; "
                "replacement must be re-planned"
            )
        return snap

    def rewrite(
        self,
        plan: Callable[[Snapshot], Rewrite | None],
        branch: str = "main",
    ) -> Snapshot | None:
        """The one copy-on-write file-replacement loop (MERGE, DELETE,
        compaction, Z-order and the IVF-PQ recluster are each only a
        ``plan``): read the branch head, call ``plan(head)`` — None means
        nothing to do and is returned as is — stage the planned frame, and
        commit it with the precise :meth:`replace_files` pinned to the
        head the plan read. A commit landing in between raises
        :class:`CommitConflict` and the plan re-runs against the new head,
        so a concurrent append is never dropped and never rewritten
        twice. A lost attempt's stage is unreferenced — an invisible
        orphan, like any crash-before-commit, reclaimed by
        :meth:`vacuum`."""
        for attempt in range(_MAX_REPLANS):
            base = self.snapshot(self._version(branch))
            planned = plan(base)
            if planned is None:
                return None
            staged = self._stage(planned.frame, planned.stats_columns)
            try:
                return self.replace_files(
                    [f["path"] for f in planned.remove], staged,
                    expected_base=base.version, branch=branch,
                    schema_json=planned.schema_json,
                    properties=planned.properties,
                )
            except CommitConflict:
                if attempt == _MAX_REPLANS - 1:
                    raise  # pragma: no cover - needs sustained contention

    def merge_upsert(
        self,
        spark: SparkSession,
        updates: DataFrame,
        keys: list[str],
        branch: str = "main",
        stats_columns: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> Snapshot:
        """Copy-on-write MERGE (upsert by key): rows of ``updates`` replace
        same-key rows, new keys append — the idempotence primitive the
        ``>=`` cursor re-read needs (SURVEY §7: re-ingesting the boundary
        row must not duplicate it; the reference leaves this unhandled).

        Scale shape (Delta/Iceberg COW MERGE): the updates' per-key
        [min, max] bounds prune the base file list through the manifest
        stats, so only files that *can* hold a matching key are rewritten
        — one anti-join + union write of just those; untouched files
        carry over by reference. That keeps a batch to a handful of files
        only while its key bounds are narrow (key-ordered updates). A few
        old keys stretch the bounds over the whole table: on the
        ``cdc_merge_table`` perfbench workload (5% uniformly old keys)
        every delta rewrites 5/5 live files, 38.7 bytes written per input
        byte. Merge-on-read is ROADMAP direction 1. Concurrency is
        serializable-by-re-plan (:meth:`rewrite`).

        ``updates`` must be key-unique (dedup upstream — e.g.
        ``operators/dedup.exact_dedup``); both copies of a duplicated key
        would be written verbatim.
        """
        stats_cols = stats_columns or list(keys)
        bounds_row = updates.agg(*(
            f(k).alias(f"{m}_{k}") for k in keys
            for m, f in (("min", F.min), ("max", F.max))
        )).first()
        where = [
            clause
            for k in keys
            if bounds_row[f"min_{k}"] is not None
            for clause in ((k, ">=", _json_safe(bounds_row[f"min_{k}"])),
                           (k, "<=", _json_safe(bounds_row[f"max_{k}"])))
        ]

        def plan(base: Snapshot) -> Rewrite:
            affected = self.matching_files(base, where)
            out = updates
            if affected:
                # the union allows missing columns on either side, so an
                # updates batch that adds or drops a column evolves the
                # table in the same commit — old rows project NULL for
                # new columns
                kept = self.scan(
                    spark, [f["path"] for f in affected], base.schema_json,
                ).join(updates.select(*keys).dropDuplicates(keys),
                       on=keys, how="left_anti")
                out = kept.unionByName(updates, allowMissingColumns=True)
            return Rewrite(affected, out, stats_cols, out.schema.json(),
                           properties)

        return self.rewrite(plan, branch)

    def delete_where(
        self,
        spark: SparkSession,
        condition: str,
        branch: str = "main",
        stats_columns: list[str] | None = None,
        prune: list[tuple[str, str, Any]] | None = None,
    ) -> "Snapshot | None":
        """Row-level COW DELETE (the GDPR/right-to-erasure primitive):
        remove every row matching ``condition`` (a SQL boolean over the
        table's columns) in one atomic snapshot.

        Scale shape, two pruning layers before any rewrite: (1)
        ``prune`` triples cut the candidate list via manifest stats
        (pass the key bounds when you know them — an erasure by id
        range touches only files that can hold it); (2) one pass tags
        the matching rows of the candidates by ``input_file_name`` and
        only files actually CONTAINING a matching row are re-read and
        rewritten — candidates that merely overlapped the stats range
        carry by reference. Returns the new snapshot, or None when
        nothing matched (no empty commit). Concurrency: the
        :meth:`rewrite` re-plan loop, same as MERGE.
        """
        def plan(base: Snapshot) -> Rewrite | None:
            cands = self.matching_files(base, prune)
            if not cands:
                return None
            hit = {r._f for r in self.scan(
                spark, [f["path"] for f in cands], base.schema_json,
            ).withColumn("_f", F.input_file_name()).filter(condition)
                .select("_f").distinct().collect()}
            hits = [f for f in cands
                    if any(h.endswith(f["path"]) for h in hit)]
            if not hits:
                return None
            # SQL DELETE semantics: a row whose condition is NULL stays
            keep = self.scan(spark, [f["path"] for f in hits],
                             base.schema_json).filter(
                ~F.coalesce(F.expr(condition), F.lit(False)))
            return Rewrite(hits, keep, stats_columns,
                           properties={"last_operation": "delete"})

        return self.rewrite(plan, branch)

    def compact(
        self,
        spark: SparkSession,
        target_file_size_mb: int = 150,
        min_file_size_mb: float | None = None,
        branch: str = "main",
        stats_columns: list[str] | None = None,
    ) -> Snapshot | None:
        """Bin-pack small files into target-sized ones (Iceberg
        rewrite_data_files analog). Streaming/incremental appends leave a
        long tail of small files; at 100 TB the scan cost is dominated by
        per-file overhead, so compaction is routine table maintenance, not
        an optimization.

        Files smaller than ``min_file_size_mb`` (default: half the target)
        are rewritten together, under the snapshot's schema, into
        ``ceil(bytes/target)`` outputs; files already at size carry over
        by reference. Data is unchanged, so the commit is the same
        :meth:`rewrite` re-plan loop as MERGE — a concurrent append
        between plan and commit is never dropped. Returns None when fewer
        than two files qualify (nothing to gain)."""
        min_bytes = int((min_file_size_mb if min_file_size_mb is not None
                         else target_file_size_mb / 2) * 1024 * 1024)

        def plan(base: Snapshot) -> Rewrite | None:
            small = [f for f in base.files
                     if f.get("size_bytes", 0) < min_bytes]
            if len(small) < 2:
                return None
            total = sum(f.get("size_bytes", 0) for f in small)
            n_out = max(1, -(-total // (target_file_size_mb * 1024 * 1024)))
            return Rewrite(small, self.scan(
                spark, [f["path"] for f in small], base.schema_json,
            ).coalesce(int(n_out)), stats_columns)

        return self.rewrite(plan, branch)

    def vacuum(
        self,
        keep_history: int = 10,
        min_age_seconds: float = 24 * 3600.0,
        now: float | None = None,
    ) -> dict[str, int]:
        """Expire old snapshots and reclaim unreferenced data files
        (Iceberg expire_snapshots + remove_orphan_files in one pass).

        Live set = the newest ``keep_history`` manifests of every branch's
        parent chain (time travel keeps working that deep). Everything
        else goes, with an age guard: manifests/data files younger than
        ``min_age_seconds`` survive regardless, so an in-flight writer's
        published-but-unclaimed manifest or freshly staged files are never
        swept out from under it (Delta's retention-check semantics).
        Reclaims crash orphans too — stages written by a job that died
        before commit. Returns counts {manifests, data_files}."""
        ts = now if now is not None else __import__("time").time()
        keep_history = max(1, keep_history)  # never expire a branch head
        keep_versions: set[int] = set()
        branches = [b for b in os.listdir(self._refs)
                    if not b.startswith(".")]
        for b in branches:
            chain = self.history(b)  # newest first
            keep_versions.update(chain[:keep_history])
        live_paths = {f["path"] for v in keep_versions
                      for f in self.snapshot(v).files}

        # r14: BEFORE any manifest disappears, pin the version
        # high-water mark past every allocated number — _next_version
        # re-using an expired number splices stale claim files / parent
        # pointers into the live chain (ref-walk and history cycles;
        # every reader of the table then hangs)
        all_versions = [int(n.split(".")[0].lstrip("v"))
                        for n in os.listdir(self._meta)
                        if n.endswith(".json")]
        if all_versions:
            self._bump_hint_file(max(all_versions) + 1)

        dropped_manifests = 0
        for name in os.listdir(self._meta):
            if not name.endswith(".json"):
                continue
            v = int(name.split(".")[0].lstrip("v"))
            full = os.path.join(self._meta, name)
            if v in keep_versions:
                continue
            if ts - os.path.getmtime(full) < min_age_seconds:
                continue
            os.remove(full)
            dropped_manifests += 1

        # expired claim files: each records base→next for a version edge
        # whose base manifest is now gone — dead weight in refs/ (and,
        # pre-hint-file, the cycle fuel). Same age guard as manifests so
        # an in-flight writer's fresh claim is never swept.
        for name in os.listdir(self._refs):
            if not (name.startswith(".") and name.endswith(".next")):
                continue
            try:
                base_v = int(name.split(".")[-2])
            except ValueError:  # pragma: no cover - foreign file
                continue
            full = os.path.join(self._refs, name)
            if base_v in keep_versions:
                continue
            if ts - os.path.getmtime(full) < min_age_seconds:
                continue
            try:
                os.remove(full)
            except FileNotFoundError:  # pragma: no cover - racing vacuum
                pass

        dropped_files = 0
        data_dir = os.path.join(self.root, "data")
        if os.path.isdir(data_dir):
            for root, _dirs, files in os.walk(data_dir, topdown=False):
                for name in files:
                    full = os.path.join(root, name)
                    rel = os.path.relpath(full, self.root)
                    if rel in live_paths:
                        continue
                    if ts - os.path.getmtime(full) < min_age_seconds:
                        continue
                    os.remove(full)
                    dropped_files += 1
                try:
                    os.rmdir(root)
                except OSError:
                    pass
        return {"manifests": dropped_manifests, "data_files": dropped_files}

    def new_stage(self) -> str:
        """Reserve an unreferenced data dir (relative to root) for staging.
        Files written there are invisible until a manifest references them."""
        return f"data/{uuid.uuid4().hex}"

    def staged_files(self, stage: str,
                     stats_columns: list[str] | None = None
                     ) -> list[dict[str, Any]]:
        """Enumerate parquet files under a stage dir as ``add_files``
        entries (driver-side, once per commit — not on the read path).

        ``stats_columns`` records per-file min/max for those columns from
        the parquet footers (no data read — footer metadata only), the
        Iceberg manifest-stats analog that lets :meth:`read` skip files
        before Spark ever sees them. Stats cost is paid once at commit;
        at 100 TB the win is the scan that plans 200 files instead of
        200 000."""
        base = os.path.join(self.root, stage)
        staged = []
        for root, _dirs, files in os.walk(base):
            rel_root = os.path.relpath(root, self.root)
            for name in sorted(files):
                if name.endswith(".parquet"):
                    full = os.path.join(root, name)
                    import pyarrow.parquet as pq

                    md = pq.ParquetFile(full).metadata
                    entry: dict[str, Any] = {
                        "path": f"{rel_root}/{name}",
                        "size_bytes": os.path.getsize(full),
                        # row count from the same footer read: makes
                        # COUNT(*) a manifest_aggregate metadata-only
                        # answer at any table size
                        "num_rows": md.num_rows,
                    }
                    if stats_columns:
                        entry["stats"] = _footer_stats_md(
                            md, stats_columns)
                    staged.append(entry)
        return staged

    def _stage(self, df: DataFrame, stats_columns: list[str] | None
               ) -> list[dict[str, Any]]:
        """Write ``df`` as snappy parquet under a fresh stage dir and
        enumerate the written files as commit entries."""
        stage = self.new_stage()
        df.write.option("compression", "snappy").parquet(
            os.path.join(self.root, stage))
        return self.staged_files(stage, stats_columns)

    def write_append(
        self,
        df: DataFrame,
        branch: str = "main",
        properties: dict[str, str] | None = None,
        operation: str = "append",
        stats_columns: list[str] | None = None,
    ) -> Snapshot:
        """Stage ``df`` as parquet under an unreferenced uuid dir, then
        commit the written files. Crash between write and commit leaves
        invisible orphans only. ``operation="overwrite"`` replaces the
        table contents atomically (manifest swap, old files untouched);
        ``stats_columns`` records per-file min/max for pruned reads."""
        return self.add_files(
            self._stage(df, stats_columns), operation=operation,
            branch=branch, schema_json=df.schema.json(),
            properties=properties,
        )

    # -- reads --------------------------------------------------------------

    def history(self, branch: str = "main") -> list[int]:
        """Committed versions reachable from the branch head via parent
        pointers, newest first. Orphaned manifests (published by a writer
        that then lost the branch CAS) are excluded by construction — no
        parent pointer ever reaches them."""
        v: int | None = self._version(branch)
        out: list[int] = []
        while v is not None:
            try:
                parent = self.snapshot(v).parent
            except FileNotFoundError:
                break  # expired by vacuum: the chain ends at the horizon
            out.append(v)
            v = parent
        return out

    def matching_files(
        self,
        snap: Snapshot,
        where: list[tuple[str, str, Any]] | None,
    ) -> list[dict[str, Any]]:
        """Manifest-level file skipping (Iceberg's core scan-planning win):
        drop files whose recorded [min,max] ranges prove the conjunctive
        ``where`` (``[(col, op, value), ...]``) can't match. Driver-side
        over the manifest list only — at 100 TB this is what turns a
        200k-file table scan into the 200 files that can contain the key.
        Files without stats always survive (conservative)."""
        if not where:
            return snap.files
        return [f for f in snap.files
                if not file_excluded(f.get("stats"), where)]

    def manifest_aggregate(
        self,
        columns: list[str] | None = None,
        branch: str = "main",
        version: int | None = None,
    ) -> dict[str, Any]:
        """COUNT(*) / MIN / MAX answered from the MANIFEST alone — zero
        data I/O at any table size (Iceberg's metadata-aggregate
        pushdown): per-file row counts recorded at commit sum to the
        exact COUNT(*); per-file [min,max] stats fold to exact table
        MIN/MAX (file extremes are true row extremes). Conservative by
        construction: any file missing the needed metadata (pre-feature
        commits, stats not recorded for that column) makes the answer
        ``None`` — never a wrong number.

        Returns ``{"num_rows": int|None, "columns": {col: {"min":
        ..., "max": ...}}}`` with a column entry only when EVERY file
        carries its stats. At 100 TB this turns the classic
        ``SELECT count(*), max(ts) FROM t`` freshness probe into a
        driver-side manifest walk."""
        snap = self.snapshot(
            self._version(branch) if version is None else version)
        out: dict[str, Any] = {"num_rows": 0, "columns": {}}
        rows_ok = True
        col_acc: dict[str, dict[str, Any]] = {
            c: {"min": None, "max": None, "ok": True}
            for c in (columns or [])}
        for f in snap.files:
            n = f.get("num_rows")
            if n is None:
                rows_ok = False
            elif rows_ok:
                out["num_rows"] += int(n)
            for c, acc in col_acc.items():
                rng = (f.get("stats") or {}).get(c)
                if not rng or not acc["ok"]:
                    acc["ok"] = False
                    continue
                acc["min"] = (rng["min"] if acc["min"] is None
                              else min(acc["min"], rng["min"]))
                acc["max"] = (rng["max"] if acc["max"] is None
                              else max(acc["max"], rng["max"]))
        if not rows_ok:
            out["num_rows"] = None
        if not snap.files:
            out["num_rows"] = 0 if rows_ok else None
        for c, acc in col_acc.items():
            out["columns"][c] = (
                {"min": acc["min"], "max": acc["max"]}
                if (acc["ok"] and snap.files) else None)
        return out

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        branch: str = "main",
        where: list[tuple[str, str, Any]] | None = None,
    ) -> DataFrame:
        """Scan a snapshot (branch head by default) from its explicit file
        list — no directory listing anywhere in the plan. ``where`` prunes
        by manifest stats first (see :meth:`matching_files`); pass the same
        predicate to Spark afterwards for row-level filtering — stats
        pruning is file-granular, not row-exact.

        Time-travel reads (``version=N``) are validated against the
        branch's parent chain so an orphaned manifest from a lost CAS race
        can never be surfaced as if it were committed (one O(history)
        manifest walk, on this path only)."""
        if version is None:
            version = self._version(branch)
        elif version not in self.history(branch):
            raise LookupError(
                f"version {version} is not reachable from branch "
                f"{branch!r} — either it never existed or it is an "
                "orphaned manifest from a lost commit race"
            )
        snap = self.snapshot(version)
        return self.scan(
            spark, [f["path"] for f in self.matching_files(snap, where)],
            snap.schema_json)

    def scan(self, spark: SparkSession, paths: list[str],
             schema_json: str | None) -> DataFrame:
        """The one data-file scan: ``paths`` (relative to root) read under
        a snapshot's recorded schema, or an empty frame of that schema
        when there are no paths. :meth:`read`, :meth:`changes` and every
        :meth:`rewrite` plan scan through here.

        Schema evolution: the manifest's schema (recorded at commit time)
        is the read schema, so files written before an added column
        project it as NULL and files carrying since-dropped columns simply
        don't surface them — Iceberg's schema-on-manifest behavior
        without rewriting a byte. Each SNAPSHOT keeps its own schema, so
        a time-travel read returns the table as it was shaped then.
        Tables whose snapshots predate schema tracking
        (``schema_json=None``) fall back to file inference."""
        schema = (T.StructType.fromJson(json.loads(schema_json))
                  if schema_json else None)
        if not paths:
            return local_df(spark, [], schema or T.StructType([]))
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*[os.path.join(self.root, p) for p in paths])

    # -- metadata tables (Iceberg's `table.snapshots` / `table.files`) ------

    def snapshots_df(self, spark: SparkSession,
                     branch: str = "main") -> DataFrame:
        """The branch's commit history as a DataFrame — the Iceberg
        ``snapshots`` metadata-table analog: (version, parent, operation,
        n_files, size_bytes, properties_json), newest first by version.
        Driver-side over manifests only; never touches data files."""
        rows = []
        for v in self.history(branch):
            s = self.snapshot(v)
            rows.append((
                v, s.parent, s.operation, len(s.files),
                sum(int(f.get("size_bytes", 0)) for f in s.files),
                json.dumps(s.properties, sort_keys=True),
            ))
        return local_df(
            spark, rows,
            "version long, parent long, operation string, n_files long, "
            "size_bytes long, properties_json string",
        )

    def files_df(self, spark: SparkSession, branch: str = "main",
                 version: int | None = None) -> DataFrame:
        """A snapshot's file manifest as a DataFrame — the ``files``
        metadata-table analog: (path, size_bytes, stats_json). Feeds
        small-file analysis (what would compaction do?) and audit queries
        without any data-file I/O."""
        snap = self.snapshot(
            self._version(branch) if version is None else version)
        rows = [(f["path"], int(f.get("size_bytes", 0)),
                 json.dumps(f.get("stats"), sort_keys=True)
                 if f.get("stats") is not None else None)
                for f in snap.files]
        return local_df(
            spark, rows,
            "path string, size_bytes long, stats_json string")

    def publish_branch(
        self,
        from_branch: str,
        to_branch: str = "main",
        expected_base: int | None = None,
        properties: dict[str, str] | None = None,
    ) -> Snapshot:
        """Atomically make ``to_branch`` equal to ``from_branch``'s head —
        the PUBLISH step of write-audit-publish. Commits a new snapshot
        on the target referencing the source head's exact file list (no
        data movement; files are shared by reference, like an Iceberg
        fast-forward).

        Serializable against concurrent target writers: the commit is a
        precise :meth:`replace_files` against ``expected_base`` (default:
        the target head read here), so a commit landing on the target
        after the audit began raises :class:`CommitConflict` instead of
        being silently clobbered — re-run the audit against the new head.
        """
        src = self.snapshot(self._version(from_branch))
        base = self.snapshot(self._version(to_branch)
                             if expected_base is None else expected_base)
        return self.replace_files(
            [f["path"] for f in base.files],
            src.files,
            expected_base=base.version,
            branch=to_branch,
            schema_json=src.schema_json,
            properties={**src.properties,
                        **(properties or {}),
                        "published_from": f"{from_branch}@{src.version}"},
        )

    def changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int,
        branch: str = "main",
    ) -> DataFrame:
        """Row-level change feed between two committed snapshots — the
        Delta CDF / Iceberg ``changelog`` analog for copy-on-write
        commits, recovered from the manifests alone (no change files are
        ever written). Returns the data columns plus ``_change_type``
        (``'insert'`` / ``'delete'``); a COW MERGE surfaces an updated row
        as its ``delete`` preimage plus ``insert`` postimage.

        Scale shape: both snapshots' manifests are diffed driver-side
        (path sets), so only files ADDED or REMOVED between the versions
        are ever scanned — a 100 TB table whose incremental MERGE touched
        three files costs three files here, not a table scan. Unchanged
        rows that were rewritten into new files during the MERGE cancel
        in the ``EXCEPT ALL`` (one hash shuffle over the touched bytes
        only). Versions are validated against the branch's parent chain,
        so an orphaned manifest from a lost commit race can never be
        diffed as if committed.

        Reference parity: the reference has no change-feed at all — its
        Iceberg committer (`iceberg_committer.py`) appends snapshots but
        consumers must re-scan; this closes that gap Spark-first.
        """
        hist = self.history(branch)
        for v in (from_version, to_version):
            if v not in hist:
                raise LookupError(
                    f"version {v} is not reachable from branch "
                    f"{branch!r} — either it never existed or it is an "
                    "orphaned manifest from a lost commit race")
        if from_version > to_version:
            raise ValueError(
                f"from_version {from_version} is newer than to_version "
                f"{to_version}")
        a, b = self.snapshot(from_version), self.snapshot(to_version)
        paths_a = {f["path"] for f in a.files}
        paths_b = {f["path"] for f in b.files}
        removed = sorted(paths_a - paths_b)
        added = sorted(paths_b - paths_a)

        # both sides scan under the TO snapshot's schema (falling back to
        # the FROM side's), so a diff across a schema evolution stays
        # column-aligned for the EXCEPT ALL: preimages project added
        # columns as NULL, exactly how a head read shows those rows
        schema_json = b.schema_json or a.schema_json
        new_rows = self.scan(spark, added, schema_json)
        old_rows = self.scan(spark, removed, schema_json)
        inserts = new_rows.exceptAll(old_rows)
        deletes = old_rows.exceptAll(new_rows)
        return (inserts.withColumn("_change_type", F.lit("insert"))
                .unionByName(
                    deletes.withColumn("_change_type", F.lit("delete"))))

    def write_audit_publish(
        self,
        spark: SparkSession,
        df: DataFrame,
        expectations: list[dict],
        audit_branch: str | None = None,
        to_branch: str = "main",
        stats_columns: list[str] | None = None,
        publish_properties: dict[str, str] | None = None,
    ) -> tuple[bool, list, str]:
        """Write-Audit-Publish (the Iceberg/Netflix WAP pattern): stage
        the batch on an audit branch, run the SAME data-quality
        expectation engine the batch runner gates on
        (operators/quality.py) against the full post-append state, and
        only on pass atomically publish the audited state to the target
        branch. Consumers of ``to_branch`` can never observe a batch
        that failed its audit — the quarantine is a branch, not a copy.

        Returns ``(published, expectation_results, audit_branch)``. On
        failure the target is untouched and the audit branch keeps the
        evidence. A concurrent target commit during the audit raises
        :class:`CommitConflict` at publish (serializable; re-run the
        audit against the new head) rather than clobbering it.

        ``audit_branch`` defaults to a FRESH uuid-suffixed branch per
        attempt — branches are claim-chains keyed by (branch, base), so
        reusing one name across attempts from the same base would
        "repair" the reset ref forward onto the quarantined commit and
        audit the rejected rows again. Pass a name only if you manage
        that lifecycle yourself.

        Scale: the publish moves manifests only — data files are shared
        by reference — and the audit pays one expectations aggregate
        over the audited state.
        """
        from dativo_ingest_spark.operators import quality

        if audit_branch is None:
            audit_branch = f"audit-{uuid.uuid4().hex[:8]}"
        base_v = self._version(to_branch)
        self.create_branch(audit_branch, at_version=base_v)
        self.write_append(df, branch=audit_branch,
                          stats_columns=stats_columns)
        audited = self.read(spark, branch=audit_branch)
        results = quality.run_expectations(audited, expectations)
        if any(not r.passed for r in results):
            return False, results, audit_branch
        self.publish_branch(audit_branch, to_branch,
                            expected_base=base_v,
                            properties=publish_properties)
        return True, results, audit_branch

    def rewrite_zorder(
        self,
        spark: SparkSession,
        cols: dict[str, tuple[float, float]],
        n_files: int = 8,
        branch: str = "main",
    ) -> "Snapshot | None":
        """Rewrite the table clustered along the Z-curve of ``cols``
        (Iceberg's rewrite_data_files with a sort order): one
        range-repartition pass, committed through the same
        :meth:`rewrite` re-plan loop as compact/MERGE — a concurrent
        append landing between the read and the commit is never dropped.
        Per-file min/max land in the manifest for the curve columns PLUS
        every column the previous snapshot carried stats for (a
        partition-predicate read must not stop pruning because of a
        layout rewrite). Old files stay until vacuum. None when the table
        is empty."""
        from dativo_ingest_spark.operators import layout

        def plan(base: Snapshot) -> Rewrite | None:
            if not base.files:
                return None
            df = self.scan(spark, [f["path"] for f in base.files],
                           base.schema_json)
            # validate against the actual read schema (covers snapshots
            # committed without schema_json too) so the CLI maps a bad
            # column to exit 2 instead of an AnalysisException mid-rewrite
            missing = [c for c in cols if c not in df.columns]
            if missing:
                raise ValueError(
                    f"zorder columns not in table schema: {missing}")
            stats_cols = sorted(
                set(cols) | {k for f in base.files
                             for k in (f.get("stats") or {})})
            return Rewrite(base.files,
                           layout.zorder_by(df, cols, n_files).drop("_zkey"),
                           stats_cols)

        return self.rewrite(plan, branch)
