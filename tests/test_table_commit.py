"""Transactional contract of sinks/table_commit.py: atomic visibility,
exactly-one-winner versioning, time travel, branches, crash orphans."""

import json
import os

import pytest

from dativo_ingest_spark.sinks.table_commit import (
    CommitConflict,
    FsTable,
    Snapshot,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "v")


def test_append_commits_are_versioned_and_cumulative(spark, tmp_path):
    t = FsTable.create(str(tmp_path / "t"))
    s1 = t.write_append(_df(spark, 0, 10))
    s2 = t.write_append(_df(spark, 10, 15))
    assert (s1.version, s2.version) == (1, 2)
    assert t.read(spark).count() == 15
    # time travel: v1 still sees only the first commit
    assert t.read(spark, version=1).count() == 10
    assert {r.v for r in t.read(spark, version=1).collect()} == set(range(10))


def test_empty_table_reads_with_schema(spark, tmp_path):
    t = FsTable.create(str(tmp_path / "t"))
    assert t.read(spark).count() == 0


def test_overwrite_replaces_file_set(spark, tmp_path):
    t = FsTable.create(str(tmp_path / "t"))
    t.write_append(_df(spark, 0, 10))
    df = _df(spark, 100, 103)
    stage = "data/manualstage"
    out = tmp_path / "t" / stage
    df.write.parquet(str(out))
    staged = [
        {"path": f"{stage}/{n}"} for n in sorted(os.listdir(out))
        if n.endswith(".parquet")
    ]
    t.add_files(staged, operation="overwrite", schema_json=df.schema.json())
    assert {r.v for r in t.read(spark).collect()} == {100, 101, 102}
    assert t.read(spark, version=1).count() == 10


def test_concurrent_commit_single_winner(spark, tmp_path):
    t = FsTable.create(str(tmp_path / "t"))
    t.write_append(_df(spark, 0, 5))
    # simulate a racing writer that publishes v2 between our read and publish
    racer = FsTable(str(tmp_path / "t"))
    racer._publish(
        type(racer.snapshot(1))(version=2, operation="append", files=[],
                                parent=1)
    )
    with pytest.raises(CommitConflict):
        t._publish(
            type(t.snapshot(1))(version=2, operation="append", files=[],
                                parent=1)
        )
    # add_files retries past the conflict onto v3
    racer._set_ref("main", 2)
    snap = t.add_files([], operation="append")
    assert snap.version == 3


def test_stale_base_never_drops_concurrent_commit(spark, tmp_path):
    """The lost-update race: B reads base v1, A commits f2, then B commits
    f3. B's CAS from the stale base must fail, and the retried commit must
    contain A's file — never silently drop it."""
    root = str(tmp_path / "t")
    t = FsTable.create(root)
    t.add_files([{"path": "data/x/f1.parquet"}])
    a, b = FsTable(root), FsTable(root)
    base_b = b.current_version()            # B reads base = 1
    a.add_files([{"path": "data/x/f2.parquet"}])   # A advances to f1+f2
    # B drives the raw sequence from its stale base: manifest publish
    # succeeds (numbers are global) but the branch CAS must reject it.
    stale = b.snapshot(base_b)
    cand = Snapshot(version=b._next_version(), parent=base_b,
                    operation="append",
                    files=stale.files + [{"path": "data/x/f3.parquet"}])
    b._publish(cand)
    assert not b._claim("main", base_b, cand.version)
    # the public path retries onto the new head and keeps everything
    snap = b.add_files([{"path": "data/x/f3.parquet"}])
    assert {f["path"] for f in snap.files} == {
        "data/x/f1.parquet", "data/x/f2.parquet", "data/x/f3.parquet"}
    assert t.current_version() == snap.version


def test_crash_between_claim_and_ref_update_loses_nothing(spark, tmp_path):
    """The claim chain is authoritative: a writer that died after claiming
    but before updating the ref cache still committed."""
    root = str(tmp_path / "t")
    t = FsTable.create(root)
    s1 = t.add_files([{"path": "data/x/f1.parquet"}])
    # simulate the crash: publish + claim, but no _set_ref
    w = FsTable(root)
    cand = Snapshot(version=w._next_version(), parent=s1.version,
                    operation="append",
                    files=s1.files + [{"path": "data/x/f2.parquet"}])
    w._publish(cand)
    assert w._claim("main", s1.version, cand.version)
    # a fresh reader follows the chain past the stale cache
    assert FsTable(root).current_version() == cand.version
    # and the next commit builds on the recovered head
    snap = FsTable(root).add_files([{"path": "data/x/f3.parquet"}])
    assert {f["path"] for f in snap.files} == {
        "data/x/f1.parquet", "data/x/f2.parquet", "data/x/f3.parquet"}


def test_crash_before_publish_leaves_table_unchanged(spark, tmp_path):
    t = FsTable.create(str(tmp_path / "t"))
    t.write_append(_df(spark, 0, 5))
    # a writer died after staging parquet but before commit
    _df(spark, 90, 99).write.parquet(str(tmp_path / "t" / "data" / "orphan"))
    assert t.read(spark).count() == 5
    assert t.current_version() == 1


def test_branches_pin_versions_independently(spark, tmp_path):
    t = FsTable.create(str(tmp_path / "t"))
    t.write_append(_df(spark, 0, 5))
    t.create_branch("audit")
    t.write_append(_df(spark, 5, 20))
    assert t.read(spark, branch="audit").count() == 5
    assert t.read(spark).count() == 20
    t.write_append(_df(spark, 90, 91), branch="audit")
    assert t.read(spark, branch="audit").count() == 6
    assert t.read(spark).count() == 20


def test_properties_merge_through_commits(spark, tmp_path):
    t = FsTable.create(str(tmp_path / "t"), properties={"owner": "data-eng"})
    t.write_append(_df(spark, 0, 3), properties={"classification": "internal"})
    snap = t.snapshot(t.current_version())
    assert snap.properties == {"owner": "data-eng",
                               "classification": "internal"}
    manifest = json.load(open(os.path.join(t._meta, "v1.json")))
    assert manifest["parent"] == 0


def test_orphan_manifest_not_time_travelable(spark, tmp_path):
    """A manifest published by a writer that then lost the branch CAS is an
    orphan: history() never lists it and read(version=orphan) refuses."""
    root = str(tmp_path / "t")
    t = FsTable.create(root)
    t.add_files([{"path": "data/x/f1.parquet"}])
    b = FsTable(root)
    base_b = b.current_version()
    t.add_files([{"path": "data/x/f2.parquet"}])       # branch advances
    stale = b.snapshot(base_b)
    orphan = Snapshot(version=b._next_version(), parent=base_b,
                      operation="append",
                      files=stale.files + [{"path": "data/x/f3.parquet"}])
    b._publish(orphan)
    assert not b._claim("main", base_b, orphan.version)
    retried = b.add_files([{"path": "data/x/f3.parquet"}])
    hist = t.history()
    assert orphan.version not in hist
    assert retried.version in hist and hist == sorted(hist, reverse=True)
    with pytest.raises(LookupError):
        t.read(spark, version=orphan.version)
    # committed ancestors remain readable
    assert t.read(spark, version=0).count() == 0


def test_version_allocation_skips_past_foreign_manifests(tmp_path):
    """_next_version probes forward from a hint; manifests created by other
    writers (fresh handles) are detected without a metadata listdir."""
    root = str(tmp_path / "t")
    t = FsTable.create(root)
    t.add_files([{"path": "a"}])
    other = FsTable(root)            # fresh handle, hint = 0
    s = other.add_files([{"path": "b"}])
    assert s.version == 2
    assert t.add_files([{"path": "c"}]).version == 3


def test_manifest_stats_recorded_and_pruned(spark, tmp_path):
    """Iceberg-style scan planning: per-file min/max from parquet footers
    at commit; reads with a predicate plan only the files whose range can
    match — checked at the manifest level AND in the resulting frame."""
    t = FsTable.create(str(tmp_path / "t"))
    # three commits with disjoint id ranges → one file each, known stats
    for lo in (0, 1000, 2000):
        t.write_append(_df(spark, lo, lo + 100).coalesce(1),
                       stats_columns=["v"])
    snap = t.snapshot(t.current_version())
    assert len(snap.files) == 3
    assert all("stats" in f and "v" in f["stats"] for f in snap.files)

    kept = t.matching_files(snap, [("v", ">=", 2000)])
    assert [f["stats"]["v"] for f in kept] == [{"min": 2000, "max": 2099}]

    df = t.read(spark, where=[("v", ">=", 2000)])
    assert df.count() == 100 and df.agg({"v": "min"}).first()[0] == 2000

    # equality point lookup prunes to one file's range
    assert len(t.matching_files(snap, [("v", "==", 1050)])) == 1
    # a predicate matching nothing reads an empty (schema-stable) frame
    assert t.read(spark, where=[("v", ">", 99999)]).count() == 0


def test_stats_pruning_is_conservative(spark, tmp_path):
    """Files without stats (older commits, unstated columns) always
    survive pruning; operators behave per range semantics."""
    t = FsTable.create(str(tmp_path / "t"))
    t.write_append(_df(spark, 0, 10).coalesce(1))          # no stats
    t.write_append(_df(spark, 50, 60).coalesce(1), stats_columns=["v"])
    snap = t.snapshot(t.current_version())
    kept = t.matching_files(snap, [("v", ">=", 55)])
    # stats-less file kept; stats file kept because max >= 55
    assert len(kept) == len(snap.files)
    kept2 = t.matching_files(snap, [("v", ">", 59)])
    assert len(kept2) == len(snap.files) - 1  # stats file provably out
    from dativo_ingest_spark.sinks.table_commit import file_excluded
    st = {"v": {"min": 10, "max": 20}}
    assert file_excluded(st, [("v", "<", 10)])
    assert not file_excluded(st, [("v", "<=", 10)])
    assert file_excluded(st, [("v", ">", 20)])
    assert not file_excluded(st, [("v", ">=", 20)])
    assert not file_excluded(None, [("v", "==", 999)])


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    t = FsTable.create(str(tmp_path / "t"))
    t.write_append(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string"),
        stats_columns=["id"])
    snap = t.merge_upsert(
        spark,
        spark.createDataFrame([(2, "B"), (4, "d")], "id long, val string"),
        keys=["id"])
    assert snap.operation == "replace"
    got = {r.id: r.val for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}


def test_merge_upsert_is_idempotent(spark, tmp_path):
    # the >= cursor re-read: merging the same batch twice changes nothing
    t = FsTable.create(str(tmp_path / "t"))
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    t.merge_upsert(spark, batch, keys=["id"])
    before = sorted(map(tuple, t.read(spark).collect()))
    t.merge_upsert(spark, batch, keys=["id"])
    assert sorted(map(tuple, t.read(spark).collect())) == before


def test_merge_upsert_leaves_nonmatching_files_untouched(spark, tmp_path):
    t = FsTable.create(str(tmp_path / "t"))
    t.write_append(spark.createDataFrame(
        [(i, "old") for i in range(10)], "id long, val string"),
        stats_columns=["id"])
    t.write_append(spark.createDataFrame(
        [(i, "old") for i in range(100, 110)], "id long, val string"),
        stats_columns=["id"])
    low_files = {f["path"] for f in t.snapshot(
        t.current_version()).files if f["stats"]["id"]["max"] < 100}
    # updates touch only the high-id range: low files must carry over
    snap = t.merge_upsert(
        spark,
        spark.createDataFrame([(105, "new")], "id long, val string"),
        keys=["id"])
    kept = {f["path"] for f in snap.files}
    assert low_files <= kept
    got = {r.id: r.val for r in t.read(spark).collect()}
    assert got[105] == "new" and got[0] == "old" and len(got) == 20


@pytest.mark.parametrize("op", ["merge_upsert", "delete_where", "compact"])
def test_rewrite_replans_past_concurrent_append(spark, tmp_path, monkeypatch,
                                                op):
    t = FsTable.create(str(tmp_path / "t"))
    for row in ((1, "a"), (2, "b")):
        t.write_append(spark.createDataFrame(
            [row], "id long, val string").coalesce(1), stats_columns=["id"])

    # a writer appends between the rewrite's planning and its commit:
    # patch replace_files to inject the race exactly once
    orig = FsTable.replace_files
    calls = []

    def with_race(self, *args, **kwargs):
        if not calls:
            FsTable(self.root).write_append(spark.createDataFrame(
                [(50, "concurrent")], "id long, val string"),
                stats_columns=["id"])
        calls.append(kwargs["expected_base"])
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(FsTable, "replace_files", with_race)
    run, expected = {
        "merge_upsert": (lambda: t.merge_upsert(
            spark, spark.createDataFrame([(1, "A")], "id long, val string"),
            keys=["id"]), {1: "A", 2: "b", 50: "concurrent"}),
        "delete_where": (lambda: t.delete_where(spark, "id = 2"),
                         {1: "a", 50: "concurrent"}),
        "compact": (lambda: t.compact(spark),
                    {1: "a", 2: "b", 50: "concurrent"}),
    }[op]
    snap = run()
    # the first commit was refused and the op re-planned on the new head
    assert calls == [2, 3] and snap.parent == 3
    got = {r.id: r.val for r in t.read(spark).collect()}
    # the concurrent append survived AND the rewrite applied
    assert got == expected


def test_replace_files_refuses_stale_base(spark, tmp_path):
    t = FsTable.create(str(tmp_path / "t"))
    s1 = t.write_append(spark.createDataFrame([(1, "a")], "id long, val string"))
    t.write_append(spark.createDataFrame([(2, "b")], "id long, val string"))
    with pytest.raises(CommitConflict):
        t.replace_files([], [], expected_base=s1.version)


def test_compact_keeps_a_column_added_after_the_first_file(spark, tmp_path):
    """compact() rewrites under the snapshot's schema: rows of files
    written after a column was added keep that column's values."""
    t = FsTable.create(str(tmp_path / "t"))
    t.write_append(spark.createDataFrame(
        [(i,) for i in range(3)], "id long").coalesce(1))
    for lo in (10, 20):
        t.write_append(spark.createDataFrame(
            [(lo + i, f"x{lo + i}") for i in range(3)],
            "id long, extra string").coalesce(1))
    assert t.compact(spark) is not None
    got = {r.id: r.extra for r in t.read(spark).collect()}
    assert got == {0: None, 1: None, 2: None,
                   **{i: f"x{i}" for i in (10, 11, 12, 20, 21, 22)}}


def test_compact_binpacks_small_files(spark, tmp_path):
    t = FsTable.create(str(tmp_path / "t"))
    for i in range(4):  # four tiny appends -> four small files minimum
        t.write_append(spark.createDataFrame(
            [(i * 10 + j, "x") for j in range(5)], "id long, val string")
            .coalesce(1))
    before = t.snapshot(t.current_version()).files
    assert len(before) >= 4
    snap = t.compact(spark, target_file_size_mb=150)
    assert snap is not None and snap.operation == "replace"
    after = t.snapshot(t.current_version()).files
    assert len(after) < len(before)
    assert t.read(spark).count() == 20
    assert {r.id for r in t.read(spark).collect()} == \
        {i * 10 + j for i in range(4) for j in range(5)}
    # data unchanged -> compacting again finds nothing
    assert t.compact(spark, target_file_size_mb=150) is None


def test_vacuum_expires_history_and_reclaims_files(spark, tmp_path):
    import time as _time

    t = FsTable.create(str(tmp_path / "t"))
    for i in range(3):
        t.write_append(spark.createDataFrame(
            [(i, "v")], "id long, val string").coalesce(1))
    t.compact(spark, target_file_size_mb=150)
    head = t.current_version()
    all_files_before = {
        os.path.join(root, f)
        for root, _d, fs in os.walk(str(tmp_path / "t" / "data"))
        for f in fs}

    # age guard: a fresh table loses nothing
    res = t.vacuum(keep_history=1, min_age_seconds=3600)
    assert res == {"manifests": 0, "data_files": 0}

    # force-expire: everything is "old"
    res = t.vacuum(keep_history=1, min_age_seconds=0,
                   now=_time.time() + 10)
    assert res["manifests"] >= 3 and res["data_files"] >= 3
    # the head still reads perfectly
    assert t.current_version() == head
    assert t.read(spark).count() == 3
    # expired versions are no longer time-travelable
    with pytest.raises(LookupError):
        t.read(spark, version=1)
    # only live files remain on disk
    live = {os.path.join(str(tmp_path / "t"), f["path"])
            for f in t.snapshot(head).files}
    remaining = {
        os.path.join(root, f)
        for root, _d, fs in os.walk(str(tmp_path / "t" / "data"))
        for f in fs}
    assert remaining == live and remaining < all_files_before


def test_vacuum_never_recycles_version_numbers(spark, tmp_path):
    """r14 regression (found by the maintain-mode e2e): vacuum removed
    old manifests but left claim files, and a fresh-hinted writer then
    REUSED an expired version number — the stale ``.next`` claim at the
    reused number spliced the old chain into the new one and every
    ``current_version()`` walk cycled forever (the CLI hung). The
    persisted high-water mark must make post-vacuum version numbers
    strictly increase, from ANY writer instance."""
    import time as _time

    root = str(tmp_path / "t")
    t = FsTable.create(root)
    for i in range(3):
        t.write_append(spark.createDataFrame(
            [(i, "v")], "id long, val string").coalesce(1))
    head_before = t.current_version()
    t.vacuum(keep_history=1, min_age_seconds=0, now=_time.time() + 10)

    # a FRESH instance (version hint 0 — the CLI shape) appends next;
    # pre-fix it allocated the vacuumed v1 and corrupted the ref chain
    t2 = FsTable.create(root)
    snap = t2.write_append(spark.createDataFrame(
        [(99, "w")], "id long, val string").coalesce(1))
    assert snap.version > head_before  # never a recycled number
    # every reader path still terminates and reads the full content
    assert t2.current_version() == snap.version
    assert t2.history() == [snap.version, head_before]
    assert FsTable.create(root).read(spark).count() == 4
    # the expired claim files are gone; the live edge's claim survives
    claims = [n for n in os.listdir(os.path.join(root, "metadata",
                                                 "refs"))
              if n.endswith(".next")]
    assert claims == [f".main.{head_before}.next"]


def test_claim_chain_cycle_fails_loudly(tmp_path):
    """Defense in depth: a refs dir corrupted by the pre-r14 bug (or by
    hand) must raise, not hang every reader."""
    root = str(tmp_path / "t")
    t = FsTable.create(root)
    refs = os.path.join(root, "metadata", "refs")
    for base, nxt in ((0, 1), (1, 0)):
        with open(os.path.join(refs, f".main.{base}.next"), "w") as fh:
            fh.write(str(nxt))
    with pytest.raises(RuntimeError, match="cycle"):
        t.current_version()


def test_vacuum_reclaims_crash_orphan_stages(spark, tmp_path):
    import time as _time

    t = FsTable.create(str(tmp_path / "t"))
    t.write_append(spark.createDataFrame([(1, "a")], "id long, val string"))
    # a job that died after staging, before commit
    stage = t.new_stage()
    os.makedirs(os.path.join(str(tmp_path / "t"), stage))
    orphan = os.path.join(str(tmp_path / "t"), stage, "part-0.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"dead")
    res = t.vacuum(keep_history=10, min_age_seconds=0,
                   now=_time.time() + 10)
    # the orphan goes (plus committer droppings like _SUCCESS/.crc, which
    # no manifest references either); the committed data survives
    assert res["data_files"] >= 1
    assert not os.path.exists(orphan)
    assert t.read(spark).count() == 1


class TestChanges:
    """Row-level change feed between snapshots (changes()): COW MERGE
    yields delete preimage + insert postimage, rewritten-but-unchanged
    rows cancel, and only files touched between the versions are read."""

    def _kv(self, spark, rows):
        return spark.createDataFrame(rows, "k long, val string")

    def test_append_is_insert_only(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(self._kv(spark, [(1, "a"), (2, "b")]))
        v1 = t.current_version()
        t.write_append(self._kv(spark, [(3, "c")]))
        got = [(r.k, r.val, r._change_type)
               for r in t.changes(spark, v1, t.current_version()).collect()]
        assert got == [(3, "c", "insert")]

    def test_merge_emits_pre_and_postimage_and_cancels_unchanged(
            self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "t"))
        # one file holding BOTH an updated and an untouched row: the COW
        # rewrite copies the untouched row into a new file; it must not
        # surface as a change
        t.write_append(self._kv(spark, [(1, "old"), (2, "keep")])
                       .coalesce(1), stats_columns=["k"])
        v1 = t.current_version()
        t.merge_upsert(spark, self._kv(spark, [(1, "new"), (9, "ins")]),
                       keys=["k"], stats_columns=["k"])
        got = sorted((r.k, r.val, r._change_type) for r in
                     t.changes(spark, v1, t.current_version()).collect())
        assert got == [(1, "new", "insert"), (1, "old", "delete"),
                       (9, "ins", "insert")]

    def test_reads_only_touched_files(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "t"))
        # two disjoint-key files; the merge's stats pruning rewrites only
        # the low-key file, so the diff must scan only that file pair
        t.write_append(self._kv(spark, [(1, "a")]).coalesce(1),
                       stats_columns=["k"])
        t.write_append(self._kv(spark, [(100, "z")]).coalesce(1),
                       stats_columns=["k"])
        v1 = t.current_version()
        t.merge_upsert(spark, self._kv(spark, [(1, "a2")]), keys=["k"],
                       stats_columns=["k"])
        ch = t.changes(spark, v1, t.current_version())
        scanned = set(ch.inputFiles())
        untouched = [f["path"] for f in t.snapshot(v1).files
                     if "100" in json.dumps(f.get("stats", {}))]
        assert untouched, "expected the high-key file to carry stats"
        for p in untouched:
            assert not any(p in s for s in scanned), (
                "diff scanned a file untouched between the versions")
        got = sorted((r.k, r.val, r._change_type) for r in ch.collect())
        assert got == [(1, "a", "delete"), (1, "a2", "insert")]

    def test_same_version_diff_is_empty(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(self._kv(spark, [(1, "a")]))
        v = t.current_version()
        assert t.changes(spark, v, v).count() == 0

    def test_version_validation(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(self._kv(spark, [(1, "a")]))
        t.write_append(self._kv(spark, [(2, "b")]))
        v = t.current_version()
        with pytest.raises(LookupError):
            t.changes(spark, v, v + 17)
        with pytest.raises(ValueError):
            t.changes(spark, v, v - 1)


class TestSchemaEvolution:
    """Per-snapshot schema (Iceberg's schema-on-manifest): reads follow
    the snapshot's recorded schema, so adding a column never rewrites old
    files and time travel returns the shape the table had then."""

    def test_appended_column_projects_null_for_old_files(
            self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(spark.createDataFrame([(1, "a")],
                                             "k long, val string"))
        v1 = t.current_version()
        t.write_append(spark.createDataFrame(
            [(2, "b", 9.5)], "k long, val string, score double"))
        head = {r.k: (r.val, r.score) for r in t.read(spark).collect()}
        assert head == {1: ("a", None), 2: ("b", 9.5)}
        # time travel keeps the OLD shape
        old = t.read(spark, version=v1)
        assert old.columns == ["k", "val"]

    def test_merge_evolves_schema_in_one_commit(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, val string").coalesce(1),
            stats_columns=["k"])
        t.merge_upsert(spark, spark.createDataFrame(
            [(2, "b2", 7.0), (3, "c", 8.0)],
            "k long, val string, score double"),
            keys=["k"], stats_columns=["k"])
        got = {r.k: (r.val, r.score) for r in t.read(spark).collect()}
        assert got == {1: ("a", None), 2: ("b2", 7.0), 3: ("c", 8.0)}

    def test_changes_across_evolution_aligns_on_target_schema(
            self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(spark.createDataFrame(
            [(1, "a")], "k long, val string").coalesce(1),
            stats_columns=["k"])
        v1 = t.current_version()
        t.merge_upsert(spark, spark.createDataFrame(
            [(1, "a2", 5.0)], "k long, val string, score double"),
            keys=["k"], stats_columns=["k"])
        got = sorted((r.k, r.val, r.score, r._change_type) for r in
                     t.changes(spark, v1, t.current_version()).collect())
        # the preimage surfaces under the TO schema: score is NULL
        assert got == [(1, "a", None, "delete"), (1, "a2", 5.0, "insert")]


class TestWriteAuditPublish:
    """WAP: a batch failing its audit never reaches main; a passing one
    publishes atomically by reference; a concurrent main commit during
    the audit raises CommitConflict instead of being clobbered."""

    EXPS = [{"name": "v_positive", "type": "not_null", "column": "v"},
            {"name": "v_range", "type": "range", "column": "v",
             "min": 0, "max": 100}]

    def test_failing_audit_leaves_target_untouched(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(_df(spark, 0, 3))
        v_before = t.current_version()
        bad = spark.createDataFrame([(999,)], "v long")   # out of range
        ok, results, branch = t.write_audit_publish(spark, bad, self.EXPS)
        assert not ok and any(not r.passed for r in results)
        assert t.current_version() == v_before
        assert t.read(spark).count() == 3
        # evidence stays on the (uuid-fresh) audit branch
        assert t.read(spark, branch=branch).count() == 4

    def test_passing_audit_publishes_atomically(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(_df(spark, 0, 3))
        ok, _, branch = t.write_audit_publish(spark, _df(spark, 10, 13),
                                              self.EXPS)
        assert ok
        assert sorted(r.v for r in t.read(spark).collect()) == \
            [0, 1, 2, 10, 11, 12]
        head = t.snapshot(t.current_version())
        assert head.properties["published_from"].startswith(branch + "@")

    def test_concurrent_target_commit_conflicts(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(_df(spark, 0, 3))
        base_v = t.current_version()
        t.create_branch("audit", at_version=base_v)
        t.write_append(_df(spark, 10, 12), branch="audit")
        # a concurrent writer advances main mid-audit
        t.write_append(_df(spark, 50, 52))
        with pytest.raises(CommitConflict):
            t.publish_branch("audit", "main", expected_base=base_v)
        # main keeps the concurrent commit, untouched by the audit
        assert sorted(r.v for r in t.read(spark).collect()) == \
            [0, 1, 2, 50, 51]


class TestDeleteWhere:
    def test_deletes_rows_and_skips_unmatched_files(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, val string").coalesce(1),
            stats_columns=["k"])
        t.write_append(spark.createDataFrame(
            [(100, "z"), (101, "y")], "k long, val string").coalesce(1),
            stats_columns=["k"])
        before = {f["path"] for f in t.snapshot(t.current_version()).files}
        snap = t.delete_where(spark, "k = 2")
        assert snap is not None
        got = sorted((r.k, r.val) for r in t.read(spark).collect())
        assert got == [(1, "a"), (100, "z"), (101, "y")]
        # the high-key file contained no match: carried by reference
        after = {f["path"] for f in snap.files}
        assert len(before & after) == 1

    def test_stats_prune_narrows_candidates(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(spark.createDataFrame(
            [(i, "x") for i in range(10)], "k long, val string")
            .coalesce(1), stats_columns=["k"])
        t.write_append(spark.createDataFrame(
            [(i, "x") for i in range(100, 110)], "k long, val string")
            .coalesce(1), stats_columns=["k"])
        snap = t.delete_where(spark, "k >= 105", prune=[("k", ">=", 105)])
        assert t.read(spark).count() == 15
        assert snap is not None

    def test_no_match_is_noop(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(spark.createDataFrame(
            [(1, "a")], "k long, val string"))
        v = t.current_version()
        assert t.delete_where(spark, "k = 999") is None
        assert t.current_version() == v

    def test_rows_where_the_condition_is_null_are_kept(self, spark,
                                                       tmp_path):
        """SQL DELETE removes only rows whose condition is TRUE: a NULL
        in the rewritten file must not be dropped with the match."""
        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(spark.createDataFrame(
            [(1, "a"), (2, None), (3, "c")], "k long, val string")
            .coalesce(1))
        assert t.delete_where(spark, "val = 'c'") is not None
        got = sorted((r.k, r.val) for r in t.read(spark).collect())
        assert got == [(1, "a"), (2, None)]

    def test_delete_surfaces_in_change_feed(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "t"))
        t.write_append(spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, val string").coalesce(1),
            stats_columns=["k"])
        v1 = t.current_version()
        t.delete_where(spark, "k = 1")
        got = [(r.k, r.val, r._change_type) for r in
               t.changes(spark, v1, t.current_version()).collect()]
        assert got == [(1, "a", "delete")]


class TestRollback:
    def test_restores_content_history_moves_forward(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "rb"))
        t.write_append(_df(spark, 0, 10))
        good_v = t.current_version()
        t.write_append(_df(spark, 10, 25))       # the "bad" commit
        snap = t.rollback(good_v)
        # content is exactly the good version's
        assert sorted(r.v for r in t.read(spark).collect()) == list(range(10))
        # history moved FORWARD: rollback is a new head, not a ref rewind
        hist = t.history()
        assert snap.version == hist[0] and good_v in hist
        # the bad intermediate still time-travels until vacuumed
        bad_v = hist[1]
        assert t.read(spark, version=bad_v).count() == 25

    def test_unreachable_version_rejected(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "rb2"))
        t.write_append(_df(spark, 0, 5))
        with pytest.raises(LookupError):
            t.rollback(9999)

    def test_append_after_rollback_builds_on_rolled_state(
            self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "rb3"))
        t.write_append(_df(spark, 0, 5))
        v1 = t.current_version()
        t.write_append(_df(spark, 5, 9))
        t.rollback(v1)
        t.write_append(_df(spark, 100, 103))
        got = sorted(r.v for r in t.read(spark).collect())
        assert got == list(range(5)) + [100, 101, 102]

    def test_rollback_restores_schema(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = FsTable.create(str(tmp_path / "rb4"))
        t.write_append(_df(spark, 0, 3))
        v1 = t.current_version()
        t.write_append(_df(spark, 3, 6).withColumn("extra", F.lit(1)))
        assert "extra" in {f.name for f in t.read(spark).schema.fields}
        t.rollback(v1)
        assert [f.name for f in t.read(spark).schema.fields] == ["v"]


def test_schema_history_tracks_adds_drops_retypes(spark, tmp_path):
    from pyspark.sql import functions as F

    t = FsTable.create(str(tmp_path / "sh"))
    t.write_append(_df(spark, 0, 3))                            # {v}
    t.write_append(_df(spark, 3, 5).withColumn("x", F.lit(1)))  # +x
    # retype x (int -> string) and drop v, via a metadata-only commit
    retyped = (_df(spark, 0, 1).withColumn("x", F.lit("s"))
               .drop("v").schema.json())
    t.add_files([], operation="append", schema_json=retyped)
    hist = t.schema_history()
    assert hist[0]["added"] == ["v"]
    assert any(e["added"] == ["x"] for e in hist[1:])
    last = hist[-1]
    assert last["dropped"] == ["v"] and last["retyped"] == ["x"]


def test_schema_history_quiet_when_unchanged(spark, tmp_path):
    t = FsTable.create(str(tmp_path / "sh2"))
    t.write_append(_df(spark, 0, 3))
    t.write_append(_df(spark, 3, 6))
    t.write_append(_df(spark, 6, 9))
    hist = t.schema_history()
    assert len(hist) == 1  # only the initial schema entry


class TestForgetFingerprints:
    def test_erases_and_readmits(self, spark, tmp_path):
        from dativo_ingest_spark.operators import dedup

        t = FsTable.create(str(tmp_path / "fgt"))
        b1 = spark.createDataFrame(
            [(1, "secret doc"), (2, "keep doc")], ["doc_id", "text"])
        dedup.dedup_against_index(spark, b1, "doc_id", "text", t)
        # the content is now "known": a re-submit is dropped
        again = spark.createDataFrame([(9, "secret doc")],
                                      ["doc_id", "text"])
        kept, _, n_idx = dedup.dedup_against_index(
            spark, again, "doc_id", "text", t, commit=False)
        assert kept.count() == 0 and n_idx == 1
        # forget it -> the same content is re-admitted
        fp = dedup.index_entries(
            spark.createDataFrame([(0, "secret doc")],
                                  ["doc_id", "text"]), "text").first()[0]
        snap = dedup.forget_fingerprints(spark, t, [fp])
        assert snap is not None
        kept, _, n_idx = dedup.dedup_against_index(
            spark, again, "doc_id", "text", t, commit=False)
        assert kept.count() == 1 and n_idx == 0
        # the unrelated fingerprint survived
        assert t.read(spark).count() == 1

    def test_absent_fingerprints_no_empty_commit(self, spark, tmp_path):
        from dativo_ingest_spark.operators import dedup

        t = FsTable.create(str(tmp_path / "fgt2"))
        dedup.dedup_against_index(
            spark, spark.createDataFrame([(1, "a")], ["doc_id", "text"]),
            "doc_id", "text", t)
        head = t.current_version()
        assert dedup.forget_fingerprints(spark, t, ["0" * 32]) is None
        assert dedup.forget_fingerprints(spark, t, []) is None
        assert t.current_version() == head

    def test_validates_input(self, spark, tmp_path):
        from dativo_ingest_spark.operators import dedup

        t = FsTable.create(str(tmp_path / "fgt3"))
        with pytest.raises(ValueError):
            dedup.forget_fingerprints(spark, t, ["x'; DROP --"])
        with pytest.raises(ValueError):
            dedup.forget_fingerprints(
                spark, t, [f"{i:032x}" for i in range(10_001)])


class TestManifestAggregate:
    def test_count_min_max_metadata_only(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "ma"))
        t.write_append(_df(spark, 0, 100), stats_columns=["v"])
        t.write_append(_df(spark, 500, 650), stats_columns=["v"])
        agg = t.manifest_aggregate(["v"])
        assert agg["num_rows"] == 250
        assert agg["columns"]["v"] == {"min": 0, "max": 649}
        # cross-check against an actual data read
        row = t.read(spark).agg(
            {"v": "max"}).collect()[0]
        assert row[0] == 649

    def test_missing_stats_column_is_none_never_wrong(self, spark,
                                                      tmp_path):
        t = FsTable.create(str(tmp_path / "ma2"))
        t.write_append(_df(spark, 0, 10), stats_columns=["v"])
        t.write_append(_df(spark, 10, 20))    # no stats on this commit
        agg = t.manifest_aggregate(["v"])
        assert agg["num_rows"] == 20          # counts still complete
        assert agg["columns"]["v"] is None    # min/max conservative

    def test_pre_feature_files_disable_count(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "ma3"))
        t.write_append(_df(spark, 0, 10))
        t.add_files([{"path": "data/legacy.parquet"}])  # no num_rows
        assert t.manifest_aggregate()["num_rows"] is None

    def test_empty_table(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "ma4"))
        agg = t.manifest_aggregate(["v"])
        assert agg["num_rows"] == 0
        assert agg["columns"]["v"] is None

    def test_survives_delete_and_compact(self, spark, tmp_path):
        t = FsTable.create(str(tmp_path / "ma5"))
        t.write_append(_df(spark, 0, 100), stats_columns=["v"])
        t.delete_where(spark, "v >= 90")
        agg = t.manifest_aggregate()
        assert agg["num_rows"] == 90
        t.compact(spark, target_file_size_mb=128)
        assert t.manifest_aggregate()["num_rows"] == 90
