"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import pyarrow as pa
import pytest

import run
import workloads
from spans import JobProfile, Span, covered, driver_seconds, self_seconds


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_generator_is_deterministic(tmp_path, name):
    wl = workloads.WORKLOADS[name]
    a = wl.generate(tmp_path / "a", 5)
    b = wl.generate(tmp_path / "b", 5)
    c = wl.generate(tmp_path / "c", 6)
    assert run.digest(tmp_path / "a") == run.digest(tmp_path / "b")
    assert run.digest(tmp_path / "a") != run.digest(tmp_path / "c")
    assert [(u.files, u.rows, u.bytes) for u in a] == \
        [(u.files, u.rows, u.bytes) for u in b]


def test_bulk_ground_truth_counts_malformed_rows(tmp_path):
    wl = workloads.BulkCsvBackfill()
    units = wl.generate(tmp_path, 1)
    assert len(units) == wl.drops
    for u in units:
        # ~1% of 9 typed cells per row: roughly 9% of rows are malformed
        assert 0.04 * u.rows < u.truth["malformed_rows"] < 0.15 * u.rows


def test_corpus_plants_duplicates_only_after_the_first_batch(tmp_path):
    units = workloads.CorpusDedupIngest().generate(tmp_path, 1)
    assert not units[0].truth["near"] and not units[0].truth["exact"]
    for u in units[1:]:
        assert len(u.truth["exact"]) == 5
        assert 0.1 * u.rows < len(u.truth["near"]) < 0.2 * u.rows


def _span(sid, start, end, parent=None, layer="runner", jobs=()):
    s = Span(sid, layer, "f", parent, f"g{sid}", start=start, end=end)
    s.job_spans = list(jobs)
    s.jobs = list(range(len(jobs)))
    return s


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (8, 12), (-4, -1)]) == 6


def test_self_and_driver_seconds_on_synthetic_spans():
    root = _span(0, 0.0, 10.0, jobs=[(9.0, 9.5)])
    a = _span(1, 1.0, 4.0, parent=0, layer="sources.csv_source",
              jobs=[(1.5, 2.0)])
    b = _span(2, 3.0, 8.0, parent=0, layer="sinks.parquet_sink",
              jobs=[(4.0, 6.0), (5.0, 7.0)])
    assert self_seconds(root, [a, b]) == pytest.approx(10 - 7)
    assert self_seconds(b, []) == pytest.approx(5)
    assert driver_seconds(b, b.job_spans) == pytest.approx(5 - 3)

    layers = JobProfile([root, a, b]).layers()
    assert layers["runner"]["self_s"] == pytest.approx(3)
    assert layers["runner"]["wall_s"] == pytest.approx(10)
    # job intervals of the span and its descendants: 0.5 + 3 + 0.5
    assert layers["runner"]["driver_s"] == pytest.approx(10 - 4)
    assert layers["runner"]["spark_jobs"] == 1
    assert layers["sinks.parquet_sink"]["driver_s"] == pytest.approx(2)
    assert layers["sources.csv_source"]["self_s"] == pytest.approx(3)


def test_nested_same_layer_spans_count_wall_time_once():
    outer = _span(0, 0.0, 4.0, layer="sinks.table_commit")
    inner = _span(1, 1.0, 3.0, parent=0, layer="sinks.table_commit")
    m = JobProfile([outer, inner]).layers()["sinks.table_commit"]
    assert m["wall_s"] == pytest.approx(4)
    assert m["self_s"] == pytest.approx(2 + 2)
    assert m["calls"] == 2


def _fold(tmp_path, n_units):
    wl = workloads.CdcMergeTable()
    units = wl.generate(tmp_path, 3)

    class _Round:
        inputs, done = tmp_path, n_units
    _Round.units = units
    return wl.expected(_Round)


def test_fold_check_accepts_the_fold_in_any_order(tmp_path):
    want = _fold(tmp_path, 3)
    shuffled = want.take(pa.array(list(range(want.num_rows))[::-1]))
    assert workloads.fold_matches(shuffled, want).ok


def test_fold_check_trips_on_a_dropped_row(tmp_path):
    want = _fold(tmp_path, 3)
    corrupted = want.slice(1)
    check = workloads.fold_matches(corrupted, want)
    assert not check.ok and "fold mismatch" in check.why


def test_fold_check_trips_on_a_duplicated_key(tmp_path):
    want = _fold(tmp_path, 3)
    corrupted = pa.concat_tables([want.slice(1), want.slice(0, 1)
                                  .set_column(9, "updated_at",
                                              want.slice(1, 1)
                                              .column("updated_at"))])
    assert not workloads.fold_matches(corrupted, want).ok


def test_fold_is_last_write_wins(tmp_path):
    want = _fold(tmp_path, 3)
    keys = want.column("o_orderkey").to_pylist()
    assert len(keys) == len(set(keys))
    assert want.num_rows > workloads.CdcMergeTable.initial_rows


def test_tail_uses_the_highest_percentile_with_ten_samples_above():
    assert run.tail([1.0] * 9 + [5.0]) == (1.0, 50)
    assert run.tail(list(range(1, 41)))[1] == 75
    assert run.tail(list(range(1, 101)))[1] == 90
    assert run.tail(list(range(1, 1001)))[1] == 99
