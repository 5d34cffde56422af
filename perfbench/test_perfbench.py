"""Tests of the benchmark's own helpers: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import filecmp
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import accounting  # noqa: E402
import hubgen  # noqa: E402


# -- the percentile rule -----------------------------------------------------

@pytest.mark.parametrize("n,want", [
    (0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (999, 90.0), (1000, 99.0), (9999, 99.0), (10_000, 99.9),
    (100_000, 99.99),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert accounting.tail_percentile(n) == want


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert accounting.percentile(xs, 50) == 3.0
    assert accounting.percentile(xs, 99) == pytest.approx(4.96)


def test_weighted_percentile_is_nearest_rank_over_counts():
    pairs = [(50, 10.0), (30, 20.0), (20, 30.0)]
    assert accounting.weighted_percentile(pairs, 50) == 10.0
    assert accounting.weighted_percentile(pairs, 51) == 20.0
    assert accounting.weighted_percentile(pairs, 99) == 30.0


# -- exactly-once accounting -------------------------------------------------

def _write_sink_file(path, rows):
    """A sink-hub file whose properties carry (src_pid, src_seq, sent_us)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    props = [[("src_pid", str(p)), ("src_seq", str(s)), ("sent_us", str(t))]
             for p, s, t in rows]
    pq.write_table(pa.table({
        "body": pa.array([b"x"] * len(rows), pa.binary()),
        "properties": pa.array(props, pa.map_(pa.string(), pa.string())),
    }), path)


def test_relay_accounting_on_hand_built_sink(tmp_path):
    import workloads

    # partition 0 sent seqNos 0..2, partition 1 sent 0..1; in the sink,
    # (0, 1) arrives twice and (1, 1) never arrives
    a = str(tmp_path / "partition=0" / "commit-e0.parquet")
    b = str(tmp_path / "partition=1" / "commit-e1.parquet")
    _write_sink_file(a, [(0, 0, 1_000_000), (0, 1, 1_000_000), (0, 2, 1_500_000)])
    _write_sink_file(b, [(0, 1, 1_000_000), (1, 0, 2_000_000)])
    rows = workloads._sink_rows({a: 3.0, b: 4.0})
    observed = [(p, s, (vis * 1e6 - sent) / 1000.0) for p, s, sent, vis in rows]
    attempted, failed, once = accounting.relay_accounting(observed, {0: 3, 1: 2})
    assert attempted == 5
    assert failed == 2  # one lost, one duplicated
    assert once == {(0, 0): 2000.0, (0, 2): 1500.0, (1, 0): 2000.0}


def test_relay_accounting_counts_events_never_sent():
    _, failed, once = accounting.relay_accounting(
        [(0, 0, 1.0), (0, 7, 1.0), (3, 0, 1.0)], {0: 1})
    assert failed == 2
    assert once == {(0, 0): 1.0}


def _off(d):
    return {"hub": {str(k): v for k, v in d.items()}}


def test_drain_accounting_accepts_a_contiguous_drain():
    batches = [(None, _off({0: 4, 1: 2}), 6), (_off({0: 4, 1: 2}), _off({0: 6, 1: 3}), 3)]
    assert accounting.drain_accounting(batches, {0: 6, 1: 3}) == (9, 0)


def test_drain_accounting_counts_gaps_overlaps_and_short_reads():
    exp = {0: 6}
    gap = [(None, _off({0: 2}), 2), (_off({0: 3}), _off({0: 6}), 3)]
    assert accounting.drain_accounting(gap, exp) == (6, 1)
    overlap = [(None, _off({0: 4}), 4), (_off({0: 2}), _off({0: 6}), 4)]
    assert accounting.drain_accounting(overlap, exp) == (6, 2)
    short = [(None, _off({0: 6}), 5)]
    assert accounting.drain_accounting(short, exp) == (6, 1)
    unfinished = [(None, _off({0: 5}), 5)]
    assert accounting.drain_accounting(unfinished, exp) == (6, 1)


# -- seeded inputs -----------------------------------------------------------

def _same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_backlog_is_byte_identical_for_a_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert hubgen.write_backlog(a, 7, 5_000) == hubgen.write_backlog(b, 7, 5_000)
    hubgen.write_backlog(c, 8, 5_000)
    assert _same_tree(a, b)
    assert not _same_tree(a, c)


def test_backlog_layout_is_skewed_dense_and_sorted(tmp_path):
    counts = hubgen.write_backlog(str(tmp_path), 3, 10_000)
    assert counts == {0: 4000, 1: 3000, 2: 2000, 3: 1000}
    for pid, n in counts.items():
        d = tmp_path / f"partition={pid}"
        files = sorted(os.listdir(d))
        assert len(files) == 32
        seqs = pa.concat_arrays([
            pq.read_table(d / f, columns=["sequenceNumber"]).column(0).combine_chunks()
            for f in files]).to_pylist()
        assert seqs == list(range(n))


def test_tick_appender_and_catalog_tables_are_byte_identical(tmp_path):
    for d in ("a", "b"):
        app = hubgen.TickAppender(str(tmp_path / d / "hub"), 5, 4)
        for k in range(3):
            app.append(10, hubgen.BASE_US + k * 100_000, 10)
        hubgen.write_catalog_tables(str(tmp_path / d / "sf"), 5, n_events=200,
                                    n_docs=20, n_vecs=20, n_orders=40)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))


# -- spans -------------------------------------------------------------------

def test_self_time_subtracts_the_union_of_children():
    import tracing

    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0},
            {"start": 9.0, "end": 12.0}]
    assert tracing.self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)
