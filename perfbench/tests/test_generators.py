"""The benchmark's inputs are a pure function of the seed."""

from __future__ import annotations

import gzip
import hashlib

from perfbench import fleet


def _digest(f: fleet.Fleet) -> str:
    h = hashlib.sha256(f.index_gz)
    for t in range(f.n_ticks):
        for batch in f.batches():
            h.update(f.dwml(t, batch))
        h.update(f.metar(t))
    h.update(repr(f.event_payload(0, fleet.BASE)).encode())
    return h.hexdigest()


def test_fleet_bytes_repeat_for_a_seed_and_differ_across_seeds():
    a, b, c = fleet.Fleet(7, 60, 3), fleet.Fleet(7, 60, 3), fleet.Fleet(8, 60, 3)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_fleet_documents_carry_the_edge_cases():
    f = fleet.Fleet(3, 60, 2)
    index = gzip.decompress(f.index_gz).decode()
    assert "<country>CA</country>" in index and "<state>GU</state>" in index
    assert "<latitude>n/a</latitude>" in index
    assert [len(b) for b in f.batches()] == [50, 10]  # two NDFD batches
    doc = f.dwml(1, f.batches()[0]).decode()
    assert "k-p12h-n15-1" in doc and "k-p3h-n57-2" in doc and "<value/>" in doc
    metar = f.metar(1).decode()
    assert metar.count("<METAR>") > metar.count("<temp_c>")  # some rows lack temp_c
    assert f.expected_counts(1)["forecasts"] == 60 * fleet.GRID_SLOTS


def test_carry_forward_model():
    raw = [None, 5, None, 7] + [None] * 11
    filled = fleet._carry(raw, step=4)
    assert filled[:4] == [None] * 4
    assert filled[4:12] == [5] * 8
    assert filled[12:16] == [7] * 4
    assert filled[-1] == 7

