"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import fixture
import measure


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, beyond = measure.tail(xs)
    assert (value, beyond) == (90, 10)
    assert pct == pytest.approx(90.0)
    assert sum(x > value for x in xs) == 10


def test_tail_never_below_median():
    for n in (1, 2, 5, 13, 20, 21):
        xs = list(range(n))
        value, _, beyond = measure.tail(xs)
        assert value >= measure.median(xs)
        assert beyond == sum(x > value for x in xs)
    assert measure.tail([]) == (0.0, 0.0, 0)


def test_tail_moves_up_with_sample_count():
    assert measure.tail(range(1000))[1] == pytest.approx(99.0)
    assert measure.tail(range(30))[0] == 19


def _span(sid, start, end, parent=None):
    s = measure.Span(sid, f"s{sid}", start, parent, 0)
    s.end = end
    return s


def test_self_time_with_overlapping_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps child 1 on [3, 4]
        _span(3, 9.0, 12.0, parent=0),  # sticks out of the parent
        _span(4, 1.5, 2.0, parent=1),
    ]
    selfs = measure.self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 5.0 - 1.0)  # [1,6] and [9,10]
    assert selfs[1] == pytest.approx(3.0 - 0.5)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[3] == pytest.approx(3.0)


def test_covered_merges_intervals():
    assert measure.covered([(0, 1), (0.5, 2), (3, 4), (3.5, 3.6)]) == pytest.approx(3.0)
    assert measure.covered([]) == 0.0


def test_tracer_nests_and_tags_ops():
    tr = measure.Tracer()
    with tr.span("op:a") as a:
        with tr.span("child") as c:
            pass
    with tr.span("op:b") as b:
        pass
    assert c.parent == a.sid and c.op == a.sid == a.op
    assert b.parent is None and b.op == b.sid
    assert measure.innermost(tr.spans, c.start) is c


def _tiny_base(n: int = 1_000) -> pa.Table:
    """The events table at sf0.001 size, from the generator's own rules."""
    rng = np.random.default_rng(5)
    return pa.table(
        {
            "event_id": np.arange(n, dtype="int64"),
            "user_id": rng.integers(0, 1500, n),
            "event_type": fixture._choice(rng, fixture.EVENT_TYPES, n),
            "value": np.round(rng.exponential(100.0, n), 2),
        }
    )


def test_cdc_key_model_matches_duckdb_merge(tmp_path):
    base = _tiny_base()
    base_path = str(tmp_path / "events.parquet")
    pq.write_table(base, base_path)
    stream = fixture.CdcStream(seed=3, base=base, changes=60)
    os.makedirs(tmp_path / "in")
    for i in range(1, 9):
        resend = i % 3 == 2
        epoch = stream.next_epoch(resend=resend)
        # 48 new keys, 12 corrections, and 6 re-sent rows that feed nothing
        assert len(epoch.rows) == 60 + 6 * resend
        assert epoch.expect["insert"] >= 48
        assert epoch.expect["update"] + epoch.expect["delete"] <= 12
        fixture.write_epoch(epoch.rows, str(tmp_path / "in" / f"e{i:03d}.json"))
    # a whole earlier epoch sent again changes nothing and feeds nothing
    before = stream.snapshot()
    assert stream.apply(stream.history[2]) == {"insert": 0, "update": 0, "delete": 0}
    assert stream.snapshot() == before
    fixture.write_epoch(stream.history[2], str(tmp_path / "in" / "e999.json"))

    merged = fixture.duckdb_merge(base_path, str(tmp_path / "in" / "*.json"))
    assert merged == stream.snapshot()
    n, checksum = stream.live()
    assert n == len(merged)
    assert checksum == sum(
        fixture.row_crc(k, u, e, v, ver) for k, (u, e, v, ver) in merged.items()
    )
    lo, hi = 100, 299
    assert stream.live(lo, hi)[0] == sum(lo <= k <= hi for k in merged)


def test_inputs_depend_only_on_seed():
    a, b, c = fixture.make_tables(7), fixture.make_tables(7), fixture.make_tables(8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == fixture.SIZES
