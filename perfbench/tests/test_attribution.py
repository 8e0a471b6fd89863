"""Tick → micro-batch latency attribution (live_tail)."""

from perfbench.live_tail import _offset, attribute, position


def _tick(k, due, file, end):
    return {"tick": k, "due": due, "file": file, "end": end, "events": 500}


def _batch(bid, file, pos, start, done):
    return {"batch_id": bid, "end": {"file": file, "pos": pos}, "start": start, "done": done}


def test_positions_order_by_file_number_then_offset():
    assert position("binlog.000002", 0) > position("binlog.000001", 10_000)
    # numeric, not lexicographic: the suffix widens past 999999
    assert position("binlog.1000000", 0) > position("binlog.999999", 5)


def test_ticks_map_to_first_covering_batch_across_rotation():
    ticks = [
        _tick(0, 10.00, "binlog.000001", 100),
        _tick(1, 10.05, "binlog.000001", 200),
        _tick(2, 10.10, "binlog.000002", 90),  # after the rotation
        _tick(3, 10.15, "binlog.000002", 180),
    ]
    batches = [
        _batch(0, "binlog.000001", 100, 10.01, 10.30),
        # ends exactly at the old file's end: covers tick 1 only
        _batch(1, "binlog.000001", 200, 10.31, 10.60),
        # spans the rotation into the new file
        _batch(2, "binlog.000002", 180, 10.61, 10.90),
    ]
    out = attribute(ticks, batches)
    assert [a["batch_id"] for a in out] == [0, 1, 2, 2]
    assert [round(a["latency_s"], 6) for a in out] == [0.30, 0.55, 0.80, 0.75]
    assert [round(a["wait_s"], 6) for a in out] == [0.01, 0.26, 0.51, 0.46]


def test_uncovered_ticks_are_unapplied():
    ticks = [_tick(0, 1.0, "binlog.000001", 50), _tick(1, 1.05, "binlog.000002", 10)]
    batches = [_batch(0, "binlog.000001", 50, 1.1, 1.2)]
    out = attribute(ticks, batches)
    assert out[0]["batch_id"] == 0
    assert out[1] == {"tick": 1, "batch_id": None, "latency_s": None, "wait_s": None}


def test_progress_offsets_parse_from_json_or_python_repr():
    assert _offset('{"file": "binlog.000001", "pos": 7}') == {"file": "binlog.000001", "pos": 7}
    assert _offset("{'file': 'binlog.000001', 'pos': 7}") == {"file": "binlog.000001", "pos": 7}
    assert _offset(None) is None
