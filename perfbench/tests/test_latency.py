"""Chunk -> micro-batch mapping from the file-source log, and the statistics."""

import json
import os

import common
import stream


def _write_log(ck, batches, compact_every=3):
    """A file-source log in Spark's layout: ``<id>`` files, and ``<id>.compact``
    files that repeat every entry written so far."""
    log = os.path.join(ck, "sources", "0")
    os.makedirs(log)
    seen = []
    for bid, files in enumerate(batches):
        entries = [{"path": f"file:///w/{f}", "timestamp": 1, "batchId": bid} for f in files]
        seen += entries
        compact = (bid + 1) % compact_every == 0
        body = seen if compact else entries
        with open(os.path.join(log, f"{bid}.compact" if compact else str(bid)), "w") as f:
            f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in body))


def test_compact_files_do_not_repeat_chunks(tmp_path):
    batches = [["c0", "c1"], ["c2"], ["c3", "c4"], ["c5"], [], ["c6"]]
    _write_log(str(tmp_path), batches)
    got = stream.file_batches(str(tmp_path))
    assert got == {f"c{i}": b for b, fs in enumerate(batches) for i in
                   [int(f[1:]) for f in fs]}
    assert len(got) == 7  # one sample per chunk, not one per log line


def test_chunk_done_times_takes_each_querys_own_batch(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _write_log(a, [["c0", "c1"], ["c2"]])
    _write_log(b, [["c0"], ["c1", "c2"]])
    finished = {"a": {0: 10.0, 1: 11.0}, "b": {0: 10.5}}  # b's batch 1 never returned
    done = stream.chunk_done_times({"a": a, "b": b}, finished, ["c0", "c1", "c2"])
    assert done == {"a": {"c0": 10.0, "c1": 10.0, "c2": 11.0}, "b": {"c0": 10.5}}


def test_backlog_counts_overlapping_chunks():
    assert stream.backlog_max([(0, 1), (0.5, 2), (1.5, 3), (4, 5)]) == 2
    assert stream.backlog_max([(0, 1), (1, 2)]) == 1


def test_tail_leaves_ten_samples_beyond():
    values = list(range(1, 101))
    value, pct = common.tail(values)
    assert value == 90 and sum(v > value for v in values) == 10 and pct == 90.0
    assert common.tail([3, 1, 2]) == (3, 100.0)
    assert common.tail(list(range(20))) == (19, 100.0)  # p45 would sit below the median


def test_late_share_moves_events_one_chunk_on():
    events = list(range(10_000))
    chunks = stream.chunk_events(events, 10, 1000, seed=3)
    assert sorted(x for c in chunks for x in c) == events
    late = sum(x // 1000 != i for i, c in enumerate(chunks) for x in c)
    assert 100 < late < 300  # about 2% of the first nine chunks
    assert all(x // 1000 in (i, i - 1) for i, c in enumerate(chunks) for x in c)
