"""Pins how stream_ingest maps replay chunks to micro-batches.

Run with:  python -m pytest perfbench/tests -q
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.stream import _batch_end, _chunk_batches, _drain_rate  # noqa: E402


def _progress(batch, start, end, rows, ms, ts="2026-01-01T00:00:00.000Z"):
    return {
        "batchId": batch, "timestamp": ts, "numInputRows": rows,
        "durationMs": {"triggerExecution": ms},
        "sources": [{"startOffset": None if start is None else {"logOffset": start},
                     "endOffset": {"logOffset": end}}],
    }


def test_chunks_map_through_source_offsets_not_batch_ids(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    # the source log advances only with new files: offsets 0, 1, 2
    entries = {0: [0, 1], 1: [2, 3], 2: [4]}
    for off, chunks in entries.items():
        lines = ["v1"] + [json.dumps({"path": f"file:///r/chunk_{c:03d}.parquet", "batchId": off})
                          for c in chunks]
        (log / str(off)).write_text("\n".join(lines) + "\n")
    (log / ".0.crc").write_text("ignored")
    progress = [
        _progress(0, None, 0, 50, 1000),
        _progress(1, 0, 0, 0, 100),  # no-data batch: the ids drift apart
        _progress(2, 0, 1, 50, 900),
        _progress(3, 1, 2, 25, 800),
    ]
    got = _chunk_batches(str(tmp_path), progress)
    assert got == {0: 0, 1: 0, 2: 2, 3: 2, 4: 3}
    # capacity counts the batches that read a full two chunks, except
    # the first one that read any
    assert _drain_rate(progress, got, [0, 1, 2, 3, 4], 2) == 50 / 0.9


def test_batch_end_is_start_plus_trigger_time():
    p = _progress(0, None, 0, 1, 1500, ts="1970-01-01T00:00:10.250Z")
    assert _batch_end(p) == 11.75
