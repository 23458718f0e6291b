"""Checkpoint-log reader: plain and compacted source logs, offsets,
commit times."""

from __future__ import annotations

import json
import os

from perfbench import ckptlog


def _write(path: str, lines: list[dict], header: str = "v1") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write("\n".join([header] + [json.dumps(x) for x in lines]))


def _entry(name: str, batch: int) -> dict:
    return {"path": f"file:///in/{name}", "timestamp": 0, "batchId": batch}


def _offsets(ckpt: str, epoch: int, log_offset: int) -> None:
    _write(os.path.join(ckpt, "offsets", str(epoch)),
           [{"batchWatermarkMs": 0, "batchTimestampMs": 0, "conf": {}},
            {"logOffset": log_offset}])


def test_reads_compact_and_plain_source_files(tmp_path):
    ckpt = str(tmp_path)
    src = os.path.join(ckpt, "sources", "0")
    # batches 0..9 folded into 9.compact (their plain files deleted),
    # then plain files 10 and 11
    _write(os.path.join(src, "9.compact"), [_entry(f"f{b}.csv", b) for b in range(10)])
    _write(os.path.join(src, "10"), [_entry("f10.csv", 10)])
    _write(os.path.join(src, "11"), [_entry("f11a.csv", 11), _entry("f11b.csv", 11)])
    entries = ckptlog.read_source_files(ckpt)
    assert [e.source_batch for e in entries] == list(range(12)) + [11]
    assert {os.path.basename(e.path) for e in entries} == (
        {f"f{b}.csv" for b in range(11)} | {"f11a.csv", "f11b.csv"})


def test_entry_in_both_compact_and_plain_is_kept_once(tmp_path):
    ckpt = str(tmp_path)
    src = os.path.join(ckpt, "sources", "0")
    _write(os.path.join(src, "9"), [_entry("f9.csv", 9)])
    _write(os.path.join(src, "9.compact"), [_entry(f"f{b}.csv", b) for b in range(10)])
    assert len(ckptlog.read_source_files(ckpt)) == 10


def test_file_epochs_follow_offset_ranges(tmp_path):
    ckpt = str(tmp_path)
    src = os.path.join(ckpt, "sources", "0")
    _write(os.path.join(src, "0"), [_entry("a.csv", 0)])
    _write(os.path.join(src, "1"), [_entry("b.csv", 1), _entry("c.csv", 1)])
    _write(os.path.join(src, "2"), [_entry("d.csv", 2)])
    # epoch 0 reads source batch 0; epoch 1 is a no-data epoch (same
    # offset); epoch 2 reads batches 1 and 2
    _offsets(ckpt, 0, 0)
    _offsets(ckpt, 1, 0)
    _offsets(ckpt, 2, 2)
    got = {os.path.basename(p): e for p, e in ckptlog.file_epochs(ckpt).items()}
    assert got == {"a.csv": 0, "b.csv": 2, "c.csv": 2, "d.csv": 2}


def test_commit_times_are_mtimes_and_uncommitted_files_are_left_out(tmp_path):
    ckpt = str(tmp_path)
    src = os.path.join(ckpt, "sources", "0")
    _write(os.path.join(src, "0"), [_entry("a.csv", 0)])
    _write(os.path.join(src, "1"), [_entry("b.csv", 1)])
    _offsets(ckpt, 0, 0)
    _offsets(ckpt, 1, 1)
    commit = os.path.join(ckpt, "commits", "0")
    _write(commit, [{"nextBatchWatermarkMs": 0}])
    os.utime(commit, (1000.5, 1000.5))
    assert ckptlog.read_commit_times(ckpt) == {0: 1000.5}
    assert ckptlog.file_commit_times(ckpt) == {"a.csv": 1000.5}


def test_missing_checkpoint_reads_empty(tmp_path):
    ckpt = str(tmp_path / "nothing")
    assert ckptlog.read_source_files(ckpt) == []
    assert ckptlog.read_offsets(ckpt) == {}
    assert ckptlog.file_commit_times(ckpt) == {}
