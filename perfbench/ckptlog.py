"""Reader for a Structured Streaming checkpoint directory.

Three logs matter for latency:

- ``sources/0/<k>`` and ``sources/0/<k>.compact`` -- the file source's
  own log.  Each entry names one input file and the *source* batch
  ``k`` that first listed it.  Spark folds every 10th source batch into
  a ``.compact`` file holding all entries so far, and may delete the
  plain files it folded, so both kinds must be read.
- ``offsets/<N>`` -- the query's write-ahead log.  Its last line holds
  the file source offset ``{"logOffset": k}`` that epoch ``N`` read up
  to (epochs ``N`` read source batches ``(end[N-1], end[N]]``).
- ``commits/<N>`` -- written when epoch ``N`` is committed; its mtime is
  the commit time.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

_BATCH_FILE = re.compile(r"^(\d+)(\.compact)?$")


@dataclass(frozen=True)
class FileEntry:
    path: str
    source_batch: int


def _numbered(directory: str) -> list[tuple[int, bool, str]]:
    """(number, is_compact, path) for every log file, in number order."""
    if not os.path.isdir(directory):
        return []
    out = []
    for name in os.listdir(directory):
        m = _BATCH_FILE.match(name)
        if m:
            out.append((int(m.group(1)), m.group(2) is not None, os.path.join(directory, name)))
    return sorted(out)


def _json_lines(path: str) -> list[dict]:
    with open(path) as fh:
        lines = fh.read().splitlines()
    # first line is the log version ("v1")
    return [json.loads(line) for line in lines[1:] if line.strip()]


def read_source_files(checkpoint: str) -> list[FileEntry]:
    """Every file the source has listed, with the source batch that
    listed it.  Reads plain and ``.compact`` files alike; an entry seen
    in both is kept once."""
    seen: dict[str, int] = {}
    for _, _, path in _numbered(os.path.join(checkpoint, "sources", "0")):
        for entry in _json_lines(path):
            seen.setdefault(entry["path"], int(entry["batchId"]))
    return [FileEntry(p, b) for p, b in sorted(seen.items(), key=lambda kv: (kv[1], kv[0]))]


def read_offsets(checkpoint: str) -> dict[int, int]:
    """epoch -> the file source ``logOffset`` it read up to."""
    out = {}
    for epoch, compact, path in _numbered(os.path.join(checkpoint, "offsets")):
        if compact:
            continue
        entries = _json_lines(path)
        # line 1 after the version is the batch metadata; the source
        # offsets follow, one line per source
        if len(entries) >= 2 and "logOffset" in entries[1]:
            out[epoch] = int(entries[1]["logOffset"])
    return out


def read_commit_times(checkpoint: str) -> dict[int, float]:
    """epoch -> commit time (mtime of ``commits/<N>``, seconds since the
    epoch)."""
    return {
        epoch: os.stat(path).st_mtime
        for epoch, compact, path in _numbered(os.path.join(checkpoint, "commits"))
        if not compact
    }


def file_epochs(checkpoint: str) -> dict[str, int]:
    """file path -> the epoch that read it.  Epoch ``N`` reads the
    source batches after the previous epoch's offset, up to its own."""
    offsets = read_offsets(checkpoint)
    ends = sorted((end, epoch) for epoch, end in offsets.items())
    out = {}
    for entry in read_source_files(checkpoint):
        for end, epoch in ends:
            if entry.source_batch <= end:
                out[entry.path] = epoch
                break
    return out


def file_commit_times(checkpoint: str) -> dict[str, float]:
    """file name (basename) -> commit time of the epoch that read it.
    Files whose epoch has not committed yet are left out."""
    commits = read_commit_times(checkpoint)
    return {
        os.path.basename(path): commits[epoch]
        for path, epoch in file_epochs(checkpoint).items()
        if epoch in commits
    }
