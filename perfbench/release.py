"""Open-loop file releaser, run as its own process.

Usage: python3 release.py SCHEDULE.json LOG.jsonl

SCHEDULE.json is ``{"t0": <unix time>, "items": [[offset_s, src, dst], ...]}``
sorted by offset.  Each ``src`` is moved to ``dst`` by one atomic
rename at ``t0 + offset_s``, whatever the pipeline is doing.  Each
release appends ``{"name", "due", "done"}`` to LOG.jsonl, so the caller
can see how late the releaser ran.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(schedule_path: str, log_path: str) -> int:
    with open(schedule_path) as fh:
        schedule = json.load(fh)
    t0 = float(schedule["t0"])
    with open(log_path, "w") as log:
        for offset, src, dst in schedule["items"]:
            due = t0 + float(offset)
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.replace(src, dst)
            done = time.time()
            log.write(json.dumps({"name": os.path.basename(dst), "due": due, "done": done}) + "\n")
            log.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1], sys.argv[2]))
