"""Open-loop WAL publisher, run as its own single-threaded process.

Reads a plan of pre-generated bursts (one directory of chunk files each)
with due times and publishes each burst into the watched WAL directory
when it is due, whatever the consumer is doing. Every chunk gets its
planned mtime up front (the file stream source orders by mtime, so
mtimes increase strictly with the chunk index); at its due time the
burst directory is renamed into place, atomically on one filesystem, so
a listing sees all of a burst or none of it. Writes the actual publish
times so the caller can report how late the generator ran.

    python3 perfbench/trickle_gen.py PLAN.json RECORD.json
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(plan_path: str, record_path: str) -> int:
    with open(plan_path) as f:
        plan = json.load(f)
    for burst in plan["bursts"]:
        for name, mtime in burst["mtimes"].items():
            os.utime(os.path.join(burst["src"], name), (mtime, mtime))
    published = []
    for burst in plan["bursts"]:
        delay = burst["due"] - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(burst["src"], burst["dst"])
        published.append(time.time())
    tmp = record_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"published": published}, f)
    os.rename(tmp, record_path)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
