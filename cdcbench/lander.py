"""Tail lander: moves pre-rendered files into the stream's source
directory one at a time, each a fixed gap after the micro-batch that read
the previous file has committed, and records how late each move ran.

    python3 lander.py STAGE_DIR SOURCE_DIR COMMITS_DIR FIRST_BATCH GAP_S LOG

Files in STAGE_DIR are landed in name order.  File i (i > 0) is due
``GAP_S`` after ``COMMITS_DIR/<FIRST_BATCH + i - 1>`` appears, i.e. after
the query committed the batch that held file i-1; file 0 is due at once.
So every tail file is its own micro-batch however slow the engine runs.
The log is a JSON list of ``{"name", "due", "landed"}`` (epoch seconds).
A separate process keeps the schedule free of the benchmark process's
interpreter lock.
"""

import json
import os
import sys
import time

POLL_S = 0.002


def main(stage, src, commits, first_batch, gap, log, timeout=120.0):
    names = sorted(os.listdir(stage))
    out = []
    for i, name in enumerate(names):
        due = time.time()
        if i:
            marker = os.path.join(commits, str(first_batch + i - 1))
            give_up = time.time() + timeout
            while not os.path.exists(marker):
                if time.time() > give_up:
                    raise SystemExit(f"lander: batch {marker} never committed")
                time.sleep(POLL_S)
            due = time.time() + gap
            while time.time() < due:
                time.sleep(min(POLL_S, max(0.0, due - time.time())))
        os.rename(os.path.join(stage, name), os.path.join(src, name))
        out.append({"name": name, "due": due, "landed": time.time()})
    with open(log, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4]),
         float(sys.argv[5]), sys.argv[6])
