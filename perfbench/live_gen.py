"""Open-loop commit generator for the ``cdc_live`` workload.

Lands the pre-built commit files of ``--src`` into the watched
directory ``--dst`` by atomic rename, file i at ``--t0 + i / --rate``
(epoch seconds). The schedule is fixed: a slow engine does not slow
the generator, so a stall shows as lateness of later commits. One
thread, no engine imports. On exit it writes one JSON line per file
(scheduled and actual landing time) to ``--log``.

    python3 perfbench/live_gen.py --src S --dst D --rate 5 --t0 T --log L
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--dst", required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()
    files = sorted(f for f in os.listdir(a.src) if f.endswith(".parquet"))
    log = []
    try:
        for i, name in enumerate(files):
            due = a.t0 + i / a.rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            dst = os.path.join(a.dst, name)
            os.rename(os.path.join(a.src, name), dst)
            landed = time.time()
            os.utime(dst, (landed, landed))
            log.append({"file": i, "due": due, "landed": landed})
    finally:
        with open(a.log + ".tmp", "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in log)
        os.replace(a.log + ".tmp", a.log)


if __name__ == "__main__":
    main()
