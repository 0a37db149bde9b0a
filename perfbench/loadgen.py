"""Open-loop load generator, run as its own process.

Releases pre-staged record files into the stream's source directory on
a fixed schedule that does not slow when the engine slows, and logs each
release as one JSON line: file name, due time and actual release time
(epoch seconds).

    python3 perfbench/loadgen.py --staged DIR --source DIR --log FILE \
        --start EPOCH --interval SECONDS
"""

from __future__ import annotations

import argparse
import json
import os
import time
from pathlib import Path


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--staged", required=True)
    ap.add_argument("--source", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    args = ap.parse_args()
    staged = sorted(Path(args.staged).glob("*.parquet"))
    source = Path(args.source)
    with open(args.log, "w") as log:
        for i, f in enumerate(staged):
            due = args.start + i * args.interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            # rename is atomic: the file source never lists a partial file
            os.rename(f, source / f.name)
            log.write(json.dumps({"file": f.name, "due": due, "released": time.time()}) + "\n")
            log.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
