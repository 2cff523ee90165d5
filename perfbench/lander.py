"""Open-loop load generator for the serving workload.

Moves pre-generated request files from a staging directory into the request
zone on a fixed schedule (file ``i`` is due at ``start + i / rate``), however
far behind the engine is. Each move is an atomic rename, so the engine never
lists a half-written file. Writes a JSON log of (file, due, landed) epoch
seconds when done.

    python3 -m perfbench.lander STAGING ZONE RATE START LOG
"""

from __future__ import annotations

import json
import os
import sys
import time


def land(staging: str, zone: str, rate: float, start: float) -> list[dict]:
    log = []
    for i, name in enumerate(sorted(os.listdir(staging))):
        due = start + i / rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(staging, name), os.path.join(zone, name))
        log.append({"file": name, "due": due, "landed": time.time()})
    return log


def main(argv: list[str]) -> int:
    staging, zone, rate, start, log_path = argv
    log = land(staging, zone, float(rate), float(start))
    with open(log_path, "w", encoding="utf-8") as fh:
        json.dump(log, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
