"""Open-loop log generator for the ``log_stream`` workload.

Runs as its own single-threaded process. It appends seeded JSONL log
lines to one file on a fixed schedule: ``count`` lines at ``rate`` lines
per second starting at the wall-clock time ``start``. Line ``i`` is due
at a time fixed in advance, and its ``ts`` field is stamped with that due
time, so a stall in the generator or in the pipeline shows as latency
rather than as a lower offered rate.

When done it writes a JSON report: the send lag of every scheduled line
(how late the generator ran) and the number of lines sent.

    python3 loadgen.py --path LOG --report OUT.json --seed N --rate R \\
        --count N --start EPOCH_S
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time
from datetime import datetime, timezone

LEVELS = ["DEBUG", "INFO", "WARN", "ERROR", "FATAL"]
LEVEL_WEIGHTS = [30, 40, 15, 10, 5]


def line(i: int, rng: random.Random, due: float, prefix: str = "e") -> str:
    """One log line; ``event`` is the unique id ``<prefix><i>``."""
    stamp = datetime.fromtimestamp(due, tz=timezone.utc)
    return json.dumps(
        {
            "event": f"{prefix}{i}",
            "level": rng.choices(LEVELS, LEVEL_WEIGHTS)[0],
            "user": f"u{rng.randrange(50)}",
            "ts": stamp.strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
        }
    ) + "\n"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--path", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--start", type=float, required=True)
    a = ap.parse_args()

    rng = random.Random(a.seed)
    dues = [a.start + i / a.rate for i in range(a.count)]
    steady = [line(i, rng, d) for i, d in enumerate(dues)]
    lag = []
    with open(a.path, "a", encoding="utf-8") as fh:
        i = 0
        while i < a.count:
            now = time.time()
            if dues[i] > now:
                time.sleep(min(dues[i] - now, 0.005))
                continue
            # write every line that is due by now in one append
            j = i
            while j < a.count and dues[j] <= now:
                j += 1
            fh.write("".join(steady[i:j]))
            fh.flush()
            sent = time.time()
            lag.extend(sent - dues[k] for k in range(i, j))
            i = j
    with open(a.report + ".tmp", "w") as fh:
        json.dump({"lag_s": lag, "sent": len(lag)}, fh)
    os.replace(a.report + ".tmp", a.report)


if __name__ == "__main__":
    main()
