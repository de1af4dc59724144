"""Open-loop feed generator for the live-tail workload, run as its own
process so it shares nothing with the engine under test.

Event ``i`` of the live changelog is due at ``start + i / rate``. Every
``flush`` seconds the generator writes the events that fell due in that
slice as one decoded feed file, with each event's ``ts`` set to its due
time (its creation stamp), and publishes the file with a rename. The
schedule never waits for the engine. When the process is asked to stop
(the stop file appears) or the events run out, it writes a JSON log of
every file's due and actual publish time, from which lateness is derived.

    python3 cdcbench/feedgen.py --events live.parquet --out DIR --rate 600 \
        --flush 0.5 --start EPOCH --stop-file PATH --log PATH
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pandas as pd


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--flush", type=float, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--stop-file", required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args(argv)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from inputs import write_feed_frame

    events = pd.read_parquet(a.events)
    n = len(events)
    os.makedirs(a.out, exist_ok=True)
    log = []
    j = 0
    while not os.path.exists(a.stop_file):
        due = a.start + (j + 1) * a.flush
        lo = int(np.ceil(j * a.flush * a.rate))
        hi = min(n, int(np.ceil((j + 1) * a.flush * a.rate)))
        if lo >= n:
            break
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        chunk = events.iloc[lo:hi].copy()
        due_s = a.start + np.arange(lo, hi, dtype=np.float64) / a.rate
        chunk["ts"] = pd.to_datetime(np.round(due_s * 1e6).astype("int64"), unit="us")
        name = f"feed-{j:06d}.parquet"
        tmp = os.path.join(a.out, "." + name)
        write_feed_frame(chunk, tmp)
        os.replace(tmp, os.path.join(a.out, name))
        log.append({"file": name, "first": lo, "n": hi - lo, "due": due,
                    "published": time.time()})
        j += 1
    with open(a.log + ".tmp", "w") as f:
        json.dump(log, f)
    os.replace(a.log + ".tmp", a.log)
    return 0


if __name__ == "__main__":
    sys.exit(main())
