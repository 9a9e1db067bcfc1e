"""Open-loop load generator: releases pre-generated change files into the
engine's log directory on a fixed schedule that never waits for the engine.

Files go out in bursts of ``burst``: file i is due at
``t0 + (i // burst) * burst * period`` (wall clock), so the mean rate is one
file per ``period``. Each release is one ``os.rename`` from the staging
directory, so the engine never sees a partial file. The release log (due and
actual time per file) is written as JSON when all files are out.

    python3 perfbench/loadgen.py --stage DIR --log DIR --t0 EPOCH_S \\
        --period S --burst N --out release.json
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--period", type=float, required=True)
    ap.add_argument("--burst", type=int, default=1)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    names = sorted(os.listdir(a.stage))
    rows = []
    for i, name in enumerate(names):
        due = a.t0 + (i // a.burst) * a.burst * a.period
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(a.stage, name), os.path.join(a.log, name))
        rows.append({"name": name, "due": due, "released": time.time()})
    tmp = a.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rows, f)
    os.replace(tmp, a.out)


if __name__ == "__main__":
    main()
