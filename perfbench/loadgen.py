"""Open-loop load generator, run as its own process.

    python3 perfbench/loadgen.py PLAN.json STAGE_DIR SRC_DIR T0 LOG.json

File ``i`` of the plan's open-loop phase holds the events due in
``[T0 + i*P, T0 + (i+1)*P)`` and lands in SRC_DIR at ``T0 + (i+1)*P`` by an
atomic rename from STAGE_DIR (the file was written there beforehand), so
the program never sees a partial file.  The schedule follows the wall
clock whatever the program does; when the generator itself falls behind,
it records how late each landing was."""

from __future__ import annotations

import json
import os
import sys
import time


def main(argv: list[str]) -> None:
    plan_path, stage, src, t0, log_path = argv
    t0 = float(t0)
    with open(plan_path) as fh:
        plan = json.load(fh)
    period = plan["period_s"]
    landed = []
    for i, f in enumerate(plan["phases"]["open"]):
        due = t0 + (i + 1) * period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(os.path.join(stage, f["name"]), os.path.join(src, f["name"]))
        now = time.time()
        landed.append({"due": due, "landed": now})
    with open(log_path + ".tmp", "w") as fh:
        json.dump(landed, fh)
    os.rename(log_path + ".tmp", log_path)


if __name__ == "__main__":
    main(sys.argv[1:])
