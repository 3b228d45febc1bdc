"""Open-loop load generator, run as its own process:

    python3 -m perfbench.generator PLAN.json REPORT.json

PLAN lists pre-rendered files with their due times (epoch seconds). The
generator sleeps until each file is due, stamps the due time as the file's
modification time, and renames it into the watched directory. It never
waits on the consumer, so a slow consumer builds a backlog instead of
slowing the load. REPORT records when each rename actually happened."""

from __future__ import annotations

import json
import os
import sys
import time


def run(plan: dict) -> list[float]:
    actual: list[float] = []
    for staged, target, due in plan["files"]:
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        actual.append(time.time())
        os.utime(staged, (due, due))
        os.replace(staged, target)
    return actual


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[1]) as fh:
        plan = json.load(fh)
    actual = run(plan)
    tmp = argv[2] + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"actual": actual}, fh)
    os.replace(tmp, argv[2])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
