"""Compute the driver's key order and write base_etl_spark/driver_order.py.

The driver hash-checks only the first WINDOW keys of queries() order per
round, so that prefix goes where the driver evidence is weakest: first
the declared RECHECK keys, then registry keys with no driver row (in
registration order), then every other key by the age of its latest
CORRECTNESS_r<N>.json row, oldest first, ties in that file's record order.

Usage: python tools/driver_order.py    # after each driver round
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "base_etl_spark", "driver_order.py")
WINDOW = 50  # keys the driver hash-checks per round

# Keys whose implementation changed after their latest driver row, so
# that row no longer proves the current code. Drop a key once a newer
# row exists.
RECHECK: list[str] = []

HEADER = '''"""Generated by tools/driver_order.py -- do not edit.

The keys the driver hash-checks next round, in queries() order.
"""

'''


def load_rounds() -> dict[int, list[str]]:
    """{round: keys in record order} from the committed CORRECTNESS files."""
    rounds = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as f:
                rounds[int(m.group(1))] = list(json.load(f))
    return rounds


def driver_order(
    rounds: dict[int, list[str]], keys: list[str], recheck: list[str] = RECHECK
) -> list[str]:
    """Every key in ``keys`` once: ``recheck``, never-checked, then oldest row first."""
    latest = {k: (rnd, pos) for rnd in sorted(rounds) for pos, k in enumerate(rounds[rnd])}
    rest = [k for k in keys if k not in recheck]
    never = [k for k in rest if k not in latest]
    checked = sorted((k for k in rest if k in latest), key=latest.__getitem__)
    return list(recheck) + never + checked


def compute() -> list[str]:
    from base_etl_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    return driver_order(load_rounds(), list(REGISTRY))[:WINDOW]


def main() -> int:
    body = "".join(f'    "{k}",\n' for k in compute())
    with open(OUT, "w") as f:
        f.write(f"{HEADER}DRIVER_PRIORITY: list[str] = [\n{body}]\n")
    print(f"wrote {os.path.relpath(OUT, REPO)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
