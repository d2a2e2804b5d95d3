"""Generate the next round's DRIVER_WINDOW from driver evidence.

The rotation policy (plans/catalog.py, executable form
tests/test_rotation_policy.py) requires every round's committed window
to cover (a) queries never driver-checked, (b) queries whose driver
evidence would exceed MAX_AGE_ROUNDS at the upcoming round, then
(c) the stalest remainder as filler. Round 7 skipped the rotation by
hand-editing oversight; this tool makes it mechanical: run it at
ROUND START, paste the emitted tuple over DRIVER_WINDOW, and re-run
`pytest tests/test_rotation_policy.py`.

Usage: python tools/rotate_window.py [window_size]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MAX_AGE_ROUNDS = 3  # keep in sync with tests/test_rotation_policy.py


def latest_green() -> tuple[dict[str, int], int]:
    latest: dict[str, int] = {}
    rounds = []
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        rounds.append(rnd)
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if (
                row.get("err") is None
                and row.get("rows_match")
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    # No evidence files at all (fresh checkout): every query is
    # "never checked" and the next round is 1 — not a ValueError from
    # max() on an empty list.
    return latest, (max(rounds) + 1) if rounds else 1


def main() -> int:
    size = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    from aws_weather_data_pipeline_spark.plans.catalog import build_catalog

    latest, next_round = latest_green()
    names = list(build_catalog().queries)

    never = [n for n in names if n not in latest]
    aged = sorted(
        (n for n in names if n in latest
         and next_round - latest[n] > MAX_AGE_ROUNDS),
        key=lambda n: (latest[n], n),
    )
    rest = sorted(
        (n for n in names if n in latest
         and next_round - latest[n] <= MAX_AGE_ROUNDS),
        key=lambda n: (latest[n], n),
    )
    mandatory = never + aged
    window = (mandatory + rest)[:size]

    print(f"# next_round=r{next_round:02d}  catalog={len(names)}  "
          f"mandatory={len(mandatory)} (never={len(never)}, "
          f"aged={len(aged)})  free_slots={size - len(mandatory)}")
    if len(mandatory) > size:
        print(f"# WARNING: {len(mandatory) - size} mandatory queries "
              "do not fit — structural debt; they spill to the round "
              "after and the rotation test will stay red for them")
    print("DRIVER_WINDOW = (")
    for n in window:
        tag = ("NEVER CHECKED" if n in never
               else f"r{latest[n]:02d}")
        print(f'    "{n}",  # {tag}')
    print(")")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
