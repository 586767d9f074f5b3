"""Registry re-certification staleness report (VERDICT r8 item 1's
metric, made a tool): for every registered query, the last round with
a green driver record, how many rounds ago that was, and whether the
row sits in the CURRENT first-50 window (i.e. will be re-certified
this round).

Reads CORRECTNESS_r*.json (the driver's own records) — no Spark.
Output: the max/mean staleness over the registry, the distribution by
last-green round, and the head of the next rotation queue (the rows a
future window should rotate in first: oldest last-green, not in the
current window).

Usage: python scripts/staleness.py [current_round]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def records() -> tuple[dict[str, int], int]:
    last_green: dict[str, int] = {}
    rounds = []
    for path in sorted(glob.glob(f"{REPO}/CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        rounds.append(rnd)
        data = json.load(open(path))
        qs = data.get("queries", data)
        if not isinstance(qs, dict):
            continue
        for name, rec in qs.items():
            ok = rec.get("match") or rec.get("ok") or (
                rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match")
            )
            if ok:
                last_green[name] = max(last_green.get(name, 0), rnd)
    return last_green, (max(rounds) if rounds else 0)


def main() -> None:
    sys.path.insert(0, REPO)
    src = open(f"{REPO}/__spark_entry__.py").read()
    m = re.search(r"_DRIVER_CHECK_ORDER = \[(.*?)\n\]", src, re.S)
    order = re.findall(r'"([^"]+)"', m.group(1))
    window = set(order[:50])

    last_green, latest = records()
    current = int(sys.argv[1]) if len(sys.argv) > 1 else latest + 1

    rows = []
    for name in order:
        lg = last_green.get(name)
        # a row in the current window gets a fresh record THIS round
        eff = current if name in window else lg
        rows.append((name, lg, eff, name in window))

    import __spark_entry__ as E

    oracled = set(E.oracle_sql())
    # rows-only queries never earn a HASH-green record by design (the
    # driver records a weaker rows-only check); exclude from the alarm
    never = [
        n for n, lg, _, inw in rows if lg is None and not inw and n in oracled
    ]
    rows_only_unchecked = [
        n for n, lg, _, inw in rows if lg is None and n not in oracled
    ]
    stale = sorted(
        ((current - eff, n, lg) for n, lg, eff, inw in rows if eff is not None),
        reverse=True,
    )
    by_round: dict[int, int] = {}
    for _, _, eff, inw in rows:
        if eff is not None:
            by_round[eff] = by_round.get(eff, 0) + 1

    print(f"registry: {len(order)} ordered rows; window covers {len(window)}")
    print(f"projected last-green distribution after r{current}:")
    for r in sorted(by_round):
        print(f"  r{r}: {by_round[r]}")
    if never:
        print(f"NEVER-GREEN ORACLED rows outside the window ({len(never)}): {never}")
    if rows_only_unchecked:
        print(
            f"rows-only (no hash record by design, {len(rows_only_unchecked)}):"
            f" {rows_only_unchecked}"
        )
    if stale:
        worst = stale[0]
        print(
            f"projected staleness after r{current}: max={worst[0]}"
            f" (e.g. {worst[1]}, last green r{worst[2]})"
        )
    else:
        print("projected staleness: no correctness records found")
    print("next rotation queue (oldest last-green, not in current window):")
    for age, name, lg in [s for s in stale if s[1] not in window][:25]:
        print(f"  {name}: last green r{lg} ({age} rounds)")


if __name__ == "__main__":
    main()
