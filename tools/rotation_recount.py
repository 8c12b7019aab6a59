"""Recount the driver-window rotation invariant from the
CORRECTNESS_r*.json history — the arithmetic that broke silently in
r8 and nearly again in r9 (both times a pre-draft dropped stale
queries that a by-hand recount missed; both verdicts demanded the
recount be done BY SCRIPT at round start; this is that script,
persisted instead of re-improvised each round).

For every registered query it reads the last round with a green
driver row from ``queries.last_green_rounds`` (the reader that also
orders the registry), then reports:

- the staleness distribution (how many queries last-green per round);
- the block that goes 3-rounds-stale NEXT round (rule-3 head — these
  MUST fill the next window's re-entry slots);
- any query >3 rounds stale at the CURRENT round (invariant
  VIOLATION — the r8 failure mode; exactly 3 rounds stale is the
  rule-3 must-re-enter block, not a violation — ROTATION.md);
- never-checked registrations (rule-1 head);
- how many free slots the next window has after rules 1 and 3 (the
  stalest remaining green queries fill them);
- the window itself, ``list(REGISTRY)[:WINDOW]``: the entries the
  driver hash-checks, for audit;
- a CEILING check (r11 verdict #2): the ≤3-round staleness invariant
  gives every registered query one slot per 3 consecutive rounds, so
  3 × 50 = 150 registered queries is the hard cap — past it the
  invariant is arithmetically unsatisfiable and the script FAILS
  before the violation can materialize. New registrations beyond the
  cap require RETIRING queries first (ROTATION.md RETIREMENT).

Usage:
    python tools/rotation_recount.py [CURRENT_ROUND]
CURRENT_ROUND defaults to the latest round with a green row + 1
(i.e. "we are building the window for the round whose driver check
has not landed yet").
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_retail_pipeline_spark.queries import (  # noqa: E402
    REGISTRY,
    WINDOW,
    last_green_rounds,
)

# 3-round staleness x 50 slots: the arithmetic registration ceiling
# (r11 verdict #2). rotation_recount FAILS past it — at CEILING+1 the
# invariant cannot be satisfied by any window schedule, so the error
# must fire at registration time, not two rounds later as a
# staleness violation.
CEILING = 3 * WINDOW


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # no error handling: a malformed history file must fail this check
    last_green = last_green_rounds(repo)
    latest = max(last_green.values(), default=0)
    current = int(sys.argv[1]) if len(sys.argv) > 1 else latest + 1

    registered = list(REGISTRY.keys())
    never = [q for q in registered if q not in last_green]
    dist: dict[int, list[str]] = {}
    for q in registered:
        if q in last_green:
            dist.setdefault(last_green[q], []).append(q)

    print(f"history: last green round r{latest}; registry {len(registered)}; "
          f"building window for r{current}")
    for rnd in sorted(dist):
        stale = current - rnd
        flag = ""
        if stale > 3:
            flag = "  <-- INVARIANT VIOLATION (already >3 stale)"
        elif stale == 3:
            flag = "  <-- rule-3 head: MUST re-enter this window"
        print(f"  last-green r{rnd}: {len(dist[rnd])} queries"
              f" ({stale} rounds stale at r{current}){flag}")
    if never:
        print(f"  never-checked (rule-1 head): {len(never)}: "
              + ", ".join(sorted(never)))

    owed = [q for rnd, qs in dist.items() if current - rnd >= 3 for q in qs]
    free = WINDOW - len(owed) - len(never)
    print(f"rule-3 owed this window: {len(owed)}; rule-1: {len(never)}; "
          f"free slots (stalest green fill them): {free}")
    if owed:
        print("owed list:", ", ".join(sorted(owed)))
    print(f"window (first {WINDOW} registry entries):", ", ".join(registered[:WINDOW]))
    if len(registered) > CEILING:
        print(f"CEILING EXCEEDED: {len(registered)} registered > "
              f"{CEILING} (= 3-round staleness x {WINDOW} slots); the "
              "invariant is arithmetically unsatisfiable — RETIRE "
              "queries per ROTATION.md RETIREMENT before registering "
              "more")
        sys.exit(1)
    if len(registered) == CEILING:
        print(f"AT CEILING ({CEILING}): every future window is exactly "
              "the owed block; registering anything requires a "
              "retirement first (ROTATION.md RETIREMENT)")
    violations = [
        q for rnd, qs in dist.items() if current - rnd > 3 for q in qs
    ]
    if violations:
        print("VIOLATIONS (must lead the window, invariant already broken):",
              ", ".join(sorted(violations)))
        sys.exit(1)


if __name__ == "__main__":
    main()
