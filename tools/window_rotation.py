"""Window-rotation planner: compute the next round's 50-slot driver
window from the recorded CORRECTNESS_r*.json history instead of
hand-picking it.

With 205 registry queries and a 50-slot per-round driver window (1
flagship + 49 rotating), full re-certification cadence is
ceil(204 / 49) = 5 rounds; each round's `_PRIORITY_ORDER`
should hold (a) the flagship, (b) every never-driver-checked query
(new this round — the freeze-then-build rule says they MUST take a
slot in the same commit that lands them), and (c) the stalest-
certified tail, oldest driver row first. This tool computes exactly
that and prints it as a ready-to-paste python list, so the rotation is
derived from the artifacts, not from memory.

Usage:
  python tools/window_rotation.py            # plan the next window
  python tools/window_rotation.py --stale 20 # just the 20 stalest
  python tools/window_rotation.py --check    # verify _PRIORITY_ORDER
                                             #   covers all never-checked
                                             #   AND the implied re-cert
                                             #   cadence is <= MAX_CADENCE
Exit status for --check: non-zero if a registry query has no driver
row AND no slot in the current window (a freeze-then-build violation),
OR if simulating the rotation forward shows any query would wait more
than MAX_CADENCE rounds between driver certificates (window
saturation: too many queries landed for the 50-slot window to keep
every certificate fresh — stop landing queries or widen the window).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

WINDOW = 50
# A registry query's driver certificate must be refreshed at least
# every MAX_CADENCE rounds under the rotation (r7 verdict ask #4).
# With 205 queries and 49 rotating slots the natural cadence is
# ceil(204 / 49) = 5 rounds, so the bound holds with no spare round;
# the margin is capacity() headroom (246 - 205 = 41 queries).
MAX_CADENCE = 5


def capacity() -> int:
    """Largest registry the rotation can keep fresh.

    The flagship holds one slot every round, so (WINDOW - 1) slots
    rotate.  Under the oldest-first policy a non-flagship query is
    re-certified every ceil((N - 1) / (WINDOW - 1)) rounds; the bound
    gap <= MAX_CADENCE therefore requires
    N <= (WINDOW - 1) * MAX_CADENCE + 1.  Past that the cadence bound
    is unsatisfiable NO MATTER how the window is chosen — the failure
    should be reported as saturation at landing time, not discovered
    later as mysterious per-query cadence violations (r11 verdict
    ask #5).
    """
    return (WINDOW - 1) * MAX_CADENCE + 1


def latest_green_round() -> dict[str, int]:
    """name -> newest round with a driver row (green or not: the driver
    writes a row per attempted query; a red row still counts as
    'checked' for rotation, and shows up loudly elsewhere)."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as fh:
            for name in json.load(fh):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def plan(registry_names: list[str], flagship: str) -> tuple[list[str], list[str]]:
    """-> (window, deferred): window = flagship + never-checked (in
    registry definition order) + stalest tail (oldest round first,
    name-alphabetical within a round for determinism); deferred = the
    certified-but-stale names that did not fit this round."""
    latest = latest_green_round()
    never = [n for n in registry_names if n != flagship and n not in latest]
    window = [flagship] + never
    stale = sorted(
        (n for n in registry_names if n in latest and n != flagship),
        key=lambda n: (latest[n], n),
    )
    free = WINDOW - len(window)
    if free < 0:
        raise SystemExit(
            f"{len(never)} never-checked queries exceed the window; "
            "land fewer queries per round"
        )
    return window + stale[:free], stale[free:]


def cadence_violations(
    registry_names: list[str],
    flagship: str,
    current_window: list[str],
    max_cadence: int = MAX_CADENCE,
) -> list[tuple[str, int]]:
    """Simulate the rotation forward and return [(query, gap)] for
    every query whose gap between consecutive driver certificates
    would exceed `max_cadence` rounds.

    Round R (the upcoming one) certifies `current_window` — the
    committed `_PRIORITY_ORDER`, not a fresh plan, because that is
    what the driver will actually run.  Rounds R+1.. are planned by
    `plan()` (oldest-first stale tail) assuming no new queries land.
    The simulation runs until every query has been re-certified at
    least once past round R, which the oldest-first policy guarantees
    within ceil(registry/window)+1 rounds.
    """
    latest = dict(latest_green_round())
    current = (max(latest.values()) if latest else 0) + 1
    gaps: dict[str, int] = {}
    pending = set(registry_names)
    window = list(current_window)
    rnd = current
    while pending and rnd <= current + len(registry_names) // (WINDOW - 1) + 2:
        for q in window:
            if q in latest:
                gaps[q] = max(gaps.get(q, 0), rnd - latest[q])
            latest[q] = rnd
            pending.discard(q)
        rnd += 1
        # Next round's window under plan()'s policy, computed from the
        # simulated `latest` rows (plan() itself reads the on-disk
        # artifacts, which don't include the simulated rounds).
        stale = sorted(
            (n for n in registry_names if n != flagship),
            key=lambda n: (latest.get(n, 0), n),
        )
        window = [flagship] + stale[: WINDOW - 1]
    return sorted(
        ((q, g) for q, g in gaps.items() if g > max_cadence),
        key=lambda t: -t[1],
    )


def main() -> int:
    from dog_data_pipeline_spark.queries import REGISTRY, _PRIORITY_ORDER

    names = list(REGISTRY)
    latest = latest_green_round()
    if "--stale" in sys.argv:
        n = int(sys.argv[sys.argv.index("--stale") + 1])
        stale = sorted(
            (q for q in names if q in latest), key=lambda q: (latest[q], q)
        )
        for q in stale[:n]:
            print(f"r{latest[q]}  {q}")
        return 0
    if "--check" in sys.argv:
        missing = [
            q for q in names if q not in latest and q not in _PRIORITY_ORDER
        ]
        for q in missing:
            print(f"NEVER-CHECKED and NOT IN WINDOW: {q}")
        slow = cadence_violations(names, "flagship_segment_stats", _PRIORITY_ORDER)
        for q, gap in slow:
            print(f"CADENCE EXCEEDED ({gap} > {MAX_CADENCE} rounds): {q}")
        cap = capacity()
        saturated = len(names) > cap
        if saturated:
            print(
                f"WINDOW SATURATED: registry has {len(names)} queries but a "
                f"{WINDOW}-slot window (1 flagship + {WINDOW - 1} rotating) "
                f"can keep at most {cap} fresh within {MAX_CADENCE} rounds — "
                "stop landing queries, widen WINDOW, or raise MAX_CADENCE."
            )
        print(f"registry={len(names)} window={len(_PRIORITY_ORDER)} "
              f"never-checked-outside-window={len(missing)} "
              f"cadence-violations={len(slow)} (bound {MAX_CADENCE}) "
              f"capacity={cap} headroom={cap - len(names)}")
        return 1 if missing or slow or saturated else 0

    window, deferred = plan(names, "flagship_segment_stats")
    print("_PRIORITY_ORDER = [")
    for q in window:
        tag = f"r{latest[q]}" if q in latest else "NEW"
        print(f'    "{q}",  # {tag}')
    print("]")
    if deferred:
        print(f"# deferred to next round ({len(deferred)}):")
        for q in deferred:
            print(f"#   r{latest[q]}  {q}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
