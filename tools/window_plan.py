"""Compose the driver-window pin and project the next round's window.

The grading driver checks the first 50 entries of ``queries()``, and
``plans/catalog.py`` orders those as the committed pin
``plans/window_snapshot.json`` says (``{"round", "touched",
"window"}``). This tool composes that pin. It is the only reader of the
driver records (``CORRECTNESS_r*.json`` in the repo root), and for the
pin of round R it reads only the records of rounds below R, so a record
that lands mid-round changes nothing until the next boundary.

Ordering groups (the sort is stable: registration order breaks ties
inside a group):

0. entries whose builder fingerprint differs from
   ``plans/catalog_fingerprints.json``, plus the pin's ``touched`` list
   (entries whose helpers changed, which the fingerprint cannot see) —
   every change must earn a fresh driver row;
1. entries with no green driver row — never verified, or last row red;
2. the core sentinels, pinned so a core regression is caught by the
   grading driver itself, not only by tests/test_catalog_oracle.py;
3. every other oracle-paired entry, least recently verified first;
4. rows-only-by-design entries, least recently verified first. A slot
   spent on one buys only a row count (their exact twins carry the hash
   coverage), so they fill the window only after group 3 (VERDICT r10
   item 5).

BREADTH-BUDGET RULE (VERDICT r11 item 2): the driver verifies ~50 rows
a round, so new oracle-paired entries per round must not exceed
``WINDOW_SIZE - rotation_debt``, where the debt counts oracle-paired
entries whose last green row is more than ``STALENESS`` rounds old.
tests/test_rotation.py::test_breadth_budget enforces it.

Usage:
    python tools/window_plan.py              # project the next round's window
    python tools/window_plan.py --write      # recompose the pin for the current round
    python tools/window_plan.py --boundary   # open the next round: bump "round", clear
                                             # "touched", refresh the fingerprint
                                             # snapshot, write the pin

Run ``--write`` after changing a builder, or after adding a helper-only
change to ``touched`` in the pin, then pre-verify the new window
(``tools/driver_sim.py --limit 50`` at partitions 3/8/17).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
from collections.abc import Collection

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import catalog_fingerprint  # noqa: E402
from lichess_db_spark.plans.catalog import QUERIES  # noqa: E402

PIN = os.path.join(REPO, "lichess_db_spark", "plans", "window_snapshot.json")
WINDOW_SIZE = 50
STALENESS = 3
CORE_SENTINELS = (
    "a1_count",
    "o3_topk_head",
)


def load_pin() -> dict:
    with open(PIN) as f:
        return json.load(f)


def write_pin(pin: dict) -> None:
    with open(PIN, "w") as f:
        json.dump(pin, f, indent=1)
        f.write("\n")
    print(f"wrote the r{pin['round']} pin ({len(pin['window'])} entries) to {PIN}")


def last_green_round(before: int, root: str = REPO) -> dict[str, int]:
    """name -> latest driver round below ``before`` with a green (or
    rows-only-by-design) row in ``root``'s CORRECTNESS_r*.json files.
    A row counts as green when the hash matched, or when the driver
    recorded the weaker rows-only check (err == "no_oracle") for an
    entry that registers no oracle by design."""
    out: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
            if rnd >= before:
                continue
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError, json.JSONDecodeError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = bool(row.get("hash_match")) or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            if green:
                out[name] = max(out.get(name, 0), rnd)
    return out


def rotation_debt(last_green: dict[str, int], rnd: int) -> int:
    return sum(
        1
        for q in QUERIES.values()
        if q.oracle is not None
        and q.name in last_green
        and rnd - last_green[q.name] > STALENESS
    )


def breadth_budget(last_green: dict[str, int], rnd: int) -> int:
    return max(0, WINDOW_SIZE - rotation_debt(last_green, rnd))


def ranked(last_green: dict[str, int], forced: Collection[str] = ()) -> list[str]:
    """Every registered name in window order; ``forced`` is group 0."""

    def rank(q) -> tuple[int, int]:
        if q.name in forced:
            return (0, 0)
        if q.name not in last_green:
            return (1, 0)
        if q.name in CORE_SENTINELS:
            return (2, 0)
        return (3 if q.oracle is not None else 4, last_green[q.name])

    return [q.name for q in sorted(QUERIES.values(), key=rank)]


def compose(pin: dict, root: str = REPO) -> list[str]:
    """The first-50 window for ``pin``'s round and ``touched`` list,
    from the records in ``root`` and the current fingerprints."""
    forced = set(pin["touched"]) | set(catalog_fingerprint.changed_entries())
    return ranked(last_green_round(pin["round"], root), forced)[:WINDOW_SIZE]


def project(pin: dict) -> None:
    """Print the next round's window, assuming the pending driver round
    greens the pinned 50 (hash and rows-only rows both count)."""
    rnd, nxt = pin["round"], pin["round"] + 1
    last_green = last_green_round(rnd)
    for n in pin["window"]:
        last_green[n] = rnd
    # the boundary refreshes the fingerprints and clears "touched",
    # so the projection has no group 0
    ordered = ranked(last_green)
    print(f"projected r{nxt} window (assuming r{rnd} greens its 50):")
    for i, n in enumerate(ordered[:WINDOW_SIZE]):
        print(f"  {i:2d} {n:42s} last_green={last_green.get(n, '-')}")
    spill = [
        n
        for n in ordered[WINDOW_SIZE:]
        if QUERIES[n].oracle is not None and last_green.get(n, 99) < nxt - STALENESS
    ]
    print(
        f"\nprojected rotation debt at r{nxt}: {rotation_debt(last_green, nxt)}"
        f"  breadth budget: {breadth_budget(last_green, nxt)}"
    )
    print(f"staleness>{STALENESS} oracle-paired entries spilling past the r{nxt} window: {len(spill)}")
    for n in spill:
        print(f"  spill {n} last_green={last_green.get(n)}")


def main() -> None:
    ap = argparse.ArgumentParser()
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--write", action="store_true", help="recompose and write the pin for the current round")
    mode.add_argument("--boundary", action="store_true", help="open the next round and write its pin")
    args = ap.parse_args()
    pin = load_pin()
    if args.boundary:
        pin = {"round": pin["round"] + 1, "touched": []}
        catalog_fingerprint.write_snapshot()
    if args.write or args.boundary:
        pin["window"] = compose(pin)
        write_pin(pin)
    else:
        project(pin)


if __name__ == "__main__":
    main()
