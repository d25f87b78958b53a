"""Per-entry source fingerprints for the query catalog.

Mechanizes the driver-window rotation invariant (VERDICT r4 item 2):
any catalog entry whose implementing source changed since the last
driver round must re-enter the first-50 driver window.
``tools/window_plan.py`` ranks every entry whose fingerprint differs
from the committed snapshot first when it composes the window pin
(``plans/window_snapshot.json``), and ``tests/test_rotation.py``
checks that the pin holds them.

The fingerprint of an entry is the md5 of ``inspect.getsource`` of its
registered builder.  Because builders are registered via the
``@register(name, oracle, ...)`` decorator, the retrieved source spans
the decorator call too, so the oracle SQL is covered by the same hash.
(Helper functions a builder calls are NOT covered — a helper-only
change still needs the entry in the pin's ``touched`` list; the
fingerprint is a backstop, not a replacement for review.)

Usage:
    python tools/catalog_fingerprint.py            # print current fingerprints
    python tools/catalog_fingerprint.py --write    # refresh the committed snapshot

``--write`` runs once per round, at the round boundary, as part of
``python tools/window_plan.py --boundary``, so the next round's test
compares against the state the driver actually verified.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SNAPSHOT = os.path.join(REPO, "lichess_db_spark", "plans", "catalog_fingerprints.json")


def current_fingerprints() -> dict[str, str]:
    sys.path.insert(0, REPO)
    from lichess_db_spark.plans.registry import QUERIES
    import lichess_db_spark.plans.catalog  # noqa: F401  (registration side effects)

    out = {}
    for name, q in QUERIES.items():
        src = inspect.getsource(q.build)
        out[name] = hashlib.md5(src.encode()).hexdigest()
    return dict(sorted(out.items()))


def load_snapshot() -> dict[str, str]:
    with open(SNAPSHOT) as f:
        return json.load(f)


def changed_entries() -> list[str]:
    """Entries whose builder source differs from the committed snapshot
    (or that the snapshot does not know yet)."""
    try:
        snap = load_snapshot()
    except FileNotFoundError:
        snap = {}
    return [n for n, h in current_fingerprints().items() if snap.get(n) != h]


def write_snapshot() -> None:
    fps = current_fingerprints()
    with open(SNAPSHOT, "w") as f:
        json.dump(fps, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(fps)} fingerprints to {SNAPSHOT}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true", help="refresh the committed snapshot")
    args = ap.parse_args()
    if args.write:
        write_snapshot()
    else:
        total = len(current_fingerprints())
        print(json.dumps({"total": total, "changed_vs_snapshot": changed_entries()}, indent=1))


if __name__ == "__main__":
    main()
