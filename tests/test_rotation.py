"""Mechanized driver-window rotation invariant (VERDICT r4 item 2).

The grading driver verifies only the first 50 entries of
``queries()``. ``plans/catalog.py`` returns the committed pin
(``plans/window_snapshot.json``) first, in pin order, then every other
entry in registration order. ``tools/window_plan.py`` composes the pin
from the committed driver records and the builder fingerprints; it is
the only reader of ``CORRECTNESS_r*.json``. These tests make the
contract executable:

1. every entry whose builder source changed since the last driver
   round (fingerprint differs from ``plans/catalog_fingerprints.json``,
   or the entry is new) and every name in the pin's ``touched`` list
   sits inside the pin;
2. every entry with no green driver row before the pin's round, and
   the core sentinels, sit inside the pin;
3. the pin equals the tool's composition for the committed records,
   and ``queries()`` starts with it;
4. a driver record that lands mid-round changes neither the
   composition nor ``queries()``.

Refresh the pin with ``python tools/window_plan.py --write`` after a
change, and open a new round with ``python tools/window_plan.py
--boundary`` (which also refreshes the fingerprint snapshot).
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool(name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _catalog():
    sys.path.insert(0, REPO)
    from lichess_db_spark.plans import catalog

    return catalog


def _entry_queries():
    sys.path.insert(0, REPO)
    import __spark_entry__

    return list(__spark_entry__.queries())


def test_touched_names_resolve():
    catalog = _catalog()
    plan = _load_tool("window_plan")
    pin = plan.load_pin()
    for field, names in (
        ("touched", pin["touched"]),
        ("window", pin["window"]),
        ("CORE_SENTINELS", plan.CORE_SENTINELS),
    ):
        unknown = [n for n in names if n not in catalog.QUERIES]
        assert not unknown, f"{field} contains unregistered names: {unknown}"
    assert len(pin["window"]) == plan.WINDOW_SIZE == len(set(pin["window"]))


def test_window_contains_touched_unverified_and_sentinels():
    catalog = _catalog()
    plan = _load_tool("window_plan")
    pin = plan.load_pin()
    window = set(pin["window"])

    missing_touched = [n for n in pin["touched"] if n not in window]
    assert not missing_touched, f"touched entries outside driver window: {missing_touched}"

    last_green = plan.last_green_round(pin["round"])
    never = [n for n in catalog.QUERIES if n not in last_green and n not in window]
    assert not never, f"never-driver-verified entries outside window: {never}"

    missing_sent = [n for n in plan.CORE_SENTINELS if n not in window]
    assert not missing_sent, f"core sentinels outside window: {missing_sent}"


def test_changed_builders_reenter_window():
    """Any entry whose builder source drifted from the committed
    snapshot must be in the pinned first-50 window (recompose it with
    ``python tools/window_plan.py --write``)."""
    plan = _load_tool("window_plan")
    changed = _load_tool("catalog_fingerprint").changed_entries()
    window = set(plan.load_pin()["window"])
    escaped = [n for n in changed if n not in window]
    assert not escaped, (
        f"builder source changed since last driver round but entry is outside "
        f"the first-50 window: {escaped} — run python tools/window_plan.py --write"
    )


def test_ordering_is_deterministic():
    catalog = _catalog()
    a = list(catalog.queries_map())
    b = list(catalog.queries_map())
    assert a == b
    assert len(a) == len(set(a)) == len(catalog.QUERIES)
    assert list(catalog.oracle_sql_map()) == [n for n in a if catalog.QUERIES[n].oracle is not None]


def test_breadth_budget():
    """Standing BREADTH-BUDGET rule (VERDICT r11 item 2): new
    oracle-paired entries per round <= (window size - rotation debt),
    rotation debt = oracle-paired entries whose last green driver row
    is older than staleness 3. 'New' = never green before the pin's
    round. When the debt leaves no budget, new entries wait for a
    later round."""
    catalog = _catalog()
    plan = _load_tool("window_plan")
    rnd = plan.load_pin()["round"]
    lg = plan.last_green_round(rnd)
    budget = plan.breadth_budget(lg, rnd)
    new = [n for n, q in catalog.QUERIES.items() if q.oracle is not None and n not in lg]
    assert len(new) <= budget, (
        f"breadth budget exceeded: {len(new)} new oracle-paired entries but "
        f"rotation debt leaves a budget of {budget}: {new}"
    )


def test_window_matches_committed_snapshot():
    """The pin is the round's deliverable: it must equal the tool's
    composition for the committed records, and queries() must start
    with it, so nothing reshuffles the window between pre-verification
    and the driver run. After a legitimate change, recompose it with
    ``python tools/window_plan.py --write`` and re-pre-verify it."""
    plan = _load_tool("window_plan")
    pin = plan.load_pin()
    assert plan.compose(pin) == pin["window"], (
        "committed pin deviates from the composition for the committed "
        "records — run python tools/window_plan.py --write (or --boundary "
        "to open a new round) and re-pre-verify the window"
    )
    assert _entry_queries()[: plan.WINDOW_SIZE] == pin["window"]


def test_driver_record_does_not_reorder_queries(tmp_path):
    """A driver record for the pin's own round lands in the repo root
    and greens the first tail entry. Neither the composition for the
    committed pin nor queries() may change, and the tail stays in
    registration order. The repo is copied to tmp_path so the real
    root is never touched."""
    catalog = _catalog()
    plan = _load_tool("window_plan")
    pin = plan.load_pin()
    before = _entry_queries()
    assert before[: plan.WINDOW_SIZE] == pin["window"]
    window = set(pin["window"])
    assert before[plan.WINDOW_SIZE :] == [n for n in catalog.QUERIES if n not in window]

    shutil.copytree(
        os.path.join(REPO, "lichess_db_spark"), tmp_path / "lichess_db_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    shutil.copy(os.path.join(REPO, "__spark_entry__.py"), tmp_path)
    for name in os.listdir(REPO):
        if name.startswith("CORRECTNESS_r") and name.endswith(".json"):
            shutil.copy(os.path.join(REPO, name), tmp_path)
    tail = before[plan.WINDOW_SIZE]
    row = {"rows_match": True, "schema_match": True, "hash_match": True,
           "spark_rows": 1, "oracle_rows": 1, "err": None}
    (tmp_path / f"CORRECTNESS_r{pin['round']}.json").write_text(json.dumps({tail: row}))
    assert plan.last_green_round(pin["round"] + 1, str(tmp_path))[tail] == pin["round"]

    assert plan.compose(pin, str(tmp_path)) == pin["window"]
    out = subprocess.run(
        [sys.executable, "-c", "import json, __spark_entry__ as E; print(json.dumps(list(E.queries())))"],
        cwd=tmp_path, env={**os.environ, "PYTHONPATH": str(tmp_path)},
        capture_output=True, text=True, check=True,
    )
    assert json.loads(out.stdout) == before
