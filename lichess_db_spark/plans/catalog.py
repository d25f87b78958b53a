"""Aggregated query catalog: importing the category modules populates
the shared registry (registry.QUERIES).

The driver's correctness gate checks the first 50 entries of
``queries()`` in insertion order. That order is the committed pin
``window_snapshot.json`` (the 50 pinned names, in pin order), then
every other entry in registration order. ``tools/window_plan.py``
composes the pin at each round boundary; nothing here reads driver
records, so the order depends only on committed package files.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import catalog_core, catalog_formats, catalog_north, catalog_scale, catalog_staged, catalog_tpch  # noqa: F401  (registration side effects)
from .registry import QUERIES, QueryDef  # noqa: F401

_PIN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "window_snapshot.json")


def queries_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    with open(_PIN) as f:
        pinned = json.load(f)["window"]
    out = {n: QUERIES[n].build for n in pinned}
    out.update((n, q.build) for n, q in QUERIES.items() if n not in out)
    return out


def oracle_sql_map() -> dict[str, str]:
    return {n: QUERIES[n].oracle for n in queries_map() if QUERIES[n].oracle is not None}
