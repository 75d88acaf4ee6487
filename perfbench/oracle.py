"""What the benchmark's two processes share: where the engine is, which
dashboard tiles exist, and how a result is reduced to a comparable digest.

Results are compared exactly the way the repository's correctness check
compares them: ``scripts/check_correctness.py``'s ``normalize`` (doubles by
IEEE bits, rows order-insensitive), imported rather than copied.
"""

from __future__ import annotations

import hashlib
import importlib
import importlib.util
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "e_commerce_data_warehouse_recommendation_system_spark"

#: dashboard tiles: the oracle-backed ``plans.queries`` set plus the star
#: revenue-by-date tile from ``plans.etl``
DASHBOARD = (
    "q1_pricing_summary",
    "q3_revenue_by_region",
    "q_top_customers",
    "q_revenue_rollup",
    "q_dashboard_yoy",
    "q_grouping_sets",
    "q_pivot_segment",
    "q_funnel",
    "q_sessionize",
    "q_event_daily_window",
    "etl_star_revenue_by_date",
)

#: the fact's upsert key
FACT_KEYS = ["order_id", "line_number"]


def engine_module(name: str):
    """Import ``<engine package>.<name>`` from the checkout this file is in."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    pkg = importlib.import_module(PACKAGE)
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise ImportError(f"{PACKAGE} imported from outside {ROOT}")
    return importlib.import_module(f"{PACKAGE}.{name}")


def load_checker():
    """Import the repository's correctness checker without letting it change
    where this process imports the engine from."""
    path = os.path.join(ROOT, "scripts", "check_correctness.py")
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def digest(checker, cols, rows) -> str:
    """Order-insensitive hash of a result, doubles compared bit-exactly."""
    normed, ncols = checker.normalize([tuple(r) for r in rows], list(cols), True)
    return hashlib.sha256(repr((ncols, normed)).encode()).hexdigest()
