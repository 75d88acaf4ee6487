"""Regenerate PLANS.md: the formatted physical plan of every LAZY headline
query at sf0.001 — the plan-shape dossier (pushed filters, pruned read
schemas, broadcast vs shuffle joins, exchange counts) that
tests/test_plans.py asserts fragments of, kept reviewable in one file.

Usage: python scripts/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

#: lazy queries only — digest queries that execute eagerly inside their
#: builder can't be planned without running them
LAZY = [
    "q1_pricing_summary",
    "q3_revenue_by_region",
    "q_top_customers",
    "q_revenue_rollup",
    "q_json_event_agg",
    "q_dashboard_yoy",
    "q_grouping_sets",
    "q_pivot_segment",
    "q_funnel",
    "q_sessionize",
    "session_window_native",
    "q_event_daily_window",
    "j_asof_event_order",
    "etl_fact_sales",
    "etl_fact_double_fanout",
    "etl_star_revenue_by_date",
    "etl_scd2_customer_priority",
    "text_lang_id",
    "text_pack_sequences",
]


def main() -> None:
    from e_commerce_data_warehouse_recommendation_system_spark import registry
    from e_commerce_data_warehouse_recommendation_system_spark.session import get_spark

    spark = get_spark(master="local[4]")
    qs = registry.queries()
    out = [
        "# Physical plans (generated by scripts/dump_plans.py at sf0.001)",
        "",
        "Formatted Catalyst plans for the lazy headline queries. What to look",
        "for: `PushedFilters` / `ReadSchema` on every scan (pushdown +",
        "pruning), `BroadcastHashJoin` on dimension sides, exchange counts",
        "matching tests/test_plans.py's SHUFFLE_BUDGET, and WholeStageCodegen",
        "spans over the expression work. Regenerate after plan-affecting",
        "changes; the budgets test fails first if a plan regresses.",
        "",
    ]
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in LAZY:
        df = qs[name](spark, SF)
        plan = df._jdf.queryExecution().explainString(mode)
        out += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path}: {len(LAZY)} plans")


if __name__ == "__main__":
    main()
