"""Audit the physical plan of every declared query → PLANS.md.

For each registry entry: shuffle-exchange count, broadcast usage,
pushed filters, take-ordered top-k, and read-schema width. The output
is the evidence table for the 100 TB design rules in README.md —
regenerate after plan-affecting changes:

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_data_pipeline_ads_spark import plans  # noqa: E402
from aws_data_pipeline_ads_spark.queries import REGISTRY  # noqa: E402
from aws_data_pipeline_ads_spark.session import get_session  # noqa: E402

HEADER = """# Physical-plan audit (auto-generated by tools/plan_audit.py)

One row per declared query at {sf_dir}. "shuffles" counts shuffle
exchanges only (broadcast exchanges excluded); "bcast" marks broadcast
hash joins; "pushed" marks parquet-scan filter pushdown; "topk" marks
TakeOrderedAndProject (k-heap, no global sort); "cols read" is the
total width of all parquet ReadSchemas (column-pruning evidence).
Plans are pre-AQE (AQE may further coalesce/convert at runtime).

| query | shuffles | bcast | pushed | topk | cols read |
|---|---|---|---|---|---|
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_session("plan-audit")
    rows = []
    for name in sorted(REGISTRY):
        df = REGISTRY[name].build(spark, sf_dir)
        rows.append(
            (
                name,
                plans.count_shuffle_exchanges(df),
                "✓" if plans.uses_broadcast_join(df) else "",
                "✓" if plans.has_pushed_filters(df) else "",
                "✓" if plans.uses_take_ordered(df) else "",
                len(plans.read_schema_columns(df)),
            )
        )
    out = HEADER.format(sf_dir=sf_dir)
    for r in rows:
        out += f"| {r[0]} | {r[1]} | {r[2]} | {r[3]} | {r[4]} | {r[5]} |\n"
    total_shuffles = sum(r[1] for r in rows)
    out += (
        f"\n{len(rows)} queries, {total_shuffles} shuffle exchanges total, "
        f"{sum(1 for r in rows if r[2])} broadcast joins, "
        f"{sum(1 for r in rows if r[3])} pushed-filter scans.\n"
        "\nNote — signed deltas (lake change feeds, view refreshes) "
        "plan as one key window over the signed union of both sides, "
        "which also holds the duplicate-key guard: one hash exchange "
        "per delta at any delta size, and no join.\n"
    )
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "PLANS.md")
    with open(path, "w") as f:
        f.write(out)
    print(f"wrote {path}: {len(rows)} queries, {total_shuffles} shuffles")


if __name__ == "__main__":
    main()
