"""Dump the optimized physical-plan operator sequence for every declared
query into PLANS.md — the audit trail for the scale review (which scans
prune, which joins broadcast, where the shuffles are).

Usage: python tools/explain_all.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from openmrs_patient_migration_script_spark.plans import ORACLES, QUERIES  # noqa: E402
from openmrs_patient_migration_script_spark.session import get_spark  # noqa: E402


def formatted_plan(spark, df) -> str:
    """The optimized physical plan of ``df`` in Spark's formatted explain mode."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def plan_nodes(plan: str) -> list[str]:
    """The operator names of a formatted plan, in its numbered order."""
    out = []
    for line in plan.splitlines():
        m = re.match(r"^\(\d+\) (\S+)", line.strip())
        if m:
            out.append(m.group(1))
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("explain-all", shuffle_partitions=8)
    Path("PLANS.md").write_text(plans_md(spark, sf_dir))
    print(f"wrote PLANS.md ({len(QUERIES)} queries)")


def plans_md(spark, sf_dir: str) -> str:
    """The PLANS.md text: one row per declared query at ``sf_dir``."""
    lines = [
        "# Physical plans (generated by tools/explain_all.py)",
        "",
        f"Optimized operator sequence per declared query at `{sf_dir}`.",
        "`Exchange` = shuffle; `BroadcastExchange`/`BroadcastHashJoin` = map-side",
        "join; `Scan ExistingRDD` = a localCheckpoint boundary (materialized",
        "once, reused by several branches).",
        "",
        "| query | oracle | shuffles | plan |",
        "|---|---|---|---|",
    ]
    for name in sorted(QUERIES):
        try:
            ns = plan_nodes(formatted_plan(spark, QUERIES[name](spark, sf_dir)))
            shuffles = sum(1 for n in ns if n == "Exchange")
            compact = " → ".join(ns)
            kind = "hash" if name in ORACLES else "rows-only"
            lines.append(f"| `{name}` | {kind} | {shuffles} | {compact} |")
        except Exception as e:  # pragma: no cover - diagnostic tool
            lines.append(f"| `{name}` | — | — | ERROR: {e} |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    main()
