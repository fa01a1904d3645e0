"""Generate PLANS.md: one-line physical-plan audit per registered query.

For EVERY registry entry (the driver-graded 50 first), build
the DataFrame at the given sf dir and summarize the executed plan:
join strategies, shuffle (Exchange) count, whole-stage-codegen span
count, scan pushdown evidence, and top-k/sort shape. The artifact is
the reviewable answer to "is this the plan you'd want at 100 TB?".

Usage: python tools/plan_report.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ekati_spark.metrics import plan_ops  # noqa: E402

_JOINS = (
    ("bhj", "BHJ"),
    ("smj", "SMJ"),
    ("shj", "SHJ"),
    ("bnlj", "BNLJ"),
    ("cartesian", "CART"),
)


def summarize(plan: str) -> dict:
    ops = plan_ops(plan)
    joins = [f"{ops[k]}x{label}" for k, label in _JOINS if ops[k]]
    return {
        "joins": " ".join(joins) or "-",
        "exchanges": ops["exchanges"],
        "pushed": "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-",
        "topk": "TakeOrdered" if "TakeOrderedAndProject" in plan else "-",
        "aqe": "yes" if "AdaptiveSparkPlan" in plan else "-",
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from ekati_spark.session import get_spark
    from ekati_spark.queries import REGISTRY

    spark = get_spark("plan_report", cores=8)
    names = list(REGISTRY)

    print("# PLANS — physical-plan audit of every registered query")
    print()
    print(f"Auto-generated by `tools/plan_report.py` at `{sf_dir}` (post-execution AQE final plans).")
    print("The driver-graded 50 are the first 50 rows.")
    print("Columns: join strategies in the executed plan, exchange")
    print("(shuffle) count, parquet filter pushdown present, top-k via")
    print("TakeOrderedAndProject, AQE wrapping. The pytest plan contract")
    print("additionally asserts no accidental CartesianProduct/BNLJ")
    print("across the full registry (intended BNLJ/CART, each a documented")
    print("plan: l06 brute-force baseline, g26 one-row stats cross join,")
    print("l15 IVF centroid probe, l31 domain-mix one-row max,")
    print("l33 hard-negative baseline, l34/l36 one-row total cross")
    print("joins, r49 five 1-row audit aggregates, g28 telemetry")
    print("frames, l45 all-pairs bitext baseline, l47/l49 one-row")
    print("budget/smoothing-totals aggregates, l52 one-row corpus")
    print("total, g31 three 1-row integer aggregates, l58 10-row-")
    print("broadcast quantized-search baseline).")
    print()
    print("| query | joins | shuffles | pushdown | top-k | AQE |")
    print("|---|---|---|---|---|---|")
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            # execute first: under AQE the codegen annotations and final
            # join strategies only exist on the post-run final plan
            df.count()
            s = summarize(df._jdf.queryExecution().executedPlan().toString())
            print(
                f"| {name} | {s['joins']} | {s['exchanges']} | "
                f"{s['pushed']} | {s['topk']} | {s['aqe']} |"
            )
        except Exception as e:  # noqa: BLE001 — report, don't abort
            print(f"| {name} | ERROR {type(e).__name__} | | | | |")


if __name__ == "__main__":
    main()
