"""Scale audit: run the plan advisor over EVERY registry query and
report FATAL findings (global windows, cartesian products) plus WARN
counts — the repo-wide sweep behind the per-family plan-gate tests.

Usage: python tools/scale_audit.py [sf_dir]
Exit code 1 if any FATAL finding exists.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vega_spark import registry  # noqa: E402
from vega_spark.plans.advisor import analyze_plan  # noqa: E402
from vega_spark.session import get_session  # noqa: E402

# queries whose EXECUTION has side effects or long drains; their plan
# is still audited — building the DataFrame is lazy — but failures to
# build are reported, not ignored
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> int:
    spark = get_session("vega-audit")
    spark.sparkContext.setLogLevel("ERROR")
    fatals: list[tuple[str, str]] = []
    warn_list: list[tuple[str, str]] = []
    adjudicated: list[tuple[str, str, str]] = []
    bounded_cross = 0
    errors: list[tuple[str, str]] = []
    for name, spec in registry.SPECS.items():
        try:
            df = spec.fn(spark, SF)
            findings = analyze_plan(df)
        except Exception as exc:
            errors.append((name, repr(exc)[:120]))
            continue
        adj = spec.adjudicated
        for f in findings:
            if f["severity"] == "FATAL":
                fatals.append((name, f["code"]))
            elif f["severity"] == "WARN":
                if f["code"] in adj:
                    adjudicated.append((name, f["code"], adj[f["code"]]))
                else:
                    warn_list.append((name, f["code"]))
            elif f["code"] == "bounded-cross-broadcast":
                bounded_cross += 1
    print(f"audited {len(registry.SPECS)} queries: "
          f"{len(fatals)} FATAL, {len(warn_list)} unadjudicated WARN, "
          f"{len(adjudicated)} adjudicated WARN "
          f"(spec adjudicated=), {bounded_cross} bounded-cross "
          f"INFO (Catalyst maxRows-proven scalar attaches), "
          f"{len(errors)} build-errors")
    for name, code in fatals:
        print(f"FATAL {name}: {code}")
    for name, code in warn_list:
        print(f"WARN  {name}: {code} (UNADJUDICATED — inspect, then "
              f"fix or declare adjudicated= on its @_q)")
    for name, code, why in adjudicated:
        print(f"adjudicated {name}: {code} — {why}")
    for name, err in errors:
        print(f"ERROR {name}: {err}")
    return 1 if fatals else 0


if __name__ == "__main__":
    sys.exit(main())
