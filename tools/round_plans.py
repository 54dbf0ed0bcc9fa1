"""Dump `.explain("formatted")` for named registry queries into
plans/<round>/<query>_<tag>.txt (an optimization round's evidence
files: `_before` captured at the pre-optimization HEAD, `_after` at
the committed state). A query with an operator-only leg also gets
plans/<round>/<query>_op_<tag>.txt.

Usage: python tools/round_plans.py <round> <tag> q1 [q2 ...]
       python tools/round_plans.py r10 before dedup_simhash_collapsed
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from vega_spark import registry  # noqa: E402
from vega_spark.session import get_session  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    rnd, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    out_dir = os.path.join(_REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session(f"{rnd}-plans")
    for name in names:
        spec = registry.SPECS.get(name)
        if spec is None:
            print(f"?? unknown query {name}", file=sys.stderr)
            continue
        legs = {f"{name}_{tag}": spec.fn, f"{name}_op_{tag}": spec.op}
        for stem, fn in legs.items():
            if fn is None:
                continue
            df = fn(spark, SF)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            path = os.path.join(out_dir, f"{stem}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
