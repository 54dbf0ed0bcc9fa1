"""Guard: each query spec's ``adjudicated`` WARNs stay in sync with
reality.

``adjudicated=`` on a query's ``@_q`` turns hand-reviewed plan-audit
WARNs into a machine-readable record (tools/scale_audit.py prints the
rationale inline and reports 0 unadjudicated WARNs). Two rot modes
this pins:

* a STALE entry — the query's plan no longer produces the
  adjudicated finding (the rationale would then assert something
  false about the code);
* a PHANTOM entry — a (name, code) pair for a finding class the
  advisor does not emit.

The inverse direction (a NEW warn without an adjudication) is
surfaced by tools/scale_audit.py itself as `UNADJUDICATED` and by
the audit's whole-registry FATAL test.
"""

from __future__ import annotations

import pytest

from vega_spark import registry
from vega_spark.plans.advisor import analyze_plan

SF_DIR = "/root/testdata/sf0.001"
_KNOWN_WARN_CODES = {"cross-nlj", "row-python-udf"}


_ADJUDICATED = sorted(n for n, s in registry.SPECS.items() if s.adjudicated)


def test_adjudication_codes_are_known():
    bad_codes = {(n, c) for n in _ADJUDICATED
                 for c in registry.SPECS[n].adjudicated
                 if c not in _KNOWN_WARN_CODES}
    assert not bad_codes, f"adjudications for unknown codes: {bad_codes}"


@pytest.mark.parametrize("name", _ADJUDICATED)
def test_adjudicated_finding_still_occurs(name, spark):
    # every adjudicated (query, code) must still be a live finding —
    # if an operator rework removes the warn, the entry (and its
    # now-false rationale) must be deleted with it
    spec = registry.SPECS[name]
    findings = analyze_plan(spec.fn(spark, SF_DIR))
    live = {f["code"] for f in findings if f["severity"] == "WARN"}
    stale = set(spec.adjudicated) - live
    assert not stale, (
        f"{name} no longer produces {sorted(stale)} — delete the "
        f"stale adjudicated= entry (its rationale is now false)")
