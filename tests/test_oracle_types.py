"""Guard: no oracle may hand the driver a DuckDB-widened column.

DuckDB widens integer aggregates (SUM(BIGINT) -> HUGEINT); the
driver's Arrow-mediated value hash then sees decimal128/float64 where
Spark has int64, and numerically identical results hash differently —
the root cause of every round-2 hash_match:false row.  Each oracle
casts such a column to BIGINT in its own SQL; this test replans every
oracle (types are data-independent) so a new or edited oracle that
reintroduces a widened type fails CI instead of failing the driver.
"""

from __future__ import annotations

import pytest

from tools.check_oracle import WIDENED, duck_views, rows_sha256
from vega_spark import registry

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    return duck_views(SF_DIR)


def test_no_widened_types_in_pinned_oracles(con):
    offenders = {}
    for name, sql in registry.ORACLES.items():
        rel = con.sql(sql)
        bad = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
               if any(k in str(t).upper() for k in WIDENED)]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"{len(offenders)} oracles expose widened DuckDB types "
        f"(cast them to BIGINT in the oracle): {offenders}")


def test_checker_fails_widened_and_cross_family_types():
    from tools.check_oracle import type_problems
    # widened duckdb type must fail even when families agree
    assert type_problems({"n": "bigint"}, {"n": "HUGEINT"})
    # int column vs double column must fail (dtype check, VERDICT r2 #7)
    assert type_problems({"x": "bigint"}, {"x": "DOUBLE"})
    # integer width differences are driver-tolerated
    assert not type_problems({"rk": "int"}, {"rk": "BIGINT"})
    assert not type_problems({"v": "double"}, {"v": "DOUBLE"})


def test_rows_sha256_ignores_order_and_sees_every_cell():
    rows = [(1, "a", 0.5), (2, "b", None), (3, "c", float("nan"))]
    cols = ["k", "s", "x"]
    h = rows_sha256(rows, cols)
    # row order and column order do not matter
    assert rows_sha256(rows[::-1], cols) == h
    assert rows_sha256([(x, s, k) for k, s, x in rows],
                       ["x", "s", "k"]) == h
    # any one changed cell does
    assert rows_sha256([(1, "a", 0.5), (2, "b", None),
                        (3, "d", float("nan"))], cols) != h
    assert rows_sha256([(1, "a", 0.5000000000000001), (2, "b", None),
                        (3, "c", float("nan"))], cols) != h
