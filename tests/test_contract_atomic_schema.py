"""Guard: every registry contract must expose ATOMIC columns only.

The driver harness canonicalizes each result with pandas
``sort_values`` before hashing; a list/struct/map cell raises
``TypeError: unhashable type`` and the row goes red even when the
values are oracle-exact (r5's ``encode_docs_vocab1k`` failure — the
local checker reprs cells, so local-green provably did NOT imply
driver-checkable).  Contracts with nested payloads must stringify
them (sorted + array_join, the ``cogroup`` precedent) on BOTH sides.

Two legs:
  * oracle side — replan every oracle in DuckDB (types are
    data-independent, sub-second) and reject LIST/STRUCT/MAP/JSON.
  * Spark side — build every registry query's DataFrame at sf0.001
    and reject ArrayType/MapType/StructType in the result schema.
    This leg executes whatever driver-side work query construction
    needs (model fits, streaming drains), so it is the slow one; it
    is also the authoritative one, since rows-only (no-oracle)
    queries never touch DuckDB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from tools.check_oracle import duck_views
from vega_spark import registry

SF_DIR = "/root/testdata/sf0.001"

_NESTED_DUCK = ("[]", "LIST", "STRUCT", "MAP", "JSON", "UNION")
_NESTED_SPARK = (T.ArrayType, T.MapType, T.StructType)


def test_every_oracle_is_atomic_only():
    con = duck_views(SF_DIR)
    offenders = {}
    for name, sql in registry.ORACLES.items():
        rel = con.sql(sql)
        bad = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
               if any(k in str(t).upper() for k in _NESTED_DUCK)]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"{len(offenders)} oracles expose nested DuckDB types the "
        f"driver canonicalizer cannot sort (stringify them — see the "
        f"cogroup contract): {offenders}")


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_spark_contract_schema_is_atomic(name, spark):
    df = registry.QUERIES[name](spark, SF_DIR)
    bad = [(f.name, f.dataType.simpleString()) for f in df.schema.fields
           if isinstance(f.dataType, _NESTED_SPARK)]
    assert not bad, (
        f"{name} returns nested columns {bad}; the driver harness "
        f"crashes canonicalizing them (pandas sort_values on list "
        f"cells) — project to a sorted, joined string instead")
