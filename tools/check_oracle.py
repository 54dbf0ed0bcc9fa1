"""Local differential checker — replicates the driver's t2 gate:
run every registry query on Spark AND its DuckDB oracle on the same
parquet tables, compare row count, column names, column TYPES, and
row-sorted EXACT values (bit-exact floats — no rounding forgiveness).

Strictness contract (calibrated against the round-2 driver rows):
- values: Python repr, full precision.  The driver hashes exact
  values, and every hash-green query was bit-identical locally; the
  old 12-significant-digit forgiveness is gone so this checker fails
  anything the driver would fail.
- types: DuckDB widened types (HUGEINT/DECIMAL/unsigned) fail
  outright — they take an Arrow detour (decimal128/float64) in the
  driver even when fetchall() values match; this was the root cause
  of all 14 round-2 hash_match:false rows.  Cross-family mismatches
  (int column vs double column) fail too.  Integer WIDTH differences
  (Spark int vs DuckDB BIGINT) are allowed — driver-green evidence.
- row order: ignored (rows sorted before compare).  Driver-green
  queries exist whose engines return different orders.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
       python tools/check_oracle.py --json OUT.json [sf_dir] [query ...]
  --json also writes the per-query results as a LOCALVERIFY-shaped
  artifact (status/rows/sec per query + pass counts).  Each query that
  ran records ``spark_sha256`` (its normalized rows) and, with an
  oracle, ``oracle_sha256`` plus ``oracle_types``, so two trees give
  the same results exactly when their artifacts' hashes agree.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from vega_spark import registry  # noqa: E402
from vega_spark.session import get_session  # noqa: E402
from vega_spark.tables import TABLE_NAMES  # noqa: E402

# DuckDB types that must never reach the driver's comparator: SUM over
# integers returns HUGEINT (int128), and the driver's Arrow-mediated
# value hash reads it as decimal128/float64 where Spark has int64.  An
# oracle casts any such output column to BIGINT in its own SQL.
WIDENED = ("HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER",
           "USMALLINT", "UTINYINT", "DECIMAL")

_SPARK_FAMILY = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float32", "double": "float64",
    "string": "string", "boolean": "bool", "date": "date",
    "binary": "binary",
}
_DUCK_FAMILY = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "FLOAT": "float32", "DOUBLE": "float64",
    "VARCHAR": "string", "BOOLEAN": "bool", "DATE": "date",
    "BLOB": "binary",
}


def _spark_family(t: str) -> str:
    if t.startswith("timestamp"):
        return "timestamp"
    if t.startswith(("array", "map", "struct")):
        return "nested"
    return _SPARK_FAMILY.get(t, t)


def _duck_family(t: str) -> str:
    u = t.upper()
    if u.startswith("TIMESTAMP"):
        return "timestamp"
    if "[]" in u or u.startswith(("STRUCT", "MAP", "LIST")):
        return "nested"
    return _DUCK_FAMILY.get(u, u)


def type_problems(spark_types: dict[str, str],
                  duck_types: dict[str, str]) -> list[str]:
    """Type-level failures the driver's hash would surface.  A widened
    DuckDB type is fixed in the oracle SQL: cast that output column to
    BIGINT at the oracle's outermost projection."""
    probs = []
    for c, dt in duck_types.items():
        if any(k in dt.upper() for k in WIDENED):
            probs.append(f"widened duckdb type {c}:{dt} "
                         "(cast it to BIGINT in the oracle)")
    for c, st in spark_types.items():
        if c in duck_types:
            sf, df = _spark_family(st), _duck_family(duck_types[c])
            if sf != df and not any(k in duck_types[c].upper()
                                    for k in WIDENED):
                probs.append(f"type family {c}: spark {st} ({sf}) "
                             f"vs duckdb {duck_types[c]} ({df})")
    return probs


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Sort columns by name, then rows; EXACT values (the driver
    hashes — any difference here breaks its hash)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, bool):
            return str(v)
        return repr(v)

    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def rows_sha256(rows: list[tuple], cols: list[str]) -> str:
    """sha256 of ``normalize(rows, cols)``: independent of row and
    column order, sensitive to every cell."""
    return hashlib.sha256(repr(normalize(rows, cols)).encode()).hexdigest()


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per engine table over the
    parquet files in ``sf_dir`` — the names the oracles query."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t)}.parquet'")
    return con


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    results: dict[str, dict] = {}
    spark = get_session("oracle-check")

    con = duck_views(sf_dir)

    failures = []
    attempted = 0
    for name, fn in registry.QUERIES.items():
        if only and name not in only:
            continue
        attempted += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = {f.name: f.dataType.simpleString()
                      for f in sdf.schema.fields}
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {type(e).__name__}: {e}"))
            results[name] = {"status": "spark_error", "err": str(e)[:300]}
            print(f"FAIL  {name:28s} spark error: {e}")
            continue
        # driver-parity guard (r5's encode_docs_vocab1k lesson): the
        # DRIVER canonicalizes with pandas sort_values, which crashes
        # on list/map/struct cells even when values are oracle-exact;
        # this checker reprs cells, so without this guard local-green
        # does NOT imply driver-checkable. Nested outputs must be
        # stringified (see the cogroup contract).
        nested = [c for c, t in stypes.items()
                  if _spark_family(t) == "nested"]
        if nested:
            failures.append((name, f"nested output columns {nested} — "
                             "driver canonicalizer crashes on these"))
            results[name] = {"status": "nested_output", "cols": nested}
            print(f"FAIL  {name:28s} nested output columns {nested}")
            continue
        hashes = {"spark_sha256": rows_sha256(srows, scols)}
        if name not in registry.ORACLES:
            results[name] = {"status": "ok_rows_only", "rows": len(srows),
                             "sec": round(time.time() - t0, 1), **hashes}
            print(f"ok*   {name:28s} rows={len(srows):7d} (no oracle, rows-only) "
                  f"{time.time()-t0:5.1f}s")
            continue
        try:
            rel = con.sql(registry.ORACLES[name])
            dcols = list(rel.columns)
            dtypes = dict(zip(dcols, (str(t) for t in rel.types)))
            drows = rel.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            results[name] = {"status": "duckdb_error", "err": str(e)[:300]}
            print(f"FAIL  {name:28s} duckdb error: {e}")
            continue
        hashes.update(oracle_sha256=rows_sha256(drows, dcols),
                      oracle_types=dtypes)

        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
        else:
            problems.extend(type_problems(stypes, dtypes))
        if not problems:
            ns, nd = normalize(srows, scols), normalize(drows, dcols)
            if ns != nd:
                diff = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append((name, "; ".join(problems)))
            results[name] = {"status": "fail",
                             "err": "; ".join(problems)[:300], **hashes}
            print(f"FAIL  {name:28s} {'; '.join(problems)[:300]}")
        else:
            results[name] = {"status": "ok", "rows": len(srows),
                             "sec": round(time.time() - t0, 1), **hashes}
            print(f"ok    {name:28s} rows={len(srows):7d} {time.time()-t0:5.1f}s")

    print(f"\n{attempted - len(failures)}/{attempted} passed")
    for name, why in failures:
        print(f"  FAILED {name}: {why[:500]}")
    if json_out is not None:
        import json
        payload = {
            "sf_dir": sf_dir,
            "checker": ("tools/check_oracle.py (driver-strict: exact "
                        "values, type families, widened-type fail, "
                        "nested-output guard)"),
            "passed": attempted - len(failures),
            "attempted": attempted,
            "total_sec": round(sum(r.get("sec", 0.0)
                                   for r in results.values()), 1),
            "queries": results,
        }
        with open(json_out, "w") as f:
            json.dump(payload, f, indent=1)
        print(f"wrote {json_out}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
