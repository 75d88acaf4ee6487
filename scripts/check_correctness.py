"""Local replica of the driver's oracle check.

Runs every registered query at a scale factor, runs its DuckDB oracle on the
same parquet tables, and compares row count + column names + values.

Float comparison matches the DRIVER's strength per mode:

- registered queries (what the driver hashes) compare doubles BIT-EXACTLY
  (IEEE bit pattern) — round 6 shipped a red row because this script used
  a 10-significant-digit rounding that hid a 1-ulp divergence the driver's
  value-hash caught;
- ``--components`` full-result mode keeps the 1e-9 rounding: component
  results may contain genuinely approximate doubles (different fp
  summation order across engines) that the digest layer deliberately
  folds through FLOOR(x*1e6) before the driver ever sees them.

Decimal cells are SERIALIZED scale-pinned (never compared as Python
objects, whose ``==`` ignores scale), and queries mode hard-fails any
Spark DecimalType output column outright — the driver's oracle fetch
collapses DECIMAL to float64, so such a column can never hash-match even
when bit-identical (the round-7 failure class: 11 slots red).

With ``--components`` the suite *components* are checked one-by-one against
their FULL-RESULT oracles (value-stronger than the digest rows the driver
sees, but float-tolerant) — the local gate behind the 50-slot suite
consolidation. A full local gate is therefore BOTH runs: queries mode
(bit-exact, driver-equivalent) + components mode (full results).

Usage: python scripts/check_correctness.py [--components] [sf_dir] [filter...]
"""

from __future__ import annotations

import decimal
import json
import math
import os
import struct
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: the testdata tables (sources.readers.TABLES, spelled out: this module is
#: loaded before the engine is imported, so it imports no engine code)
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connect(sf_dir: str):
    con = duckdb.connect()
    # Give spills a real directory and a bounded budget (no effect at the
    # driver SFs, which need none). The round-8 sf0.1 wall (rec_prep_suite
    # exceeding 40 GiB) was DuckDB's default CTE INLINING re-evaluating
    # whole oracles: the PageRank iteration chain once per step, and every
    # suite digest's _agg once per metric branch. Both are AS MATERIALIZED
    # since round 9 (recommend/graph._pagerank_oracle, digest.digest_sql)
    # and the full 50-slot sweep verifies at sf0.1 inside the budget.
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    con.execute("SET max_temp_directory_size='40GiB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(rows, cols, exact_floats: bool):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_cell(v):
        if v is None:
            return None
        if isinstance(v, decimal.Decimal):
            # SERIALIZE, never compare as objects: Python's Decimal __eq__
            # ignores scale (Decimal('1.20000000') == Decimal('1.2')), which
            # is exactly the blind spot that let round 7's DecimalType
            # emissions pass locally while the driver's value-hash — which
            # serializes — flagged all 11. format(...,'f') is scale-pinned
            # plain notation ('0E-8' -> '0.00000000'), so a scale drift
            # between engines fails here the way it fails at the driver.
            return "dec:" + format(v, "f")
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            if exact_floats:  # driver-equivalent: compare the IEEE bits
                return struct.pack(">d", v).hex()
            return float(f"{v:.9e}")
        if isinstance(v, bool):
            return bool(v)
        if hasattr(v, "isoformat"):
            return v.isoformat()[:26]
        return v

    normed = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    normed.sort(key=lambda row: [(v is None, str(v)) for v in row])
    return normed, [cols[i] for i in order]


def main():
    args = sys.argv[1:]
    use_components = "--components" in args
    args = [a for a in args if a != "--components"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    filters = args[1:]

    from e_commerce_data_warehouse_recommendation_system_spark.session import get_spark
    from e_commerce_data_warehouse_recommendation_system_spark import registry

    spark = get_spark()
    if use_components:
        comps = registry.components()
        qs = {n: c.fn for n, c in comps.items()}
        os_ = {n: c.oracle for n, c in comps.items() if c.oracle is not None}
    else:
        qs, os_ = registry.queries(), registry.oracles()
    con = duck_connect(sf_dir)

    results = {}
    for name, fn in sorted(qs.items()):
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            if not use_components:
                # Driver-visible queries may NEVER emit DecimalType: the
                # driver's oracle fetch collapses DECIMAL to float64, so a
                # Spark Decimal can never value-hash-match it (round 7: 11
                # red slots, rows/schema green, hash red). Exact decimals
                # must cross as scale-pinned strings (functions/scalar.py
                # dec_str/dec_sum_str). Hard-fail HERE, because both local
                # engines return Decimal objects and would compare green.
                bad = [
                    f.name for f in sdf.schema.fields
                    if f.dataType.typeName().startswith("decimal")
                ]
                if bad:
                    results[name] = {
                        "status": "DECIMAL_OUTPUT",
                        "error": f"driver-unhashable DecimalType columns: {bad}",
                    }
                    print(f"{name}: DECIMAL_OUTPUT {bad} — emit via dec_str()")
                    continue
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            traceback.print_exc()
            results[name] = {"status": "SPARK_ERROR", "error": str(ex)[:300]}
            print(f"{name}: SPARK_ERROR {str(ex)[:200]}")
            continue
        if name not in os_:
            results[name] = {"status": "rows_only", "rows": len(srows)}
            print(f"{name}: rows-only, {len(srows)} rows  ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.execute(os_[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
        except Exception as ex:
            results[name] = {"status": "ORACLE_ERROR", "error": str(ex)[:300]}
            print(f"{name}: ORACLE_ERROR {str(ex)[:200]}")
            continue
        sn, sc = normalize(srows, scols, exact_floats=not use_components)
        on, oc = normalize(orows, ocols, exact_floats=not use_components)
        if sc != oc:
            results[name] = {"status": "SCHEMA_MISMATCH", "spark": sc, "oracle": oc}
            print(f"{name}: SCHEMA_MISMATCH spark={sc} oracle={oc}")
        elif len(sn) != len(on):
            results[name] = {"status": "ROWCOUNT_MISMATCH", "spark": len(sn), "oracle": len(on)}
            print(f"{name}: ROWCOUNT_MISMATCH spark={len(sn)} oracle={len(on)}")
        elif sn != on:
            diff = [(a, b) for a, b in zip(sn, on) if a != b][:3]
            results[name] = {"status": "VALUE_MISMATCH", "examples": str(diff)[:500]}
            print(f"{name}: VALUE_MISMATCH e.g. {str(diff)[:300]}")
        else:
            results[name] = {"status": "ok", "rows": len(sn)}
            print(f"{name}: ok, {len(sn)} rows  ({time.time()-t0:.1f}s)")

    n_ok = sum(1 for r in results.values() if r["status"] == "ok")
    n_rows_only = sum(1 for r in results.values() if r["status"] == "rows_only")
    print(
        f"\n== {n_ok} ok / {n_rows_only} rows-only / "
        f"{len(results) - n_ok - n_rows_only} failing / {len(results)} total =="
    )
    with open("/tmp/check_correctness.json", "w") as f:
        json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
