"""Dump (query, column, spark_type, duckdb_type) for every strong oracle.

DuckDB side uses DESCRIBE (no execution); Spark side builds the DataFrame at
sf0.001 (analysis only for most queries). Used to derive the allowed type
mapping pinned by tests/test_oracle_types.py.
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dask_image_spark import queries as q
from dask_image_spark.session import get_spark
from tests.parity import duck_con

SF = "/root/testdata/sf0.001"


def main() -> None:
    q.load_all()
    spark = get_spark(app_name="oracle-type-dump")
    con = duck_con(SF)
    pairs: dict[tuple[str, str], list[str]] = {}
    for name, oracle in q.all_oracles().items():
        try:
            duck = con.execute(f"DESCRIBE {oracle}").fetchall()
            dtypes = {r[0]: r[1] for r in duck}
        except Exception:
            print(f"!! {name}: DESCRIBE failed")
            traceback.print_exc()
            continue
        try:
            reg = q.REGISTRY[name]
            if "io-write" in reg.tags and reg.schema is not None:
                # side-effectful construction: use the static declaration
                from pyspark.sql.types import StructType

                stypes = {
                    f.name: f.dataType.simpleString()
                    for f in StructType.fromDDL(reg.schema).fields
                }
            else:
                df = q.all_queries()[name](spark, SF)
                stypes = dict(df.dtypes)
        except Exception:
            print(f"!! {name}: spark build failed")
            traceback.print_exc()
            continue
        for col, st in stypes.items():
            dt = dtypes.get(col, "<MISSING>")
            pairs.setdefault((st, dt), []).append(f"{name}.{col}")
    print("\n=== distinct (spark_type, duck_type) pairs ===")
    for (st, dt), where in sorted(pairs.items()):
        ex = ", ".join(where[:3])
        print(f"{st:<28} {dt:<28} n={len(where):<4} e.g. {ex}")


if __name__ == "__main__":
    main()
