"""Local replica of the driver's DuckDB-oracle correctness gate.

For every key in ``queries()``: run the Spark DataFrame and the oracle
SQL on the same sf dir, sort columns by name, canonicalize rows, and
compare exactly (floats bit-for-bit, which is what an order-insensitive
value-hash requires). Run this BEFORE the driver does.

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [key ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from e2e_data_pipeline_spark.schemas import TABLES  # noqa: E402


def canon(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Sort columns by name, normalize cell values, sort rows.

    Returns (column_names, sorted_row_tuples) — NOT a DataFrame, which
    would coerce None back into NaN in float columns (NaN != NaN).
    """
    cols = sorted(df.columns)
    df = df[cols]

    def norm(v):
        if v is None:
            return None
        if isinstance(v, float):
            if math.isnan(v):
                return None
            return float(v)
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        if hasattr(v, "tolist"):  # numpy arrays / scalars
            out = v.tolist()
            return tuple(out) if isinstance(out, list) else out
        return v

    rows = [tuple(norm(v) for v in row) for row in df.itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple(map(repr, r)))
    return cols, rows


def run(sf_dir: str, keys: list[str] | None) -> int:
    from e2e_data_pipeline_spark.session import get_spark
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    spark = get_spark("oracle-check")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failed, skipped = [], []
    for name, fn in queries.items():
        if keys and name not in keys:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: spark raised {type(e).__name__}: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            skipped.append(name)
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: duckdb raised {type(e).__name__}: {e}")
            failed.append(name)
            continue
        (acols, arows), (bcols, brows) = canon(sdf), canon(odf)
        if acols != bcols:
            print(f"[FAIL] {name}: columns {acols} != {bcols}")
            failed.append(name)
            continue
        if len(arows) != len(brows):
            print(f"[FAIL] {name}: row count {len(arows)} != {len(brows)}")
            failed.append(name)
            continue
        mism = next(
            ((i, ra, rb) for i, (ra, rb) in enumerate(zip(arows, brows)) if ra != rb),
            None,
        )
        if mism:
            i, ra, rb = mism
            print(f"[FAIL] {name}: first mismatch at canon-row {i} (cols {acols}):")
            print(f"       spark : {ra}")
            print(f"       duckdb: {rb}")
            failed.append(name)
        else:
            print(f"[ OK ] {name}: {len(arows)} rows match exactly ({time.time()-t0:.1f}s)")

    print(
        f"\n{len(queries) - len(failed) - len(skipped)} ok, "
        f"{len(skipped)} rows-only, {len(failed)} failed"
        + (f": {failed}" if failed else "")
    )
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    sys.exit(run(args.sf, args.keys or None))
