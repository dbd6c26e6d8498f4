"""Local replica of the driver's DuckDB-oracle correctness gate.

For every key in ``queries()``: run the Spark DataFrame and the oracle
SQL on the same sf dir, sort columns by name, canonicalize rows, and
compare exactly (floats bit-for-bit, which is what an order-insensitive
value-hash requires). Run this BEFORE the driver does.

Each key is called twice, and both results are compared: the second
call of a key whose build qualifies is served from the plan the
registry kept from the first (operators/registry.py, "Plan reuse"), so
this also checks reused plans. The summary counts the keys whose
second call ran no build.

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [key ...]
"""

from __future__ import annotations

import argparse
import contextlib
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


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> str | None:
    """None if ``sdf`` and ``odf`` hold the same canonical rows, else
    what differs first."""
    (acols, arows), (bcols, brows) = canon(sdf), canon(odf)
    if acols != bcols:
        return f"columns {acols} != {bcols}"
    if len(arows) != len(brows):
        return f"row count {len(arows)} != {len(brows)}"
    for i, (ra, rb) in enumerate(zip(arows, brows)):
        if ra != rb:
            return (
                f"first mismatch at canon-row {i} (cols {acols}):\n"
                f"       spark : {ra}\n       duckdb: {rb}"
            )
    return None


@contextlib.contextmanager
def counting_builds(query):
    """Count the builds a registered query runs inside the block: the
    registry runs the operator through the wrapper's ``__wrapped__``."""
    inner, builds = query.__wrapped__, []
    query.__wrapped__ = lambda spark, sf_dir: builds.append(1) or inner(spark, sf_dir)
    try:
        yield builds
    finally:
        query.__wrapped__ = inner


def run(sf_dir: str, keys: list[str] | None) -> int:
    from e2e_data_pipeline_spark.operators import QUERIES
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

    failed, skipped, reused = [], [], 0
    for name, fn in queries.items():
        if keys and name not in keys:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
            with counting_builds(QUERIES[name]) as builds:
                sdf2 = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: spark raised {type(e).__name__}: {e}")
            failed.append(name)
            continue
        reused += not builds
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)}, {len(sdf2)} rows ({time.time()-t0:.1f}s)")
            skipped.append(name)
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL] {name}: duckdb raised {type(e).__name__}: {e}")
            failed.append(name)
            continue
        why = compare(sdf, odf)
        why2 = compare(sdf2, odf)
        if why or why2:
            print(f"[FAIL] {name}: " + (why or "second call: " + why2))
            failed.append(name)
        else:
            print(f"[ OK ] {name}: {len(sdf)} rows match exactly, twice ({time.time()-t0:.1f}s)")

    n = len(keys) if keys else len(queries)
    print(
        f"\n{n - len(failed) - len(skipped)} ok, "
        f"{len(skipped)} rows-only, {len(failed)} failed"
        + (f": {failed}" if failed else "")
        + f"; second call served from a reused plan: {reused} of {n} keys"
    )
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    sys.exit(run(args.sf, args.keys or None))
