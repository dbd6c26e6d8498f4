"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and returns the
ground truth the correctness checks compare against (row counts, the
rows themselves), so the program under test only ever sees the files.

- :func:`write_tables` writes the ten analytics tables (TPC-H-like
  star schema plus ``events``/``documents``/``embeddings``) as one
  single-row-group parquet file each, shaped like the repository's
  fixture tables.
- :func:`write_taxi_csv` writes one NYC-TLC-shaped monthly gzip CSV
  (green ``lpep_*`` or yellow ``tpep_*`` columns) with a seeded share
  of zero-passenger rows.
- :func:`event_batches` cuts an event stream into ``ts``-ordered files
  with a bounded out-of-order share.
"""

from __future__ import annotations

import datetime as dt
import gzip
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter hash join key line "
    "merge order part query row scan slow small spark table the value window"
).split()
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_US_PER_DAY = 86_400_000_000


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> np.ndarray:
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Two-decimal doubles in [lo, hi] cents, as the fixtures store them."""
    return np.round(rng.integers(lo, hi + 1, n) / 100.0, 2)


def make_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The ten analytics tables at scale factor ``sf`` (sf 0.01 gives
    60k lineitem rows, like the repository's sf0.01 fixtures)."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(rng, -99_999, 999_999, n_supp),
        }
    )
    names = np.char.add(
        np.char.add(_pick(rng, _ADJ, n_part).astype(str), " "),
        _pick(rng, _NOUN, n_part).astype(str),
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names.astype(object),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    order_days = rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, _STATUS, n_ord),
            "o_totalprice": _cents(rng, 101_370, 49_997_859, n_ord),
            "o_orderdate": pa.array(
                _EPOCH_1995 + order_days.astype("timedelta64[D]"), pa.timestamp("us")
            ),
            "o_orderpriority": _pick(rng, _PRIORITY, n_ord),
        }
    )
    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": l_order.astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _cents(rng, 90_182, 10_499_788, n_line),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": pa.array(
                _EPOCH_1995
                + (order_days[l_order] + rng.integers(1, 122, n_line)).astype(
                    "timedelta64[D]"
                ),
                pa.timestamp("us"),
            ),
        }
    )
    t["events"] = make_events(rng, n_ev, n_users=max(150, n_ev // 67), days=30)
    t["documents"] = _documents(rng, n_doc)
    dim = 64
    emb = rng.standard_normal((n_emb, dim)).astype(np.float32) * np.float32(0.1)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.ravel(), pa.float32()), dim
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        words = _pick(rng, _WORDS, int(rng.integers(20, 80)))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, _LANGS, n),
            "source": np.char.add("src", rng.integers(0, 20, n).astype(str)).astype(object),
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def make_events(
    rng: np.random.Generator,
    n: int,
    n_users: int,
    days: int,
    start: np.datetime64 = _EPOCH_2024,
    first_id: int = 0,
) -> pa.Table:
    """``n`` events spread over ``days`` days in strictly increasing
    ``ts`` order (so (user_id, ts) is unique, as in the fixtures)."""
    span = days * _US_PER_DAY
    offs = np.sort(rng.choice(span, size=n, replace=False))
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": _cents(rng, 1, 49_002, n),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
            ).astype(object),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """One single-row-group parquet file per table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return {name: tbl.num_rows for name, tbl in tables.items()}


# ---------------------------------------------------------------------------
# Taxi CSVs
# ---------------------------------------------------------------------------

TAXI_PREFIX = {"green": "lpep", "yellow": "tpep"}


def write_taxi_csv(
    rng: np.random.Generator,
    path: str,
    color: str,
    year: int,
    month: int,
    n_rows: int,
    zero_share: float,
) -> dict[str, int]:
    """One monthly gzip CSV shaped like an NYC-TLC file. Returns the
    ground truth ``{"rows": n, "zero_passenger": z}``."""
    prefix = TAXI_PREFIX[color]
    start = np.datetime64(f"{year:04d}-{month:02d}-01", "s")
    days = (dt.date(year + month // 12, month % 12 + 1, 1) - dt.date(year, month, 1)).days
    pickup = start + rng.integers(0, days * 86_400 - 7_200, n_rows).astype("timedelta64[s]")
    dropoff = pickup + rng.integers(60, 7_200, n_rows).astype("timedelta64[s]")
    passengers = rng.integers(1, 7, n_rows)
    zero = rng.random(n_rows) < zero_share
    passengers[zero] = 0
    fare = _cents(rng, 250, 9_000, n_rows)
    tbl = pa.table(
        {
            "VendorID": rng.integers(1, 3, n_rows),
            f"{prefix}_pickup_datetime": pickup,
            f"{prefix}_dropoff_datetime": dropoff,
            "store_and_fwd_flag": _pick(rng, ["N", "N", "N", "Y"], n_rows),
            "RatecodeID": rng.integers(1, 6, n_rows),
            "PULocationID": rng.integers(1, 266, n_rows),
            "DOLocationID": rng.integers(1, 266, n_rows),
            "passenger_count": passengers,
            "trip_distance": _cents(rng, 0, 3_000, n_rows),
            "fare_amount": fare,
            "tip_amount": _cents(rng, 0, 2_000, n_rows),
            "total_amount": np.round(fare + 1.3, 2),
            "payment_type": rng.integers(1, 5, n_rows),
        }
    )
    # timestamps print as "YYYY-MM-DD HH:MM:SS", like the TLC files
    with gzip.open(path, "wb", compresslevel=1) as out:
        pacsv.write_csv(tbl, out, pacsv.WriteOptions(quoting_style="none"))
    return {"rows": n_rows, "zero_passenger": int(zero.sum())}


# ---------------------------------------------------------------------------
# Event stream files
# ---------------------------------------------------------------------------


def event_batches(
    rng: np.random.Generator,
    n_files: int,
    rows_per_file: int,
    file_span_s: int,
    late_share: float,
    max_late_s: int,
) -> list[pa.Table]:
    """``n_files`` consecutive slices of one event stream. File ``i``
    covers ``[i, i+1) * file_span_s`` of event time; ``late_share`` of
    its rows are shifted back by up to ``max_late_s`` seconds (bounded
    disorder, to be kept inside the watermark delay by the caller)."""
    out = []
    n_users = max(150, rows_per_file // 4)
    for i in range(n_files):
        start = _EPOCH_2024 + np.timedelta64(i * file_span_s, "s")
        tbl = make_events(
            rng,
            rows_per_file,
            n_users,
            days=1,
            start=start,
            first_id=i * rows_per_file,
        )
        # make_events spreads over a day; rescale into this file's span
        offs = (tbl["ts"].to_numpy() - start).astype(np.int64)
        offs = offs * file_span_s // 86_400
        late = rng.random(rows_per_file) < late_share
        offs[late] -= rng.integers(0, max_late_s * 1_000_000, int(late.sum()))
        tbl = tbl.set_column(
            1, "ts", pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us"))
        )
        out.append(tbl)
    return out
