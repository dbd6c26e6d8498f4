"""Unit pins for the pushdown-capable Python DataSource behind
scan_python_ds_pushdown (sources/python_ds.py ShardedLcgReader).

The operator's oracle hash proves pushdown was OFFERED and CONSUMED
(n_filters_pushed = 1 rides in every row); these tests pin the part
the hash can't see — that consuming the filter actually SHRINKS the
planned partition set (1 task instead of 8), and that unsupported
filters are handed back for engine-side application.
"""

from __future__ import annotations

from pyspark.sql.datasource import EqualTo, GreaterThan

from e2e_data_pipeline_spark.sources.python_ds import ShardedLcgReader


def test_equalto_bucket_prunes_partitions():
    r = ShardedLcgReader({"rows": "64000", "shards": "8"})
    assert len(r.partitions()) == 8  # no filter → all shards
    remaining = r.pushFilters([EqualTo(("bucket",), 3)])
    assert list(remaining) == []  # consumed
    parts = r.partitions()
    assert len(parts) == 1
    assert (parts[0].lo, parts[0].hi) == (24000, 32000)
    assert r.n_pushed == 1
    # rows carry the pushdown evidence and the right shard's content
    rows = list(r.read(parts[0]))
    assert len(rows) == 8000
    assert all(b == 3 for _, b, _, _ in rows)
    assert all(p == 1 for _, _, _, p in rows)


def test_unsupported_filters_returned_to_engine():
    r = ShardedLcgReader({"rows": "64000", "shards": "8"})
    gt = GreaterThan(("val",), 50)
    eq_other = EqualTo(("id",), 7)
    remaining = list(r.pushFilters([gt, EqualTo(("bucket",), 5), eq_other]))
    assert remaining == [gt, eq_other]  # only bucket-EqualTo consumed
    assert len(r.partitions()) == 1


def test_out_of_range_bucket_yields_empty_scan():
    r = ShardedLcgReader({"rows": "64000", "shards": "8"})
    r.pushFilters([EqualTo(("bucket",), 99)])
    # the filter was consumed, so the engine will NOT re-apply it —
    # a bucket no shard can satisfy must plan the empty scan (a full
    # scan here would wrongly return all 64000 rows for bucket = 99)
    parts = r.partitions()
    assert len(parts) == 1 and (parts[0].lo, parts[0].hi) == (0, 0)
    rows = [row for p in parts for row in r.read(p)]
    assert rows == []


def test_out_of_range_bucket_empty_end_to_end(spark):
    from e2e_data_pipeline_spark.session import scoped_session
    from e2e_data_pipeline_spark.sources.python_ds import (
        register_python_sources,
    )

    register_python_sources(spark)
    scoped = scoped_session(
        spark, {"spark.sql.python.filterPushdown.enabled": "true"}
    )
    df = (
        scoped.read.format("sharded_lcg")
        .option("rows", "800")
        .option("shards", "8")
        .load()
        .where("bucket = 99")
    )
    assert df.count() == 0
