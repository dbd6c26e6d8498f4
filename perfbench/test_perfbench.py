"""Self-tests for the benchmark's own logic.

Run from the repository root:

    python -m pytest perfbench/test_perfbench.py -q

The backfill-integrity test starts a Spark session (about 30 s).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)), os.getcwd()]

from stats import Ops, hd_quantile, tail, timed_op, warm_drift_ratio  # noqa: E402


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]  # 1..40, shuffled order must not matter
    value, pct, n = tail(list(reversed(xs)))
    assert n == 40
    assert pct == 75.0  # the order statistic 30 has exactly ten samples above it
    assert 29.0 < value < 32.0  # Harrell-Davis estimate around it


def test_tail_picks_highest_percentile_for_larger_runs():
    xs = list(range(1000))
    value, pct, _ = tail(xs)
    assert pct == 99.0
    assert 985.0 < value < 993.0


def test_tail_falls_back_to_median_when_under_sampled():
    value, pct, n = tail([5.0, 1.0, 3.0, 2.0, 4.0])
    assert (pct, n) == (50.0, 5)
    assert value == pytest.approx(3.0)
    value, pct, n = tail([float(i) for i in range(20)])
    assert pct == 50.0 and value == pytest.approx(9.5)  # ten of twenty lie above it


def test_hd_quantile_of_symmetric_samples_is_their_centre():
    assert hd_quantile([3.0], 0.5) == 3.0
    assert hd_quantile([1.0, 2.0, 3.0, 10.0, 11.0, 12.0], 0.5) == pytest.approx(6.5)
    assert hd_quantile([5.0, 1.0, 3.0], 0.5) == pytest.approx(3.0)
    assert hd_quantile([7.0] * 30, 0.9) == pytest.approx(7.0)


def test_hd_quantile_moves_smoothly_between_clusters():
    # two latency clusters with the quantile between them: moving one
    # sample across makes the order statistic jump by the gap, the
    # Harrell-Davis estimate by a small fraction of it
    low, high = [1.0] * 14, [2.0] * 13
    before, after = hd_quantile(low + high, 0.5), hd_quantile(low[1:] + high + [2.0], 0.5)
    assert 1.0 < before < after < 2.0
    assert after - before < 0.25
    low, high = [1.0] * 27, [2.0] * 9
    before, after = hd_quantile(low + high, 0.75), hd_quantile(low[1:] + high + [2.0], 0.75)
    assert 1.0 < before < after < 2.0
    assert after - before < 0.25


def test_warm_drift_ratio_normalises_each_kind():
    # two kinds at very different speeds, both flat: ratio is 1
    keys = ["a", "b"] * 8
    lat = [1.0, 10.0] * 8
    assert warm_drift_ratio(lat, keys) == pytest.approx(1.0)
    # a single kind speeding up by half: ratio is 0.5
    assert warm_drift_ratio([2.0] * 4 + [1.5] * 8 + [1.0] * 4) == pytest.approx(0.5)


def test_operation_that_raises_is_failed():
    ops = Ops()

    def boom():
        raise RuntimeError("executor lost")

    ok, _, out = timed_op(ops, boom, lambda r: "")
    assert not ok and out is None
    assert (ops.attempted, ops.failed, ops.latencies) == (1, 1, [])
    assert "executor lost" in ops.errors[0]


def test_operation_with_wrong_result_is_failed():
    ops = Ops()
    timed_op(ops, lambda: 41, lambda r: "" if r == 42 else f"got {r}")
    timed_op(ops, lambda: 42, lambda r: "" if r == 42 else f"got {r}")
    assert (ops.attempted, ops.failed, len(ops.latencies)) == (2, 1, 1)
    assert ops.errors == ["got 41"]


def test_check_that_raises_fails_the_operation():
    ops = Ops()

    def bad_check(_):
        raise ValueError("unreadable output")

    timed_op(ops, lambda: 1, bad_check)
    assert (ops.attempted, ops.failed) == (1, 1)


def test_later_failure_keeps_attempt_count():
    ops = Ops()
    ops.record(1.0, True)
    ops.fail_later("month lost")
    assert (ops.attempted, ops.failed) == (1, 1)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from e2e_data_pipeline_spark.session import get_spark

    s = get_spark("perfbench-selftest")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_backfill_integrity_flags_each_lost_month(spark, tmp_path):
    """Two monthly files into one output_dir: the check must fail the
    call of every month that is no longer readable under curated/, and
    only those."""
    import workloads

    c = workloads.Common(spark=spark, work=str(tmp_path), rng=np.random.default_rng(7), trace=False)
    etl = workloads.EtlTaxi(c)
    os.makedirs(etl.src)
    for i in range(2):
        color, y, m = workloads._month(i)
        etl.truth.append(gen_csv(c, etl._path(i), color, y, m))
    for i in range(2):
        r = etl._call(i)
        c.ops.record(1.0, not etl._verify(i, r))
        etl.results.append((i, r, 1.0))
    assert c.ops.failed == 0  # every call returned the right counts

    curated = os.path.join(etl.out, "curated")

    def present():
        return [
            i for i in range(2)
            if os.path.isdir(os.path.join(curated, *part_dirs(i)))
        ]

    if len(present()) == 2:  # the write keeps earlier months: simulate a loss
        import shutil

        shutil.rmtree(os.path.join(curated, *part_dirs(0)))
    lost = 2 - len(present())
    etl.check()
    assert lost >= 1
    assert c.ops.failed == lost
    assert etl.intact == 2 - lost
    assert c.correct is False


def part_dirs(i: int) -> list[str]:
    import workloads

    color, y, m = workloads._month(i)
    return [f"taxi_color={color}", f"year={y}", f"month={m}"]


def gen_csv(c, path, color, y, m):
    import gen

    return gen.write_taxi_csv(c.rng, path, color, y, m, 500, 0.1)
