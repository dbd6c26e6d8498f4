"""Driver-side caches that repeated queries rely on.

- ``catalog.load_table`` infers a parquet schema once per file
  signature and passes Spark's own inferred schema to later reads, so
  a repeated load launches no schema-inference job, a rewritten file is
  re-inferred, and every load is still a new relation.
- The session's whole-stage-codegen cache holds the working set of the
  ``olap_mix`` benchmark keys, so a repeated pass compiles (almost)
  nothing.
- A file's signature covers a dataset directory's contents, so a part
  file rewritten in place or added is seen by the catalog, the frame
  cache and the plan cache.
- ``frame_cache`` rebuilds a rollup whose table has changed.
- ``QUERIES[key]`` reuses the analyzed plan of an earlier build while
  its inputs are unchanged, and never reuses a build that launched a
  job or whose plan is nondeterministic.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from e2e_data_pipeline_spark.catalog import load_table, memo, table_path
from e2e_data_pipeline_spark.operators import ORACLES, QUERIES, frame_cache, register
from e2e_data_pipeline_spark.schemas import TABLES

from tests.conftest import REPO_ROOT, SF_SMALL
from tools.check_oracle import canon

# the keys of the olap_mix benchmark workload: 5 scan keys, then the 4
# report keys that read frame-cache rollups
OLAP_MIX_KEYS = [
    "join_multiway",
    "agg_groupby",
    "join_shuffle",
    "win_topk_per_group",
    "sort_limit",
    "ts_pacf",
    "ts_holt_winters",
    "stats_sign_test",
    "dq_drift_tvd",
]


def _jobs_launched(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_file_launches_no_job(spark, tmp_path):
    shutil.copy(table_path(SF_SMALL, "orders"), table_path(str(tmp_path), "orders"))
    first, jobs1 = _jobs_launched(
        spark, "catalog-first-load", lambda: load_table(spark, str(tmp_path), "orders")
    )
    second, jobs2 = _jobs_launched(
        spark, "catalog-second-load", lambda: load_table(spark, str(tmp_path), "orders")
    )
    assert jobs1, "the first load should infer the schema with a Spark job"
    assert jobs2 == []
    assert second.schema == first.schema
    assert second.count() == first.count() > 0


def test_rewritten_file_reloads_new_schema(spark, tmp_path):
    sf = str(tmp_path)
    path = table_path(sf, "orders")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert load_table(spark, sf, "orders").columns == ["a"]
    load_table(spark, sf, "orders")  # a cached-schema read
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load_table(spark, sf, "orders")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]

    # a dataset directory overwritten by Spark at the same path
    os.remove(path)
    spark.range(4).write.mode("overwrite").parquet(path)
    assert load_table(spark, sf, "orders").columns == ["id"]
    spark.range(5).select(F.col("id").cast("string").alias("s")).write.mode(
        "overwrite"
    ).parquet(path)
    df = load_table(spark, sf, "orders")
    assert df.columns == ["s"]
    assert df.count() == 5


def test_self_join_of_two_loads_matches_duckdb(spark):
    load_table(spark, SF_SMALL, "orders")  # later loads take the cached schema
    a = load_table(spark, SF_SMALL, "orders")
    b = load_table(spark, SF_SMALL, "orders")
    n = a.join(b, a["o_custkey"] == b["o_custkey"]).count()
    path = table_path(SF_SMALL, "orders")
    (expected,) = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{path}') x"
        f" JOIN read_parquet('{path}') y ON x.o_custkey = y.o_custkey"
    ).fetchone()
    assert n == expected > 0


def test_repeated_olap_mix_pass_compiles_nothing(spark):
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass():
        for key in OLAP_MIX_KEYS:
            QUERIES[key](spark, SF_SMALL).write.format("noop").mode("overwrite").save()

    one_pass()
    before = metric.getCount()
    one_pass()
    # With Spark's default cache of 100 entries the second pass
    # recompiles well over 60 classes. It is not held to exactly 0:
    # adaptive execution can re-plan a multi-join key from run to run,
    # and a new plan variant is new code. Run 25 times alone, ts_pacf
    # compiled 4 classes on one later run (the 2nd or the 6th) with
    # adaptive execution on, and none after the first with it off.
    assert metric.getCount() - before <= 8



def _copy_fixtures(tmp_path) -> str:
    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf)
    return sf


def _halve(path: str) -> None:
    """Rewrite the parquet file at ``path`` in place with half its rows."""
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 2), path)


def _assert_matches_oracle(df, sf: str, key: str) -> None:
    con = duckdb.connect()
    for t in TABLES:
        path = table_path(sf, t)
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    assert canon(df.toPandas()) == canon(con.sql(ORACLES[key]).df())


def _count_builds(monkeypatch, key: str) -> list:
    """Count the runs of ``key``'s operator body (the function the
    registry wrapper calls through ``__wrapped__``)."""
    q = QUERIES[key]
    inner = q.__wrapped__
    builds: list = []

    def counted(spark, sf_dir):
        builds.append(sf_dir)
        return inner(spark, sf_dir)

    monkeypatch.setattr(q, "__wrapped__", counted)
    return builds


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def test_part_file_rewritten_in_place_reloads_new_schema(spark, tmp_path):
    sf = str(tmp_path)
    part = os.path.join(table_path(sf, "orders"), "part-0.parquet")
    os.makedirs(os.path.dirname(part))
    pq.write_table(pa.table({"a": [1, 2, 3]}), part)
    assert load_table(spark, sf, "orders").columns == ["a"]
    load_table(spark, sf, "orders")  # a cached-schema read
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), part)
    df = load_table(spark, sf, "orders")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_frame_rollup_rebuilt_after_its_table_changes(spark, tmp_path):
    sf = _copy_fixtures(tmp_path)
    before = QUERIES["ts_pacf"](spark, sf).collect()
    _halve(table_path(sf, "events"))
    df = QUERIES["ts_pacf"](spark, sf)
    _assert_matches_oracle(df, sf, "ts_pacf")
    assert df.collect() != before


@pytest.mark.parametrize("key", OLAP_MIX_KEYS)
def test_repeated_call_reuses_analyzed_plan(spark, monkeypatch, key):
    first = QUERIES[key](spark, SF_SMALL)  # may infer schemas or fill frames
    QUERIES[key](spark, SF_SMALL)  # a build that launches no job is kept
    rows = _rows(first)
    builds = _count_builds(monkeypatch, key)
    again = QUERIES[key](spark, SF_SMALL)
    assert builds == []
    assert again is not first
    assert again is not QUERIES[key](spark, SF_SMALL)
    assert _rows(again) == rows


def _reused_then_changed(spark, monkeypatch, key: str, sf: str, change):
    """Fill the plan cache for ``key``, check that a call reuses it,
    apply ``change`` and return the next call's DataFrame, checking
    that it ran the build."""
    QUERIES[key](spark, sf)
    QUERIES[key](spark, sf)
    builds = _count_builds(monkeypatch, key)
    QUERIES[key](spark, sf)
    assert builds == [], "a call on unchanged inputs should reuse the plan"
    change()
    df = QUERIES[key](spark, sf)
    assert len(builds) == 1, "a change to the inputs should force a rebuild"
    return df


def test_conf_change_forces_rebuild(spark, monkeypatch, tmp_path):
    sf = _copy_fixtures(tmp_path)
    conf = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf)
    try:
        df = _reused_then_changed(
            spark, monkeypatch, "agg_groupby", sf,
            lambda: spark.conf.set(conf, str(int(old) + 1)),
        )
        _assert_matches_oracle(df, sf, "agg_groupby")
    finally:
        spark.conf.set(conf, old)


def test_rewritten_input_file_forces_rebuild(spark, monkeypatch, tmp_path):
    sf = _copy_fixtures(tmp_path)
    df = _reused_then_changed(
        spark, monkeypatch, "agg_groupby", sf,
        lambda: _halve(table_path(sf, "lineitem")),
    )
    _assert_matches_oracle(df, sf, "agg_groupby")


def test_added_part_file_forces_rebuild(spark, monkeypatch, tmp_path):
    sf = _copy_fixtures(tmp_path)
    path = table_path(sf, "lineitem")
    os.rename(path, path + ".src")
    os.makedirs(path)
    os.rename(path + ".src", os.path.join(path, "part-0.parquet"))

    def add_part():
        shutil.copy(os.path.join(path, "part-0.parquet"), os.path.join(path, "part-1.parquet"))
        _halve(os.path.join(path, "part-1.parquet"))

    df = _reused_then_changed(spark, monkeypatch, "agg_groupby", sf, add_part)
    _assert_matches_oracle(df, sf, "agg_groupby")


def test_evicted_frame_forces_rebuild(spark, monkeypatch, tmp_path):
    sf = _copy_fixtures(tmp_path)

    def evict():
        memo(spark).evict(sf)

    df = _reused_then_changed(spark, monkeypatch, "ts_pacf", sf, evict)
    _assert_matches_oracle(df, sf, "ts_pacf")


def test_build_that_launches_a_job_runs_every_call(spark, monkeypatch):
    builds = _count_builds(monkeypatch, "sink_parquet_partitioned")
    for _ in range(3):
        QUERIES["sink_parquet_partitioned"](spark, SF_SMALL)
    assert len(builds) == 3


def test_nondeterministic_plan_is_never_reused(spark, monkeypatch):
    key = "test_rand_column"

    @register(key)
    def rand_column(spark, sf_dir):
        return load_table(spark, sf_dir, "orders").select("o_orderkey", F.rand().alias("r"))

    try:
        rand_column(spark, SF_SMALL)
        builds = _count_builds(monkeypatch, key)
        a, b = rand_column(spark, SF_SMALL), rand_column(spark, SF_SMALL)
        assert len(builds) == 2
        assert _rows(a) != _rows(b)
    finally:
        del QUERIES[key]


@pytest.mark.parametrize("in_subquery", [False, True])
def test_plan_over_directory_not_read_through_load_table_is_never_reused(
    spark, monkeypatch, tmp_path, in_subquery
):
    """An empty landing directory contributes no ``inputFiles()``, but a
    reused plan would keep its empty listing after files arrive."""
    key = "test_landing_count"
    land = str(tmp_path / "land")
    os.makedirs(land)

    @register(key)
    def landing_count(spark, sf_dir):
        n = spark.read.schema("a long").parquet(land).agg(F.count("*").alias("n"))
        return spark.range(1).select(n.scalar().alias("n")) if in_subquery else n

    try:
        landing_count(spark, SF_SMALL)
        builds = _count_builds(monkeypatch, key)
        assert landing_count(spark, SF_SMALL).first()["n"] == 0
        pq.write_table(pa.table({"a": [1, 2]}), os.path.join(land, "part-0.parquet"))
        assert landing_count(spark, SF_SMALL).first()["n"] == 2
        assert len(builds) == 2
    finally:
        del QUERIES[key]


def test_reused_bloom_join_still_executes_without_broadcast(spark, monkeypatch):
    key = "join_bloom_runtime"
    QUERIES[key](spark, SF_SMALL)
    QUERIES[key](spark, SF_SMALL)
    builds = _count_builds(monkeypatch, key)
    df = QUERIES[key](spark, SF_SMALL)
    df.collect()
    assert builds == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_concurrent_callers_get_equal_results(spark, tmp_path):
    """More threads than cores call two keys on a fresh fixture copy,
    racing on the frame fill and the plan-cache fill; every call of a
    key must return the same rows."""
    sf = _copy_fixtures(tmp_path)

    def run(key):
        return _rows(QUERIES[key](spark, sf))

    keys = ["ts_pacf", "agg_groupby"] * 6
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(spark.sparkContext.defaultParallelism + 2) as pool:
            futures = [pool.submit(run, k) for k in keys]
            results = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    for key, got in zip(keys, results):
        assert got == results[keys.index(key)]


def test_callers_on_two_dirs_build_each_rollup_once_and_concurrently(
    spark, monkeypatch, tmp_path
):
    """Two threads per fixture copy interleave three keys on two fresh
    copies (with ``SF_SMALL``, three dirs: within the bound). The first
    rollup build of each copy waits at a barrier for the other copy's,
    so a lookup that waits for another entry's build times out."""
    keys = ["ts_pacf", "dq_drift_tvd", "agg_groupby"]
    expected = {k: _rows(QUERIES[k](spark, SF_SMALL)) for k in keys}
    dirs = [str(tmp_path / f"sf{i}") for i in range(2)]
    for d in dirs:
        shutil.copytree(SF_SMALL, d)

    builds: dict = {}
    barrier = threading.Barrier(len(dirs), timeout=120)
    original = frame_cache.session_cached

    def counted(spark, sf_dir, name, build):
        def timed_build():
            builds[(sf_dir, name)] = builds.get((sf_dir, name), 0) + 1
            if name == "events_daily_by_type":
                barrier.wait()
            return build()

        return original(spark, sf_dir, name, timed_build)

    monkeypatch.setattr(frame_cache, "session_cached", counted)

    def run(sf_dir, order):
        return [(k, _rows(QUERIES[k](spark, sf_dir))) for k in order * 2]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(2 * len(dirs)) as pool:
            futures = [
                pool.submit(run, d, keys[i:] + keys[:i])
                for d in dirs
                for i in range(2)
            ]
            results = [f.result(timeout=600) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    for calls in results:
        for key, got in calls:
            assert got == expected[key], key
    assert {d for d, _ in builds} == set(dirs)
    assert all(n == 1 for n in builds.values()), builds


# Runs in its own interpreter: it stops its session, and it inspects
# everything reachable from the package's module-level names.
MEMO_SCRIPT = r"""
import gc
import os
import shutil
import sys
import types
import weakref

sys.path.insert(0, sys.argv[1])
work, mode, SF_SMALL = sys.argv[2], sys.argv[3], sys.argv[4]
os.environ["SPARK_GRAFT_CPUS"] = "2"

from e2e_data_pipeline_spark.operators import QUERIES
from e2e_data_pipeline_spark.session import get_spark

MAX_DIRS = 3


def held_dirs(dirs, *roots):
    # The dirs among ``dirs`` that a string reachable from the package's
    # module-level names (or from ``roots``) names. Functions, classes
    # and modules are not followed, so the walk stays in data.
    skip = (types.ModuleType, type, types.FunctionType, types.MethodType,
            types.BuiltinFunctionType, types.CodeType, types.FrameType)
    mods = [m for n, m in list(sys.modules.items()) if n.startswith("e2e_data_pipeline_spark")]
    module_dicts = {id(vars(m)) for m in list(sys.modules.values()) if m is not None}
    stack = [v for m in mods for v in vars(m).values()] + list(roots)
    seen, held = set(), set()
    while stack:
        o = stack.pop()
        if id(o) in seen:
            continue
        seen.add(id(o))
        if isinstance(o, str):
            held.update(d for d in dirs if o == d or o.startswith(d + os.sep))
        elif not isinstance(o, skip) and id(o) not in module_dicts:
            stack.extend(gc.get_referents(o))
    return held


def fill(spark, dirs):
    for d in dirs:
        for key in ("ts_pacf", "agg_groupby"):
            for _ in range(2):
                QUERIES[key](spark, d).collect()


dirs = []
for i in range(5):
    dirs.append(os.path.join(work, f"sf{i}"))
    shutil.copytree(SF_SMALL, dirs[-1])

spark = get_spark("memo-" + mode)
if mode == "bound":
    fill(spark, dirs)
    held = held_dirs(dirs, spark)
    assert held == set(dirs[-MAX_DIRS:]), sorted(held)
else:
    fill(spark, dirs[:2])
    QUERIES["join_cbo_reorder"](spark, dirs[2]).collect()
    old = weakref.ref(spark.sparkContext)
    spark.stop()
    del spark
    spark = get_spark("memo-restarted")
    # the stopped application's catalog (and its CBO tables) is gone
    QUERIES["join_cbo_reorder"](spark, dirs[2]).collect()
    fill(spark, dirs[2:3])
    gc.collect()
    assert held_dirs(dirs[:2], spark) == set(), sorted(held_dirs(dirs[:2], spark))
    assert held_dirs(dirs[2:3], spark) == set(dirs[2:3])
    assert old() is None, "the stopped application's context is still referenced"
spark.stop()
print("ok")
"""


def _run_memo_script(tmp_path, mode: str) -> None:
    script = tmp_path / "memo.py"
    script.write_text(MEMO_SCRIPT)
    work = tmp_path / "work"
    work.mkdir()
    proc = subprocess.run(
        [sys.executable, str(script), REPO_ROOT, str(work), mode, SF_SMALL],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and proc.stdout.strip().endswith("ok"), (
        proc.stdout[-2000:] + proc.stderr[-4000:]
    )


def test_caches_hold_at_most_the_last_three_dirs(tmp_path):
    """Facts, frames and plans of ``QUERIES`` calls on five fixture dirs
    are kept for the three used last only."""
    _run_memo_script(tmp_path, "bound")


def test_stopped_application_leaves_no_cache_entry(tmp_path):
    """After ``spark.stop()`` and a new session, nothing the package
    holds names a dir the stopped application read, the stopped context
    can be collected, and state kept in the stopped application's
    catalog is built again."""
    _run_memo_script(tmp_path, "stop")
