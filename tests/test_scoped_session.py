"""Operator-scoped SQL conf: an operator that needs its own conf runs
in ``session.scoped_session`` (a clone of the caller's session), so
the caller's conf, temp views and listener bus are never changed by
it, and a lazily returned query still runs under the scoped conf.
"""

from __future__ import annotations

import pathlib
import re
import threading

from e2e_data_pipeline_spark.operators import QUERIES
from e2e_data_pipeline_spark.session import CHECKPOINT_MANAGER_KEY, scoped_session

from tests.conftest import REPO_ROOT, SF_SMALL

PARTS = "spark.sql.shuffle.partitions"
TZ = "spark.sql.session.timeZone"


def test_scoped_session_clones_overrides_and_resyncs(spark):
    caller = spark.newSession()
    caller.conf.set(TZ, "America/New_York")
    caller.conf.set(PARTS, "7")

    clone = scoped_session(caller, {PARTS: "3"})
    assert clone is not caller
    assert clone.conf.get(TZ) == "America/New_York"  # runtime conf kept
    assert clone.conf.get(PARTS) == "3"
    assert caller.conf.get(PARTS) == "7"  # caller untouched
    assert scoped_session(caller, {PARTS: "3"}) is clone
    assert scoped_session(caller, {PARTS: "5"}) is not clone

    caller.conf.set(TZ, "Asia/Tokyo")
    caller.conf.set("spark.sql.ansi.enabled", "false")
    assert scoped_session(caller, {PARTS: "3"}) is clone
    assert clone.conf.get(TZ) == "Asia/Tokyo"
    assert clone.conf.get("spark.sql.ansi.enabled") == "false"
    assert clone.conf.get(PARTS) == "3"  # the override still wins

    caller.conf.unset("spark.sql.ansi.enabled")
    scoped_session(caller, {PARTS: "3"})
    assert "spark.sql.ansi.enabled" not in clone.conf.getAll

    clone.range(1).createOrReplaceTempView("scoped_only_view")
    assert not caller.catalog.tableExists("scoped_only_view")


def test_resync_covers_keys_spark_does_not_register(spark):
    """Keys Spark does not register as SQL conf (so ``isModifiable`` is
    false for them) are still runtime conf: a clone follows the
    caller's changes to them, and the caller never sees the clone's."""
    caller = spark.newSession()
    clone = scoped_session(caller, {PARTS: "3"})
    for key in (CHECKPOINT_MANAGER_KEY, "spark.hadoop.fs.scoped.marker"):
        assert not caller.conf.isModifiable(key)
        for value in ("first", "second"):
            caller.conf.set(key, value)
            assert scoped_session(caller, {PARTS: "3"}) is clone
            assert clone.conf.get(key) == value
        clone.conf.set(key, "clone-only")
        assert caller.conf.get(key) == "second"
        caller.conf.unset(key)
        scoped_session(caller, {PARTS: "3"})
        assert clone.conf.get(key, None) is None


def test_sigma_clip_leaves_no_temp_view_in_caller(spark):
    caller = spark.newSession()
    QUERIES["sql_scripting_sigma_clip"](caller, SF_SMALL).collect()
    assert not caller.catalog.tableExists("sclip_orders")
    assert caller.conf.get("spark.sql.scripting.enabled", None) in (None, "false")


def test_stream_ops_never_change_the_callers_conf(spark):
    """A concurrent reader of the caller's conf must see only the
    value the caller set while a wrapped ``stream_*`` operator runs."""
    caller = spark.newSession()
    caller.conf.set(PARTS, "7")
    errors: list[BaseException] = []

    def run():
        try:
            QUERIES["stream_state_reader"](caller, SF_SMALL).collect()
        except BaseException as e:  # pragma: no cover - surfaced below
            errors.append(e)

    t = threading.Thread(target=run)
    t.start()
    seen = set()
    while t.is_alive():
        seen.add(caller.conf.get(PARTS))
    t.join()
    assert not errors, errors
    assert seen <= {"7"}, seen


def test_scoped_state_checkpoint_adds_no_listener_bus(spark):
    """``stream_state_metadata`` (32 pinned state partitions) must not
    leave more streaming listener buses behind per call than
    ``stream_state_reader``; Spark's own ``statestore`` read adds one
    per call to both."""
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def stream_buses() -> int:
        # Other listeners come and go as sessions are garbage-collected,
        # so only the streaming buses are counted.
        return sum(
            1
            for listener in bus.listeners()
            if listener.getClass().getSimpleName() == "StreamingQueryListenerBus"
        )

    def growth(key: str, calls: int = 2) -> int:
        before = stream_buses()
        for _ in range(calls):
            QUERIES[key](spark, SF_SMALL).collect()
        return stream_buses() - before

    for key in ("stream_state_metadata", "stream_state_reader"):
        QUERIES[key](spark, SF_SMALL).collect()  # first-use set-up
    assert growth("stream_state_metadata") <= growth("stream_state_reader")


_MUTATORS = re.compile(r"\.conf\.set\(|\.conf\.unset\(|newSession\(")


def test_only_session_module_touches_session_conf():
    pkg = pathlib.Path(REPO_ROOT) / "e2e_data_pipeline_spark"
    offenders = [
        f"{path.relative_to(REPO_ROOT)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _MUTATORS.search(line)
    ]
    assert not offenders, "\n".join(offenders)
