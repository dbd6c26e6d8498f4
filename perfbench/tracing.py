"""Tracing for the ``--trace 1`` run, all of it from outside the program.

- Timing shims on the public functions of each layer (``session``,
  ``catalog``, ``operators.frame_cache``, ``sources``, ``plans``,
  ``streaming.core``). They are installed before
  ``e2e_data_pipeline_spark.operators`` is imported, because the
  operator modules bind ``load_table`` and the frame-cache helpers by
  name at import time: ``frame_cache`` is loaded ahead of its package
  so that those bindings already see the shims.
- Spark jobs, stages and tasks per operation, from job groups and
  ``SparkStatusTracker``, and the engine task metrics of those stages
  from Spark's monitoring REST API. (Spark's event log would carry the
  same metrics, but writing it doubled the latency of the operations
  it was meant to explain.)
- Streaming progress from a ``StreamingQueryListener``.

Spans are kept in memory; a layer's self time is its span time minus
the part covered by its child spans.
"""

from __future__ import annotations

import functools
import importlib
import importlib.util
import json
import os
import sys
import time
from collections import Counter, defaultdict


class Tracer:
    """Span totals per name (with the time covered by child spans, for
    self time), call counts and free-form counters."""

    def __init__(self) -> None:
        self.enabled = False
        self.total: dict[str, float] = defaultdict(float)
        self.child: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.counts: Counter = Counter()
        self._stack: list[list] = []  # [name, child_time]

    def span(self, name: str, fn):
        """Wrap ``fn`` so each call records a span named ``name``."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            frame = [name, 0.0]
            self._stack.append(frame)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self._stack.pop()
                self.total[name] += dt
                self.child[name] += frame[1]
                self.calls[name] += 1
                if self._stack:
                    self._stack[-1][1] += dt

        wrapper.__wrapped_by_perfbench__ = True
        return wrapper

    def self_time(self, name: str) -> float:
        return self.total[name] - self.child[name]

    def reset(self) -> None:
        self.total.clear()
        self.child.clear()
        self.calls.clear()
        self.counts.clear()


#: One tracer per process: the shims replace module-level functions of
#: the program, so the state they record into is module-level too.
TRACER = Tracer()


def _patch(module, names, prefix: str) -> None:
    for n in names:
        fn = getattr(module, n)
        if not getattr(fn, "__wrapped_by_perfbench__", False):
            setattr(module, n, TRACER.span(f"{prefix}.{n}", fn))


def _instrument_session_cached(fc) -> None:
    """Count frame-cache lookups, misses (the ``build`` callable runs)
    and build time, without touching the cache's own state."""
    original = fc.session_cached

    @functools.wraps(original)
    def session_cached(spark, sf_dir, name, build):
        if not TRACER.enabled:
            return original(spark, sf_dir, name, build)
        TRACER.counts["frame_cache.calls"] += 1

        def timed_build():
            TRACER.counts["frame_cache.misses"] += 1
            t0 = time.perf_counter()
            try:
                return build()
            finally:
                TRACER.total["frame_cache.build"] += time.perf_counter() - t0

        return original(spark, sf_dir, name, timed_build)

    session_cached.__wrapped_by_perfbench__ = True
    fc.session_cached = session_cached


def install_shims() -> None:
    """Install the timing shims. Must run before anything imports
    ``e2e_data_pipeline_spark.operators``."""
    if "e2e_data_pipeline_spark.operators" in sys.modules:
        raise RuntimeError("shims must be installed before the operators import")
    import e2e_data_pipeline_spark as pkg
    from e2e_data_pipeline_spark import catalog, session

    _patch(session, ["get_spark"], "session")
    _patch(catalog, ["load_table"], "catalog")

    name = "e2e_data_pipeline_spark.operators.frame_cache"
    path = os.path.join(os.path.dirname(pkg.__file__), "operators", "frame_cache.py")
    spec = importlib.util.spec_from_file_location(name, path)
    fc = importlib.util.module_from_spec(spec)
    sys.modules[name] = fc
    spec.loader.exec_module(fc)
    _instrument_session_cached(fc)
    _patch(fc, ["events_daily_by_type", "events_daily", "lineitem_daily", "orders_daily"], "frame_cache")

    sources = importlib.import_module("e2e_data_pipeline_spark.sources")
    _patch(sources, ["fetch_to_staging", "read_parquet_any", "write_parquet_partitioned"], "sources")
    plans = importlib.import_module("e2e_data_pipeline_spark.plans")
    _patch(plans, ["main_flow"], "plans")

    core = importlib.import_module("e2e_data_pipeline_spark.streaming.core")
    streaming = importlib.import_module("e2e_data_pipeline_spark.streaming")
    public = [
        n
        for n, v in vars(core).items()
        if callable(v) and not n.startswith("_") and getattr(v, "__module__", "") == core.__name__
    ]
    _patch(core, public, "streaming")
    for n in public:
        if hasattr(streaming, n):
            setattr(streaming, n, getattr(core, n))

    ops = importlib.import_module("e2e_data_pipeline_spark.operators")
    ops.frame_cache = fc


# ---------------------------------------------------------------------------
# Spark jobs per operation
# ---------------------------------------------------------------------------


class JobCounter:
    """Tags each traced phase with a job group, counts the jobs, stages
    and tasks the status tracker saw for it, and sums the engine task
    metrics of its stages from Spark's monitoring REST API (the status
    store behind the UI, served on localhost)."""

    STAGE_FIELDS = {
        "executor_cpu_s": ("executorCpuTime", 1e-9),
        "gc_s": ("jvmGcTime", 1e-3),
        "shuffle_bytes": ("shuffleWriteBytes", 1.0),
        "shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
        "failed_tasks": ("numFailedTasks", 1.0),
    }

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]  # the UI listens on all interfaces
        self.api = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self.engine: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._get("/stages")  # the first request initialises the REST service
        self._n = 0

    def _get(self, path: str):
        import urllib.request

        with urllib.request.urlopen(self.api + path, timeout=30) as r:
            return json.load(r)

    def begin(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, label)
        return group

    def release(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def count(self, group: str, label: str) -> tuple[int, int]:
        """(jobs, tasks) run under ``group``; adds the task metrics of
        its stages to ``self.engine[label]``. Call it after the timed
        operation: it queries the status tracker and the REST API."""
        jobs = self.tracker.getJobIdsForGroup(group)
        tasks = 0
        m = self.engine[label]
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                for st in self._get(f"/stages/{sid}?details=true"):
                    if st["status"] == "SKIPPED":
                        continue
                    tasks += st["numTasks"]
                    for name, (field, scale) in self.STAGE_FIELDS.items():
                        m[name] += st.get(field, 0) * scale
                    m["scheduler_delay_s"] += 1e-3 * sum(
                        t.get("schedulerDelay", 0) for t in (st.get("tasks") or {}).values()
                    )
        return len(jobs), tasks


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def progress_listener(sink: list):
    """A ``StreamingQueryListener`` that appends every progress (as a
    dict) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus this Python
    process, in MiB."""
    import resource

    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return py + int(line.split()[1]) / 1024.0
    except OSError:  # no /proc: report Python only
        pass
    return py
