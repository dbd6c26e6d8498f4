"""The three workloads. Each is a closed loop with one client and one
long-lived Spark session:

- ``olap_mix``: relational ("scan") and day-grain report ("report")
  keys of ``operators.QUERIES`` in a seeded order, each forced through
  the noop sink.
- ``etl_taxi``: a seeded backfill of monthly gzip taxi CSVs through
  ``plans.main_flow`` into one output directory.
- ``stream_events``: event files appended one at a time to a directory
  that one long-running watermarked ``streaming.core.tumbling_counts``
  query reads; an operation is one file, from its publication to the
  commit of the batch that read it.

A workload object has ``setup`` (inputs, caches, the fixed warm-up),
``timed`` (the measured closed loop), ``check`` (correctness checks
outside the timed phase) and ``layers`` (per-layer metrics of a traced
run). Sizes and warm-up counts are module constants, the same on every
commit, chosen from measured per-operation warm-up curves.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import gen
from stats import Ops, compare_frames, timed_op, warm_drift_ratio
from tracing import TRACER, JobCounter

# ---------------------------------------------------------------------------
# olap_mix
# ---------------------------------------------------------------------------

#: Relational headline keys (the set ``bench.py`` times): bound by scans
#: and shuffles, they bypass the frame cache.
SCAN_KEYS = [
    "join_multiway",
    "agg_groupby",
    "join_shuffle",
    "win_topk_per_group",
    "sort_limit",
]
#: Day-grain report keys that read ``frame_cache`` rollups: bound by
#: planning and job dispatch on cached frames.
REPORT_KEYS = [
    "ts_pacf",
    "ts_holt_winters",
    "stats_sign_test",
    "dq_drift_tvd",
]
OLAP_SF = 0.002
#: untimed rounds after the checked one: past the steep part of the
#: warm-up curve (a round takes about 7.5, 5.5, 5.5, 4.8, 4.7, 4.1 s, ...)
OLAP_WARM_ROUNDS = 3
#: nominal seconds per round (and per operation below) after the
#: warm-up on a 4-core host; the timed phase runs ``--seconds`` worth
OLAP_ROUND_S = 3.7


@dataclass
class Common:
    spark: object
    work: str
    rng: np.random.Generator
    trace: bool
    #: length of the timed phase at the nominal per-operation cost
    seconds: float = 10.0
    jobs: JobCounter | None = None
    notes: list[str] = field(default_factory=list)
    #: input rows processed by the timed operations (generator truth)
    rows: int = 0
    ops: Ops = field(default_factory=Ops)
    wall_s: float = 0.0
    correct: bool = True
    #: oracle/comparison time spent inside setup, kept out of setup_s
    check_s: float = 0.0


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


class OlapMix:
    name = "olap_mix"

    def __init__(self, c: Common) -> None:
        self.c = c
        self.sf = os.path.join(c.work, "sf")
        self.keys = SCAN_KEYS + REPORT_KEYS
        self.cls = {k: "scan" for k in SCAN_KEYS} | {k: "report" for k in REPORT_KEYS}
        self.per_key: dict[str, list[float]] = {k: [] for k in self.keys}
        self.phase: dict[str, dict[str, list[float]]] = {
            cl: {"build": [], "exec": [], "jobs": [], "build_jobs": [], "tasks": []}
            for cl in ("scan", "report")
        }
        self.key_ops: dict[str, int] = {k: 0 for k in self.keys}
        self.input_rows: dict[str, int] = {}
        self.traced_lat: list[float] = []
        self.plain_lat: list[float] = []

    def setup(self) -> None:
        """Inputs, frame-cache fill, then the fixed warm-up: one round in
        which each key is collected and compared with its oracle (see
        :meth:`_check`), then ``OLAP_WARM_ROUNDS`` untimed rounds."""
        from e2e_data_pipeline_spark.operators import QUERIES, frame_cache

        self.Q = QUERIES
        self.table_rows = gen.write_tables(gen.make_tables(self.c.rng, OLAP_SF), self.sf)
        # the rollup every report key reads
        frame_cache.events_daily_by_type(self.c.spark, self.sf)
        self._check()
        for _ in range(OLAP_WARM_ROUNDS):
            for k in self.c.rng.permutation(self.keys):
                self._run(k)

    def _run(self, key: str) -> None:
        self.Q[key](self.c.spark, self.sf).write.format("noop").mode("overwrite").save()

    def _traced(self, key: str) -> tuple:
        """One operation under two job groups (build, execution); the
        jobs are counted by :meth:`_account` after the timed interval."""
        jobs = self.c.jobs
        g_build = jobs.begin(key)
        t0 = time.perf_counter()
        df = self.Q[key](self.c.spark, self.sf)
        t1 = time.perf_counter()
        g_exec = jobs.begin(key)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        jobs.release()
        return key, g_build, g_exec, t1 - t0, t2 - t1

    def _account(self, key: str, g_build: str, g_exec: str, build_s: float, exec_s: float) -> None:
        cl = self.cls[key]
        bj, bt = self.c.jobs.count(g_build, cl)
        ej, et = self.c.jobs.count(g_exec, cl)
        p = self.phase[cl]
        p["build"].append(build_s)
        p["exec"].append(exec_s)
        p["build_jobs"].append(bj)
        p["jobs"].append(bj + ej)
        p["tasks"].append(bt + et)

    def timed(self) -> None:
        """Whole rounds of a seeded permutation of the keys, so every key
        runs equally often; a traced run alternates untraced and traced
        rounds to measure the tracing overhead."""
        c = self.c
        rounds = max(2, round(c.seconds / OLAP_ROUND_S))
        t_start = time.perf_counter()
        for rnd in range(rounds):
            traced_round = c.trace and rnd % 2 == 1
            TRACER.enabled = traced_round
            run = self._traced if traced_round else self._run
            for k in c.rng.permutation(self.keys):
                ok, dt, res = timed_op(c.ops, lambda: run(k), kind=k)
                if not ok:
                    continue
                if traced_round:
                    self._account(*res)
                self.per_key[k].append(dt)
                self.key_ops[k] += 1
                if c.trace:
                    (self.traced_lat if traced_round else self.plain_lat).append(dt)
        TRACER.enabled = False
        c.wall_s = time.perf_counter() - t_start

    def _check(self) -> None:
        """Once per distinct key, outside the timed phase: hash-compare
        the collected result with its ``ORACLES`` SQL run on DuckDB, and
        note the input rows the key reads (the files in its plan, rows
        from the generator). DuckDB and comparison time is kept out of
        ``setup_s`` through ``Common.check_s``."""
        import duckdb

        from e2e_data_pipeline_spark.operators import ORACLES

        c = self.c
        con = duckdb.connect()
        for t in self.table_rows:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')"
            )
        self.wrong: dict[str, str] = {}
        for k in self.keys:
            try:
                df = self.Q[k](c.spark, self.sf)
                got = df.toPandas()
                t0 = time.perf_counter()
                files = {os.path.basename(f).split(".")[0] for f in df.inputFiles()}
                self.input_rows[k] = sum(self.table_rows.get(f, 0) for f in files)
                why = compare_frames(got, con.sql(ORACLES[k]).df())
                c.check_s += time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001
                why = f"{type(e).__name__}: {e}"[:300]
            if why:
                self.wrong[k] = why
        con.close()

    def check(self) -> None:
        """A key whose checked result was wrong fails every one of its
        timed operations."""
        c = self.c
        for k, why in self.wrong.items():
            c.correct = False
            c.notes.append(f"olap_mix check {k}: {why}")
            for _ in range(self.key_ops[k]):
                c.ops.fail_later(f"{k}: {why}")
        c.rows = sum(self.input_rows.get(k, 0) * n for k, n in self.key_ops.items())

    def layers(self) -> dict[str, float]:
        out: dict[str, float] = {}
        n_ops = sum(len(self.phase[cl]["build"]) for cl in self.phase) or 1
        for cl, p in self.phase.items():
            out[f"operators.{cl}.build_s"] = _median(p["build"])
            out[f"operators.{cl}.exec_s"] = _median(p["exec"])
            out[f"operators.{cl}.jobs_per_op"] = statistics.fmean(p["jobs"]) if p["jobs"] else 0.0
        all_bj = [x for p in self.phase.values() for x in p["build_jobs"]]
        all_t = [x for p in self.phase.values() for x in p["tasks"]]
        out["operators.build_jobs_per_op"] = statistics.fmean(all_bj) if all_bj else 0.0
        out["operators.tasks_per_op"] = statistics.fmean(all_t) if all_t else 0.0
        for k in self.keys:
            out[f"operators.{k}.p50_s"] = _median(self.per_key[k])
        agg: dict[str, float] = {}
        for m in self.c.jobs.engine.values():
            for name, v in m.items():
                agg[name] = agg.get(name, 0.0) + v
        for name in (
            "executor_cpu_s",
            "gc_s",
            "shuffle_bytes",
            "shuffle_fetch_wait_s",
            "scheduler_delay_s",
            "failed_tasks",
        ):
            out[f"operators.{name}"] = agg.get(name, 0.0) / n_ops
        out["catalog.load_table_calls"] = TRACER.calls["catalog.load_table"] / n_ops
        out["catalog.load_table_s"] = TRACER.total["catalog.load_table"] / n_ops
        calls = TRACER.counts["frame_cache.calls"]
        misses = TRACER.counts["frame_cache.misses"]
        out["frame_cache.calls"] = calls / n_ops
        out["frame_cache.hit_ratio"] = (calls - misses) / calls if calls else 0.0
        return out


# ---------------------------------------------------------------------------
# etl_taxi
# ---------------------------------------------------------------------------

ETL_ROWS = 20_000
ETL_ZERO_SHARE = (0.02, 0.08)  # seeded share of zero-passenger rows per file
ETL_WARM_CALLS = 2
ETL_OP_S = 2.5
ETL_EXPORT_LIMIT = 100_000  # main_flow's default export_limit


def _month(i: int) -> tuple[str, int, int]:
    """Backfill file ``i``: colors alternate, months advance from
    January 2019."""
    return ("green", "yellow")[i % 2], 2019 + i // 12, i % 12 + 1


class EtlTaxi:
    name = "etl_taxi"

    def __init__(self, c: Common) -> None:
        self.c = c
        self.src = os.path.join(c.work, "src")
        self.out = os.path.join(c.work, "backfill")
        self.truth: list[dict] = []
        self.results: list[tuple] = []  # (file index, EtlResult, seconds) of timed ops
        self.spans: dict[str, list[float]] = {k: [] for k in ("main_flow", "scan", "self", "fetch", "clean_write", "readback_export")}
        self.files_written: list[int] = []
        self.bytes_ratio: list[float] = []
        self.next = 0
        self.traced_lat: list[float] = []
        self.plain_lat: list[float] = []

    def setup(self) -> None:
        os.makedirs(self.src)
        self.n_ops = max(2, round(self.c.seconds / ETL_OP_S))
        for i in range(ETL_WARM_CALLS + self.n_ops):
            color, y, m = _month(i)
            share = float(self.c.rng.uniform(*ETL_ZERO_SHARE))
            t = gen.write_taxi_csv(self.c.rng, self._path(i), color, y, m, ETL_ROWS, share)
            self.truth.append(t)
        for _ in range(ETL_WARM_CALLS):
            self._call(self.next)
            self.next += 1

    def _path(self, i: int) -> str:
        color, y, m = _month(i)
        return os.path.join(self.src, f"{color}_tripdata_{y}-{m:02d}.csv.gz")

    def _call(self, i: int):
        from e2e_data_pipeline_spark import plans

        color, y, m = _month(i)
        return plans.main_flow(
            self.c.spark, f"file://{os.path.abspath(self._path(i))}", self.out, color, y, m
        )

    def _verify(self, i: int, r) -> str:
        t = self.truth[i]
        want = {
            "rows_in": t["rows"],
            "rows_filtered": t["zero_passenger"],
            "rows_out": t["rows"] - t["zero_passenger"],
            "exported_rows": min(t["rows"] - t["zero_passenger"], ETL_EXPORT_LIMIT),
        }
        bad = [f"{k}={getattr(r, k)} want {v}" for k, v in want.items() if getattr(r, k) != v]
        return ", ".join(bad)

    def timed(self) -> None:
        c = self.c
        t_start = time.perf_counter()
        for _ in range(self.n_ops):
            i = self.next
            self.next += 1
            traced = c.trace and i % 2 == 1
            TRACER.enabled = traced
            if traced:
                TRACER.reset()
            ok, dt, r = timed_op(c.ops, lambda: self._call(i), lambda r: self._verify(i, r), label=f"file {i}")
            TRACER.enabled = False
            c.rows += self.truth[i]["rows"]
            if r is None:
                continue
            self.results.append((i, r, dt))
            if c.trace:
                (self.traced_lat if traced else self.plain_lat).append(dt)
            if traced:
                self._collect_spans(i, r)
        TRACER.enabled = False
        c.wall_s = time.perf_counter() - t_start

    def _collect_spans(self, i: int, r) -> None:
        s = self.spans
        s["main_flow"].append(TRACER.total["plans.main_flow"])
        s["self"].append(TRACER.self_time("plans.main_flow"))
        s["scan"].append(r.timings_s.get("scan", 0.0))
        s["readback_export"].append(r.timings_s.get("readback_export", 0.0))
        s["fetch"].append(TRACER.total["sources.fetch_to_staging"])
        s["clean_write"].append(TRACER.total["sources.write_parquet_partitioned"])
        written = [
            os.path.join(d, f)
            for base in (self.out + "/curated", self.out + "/export")
            for d, _, fs in os.walk(base)
            for f in fs
            if f.endswith(".parquet")
        ]
        self.files_written.append(len(written))
        self.bytes_ratio.append(
            sum(os.path.getsize(f) for f in written) / os.path.getsize(self._path(i))
        )

    def check(self) -> None:
        """Backfill integrity: every month a timed call wrote must still
        be readable under ``curated/`` with its rows and timestamp-typed
        pickup/dropoff columns; a lost month fails the call that wrote
        it. Export files must carry timestamp types too."""
        import pyarrow.dataset as ds
        import pyarrow.types as pt

        c = self.c
        self.intact = 0
        for i, r, _ in self.results:
            color, y, m = _month(i)
            prefix = gen.TAXI_PREFIX[color]
            cols = [f"{prefix}_pickup_datetime", f"{prefix}_dropoff_datetime"]
            part = os.path.join(self.out, "curated", f"taxi_color={color}", f"year={y}", f"month={m}")
            export = os.path.join(self.out, "export", f"{color}_{y}_{m}")
            why = ""
            try:
                if not os.path.isdir(part):
                    why = "month lost from curated/"
                else:
                    d = ds.dataset(part, format="parquet")
                    if d.count_rows() != r.rows_out:
                        why = f"curated month has {d.count_rows()} rows, want {r.rows_out}"
                    else:
                        self.intact += 1
                    for dset in (d, ds.dataset(export, format="parquet")):
                        bad = [k for k in cols if not pt.is_timestamp(dset.schema.field(k).type)]
                        if bad:
                            why = why or f"not timestamp-typed: {bad}"
            except Exception as e:  # noqa: BLE001
                why = f"{type(e).__name__}: {e}"[:300]
            if why:
                c.correct = False
                c.ops.fail_later(f"{color} {y}-{m:02d}: {why}")
        lost = len(self.results) - self.intact
        if lost:
            c.notes.append(
                f"etl_taxi backfill integrity: {lost} of {len(self.results)} months "
                "written by timed calls are no longer readable under curated/"
            )

    def layers(self) -> dict[str, float]:
        s = self.spans
        return {
            "plans.main_flow_s": _median(s["main_flow"]),
            "plans.scan_s": _median(s["scan"]),
            "plans.self_s": _median(s["self"]),
            "sources.fetch_s": _median(s["fetch"]),
            "sources.clean_write_s": _median(s["clean_write"]),
            "sources.readback_export_s": _median(s["readback_export"]),
            "sources.files_written": _median(self.files_written),
            "sources.bytes_written_per_input_byte": _median(self.bytes_ratio),
            "sources.months_intact": float(getattr(self, "intact", 0)),
        }


# ---------------------------------------------------------------------------
# stream_events
# ---------------------------------------------------------------------------

STREAM_ROWS = 2_500
STREAM_FILE_SPAN_S = 600  # event time covered by one file
STREAM_LATE_SHARE = 0.05
STREAM_MAX_LATE_S = 240  # bounded disorder, well inside the watermark
STREAM_WATERMARK = "10 minutes"
#: files fed after the first batch, before timing: the per-file latency
#: falls from about 0.65 s to 0.45 s over the first 35 files, then
#: slowly towards 0.4 s; 24 covers most of the steep part within the run
#: budget
STREAM_WARM_FILES = 24
#: nominal seconds per file after the warm-up on a 4-core host
STREAM_OP_S = 0.45
STREAM_TIMEOUT_S = 60


class StreamEvents:
    name = "stream_events"

    def __init__(self, c: Common) -> None:
        self.c = c
        self.sf = os.path.join(c.work, "sf")
        self.inbox = os.path.join(self.sf, "events.parquet")
        self.stage = os.path.join(c.work, "stage")
        self.ckpt = os.path.join(c.work, "checkpoint")
        self.next = 1
        self.next_batch = 0
        self.published: dict[int, float] = {}
        self.progress: list[dict] = []
        self.traced_files: set[int] = set()
        self.traced_lat: list[float] = []
        self.plain_lat: list[float] = []

    def setup(self) -> None:
        import pyarrow.parquet as pq

        from e2e_data_pipeline_spark.streaming import core

        os.makedirs(self.inbox)
        os.makedirs(self.stage)
        self.n_ops = max(2, round(self.c.seconds / STREAM_OP_S))
        self.files = gen.event_batches(
            self.c.rng, 1 + STREAM_WARM_FILES + self.n_ops, STREAM_ROWS, STREAM_FILE_SPAN_S,
            STREAM_LATE_SHARE, STREAM_MAX_LATE_S,
        )
        for i, t in enumerate(self.files):
            pq.write_table(t, os.path.join(self.stage, f"part-{i:05d}.parquet"))
        self._publish(0)
        spark = self.c.spark
        if self.c.trace:
            from tracing import progress_listener

            self.listener = progress_listener(self.progress)
            spark.streams.addListener(self.listener)
        stream = core.tumbling_counts(core.load_events_stream(spark, self.sf), watermark=STREAM_WATERMARK)
        self.q = (
            stream.writeStream.format("memory")
            .queryName("perfbench_tumbling")
            .outputMode("append")
            .option("checkpointLocation", self.ckpt)
            .start()
        )
        self._await(0)
        for _ in range(STREAM_WARM_FILES):
            self._op()

    def _publish(self, i: int) -> None:
        name = f"part-{i:05d}.parquet"
        os.rename(os.path.join(self.stage, name), os.path.join(self.inbox, name))
        self.published[i] = time.time()

    def _log_offset(self, batch: int) -> int:
        """File-source log offset read by ``batch`` (offset log line 3)."""
        with open(os.path.join(self.ckpt, "offsets", str(batch))) as f:
            return int(json.loads(f.read().splitlines()[2])["logOffset"])

    def _await(self, log_offset: int) -> None:
        """Block until the commit of the batch that read file-source log
        offset ``log_offset`` (one published file per offset)."""
        deadline = time.perf_counter() + STREAM_TIMEOUT_S
        commits = os.path.join(self.ckpt, "commits")
        polls = 0
        while True:
            if os.path.exists(os.path.join(commits, str(self.next_batch))):
                off = self._log_offset(self.next_batch)
                self.next_batch += 1
                if off >= log_offset:
                    return
                continue
            if time.perf_counter() > deadline:
                raise TimeoutError(f"no commit for file {log_offset} in {STREAM_TIMEOUT_S}s")
            polls += 1
            # a py4j call per poll would load the driver the query runs on
            if polls % 100 == 0 and self.q.exception() is not None:
                raise RuntimeError(str(self.q.exception()))
            time.sleep(0.002)

    def _op(self) -> None:
        i = self.next
        self.next += 1
        self._publish(i)
        self._await(i)

    def timed(self) -> None:
        c = self.c
        t_start = time.perf_counter()
        for _ in range(self.n_ops):
            i = self.next
            traced = c.trace and i % 2 == 1
            ok, dt, _ = timed_op(c.ops, self._op, label=f"file {i}")
            if not ok:
                break  # the query is stuck or dead: later files cannot succeed
            c.rows += STREAM_ROWS
            if traced:
                self.traced_files.add(i)
            if c.trace:
                (self.traced_lat if traced else self.plain_lat).append(dt)
        c.wall_s = time.perf_counter() - t_start

    def check(self) -> None:
        """Emitted windows must equal the batch transform over the same
        input, for every window the watermark has closed."""
        from pyspark.sql import functions as F

        from e2e_data_pipeline_spark.streaming import core

        c = self.c
        spark = c.spark
        self.q.stop()
        last = self.q.lastProgress or {}
        wm = last.get("eventTime", {}).get("watermark")
        if c.trace:
            spark.streams.removeListener(self.listener)
        got = spark.table("perfbench_tumbling").toPandas()
        batch = spark.read.parquet(self.inbox).withColumn("ts", F.col("ts").cast("timestamp"))
        want = core.tumbling_counts(batch).toPandas()
        if wm is None:
            why = "no watermark reported"
        else:
            # windows closed by the last reported watermark must all be
            # emitted; any window emitted beyond it must be final too
            end = np.datetime64(wm.rstrip("Z")) - np.timedelta64(5, "m")
            cutoff = str(end).replace("T", " ")[:19]
            emitted = set(zip(got["window_start"], got["event_type"]))
            keys = zip(want["window_start"], want["event_type"])
            mask = [w <= cutoff or (w, t) in emitted for w, t in keys]
            why = compare_frames(got, want[mask])
        if why:
            c.correct = False
            c.notes.append(f"stream_events parity: {why}")
            for _ in range(c.ops.attempted - c.ops.failed):
                c.ops.fail_later(f"stream parity: {why}")

    def layers(self) -> dict[str, float]:
        from datetime import datetime

        data = []
        for p in self.progress:
            if p.get("numInputRows", 0) <= 0:
                continue
            src = p["sources"][0]
            k = int(src["endOffset"]["logOffset"]) if isinstance(src["endOffset"], dict) else -1
            if k in self.traced_files:
                data.append((k, p))
        d = lambda key: _median([p["durationMs"].get(key, 0) / 1e3 for _, p in data])  # noqa: E731

        def started(p):
            return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

        state = [p["stateOperators"][0] for _, p in data if p.get("stateOperators")]
        return {
            "streaming.trigger_s": d("triggerExecution"),
            "streaming.latest_offset_s": d("latestOffset"),
            "streaming.query_planning_s": d("queryPlanning"),
            "streaming.add_batch_s": d("addBatch"),
            "streaming.wal_commit_s": d("walCommit"),
            "streaming.commit_offsets_s": d("commitOffsets"),
            "streaming.discovery_wait_s": _median(
                [max(0.0, started(p) - self.published[k]) for k, p in data]
            ),
            "streaming.state_rows": _median([s["numRowsTotal"] for s in state]),
            "streaming.state_bytes": _median([s["memoryUsedBytes"] for s in state]),
            "streaming.rows_dropped_late": float(
                sum(s.get("numRowsDroppedByWatermark", 0) for s in state)
            ),
        }


WORKLOADS = {w.name: w for w in (OlapMix, EtlTaxi, StreamEvents)}


def drift(c: Common) -> float:
    return warm_drift_ratio(c.ops.latencies, c.ops.kinds) if len(c.ops.latencies) >= 2 else 1.0
