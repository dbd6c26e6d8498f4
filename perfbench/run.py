"""Steady-state benchmark of the engine's public entry points.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 13 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 13

Workloads: ``olap_mix`` (``operators.QUERIES``), ``etl_taxi``
(``plans.main_flow``) and ``stream_events`` (``streaming.core``); see
``workloads.py``. One run starts one Spark session at
``local[nproc-1]``, generates its inputs from ``--seed``, runs the fixed
warm-up, measures a closed loop with one client for ``--seconds``
seconds, then checks every output.

``--trace 0`` reports the end-to-end metrics (``setup_s``,
``op_p50_s``, ``op_tail_s``, ``ops_per_s``, ``rows_per_s``); ``--trace 1``
is a separate run that installs timing shims, job-group accounting,
task metrics from the monitoring REST API and a streaming listener, and
reports the per-layer metrics.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Everything the
run writes goes under ``.perfbench_work/`` and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOAD_NAMES = ["olap_mix", "etl_taxi", "stream_events"]



def _spark_env(work: str, trace: bool) -> None:
    """Point every scratch area of Spark, the JVM and Python at ``work``
    and size Spark to ``local[nproc-1]`` with as many shuffle
    partitions."""
    cpus = str(max(1, (os.cpu_count() or 2) - 1))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_GRAFT_SHUFFLE_PARTITIONS": cpus,
            "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Xss16m -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
        }
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # the traced run reads task metrics from the monitoring REST API
        os.environ["SPARK_GRAFT_UI"] = "true"
        conf["spark.ui.port"] = "0"
    else:
        os.environ.pop("SPARK_GRAFT_UI", None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()
    ) + " pyspark-shell"


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - already gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_one(name: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _measure(name, seed, seconds, trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import numpy as np

    _spark_env(work, trace)
    sys.path[:0] = [HERE, ROOT]

    from stats import hd_quantile, host_probe, tail

    probes = [host_probe()]
    t_setup = time.perf_counter()
    import tracing
    from tracing import TRACER

    if trace:
        tracing.install_shims()
        TRACER.enabled = True
    from e2e_data_pipeline_spark import session

    import workloads

    t0 = time.perf_counter()
    spark = session.get_spark(f"perfbench-{name}")
    get_spark_s = time.perf_counter() - t0
    layer: dict[str, float] = {}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        first_job_s = time.perf_counter() - t0

        c = workloads.Common(
            spark=spark, work=work, rng=np.random.default_rng(seed), trace=trace, seconds=seconds
        )
        w = workloads.WORKLOADS[name](c)
        w.setup()
        setup_s = time.perf_counter() - t_setup - c.check_s

        if trace:
            layer["frame_cache.build_s"] = TRACER.total["frame_cache.build"]
            layer["frame_cache.resident_frames"] = float(TRACER.counts["frame_cache.misses"])
            TRACER.reset()
            TRACER.enabled = False
            c.jobs = tracing.JobCounter(spark)

        w.timed()
        w.check()
        sc = spark.sparkContext
        info = {
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        }
        if trace:
            layer["frame_cache.build_s"] += TRACER.total["frame_cache.build"]
            layer["frame_cache.resident_frames"] += TRACER.counts["frame_cache.misses"]
            layer["session.peak_rss_mb"] = tracing.peak_rss_mb(spark)
    finally:
        _stop(spark)
    probes.append(host_probe())

    lat = c.ops.latencies
    if not lat:
        raise RuntimeError(f"{name}: no operation succeeded: {c.ops.errors[:3]}")
    tail_v, tail_p, tail_n = tail(lat)
    wall = c.wall_s
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": hd_quantile(lat, 0.5),
        "op_tail_s": tail_v,
        "ops_per_s": c.ops.attempted / wall,
        "rows_per_s": c.rows / wall,
    }
    drift = workloads.drift(c)
    out = {
        "info": info,
        "e2e": e2e,
        "tail": (tail_p, tail_n),
        "drift": drift,
        "probe": statistics.median(probes),
        "ops": c.ops,
        "rows": c.rows,
        "wall": wall,
        "correct": c.correct,
        "notes": c.notes,
        "session": (get_spark_s, first_job_s),
    }
    if trace:
        layer |= w.layers()
        layer["session.get_spark_s"] = get_spark_s
        layer["session.first_job_s"] = first_job_s
        layer["host.probe_s"] = out["probe"]
        layer["bench.warm_drift_ratio"] = drift
        layer["bench.trace_overhead_ratio"] = (
            statistics.median(w.traced_lat) / statistics.median(w.plain_lat)
            if w.traced_lat and w.plain_lat
            else 1.0
        )
        out["layer"] = layer
    return out


def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, from
    ``BENCHMARK.json``: the one list of the metrics a run prints."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def report(name: str, seed: int, seconds: float, trace: bool, r: dict) -> dict:
    from stats import TAIL_BEYOND

    info, e2e, ops = r["info"], r["e2e"], r["ops"]
    units = _units("end_to_end")
    p, n = r["tail"]
    print(
        f"perfbench {name} seed={seed} seconds={seconds:g} trace={int(trace)} "
        f"master={info['master']} defaultParallelism={info['defaultParallelism']} "
        f"shuffle_partitions={info['shuffle_partitions']}"
    )
    tail_note = f"p{p:.1f} of {n} samples"
    if n < 2 * TAIL_BEYOND:
        tail_note += f"; under-sampled, fewer than {2 * TAIL_BEYOND} samples: median"
    for k, v in e2e.items():
        extra = f"  ({tail_note})" if k == "op_tail_s" else ""
        if k == "rows_per_s":
            extra = f"  ({r['rows']} input rows in {r['wall']:.2f} s)"
        print(f"  {k:<12} {v:12.4f} {units[k]}{extra}")
    print(f"  attempted={ops.attempted} failed={ops.failed} correct={str(r['correct']).lower()}")
    print(
        f"  bench.warm_drift_ratio={r['drift']:.3f} host.probe_s={r['probe']:.4f} "
        f"session.get_spark_s={r['session'][0]:.2f} session.first_job_s={r['session'][1]:.2f}"
    )
    for note in r["notes"]:
        print(f"  NOTE {note}")
    for e in ops.errors[:5]:
        print(f"  FAILED {e}")
    if trace:
        layer = r["layer"]
        metrics = {}
        listed = _units("per_layer")
        for m, unit in listed.items():
            v = layer.get(m, 0.0)  # a layer this workload never calls
            metrics[m] = {"value": float(v), "unit": unit}
            print(f"  {m:<42} {float(v):14.6f} {unit}")
        for m, v in layer.items():
            if m not in listed:  # layers of a workload BENCHMARK.json does not list
                print(f"  {m:<42} {float(v):14.6f}")
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    return {
        "correct": bool(r["correct"]),
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "e2e_data_pipeline_spark", "__init__.py")):
        print(
            "perfbench: no e2e_data_pipeline_spark package in the current "
            "directory; run from the repository root",
            file=sys.stderr,
        )
        return 2

    if args.workload == "all":
        return run_all(args)
    r = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    result = report(args.workload, args.seed, args.seconds, bool(args.trace), r)
    print(json.dumps(result), flush=True)
    return 0


def run_all(args) -> int:
    """Each workload in its own process (one session per workload);
    the last line merges their results, metrics prefixed by workload."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            print(f"perfbench: {name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
