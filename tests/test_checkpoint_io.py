"""Streaming checkpoint I/O on a local default filesystem.

``session.use_local_checkpoint_manager`` makes sessions on ``file:`` use
Spark's ``FileSystem``-based checkpoint manager instead of the default
``FileContext``-based one, which without native Hadoop starts a
``readlink`` process per link-status call (8 per checkpoint file). These
tests pin the choice and the guarantees the offsets and commit logs
rely on: a batch file is written at most once, and every entry is
checksummed.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError

from e2e_data_pipeline_spark.session import (
    CHECKPOINT_MANAGER_KEY,
    FS_CHECKPOINT_MANAGER,
    checkpoint_manager_conf,
    use_local_checkpoint_manager,
)
from tests.conftest import REPO_ROOT


def _manager(spark, path: str):
    jvm = spark._jvm
    cfm = getattr(
        jvm.org.apache.spark.sql.execution.streaming.checkpointing,
        "CheckpointFileManager$",
    ).__getattr__("MODULE$")
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    return cfm.create(jvm.org.apache.hadoop.fs.Path(path), hadoop_conf)


def _write_atomic(spark, mgr, path: str, data: bytes) -> None:
    out = mgr.createAtomic(spark._jvm.org.apache.hadoop.fs.Path(path), False)
    out.write(bytearray(data))
    out.close()  # the no-overwrite rename into place happens here


def _read(spark, mgr, path: str) -> bytes:
    jvm = spark._jvm
    stream = mgr.open(jvm.org.apache.hadoop.fs.Path(path))
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def test_local_session_uses_filesystem_manager(spark, tmp_path):
    mgr = _manager(spark, f"file://{tmp_path}/ckpt")
    assert mgr.getClass().getName() == FS_CHECKPOINT_MANAGER


def test_second_atomic_create_of_a_batch_file_raises(spark, tmp_path):
    """``HDFSMetadataLog.add`` relies on a no-overwrite ``createAtomic``
    failing when the batch file exists: that is what keeps two writers
    from both committing batch 0."""
    ckpt = tmp_path / "ckpt"
    mgr = _manager(spark, str(ckpt))
    mgr.mkdirs(spark._jvm.org.apache.hadoop.fs.Path(str(ckpt)))
    batch = str(ckpt / "0")
    _write_atomic(spark, mgr, batch, b"v1\nfirst\n")
    with pytest.raises(Py4JJavaError, match="FileAlreadyExistsException"):
        _write_atomic(spark, mgr, batch, b"v1\nsecond\n")
    assert _read(spark, mgr, batch) == b"v1\nfirst\n"


def test_entries_are_checksummed(spark, tmp_path):
    ckpt = tmp_path / "ckpt"
    mgr = _manager(spark, str(ckpt))
    batch = ckpt / "0"
    body = b'v1\n{"batchWatermarkMs":0,"batchTimestampMs":1}\n'
    _write_atomic(spark, mgr, str(batch), body)
    assert (ckpt / ".0.crc").is_file()
    assert _read(spark, mgr, str(batch)) == body

    # same length, one byte flipped: only the checksum can tell
    raw = bytearray(batch.read_bytes())
    raw[5] ^= 0x01
    batch.write_bytes(bytes(raw))
    with pytest.raises(Py4JJavaError, match="ChecksumException"):
        _read(spark, mgr, str(batch))


@pytest.mark.parametrize(
    "default_fs, want",
    [
        ("file:///", {CHECKPOINT_MANAGER_KEY: FS_CHECKPOINT_MANAGER}),
        ("file:/", {CHECKPOINT_MANAGER_KEY: FS_CHECKPOINT_MANAGER}),
        ("hdfs://namenode:8020", {}),
        ("s3a://bucket", {}),
        ("abfs://container@account.dfs.core.windows.net", {}),
        ("viewfs://cluster/", {}),
    ],
)
def test_rule_keeps_default_manager_off_file(default_fs, want):
    assert checkpoint_manager_conf(default_fs) == want


def test_driver_session_gets_the_rule(spark):
    """A session the package did not build (``newSession`` starts from
    the SparkConf, without our runtime conf) gets the manager through
    ``__spark_entry__._configure``."""
    import __spark_entry__ as em

    bare = spark.newSession()
    assert bare.conf.get(CHECKPOINT_MANAGER_KEY, None) is None
    em._configure(bare)
    assert bare.conf.get(CHECKPOINT_MANAGER_KEY) == FS_CHECKPOINT_MANAGER


def test_named_manager_is_kept(spark):
    other = spark.newSession()
    custom = "org.example.CustomCheckpointFileManager"
    other.conf.set(CHECKPOINT_MANAGER_KEY, custom)
    use_local_checkpoint_manager(other)
    assert other.conf.get(CHECKPOINT_MANAGER_KEY) == custom


# ---------------------------------------------------------------------------
# No readlink process per checkpoint file, across a stop and a restart
# ---------------------------------------------------------------------------

STREAM_SCRIPT = r"""
import datetime as dt
import os
import sys

sys.path.insert(0, sys.argv[1])
work = sys.argv[2]
os.environ["SPARK_GRAFT_CPUS"] = "2"

import pyarrow as pa
import pyarrow.parquet as pq

from e2e_data_pipeline_spark.session import get_spark
from e2e_data_pipeline_spark.streaming import core

spark = get_spark("checkpoint-io")
inbox = os.path.join(work, "sf", "events.parquet")
ckpt = os.path.join(work, "ckpt")
out = os.path.join(work, "out")
os.makedirs(inbox)


def publish(i):
    start = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=10 * i)
    ts = [start + dt.timedelta(seconds=7 * k) for k in range(80)]
    tbl = pa.table(
        {
            "ts": pa.array(ts, pa.timestamp("us")),
            "event_type": [("view", "click", "buy")[k % 3] for k in range(80)],
            "value": [float(k % 11) for k in range(80)],
        }
    )
    pq.write_table(tbl, os.path.join(inbox, f"part-{i:05d}.parquet"))


def run():
    stream = core.tumbling_counts(
        core.load_events_stream(spark, os.path.join(work, "sf")), watermark="10 minutes"
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()
    return [(p["batchId"], p["numInputRows"]) for p in q.recentProgress]


for i in range(3):
    publish(i)
first = run()
for i in range(3, 5):
    publish(i)
second = run()  # restart from the same checkpoint
# the restart resumes after the last committed batch and reads only the
# two new files
assert second[0][0] == first[-1][0] + 1, (first, second)
assert sum(n for _, n in second) == 2 * 80, (first, second)

got = spark.read.parquet(out).toPandas()
batch = core.tumbling_counts(spark.read.parquet(inbox)).toPandas()
key = ["window_start", "event_type"]
assert not got.duplicated(key).any(), "a window was emitted twice"
merged = got.merge(batch, on=key, suffixes=("", "_batch"))
assert len(merged) == len(got) > 0, (len(merged), len(got))
assert (merged["n_events"] == merged["n_events_batch"]).all()
print("STREAM_OK", first, second)
spark.stop()
"""


def test_checkpoint_writes_run_no_readlink(tmp_path):
    """Without native Hadoop, Spark's default checkpoint manager runs
    dozens of ``readlink`` processes per micro-batch on the checkpoint
    files (232 for the four batches here); with the ``FileSystem``-based
    manager there are none. A logging ``readlink`` first on the JVM's
    ``PATH`` counts them."""
    real = shutil.which("readlink")
    if real is None:
        pytest.skip("no readlink on PATH")
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    log = tmp_path / "readlink.log"
    wrapper = bin_dir / "readlink"
    wrapper.write_text(f'#!/bin/sh\nprintf "%s\\n" "$*" >> "{log}"\nexec "{real}" "$@"\n')
    wrapper.chmod(0o755)
    work = tmp_path / "work"
    work.mkdir()

    env = dict(os.environ)
    env["PATH"] = f"{bin_dir}{os.pathsep}{env.get('PATH', '')}"
    proc = subprocess.run(
        [sys.executable, "-c", STREAM_SCRIPT, REPO_ROOT, str(work)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "STREAM_OK" in proc.stdout, proc.stdout[-3000:]
    calls = log.read_text().splitlines() if log.exists() else []
    ckpt = str(work / "ckpt")
    on_ckpt = [c for c in calls if ckpt in c]
    assert on_ckpt == [], f"{len(on_ckpt)} readlink calls on the checkpoint, e.g. {on_ckpt[:3]}"
