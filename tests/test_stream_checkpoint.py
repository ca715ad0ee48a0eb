"""How stream checkpoints are committed in a ``get_spark`` session.

Without ``libhadoop`` Hadoop's local filesystem runs a shell command
for file metadata: ``readlink`` for each link-status lookup of a
FileContext rename, ``chmod`` for each file create. ``get_spark`` sets
``session.CHECKPOINT_FILE_MANAGER``, whose renames are plain
``File.renameTo`` calls, so a stream drain in its session runs no
``readlink``. The process test counts the commands through logging
wrappers put first on ``PATH`` of a separate ``get_spark`` process.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRAIN = """
import sys
from anomaly_detection_iiot_spark.session import get_spark

src, ckpt = sys.argv[1:3]
spark = get_spark("checkpoint-probe", master="local[2]", shuffle_partitions=2)
q = (
    spark.readStream.schema("k bigint, v string")
    .option("maxFilesPerTrigger", 1)
    .parquet(src)
    .dropDuplicates(["k"])
    .writeStream.format("memory")
    .queryName("probe")
    .option("checkpointLocation", ckpt)
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
native = spark._jvm.org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded()
data_batches = sum(p["numInputRows"] > 0 for p in q.recentProgress)
print("RESULT", data_batches, spark.table("probe").count(), native)
spark.stop()
"""


def _logging_wrappers(bin_dir, log: str, commands) -> None:
    os.makedirs(bin_dir)
    for cmd in commands:
        real = shutil.which(cmd)
        assert real, f"{cmd} not on PATH"
        path = os.path.join(bin_dir, cmd)
        with open(path, "w") as f:
            f.write(f'#!/bin/sh\necho {cmd} >> "{log}"\nexec "{real}" "$@"\n')
        os.chmod(path, 0o755)


def test_stream_drain_in_get_spark_session_runs_no_readlink(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    for i in range(2):
        p = str(src / f"part_{i}.parquet")
        pd.DataFrame({"k": [i, i + 1, 7], "v": ["a", "b", "c"]}).to_parquet(p)
        os.utime(p, (now - 60 + i, now - 60 + i))
    log = str(tmp_path / "commands.log")
    bin_dir = str(tmp_path / "bin")
    _logging_wrappers(bin_dir, log, ("readlink", "chmod"))
    env = dict(
        os.environ,
        PATH=bin_dir + os.pathsep + os.environ["PATH"],
        PYTHONPATH=os.pathsep.join(
            filter(None, [ROOT, os.environ.get("PYTHONPATH")])
        ),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _DRAIN, str(src), str(tmp_path / "ckpt")],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT")]
    assert result, proc.stdout[-2000:]
    _, batches, rows, native = result[-1].split()
    assert (int(batches), int(rows)) == (2, 4)
    calls = []
    if os.path.exists(log):
        with open(log) as f:
            calls = f.read().split()
    if native == "False":
        # the wrappers are live: every local file create still runs chmod
        assert calls.count("chmod") > 0
    assert calls.count("readlink") == 0
