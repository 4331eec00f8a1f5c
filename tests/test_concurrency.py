"""TWO-PROCESS concurrent-writer integration test: the optimistic
commit/rebase contract (`sources/layout._commit` + rebase builders)
pinned across separate Spark sessions in separate JVMs — not just the
in-process races the other tests inject. Exercises fsio's
exclusive-create (rename-fallback) manifest commit on the local
scheme: two writers racing the same version number must serialize as
distinct versions; every mutation either lands or raises
CommitConflict naming the competitor — never a lost update.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from aggregation_duckdb_spark.sources import layout as L

# The worker process: appends `n` single-row batches (payload =
# 9000+i) to the table, retrying on CommitConflict, then prints the
# number that landed. Its own SparkSession/JVM — tiny local[2] to
# keep startup cheap.
_WORKER = textwrap.dedent("""
    import sys
    from pyspark.sql import functions as F
    from aggregation_duckdb_spark.session import get_spark
    from aggregation_duckdb_spark.sources import layout as L

    path, n = sys.argv[1], int(sys.argv[2])
    spark = get_spark("worker", master="local[2]",
                      extra_confs={"spark.sql.shuffle.partitions": "2",
                                   "spark.ui.enabled": "false"})
    landed = 0
    for i in range(n):
        row = spark.createDataFrame(
            [(1000 + i, (1000 + i) % 20, (1000 + i) % 13,
              9000 + i, 0)],
            "k long, a long, b long, payload long, val long")
        for attempt in range(10):
            try:
                L.append_zordered(row, path)
                landed += 1
                break
            except L.CommitConflict:
                continue
    print(f"WORKER_LANDED={landed}", flush=True)
""")


@pytest.mark.slow
def test_two_process_append_upsert_race(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 20).alias("a"),
        (F.col("id") % 13).alias("b"), F.col("id").alias("payload"),
        F.lit(0).alias("val"))
    L.write_zordered(base, path, "a", "b", bits=6, bucket_bits=3)  # v1

    script = tmp_path / "worker.py"
    script.write_text(_WORKER)
    n_appends = 6
    env = dict(os.environ, PYTHONPATH=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    proc = subprocess.Popen(
        [sys.executable, str(script), path, str(n_appends)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, env=env)

    # race upserts from THIS session while the worker appends: key 0
    # rewrites its bucket each time, folding whatever delta batches
    # the worker landed before it — the bucket-rewrite rebase and the
    # worker's blind-append rebase must interleave without losing
    # either side's commits
    n_upserts, landed_here = 8, 0
    for i in range(n_upserts):
        up = spark.createDataFrame(
            [(0, 0, 0, 0, i + 1)],
            "k long, a long, b long, payload long, val long")
        for attempt in range(10):
            try:
                L.upsert_zordered(up, path, ["k"], vacuum=False)
                landed_here += 1
                break
            except L.CommitConflict as e:
                # a real competitor must be NAMED, not a bare error
                assert "append" in str(e) or "upsert" in str(e) \
                    or "collision" in str(e)
                continue

    out, _ = proc.communicate(timeout=300)
    assert proc.returncode == 0, out
    worker_landed = int(out.strip().rsplit("=", 1)[-1])
    assert worker_landed == n_appends        # nothing gave up
    assert landed_here == n_upserts

    # no lost updates on either side, exactly-once each
    final = L.read_zordered(spark, path)
    assert final.count() == 200 + n_appends
    worker_rows = final.where(F.col("payload") >= 9000)
    assert worker_rows.count() == n_appends
    assert final.where(F.col("k") == 0).collect()[0]["val"] \
        == n_upserts
    # the manifest log serialized every commit as its own version
    assert L.table_version(spark, path) >= 1 + n_appends + n_upserts
