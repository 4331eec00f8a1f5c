"""Streaming READ of a Z-ordered table — the Delta Lake
``spark.readStream.format("delta")`` analogue (a row stream, distinct
from the change feed's CDC stream): the first processed commit emits
the table SNAPSHOT, every later ``append`` commit emits exactly its
newly appended rows, and physical rewrites / metadata-only commits
(compaction, optimize, alter) emit nothing — they move no rows. Any
commit that UPDATES or DELETES rows fails the stream by default,
exactly Delta's contract for a streaming source over a mutable table
("Detected a data update… This is currently not supported"), because
a row stream cannot retract rows it already emitted;
``skip_change_commits=True`` opts into ignoring them (Delta's
``skipChangeCommits``), and the change feed is the right tool when
the mutations themselves are the signal.

Mechanics are shared with :mod:`change_feed`: the ``zhistory`` source
tails the manifest with versions as checkpointed offsets (exactly-once
delivery of commit METADATA), and foreachBatch lands each commit's
rows in a parquet sink partitioned by ``_commit_version`` with dynamic
partition overwrite — an at-least-once replay rewrites its partition,
so the sink holds exactly-once visible rows end to end.

100 TB: the snapshot batch is one manifest-pruned scan (the price any
stream's initial load pays); every subsequent batch reads ONE append
batch's files — cost tracks ingest, never table size. Rows surface
under each commit's LOGICAL column names (renames applied), so a
downstream consumer sees the same schema a batch read would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def _commit_rows(spark: SparkSession, table_path: str, version: int,
                 starting_version: int,
                 skip_change_commits: bool,
                 meta=None) -> DataFrame | None:
    """The rows ONE commit contributes to the row stream — None when
    it contributes nothing (physical rewrites, metadata-only commits,
    replayed no-ops, or skipped mutations). ``meta`` is an optional
    version→manifest cache (the fold passes the bulk-prefetched one —
    see change_feed._prefetch_manifests); without it every call pays
    two driver-side manifest reads."""
    from aggregation_duckdb_spark.sources import layout as L
    if meta is None:
        meta = lambda v: L._read_manifest_version(  # noqa: E731
            spark, table_path, v)
    m_v = meta(version)
    if m_v is None:
        raise FileNotFoundError(
            f"stream read needs manifest version {version} of "
            f"{table_path}, but it was pruned — retain history while "
            f"a stream is live")
    if version == starting_version:
        return L.read_zordered(spark, table_path,
                               version=version).drop("zbucket")
    op = m_v.get("op")
    if op in ("compact_incremental", "compact_full", "optimize",
              "alter"):
        return None
    if op == "append":
        m_prev = meta(version - 1)
        if m_prev is None:
            raise FileNotFoundError(
                f"stream read needs manifest version {version - 1} of "
                f"{table_path}, but it was pruned — retain history "
                f"while a stream is live")
        new = [d for d in m_v.get("deltas", [])
               if d not in m_prev.get("deltas", [])]
        if not new:
            return None    # replayed batch id landed as a no-op
        out = L._read_deltas(spark, table_path, m_v, names=new)
        out = L._apply_tombstones(spark, table_path, m_v, out)
        return L._rename_logical(m_v, out)
    if skip_change_commits:
        return None
    raise ValueError(
        f"stream_zordered: commit v{version} of {table_path} is a "
        f"{op!r} — a row stream only tails appends (emitted rows "
        f"cannot be retracted); read the change feed for CDC, or pass "
        f"skip_change_commits=True to ignore mutations (Delta's "
        f"skipChangeCommits)")


def run_table_stream(spark: SparkSession, table_path: str,
                     sink_path: str, checkpoint_dir: str,
                     skip_change_commits: bool = False,
                     max_commits_per_batch: int = 0,
                     starting_version: int = 1) -> None:
    """Drain all outstanding commits of the table into the row sink,
    resuming from the checkpoint — the snapshot lands once (its
    starting version's partition), appends land incrementally; call
    again after more commits, or wrap with a processing-time trigger
    for a long-lived tail. Idempotent per commit: replays rewrite
    their ``_commit_version`` partition. Startup cost is O(1) in
    backlog length by default (``max_commits_per_batch=0`` drains to
    the head in one batch; sink writes chunk via
    :func:`change_feed._write_commit_chunks`) — pass a positive cap
    for bounded steps, which loop single-batch starts exactly as
    :func:`change_feed.run_change_feed` does (the Python micro-batch
    source's Trigger.AvailableNow fallback)."""
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources.pydatasource import (
        register_zhistory)
    from aggregation_duckdb_spark.streaming.change_feed import (
        _write_commit_chunks)
    from aggregation_duckdb_spark.streaming.event_time import (
        consume_pending_source_bytes)
    # metadata-source drain: clear any stale file-source tallies so
    # they cannot skew a LATER drain's state-partition derivation
    consume_pending_source_bytes()
    register_zhistory(spark)
    done: set[int] = set()
    refused: list[Exception] = []

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        from aggregation_duckdb_spark.streaming.change_feed import (
            _flush_append_run, _group_runs, _plain_append_check)

        # bounded collect: one tiny metadata row per commit
        commits = sorted(r["version"] for r in
                         batch_df.select("version").collect())
        # runs of ingest appends (no NEW tombstones, no mapping — a
        # merged multi-path scan is then semantically identical to
        # per-batch reads) drain as ONE scan per ≤256 commits; the
        # snapshot version and every other commit keep the exact
        # per-commit path. Manifests for the whole batch are
        # bulk-prefetched in one distributed pass.
        meta, is_plain = _plain_append_check(
            spark, table_path, (starting_version,), prefetch=commits)

        def rows_of(vs):
            for v in vs:
                try:
                    yield v, _commit_rows(spark, table_path, v,
                                          starting_version,
                                          skip_change_commits,
                                          meta=meta)
                except (ValueError, FileNotFoundError) as e:
                    # surfaces wrapped in a StreamingQueryException
                    # below; keep the original so the caller sees a
                    # clean refusal (ValueError = mutation refusal,
                    # FileNotFoundError = the retention error
                    # _commit_rows raises with guidance — both must
                    # reach the caller unwrapped)
                    refused.append(e)
                    raise

        singles: list[int] = []
        for kind, x in _group_runs(commits, is_plain):
            if kind == "single":
                singles.append(x)
                continue
            _write_commit_chunks(spark, sink_path, rows_of(singles),
                                 done)
            singles = []
            _flush_append_run(spark, table_path, sink_path, x, meta,
                              done)
        _write_commit_chunks(spark, sink_path, rows_of(singles), done)

    mdir = fsio._join(table_path, "_manifest")
    while True:
        processed_before = len(done)
        q = (spark.readStream.format("zhistory")
             .option("tablePath", table_path)
             .option("max_commits_per_batch", int(max_commits_per_batch))
             .option("starting_version", int(starting_version))
             .load()
             .writeStream
             .foreachBatch(fold)
             .option("checkpointLocation", checkpoint_dir)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        try:
            q.awaitTermination()
        except Exception:
            if refused:
                raise refused[0] from None
            raise
        if len(done) == processed_before:
            return                       # no progress: drained
        if max(done) >= fsio.latest_version(spark, mdir):
            return                       # caught up with the head


def read_table_stream(spark: SparkSession, sink_path: str,
                      from_version: int | None = None,
                      to_version: int | None = None) -> DataFrame:
    """Read the materialized row stream back (batch) — optionally a
    commit-version range; ``mergeSchema`` because commits may straddle
    a schema evolution. A sink no stream has written yet reads as an
    EMPTY frame carrying just the stream-management column."""
    from aggregation_duckdb_spark import fsio
    if not any(n.endswith(".parquet") or n.startswith("_commit_version=")
               for n in fsio.list_names(spark, sink_path)):
        return spark.createDataFrame([], "_commit_version int")
    out = spark.read.option("mergeSchema", "true").parquet(sink_path)
    if from_version is not None:
        out = out.where(F.col("_commit_version") >= from_version)
    if to_version is not None:
        out = out.where(F.col("_commit_version") <= to_version)
    return out
