"""Streaming change feed off the Z-ordered table's manifest log —
the Delta Lake Change Data Feed analogue, composed from parts this
repo already trusts instead of per-commit change files:

- the ``zhistory`` source (:mod:`sources.pydatasource`) tails the
  manifest and emits one METADATA row per new commit, rate-limited,
  with manifest versions as the stream's offsets (checkpointed by
  Spark — exactly-once delivery across restarts for free);
- ``foreachBatch`` materializes each commit's CHANGE ROWS with
  :func:`sources.layout.diff_zordered` (snapshot-vs-snapshot, fully
  distributed — the driver only ever touches the handful of metadata
  rows per micro-batch) and lands them in a parquet sink partitioned
  by ``_commit_version`` with dynamic partition overwrite, so an
  at-least-once replay REWRITES its commit's partition instead of
  duplicating it — exactly-once visible change rows end to end.

The first commit (the CREATE) has no predecessor snapshot: its change
rows are the v1 snapshot tagged ``insert``, so a feed started from
version 1 reconstructs the whole table history. Retention contract:
both endpoints of every pending diff must still be readable — run
mutations with ``vacuum=False`` (or a retention window) while a feed
is live, exactly Delta CDF's requirement.

100 TB: the source moves kilobytes of metadata; each diff costs two
endpoint-pruned snapshot scans plus a keyed join (endpoint-
proportional, never history-proportional), and the sink overwrite is
scoped to one commit's partition. A training-data pipeline resumes
the feed after any crash from the checkpoint alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def _commit_changes(spark: SparkSession, table_path: str, version: int,
                    key_cols: list[str], meta=None) -> DataFrame | None:
    """The change rows of ONE commit, derived per OPERATION so the
    cost tracks the change, not the snapshot (the Delta-CDF cost
    model, reconstructed from the manifest instead of change files):

    - v1 (create/clone): the snapshot tagged ``insert``;
    - ``compact_*`` / ``optimize``: None — physical rewrites are
      logically INVISIBLE (deltas and tombstones were already applied
      by every read before the fold), so the feed skips them for
      free instead of paying two scans to diff nothing;
    - ``append``: the commit's NEW delta batch read directly (one
      batch-sized scan), tagged ``insert`` — with the snapshot's
      outstanding tombstones applied, exactly as reads would;
    - ``delete_keys``: the prior snapshot semi-joined against the
      commit's NEW tombstone batch (one pruned scan + a broadcast
      semi-join), tagged ``delete`` with full preimages;
    - anything else (upsert / merge / delete_box / restore /
      replace): the general endpoint diff, ``diff_zordered``.
    """
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    # raw manifest reads (no min-live guard): this function needs the
    # commit's METADATA; the paths that actually read snapshot data
    # (v1 inserts, delete preimages, the diff fallback) enforce the
    # retention guard themselves via read_zordered/diff_zordered.
    # ``meta`` is the fold's bulk-prefetched version→manifest cache.
    if meta is None:
        meta = lambda v: L._read_manifest_version(  # noqa: E731
            spark, table_path, v)
    m_v = meta(version)
    if m_v is None:
        raise FileNotFoundError(
            f"change feed needs manifest version {version} of "
            f"{table_path}, but it was pruned — retain history while "
            f"a feed is live")
    op = m_v.get("op")
    if version == 1:
        return (L.read_zordered(spark, table_path, version=1)
                .drop("zbucket")
                .withColumn("_change_type", F.lit("insert")))
    if "change_file" in m_v:
        # writer-side CDF (emit_changes=True): the commit stored its
        # exact change rows — read them back, no endpoint scans at
        # all, and no retention requirement on the endpoints. A null
        # marker means the commit PROVED it changed nothing.
        name = m_v["change_file"]
        if name is None:
            return None
        # stored change rows carry physical names; surface them under
        # the commit's logical schema like every other feed row
        return L._rename_logical(m_v, spark.read.parquet(
            fsio._join(table_path, L.CHANGES_DIR, name)))
    if op in ("compact_incremental", "compact_full", "optimize",
              "alter"):
        # physical rewrites and metadata-only schema changes move no
        # rows — logically invisible to the feed (the Delta CDF rule)
        return None
    m_prev = meta(version - 1)
    if m_prev is None:
        raise FileNotFoundError(
            f"change feed needs manifest version {version - 1} of "
            f"{table_path}, but it was pruned — retain history while "
            f"a feed is live (or emit_changes=True on mutations)")
    if op == "append":
        new = [d for d in m_v.get("deltas", [])
               if d not in m_prev.get("deltas", [])]
        if not new:
            return None   # replayed batch id landed as a no-op commit
        out = L._read_deltas(spark, table_path, m_v, names=new)
        out = L._apply_tombstones(spark, table_path, m_v, out)
        out = L._rename_logical(m_v, out)
        return out.withColumn("_change_type", F.lit("insert"))
    if op == "delete_keys":
        new_t = [t for t in m_v.get("tombstones", [])
                 if t not in m_prev.get("tombstones", [])]
        if new_t:
            keys = None
            raw_bytes = 0
            for t in new_t:
                d = fsio._join(table_path, L.TOMBSTONE_DIR, t)
                kk = spark.read.parquet(d)
                keys = kk if keys is None else keys.unionByName(kk)
                try:
                    raw_bytes += fsio.size_of(spark, d)
                except Exception:
                    raw_bytes = None
                if raw_bytes is None:
                    break
            kc = m_v.get("tombstone_key", key_cols)
            # tombstone batches and their key names are physical;
            # the preimage read below is logical — align the keys
            keys = L._rename_logical(m_v, keys)
            ren, _, _ = L._col_mapping(m_v)
            kc = [ren.get(c, c) for c in kc]
            # broadcast of the commit's key batch gated on its file
            # bytes (free metadata) — a bulk GDPR delete commit stays
            # unhinted and AQE picks the join strategy
            from aggregation_duckdb_spark import runtime as _rt
            kd = keys.distinct()
            kd = (_rt.broadcast_if_small(
                      kd, known_bytes=raw_bytes
                      * _rt.PARQUET_BROADCAST_EXPANSION)
                  if raw_bytes is not None
                  else _rt.broadcast_if_small(kd))
            victims = (L.read_zordered(spark, table_path,
                                       version=version - 1)
                       .drop("zbucket")
                       .join(kd, list(kc), "left_semi"))
            return victims.withColumn("_change_type", F.lit("delete"))
    return L.diff_zordered(spark, table_path, version - 1, version,
                           key_cols=key_cols)


# Commits per sink write: up to this many commits' rows union into
# ONE dynamic-partition-overwrite write. Small enough that a chunk's
# union plan stays trivial for Catalyst; big enough that a long
# backlog pays O(commits/32) write jobs instead of one per commit.
_WRITE_CHUNK = 32


def _write_commit_chunks(spark: SparkSession, sink_path: str,
                         per_commit, done: set) -> None:
    """Land ``(version, rows-or-None)`` pairs in the sink, CHUNKED:
    each row set is stamped with its ``_commit_version`` and up to
    :data:`_WRITE_CHUNK` commits union into one dynamic-partition-
    overwrite write. Replay granularity is unchanged — every touched
    partition is rewritten whole, so the sink holds exactly-once
    visible rows either way; a crash mid-drain redoes at most the
    batch's unflushed chunks on replay. An exception from the
    ``per_commit`` iterator (a refusal, a retention error) propagates
    after already-flushed chunks landed, exactly as the per-commit
    writes did."""
    from aggregation_duckdb_spark import fsio
    batch: list = []

    def flush() -> None:
        if not batch:
            return
        out = None
        for v, rows in batch:
            r = rows.withColumn("_commit_version", F.lit(int(v)))
            out = r if out is None else \
                out.unionByName(r, allowMissingColumns=True)
        with fsio.dynamic_partition_overwrite(spark):
            (out.write.mode("overwrite")
             .partitionBy("_commit_version").parquet(sink_path))
        done.update(int(v) for v, _ in batch)
        batch.clear()

    for v, rows in per_commit:
        if rows is None:
            done.add(int(v))
            continue
        batch.append((v, rows))
        if len(batch) >= _WRITE_CHUNK:
            flush()
    flush()


# Longest run of PLAIN appends read as one multi-path scan; bounds the
# version→batch literal map and the per-scan task count.
_MAX_APPEND_RUN = 256


def _group_runs(commits, is_plain, max_run: int = _MAX_APPEND_RUN):
    """Split an ordered commit list into maximal (≥2-length,
    consecutive-version) runs of plain appends and singles, order
    preserved: yields ``("run", [v...])`` / ``("single", v)``."""
    run: list[int] = []
    for v in commits:
        if is_plain(v) and (not run or v == run[-1] + 1) \
                and len(run) < max_run:
            run.append(v)
            continue
        if len(run) >= 2:
            yield "run", run
        else:
            for x in run:
                yield "single", x
        run = [v] if is_plain(v) else []
        if not run:
            yield "single", v
    if len(run) >= 2:
        yield "run", run
    else:
        for x in run:
            yield "single", x


def _flush_append_run(spark: SparkSession, table_path: str,
                      sink_path: str, run: list[int], meta,
                      done: set, tag_change_type: bool = False) -> None:
    """ONE scan for a run of ingest appends (no NEW tombstones within
    the run, no column mapping — the conditions under which a merged
    multi-path read is semantically identical to per-batch reads):
    each commit's new delta dirs, stamped with their commit version
    via the batch directory name. When the run carries an UNCHANGED
    outstanding tombstone set (extended round 14 — previously any
    tombstones forced the per-commit path), that shared set is
    anti-joined ONCE against the merged frame, exactly what the
    per-commit path applies per member. A backlog of N ingest commits
    costs O(N/256) plans instead of N."""
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    paths, kv = [], []
    for v in run:
        new = [d for d in meta(v).get("deltas", [])
               if d not in meta(v - 1).get("deltas", [])]
        for d in new:
            paths.append(fsio._join(table_path, L.DELTA_DIR, d))
            kv += [d, int(v)]
    if not paths:
        done.update(int(v) for v in run)  # no-op replays are drained
        return
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    name = F.regexp_extract(F.input_file_name(),
                            rf"{L.DELTA_DIR}/([^/]+)/", 1)
    ver = F.create_map(*[F.lit(x) for x in kv]).getItem(name) \
        .cast("int")
    df = df.withColumn("_commit_version", ver)
    # every run member shares the same outstanding tombstone set
    # (is_plain chains tombstones-unchanged-vs-prev), so one
    # anti-join == the per-commit application on every member
    df = L._apply_tombstones(spark, table_path, meta(run[0]), df)
    if tag_change_type:
        df = df.withColumn("_change_type", F.lit("insert"))
    with fsio.dynamic_partition_overwrite(spark):
        (df.write.mode("overwrite")
         .partitionBy("_commit_version").parquet(sink_path))
    # mark drained only AFTER the sink write lands (mirrors
    # _write_commit_chunks' flush ordering): a write failure must not
    # leave run versions falsely marked drained in the in-memory set
    done.update(int(v) for v in run)


def _prefetch_manifests(spark: SparkSession, table_path: str,
                        versions) -> dict:
    """Bulk-read the manifest JSONs a drain batch needs in ONE
    distributed pass (``wholeTextFiles`` over the manifest directory)
    instead of one driver-side Hadoop round-trip per commit — the
    residual per-commit drain cost SCALE_PROBE_r13 §8 profiled at
    ~0.07s/commit was exactly these reads. The manifest dir is LISTED
    first and only the versions in the batch's [lo, hi] range are
    read — drain cost tracks batch size, never table age. Versions in
    the requested range with no surviving file map to None (pruned),
    matching what a direct read would return; a read failure falls
    back to empty (the per-version cache then reads lazily,
    correctness unchanged) — but manifests that DID read are parsed
    through layout's validating parser, so a table requiring an
    unsupported reader feature raises here exactly as the lazy path
    would."""
    import re as _re

    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    versions = sorted(set(int(v) for v in versions))
    if not versions:
        return {}
    lo, hi = versions[0] - 1, versions[-1]   # runs peek at v-1
    try:
        mdir = L._manifest_path(table_path)
        want = {f"v{v:08d}.json" for v in range(max(lo, 1), hi + 1)}
        have = sorted(set(fsio.list_names(spark, mdir)) & want)
        if not have:
            return {}
        pairs = spark.sparkContext.wholeTextFiles(
            ",".join(fsio._join(mdir, n) for n in have)).collect()
    except Exception:
        return {}
    out: dict[int, dict | None] = {v: None for v in range(max(lo, 1),
                                                          hi + 1)}
    for p, content in pairs:
        m = _re.search(r"v(\d+)\.json$", p)
        if not m:
            continue
        v = int(m.group(1))
        if max(lo, 1) <= v <= hi:
            # outside the try: an unsupported-reader-feature error
            # must PROPAGATE, not degrade into the lazy fallback
            out[v] = L._parse_manifest(content, table_path, v)
    return out


def _plain_append_check(spark: SparkSession, table_path: str,
                        skip_versions: tuple,
                        prefetch=None) -> tuple:
    """(meta, is_plain) closures over a per-fold manifest cache
    (bulk-prefetched for the batch's versions when ``prefetch`` is
    given — see :func:`_prefetch_manifests`): a run member must be an
    ingest append — no NEW tombstones (an unchanged outstanding set
    is fine: the merged scan applies the shared set once, see
    :func:`_flush_append_run`), no column mapping, no stored change
    file (writer-side CDF rows are authoritative when present), not a
    snapshot version."""
    from aggregation_duckdb_spark.sources import layout as L
    metas: dict[int, dict | None] = {}
    if prefetch is not None:
        metas.update(_prefetch_manifests(spark, table_path, prefetch))

    def meta(v: int):
        if v not in metas:
            metas[v] = L._read_manifest_version(spark, table_path, v)
        return metas[v]

    def is_plain(v: int) -> bool:
        m = meta(v)
        return (v not in skip_versions and m is not None
                and m.get("op") == "append"
                and "change_file" not in m
                and meta(v - 1) is not None
                and m.get("tombstones", [])
                == meta(v - 1).get("tombstones", [])
                and not m.get("column_map")
                and not m.get("dropped_cols")
                and not m.get("added_cols"))

    return meta, is_plain


def run_change_feed(spark: SparkSession, table_path: str,
                    sink_path: str, checkpoint_dir: str,
                    key_cols: list[str],
                    max_commits_per_batch: int = 0,
                    starting_version: int = 1) -> None:
    """Drain all outstanding commits of the table into the change-row
    sink, resuming from the checkpoint — call again after more commits
    land, or wrap with a processing-time trigger for a long-lived
    tail. Idempotent per commit: replays rewrite their
    ``_commit_version`` partition.

    Spark's Python micro-batch stream does not support
    Trigger.AvailableNow (it falls back to SINGLE-batch execution,
    one ~seconds-scale stream startup per start()), so the default
    ``max_commits_per_batch=0`` drains the WHOLE backlog in one batch
    — the batch is only metadata rows, and the sink writes chunk via
    :func:`_write_commit_chunks` — making drain startup cost O(1) in
    backlog length instead of O(commits/batch). Pass a positive cap
    to restore bounded steps (the loop below then starts repeatedly
    until the feed has caught up or makes no progress)."""
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources.pydatasource import (
        register_zhistory)
    from aggregation_duckdb_spark.streaming.event_time import (
        consume_pending_source_bytes)
    # metadata-source drain: clear any stale file-source tallies so
    # they cannot skew a LATER drain's state-partition derivation
    consume_pending_source_bytes()
    register_zhistory(spark)
    done: set[int] = set()

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        # bounded collect: one tiny metadata row per commit
        commits = sorted(r["version"] for r in
                         batch_df.select("version").collect())
        meta, is_plain = _plain_append_check(spark, table_path, (1,),
                                             prefetch=commits)

        def rows_of(vs):
            for v in vs:
                yield v, _commit_changes(spark, table_path, v,
                                         key_cols, meta=meta)

        singles: list[int] = []
        for kind, x in _group_runs(commits, is_plain):
            if kind == "single":
                singles.append(x)
                continue
            _write_commit_chunks(spark, sink_path, rows_of(singles),
                                 done)
            singles = []
            _flush_append_run(spark, table_path, sink_path, x, meta,
                              done, tag_change_type=True)
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
        q.awaitTermination()
        if len(done) == processed_before:
            return                       # no progress: drained
        if max(done) >= fsio.latest_version(spark, mdir):
            return                       # caught up with the head


def read_change_feed(spark: SparkSession, sink_path: str,
                     from_version: int | None = None,
                     to_version: int | None = None) -> DataFrame:
    """Read the materialized change rows back (batch) — optionally a
    version range; ``mergeSchema`` because commits may straddle a
    schema evolution. A feed whose history produced NO change rows
    (only compactions / no-op replays) never creates the sink — that
    reads as an EMPTY frame carrying just the feed-management columns
    (the table columns are unknowable without a commit), not an
    AnalysisException."""
    from aggregation_duckdb_spark import fsio
    if not any(n.endswith(".parquet") or n.startswith("_commit_version=")
               for n in fsio.list_names(spark, sink_path)):
        return spark.createDataFrame(
            [], "_change_type string, _commit_version int")
    out = (spark.read.option("mergeSchema", "true").parquet(sink_path))
    if from_version is not None:
        out = out.where(F.col("_commit_version") >= from_version)
    if to_version is not None:
        out = out.where(F.col("_commit_version") <= to_version)
    return out
