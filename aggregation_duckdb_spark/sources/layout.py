"""Z-order (Morton-curve) data layout for multi-dimensional pruning.

The 100 TB problem this solves: a table laid out by ONE key prunes
scans on that key only — a box predicate over TWO columns (user AND
time, custkey AND date) still reads every file on the second
dimension. Interleaving the bits of the keys (the Z / Morton value)
and clustering storage by that value gives every coarse Z prefix a
small bounding box in EVERY dimension, so a k-D box predicate maps to
a small set of Z "buckets" — the same layout trick Delta Lake's
``OPTIMIZE ZORDER BY`` and DuckDB/Parquet min-max pruning exploit
(public knowledge; no proprietary system involved). The core is
k-dimensional (round-robin bit interleave, ``k * bits < 63``); the
original 2-D API is the k=2 case bit-for-bit (:func:`write_zordered`
vs :func:`write_zordered_nd`, :func:`read_zordered_box` vs
:func:`read_zordered_box_nd`).

Mechanics, all deterministic and engine-neutral:

- :func:`zvalue` builds the interleaved value as pure integer
  arithmetic on binned coordinates — JVM-side, whole-stage-codegen'd,
  no UDF (the bit picks are ``div``/``%`` with Python-int constants,
  so no shift-by-column limitation applies).
- :func:`write_zordered` writes the table under ``data/`` with TWO
  partition levels — ``zbucket`` (top ``bucket_bits`` of the Z value)
  and ``gen`` (an opaque generation id) — Z-sorted within each bucket
  so footer-reading engines also get row-group locality.
- :func:`zbuckets_for_box` is the planning half: enumerate the coarse
  Z cells (pure Python over 2^bucket_bits candidates — bucket_bits is
  small by design) and keep those whose 2-D cell intersects the query
  box. :func:`read_zordered_box` attaches the resulting
  ``(gen, zbucket IN ...)`` predicate, which Spark prunes as PARTITION
  directories at plan time (visible as PartitionFilters in explain) —
  the box filter itself still applies row-exactly, so results are
  identical to a full scan with the same box (pinned by
  tests/test_sources.py).

Durability model (the part that must survive HDFS/S3, where a 100 TB
table actually lives): all table state — layout spec, the live
``gen`` per bucket, the outstanding delta batches — lives in a
versioned manifest under ``_manifest/`` committed through
:mod:`aggregation_duckdb_spark.fsio` (write-temp-then-rename; readers
only ever see complete versions). Compaction writes NEW generation
directories for the buckets it touches, commits the manifest pointing
at them (the atomic flip), and only then deletes superseded
directories — a crash at any step leaves readers on a complete,
consistent snapshot, never the "rmtree'd but not yet renamed" void of
a directory-swap scheme. Concurrent writers use OPTIMISTIC
concurrency (no lock service, the Delta-style contract): the commit
is a rename-if-absent for the next version name, the loser of a
collision re-reads the latest manifest, re-validates what its
mutation physically read and wrote (touched buckets' generations,
folded delta/tombstone batches, the spec), merges and recommits —
blind appends and disjoint bucket rewrites both land with
consecutive versions; genuinely overlapping rewrites raise
:class:`CommitConflict` naming the competing operation. Readers need
no coordination ever. SCOPE: collision detection rides
rename-if-absent atomicity, so the multi-writer guarantee holds on
filesystems that have it — HDFS, ADLS Gen2, local — and NOT on
S3-style object stores, where rename is check-then-act copy+delete
(``fsio.atomic_rename_scheme`` classifies; there, run single-writer
or front the manifest dir with a conditional-put LogStore, exactly
Delta Lake's requirement). Crash-safety and reader correctness hold
on every filesystem regardless.

Concurrency contract by verb pair (pytest-pinned where marked *):

- ``append`` vs append/delete_keys/compact/optimize: merges* (blind —
  the delta name is re-appended onto whatever latest is). vs a SPEC
  change (CREATE OR REPLACE, full re-bin with new bounds/CHECK):
  CommitConflict* — the batch was CHECK-validated against the old
  table; if ONLY the ``check`` clause changed the batch is
  re-validated against it and merges iff it still passes*.
- ``delete_keys`` vs append/delete_keys/compact: merges* (tombstone
  batch re-appended; key compatibility re-checked against latest).
- bucket rewrites (``compact``/``upsert``/``merge``/``optimize``/
  ``delete_box``) vs a concurrent commit: merge iff the spec, the
  touched buckets' generations, and every folded delta/tombstone
  batch are untouched in latest* (disjoint-bucket upserts both
  land*); otherwise CommitConflict* (two upserts dirtying one
  bucket*). An upsert/merge composing over tombstones additionally
  requires the outstanding tombstone set unchanged* (a concurrent
  delete must not be resurrected). All five commit through one
  engine, :func:`_rewrite_buckets`.
- ``write`` (CREATE OR REPLACE) and ``restore``: last-writer-wins by
  declaration — they name the whole table state.
- ``vacuum_zordered``: not manifest-committed; run it quiesced, or
  give it a ``retention_ms`` above the longest write-to-commit gap so
  it cannot reclaim an in-flight writer's pre-commit directories*. Because
every commit is a manifest version, snapshots double as TIME TRAVEL:
``read_zordered*(..., version=N)`` pins state N; mutate with
``vacuum=False`` to retain history and reclaim it explicitly with
:func:`vacuum_zordered` (a MONOTONIC min-live marker makes reads of
reclaimed versions fail cleanly rather than silently partial).

Deletes come in two shapes: :func:`delete_zordered_box` is
predicate-scoped to the layout dims (the planner bounds the rewrite);
:func:`delete_zordered_keys` is the GDPR shape — keys are TOMBSTONED
(a small batch plus a manifest commit, no data rewrite), every read
hides them via a broadcast anti-join, and compaction folds them
physically by rewriting only the buckets that held victims.

Compaction cost model: :func:`compact_zordered` defaults to
``mode="incremental"`` — delta rows are routed to their zbuckets
under the EXISTING spec and only the dirtied buckets are rewritten,
so folding a 1-file delta costs ~1 bucket, not a 100 TB table.
Out-of-range delta values are safe by construction: binning CLAMPS,
so outliers land in edge buckets, and the planner clamps query boxes
the same way — any box that could match an outlier always probes that
edge bucket. The trade is bin-selectivity decay if the value range
drifts far; ``mode="full"`` rebins everything over recomputed bounds
(the Delta Lake ``OPTIMIZE ZORDER`` analogue) when a probe shows edge
buckets bloating.

Bucket sizing at scale: 2^bucket_bits directories must each hold many
files of healthy size (hundreds of MB); bucket_bits 6-10 covers
100 TB-class tables. Locally the default 4 (16 dirs) keeps sf-scale
file counts sane.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from aggregation_duckdb_spark import fsio
from aggregation_duckdb_spark.runtime import (
    PARQUET_BROADCAST_EXPANSION, broadcast_if_counted,
    broadcast_if_small)

MANIFEST_DIR = "_manifest"
DATA_DIR = "data"
DELTA_DIR = "_delta"
TOMBSTONE_DIR = "_tombstones"
CHANGES_DIR = "_changes"


# "auto" bucket sizing targets this many SOURCE bytes per coarse
# bucket directory. Anchors (ceil-log2, clamped [2, 12]): ~100 TB →
# 9 bits (512 dirs, ~200 GB each — many healthy-sized files per dir),
# ~10 TB → 6, ≤ ~1 TB → the floor. The local default stays the
# explicit 4 — auto is for callers who don't know their table's
# scale class up front.
AUTO_BUCKET_TARGET_BYTES = 256 << 30

# incremental compaction pins an outstanding delta backlog below this
# many bytes, so its dirtied-bucket census and its rewrite read it once
COMPACT_MATERIALIZE_BYTES = 256 << 20


def _bits_for_bytes(est_bytes: int) -> int:
    """Pure sizing rule for ``bucket_bits="auto"``: enough bucket
    directories that each holds about :data:`AUTO_BUCKET_TARGET_BYTES`
    of source data, clamped to [2, 12] (4+ dirs always — pruning needs
    something to prune; 4096 max — directory listings stay bounded)."""
    import math
    if est_bytes <= AUTO_BUCKET_TARGET_BYTES:
        return 2
    return max(2, min(12, math.ceil(
        math.log2(est_bytes / AUTO_BUCKET_TARGET_BYTES))))


# plan nodes whose size estimate is grounded in real bytes: file
# scans (summed file sizes), literal/range leaves (exact row width),
# and the width-only Project/Filter wrappers over them
_SCAN_ONLY_PLAN_NODES = ("Relation", "Project", "Filter",
                         "LocalRelation", "Range")


def _auto_bucket_bits(df: DataFrame) -> int:
    """Resolve ``bucket_bits="auto"`` from Catalyst's optimized-plan
    size estimate — but ONLY for frames the estimate is trustworthy
    on: plain file scans (plus projection/filter), where sizeInBytes
    is the summed file sizes. Join-/aggregate-/union-derived frames
    propagate multiplied estimates that grossly overshoot (a modest
    derived input can "estimate" petabytes and mint 4096 bucket
    directories of tiny files), so any other plan node falls back to
    the local default 4 — auto sizing is for file-backed inputs."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        for line in str(plan.toString()).splitlines():
            node = line.lstrip(" :+-")
            if node and not node.startswith(_SCAN_ONLY_PLAN_NODES):
                return 4
        est = int(str(plan.stats().sizeInBytes()))
    except Exception:
        return 4
    if est <= 0 or est >= (1 << 60):   # Catalyst's unknown sentinel
        return 4
    return _bits_for_bytes(est)


def _resolve_bucket_bits(df: DataFrame, bucket_bits) -> int:
    if bucket_bits == "auto":
        return _auto_bucket_bits(df)
    return int(bucket_bits)


def bin_col(c: Column, lo: int, hi: int, bits: int) -> Column:
    """Linear bin of ``c`` into [0, 2^bits), clamped at the edges."""
    n = 1 << bits
    span = hi - lo + 1
    scaled = (c.cast("long") - F.lit(lo)) * F.lit(n)
    binned = ((scaled - (scaled % F.lit(span))) / F.lit(span)).cast("long")
    return F.greatest(F.lit(0).cast("long"),
                      F.least(F.lit(n - 1).cast("long"), binned))


def interleave_nd(bins: list[Column], bits: int) -> Column:
    """k-dimensional Morton value, round-robin interleave: bit i of
    dimension d lands at global position ``i*k + d`` (so for k=2 this
    is exactly the classic 2-D interleave — a at 2i, b at 2i+1).
    Constants are Python ints, so the whole thing is a flat integer
    expression inside whole-stage codegen (no shift-by-column
    needed)."""
    k = len(bins)
    if k * bits > 62:
        raise ValueError(
            f"z value would overflow a long: {k} dims x {bits} bits")
    z = F.lit(0).cast("long")
    for i in range(bits):
        p = 1 << i
        for d, b in enumerate(bins):
            # bit i of x = (x div p) % 2; the subtraction keeps the
            # double-typed `/` exact (numerator exactly divisible)
            bit = (((b - (b % F.lit(p))) / F.lit(p)).cast("long")
                   % F.lit(2))
            z = z + bit * F.lit(1 << (i * k + d))
    return z.cast("long")


def interleave(a_bin: Column, b_bin: Column, bits: int) -> Column:
    """2-D Morton value — the k=2 case of :func:`interleave_nd`."""
    return interleave_nd([a_bin, b_bin], bits)


def zvalue(a: Column, b: Column, a_range: tuple[int, int],
           b_range: tuple[int, int], bits: int = 8) -> Column:
    """Z/Morton value of two numeric columns over known bounds."""
    return interleave(bin_col(a, *a_range, bits),
                      bin_col(b, *b_range, bits), bits)


def _dim_expr(col: str, kind: str | None) -> Column:
    """The layout-dimension BINNING expression: numerics (and
    timestamps — epoch seconds, monotonic and exact) cast to long;
    dates via ``unix_date`` (a bare long cast of a date is null)."""
    if kind == "date":
        return F.unix_date(F.col(col)).cast("long")
    return F.col(col).cast("long")


def _dim_kinds(df: DataFrame, cols: list[str]) -> dict[str, str]:
    """Layout dimensions needing a non-trivial long conversion, by
    column dtype — recorded in the spec so readers/planners coerce
    query bounds identically forever after."""
    kinds = {}
    for f in df.schema.fields:
        if f.name in cols:
            t = f.dataType.typeName()
            if t.startswith("timestamp"):
                kinds[f.name] = "timestamp"
            elif t == "date":
                kinds[f.name] = "date"
    return kinds


def _coerce_ranges(spark: SparkSession, spec: dict,
                   ranges: dict) -> dict:
    """Query bounds on timestamp/date layout dimensions, converted to
    the PLANNER's integer domain BY SPARK ITSELF (one 1-row job) — the
    same cast the write-side binning used, so session-timezone and
    parsing semantics can never diverge between writer and planner.
    Integer bounds pass through untouched; exactness never depends on
    this (row filters keep the original values — coercion only shapes
    the pruned-bucket superset)."""
    kinds = spec.get("kinds", {})
    exprs = []
    originals: dict[str, tuple] = {}
    for c, (lo, hi) in ranges.items():
        k = kinds.get(c)
        if k and not (isinstance(lo, int) and isinstance(hi, int)):
            tgt = "timestamp" if k == "timestamp" else "date"
            originals[c] = (lo, hi)
            for tag, v in (("lo", lo), ("hi", hi)):
                if isinstance(v, int):
                    # an already-integer endpoint of a mixed range is
                    # in the planner domain; pass it through unchanged
                    e = F.lit(v).cast("long")
                else:
                    e = F.lit(v).cast(tgt)
                    e = F.unix_date(e) if k == "date" else e.cast("long")
                exprs.append(e.alias(f"{c}__{tag}"))
    if not exprs:
        return ranges
    r = spark.range(1).select(*exprs).collect()[0]
    out = dict(ranges)
    for c, (olo, ohi) in originals.items():
        vals = r[f"{c}__lo"], r[f"{c}__hi"]
        for got, tag, orig in zip(vals, ("lo", "hi"), (olo, ohi)):
            # a malformed literal casts to NULL, not to an error —
            # surface it as the named bound, never a bare TypeError
            if got is None:
                raise ValueError(
                    f"_coerce_ranges: {tag} bound {orig!r} of layout "
                    f"dimension {c!r} does not parse as a "
                    f"{kinds.get(c)}")
        out[c] = (int(vals[0]), int(vals[1]))
    return out


def numeric_bounds_nd(df: DataFrame, cols: list[str],
                      kinds: dict[str, str] | None = None) -> list[list]:
    """Exact integer min/max of every layout dimension — one scalar
    aggregate (2k values collected: the sanctioned model-sized class).
    Returns ``[[col, lo, hi], ...]`` in ``cols`` order."""
    kinds = kinds if kinds is not None else _dim_kinds(df, cols)
    aggs = []
    for c in cols:
        e = _dim_expr(c, kinds.get(c))
        aggs += [F.min(e).alias(f"lo__{c}"), F.max(e).alias(f"hi__{c}")]
    r = df.agg(*aggs).collect()[0]
    return [[c, r[f"lo__{c}"], r[f"hi__{c}"]] for c in cols]


def numeric_bounds(df: DataFrame, a_col: str, b_col: str) -> dict:
    """2-D bounds in the legacy spec-key shape."""
    (_, a_lo, a_hi), (_, b_lo, b_hi) = numeric_bounds_nd(
        df, [a_col, b_col])
    return {"a_lo": a_lo, "a_hi": a_hi, "b_lo": b_lo, "b_hi": b_hi}


def _spec_dims(spec: dict) -> list[tuple[str, int, int]]:
    """Normalize a layout spec to ``[(col, lo, hi), ...]``: N-D specs
    carry a ``dims`` list; 2-D specs keep the original flat keys (so
    every manifest written before the N-D generalization still
    reads)."""
    if "dims" in spec:
        return [tuple(d) for d in spec["dims"]]
    # planning-only specs (bounds without column names) default the
    # names — the planner uses them purely as range-dict keys
    return [(spec.get("a_col", "a"), spec["a_lo"], spec["a_hi"]),
            (spec.get("b_col", "b"), spec["b_lo"], spec["b_hi"])]


def _respec_bounds(spec: dict, df: DataFrame) -> dict:
    """The same spec shape with bounds recomputed over ``df`` (full
    compaction's re-bin step)."""
    dims = _spec_dims(spec)
    fresh = numeric_bounds_nd(df, [c for c, _, _ in dims],
                              spec.get("kinds", {}))
    base = {"bits": spec["bits"], "bucket_bits": spec["bucket_bits"]}
    if "check" in spec:   # constraints survive a full re-bin
        base["check"] = spec["check"]
    if "kinds" in spec:   # dim conversions survive a re-bin too
        base["kinds"] = spec["kinds"]
    if "dims" in spec:
        return {"dims": fresh, **base}
    (a_col, a_lo, a_hi), (b_col, b_lo, b_hi) = fresh
    return {"a_col": a_col, "b_col": b_col, "a_lo": a_lo, "a_hi": a_hi,
            "b_lo": b_lo, "b_hi": b_hi, **base}


def _validate_check(df: DataFrame, spec: dict, op: str) -> None:
    """Enforce the table's CHECK constraint on an incoming batch —
    one column-pruned pass counting rows where the predicate does not
    affirmatively hold (false OR null); raises before any write."""
    check = spec.get("check")
    if not check:
        return
    bad = df.where(~F.coalesce(F.expr(check), F.lit(False))).count()
    if bad:
        raise ValueError(
            f"{op}: CHECK constraint ({check}) violated by {bad} "
            f"row(s) — nothing was written")


def _zbucket_col(spec: dict) -> Column:
    dims = _spec_dims(spec)
    kinds = spec.get("kinds", {})
    k = len(dims)
    bins = [bin_col(_dim_expr(c, kinds.get(c)), lo, hi, spec["bits"])
            for c, lo, hi in dims]
    z = interleave_nd(bins, spec["bits"])
    shift = 1 << (k * spec["bits"] - spec["bucket_bits"])
    return ((z - (z % F.lit(shift))) / F.lit(shift)).cast("long"), z


def _touched_buckets(df: DataFrame, spec: dict) -> list[int]:
    zb, _ = _zbucket_col(spec)
    return sorted(r[0] for r in
                  df.select(zb.alias("__zb")).distinct().collect())


def _new_gen() -> str:
    return "g" + uuid.uuid4().hex[:12]


def _manifest_path(path: str) -> str:
    return fsio._join(path, MANIFEST_DIR)


MIN_LIVE_MARKER = "minlive.txt"


def _min_live_version(spark: SparkSession, path: str) -> int:
    """Oldest manifest version whose snapshot's data generations are
    guaranteed intact (older versions may reference vacuumed dirs)."""
    marker = fsio._join(_manifest_path(path), MIN_LIVE_MARKER)
    if not fsio.exists(spark, marker):
        return 1
    return int(fsio.read_text(spark, marker).strip())


def _set_min_live_version(spark: SparkSession, path: str,
                          version: int) -> None:
    """Advance the min-live marker — MONOTONIC by construction: an
    eager (vacuum=True) mutation may already have moved it past the
    version a later ``vacuum_zordered(keep_versions>1)`` computes, and
    lowering it would let a time-travel read of an already-reclaimed
    snapshot pass the guard and silently return partial rows — the
    exact failure the marker exists to prevent."""
    version = max(version, _min_live_version(spark, path))
    fsio.write_text(spark, fsio._join(_manifest_path(path),
                                      MIN_LIVE_MARKER), str(version))


def table_version(spark: SparkSession, path: str) -> int:
    """The table's current (latest committed) manifest version."""
    return fsio.latest_version(spark, _manifest_path(path))


# Committed manifest versions are IMMUTABLE (write-temp-then-rename;
# version numbers only ever grow under this module's API), so their
# text can be cached for the session keyed by (manifest_dir, version)
# — repeat reads of the same table stop re-fetching and re-listing
# small JSON files through the Hadoop FS round-trip on every query
# (the dominant cost of a cold read is those py4j/FS hops, not the
# bytes). Only the TEXT is cached; each call parses its own dict, so
# callers stay free to mutate what they get back. Discovery of the
# LATEST version still lists the directory every time — that is what
# makes concurrent committers visible. Out-of-band deletion of a
# table directory and re-creation at the same path within one session
# is outside the API's single-writer contract (same caveat as vacuum).
_MANIFEST_TEXT_CACHE: dict[tuple[str, int], str] = {}
_MANIFEST_CACHE_MAX = 512


#: manifest features THIS reader understands (the Delta reader-
#: protocol analogue): a snapshot whose semantics depend on a feature
#: stamps it into ``reader_features``, and a reader that does not
#: recognize one must FAIL rather than silently misread the table
#: (e.g. a pre-column-mapping reader would surface dropped columns
#: and physical names as if they were the schema).
_SUPPORTED_READER_FEATURES = frozenset(
    {"column_mapping", "generated_columns"})


def _parse_manifest(text: str, path: str, version: int) -> dict:
    """Parse a manifest JSON and enforce the reader-feature protocol
    — EVERY path that turns manifest text into a dict must come
    through here (the lazy reader below AND the streaming drain's
    bulk prefetch), or a table requiring an unsupported feature would
    silently misread instead of raising."""
    m = json.loads(text)
    unknown = set(m.get("reader_features", [])) \
        - _SUPPORTED_READER_FEATURES
    if unknown:
        raise ValueError(
            f"snapshot v{version} of {path} requires reader "
            f"feature(s) {sorted(unknown)} this library version does "
            f"not support — reading it anyway would silently "
            f"misinterpret the table; upgrade the reader")
    return m


def _read_manifest_version(spark: SparkSession, path: str,
                           version: int) -> dict | None:
    mdir = _manifest_path(path)
    key = (mdir, version)
    text = _MANIFEST_TEXT_CACHE.get(key)
    if text is None:
        name = fsio._join(mdir, f"v{version:08d}.json")
        if not fsio.exists(spark, name):
            return None
        text = fsio.read_text(spark, name)
        if len(_MANIFEST_TEXT_CACHE) >= _MANIFEST_CACHE_MAX:
            _MANIFEST_TEXT_CACHE.clear()
        _MANIFEST_TEXT_CACHE[key] = text
    return _parse_manifest(text, path, version)


class CommitConflict(RuntimeError):
    """Optimistic concurrency gave up: a concurrent commit invalidated
    this mutation's preconditions (the message names the competing
    operation), or commit collisions persisted past the retry bound.
    The caller's physical write is orphaned but invisible — rerunning
    the mutation against the new table state is always safe."""


def _stats_rows(stats: dict) -> int | None:
    """Total rows across a stats dict's buckets — None when any
    bucket predates the ``__rows`` stat (unknowable without IO)."""
    vals = [s.get("__rows") for s in stats.values()]
    if not vals or any(v is None for v in vals):
        return None
    return int(sum(vals))


def _rewrite_metrics(dirtied, new_stats: dict, **extra) -> dict:
    """The operation-metrics record every bucket rewrite stamps into
    its commit (surfaced by :func:`table_history` — the Delta
    DESCRIBE HISTORY operationMetrics analogue): all values are
    already at hand, no extra jobs."""
    out = {"buckets_rewritten": len(dirtied)}
    rows = _stats_rows(new_stats)
    if rows is not None:
        out["rows_written"] = rows
    out.update({k: v for k, v in extra.items() if v})
    return out


def _conflict(op: str, latest: dict, why: str):
    raise CommitConflict(
        f"{op}: concurrent '{latest.get('op', 'unknown')}' commit {why}")


def _latest(spark: SparkSession, path: str) -> tuple[int, dict]:
    """(version, manifest) of the latest committed snapshot — read as
    a pair so the state is pinned to the version number (committed
    versions are immutable; listing twice could straddle a commit)."""
    v = table_version(spark, path)
    m = _read_manifest_version(spark, path, v) if v else None
    if m is None:
        raise FileNotFoundError(f"no z-order manifest under {path}")
    return v, m


def _commit(spark: SparkSession, path: str, manifest: dict | None,
            op: str, base_version: int, rebase=None,
            retries: int = 8,
            metrics: dict | None = None) -> tuple[int, dict | None]:
    """Commit ``manifest`` (derived from snapshot ``base_version``),
    stamped with the operation (the provenance :func:`table_history`
    reads) — OPTIMISTICALLY: the attempt targets version
    ``base_version + 1`` SPECIFICALLY, so any intervening commit
    surfaces as a collision instead of being silently committed past
    with stale state. On collision the latest manifest is re-read and
    the mutation re-derived through ``rebase(latest)``, which either
    merges it onto the new state (validating that what this mutation
    physically read/wrote is untouched — the Delta/Iceberg conflict
    rule), returns None (the mutation became a no-op, e.g. a replayed
    batch id a racer committed first), or raises
    :class:`CommitConflict` naming the competing operation. Returns
    ``(version, committed_manifest)`` — ``(0, None)`` for a no-op."""
    attempt_v = base_version + 1
    for attempt in range(retries + 1):
        if manifest is None:
            return 0, None
        m = dict(manifest)
        m["op"] = op
        # op, metrics and committed_ms are PER-COMMIT fields: stale
        # ones a rebase builder copied from the latest snapshot never
        # leak through
        m.pop("metrics", None)
        if metrics:
            m["metrics"] = metrics
        # commit wall-clock IN the manifest (not file mtime, which
        # copies/restores reset) — what timestamp time travel binds to
        import time as _time
        m["committed_ms"] = int(_time.time() * 1000)
        try:
            fsio.write_json_at(spark, _manifest_path(path), m, attempt_v)
            return attempt_v, m
        except fsio.CommitCollision:
            if rebase is None or attempt == retries:
                raise CommitConflict(
                    f"{op} on {path}: gave up after {attempt + 1} commit "
                    f"collisions") from None
            latest_v, latest = _latest(spark, path)
            manifest = rebase(latest)
            attempt_v = latest_v + 1
    raise AssertionError("unreachable")


def _commit_and_clean(spark: SparkSession, path: str, base: dict | None,
                      manifest: dict, op: str, base_version: int, rebase,
                      metrics: dict, vacuum: bool) -> tuple[int, dict]:
    """The tail every data-rewriting commit shares: :func:`_commit`,
    then — with ``vacuum`` — delete what the committed manifest no
    longer references, advance the min-live marker and prune old
    manifest versions. Cleanup runs strictly after the commit, so a
    crash in it leaves only invisible orphans."""
    v, final = _commit(spark, path, manifest, op, base_version,
                       rebase=rebase, metrics=metrics)
    if vacuum and base is not None:
        _cleanup_superseded(spark, path, base, final)
        _set_min_live_version(spark, path, v)
        fsio.prune_versions(spark, _manifest_path(path))
    return v, final


def _rewrite_buckets(spark: SparkSession, path: str, base_version: int,
                     base: dict, dirtied: list[int], rows: DataFrame,
                     op: str, files_per_bucket: int, vacuum: bool,
                     remaining: DataFrame | None = None,
                     changes: DataFrame | None = None) -> tuple[int, dict]:
    """The one bucket-rewrite engine (compaction, merge/upsert,
    optimize, box delete): ``rows`` — the complete new contents of the
    ``dirtied`` buckets of snapshot ``base``, every outstanding delta
    and tombstone batch of ``base`` already folded in — land as ONE new
    generation; the zone maps, row counts and column set come from the
    written bytes; the manifest flips; superseded directories go.

    ``remaining`` (tombstoned keys still hidden after the rewrite)
    replaces the tombstone set with one batch, or empties it when it
    has no rows. ``changes`` becomes the commit's stored change file.
    Returns ``(version, committed manifest)``.

    On a commit collision the rewrite merges onto the latest snapshot
    iff everything it depended on is untouched there: the spec, the
    generation of every dirtied bucket, every folded delta and
    tombstone batch — and, when it rewrites the tombstone set, that
    whole set (a concurrent delete must not be resurrected). What else
    a competitor changed (new deltas, new tombstones, other buckets)
    carries through: blind appends and disjoint rewrites both land,
    overlapping rewrites raise :class:`CommitConflict` naming the
    competitor."""
    folded_deltas = list(base.get("deltas", []))
    folded_tombs = list(base.get("tombstones", []))
    remaining_name = None if remaining is None else \
        _write_nonempty(remaining, path, TOMBSTONE_DIR, "t")
    change_name = None if changes is None else \
        _write_nonempty(changes, path, CHANGES_DIR, "c")
    spec = base["spec"]
    gen = _new_gen()
    _write_clustered(rows, fsio._join(path, DATA_DIR), spec, gen,
                     files_per_bucket)
    written, stats, gen_cols = _written_meta(spark, path, gen, spec)
    survivors = set(written)

    def rebase(latest: dict) -> dict:
        if latest.get("spec") != spec:
            _conflict(op, latest, "changed the layout spec")
        lg, bg = latest.get("gens", {}), base.get("gens", {})
        for k in dirtied:
            if lg.get(str(k)) != bg.get(str(k)):
                _conflict(op, latest, f"rewrote bucket {k}")
        for d in folded_deltas:
            if d not in latest.get("deltas", []):
                _conflict(op, latest, f"already folded delta batch {d}")
        for t in folded_tombs:
            if t not in latest.get("tombstones", []):
                _conflict(op, latest,
                          f"already folded tombstone batch {t}")
        if remaining is not None and \
                latest.get("tombstones", []) != folded_tombs:
            _conflict(op, latest, "changed the outstanding tombstone set")
        out = dict(latest)
        out.pop("change_file", None)   # per-commit field, never inherited
        gens, all_stats = dict(lg), dict(latest.get("stats", {}))
        for k in dirtied:
            all_stats.pop(str(k), None)
            if k in survivors:
                gens[str(k)] = gen
            else:
                gens.pop(str(k), None)   # emptied: drops out entirely
        all_stats.update(stats)
        out["gens"], out["stats"] = gens, all_stats
        # per-generation column sets (schema evolution) and foreign
        # data roots (shallow clones) follow their generations: a
        # rewritten bucket's new generation is local, so its old root
        # entry dies with the old generation
        live = set(gens.values())
        gcols = {**base.get("gen_columns", {}),
                 **latest.get("gen_columns", {}), gen: gen_cols}
        out["gen_columns"] = {g: c for g, c in gcols.items() if g in live}
        groots = {g: r for g, r in {**base.get("gen_roots", {}),
                                    **latest.get("gen_roots", {})}.items()
                  if g in live}
        if groots:
            out["gen_roots"] = groots
        else:
            out.pop("gen_roots", None)
        out["deltas"] = [d for d in latest.get("deltas", [])
                         if d not in folded_deltas]
        tombs = [t for t in latest.get("tombstones", [])
                 if t not in folded_tombs]
        if remaining_name is not None:
            tombs = [remaining_name]
        out["tombstones"] = tombs
        if not tombs:
            out.pop("tombstone_key", None)
        if changes is not None:
            out["change_file"] = change_name
        return out

    return _commit_and_clean(
        spark, path, base, rebase(base), op, base_version, rebase,
        _rewrite_metrics(dirtied, stats, deltas_folded=len(folded_deltas),
                         tombstones_folded=len(folded_tombs)), vacuum)


def version_at_timestamp(spark: SparkSession, path: str,
                         ts_ms: int) -> int:
    """Timestamp time travel (Delta's ``timestampAsOf``): the newest
    RETAINED snapshot committed at or before ``ts_ms`` (epoch millis)
    — commit times are stamped INSIDE each manifest by the committer,
    so copies/restores that reset file mtimes cannot skew history.
    Raises when every retained commit is newer (asking for a state
    before the table existed or before the retention horizon) — pin
    reads with ``read_zordered(..., version=version_at_timestamp(...))``.
    Commits from before the stamp existed have an UNKNOWN time and
    never match: returning one could hand back a state newer than
    ``ts_ms`` (time travel must never over-shoot), so a timestamp that
    falls among only unstamped history raises the same error — pin
    such reads by VERSION instead."""
    mdir = _manifest_path(path)
    versions = sorted(
        (int(x.group(1)) for x in
         (fsio._VERSION_RE.match(n) for n in fsio.list_names(spark, mdir))
         if x), reverse=True)
    if not versions:
        raise FileNotFoundError(f"no z-order manifest under {path}")
    for v in versions:       # newest-first: first match wins
        m = _read_manifest_version(spark, path, v)
        if m is not None and m.get("committed_ms") is not None \
                and int(m["committed_ms"]) <= ts_ms:
            return v
    raise ValueError(
        f"version_at_timestamp: no retained snapshot of {path} at or "
        f"before {ts_ms} — the table is newer, or the retention "
        f"horizon passed it (vacuum keeps fewer versions than asked)")


def table_history(spark: SparkSession, path: str) -> list[dict]:
    """The retained commit history, newest first — the audit/lineage
    view (the DESCRIBE HISTORY analogue): one row per manifest version
    with the operation that committed it and the snapshot's shape.
    Versions pruned by :func:`vacuum_zordered` are gone by design;
    run mutations with ``vacuum=False`` to retain deeper history."""
    mdir = _manifest_path(path)
    versions = sorted(
        (int(m.group(1)) for m in
         (fsio._VERSION_RE.match(n) for n in fsio.list_names(spark, mdir))
         if m), reverse=True)
    out = []
    for v in versions:
        m = _read_manifest_version(spark, path, v)
        if m is None:
            continue
        out.append({"version": v, "op": m.get("op", "unknown"),
                    "buckets": len(m.get("gens", {})),
                    "deltas": len(m.get("deltas", [])),
                    "tombstones": len(m.get("tombstones", [])),
                    # per-commit operation metrics and commit time
                    # (the DESCRIBE HISTORY operationMetrics /
                    # timestamp columns) — {}/None for commits from
                    # before the features
                    "op_metrics": m.get("metrics", {}),
                    "committed_ms": m.get("committed_ms")})
    return out


def read_manifest(spark: SparkSession, path: str,
                  version: int | None = None) -> dict:
    """The committed table state — latest by default, or a PINNED
    snapshot when ``version`` is given (time travel: every committing
    operation is a new manifest version; snapshots stay readable as
    long as their data generations haven't been vacuumed — run the
    mutating ops with ``vacuum=False`` and reclaim space explicitly
    with :func:`vacuum_zordered` to retain history)."""
    if version is None:
        version = table_version(spark, path)
        if version == 0:
            raise FileNotFoundError(f"no z-order manifest under {path}")
        m = _read_manifest_version(spark, path, version)
        if m is None:
            raise FileNotFoundError(f"no z-order manifest under {path}")
        return m
    if version < _min_live_version(spark, path):
        raise ValueError(
            f"snapshot v{version} of {path} was vacuumed (oldest live: "
            f"v{_min_live_version(spark, path)})")
    m = _read_manifest_version(spark, path, version)
    if m is None:
        raise FileNotFoundError(f"no manifest version {version} at {path}")
    return m


def table_exists(spark: SparkSession, path: str) -> bool:
    return table_version(spark, path) > 0


def read_spec(spark_or_path, path: str | None = None) -> dict:
    """Layout spec from the manifest. Accepts (spark, path)."""
    if path is None:
        raise TypeError("read_spec needs (spark, path)")
    return read_manifest(spark_or_path, path)["spec"]


def write_zordered(df: DataFrame, path: str, a_col: str, b_col: str,
                   bits: int = 8, bucket_bits: int | str = 4,
                   bounds: dict | None = None,
                   files_per_bucket: int = 1,
                   vacuum: bool = True,
                   check: str | None = None) -> dict:
    """Create (or replace) a Z-clustered table at ``path``: data under
    ``data/zbucket=K/gen=<g>``, state committed as manifest v1 (or the
    next version when re-laying an existing table — old generations
    are deleted only AFTER the commit). ``vacuum=False`` keeps the
    superseded snapshot's directories so it stays time-travel-readable
    (reclaim later with :func:`vacuum_zordered`).

    ``check`` declares a row-level CHECK CONSTRAINT (a SQL boolean
    expression, the reference's DDL-constraint shape re-expressed as
    admission-time validation — SURVEY §2 S2): this write and every
    later ``append_zordered``/``upsert_zordered`` batch is validated
    BEFORE anything lands; a violating batch raises with the
    violation count and commits nothing. Null checks count as
    violations (a CHECK must affirmatively hold).
    ``bucket_bits="auto"`` sizes the coarse-bucket count from the
    input's estimated bytes (:func:`_bits_for_bytes` — ~one bucket
    directory per :data:`AUTO_BUCKET_TARGET_BYTES`). Returns the
    layout spec."""
    bucket_bits = _resolve_bucket_bits(df, bucket_bits)
    kinds = _dim_kinds(df, [a_col, b_col])
    if bounds is None:
        (_, a_lo, a_hi), (_, b_lo, b_hi) = numeric_bounds_nd(
            df, [a_col, b_col], kinds)
        bounds = {"a_lo": a_lo, "a_hi": a_hi, "b_lo": b_lo, "b_hi": b_hi}
    spec = {"a_col": a_col, "b_col": b_col, "bits": bits,
            "bucket_bits": bucket_bits, **bounds}
    if kinds:
        spec["kinds"] = kinds
    if check is not None:
        spec["check"] = check
    return _write_table(df, path, spec, files_per_bucket, vacuum)


def write_zordered_nd(df: DataFrame, path: str, cols: list[str],
                      bits: int = 8, bucket_bits: int | str = 4,
                      bounds: list[list] | None = None,
                      files_per_bucket: int = 1,
                      vacuum: bool = True,
                      check: str | None = None,
                      _expect: tuple[int, dict] | None = None) -> dict:
    """:func:`write_zordered` for k layout dimensions (user x time x
    tenant is routine at 100 TB): the Z value round-robin-interleaves
    the bits of every column in ``cols``, so a k-D box predicate maps
    to a small coarse-bucket set exactly as in 2-D (read back with
    :func:`read_zordered_box_nd`). ``k * bits`` must stay under 63 (a
    long); planning enumerates 2^bucket_bits candidates as before. The
    spec is stored as a ``dims`` list — every other verb (append /
    compact / upsert / vacuum / zone-map reads) works on both shapes
    through the same normalization. ``bucket_bits="auto"`` as in
    :func:`write_zordered`."""
    bucket_bits = _resolve_bucket_bits(df, bucket_bits)
    kinds = _dim_kinds(df, cols)
    if bounds is None:
        bounds = numeric_bounds_nd(df, cols, kinds)
    spec = {"dims": [list(d) for d in bounds], "bits": bits,
            "bucket_bits": bucket_bits}
    if kinds:
        spec["kinds"] = kinds
    if check is not None:
        spec["check"] = check
    return _write_table(df, path, spec, files_per_bucket, vacuum,
                        expect=_expect)


def _write_table(df: DataFrame, path: str, spec: dict,
                 files_per_bucket: int, vacuum: bool,
                 expect: tuple[int, dict] | None = None) -> dict:
    spark = df.sparkSession
    _validate_check(df, spec, "write_zordered")
    if expect is not None:
        prev_v, prev = expect
    else:
        prev_v = table_version(spark, path)
        prev = _read_manifest_version(spark, path, prev_v) \
            if prev_v else None
    gen = _new_gen()
    data_root = fsio._join(path, DATA_DIR)
    _write_clustered(df, data_root, spec, gen, files_per_bucket)
    buckets, stats, cols = _written_meta(spark, path, gen, spec)
    manifest = {"spec": spec, "gens": {str(k): gen for k in buckets},
                "deltas": [], "stats": stats,
                "gen_columns": {gen: cols}}
    if expect is not None and "last_batch_id" in expect[1]:
        # a rebuild verb preserves the streaming-ingest watermark
        # (compact_full does the same); a user CREATE OR REPLACE
        # resets it with the rest of the table's identity
        manifest["last_batch_id"] = expect[1]["last_batch_id"]
    if expect is None:
        # CREATE OR REPLACE is last-writer-wins by declaration: a
        # commit collision recommits the same snapshot over whatever
        # landed in between (the loser's directories become invisible
        # orphans — the crash-orphan class cleanup/vacuum handles)
        rebase = lambda latest: manifest   # noqa: E731
    else:
        def rebase(latest: dict) -> dict:
            # a REBUILD verb (recluster) read the whole table at the
            # ``expect`` snapshot: any concurrent commit — an append's
            # delta batch, a bucket rewrite, a tombstone, an ALTER's
            # mapping edit — would be silently DISCARDED by replacing
            # state wholesale (a lost update, not a declared
            # replace). Conflict instead; the caller retries against
            # the new snapshot.
            for f in ("gens", "spec", "deltas", "tombstones",
                      "column_map", "dropped_cols", "added_cols"):
                if latest.get(f) != prev.get(f):
                    _conflict("recluster", latest,
                              "changed table state mid-rebuild")
            return manifest
    _commit_and_clean(spark, path, prev, manifest, "write", prev_v,
                      rebase, _rewrite_metrics(buckets, stats), vacuum)
    return spec


def _write_clustered(df: DataFrame, data_root: str, spec: dict,
                     gen: str, files_per_bucket: int) -> None:
    zb, z = _zbucket_col(spec)
    shift = 1 << (len(_spec_dims(spec)) * spec["bits"]
                  - spec["bucket_bits"])
    salt_shift = max(shift // max(files_per_bucket, 1), 1)
    salt = ((z - (z % F.lit(salt_shift))) / F.lit(salt_shift)).cast("long")
    (df.withColumn("__z", z).withColumn("zbucket", zb)
       .withColumn("__salt", salt)
       .withColumn("gen", F.lit(gen))
       .repartition("zbucket", "__salt")
       .sortWithinPartitions("zbucket", "__z")
       .drop("__z", "__salt")
       .write.mode("append").partitionBy("zbucket", "gen")
       .parquet(data_root))


def _cleanup_superseded(spark: SparkSession, path: str, old: dict,
                        new: dict) -> None:
    """Best-effort removal of directories the new manifest no longer
    references — runs strictly AFTER the commit, so a crash here only
    leaves orphans (invisible to readers: the live-(bucket, gen) filter
    never matches them), never a hole."""
    new_gens = new["gens"]
    for k, g in old.get("gens", {}).items():
        if new_gens.get(k) != g:
            fsio.delete(spark, fsio._join(
                path, DATA_DIR, f"zbucket={k}", f"gen={g}"))
    kept = set(new.get("deltas", []))
    for d in old.get("deltas", []):
        if d not in kept:
            fsio.delete(spark, fsio._join(path, DELTA_DIR, d))
    kept_t = set(new.get("tombstones", []))
    for t in old.get("tombstones", []):
        if t not in kept_t:
            fsio.delete(spark, fsio._join(path, TOMBSTONE_DIR, t))


def _to_bin(v: int, lo: int, hi: int, bits: int) -> int:
    """Query value -> bin, same arithmetic as :func:`bin_col` (floor
    division), clamped like the data is."""
    n = 1 << bits
    span = hi - lo + 1
    return max(0, min(n - 1, ((v - lo) * n) // span))


def _deinterleave_nd(bucket: int, kb: int, k: int,
                     bits: int) -> tuple[list[int], list[int]]:
    """Split a bucket id back into per-dimension high-bit prefixes.
    The bucket is the TOP ``kb`` bits of the Z value; global z bit
    position p belongs to dimension ``p % k`` (round-robin interleave),
    so walking the bucket bits MSB-first assigns each to its dimension.
    Returns (prefixes, prefix bit-lengths), both length k."""
    pre = [0] * k
    kd = [0] * k
    for j in range(kb):
        pos = k * bits - 1 - j
        d = pos % k
        pre[d] = (pre[d] << 1) | ((bucket >> (kb - 1 - j)) & 1)
        kd[d] += 1
    return pre, kd


def zbuckets_for_ranges(spec: dict,
                        ranges: dict[str, tuple[int, int]]) -> list[int]:
    """Every coarse Z bucket whose k-D cell intersects the query box —
    pure Python over 2^bucket_bits candidates (the planning-time half
    of the index; bucket_bits is small by design, so this is a bounded
    driver-side loop, not a data scan). ``ranges`` maps layout
    dimension -> (lo, hi); unmentioned dimensions are unconstrained."""
    dims = _spec_dims(spec)
    bits, kb, k = spec["bits"], spec["bucket_bits"], len(dims)
    q = []
    for c, lo, hi in dims:
        qlo, qhi = ranges.get(c, (lo, hi))
        q.append((_to_bin(qlo, lo, hi, bits), _to_bin(qhi, lo, hi, bits)))
    out = []
    for bucket in range(1 << kb):
        pre, kd = _deinterleave_nd(bucket, kb, k, bits)
        ok = True
        for d in range(k):
            # the cell spans full low bits below the prefix
            cell_lo = pre[d] << (bits - kd[d])
            cell_hi = ((pre[d] + 1) << (bits - kd[d])) - 1
            if cell_hi < q[d][0] or cell_lo > q[d][1]:
                ok = False
                break
        if ok:
            out.append(bucket)
    return out


def zbuckets_for_box(spec: dict, a_lo: int, a_hi: int,
                     b_lo: int, b_hi: int) -> list[int]:
    """2-D box planning — the k=2 case of :func:`zbuckets_for_ranges`
    (the box binds the spec's first two dimensions)."""
    dims = _spec_dims(spec)
    return zbuckets_for_ranges(spec, {dims[0][0]: (a_lo, a_hi),
                                      dims[1][0]: (b_lo, b_hi)})


def _live_paths(path: str, manifest: dict,
                buckets: list[int] | None = None) -> list[str]:
    """The live (zbucket, gen) DIRECTORIES of a snapshot, optionally
    restricted to a bucket list (gen_roots-aware: a shallow clone's
    foreign generations resolve to the source's data root)."""
    return [p for _, ps in
            _live_paths_by_root(path, manifest, buckets) for p in ps]


def _live_paths_by_root(path: str, manifest: dict,
                        buckets: list[int] | None = None
                        ) -> list[tuple[str, list[str]]]:
    """Live directories grouped by their DATA ROOT. Generations named
    in ``gen_roots`` (shallow clones) live under another table's data
    root; everything else under this table's. Grouping matters because
    each root needs its own ``basePath`` for the zbucket/gen partition
    columns to parse."""
    gens = manifest["gens"]
    roots = manifest.get("gen_roots", {})
    default_root = fsio._join(path, DATA_DIR)
    wanted = ({str(b) for b in buckets} if buckets is not None
              else set(gens))
    by_root: dict[str, list[str]] = {}
    for k, g in sorted(gens.items()):
        if k in wanted:
            r = roots.get(g, default_root)
            by_root.setdefault(r, []).append(
                fsio._join(r, f"zbucket={k}", f"gen={g}"))
    return sorted(by_root.items())


def _needs_merge_schema(gen_columns: dict, live: set) -> bool:
    """Whether a read over the ``live`` generations must merge parquet
    footers. True when recorded column sets genuinely differ — and
    ALSO when any live generation has NO recorded set while another
    does: a table created before per-generation column tracking has
    unrecorded generations, and after a schema-adding append plus
    incremental fold only the new generation is recorded — treating
    the unknowns as "agreeing" would let Spark infer the schema from
    one arbitrary footer and silently, nondeterministically drop the
    evolved column. Unknown counts as a DISTINCT schema; all-unknown
    (a purely legacy table, necessarily uniform — evolution is what
    creates the records) stays on the fast path."""
    recorded = {tuple(gen_columns[g]) for g in live if g in gen_columns}
    unknown = any(g not in gen_columns for g in live)
    return len(recorded) > 1 or (bool(recorded) and unknown)


def _read_live(spark: SparkSession, path: str, manifest: dict,
               buckets: list[int] | None = None) -> DataFrame:
    """Scan exactly the snapshot's live generation directories —
    MANIFEST-DRIVEN file pruning, the Delta/Iceberg mechanism: dead
    generations (history retained with ``vacuum=False``), superseded
    buckets, and crash orphans are never LISTED, let alone read, so
    per-query file-listing cost tracks the live snapshot, not the
    table's mutation history. ``basePath`` keeps zbucket/gen as
    partition columns, and the precise live-(zbucket, gen) predicate
    stays applied on top (defense-in-depth, and it keeps the pruning
    visible as PartitionFilters in the plan, which the plan-shape
    tests pin). An empty snapshot falls back to a filtered-false read
    of the data root purely to carry the schema."""
    data_root = fsio._join(path, DATA_DIR)
    grouped = _live_paths_by_root(path, manifest, buckets)
    if not grouped:
        return _map_stored(manifest,
                           spark.read.parquet(data_root)
                           .where(F.lit(False)))
    gc = manifest.get("gen_columns", {})
    gens = manifest["gens"]
    wanted = ({str(b) for b in buckets} if buckets is not None
              else set(gens))
    live = {g for k, g in gens.items() if k in wanted}
    merge = _needs_merge_schema(gc, live)
    parts = []
    for root, paths in grouped:
        reader = spark.read.option("basePath", root)
        if merge:
            # generations disagree on schema (incremental folds after
            # a schema-adding append): merge footers so the union
            # schema comes back with nulls backfilled — paid only when
            # actually mixed, never on the uniform fast path
            reader = reader.option("mergeSchema", "true")
        parts.append(reader.parquet(*paths))
    out = parts[0]
    for p in parts[1:]:   # >1 root only for shallow clones mid-rewrite
        out = out.unionByName(p, allowMissingColumns=True)
    return _map_stored(manifest, out.where(_live_filter(manifest, buckets)))


def _live_filter(manifest: dict, buckets: list[int] | None = None) -> Column:
    """Partition predicate selecting exactly the live (zbucket, gen)
    pairs — grouped by gen so the expression stays compact. Both are
    partition columns, so the whole disjunction prunes directories at
    plan time (PartitionFilters). Precise per-bucket pairing (not a
    bare gen IN list) keeps crash-orphaned old generations invisible."""
    gens = manifest["gens"]
    wanted = ({str(b) for b in buckets} if buckets is not None
              else set(gens))
    by_gen: dict[str, list[int]] = {}
    for k, g in gens.items():
        if k in wanted:
            by_gen.setdefault(g, []).append(int(k))
    pred = F.lit(False)
    for g, ks in sorted(by_gen.items()):
        pred = pred | ((F.col("gen") == g) & F.col("zbucket").isin(ks))
    return pred


# --- column mapping (metadata-only ALTER TABLE) -----------------------
#
# The Delta Lake column-mapping design (mode=name), re-expressed on the
# manifest: data files keep their ORIGINAL column names forever (the
# "physical" schema), and three optional manifest fields describe the
# user-facing ("logical") schema as a pure view over them —
#
#   column_map:   {physical -> logical}   renamed columns
#   dropped_cols: [physical, ...]         columns hidden from every read
#   added_cols:   {name -> {type, default}}  metadata-only ADD COLUMN
#
# so RENAME / DROP / ADD COLUMN are each ONE manifest commit — zero
# data movement at any table size. Drop + add are resolved at the
# storage choke points (`_read_live` for the clustered area,
# `_read_delta_batch` for append batches) in PHYSICAL name space, so
# every internal verb (compaction, upsert, merge, bloom build) sees the
# post-drop/post-fill rows and physical rewrites MATERIALIZE added
# columns / shed dropped ones as buckets churn. Renames are applied at
# the public API boundary only: the LAST step of every public read, the
# FIRST step of every public write — internals never see logical names,
# so stored stats, bloom sidecars, tombstone keys, CHECK expressions
# and the layout spec all stay keyed by stable physical names (the same
# reason Delta freezes physical names under column mapping).


def _col_mapping(manifest: dict) -> tuple[dict, set, dict]:
    """(physical→logical renames, dropped physicals, added columns)."""
    return (dict(manifest.get("column_map", {})),
            set(manifest.get("dropped_cols", [])),
            dict(manifest.get("added_cols", {})))


def _added_fill(meta: dict) -> Column:
    """What an added column reads as for rows that predate it: the
    GENERATED expression when one is declared (computed per row over
    the physical columns — Delta's generated columns), else the
    constant default."""
    e = F.expr(meta["expr"]) if meta.get("expr") \
        else F.lit(meta.get("default"))
    return e.cast(meta["type"])


def _map_stored(manifest: dict, df: DataFrame) -> DataFrame:
    """Resolve DROP + ADD against a stored frame, in PHYSICAL names:
    dropped columns vanish; an added column reads its DEFAULT (or
    computes its GENERATED expression) for rows of generations that
    predate the add and its stored value for rows of generations
    written after it (decided per row via the ``gen`` partition
    column against the manifest's per-generation column sets — exact
    even for mixed-generation scans, where a bare coalesce would turn
    an explicitly-written NULL into the default). Frames without
    ``gen`` (the empty-snapshot schema carrier) fill unconditionally.
    Renames are NOT applied here — internals stay physical."""
    _, dropped, added = _col_mapping(manifest)
    if not (dropped or added):
        return df
    hide = [c for c in dropped if c in df.columns]
    if hide:
        df = df.drop(*hide)
    gc = manifest.get("gen_columns", {})
    live = set(manifest.get("gens", {}).values())
    for name, meta in added.items():
        d = _added_fill(meta)
        if name not in df.columns:
            df = df.withColumn(name, d)
        elif "gen" in df.columns:
            has = [g for g in live if name in gc.get(g, ())]
            if set(has) != live:
                df = df.withColumn(
                    name, F.when(F.col("gen").isin(has),
                                 F.col(name)).otherwise(d))
    return df


def _read_delta_batch(spark: SparkSession, path: str, manifest: dict,
                      name: str) -> DataFrame:
    """Read one outstanding append batch with the snapshot's DROP +
    ADD resolved (physical names): a batch written before an ADD lacks
    the column entirely and fills the default / computes the generated
    expression; one written after carries it (explicit NULLs stay
    NULL)."""
    df = spark.read.parquet(fsio._join(path, DELTA_DIR, name))
    _, dropped, added = _col_mapping(manifest)
    hide = [c for c in dropped if c in df.columns]
    if hide:
        df = df.drop(*hide)
    for n, meta in added.items():
        if n not in df.columns:
            df = df.withColumn(n, _added_fill(meta))
    return df


def _rename_logical(manifest: dict, df: DataFrame) -> DataFrame:
    """physical → logical names: the LAST step of every public read."""
    ren, _, _ = _col_mapping(manifest)
    present = {p: l for p, l in ren.items() if p in df.columns}
    return df.withColumnsRenamed(present) if present else df


def _phys_name(manifest: dict, name: str) -> str:
    """One logical column name → its physical name (identity when the
    column was never renamed; an already-physical name of a renamed
    column passes through too, so internal callers that hold physical
    names keep working)."""
    ren, _, _ = _col_mapping(manifest)
    return {l: p for p, l in ren.items()}.get(name, name)


def _phys_names(manifest: dict, names, op: str) -> list[str]:
    """Map user-supplied column names (logical) to physical, refusing
    names that no longer exist in the logical schema (dropped, or the
    pre-rename spelling of a renamed column)."""
    ren, dropped, _ = _col_mapping(manifest)
    stale = set(dropped) | {p for p, l in ren.items() if p != l}
    bad = [n for n in names if n in stale]
    if bad:
        raise ValueError(
            f"{op}: column(s) {sorted(bad)} are not in the table's "
            f"current schema (dropped or renamed — use the current "
            f"names)")
    inv = {l: p for p, l in ren.items()}
    return [inv.get(n, n) for n in names]


def _phys_ranges(manifest: dict, ranges: dict, op: str) -> dict:
    """Range/equality predicate dicts keyed by logical names →
    physical keys (values untouched)."""
    keys = _phys_names(manifest, list(ranges), op)
    return {k: ranges[c] for k, c in zip(keys, ranges)}


def _batch_to_physical(manifest: dict, df: DataFrame, op: str) -> DataFrame:
    """An incoming user batch (logical names) → storage names: the
    FIRST step of every public write. Refuses columns spelled by a
    dropped or pre-rename physical name — silently storing them would
    resurrect a dropped column or write past a rename. A batch that
    CARRIES a generated column is validated against its expression
    (one admission-time count, the CHECK-constraint cost model —
    Delta's generated-column write rule); a batch that omits it stays
    cheap and reads compute it until a rewrite materializes it."""
    _phys_names(manifest, df.columns, op)   # stale-name guard
    ren, _, added = _col_mapping(manifest)
    back = {l: p for p, l in ren.items() if l in df.columns and l != p}
    if back:
        df = df.withColumnsRenamed(back)
    for name, meta in added.items():
        if meta.get("expr") and name in df.columns:
            bad = df.where(~F.col(name).eqNullSafe(
                _added_fill(meta))).count()
            if bad:
                raise ValueError(
                    f"{op}: generated column {name!r} must equal "
                    f"({meta['expr']}) — {bad} row(s) disagree; omit "
                    f"the column to have it computed")
    return df


def _sub_identifier(expr: str, old: str, new: str) -> str:
    """Substitute identifier ``old`` → ``new`` in a SQL expression,
    matching only genuine column-reference positions: skips text
    inside single-/double-quoted string literals (split out before
    substitution, '' and "" escapes included), struct-field derefs
    (``col.old`` is a field of ``col``, not the column) and
    function-call positions (``old(...)`` names a function). The
    merge clauses' target/source frame qualifiers ``t.``/``s.`` ARE
    column-reference positions and rewrite — but only when the
    qualifier STARTS the reference (``t.col``, not the struct-field
    path ``x.t.col``, whose ``t`` is itself a field of ``x``);
    backtick-quoted spellings rewrite too — they are column
    references. Residual ambiguity: a USER column literally named
    ``t``/``s`` shadows the frame qualifier in merge expressions
    (``s.field`` reads as source-frame ``field``) — documented
    contract of the merge API, same as Delta's alias shadowing."""
    import re as _re
    pat = _re.compile(
        rf"(?:(?<![\w$.])[ts]\.|(?<![\w$.]))"
        rf"{_re.escape(old)}(?![\w$])(?!\s*\()")

    def _repl(m: "_re.Match[str]") -> str:
        text = m.group(0)
        qual = text[:len(text) - len(old)]   # '' or 't.'/'s.'
        return qual + new

    parts = _re.split(r"('(?:[^']|'')*'|\"(?:[^\"]|\"\")*\")", expr)
    return "".join(p if i % 2 else pat.sub(_repl, p)
                   for i, p in enumerate(parts))


def _expr_physical(manifest: dict, expr: str | None) -> str | None:
    """Rewrite a user SQL expression (merge clauses) from logical to
    physical column names — identifier-position substitution via
    :func:`_sub_identifier` (string literals, struct-field derefs and
    function names are left alone), the same contract Delta applies
    when it re-analyzes clause expressions against the logical
    schema."""
    if not expr:
        return expr
    ren, _, _ = _col_mapping(manifest)
    for p, l in ren.items():
        if p != l:
            expr = _sub_identifier(expr, l, p)
    return expr


def _expr_logical(manifest: dict, expr: str | None) -> str | None:
    """The inverse of :func:`_expr_physical`: rewrite a stored SQL
    expression (the CHECK constraint) from physical to logical names —
    used when a full rebuild MATERIALIZES the mapping."""
    if not expr:
        return expr
    ren, _, _ = _col_mapping(manifest)
    for p, l in ren.items():
        if p != l:
            expr = _sub_identifier(expr, p, l)
    return expr


def _spec_logical(manifest: dict) -> dict:
    """The layout spec re-keyed under LOGICAL column names (dims,
    kinds, CHECK) — what a materializing full rebuild writes, since
    its data files carry logical names from then on."""
    spec = manifest["spec"]
    ren, _, _ = _col_mapping(manifest)
    if not ren:
        return spec
    out = dict(spec)
    if "dims" in out:
        out["dims"] = [[ren.get(c, c), lo, hi]
                       for c, lo, hi in _spec_dims(spec)]
    else:
        out["a_col"] = ren.get(spec.get("a_col", "a"),
                               spec.get("a_col", "a"))
        out["b_col"] = ren.get(spec.get("b_col", "b"),
                               spec.get("b_col", "b"))
    if "kinds" in out:
        out["kinds"] = {ren.get(c, c): k
                        for c, k in out["kinds"].items()}
    if "check" in out:
        out["check"] = _expr_logical(manifest, out["check"])
    return out


def _logical_columns(spark: SparkSession, path: str,
                     manifest: dict) -> set[str]:
    """The table's current LOGICAL column set — from manifest metadata
    alone when every live generation's column set is recorded
    (gen_columns), falling back to a schema-only read for
    pre-tracking generations; outstanding append batches contribute
    their footer schemas (a schema-evolving append may carry columns
    no clustered generation has yet)."""
    gc = manifest.get("gen_columns", {})
    live = set(manifest.get("gens", {}).values())
    if all(g in gc for g in live):
        phys = {c for g in live for c in gc[g]}
    else:
        phys = set(_read_live(spark, path, manifest).columns) \
            - {"zbucket", "gen"}
    for d in manifest.get("deltas", []):
        phys |= set(_read_delta_batch(spark, path, manifest, d)
                    .schema.names)
    ren, dropped, added = _col_mapping(manifest)
    phys -= dropped
    phys |= set(added)
    return {ren.get(c, c) for c in phys}


def _read_deltas(spark: SparkSession, path: str, manifest: dict,
                 row_filter: Column | None = None,
                 names: list[str] | None = None) -> DataFrame | None:
    """The union of the snapshot's outstanding delta batches (or just
    ``names`` among them) in physical names — DROP + ADD resolved,
    schema-evolving batches aligned with nulls — each under
    ``row_filter``; None when there are none."""
    out = None
    for d in manifest.get("deltas", []) if names is None else names:
        dd = _read_delta_batch(spark, path, manifest, d)
        if row_filter is not None:
            dd = dd.where(row_filter)
        out = dd if out is None else \
            out.unionByName(dd, allowMissingColumns=True)
    return out


def _read_snapshot(spark: SparkSession, path: str, manifest: dict,
                   buckets: list[int] | None = None,
                   row_filter: Column | None = None,
                   deltas: DataFrame | None = None,
                   tomb: DataFrame | None = None) -> DataFrame:
    """The VISIBLE rows of a snapshot in physical names — the one read
    path behind every public read and every bucket rewrite: the live
    generations of ``buckets`` (all when None) plus every outstanding
    delta batch, both under ``row_filter``, with tombstoned keys
    hidden over the union. ``gen`` is dropped; ``zbucket`` is null on
    delta rows (unrouted until compaction). ``deltas`` / ``tomb`` pass
    in the delta union (:func:`_read_deltas`) and tombstone keys
    (:func:`_tombstone_keys`) a caller already read for this snapshot,
    so their batches are not listed and inferred twice."""
    out = _read_live(spark, path, manifest, buckets).drop("gen")
    if row_filter is not None:
        out = out.where(row_filter)
    if deltas is None:
        deltas = _read_deltas(spark, path, manifest, row_filter)
    if deltas is not None:
        out = out.unionByName(deltas, allowMissingColumns=True)
    if tomb is None:
        tomb = _tombstone_keys(spark, path, manifest)
    if tomb is not None:
        out = out.join(tomb, manifest["tombstone_key"], "left_anti")
    return out


def _conj(preds: list[Column]) -> Column | None:
    """AND of ``preds`` (None when empty)."""
    out = None
    for p in preds:
        out = p if out is None else out & p
    return out


def _in_ranges(ranges: dict) -> Column | None:
    """Conjunctive inclusive range predicate ``lo <= col <= hi``."""
    return _conj([(F.col(c) >= lo) & (F.col(c) <= hi)
                  for c, (lo, hi) in ranges.items()])


def read_zordered(spark: SparkSession, path: str,
                  manifest: dict | None = None,
                  version: int | None = None,
                  _logical: bool = True) -> DataFrame:
    """Full-scan read of the table snapshot — latest by default, a
    pinned time-travel snapshot with ``version`` (every live
    (zbucket, gen) directory; ``gen`` is internal and dropped). The
    snapshot's outstanding delta batches are INCLUDED (``zbucket`` is
    null for their rows — they are unrouted until compaction): a
    full-table read never silently misses appended rows.
    Columns come back under the snapshot's LOGICAL names (renames
    from :func:`alter_zordered` applied; ``_logical=False`` is the
    internal physical-name view rewrites and diffs use)."""
    if manifest is None:
        manifest = read_manifest(spark, path, version)
    out = _read_snapshot(spark, path, manifest)
    return _rename_logical(manifest, out) if _logical else out


def read_zordered_box(spark: SparkSession, path: str,
                      a_lo: int, a_hi: int, b_lo: int, b_hi: int,
                      manifest: dict | None = None,
                      version: int | None = None) -> DataFrame:
    """Scan a Z-ordered table under a 2-D box predicate: the coarse
    live-(zbucket, gen) list prunes PARTITION DIRECTORIES at plan
    time (PartitionFilters in explain — never listed, never read);
    the exact box filter keeps row-level semantics identical to a
    full-scan filter (results are provably equal: the bucket list is
    a superset of every bucket the box can touch), and the snapshot's
    outstanding delta batches are filtered by the box too (see
    :func:`read_zordered_box_nd`). ``version`` pins a time-travel
    snapshot."""
    if manifest is None:
        manifest = read_manifest(spark, path, version)
    dims = _spec_dims(manifest["spec"])
    ren, _, _ = _col_mapping(manifest)   # dims live in physical names
    return read_zordered_box_nd(
        spark, path, {ren.get(dims[0][0], dims[0][0]): (a_lo, a_hi),
                      ren.get(dims[1][0], dims[1][0]): (b_lo, b_hi)},
        manifest=manifest)


def read_zordered_box_nd(spark: SparkSession, path: str,
                         ranges: dict[str, tuple[int, int]],
                         manifest: dict | None = None,
                         version: int | None = None) -> DataFrame:
    """k-D box read: like :func:`read_zordered_box` but binding any
    subset of the layout dimensions — the coarse live-(zbucket, gen)
    list prunes partition directories at plan time, the exact range
    filters keep row-level semantics identical to a full-scan filter
    (the bucket list is a superset of every bucket the box can
    touch). The read snapshot's outstanding delta batches (unrouted
    until compaction, ``zbucket`` null) are read in full under the
    same range filters — they are small between compactions, the
    layered-layout contract — and the snapshot's tombstones hide keys
    in both areas, so the result equals :func:`read_zordered` under
    the same filter."""
    if manifest is None:
        manifest = read_manifest(spark, path, version)
    # range keys may be logical (post-rename) names; planning and row
    # filters run on the physical frame
    ranges = _phys_ranges(manifest, ranges, "read_zordered_box_nd")
    # planning coerces timestamp/date bounds to the binning's integer
    # domain; the row filters below keep the ORIGINAL values, so
    # results never depend on the coercion (only the pruning superset)
    planned = _coerce_ranges(spark, manifest["spec"], ranges)
    buckets = zbuckets_for_ranges(manifest["spec"], planned)
    return _rename_logical(manifest, _read_snapshot(
        spark, path, manifest, buckets, _in_ranges(ranges)))


def _add_deltas(m: dict, base_spec: dict, batches: list[DataFrame],
                names: list[str], op: str) -> dict:
    """Snapshot ``m`` with delta batches ``names`` appended — the blind
    append's rebase rule. The batches were CHECK-validated against
    ``base_spec``, so a layout-spec change since conflicts, unless
    only the ``check`` clause changed: then the batches are
    re-validated against the new constraint and land iff they still
    pass."""
    if m["spec"] != base_spec:
        if {k: v for k, v in m["spec"].items() if k != "check"} != \
                {k: v for k, v in base_spec.items() if k != "check"}:
            _conflict(op, m, "changed the layout spec (batch was "
                      "validated against the old table)")
        try:
            for d in batches:
                _validate_check(d, m["spec"], op)
        except ValueError as e:
            _conflict(op, m, f"tightened the CHECK constraint ({e})")
    out = dict(m)
    out.pop("change_file", None)   # per-commit, never inherited
    out["deltas"] = list(m.get("deltas", [])) + names
    return out


def append_zordered(df: DataFrame, path: str,
                    batch_id: int | None = None) -> None:
    """Append a batch WITHOUT re-clustering: rows land in a delta
    batch directory that box reads scan in full until the next
    compaction — the standard layered-layout contract (Delta Lake's
    OPTIMIZE shape): ingest stays cheap and layout quality degrades
    gracefully with delta size instead of blocking on a rewrite. The
    batch becomes visible only when the manifest commit lands; a crash
    mid-write leaves an unreferenced directory, not a torn table.

    SCHEMA EVOLUTION rides this path: a batch may carry columns the
    table doesn't have yet (or omit some). Reads union by name with
    nulls backfilled; compaction folds the union schema into the
    dirtied buckets and records each generation's column set in the
    manifest, so mixed-generation reads merge footers (mergeSchema)
    only while generations actually disagree.

    ``batch_id`` makes the append REPLAY-SAFE for streaming ingest:
    Structured Streaming delivers micro-batches to foreachBatch
    at-least-once (a crash between sink write and checkpoint commit
    replays the same id), so the manifest records the highest ingested
    id and a replayed batch is skipped — combined with
    commit-then-visible delta dirs this yields exactly-once visible
    rows without a transactional table format. Ids must be monotonic
    per table (which checkpointed streaming queries guarantee).

    Appends are BLIND against other appends/deletes/compactions: a
    commit collision rebases by re-appending the already-written
    delta name onto the latest manifest (the WriteSerializable rule).
    They are NOT blind against a concurrent spec change: the batch
    was CHECK-validated against the base spec, so a racing CREATE OR
    REPLACE / full re-spec conflicts (like Delta's metadata-change
    rule) — unless only the ``check`` clause changed, in which case
    the batch is re-validated against the new constraint and merges
    iff it still passes."""
    spark = df.sparkSession
    base_v, manifest = _latest(spark, path)
    if batch_id is not None and batch_id <= manifest.get(
            "last_batch_id", -1):
        return  # replayed micro-batch: already visible, skip
    df = _batch_to_physical(manifest, df, "append_zordered")
    base_spec = manifest["spec"]
    _validate_check(df, base_spec, "append_zordered")
    name = f"d-{uuid.uuid4().hex}"
    # the rows_appended metric rides the write pass itself
    # (Observation): the former read-back count() was one extra
    # listing + scan job per append — per MICRO-BATCH on the
    # streaming-ingest road
    from pyspark.sql import Observation
    obs = Observation()
    (df.observe(obs, F.count(F.lit(1)).alias("n"))
       .write.mode("errorifexists").parquet(
           fsio._join(path, DELTA_DIR, name)))

    def build(m: dict) -> dict | None:
        if batch_id is not None and batch_id <= m.get("last_batch_id", -1):
            return None  # a replay racer committed this id first
        out = _add_deltas(m, base_spec, [df], [name], "append_zordered")
        if batch_id is not None:
            out["last_batch_id"] = int(batch_id)
        return out

    _commit(spark, path, build(manifest), "append", base_v, rebase=build,
            metrics={"rows_appended": int(obs.get["n"])})


def append_zordered_many(dfs: list[DataFrame], path: str) -> None:
    """Append K batches as K delta directories in ONE write job and
    ONE manifest commit — the bulk-backlog form of
    :func:`append_zordered`: K separate appends pay K write jobs plus
    K commit round-trips for what is one logical ingest step, and a
    backlog of micro-batches amortizes both here. Each input frame
    becomes its OWN delta batch directory, byte-equivalent to K sequential appends: reads,
    compaction, and the change feed see K distinct deltas landing in
    one commit (the feed's append path already unions every delta
    NEW to a commit).

    Mechanics: the batches union under a ``__mbatch`` discriminator
    and write ONCE partitioned by it into a staging directory; each
    partition directory is then renamed to its delta name (a metadata
    move — the bytes land exactly once) and the manifest commit
    records all K names. A batch with zero rows produces no partition
    directory and is recorded as no delta (K sequential appends would
    have committed an empty directory — visible rows identical).

    Contract: all batches must share one column set (this verb exists
    for homogeneous micro-batch backlogs; schema-evolving batches
    take :func:`append_zordered` individually), and the usual append
    rules apply — validated against the current CHECK, conflict on a
    concurrent spec change, blind vs other appends."""
    if not dfs:
        return
    spark = dfs[0].sparkSession
    base_v, manifest = _latest(spark, path)
    base_spec = manifest["spec"]
    phys = [_batch_to_physical(manifest, d, "append_zordered_many")
            for d in dfs]
    cols0 = sorted(phys[0].columns)
    for d in phys[1:]:
        if sorted(d.columns) != cols0:
            raise ValueError(
                "append_zordered_many: batches carry different "
                f"column sets ({cols0} vs {sorted(d.columns)}) — "
                "append schema-evolving batches individually")
    union = None
    for i, d in enumerate(phys):
        dd = d.withColumn("__mbatch", F.lit(i))
        union = dd if union is None else union.unionByName(dd)
    # one validation pass rides the union (same predicate the
    # per-batch path applies K times)
    _validate_check(union, base_spec, "append_zordered_many")
    from pyspark.sql import Observation
    obs = Observation()
    stage = fsio._join(path, DELTA_DIR, f".multi-{uuid.uuid4().hex}")
    (union.observe(obs, F.count(F.lit(1)).alias("n"))
     .write.mode("errorifexists").partitionBy("__mbatch")
     .parquet(stage))
    names: list[str] = []
    for i in range(len(phys)):
        src = fsio._join(stage, f"__mbatch={i}")
        if not fsio.exists(spark, src):
            continue                     # empty batch: no delta dir
        name = f"d-{uuid.uuid4().hex}"
        dst = fsio._join(path, DELTA_DIR, name)
        if not fsio.rename(spark, src, dst):
            raise RuntimeError(
                f"append_zordered_many: rename of staged batch {i} "
                f"from {src} failed — staging left intact; nothing "
                f"was committed")
        names.append(name)
    fsio.delete(spark, stage)
    if not names:
        return                           # all batches empty: no-op

    def build(m: dict) -> dict:
        return _add_deltas(m, base_spec, phys, names,
                           "append_zordered_many")

    _commit(spark, path, build(manifest), "append", base_v,
            rebase=build,
            metrics={"rows_appended": int(obs.get["n"]),
                     "delta_batches": len(names)})


def delete_zordered_keys(keys_df: DataFrame, path: str,
                         key_cols: list[str]) -> None:
    """Key-based DELETE (the GDPR shape) as a TOMBSTONE append: the
    distinct keys land in a small ``_tombstones/`` batch and the
    manifest commit makes the deletion visible — NO data rewrite at
    delete time. A bare key says nothing about where its rows live
    (keys are not layout dimensions), so an eager delete would have to
    scan-and-rewrite immediately, per batch; tombstones instead let
    every read anti-join the outstanding keys (broadcast-hinted only
    while the key batches' file bytes say they fit — see
    :func:`_tombstone_keys`; a bulk wave stays unhinted)
    and let :func:`compact_zordered` amortize the physical removal:
    it finds the victim buckets with ONE column-pruned semi-join scan
    of the key columns and rewrites only those. Semantics: a
    tombstoned key is hidden from every snapshot read at or after this
    commit — including rows for that key appended later but before the
    next compaction (delete wins until the fold; re-insert a deleted
    key with :func:`upsert_zordered`, which subtracts its keys from
    the outstanding tombstone set in the same commit, or compact
    first)."""
    spark = keys_df.sparkSession
    base_v, manifest = _latest(spark, path)
    keys_df = _batch_to_physical(manifest, keys_df,
                                 "delete_zordered_keys")
    key_cols = _phys_names(manifest, key_cols, "delete_zordered_keys")
    prior = manifest.get("tombstone_key")
    if prior is not None and list(prior) != list(key_cols):
        raise ValueError(
            f"delete_zordered_keys: outstanding tombstones use key "
            f"{prior}, got {list(key_cols)} — compact_zordered first")
    name = f"t-{uuid.uuid4().hex}"
    # keys_tombstoned rides the write pass (Observation) — same
    # read-back-count elimination as append_zordered
    from pyspark.sql import Observation
    obs = Observation()
    (keys_df.select(*key_cols).distinct()
     .observe(obs, F.count(F.lit(1)).alias("n"))
     .write.mode("errorifexists")
     .parquet(fsio._join(path, TOMBSTONE_DIR, name)))

    def build(m: dict) -> dict:
        prior = m.get("tombstone_key")
        if prior is not None and list(prior) != list(key_cols):
            _conflict("delete_zordered_keys", m,
                      f"left outstanding tombstones keyed {prior}, "
                      f"this delete uses {list(key_cols)}")
        out = dict(m)
        out.pop("change_file", None)   # per-commit, never inherited
        out["tombstones"] = list(m.get("tombstones", [])) + [name]
        out["tombstone_key"] = list(key_cols)
        return out

    _commit(spark, path, build(manifest), "delete_keys", base_v,
            rebase=build,
            metrics={"keys_tombstoned": int(obs.get["n"])})


def purge_zordered_keys(keys_df: DataFrame, path: str,
                        key_cols: list[str],
                        files_per_bucket: int = 1) -> dict:
    """PHYSICAL erasure of keys — the right-to-be-forgotten contract,
    distinct from :func:`delete_zordered_keys` (logical, amortized):
    purge pays the rewrite NOW and proves no retained byte still
    matches. Composition: tombstone commit → victim-bucket fold
    (:func:`compact_zordered` rewrites only the buckets physically
    holding the keys) → eager vacuum (superseded generations, delta
    batches, the tombstone files THEMSELVES — they contain the key
    values — and pruned commits' stored change files all reclaimed) →
    a verification sweep that reads every RETAINED parquet file under
    the table RAW (not through the logical read, which would hide
    rows behind tombstones) and semi-joins the keys: any residual
    match raises instead of silently claiming erasure.

    Cost tracks the victims (one column-pruned semi-join scan + their
    bucket rewrites) plus one verification scan — never history size,
    which vacuum has already bounded to the surviving snapshot.
    Retained history is necessarily collapsed to the post-purge
    snapshot: erasure and time travel to pre-purge states are
    mutually exclusive by definition. Bloom sidecar bits are one-way
    hashes, not recoverable values; rebuild with
    :func:`build_bloom_index` if policy counts membership bits as a
    trace (reported via ``bloom_sidecar_present``)."""
    spark = keys_df.sparkSession
    keys = keys_df.select(*key_cols).distinct()
    n_keys = keys.count()
    delete_zordered_keys(keys, path, key_cols)
    compact_zordered(spark, path, files_per_bucket=files_per_bucket)
    vacuum_zordered(spark, path, keep_versions=1)
    m = read_manifest(spark, path)
    phys = _phys_names(m, key_cols, "purge_zordered_keys")
    raw = (spark.read.option("mergeSchema", "true")
           .parquet(fsio._join(path, DATA_DIR))
           .select(*phys).toDF(*key_cols))
    residual = raw.join(
        broadcast_if_counted(keys, known_rows=n_keys),
        key_cols, "semi").count()
    leftovers = [
        fsio._join(d, n)
        for d in (DELTA_DIR, TOMBSTONE_DIR, CHANGES_DIR)
        for n in fsio.list_names(spark, fsio._join(path, d))]
    if residual or leftovers:
        raise RuntimeError(
            f"purge_zordered_keys on {path}: {residual} residual "
            f"physical row(s) and {len(leftovers)} unreclaimed side "
            f"artifact(s) {leftovers[:5]} — a concurrent writer may "
            f"have re-landed keys or extended history mid-purge; "
            f"re-run the purge")
    bloom = bool(fsio.list_names(
        spark, fsio._join(_manifest_path(path), BLOOM_DIR)))
    return {"purged_keys": n_keys, "residual_matches": 0,
            "retained_version": table_version(spark, path),
            "bloom_sidecar_present": bloom}


def _tombstone_keys(spark: SparkSession, path: str,
                    manifest: dict) -> DataFrame | None:
    """The outstanding tombstoned keys of a snapshot (None if none),
    returned ALREADY broadcast-hinted when they are provably small:
    the gate is the key batches' on-disk parquet bytes (free
    filesystem metadata — no probe job) times the conservative
    in-memory expansion factor. Tombstone sets are usually tiny
    between compactions, but a bulk GDPR wave (10^8 keys) can land
    gigabytes of key batches — forcing THOSE through the block manager
    on every read/merge/compact is the OOM this gate prevents; over
    the gate the set stays unhinted and AQE picks the join strategy
    from runtime statistics."""
    names = manifest.get("tombstones", [])
    if not names:
        return None
    t = None
    raw_bytes = 0
    for name in names:
        d = fsio._join(path, TOMBSTONE_DIR, name)
        td = spark.read.parquet(d)
        t = td if t is None else t.unionByName(td)
        try:
            raw_bytes += fsio.size_of(spark, d)
        except Exception:
            raw_bytes = None        # unsizable: never force the hint
        if raw_bytes is None:
            break
    t = t.distinct()
    if raw_bytes is None:
        return broadcast_if_small(t)
    return broadcast_if_small(
        t, known_bytes=raw_bytes * PARQUET_BROADCAST_EXPANSION)


def _apply_tombstones(spark: SparkSession, path: str, manifest: dict,
                      df: DataFrame) -> DataFrame:
    """Hide tombstoned keys from a read — size-gated broadcast
    anti-join (the hint rides on :func:`_tombstone_keys`); a no-op
    (the unchanged plan) when no tombstones are outstanding."""
    keys = _tombstone_keys(spark, path, manifest)
    if keys is None:
        return df
    return df.join(keys, manifest["tombstone_key"], "left_anti")


def compact_zordered(spark: SparkSession, path: str,
                     files_per_bucket: int = 1,
                     mode: str = "incremental",
                     vacuum: bool = True) -> dict:
    """Fold the outstanding delta batches AND key tombstones back into
    the Z-clustered layout: delta rows are routed to their buckets,
    tombstoned keys are physically removed (victim buckets found with
    one column-pruned semi-join scan), and both queues clear in the
    same manifest commit.

    ``mode="incremental"`` (default): delta rows are routed to their
    zbuckets under the EXISTING spec and only the DIRTIED buckets are
    rewritten (old bucket data ∪ that bucket's delta rows, re-sorted,
    as a new generation). Cost tracks delta size, not table size —
    folding one small batch into a 100 TB table rewrites a few
    buckets. Out-of-range values clamp into edge buckets, which the
    box planner also clamps into: results stay exact (pytest-pinned
    equal to a full rebuild); only bin selectivity degrades if the
    value range drifts far.

    ``mode="full"``: bounds recomputed over main ∪ delta and every
    bucket rewritten — restores bin selectivity after range drift.

    Either way the sequence is write-new-generations → commit manifest
    (the atomic flip) → delete superseded directories; readers at any
    instant see a complete snapshot. Commit collisions rebase
    optimistically (incremental mode merges onto any state that left
    the dirtied buckets and folded batches untouched; a full rebuild
    merges only with blind appends).
    ``vacuum=False`` keeps superseded directories and manifests so
    prior versions stay time-travel-readable until
    :func:`vacuum_zordered`."""
    if mode not in ("incremental", "full"):
        raise ValueError(f"mode must be 'incremental' or 'full': {mode}")
    base_v, manifest = _latest(spark, path)
    spec = manifest["spec"]
    deltas = list(manifest.get("deltas", []))
    if mode == "full":
        return _compact_full(spark, path, base_v, manifest,
                             files_per_bucket, vacuum)
    tomb = _tombstone_keys(spark, path, manifest)
    if not deltas and tomb is None:
        return spec
    delta = _read_deltas(spark, path, manifest)
    if delta is not None and tomb is not None:
        # delta rows for a tombstoned key fold away with the rest
        # (tomb carries its own size-gated broadcast hint)
        delta = delta.join(tomb, manifest["tombstone_key"], "left_anti")
    if delta is not None:
        # the fold reads the delta set twice: the dirtied-bucket census
        # below and the rewrite. A small backlog (free filesystem
        # metadata) is pinned so the batches are listed and scanned
        # once; a large one keeps the streaming two-pass shape, never
        # forcing table-scale bytes through the block manager.
        try:
            delta_bytes = sum(
                fsio.size_of(spark, fsio._join(path, DELTA_DIR, d))
                for d in deltas)
        except Exception:
            delta_bytes = None
        if delta_bytes is not None and \
                delta_bytes < COMPACT_MATERIALIZE_BYTES:
            from aggregation_duckdb_spark.runtime import materialize
            delta = materialize(delta)
    dirtied = set(_touched_buckets(delta, spec)) \
        if delta is not None else set()
    if tomb is not None:
        # ONE column-pruned semi-join scan (key columns + the zbucket
        # partition column only) finds every bucket that physically
        # holds a tombstoned key — those are the only extra buckets
        # the fold rewrites
        kc = manifest["tombstone_key"]
        victims = (_read_live(spark, path, manifest)
                   .select("zbucket", *kc)
                   .join(tomb, kc, "semi")
                   .select("zbucket").distinct())
        dirtied |= {r[0] for r in victims.collect()}
    dirtied = sorted(dirtied)
    rows = _read_snapshot(spark, path, manifest, dirtied, deltas=delta,
                          tomb=tomb).drop("zbucket")
    _rewrite_buckets(spark, path, base_v, manifest, dirtied, rows,
                     "compact_incremental", files_per_bucket, vacuum)
    return spec


def _compact_full(spark: SparkSession, path: str, base_v: int,
                  manifest: dict, files_per_bucket: int,
                  vacuum: bool) -> dict:
    """``compact_zordered(mode="full")``: rebuild every bucket over
    recomputed bounds. The read is the LOGICAL visible table (deltas
    folded, tombstoned rows removed) and the spec is re-keyed to
    match: the rebuild MATERIALIZES any column mapping — renames
    become the stored names, drops/adds are already resolved by the
    storage layer — so the fresh manifest carries no mapping fields."""
    deltas = set(manifest.get("deltas", []))
    full = read_zordered(spark, path, manifest).drop("zbucket")
    new_spec = _respec_bounds(_spec_logical(manifest), full)
    gen = _new_gen()
    _write_clustered(full, fsio._join(path, DATA_DIR), new_spec, gen,
                     files_per_bucket)
    buckets, stats, cols = _written_meta(spark, path, gen, new_spec)

    def rebase(latest: dict) -> dict:
        # a full rebuild read EVERY bucket and folded every delta and
        # tombstone, so only blind appends landed after the base
        # snapshot can merge; anything else conflicts
        if latest.get("gens", {}) != manifest.get("gens", {}) \
                or latest.get("spec") != manifest.get("spec") \
                or latest.get("tombstones", []) != \
                manifest.get("tombstones", []):
            _conflict("compact_full", latest,
                      "changed table state mid-rebuild")
        surviving = [d for d in latest.get("deltas", [])
                     if d not in deltas]
        ren, dropped, added = _col_mapping(manifest)
        if surviving and (dropped or added or
                          any(p != l for p, l in ren.items())):
            # A mapping-materializing rebuild is a METADATA change:
            # the fresh manifest clears column_map / dropped_cols /
            # added_cols, so a concurrent append's delta batch —
            # written in the OLD physical names and without the added
            # columns' fills — would be read untranslated afterwards
            # (unionByName NULL-fills the renamed/added columns:
            # silent corruption). Conflict instead, matching Delta's
            # metadata-conflict rule; the competitor retries against
            # the new snapshot.
            _conflict("compact_full", latest,
                      "append landed while a column mapping was "
                      "being materialized")
        out = {"spec": new_spec,
               "gens": {str(k): gen for k in buckets},
               "deltas": surviving,
               "stats": stats, "gen_columns": {gen: cols}}
        if "last_batch_id" in latest:  # streaming-ingest watermark
            out["last_batch_id"] = latest["last_batch_id"]
        return out

    _commit_and_clean(
        spark, path, manifest, rebase(manifest), "compact_full", base_v,
        rebase, _rewrite_metrics(
            buckets, stats, deltas_folded=len(deltas),
            tombstones_folded=len(manifest.get("tombstones", []))),
        vacuum)
    return new_spec


def read_zordered_box_with_delta(spark: SparkSession, path: str,
                                 a_lo: int, a_hi: int, b_lo: int,
                                 b_hi: int) -> DataFrame:
    """:func:`read_zordered_box` of the latest snapshot, for callers
    that want no ``zbucket`` column."""
    return read_zordered_box(spark, path, a_lo, a_hi, b_lo,
                             b_hi).drop("zbucket")


def upsert_zordered(df: DataFrame, path: str, key_cols: list[str],
                    files_per_bucket: int = 1,
                    vacuum: bool = True,
                    emit_changes: bool = False) -> dict:
    """MERGE INTO the Z-clustered table: rows of ``df`` REPLACE
    same-key rows and new keys INSERT, touching only the buckets the
    upsert lands in. This is :func:`merge_zordered`'s replace-whole-row
    case — ``UPDATE SET *`` plus an unconditional insert — run through
    the same body and committed as op ``"upsert"``: a replaced row
    takes the batch row's values (NULL for a column the batch lacks),
    and a batch column the table lacks lands on updated and inserted
    rows alike (schema evolution, as an append). Cost tracks the
    dirtied-bucket fraction plus outstanding delta size, not table
    size.

    Contract (merge's, the per-bucket bound depends on it):
    - upserted keys must keep their LAYOUT-DIMENSION values — the old
      row is found in the bucket the new row's dims map to; a key
      whose (a_col, b_col) changed is a delete+insert, not an upsert
      (the same rule Delta's file-skipping merge optimizes around);
    - batch keys must be unique: a repeated key raises (merge's
      multiple-source-rows error) and nothing is committed. Null key
      values match NULL-SAFELY — a null-key row replaces the stored
      null-key row instead of landing next to it;
    - a NULL layout-dimension value raises (it maps to no bucket).

    COMPOSES with any table state, as merge does. Outstanding delta
    batches fold into the same commit (their rows join the match as
    live rows and route into their buckets). Outstanding key
    tombstones on the SAME key columns compose too (the standard
    GDPR-delete → re-crawl sequence, no manual compact in between):
    the upsert's keys leave the tombstone set in the same commit —
    re-inserted rows are visible immediately, other tombstoned keys
    stay hidden — and the dirtied buckets' tombstone victims fold
    physically for free. Tombstones keyed DIFFERENTLY raise (compact
    first).

    ``emit_changes=True`` additionally stores the commit's exact
    change rows (insert / update pre+post images, classified against
    the VISIBLE old rows) under ``_changes/`` and records the name in
    the manifest — the Delta Change-Data-Feed write path: the change
    feed then reads them directly instead of diffing snapshot
    endpoints, with no retention requirement. Returns the layout
    spec."""
    _, final, _ = _merge(df, path, key_cols, "upsert",
                         when_matched_update="*",
                         files_per_bucket=files_per_bucket,
                         vacuum=vacuum, emit_changes=emit_changes)
    return final["spec"]


def merge_zordered(source: DataFrame, path: str, key_cols: list[str],
                   when_matched_update: dict[str, str] | None = None,
                   update_condition: str | None = None,
                   when_matched_delete: bool | str = False,
                   when_not_matched_insert: bool = True,
                   insert_condition: str | None = None,
                   when_not_matched_by_source_update:
                       dict[str, str] | None = None,
                   when_not_matched_by_source_update_condition:
                       str | None = None,
                   when_not_matched_by_source_delete:
                       bool | str = False,
                   files_per_bucket: int = 1,
                   vacuum: bool = True,
                   emit_changes: bool = False) -> dict:
    """Conditional MERGE INTO — the full Delta ``MERGE`` clause shape
    on the manifest layout (``WHEN MATCHED [AND cond] THEN UPDATE SET
    ... / DELETE``, ``WHEN NOT MATCHED [AND cond] THEN INSERT *``,
    ``WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE``),
    generalizing :func:`upsert_zordered` (the replace-whole-row case,
    which runs through this same body):

    - ``when_matched_update``: {target column -> SQL expression};
      expressions may reference the target row as ``t.<col>`` and the
      source row as ``s.<col>`` (e.g. ``{"cnt": "t.cnt + s.cnt"}`` —
      the aggregate-merge shape). Applied to matched rows passing
      ``update_condition`` (a t/s-scoped boolean SQL expression;
      default all matched).
    - ``when_matched_delete``: True, or a t/s-scoped condition —
      matched rows passing it are deleted. Evaluated BEFORE the
      update clause (a row matches at most one clause, delete wins;
      documented order, as Delta's clause ordering).
    - ``when_not_matched_insert``: source rows with no target match
      insert (optionally gated by ``insert_condition`` over ``s.``).
    - ``when_not_matched_by_source_update`` / ``..._delete``: TARGET
      rows with no source match take these (Delta's third clause
      family — the sync-to-snapshot shape: ``DELETE`` makes the table
      equal the source for the keyed universe, ``UPDATE SET`` marks
      stale rows). Conditions are t-scoped only (there is no source
      row); delete wins over update, mirroring the matched ordering.
      COST, stated honestly: "rows with no source match" can live in
      ANY bucket, so these clauses add ONE column-pruned scan of the
      live table (keys + condition columns + the zbucket partition
      column) to find the affected buckets — the dirtied set then
      covers them, and only they are rewritten. Delta pays the same
      full-scan price for this clause; bound it with a condition when
      you can.

    Contract (the bucket bound depends on it):
    - the source carries the layout-dimension columns with the TARGET
      row's values for matched keys (dims are how the old row's
      bucket is found); a key whose dims changed is a delete+insert;
    - updates may not SET a key or layout-dimension column (raises —
      a moved row belongs to another bucket; delete+insert instead);
    - source keys must be unique (multiple matches per target row
      raise, Delta's multiple-source-rows-matched error). Null key
      values match NULL-SAFELY on every clause path: a null-key
      source row that matched a null-key target row fires its matched
      clause and is NOT also inserted (the anti-join uses the same
      eqNullSafe predicate as the match).

    COMPOSES over outstanding delta batches and key tombstones —
    Delta's MERGE works on any table state, so does this one (no
    manual compact required; the GDPR-delete → conditional-merge
    sequence is one call):
    - delta batches are folded in the SAME commit (their rows join
      the matched-row search as live rows, route into their buckets,
      and the batch list clears — an implicit incremental compaction
      riding the rewrite that was happening anyway);
    - tombstoned keys are invisible to the match (so a tombstoned
      key in the source takes the NOT MATCHED path), their physical
      victims in dirtied buckets fold away for free, and keys the
      merge actually INSERTS are subtracted from the outstanding
      tombstone set in the same commit (re-insert wins, other
      tombstoned keys stay hidden). Tombstones keyed on DIFFERENT
      columns than the merge still raise (the key anti-join cannot
      express them; compact first). A re-inserted key
      relies on the dims contract above — its old physical row must
      live in a bucket this merge dirties.

    Only the buckets the source (plus any folded deltas) touches are
    rewritten; the commit is the usual atomic manifest flip with
    bucket-rewrite rebase on collision. CHECK constraints validate
    the updated and inserted rows before anything is written. Cost
    tracks the dirtied-bucket fraction plus outstanding delta size,
    never table size. Reference lifecycle shape:
    aggregation_example.sql's staged re-loads (seed INSERT + corrected
    re-INSERT) are one conditional merge here."""
    v, _, dirtied = _merge(
        source, path, key_cols, "merge", when_matched_update,
        update_condition, when_matched_delete, when_not_matched_insert,
        insert_condition, when_not_matched_by_source_update,
        when_not_matched_by_source_update_condition,
        when_not_matched_by_source_delete, files_per_bucket, vacuum,
        emit_changes)
    return {"buckets_rewritten": len(dirtied), "version": v}


def _merge(source: DataFrame, path: str, key_cols: list[str], op: str,
           when_matched_update: dict[str, str] | str | None = None,
           update_condition: str | None = None,
           when_matched_delete: bool | str = False,
           when_not_matched_insert: bool = True,
           insert_condition: str | None = None,
           nmbs_update: dict[str, str] | None = None,
           nmbs_update_condition: str | None = None,
           nmbs_delete: bool | str = False,
           files_per_bucket: int = 1,
           vacuum: bool = True,
           emit_changes: bool = False) -> tuple[int, dict, list[int]]:
    """The body of :func:`merge_zordered` and :func:`upsert_zordered`,
    committed as ``op`` (``nmbs_*`` = the NOT MATCHED BY SOURCE
    clauses). ``when_matched_update="*"`` is ``UPDATE SET *``: every
    non-key, non-layout column of the target and the source takes the
    source value (NULL where the source lacks the column). Returns
    ``(version, committed manifest, dirtied buckets)``."""
    verb = f"{op}_zordered"
    if not key_cols:
        raise ValueError(f"{verb}: key_cols must name at least one column")
    spark = source.sparkSession
    base_v, manifest = _latest(spark, path)
    # logical → physical at the boundary: the source batch, the merge
    # key, the SET-clause targets, and every clause expression (whole-
    # word identifier rewrite) — internals below run purely physical
    source = _batch_to_physical(manifest, source, verb)
    key_cols = _phys_names(manifest, key_cols, verb)
    set_all = when_matched_update == "*"
    if when_matched_update and not set_all:
        when_matched_update = {
            _phys_names(manifest, [c], f"{verb} UPDATE SET")[0]:
            _expr_physical(manifest, e)
            for c, e in when_matched_update.items()}
    update_condition = _expr_physical(manifest, update_condition)
    insert_condition = _expr_physical(manifest, insert_condition)
    if isinstance(when_matched_delete, str):
        when_matched_delete = _expr_physical(manifest,
                                             when_matched_delete)
    if nmbs_update:
        nmbs_update = {
            _phys_names(manifest, [c],
                        f"{verb} NOT MATCHED BY SOURCE SET")[0]:
            _expr_physical(manifest, e)
            for c, e in nmbs_update.items()}
    nmbs_update_condition = _expr_physical(manifest, nmbs_update_condition)
    if isinstance(nmbs_delete, str):
        nmbs_delete = _expr_physical(manifest, nmbs_delete)
    tombs = list(manifest.get("tombstones", []))
    if tombs and list(manifest.get("tombstone_key", [])) \
            != list(key_cols):
        raise ValueError(
            f"{verb}: outstanding tombstones are keyed "
            f"{manifest.get('tombstone_key')}, {op} uses "
            f"{list(key_cols)} — run compact_zordered(path) first")
    spec = manifest["spec"]
    frozen = {c for c, _, _ in _spec_dims(spec)} | set(key_cols)
    for clause in (None if set_all else when_matched_update, nmbs_update):
        if set(clause or ()) & frozen:
            raise ValueError(
                f"{verb}: UPDATE SET on key/layout-dimension "
                f"column(s) {sorted(set(clause) & frozen)} — a moved "
                f"row belongs in another bucket; express it as delete "
                f"+ insert")
    # one pass over the source serves the duplicate-key check, the
    # exact row count that gates every source-derived broadcast below
    # (a CDC-sized MERGE source at 100 TB table scale must NOT be
    # forced through the block manager; Catalyst's estimate for a
    # user frame is untrustworthy, so gate on the count), AND the
    # source's dirtied-bucket set: with one row per key — enforced
    # right here — first(zbucket) per key is exact, and the distinct
    # set is bounded by 2^bucket_bits.
    zb_src, _ = _zbucket_col(spec)
    src_agg = (source.groupBy(*key_cols)
               .agg(F.count(F.lit(1)).alias("__n"),
                    F.first(zb_src).alias("__zb"))
               .agg(F.sum("__n").alias("__rows"),
                    F.max("__n").alias("__mx"),
                    F.sum(F.col("__zb").isNull().cast("long"))
                    .alias("__nullzb"),
                    F.collect_set("__zb").alias("__bks")).collect()[0])
    if (src_agg["__mx"] or 0) > 1:
        raise ValueError(
            f"{verb}: multiple source rows share a merge key — "
            f"each target row may match at most one source row")
    if int(src_agg["__nullzb"] or 0):
        # collect_set silently drops null zbuckets — a source row with
        # a null layout-dimension value would be written without its
        # bucket ever being marked dirty; refuse loudly instead
        raise ValueError(
            f"{verb}: {int(src_agg['__nullzb'])} source "
            f"key(s) carry a NULL layout-dimension value — they map "
            f"to no zbucket, so the keyed rewrite cannot place them; "
            f"clean the source or delete+append instead")
    n_src = int(src_agg["__rows"] or 0)

    # fold any outstanding delta batches in this commit: their rows
    # are live (the matched-row search must see them) and the dirtied
    # set grows to cover the buckets they route into; delta rows for a
    # tombstoned key were never visible and fold away
    tomb = _tombstone_keys(spark, path, manifest)
    delta = _read_deltas(spark, path, manifest)
    if delta is not None and tomb is not None:
        delta = delta.join(tomb, key_cols, "left_anti")
    dirtied = {int(b) for b in src_agg["__bks"]}
    if delta is not None:
        dirtied |= set(_touched_buckets(delta, spec))
    # the ONE null-safe key predicate every clause path uses (a null
    # source KEY value matches a null target key: the match, the
    # insert anti-join and the NOT MATCHED BY SOURCE victim scan must
    # agree, or a null-key row fires two clauses)
    on = _conj([F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
                for k in key_cols])
    if nmbs_update or nmbs_delete:
        # NOT MATCHED BY SOURCE can hit any bucket: ONE column-pruned
        # scan (keys + condition columns + the zbucket partition
        # column) finds every bucket holding a VISIBLE row with no
        # source match that passes some clause condition — only those
        # join the dirtied set. Exactness of the bucket bound relies
        # on the same predicates the clause logic applies below.
        live_t = _read_live(spark, path, manifest)
        if tomb is not None:
            live_t = live_t.join(tomb, key_cols, "left_anti")
        miss = live_t.alias("t").join(
            broadcast_if_counted(source.select(*key_cols).alias("s"),
                                 known_rows=n_src),
            on, "left_anti")
        unconditional = (nmbs_delete is True) or \
            (bool(nmbs_update) and nmbs_update_condition is None)
        if not unconditional:
            pred = F.lit(False)
            if nmbs_delete:
                pred = pred | F.coalesce(F.expr(nmbs_delete),
                                         F.lit(False))
            if nmbs_update:
                pred = pred | F.coalesce(F.expr(nmbs_update_condition),
                                         F.lit(False))
            miss = miss.where(pred)
        dirtied |= {int(r[0]) for r in
                    miss.select("zbucket").distinct().collect()
                    if r[0] is not None}
    dirtied = sorted(dirtied)
    # the match sees only VISIBLE rows; the rewrite physically removes
    # the dirtied buckets' tombstone victims for free
    old = _read_snapshot(spark, path, manifest, dirtied, deltas=delta,
                         tomb=tomb).drop("zbucket")
    cols = old.columns
    if set_all:
        cols = cols + [c for c in source.columns if c not in cols]
        when_matched_update = {
            c: f"s.`{c}`" if c in source.columns else "NULL"
            for c in cols if c not in frozen}
    # __src marks matches null-safely (a null source KEY value could
    # not otherwise be told apart from "no match"). The FULL-WIDTH
    # source is the worst frame to hard-broadcast — count-gated: over
    # the gate it stays unhinted and the match runs as a shuffled join
    # on the dirtied buckets, which is the right plan at that size.
    t = old.alias("t")
    s = broadcast_if_counted(
        source.withColumn("__src", F.lit(1)).alias("s"),
        known_rows=n_src)
    joined = t.join(s, on, "left")
    matched = F.col("s.__src").isNotNull()
    if when_matched_delete is True:
        del_cond = matched
    elif when_matched_delete:
        del_cond = matched & F.coalesce(F.expr(when_matched_delete),
                                        F.lit(False))
    else:
        del_cond = F.lit(False)
    if when_matched_update:
        upd_cond = matched & ~del_cond
        if update_condition:
            upd_cond = upd_cond & F.coalesce(F.expr(update_condition),
                                             F.lit(False))
    else:
        upd_cond = F.lit(False)
    # WHEN NOT MATCHED BY SOURCE mirrors the matched family on the
    # other side of the join: delete first, update second, conditions
    # t-scoped (there is no source row to reference)
    if nmbs_delete is True:
        nmbs_del = ~matched
    elif nmbs_delete:
        nmbs_del = ~matched & F.coalesce(F.expr(nmbs_delete),
                                         F.lit(False))
    else:
        nmbs_del = F.lit(False)
    if nmbs_update:
        nmbs_upd = ~matched & ~nmbs_del
        if nmbs_update_condition:
            nmbs_upd = nmbs_upd & F.coalesce(
                F.expr(nmbs_update_condition), F.lit(False))
    else:
        nmbs_upd = F.lit(False)
    out_cols = []
    for c in cols:
        e = F.col(f"t.{c}") if c in old.columns else F.lit(None)
        if nmbs_update and c in nmbs_update:
            e = F.when(nmbs_upd, F.expr(nmbs_update[c])).otherwise(e)
        if when_matched_update and c in when_matched_update:
            e = F.when(upd_cond, F.expr(when_matched_update[c])) \
                .otherwise(e)
        out_cols.append(e.alias(c))
    kept = joined.where(~del_cond & ~nmbs_del).select(*out_cols)

    ins = None
    if when_not_matched_insert:
        # same null-safe key predicate as the match: a null-key source
        # row that fired a matched clause must NOT also insert (a
        # plain column-name anti-join would let it through — null
        # never equals null there). old's key projection is
        # TABLE-side (dirtied buckets): its stats descend from parquet
        # file bytes, so the plan-estimate gate is trustworthy here —
        # small dirtied sets keep the hint, a 100 TB-scale dirtied set
        # demotes to a shuffled join
        ins = source.alias("s").join(
            broadcast_if_small(old.select(*key_cols).alias("t")),
            on, "left_anti")
        if insert_condition:
            ins = ins.alias("s").where(
                F.coalesce(F.expr(insert_condition), F.lit(False)))
    changed = joined.where(upd_cond | nmbs_upd).select(*out_cols)
    if ins is not None:
        changed = changed.unionByName(ins, allowMissingColumns=True)
    _validate_check(changed, spec, verb)

    merged = kept if ins is None \
        else kept.unionByName(ins, allowMissingColumns=True)
    # keys the merge actually INSERTED stop being tombstoned (their
    # visible row is the new one); every other tombstoned key stays
    # hidden via a rewritten (smaller) tombstone batch
    remaining = None
    if tombs:
        remaining = tomb if ins is None else tomb.join(
            broadcast_if_counted(ins.select(*key_cols),
                                 known_rows=n_src),
            key_cols, "left_anti")
    changes = None
    if emit_changes:
        pre, post = old, merged
        if not (nmbs_update or nmbs_delete):
            # a target row whose key the source lacks keeps its image,
            # so the change set is the classification of the source
            # keys' rows alone: a null-safe semi-join on them bounds
            # both sides. With SET * and an unconditional insert, the
            # post-image of every source key IS its source row.
            skeys = broadcast_if_counted(
                source.select(*key_cols).alias("s"), known_rows=n_src)
            pre = old.alias("t").join(skeys, on, "left_semi")
            post = source if set_all and when_not_matched_insert and \
                not (update_condition or when_matched_delete
                     or insert_condition) \
                else merged.alias("t").join(skeys, on, "left_semi")
        changes = _classify_diff(pre, post, key_cols)
    v, final = _rewrite_buckets(
        spark, path, base_v, manifest, dirtied, merged, op,
        files_per_bucket, vacuum, remaining=remaining, changes=changes)
    return v, final, dirtied


def optimize_zordered(spark: SparkSession, path: str,
                      files_per_bucket: int = 1,
                      min_files: int | None = None,
                      vacuum: bool = True) -> dict:
    """Small-file compaction WITHOUT delta folding — the Delta
    ``OPTIMIZE`` (bin-packing) half, distinct from
    :func:`compact_zordered`'s delta fold: streaming ingest folded at
    ``files_per_bucket=8`` (or many small appends) leaves buckets
    holding many small files, and at 100 TB small files tax every
    scan (footer reads, task scheduling) even when the clustering is
    fine. This verb LISTS each live bucket directory (metadata only),
    rewrites ONLY the buckets holding more than ``min_files`` data
    files (default: the ``files_per_bucket`` target), and commits the
    usual atomic manifest flip — cost tracks the fragmented buckets,
    never the table. Refuses while deltas or tombstones are
    outstanding (fold first); commit collisions rebase like every
    bucket rewrite; ``vacuum=False`` retains
    the superseded generations for time travel. Returns
    {"buckets_rewritten", "buckets_total"}."""
    base_v, manifest = _latest(spark, path)
    if manifest.get("deltas") or manifest.get("tombstones"):
        raise ValueError(
            "optimize_zordered: outstanding delta batches or tombstones "
            "— run compact_zordered(path) first")
    if min_files is None:
        min_files = files_per_bucket
    spec = manifest["spec"]
    frag = []
    for k, g in manifest["gens"].items():
        d = fsio._join(path, DATA_DIR, f"zbucket={k}", f"gen={g}")
        n = sum(1 for nm in fsio.list_names(spark, d)
                if nm.endswith(".parquet"))
        if n > min_files:
            frag.append(int(k))
    frag = sorted(frag)
    if not frag:
        return {"buckets_rewritten": 0,
                "buckets_total": len(manifest["gens"])}
    rows = _read_snapshot(spark, path, manifest, frag).drop("zbucket")
    _, final = _rewrite_buckets(spark, path, base_v, manifest, frag, rows,
                                "optimize", files_per_bucket, vacuum)
    return {"buckets_rewritten": len(frag),
            "buckets_total": len(final["gens"])}


BLOOM_DIR = "_bloom"


def _bloom_pos_exprs(c: Column, m: int, k: int) -> list[Column]:
    """The k Bloom bit positions of a value, as Spark expressions —
    Kirsch-Mitzenmacher double hashing over two independent 60-bit
    halves of md5(value-as-string). The same split is reproduced in
    pure Python by :func:`_bloom_pos_py`, so a driver-side query value
    probes exactly the bits the executors set (both sides hash the
    CAST-to-string form; restrict bloom columns to string/integer
    types, where that canonicalization is unambiguous)."""
    h = F.md5(c.cast("string"))
    h1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 17, 15), 16, 10).cast("long") \
        * F.lit(2) + F.lit(1)   # odd => full cycle mod power-of-two m
    # Reduce BOTH hashes mod m BEFORE the multiply-add: h1 + i*h2 on
    # raw 60/61-bit halves overflows signed 64-bit from i=4, and the
    # wrap only cancels against the exact-arithmetic Python probe when
    # m divides 2^64 — reduced operands stay < 5m, exact for ANY m.
    h1m, h2m = F.pmod(h1, F.lit(m)), F.pmod(h2, F.lit(m))
    return [F.pmod(h1m + F.lit(i) * h2m, F.lit(m)).cast("long")
            for i in range(k)]


def _bloom_pos_py(value, m: int, k: int) -> list[int]:
    import hashlib
    h = hashlib.md5(str(value).encode("utf-8")).hexdigest()
    h1 = int(h[0:15], 16)
    h2 = int(h[16:31], 16) * 2 + 1
    return [(h1 + i * h2) % m for i in range(k)]


def build_bloom_index(spark: SparkSession, path: str, cols: list[str],
                      m: int = 16384, k: int = 5) -> dict:
    """Per-bucket BLOOM sidecars for point lookups on high-cardinality
    NON-layout columns — the skipping class zone maps cannot serve
    (min/max is useless on an equality predicate over values
    uncorrelated with the clustering; "find this doc_id in 100 TB" is
    the motivating query). One pass over the live snapshot computes
    each row's k bit positions per column; only DISTINCT
    (bucket, position) pairs are collected, so driver traffic is
    bounded by buckets·m bits — the index capacity, never the row
    count.

    STORAGE IS INVERTED AND SHARDED so lookup metadata IO tracks the
    probe, not the table: a parquet table under ``_manifest/_bloom``,
    partitioned by indexed column, one row per (column, bit position)
    holding a BUCKET BITMAP (bit b set = bucket b has that filter bit
    set). A probe then reads exactly its k positions of its one column
    (partition pruning + a ``pos IN`` pushdown) — k·buckets/8 bytes,
    ~40 KB at 64k buckets — where a per-bucket blob would read
    buckets·m/8 bytes (~1 GiB) per lookup. A small versioned meta JSON
    (same dir) is the atomic commit point: it names the parquet shard
    and records every bucket's GENERATION at build time; a later
    rewrite of a bucket makes it stale, and stale/unindexed buckets
    are KEPT by the reader — skipping degrades, results never do.
    Rebuild after heavy churn; building is one scan. Positions no
    value hashed to have no row — all-clear, reads as prunable.

    Sizing: fpp ≈ (1 - e^(-k·n/m))^k per bucket with n values per
    bucket; the default 16384·5 holds ~1.1k values/bucket at ~1%
    fpp — at 100 TB size m to the expected per-bucket cardinality of
    the indexed column (any m works; hashing is exact-mod, not
    power-of-two-wrap). Returns {"cols", "m", "k", "buckets"}."""
    manifest = read_manifest(spark, path)
    cols = _phys_names(manifest, cols, "build_bloom_index")
    live = _read_live(spark, path, manifest)
    nb = 1 << int(manifest["spec"]["bucket_bits"])
    # ONE pass over the live snapshot for ALL indexed columns: every
    # row contributes its cols*k (column, position) structs through a
    # single explode (a null value's md5 folds to null positions,
    # filtered below — the per-column isNotNull prefilter, fused)
    tagged = F.explode(F.flatten(F.array(*[
        F.array(*[F.struct(F.lit(c).alias("c"), e.alias("p"))
                  for e in _bloom_pos_exprs(F.col(c), m, k)])
        for c in cols])))
    pairs = (live.select(F.col("zbucket").cast("long").alias("__zb"),
                         tagged.alias("__cp"))
             .select("__zb", F.col("__cp.c").alias("__c"),
                     F.col("__cp.p").alias("__p"))
             .where(F.col("__p").isNotNull())
             .distinct().collect())
    maps: dict[tuple[str, int], bytearray] = {}
    for r in pairs:
        bmp = maps.setdefault((r["__c"], int(r["__p"])),
                              bytearray((nb + 7) // 8))
        b = int(r["__zb"])
        bmp[b >> 3] |= 1 << (b & 7)
    rows = [(c, p, bytes(bmp)) for (c, p), bmp in maps.items()]
    data_name = f"b-{uuid.uuid4().hex}"
    bloom_dir = fsio._join(_manifest_path(path), BLOOM_DIR)
    # sorted by pos + bounded row groups: a probe's `pos IN` pushdown
    # prunes ROW GROUPS by their min/max, so per-lookup bytes track the
    # k probed positions even when the per-column shard is large (64k
    # buckets x m=2^17 => ~1 GiB/column; 4 MiB groups => a probe touches
    # at most k of ~256 groups, not the whole chunk)
    (spark.createDataFrame(rows, "col string, pos long, buckets binary")
     .repartition(1).sortWithinPartitions("pos")
     .write.mode("errorifexists").partitionBy("col")
     .option("parquet.block.size", 4 * 1024 * 1024)
     .parquet(fsio._join(bloom_dir, data_name)))
    meta = {"m": int(m), "k": int(k), "cols": list(cols),
            "data": data_name, "nbuckets": nb,
            "built_gens": dict(manifest["gens"])}
    fsio.write_json_version(spark, bloom_dir, meta)
    return {"cols": list(cols), "m": int(m), "k": int(k),
            "buckets": len(manifest["gens"])}


def _bloom_sidecar(spark: SparkSession, path: str) -> dict | None:
    """The newest committed Bloom META (names the parquet shard; tiny —
    never the bitsets themselves)."""
    return fsio.read_json_latest(
        spark, fsio._join(_manifest_path(path), BLOOM_DIR))


def bloom_buckets(spark: SparkSession, path: str, manifest: dict,
                  sidecar: dict | None, col: str, value) -> list[int]:
    """The live buckets an equality predicate can touch, judged by the
    Bloom sidecar — CONSERVATIVE: a bucket is skipped only when its
    build-time generation matches the bucket's CURRENT generation and
    any probed bit is clear (no false negatives by Bloom's contract; a
    bucket rewritten since the build, or never indexed, is kept).
    Reads exactly the probe's k (column, position) bitmap rows from
    the sharded parquet sidecar."""
    gens = manifest["gens"]
    if not sidecar or col not in sidecar.get("cols", []):
        return sorted(int(x) for x in gens)
    m, k = int(sidecar["m"]), int(sidecar["k"])
    pos = _bloom_pos_py(value, m, k)
    shard = fsio._join(_manifest_path(path), BLOOM_DIR, sidecar["data"])
    hit = {int(r["pos"]): bytes(r["buckets"]) for r in
           (spark.read.parquet(shard)
            .where((F.col("col") == col) & F.col("pos").isin(pos))
            .select("pos", "buckets").collect())}
    built = sidecar.get("built_gens", {})
    keep = []
    for kk, g in gens.items():
        if built.get(kk) != g:
            keep.append(int(kk))      # stale or unindexed: keep
            continue
        b = int(kk)
        if all(p in hit and hit[p][b >> 3] & (1 << (b & 7))
               for p in pos):
            keep.append(b)
    return sorted(keep)


def read_zordered_eq(spark: SparkSession, path: str, eq: dict,
                     version: int | None = None) -> DataFrame:
    """Point-lookup read: conjunctive EQUALITY predicates served
    through the Bloom sidecars (:func:`build_bloom_index`) — bucket
    directories whose filters provably exclude a value are pruned at
    plan time, the exact filters keep results identical to a full
    live-scan filter (outstanding deltas carry no blooms and are
    scanned with the filter only; tombstones apply as everywhere)."""
    manifest = read_manifest(spark, path, version)
    eq = _phys_ranges(manifest, eq, "read_zordered_eq")
    sidecar = _bloom_sidecar(spark, path)
    keep: set[int] | None = None
    for c, v in eq.items():
        bs = set(bloom_buckets(spark, path, manifest, sidecar, c, v))
        keep = bs if keep is None else (keep & bs)
    buckets = sorted(keep) if keep is not None else None
    out = _read_snapshot(spark, path, manifest, buckets,
                         _conj([F.col(c) == v for c, v in eq.items()]))
    return _rename_logical(manifest, out.drop("zbucket"))


def diff_zordered(spark: SparkSession, path: str, v_from: int,
                  v_to: int | None = None,
                  key_cols: list[str] | None = None) -> DataFrame:
    """Row-level diff between two LIVE snapshots — the change-data /
    audit view, reconstructed from retained history instead of
    per-commit change files (run mutations with ``vacuum=False`` to
    keep both endpoints readable; either endpoint vacuumed raises the
    usual clean guard). Returns every changed row tagged with a
    ``_change_type`` column: ``insert`` (key only in the newer
    snapshot), ``delete`` (key only in the older; the row shown is the
    old image), ``update_preimage``/``update_postimage`` (key in both
    with any non-key column changed — compared null-safely via a JSON
    fingerprint of the non-key struct).

    ``key_cols`` identifies rows across versions (required — without
    a key, "update" is not expressible). Cost: one scan of each
    endpoint snapshot plus a keyed join — endpoint-proportional, not
    history-proportional, because snapshots compose all intermediate
    commits already. At 100 TB run it bucketed on the key or bounded
    by a box read if only a region's changes matter."""
    if not key_cols:
        raise ValueError("diff_zordered needs key_cols")
    if v_to is None:
        v_to = table_version(spark, path)
    m_to = read_manifest(spark, path, v_to)
    # compare in PHYSICAL name space: physical names are stable across
    # renames (column mapping), so a pure RENAME between the endpoints
    # produces zero spurious changes; drops/adds still surface as the
    # visible row-image change they are. The result maps to the NEWER
    # endpoint's logical names.
    key_cols = _phys_names(m_to, key_cols, "diff_zordered")
    old = read_zordered(spark, path, version=v_from,
                        _logical=False).drop("zbucket")
    new = read_zordered(spark, path, manifest=m_to,
                        _logical=False).drop("zbucket")
    # endpoints may straddle a schema evolution: align with nulls, so
    # an added column reads as NULL -> value (an update) rather than
    # breaking the projection
    return _rename_logical(m_to, _classify_diff(old, new, key_cols))


def _classify_diff(old: DataFrame, new: DataFrame,
                   key_cols: list[str]) -> DataFrame:
    """The change-classification core shared by :func:`diff_zordered`
    (snapshot endpoints) and the writer-side change emission
    (bounded dirtied-bucket frames): keyed full-outer comparison over
    schema-aligned frames, updates detected via a null-safe JSON
    fingerprint of the non-key struct — one definition, so stored
    change files and reconstructed diffs can never disagree."""
    for c, t in ((f.name, f.dataType) for f in new.schema.fields):
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(t))
    for c, t in ((f.name, f.dataType) for f in old.schema.fields):
        if c not in new.columns:
            new = new.withColumn(c, F.lit(None).cast(t))
    cols = new.columns
    non_key = [c for c in cols if c not in key_cols]
    fp = F.md5(F.to_json(F.struct(*[F.col(c) for c in non_key]))) \
        if non_key else F.lit("")
    # ONE keyed full-outer comparison: each side is scanned exactly
    # once. The previous four-branch form (two anti-joins, a
    # changed-key join, two semi-joins, unioned) scanned EACH endpoint
    # three times and shuffled three joins — at 100 TB that is six
    # endpoint scans and six shuffle sides versus two and two here.
    # Presence is detected via the fingerprint column (never null on a
    # present row — '' when there are no non-key columns); an update
    # explodes into its pre+post image pair. Row-for-row identical to
    # the old form under the documented contract (key_cols identifies
    # rows, i.e. unique per snapshot).
    o = old.select(*key_cols,
                   *([F.struct(*non_key).alias("__old")]
                     if non_key else []),
                   fp.alias("__fp_old"))
    n = new.select(*key_cols,
                   *([F.struct(*non_key).alias("__new")]
                     if non_key else []),
                   fp.alias("__fp_new"))
    j = o.join(n, key_cols, "full_outer").where(
        F.col("__fp_old").isNull() | F.col("__fp_new").isNull()
        | (F.col("__fp_old") != F.col("__fp_new")))
    if not non_key:
        # every column is a key: classification is presence-only
        return j.select(
            *cols,
            F.when(F.col("__fp_new").isNull(), F.lit("delete"))
             .otherwise(F.lit("insert")).alias("_change_type"))
    pairs = (
        F.when(F.col("__fp_new").isNull(), F.array(F.struct(
            F.col("__old").alias("img"), F.lit("delete").alias("t"))))
        .when(F.col("__fp_old").isNull(), F.array(F.struct(
            F.col("__new").alias("img"), F.lit("insert").alias("t"))))
        .otherwise(F.array(
            F.struct(F.col("__old").alias("img"),
                     F.lit("update_preimage").alias("t")),
            F.struct(F.col("__new").alias("img"),
                     F.lit("update_postimage").alias("t")))))
    e = j.select(*key_cols, F.explode(pairs).alias("__e"))
    return e.select(
        *[F.col(c) if c in key_cols
          else F.col(f"__e.img.{c}").alias(c) for c in cols],
        F.col("__e.t").alias("_change_type"))


def _write_nonempty(df: DataFrame, path: str, subdir: str,
                    prefix: str) -> str | None:
    """Write ``df`` as a new ``<prefix>-<uuid>`` batch under
    ``subdir`` and return its name, or None (and no directory) when it
    has no rows. The row count rides the write itself (Observation),
    so the frame's lineage executes once. Used for a commit's stored
    change rows (``_changes/``, the Delta CDF write path: the feed
    reads them instead of diffing snapshot endpoints; a None
    ``change_file`` still records that the commit's changes are known
    and empty) and for a rewritten tombstone set. The directory is
    unreferenced until its manifest commit lands (the usual
    crash-orphan class)."""
    from pyspark.sql import Observation
    name = f"{prefix}-{uuid.uuid4().hex}"
    target = fsio._join(path, subdir, name)
    obs = Observation()
    (df.observe(obs, F.count(F.lit(1)).alias("n"))
     .write.mode("errorifexists").parquet(target))
    if not int(obs.get["n"]):
        fsio.delete(df.sparkSession, target)
        return None
    return name


def restore_zordered(spark: SparkSession, path: str,
                     version: int) -> dict:
    """RESTORE the table to an earlier snapshot as a NEW forward
    commit (the Delta ``RESTORE`` analogue, and the undo button the
    retained history exists for): the target version's manifest is
    re-committed as the next version, so readers flip back to the old
    state atomically while history keeps moving forward — nothing is
    deleted, and the bad mutations stay visible in
    :func:`table_history` between the two.

    Requires the target snapshot to still be LIVE: reachable versions
    are bounded below by the vacuum min-live marker (a restore of a
    reclaimed snapshot raises cleanly, same guard as a time-travel
    read), so run the mutations you may want to undo with
    ``vacuum=False``. Restore itself is last-writer-wins under
    optimistic concurrency — like CREATE OR REPLACE, it declares the
    whole table state, so a collision simply recommits it on top.
    After a restore the re-referenced generations are live again:
    vacuum keeps them, and later mutations build on them normally."""
    target = read_manifest(spark, path, version)  # raises if vacuumed
    base_v, _ = _latest(spark, path)
    # op and change_file are PER-COMMIT fields: the restore commit's
    # changes are not the target commit's
    manifest = {k: v for k, v in target.items()
                if k not in ("op", "change_file", "metrics")}
    manifest["restored_from"] = int(version)
    v, _final = _commit(spark, path, manifest, "restore", base_v,
                        rebase=lambda latest: manifest,
                        metrics={"restored_from": int(version)})
    return {"restored_from": int(version), "version": v}


def clone_zordered(spark: SparkSession, src: str, dst: str,
                   version: int | None = None) -> dict:
    """SHALLOW CLONE (the Delta ``CREATE TABLE ... SHALLOW CLONE``
    analogue): a new, independently-mutable table at ``dst`` whose v1
    manifest REFERENCES the source snapshot's generation directories
    instead of copying them — zero data movement, so a 100 TB table
    clones in one metadata commit (the dev/test-against-production
    shape). The clone's manifest records each foreign generation's
    data root (``gen_roots``); reads resolve through them, and every
    later mutation writes NEW generations under the clone's own root —
    rewritten buckets shed their foreign reference, so a clone
    naturally "materializes" as it churns. The clone's own vacuum can
    never touch source data (it only lists its own data root).

    Contracts:
    - the source snapshot must be CLEAN (no outstanding deltas or
      tombstones — compact first): the clone carries generation
      references only, not batch files;
    - clones pin NOTHING on the source — vacuuming or full-compacting
      the source reclaims directories the clone still references, and
      the clone's reads then fail LOUDLY (missing paths), exactly
      Delta's documented shallow-clone + VACUUM hazard; retain source
      history (``vacuum=False`` / keep_versions) while clones live;
    - the Bloom sidecar is not cloned (rebuild on the clone if point
      lookups matter there); zone-map stats ride the manifest and
      clone for free."""
    src_m = read_manifest(spark, src, version)
    if src_m.get("deltas") or src_m.get("tombstones"):
        raise ValueError("clone_zordered: source snapshot has "
                         "outstanding deltas/tombstones — run "
                         "compact_zordered(src) first")
    if table_exists(spark, dst):
        raise ValueError(f"clone_zordered: {dst} already exists")
    src_data = fsio._join(src, DATA_DIR)
    src_roots = src_m.get("gen_roots", {})   # clone-of-clone carries
    live = set(src_m["gens"].values())
    manifest = {
        "spec": src_m["spec"],
        "gens": dict(src_m["gens"]),
        "stats": dict(src_m.get("stats", {})),
        "gen_columns": dict(src_m.get("gen_columns", {})),
        "gen_roots": {g: src_roots.get(g, src_data) for g in live},
        "cloned_from": {"path": src,
                        "version": int(version) if version is not None
                        else table_version(spark, src)},
    }
    for mk in ("column_map", "dropped_cols", "added_cols",
               "reader_features"):
        if src_m.get(mk):   # the logical view travels with the clone
            manifest[mk] = src_m[mk]
    if "last_batch_id" in src_m:
        manifest["last_batch_id"] = src_m["last_batch_id"]
    fsio.mkdirs(spark, fsio._join(dst, DATA_DIR))
    v, _ = _commit(spark, dst, manifest, "clone", 0,
                   metrics={"generations_referenced":
                            len(manifest["gen_roots"])})
    return {"version": v, "gens": len(manifest["gens"]),
            "cloned_from": manifest["cloned_from"]}


def recluster_zordered(spark: SparkSession, path: str,
                       cols: list[str] | None = None,
                       bits: int | None = None,
                       bucket_bits: int | None = None,
                       files_per_bucket: int = 1,
                       vacuum: bool = True) -> dict:
    """RE-CLUSTER the table under new layout dimensions and/or a new
    binning resolution — the ``OPTIMIZE ... ZORDER BY (new, cols)`` /
    re-cluster verb: when the query pattern changes (reads now bound
    ``(tenant, ts)`` instead of ``(user, value)``), ONE call rewrites
    the table Morton-clustered on the new dims as a forward commit on
    the same table — history, time travel, CHECK constraint and the
    optimistic-concurrency contract all carry through. Unlike a user
    CREATE OR REPLACE (last-writer-wins by declaration), the rebuild
    CONFLICTS if anything committed between its full-table read and
    its commit — an append, a rewrite, a tombstone, an ALTER — since
    replacing state wholesale would silently discard that work (the
    same posture as ``mode="full"`` compaction under a column
    mapping); the streaming-ingest watermark carries through.

    Defaults keep the current (logical) dims and resolution — making
    the bare call a "fold everything and re-bin" synonym — and any
    column mapping MATERIALIZES (the rewrite reads logically and the
    fresh manifest carries no mapping), so this is also the explicit
    escape hatch from accumulated renames/drops. ``cols`` are logical
    names; the CHECK constraint is re-keyed to them. Outstanding
    deltas and tombstones fold in (the read is the visible table).

    Cost, honestly: a full-table read + clustered write — the price
    of changing physical order at any size; at 100 TB run it as the
    deliberate maintenance job it is, not a routine call."""
    base_v, m = _latest(spark, path)
    lspec = _spec_logical(m)
    ldims = [c for c, _, _ in _spec_dims(lspec)]
    full = read_zordered(spark, path, manifest=m).drop("zbucket")
    new_cols = list(cols) if cols else ldims
    missing = [c for c in new_cols if c not in full.columns]
    if missing:
        raise ValueError(
            f"recluster_zordered: layout dimension(s) {missing} are "
            f"not columns of the table")
    return write_zordered_nd(
        full, path, new_cols,
        bits=int(bits if bits is not None else lspec["bits"]),
        bucket_bits=int(bucket_bits if bucket_bits is not None
                        else lspec["bucket_bits"]),
        files_per_bucket=files_per_bucket, vacuum=vacuum,
        check=lspec.get("check"), _expect=(base_v, m))


def alter_zordered(spark: SparkSession, path: str,
                   renames: dict[str, str] | None = None,
                   drops: list[str] | None = None,
                   adds: dict[str, dict] | None = None,
                   set_check: str | None = None,
                   drop_check: bool = False) -> dict:
    """Metadata-only ``ALTER TABLE`` — RENAME COLUMN / DROP COLUMN /
    ADD COLUMN as ONE manifest commit, zero data movement at any table
    size (the Delta column-mapping feature, mode=name): data files
    keep their original ("physical") column names forever; the commit
    edits the logical view every public read/write translates through.

    - ``renames``: {current name -> new name}. Applies to ANY column,
      including layout dimensions and tombstone keys (the spec and
      stored keys stay physical — nothing breaks). Renaming a column
      back to its original name clears its mapping entry.
    - ``drops``: [current name, ...]. The column disappears from every
      read (column pruning means it is never even scanned) and is
      refused in incoming batches; physical rewrites shed it bucket by
      bucket as the table churns. Refused for layout dimensions, for
      tombstone-key columns while tombstones are outstanding, and for
      columns the CHECK constraint references.
    - ``adds``: {name -> {"type": sql_type, "default": value}}. Old
      rows read the default (resolved per GENERATION, so later writes
      that store the column — including explicit NULLs — read back
      exactly); refused for names any stored file ever used
      (resurrecting old bytes under a new logical column would be
      silent corruption — the same reason Delta freezes physical
      names). With ``"expr": <sql>`` instead of a default the column
      is GENERATED (Delta's generated columns): rows that predate it
      COMPUTE the expression at read time (over existing columns,
      written in current logical names), every physical rewrite
      MATERIALIZES it — after which its zone-map stats make it
      prunable via :func:`read_zordered_where` — and a write batch
      that carries the column is validated against the expression
      (omit it to have it computed). Columns a generated expression
      references cannot be dropped.
    - ``set_check`` / ``drop_check``: ALTER TABLE ADD/DROP CONSTRAINT
      (Delta's constraint verbs). Setting a check VALIDATES the
      EXISTING visible rows first — one column-pruned scan, exactly
      Delta's ADD CONSTRAINT cost — then every later batch admits
      through it; the expression is written in current logical names
      and stored over physical ones. Dropping clears admission-time
      validation (rows already admitted are untouched). The
      append-rebase rule already treats a check-only spec change as
      mergeable: a racing append re-validates against the new
      constraint instead of conflicting.

    A full ``compact_zordered(mode="full")`` MATERIALIZES the mapping:
    everything is rewritten under the logical names and the mapping
    fields clear. Time travel is exact: the mapping is part of each
    snapshot, so a read at a pre-alter version shows the old schema,
    and :func:`restore_zordered` reverts names with the data.
    Concurrency: pure metadata — rebases over any concurrent commit by
    re-validating against the latest state; incompatible concurrent
    alters surface as validation errors, bucket rewrites merge
    untouched (their rebase carries the mapping fields through)."""
    from pyspark.sql.types import _parse_datatype_string
    renames = dict(renames or {})
    drops = list(drops or [])
    adds = dict(adds or {})
    if set_check is not None and drop_check:
        raise ValueError(
            "alter_zordered: set_check and drop_check are exclusive")
    if not (renames or drops or adds or set_check is not None
            or drop_check):
        raise ValueError("alter_zordered: nothing to do")
    for name, meta in adds.items():
        if "type" not in meta:
            raise ValueError(
                f"alter_zordered: ADD COLUMN {name!r} needs a 'type'")
        _parse_datatype_string(meta["type"])   # fail fast, not at read
    base_v, manifest = _latest(spark, path)

    def build(m: dict) -> dict:
        ren, dropped, added = _col_mapping(m)
        inv = {l: p for p, l in ren.items()}
        logical = _logical_columns(spark, path, m)
        # every physical name any live file may still carry: the
        # resurrection guard for adds and rename targets
        gc = m.get("gen_columns", {})
        live = set(m.get("gens", {}).values())
        phys_all = {c for g in live for c in gc.get(g, ())} \
            | set(ren) | dropped | set(added)
        spec_dims = {c for c, _, _ in _spec_dims(m["spec"])}
        tkey = set(m.get("tombstone_key", [])) \
            if m.get("tombstones") else set()
        import re as _re
        for old, new in renames.items():
            if old not in logical:
                raise ValueError(
                    f"alter_zordered: RENAME {old!r} — no such column")
            p = inv.get(old, old)
            if new != p and (new in logical or new in phys_all):
                raise ValueError(
                    f"alter_zordered: RENAME {old!r} -> {new!r} — the "
                    f"new name collides with a current column or a "
                    f"name stored files still carry")
            # uniform for every column class — including added ones,
            # whose added_cols entry stays keyed by the physical name
            # so the per-generation default fill keeps resolving
            if new == p:
                ren.pop(p, None)     # renamed back: identity again
            else:
                ren[p] = new
            inv = {l: pp for pp, l in ren.items()}
            logical = (logical - {old}) | {new}
        spec = dict(m["spec"])
        if drop_check:
            spec.pop("check", None)
        elif set_check is not None:
            pc = _expr_physical({"column_map": dict(ren)}, set_check)
            # ADD CONSTRAINT validates the EXISTING visible rows first
            # (one column-pruned scan — Delta's exact rule); a
            # violating table changes nothing
            bad = (read_zordered(spark, path, manifest=m,
                                 _logical=False)
                   .where(~F.coalesce(F.expr(pc), F.lit(False)))
                   .count())
            if bad:
                raise ValueError(
                    f"alter_zordered: CHECK ({set_check}) violated by "
                    f"{bad} existing row(s) — nothing was changed")
            spec["check"] = pc
        check = spec.get("check") or ""
        for name in drops:
            if name not in logical:
                raise ValueError(
                    f"alter_zordered: DROP {name!r} — no such column")
            p = inv.get(name, name)
            if p in spec_dims:
                raise ValueError(
                    f"alter_zordered: DROP {name!r} — it is a layout "
                    f"dimension; re-layout with write_zordered instead")
            if p in tkey:
                raise ValueError(
                    f"alter_zordered: DROP {name!r} — outstanding "
                    f"tombstones are keyed on it; compact first")
            if check and _re.search(rf"\b{_re.escape(p)}\b", check):
                raise ValueError(
                    f"alter_zordered: DROP {name!r} — the CHECK "
                    f"constraint ({check}) references it")
            for an, am in added.items():
                if an != p and am.get("expr") and _re.search(
                        rf"\b{_re.escape(p)}\b", am["expr"]):
                    raise ValueError(
                        f"alter_zordered: DROP {name!r} — generated "
                        f"column {an!r} ({am['expr']}) references it")
            added.pop(p, None)
            dropped.add(p)           # harmless no-op if never stored
            ren.pop(p, None)
            inv = {l: pp for pp, l in ren.items()}
            logical -= {name}
        for name, meta in adds.items():
            if name in logical or name in phys_all:
                raise ValueError(
                    f"alter_zordered: ADD {name!r} — the name is in "
                    f"use, or stored files still carry bytes under it "
                    f"(dropped names are never reusable)")
            entry = {"type": meta["type"]}
            if meta.get("expr"):
                pe = _expr_physical({"column_map": dict(ren)},
                                    meta["expr"])
                try:    # analyze (schema-only) against the physical
                        # columns — fail at ALTER time, not first read
                    (_read_live(spark, path, m).limit(0)
                     .select(F.expr(pe).cast(meta["type"])).schema)
                except Exception as e:
                    raise ValueError(
                        f"alter_zordered: ADD {name!r} generated "
                        f"expression ({meta['expr']}) does not "
                        f"analyze against the table schema: "
                        f"{e}") from None
                entry["expr"] = pe
            else:
                entry["default"] = meta.get("default")
            added[name] = entry
            logical |= {name}
        out = dict(m)
        out.pop("change_file", None)   # per-commit, never inherited
        if spec != m["spec"]:
            out["spec"] = spec
        for key, val in (("column_map", ren),
                         ("dropped_cols", sorted(dropped)),
                         ("added_cols", added)):
            if val:
                out[key] = val if key != "column_map" else dict(val)
            else:
                out.pop(key, None)
        # protocol gate: a snapshot whose semantics depend on the
        # mapping names the feature, so an older reader FAILS loudly
        # instead of surfacing physical names / dropped columns as if
        # they were the schema (the Delta reader-features rule); a
        # materializing full compaction clears mapping and gate alike
        feats = set()
        if ren or dropped or added:
            feats.add("column_mapping")
        if any(a.get("expr") for a in added.values()):
            feats.add("generated_columns")
        if feats:
            out["reader_features"] = sorted(feats)
        else:
            out.pop("reader_features", None)
        return out

    mx = {"columns_renamed": len(renames),
          "columns_dropped": len(drops),
          "columns_added": len(adds)}
    if set_check is not None:
        mx["check_set"] = 1
    if drop_check:
        mx["check_dropped"] = 1
    v, _final = _commit(spark, path, build(manifest), "alter", base_v,
                        rebase=build, metrics=mx)
    return {"version": v, "renamed": renames, "dropped": drops,
            "added": sorted(adds)}


def _clustered_rows(manifest: dict) -> int | None:
    """Sum of the recorded per-bucket row counts — None when any live
    generation predates the ``__rows`` stat (unknowable without IO)."""
    counts = [manifest.get("stats", {}).get(k, {}).get("__rows")
              for k in manifest["gens"]]
    if any(c is None for c in counts):
        return None
    return int(sum(counts))


def count_zordered(spark: SparkSession, path: str,
                   version: int | None = None) -> int:
    """Exact COUNT(*) from the manifest when the metadata can prove
    it: every mutating verb records each bucket's row count in its
    zone-map aggregate (``__rows``), so a clean snapshot's count is a
    SUM over at most 2^bucket_bits integers — zero data IO, the
    count-star pushdown every table format ships. Outstanding delta
    batches add their (small, footer-counted) scans. Falls back to
    the real read — still exact, never approximate — when outstanding
    TOMBSTONES hide rows (the anti-join decides visibility, metadata
    can't) or when a pre-``__rows`` generation has no recorded count."""
    manifest = read_manifest(spark, path, version)
    n = _clustered_rows(manifest)
    if manifest.get("tombstones") or n is None:
        return read_zordered(spark, path, manifest).count()
    for d in manifest.get("deltas", []):
        n += spark.read.parquet(fsio._join(path, DELTA_DIR, d)).count()
    return int(n)


def maintain_zordered(spark: SparkSession, path: str,
                      max_deltas: int = 8,
                      files_per_bucket: int = 1,
                      min_files: int | None = None,
                      vacuum: bool = True) -> dict:
    """One-call table maintenance policy — what a scheduled job runs
    against every table (the auto-OPTIMIZE shape): fold outstanding
    delta/tombstone batches once they pile past ``max_deltas`` (an
    incremental compaction — dirtied buckets only), then bin-pack any
    bucket fragmented past the file target. Metadata decides both
    steps; a healthy table costs two metadata reads and does nothing.
    Returns what ran: {"compacted", "optimized"}."""
    _, manifest = _latest(spark, path)
    n_pending = len(manifest.get("deltas", [])) \
        + len(manifest.get("tombstones", []))
    compacted = False
    if n_pending > max_deltas:
        compact_zordered(spark, path, files_per_bucket=files_per_bucket,
                         vacuum=vacuum)
        compacted = True
    opt = optimize_zordered(spark, path,
                            files_per_bucket=files_per_bucket,
                            min_files=min_files, vacuum=vacuum) \
        if compacted or n_pending == 0 else {"buckets_rewritten": 0}
    return {"compacted": compacted,
            "optimized": opt["buckets_rewritten"]}


def describe_zordered(spark: SparkSession, path: str) -> dict:
    """DESCRIBE DETAIL — one metadata-only report of the table's
    state: current version and op, the layout spec (dims, bits, CHECK),
    bucket/generation counts (and how many generations are FOREIGN —
    shallow-clone references), outstanding delta/tombstone batches,
    the streaming-ingest watermark, history depth and the min live
    (time-travelable) version, file/byte totals per the table's OWN
    data root (one listing; foreign roots are not walked — the clone
    may not even have list rights there). No data is read."""
    v, m = _latest(spark, path)
    mdir = _manifest_path(path)
    versions = sorted(
        int(x.group(1)) for x in
        (fsio._VERSION_RE.match(n) for n in fsio.list_names(spark, mdir))
        if x)
    roots = m.get("gen_roots", {})
    n_files = total_bytes = 0
    data_root = fsio._join(path, DATA_DIR)
    for fname, fsize in fsio.list_files_recursive(spark, data_root):
        if fname.endswith(".parquet"):
            n_files += 1
            total_bytes += fsize
    spec = m["spec"]
    ren, dropped, added = _col_mapping(m)
    return {
        "path": path, "version": v, "op": m.get("op"),
        "dims": [c for c, _, _ in _spec_dims(spec)],
        # the logical view over the physical schema (ALTER TABLE):
        "logical_dims": [ren.get(c, c) for c, _, _ in _spec_dims(spec)],
        "column_renames": ren,
        "dropped_columns": sorted(dropped),
        "added_columns": added,
        "bits": spec["bits"], "bucket_bits": spec["bucket_bits"],
        "check": spec.get("check"),
        "buckets": len(m["gens"]),
        "generations": len(set(m["gens"].values())),
        "foreign_generations": len({g for g in set(m["gens"].values())
                                    if g in roots}),
        "cloned_from": m.get("cloned_from"),
        "outstanding_deltas": len(m.get("deltas", [])),
        "outstanding_tombstones": len(m.get("tombstones", [])),
        "last_batch_id": m.get("last_batch_id"),
        "clustered_rows": _clustered_rows(m),
        "history_versions": len(versions),
        "min_live_version": _min_live_version(spark, path),
        "local_data_files": n_files,
        "local_data_bytes": total_bytes,
    }


def vacuum_zordered(spark: SparkSession, path: str,
                    keep_versions: int = 1,
                    retention_ms: int = 0,
                    dry_run: bool = False,
                    keep_hours: float | None = None) -> dict:
    """Reclaim storage from retained history: keep the newest
    ``keep_versions`` manifest snapshots, delete every data generation
    and delta directory no kept snapshot references, advance the
    min-live marker (so a time-travel read of a reclaimed version
    fails CLEANLY instead of silently returning partial rows), and
    prune older manifest files. The Delta VACUUM analogue for the
    ``vacuum=False`` mutation mode; with the default eager mode this
    is a no-op beyond marker/manifest tidying.

    ``retention_ms`` is the CONCURRENT-WRITER guard (Delta's retention
    window): an in-flight mutation writes its new generation
    directories BEFORE its manifest commit, so a vacuum running in
    that window sees them as unreferenced — deleting them would break
    the mutation's commit. Directories modified within the last
    ``retention_ms`` are skipped; set it above the longest plausible
    write-to-commit gap when other writers may be live (the default 0
    keeps the single-writer behavior: reclaim everything now).
    ``keep_hours`` retains history by AGE on top of the count
    (Delta's log-retention-duration shape): every snapshot whose
    in-manifest ``committed_ms`` falls within the window stays
    time-travel-readable, in ADDITION to the newest
    ``keep_versions``. Commits from before the stamp existed have
    unknown age and are never age-retained (the same rule as
    :func:`version_at_timestamp` — only the count protects them).

    Returns {"kept_versions", "deleted_gens", "deleted_deltas",
    "deleted_tombstones"}. ``dry_run=True`` (Delta's VACUUM DRY RUN)
    deletes NOTHING and moves no markers — it reports the same counts
    plus ``would_delete``, the exact directory list a real run would
    reclaim under the same retention window."""
    import time as _time
    cutoff = int(_time.time() * 1000) - retention_ms

    def _old_enough(p: str) -> bool:
        return retention_ms <= 0 or fsio.modified_ms(spark, p) <= cutoff

    would_delete: list[str] = []

    def _reclaim(p: str) -> None:
        if dry_run:
            would_delete.append(p)
        else:
            fsio.delete(spark, p)

    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    mdir = _manifest_path(path)
    latest = fsio.latest_version(spark, mdir)
    if latest == 0:
        raise FileNotFoundError(f"no z-order manifest under {path}")
    kept = [v for v in range(max(1, latest - keep_versions + 1),
                             latest + 1)
            if fsio.exists(spark, fsio._join(mdir, f"v{v:08d}.json"))]
    if keep_hours is not None:
        # age retention: walk newest→oldest; commit times are stamped
        # at commit so they are monotone — the first stamped commit
        # older than the window bounds everything below it, and an
        # unstamped (pre-feature) commit is genuinely older still
        age_cut = int(_time.time() * 1000) - int(keep_hours * 3_600_000)
        aged = []
        # bounded below by the min-live marker: versions under it are
        # already unreadable, so nothing there can be age-retained —
        # without the floor every age vacuum on a long-lived table
        # would probe the full (pruned) version range back to v1
        floor = _min_live_version(spark, path)
        for v in range(latest, max(floor, 1) - 1, -1):
            m = _read_manifest_version(spark, path, v)
            if m is None:
                # manifests are pruned oldest-first — nothing below
                # this version survives either
                break
            ms = m.get("committed_ms")
            if ms is None or int(ms) < age_cut:
                break
            aged.append(v)
        kept = sorted(set(kept) | set(aged))
    manifests = [_read_manifest_version(spark, path, v) for v in kept]
    live_pairs = {(k, g) for m in manifests
                  for k, g in m.get("gens", {}).items()}
    live_deltas = {d for m in manifests for d in m.get("deltas", [])}
    deleted_gens = 0
    data_root = fsio._join(path, DATA_DIR)
    for bdir in fsio.list_names(spark, data_root):
        if not bdir.startswith("zbucket="):
            continue
        k = bdir.split("=", 1)[1]
        for gdir in fsio.list_names(spark, fsio._join(data_root, bdir)):
            if not gdir.startswith("gen="):
                continue
            g = gdir.split("=", 1)[1]
            full = fsio._join(data_root, bdir, gdir)
            if (k, g) not in live_pairs and _old_enough(full):
                _reclaim(full)
                deleted_gens += 1
    deleted_deltas = 0
    for d in fsio.list_names(spark, fsio._join(path, DELTA_DIR)):
        full = fsio._join(path, DELTA_DIR, d)
        if d not in live_deltas and _old_enough(full):
            _reclaim(full)
            deleted_deltas += 1
    live_tombs = {t for m in manifests for t in m.get("tombstones", [])}
    deleted_tombstones = 0
    for t in fsio.list_names(spark, fsio._join(path, TOMBSTONE_DIR)):
        full = fsio._join(path, TOMBSTONE_DIR, t)
        if t not in live_tombs and _old_enough(full):
            _reclaim(full)
            deleted_tombstones += 1
    # stored change files (writer-side CDF) of pruned commits
    live_changes = {m.get("change_file") for m in manifests} - {None}
    for c in fsio.list_names(spark, fsio._join(path, CHANGES_DIR)):
        full = fsio._join(path, CHANGES_DIR, c)
        if c not in live_changes and _old_enough(full):
            _reclaim(full)
    # Bloom sidecar shards: keep the newest meta's parquet shard,
    # reclaim superseded b-* dirs (rebuilds) and older metas. The
    # retention window applies — a builder writes its shard BEFORE its
    # meta commit, same exposure as data generations.
    bloom_dir = fsio._join(mdir, BLOOM_DIR)
    bmeta = fsio.read_json_latest(spark, bloom_dir)
    live_shard = {bmeta["data"]} if bmeta and "data" in bmeta else set()
    deleted_bloom = 0
    for name in fsio.list_names(spark, bloom_dir):
        full = fsio._join(bloom_dir, name)
        if name.startswith("b-") and name not in live_shard \
                and _old_enough(full):
            _reclaim(full)
            deleted_bloom += 1
    if not dry_run:
        if fsio.latest_version(spark, bloom_dir):
            fsio.prune_versions(spark, bloom_dir, keep=1)
        _set_min_live_version(spark, path, kept[0])
        fsio.prune_versions(spark, mdir, keep=len(kept))
    out = {"kept_versions": kept, "deleted_gens": deleted_gens,
           "deleted_deltas": deleted_deltas,
           "deleted_tombstones": deleted_tombstones,
           "deleted_bloom_shards": deleted_bloom}
    if dry_run:
        out["dry_run"] = True
        out["would_delete"] = sorted(would_delete)
    return out


_STAT_TYPES = ("long", "integer", "short", "byte", "double", "float",
               "date", "timestamp", "string", "decimal")

_STAT_MAX_STR = 64


def _ser_stat(v):
    """JSON-safe zone-map value: dates/timestamps as isoformat strings
    (which order lexicographically like the values they encode)."""
    return v.isoformat() if hasattr(v, "isoformat") else v


def _ser_bound(v, is_min: bool):
    """JSON-safe zone-map BOUND, conservatively WIDENED wherever the
    serialization could lose order precision (pruning stays a
    superset, results stay exact):

    - dates/timestamps: isoformat (orders exactly like the values);
    - decimals: floats rounded OUTWARD (``float()`` rounds to
      nearest, which could pull a max below the true max and wrongly
      skip the bucket holding it — one ulp outward can only widen);
    - strings: min/max of a string column prune lexicographically
      (Spark compares UTF-8 bytes, Python compares code points — the
      same total order); long values are truncated to a
      64-code-point prefix so manifests stay small — a prefix
      lower-bounds the min as-is, and the max gets the maximum code
      point appended so it still upper-bounds every string it
      covers."""
    import decimal as _dec
    import math as _math
    if v is None:
        return None
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, _dec.Decimal):
        f = float(v)
        return _math.nextafter(f, -_math.inf if is_min else _math.inf)
    if isinstance(v, str) and len(v) > _STAT_MAX_STR:
        pre = v[:_STAT_MAX_STR]
        return pre if is_min else pre + "\U0010FFFF"
    return v


def _written_generation(spark: SparkSession, path: str,
                        gen: str) -> DataFrame | None:
    """The rows of the just-written generation, read BACK FROM DISK.
    Manifest metadata (live buckets, zone-map stats) is always derived
    from this read-back, never by re-executing the input frame: a
    nondeterministic input (sampling, a rerun-able shuffle) could
    produce different rows on a second pass, silently disagreeing with
    the bytes actually written — and the read-back is also cheaper
    (one columnar scan of the NEW generation only, partition-pruned by
    ``gen``, vs two extra executions of an arbitrary plan). Returns
    None when nothing was written (an empty frame writes no partition
    directories).

    The read targets ONLY the new generation's directories (glob +
    basePath keeps zbucket/gen as partition columns): schema inference
    never touches older generations' footers, so a re-layout that
    changes the table's columns still derives its metadata from the
    bytes it just wrote."""
    data_root = fsio._join(path, DATA_DIR)
    try:
        df = (spark.read.option("basePath", data_root)
              .parquet(fsio._join(data_root, "zbucket=*", f"gen={gen}")))
    except Exception as e:
        # ONLY the missing-path shape means "empty write" — a
        # transient FS/footer failure here must propagate: swallowing
        # it would commit a manifest with gens={} and (with
        # vacuum=True) delete every previous generation, silently
        # turning a rewrite into an empty table
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None  # no matching directories: empty write
        raise
    if "gen" not in df.columns:
        return None
    return df.where(F.col("gen") == gen)


def _written_buckets(written: DataFrame | None) -> list[int]:
    if written is None:
        return []
    return sorted(r[0] for r in
                  written.select("zbucket").distinct().collect())


def _written_meta(spark: SparkSession, path: str, gen: str,
                  spec: dict) -> tuple[list[int], dict, list[str]]:
    """(live buckets, zone-map stats, data columns) of a just-written
    generation in
    ONE read-back job where possible: the stats aggregate already
    groups by zbucket, so its keys ARE the bucket list; the separate
    distinct scan only runs when the table has no stat-typed columns
    (stats empty, buckets still needed)."""
    written = _written_generation(spark, path, gen)
    stats = _bucket_stats(written, spec)
    cols = sorted(c for c in written.columns
                  if c not in ("zbucket", "gen")) if written is not None \
        else []
    if stats:
        return sorted(int(k) for k in stats), stats, cols
    return _written_buckets(written), stats, cols


def _bucket_stats(df: DataFrame | None, spec: dict) -> dict:
    """Per-bucket zone maps: [min, max] of every stat-typed column,
    keyed by zbucket — one map-side-combinable aggregate, at most
    2^bucket_bits rows collected (the sanctioned model-sized class).
    Values are JSON-serialized (dates/timestamps via isoformat) purely
    for pruning comparisons, never read back into results. ``df`` is
    the read-back of a just-written generation (zbucket present as a
    partition column); computed z-buckets are only a fallback for
    frames not yet written."""
    if df is None:
        return {}
    skip = {c for c, _, _ in _spec_dims(spec)} | {"zbucket", "gen"}
    cols = [f.name for f in df.schema.fields
            if f.name not in skip
            and f.dataType.typeName().split("(")[0] in _STAT_TYPES]
    if not cols:
        return {}
    zb = F.col("zbucket") if "zbucket" in df.columns \
        else _zbucket_col(spec)[0]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [F.min(F.col(c)).alias(f"mn__{c}"),
                 F.max(F.col(c)).alias(f"mx__{c}")]
    out: dict = {}
    for r in (df.withColumn("__zb", zb)
                .groupBy("__zb").agg(*aggs).collect()):
        entry = {c: [_ser_bound(r[f"mn__{c}"], True),
                     _ser_bound(r[f"mx__{c}"], False)]
                 for c in cols}
        # per-bucket row count rides the same aggregate: COUNT(*)
        # pushdown (count_zordered) and DESCRIBE detail read it;
        # zone-map pruning only ever looks up queried COLUMN keys
        entry["__rows"] = int(r["__n"])
        out[str(r["__zb"])] = entry
    return out


def zonemap_buckets(manifest: dict, ranges: dict) -> list[int]:
    """The buckets a conjunctive range predicate can touch, judged by
    the manifest's per-bucket [min, max] zone maps: a bucket is
    SKIPPED only when some requested column's recorded range provably
    misses the query range; buckets without stats (or columns the
    stats don't cover) are kept — conservative, so results are always
    exact."""
    stats = manifest.get("stats", {})
    keep = []
    for k in manifest["gens"]:
        s = stats.get(k, {})
        ok = True
        for c, (lo, hi) in ranges.items():
            # stats store dates/timestamps as isoformat STRINGS (JSON
            # manifest); serialize the query bounds the same way so the
            # comparison is string-vs-string (isoformat orders like the
            # values), never str-vs-date TypeError
            lo, hi = _ser_stat(lo), _ser_stat(hi)
            if c in s and s[c][0] is not None:
                mn, mx = s[c]
                if mx < lo or mn > hi:
                    ok = False
                    break
        if ok:
            keep.append(int(k))
    return sorted(keep)


def read_zordered_where(spark: SparkSession, path: str, ranges: dict,
                        version: int | None = None) -> DataFrame:
    """Data-skipping read on ARBITRARY stat-covered columns — the
    zone-map generalization of the 2-D box read: every mutating
    operation records each bucket's [min, max] per column in the
    manifest, so a range predicate on a column that is NOT a layout
    dimension still prunes bucket directories at plan time whenever
    the physical clustering correlates with it (and degrades to a
    full live scan, never a wrong answer, when it doesn't).
    ``ranges`` maps column -> (lo, hi), all conjunctive; outstanding
    delta batches carry no stats and are scanned with the exact
    filter only. Results equal a plain filter over the live table."""
    manifest = read_manifest(spark, path, version)
    ranges = _phys_ranges(manifest, ranges, "read_zordered_where")
    keep = zonemap_buckets(manifest, ranges)
    out = _read_snapshot(spark, path, manifest, keep, _in_ranges(ranges))
    # internal layout columns never escape, with or without deltas
    # outstanding — same call, same schema, regardless of table state
    return _rename_logical(manifest, out.drop("zbucket"))


def delete_zordered_box(spark: SparkSession, path: str,
                        a_lo: int, a_hi: int, b_lo: int, b_hi: int,
                        files_per_bucket: int = 1,
                        vacuum: bool = True,
                        emit_changes: bool = False) -> dict:
    """DELETE every row inside a 2-D layout-dimension box — the last
    CRUD verb on the layered table, and deliberately PREDICATE-scoped
    to the layout dims: the box planner bounds exactly which buckets
    can hold matches, so the rewrite touches only those (a bare-key
    delete cannot be planner-bounded — a key says nothing about where
    its row lives; use :func:`delete_zordered_keys`, which tombstones
    the keys and lets compaction find and rewrite the victim
    buckets). Dirtied buckets are rewritten keeping
    only rows OUTSIDE the box; a bucket left empty drops out of the
    manifest entirely. Same commit discipline as every mutation here:
    new generations → atomic manifest flip → cleanup (or retained
    history with ``vacuum=False``). No outstanding deltas (raises —
    compact first); commit collisions rebase like every bucket
    rewrite."""
    base_v, manifest = _latest(spark, path)
    if manifest.get("deltas") or manifest.get("tombstones"):
        raise ValueError(
            "delete_zordered_box: outstanding delta batches or "
            "tombstones — run compact_zordered(path) first")
    spec = manifest["spec"]
    dims = _spec_dims(spec)
    planned = _coerce_ranges(spark, spec, {dims[0][0]: (a_lo, a_hi),
                                           dims[1][0]: (b_lo, b_hi)})
    candidates = [b for b in zbuckets_for_ranges(spec, planned)
                  if str(b) in manifest["gens"]]
    if not candidates:
        return spec
    old = _read_snapshot(spark, path, manifest, candidates) \
        .drop("zbucket")
    in_box = _in_ranges({dims[0][0]: (a_lo, a_hi),
                         dims[1][0]: (b_lo, b_hi)})
    changes = old.where(in_box).withColumn(
        "_change_type", F.lit("delete")) if emit_changes else None
    # a bucket the delete empties drops out of the manifest outright
    _rewrite_buckets(spark, path, base_v, manifest, candidates,
                     old.where(~in_box), "delete_box", files_per_bucket,
                     vacuum, changes=changes)
    return spec
