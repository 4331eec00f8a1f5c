"""Source/sink connectors: format round-trips and the bucketed
co-located join (write-time shuffle buys zero-exchange joins)."""

from __future__ import annotations

import pytest as _pytest
from pyspark.sql import functions as F

from aggregation_duckdb_spark.io import load_table
from aggregation_duckdb_spark.plans import count_shuffles, physical_plan
from aggregation_duckdb_spark.sources import (
    is_shuffle_free_join, read_csv, read_json, write_bucketed, write_csv_dir,
    write_json)


def test_csv_round_trip(spark, sf_dir, tmp_path):
    nation = load_table(spark, "nation", sf_dir)
    path = str(tmp_path / "nation_csv")
    write_csv_dir(nation, path, single_file=True)
    back = read_csv(spark, path,
                    "n_nationkey bigint, n_name string, n_regionkey bigint, "
                    "n_comment string")
    assert sorted(r["n_name"] for r in back.collect()) == \
        sorted(r["n_name"] for r in nation.collect())


def test_json_round_trip_nested(spark, sf_dir, tmp_path):
    """Struct/array columns must survive the JSON sink (the reporting
    dim's path columns are nested)."""
    df = (load_table(spark, "region", sf_dir)
          .select("r_regionkey",
                  F.struct(F.col("r_name").alias("name")).alias("meta"),
                  F.array(F.col("r_regionkey"),
                          F.col("r_regionkey") + 1).alias("keys")))
    path = str(tmp_path / "region_json")
    write_json(df, path)
    back = read_json(
        spark, path,
        "r_regionkey bigint, meta struct<name:string>, keys array<bigint>")
    rows = {r["r_regionkey"]: (r["meta"]["name"], tuple(r["keys"]))
            for r in back.collect()}
    want = {r["r_regionkey"]: (r["meta"]["name"], tuple(r["keys"]))
            for r in df.collect()}
    assert rows == want


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """orders ⋈ customer both bucketed by the join key: the join plan
    must contain no shuffle exchange even with broadcast disabled —
    the layout IS the shuffle, paid once at write time."""
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey",
                                                        "o_custkey",
                                                        "o_totalprice")
    customer = load_table(spark, "customer", sf_dir).select("c_custkey",
                                                            "c_name")
    write_bucketed(orders, "t_orders_b", ["o_custkey"], 8,
                   sort_cols=["o_custkey"])
    write_bucketed(customer, "t_customer_b", ["c_custkey"], 8,
                   sort_cols=["c_custkey"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.table("t_orders_b")
        b = spark.table("t_customer_b")
        joined = a.join(b, a["o_custkey"] == b["c_custkey"])
        assert is_shuffle_free_join(joined), physical_plan(joined, "simple")
        # and it still computes the right thing
        n = joined.count()
        plain = orders.join(customer,
                            orders["o_custkey"] == customer["c_custkey"])
        assert n == plain.count()
        assert count_shuffles(plain) >= 1  # the unbucketed twin shuffles
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-partitioned parquet: a filter on the partition column must
    prune directories at plan time (PartitionFilters), not scan-and-
    filter — the date-partition pattern for 100 TB fact tables."""
    from aggregation_duckdb_spark.io import write_parquet

    ev = load_table(spark, "events", sf_dir)
    path = str(tmp_path / "events_by_type")
    write_parquet(ev, path, partition_by=["event_type"])

    scan = spark.read.parquet(path).where(F.col("event_type") == "click")
    plan = physical_plan(scan, "formatted")
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters", 1)[1].split("]", 1)[0]
    # and the pruned read returns exactly the one partition's rows
    assert scan.count() == ev.where(F.col("event_type") == "click").count()


def test_salted_join_same_key_name_and_aliases(spark, sf_dir):
    """Same-named join keys must not raise AMBIGUOUS_REFERENCE, and
    canonical Spark alias spellings of fact-preserving joins work."""
    from aggregation_duckdb_spark.operators.skew import salted_join
    import pytest as _pytest

    facts = spark.createDataFrame([(1, 10.0), (1, 20.0), (2, 5.0)],
                                  "k long, v double")
    dim = spark.createDataFrame([(1, "a"), (3, "c")], "k long, name string")
    out = salted_join(facts, dim, "k", "k", salt_buckets=4)
    assert out.count() == 2  # two facts with k=1 match

    assert salted_join(facts, dim, "k", "k", how="leftsemi").count() == 2
    with _pytest.raises(ValueError):
        salted_join(facts, dim, "k", "k", how="right")


def test_nanos_to_micros_floors_pre_epoch(spark):
    """Nanos→micros must FLOOR, not truncate toward zero: a pre-epoch
    instant like -1 ns is inside microsecond -1 (1969-12-31
    23:59:59.999999), not microsecond 0. DuckDB's reader floors; the
    engines must agree on the instant."""
    from aggregation_duckdb_spark.io import _NANOS_TS_TO_MICROS
    df = (spark.createDataFrame(
            [(-1,), (-1500,), (0,), (1500,)], "ts long")
          .select(F.col("ts").alias("ns"),
                  F.unix_micros(F.expr(_NANOS_TS_TO_MICROS)).alias("us")))
    got = {r["ns"]: r["us"] for r in df.collect()}
    assert got == {-1: -1, -1500: -2, 0: 0, 1500: 1}


def test_python_datasource_partitioned_deterministic(spark):
    import hashlib
    from aggregation_duckdb_spark.sources.pydatasource import (
        register_synthdocs)
    register_synthdocs(spark)
    df = (spark.read.format("synthdocs")
          .option("n_docs", 100).option("partitions", 4).load())
    assert df.rdd.getNumPartitions() == 4
    rows = {r["doc_id"]: r for r in df.collect()}
    assert len(rows) == 100  # splits disjoint and complete
    h7 = hashlib.md5(b"7").hexdigest()
    assert rows[7]["token_a"] == h7[:8]
    assert rows[7]["bucket"] == int(h7[:2], 16) % 10
    assert rows[7]["weight_int"] == int(h7[:4], 16)


def test_synthticks_streaming_python_datasource(spark):
    """Spark 4 Python Data Source STREAMING reader: the md5 tick feed
    must deliver exactly rows [0, n_total) across micro-batches —
    deterministic values, no duplicates, quiescing at the cap."""
    import hashlib
    import time
    import uuid
    from aggregation_duckdb_spark.sources.pydatasource import (
        register_synthticks)
    register_synthticks(spark)
    name = f"ticks_{uuid.uuid4().hex}"
    q = (spark.readStream.format("synthticks")
         .option("rows_per_batch", 40).option("n_total", 120)
         .load()
         .writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table(name).count() >= 120:
                break
            time.sleep(0.5)
        # let the trigger fire PAST the cap: the quiesced empty batch
        # (end offset == start) must idle the query, not crash it —
        # the exact path a bare-list read() return breaks
        time.sleep(2.0)
        assert q.exception() is None, q.exception()
        assert q.isActive
    finally:
        q.stop()
    rows = {r.tick_id: (r.token, r.weight_int)
            for r in spark.table(name).collect()}
    assert len(rows) == 120 and set(rows) == set(range(120))
    for i in (0, 59, 119):
        h = hashlib.md5(str(i).encode()).hexdigest()
        assert rows[i] == (h[:8], int(h[:4], 16))


# ---------------------------------------------------------------------
# Z-order layout (sources.layout)
# ---------------------------------------------------------------------

def _zorder_frame(spark):
    return spark.range(0, 8000).select(
        (F.col("id") % 997).alias("a"),
        ((F.col("id") * 37) % 613).alias("b"),
        F.col("id").alias("payload"))


def test_zorder_box_read_equals_full_scan_filter(spark, tmp_path):
    """The bucket predicate is a plan-time superset — every row the
    box admits must survive the pruned read, for several boxes and
    for an odd bucket_bits split."""
    from aggregation_duckdb_spark.sources import layout as L
    df = _zorder_frame(spark)
    for kb, sub in ((4, "even"), (5, "odd")):
        path = str(tmp_path / f"z_{sub}")
        L.write_zordered(df, path, "a", "b", bits=7, bucket_bits=kb)
        for box in ((100, 200, 300, 500), (0, 996, 0, 612),
                    (990, 996, 0, 5), (400, 401, 100, 100)):
            got = sorted((r.a, r.b, r.payload) for r in
                         L.read_zordered_box(spark, path, *box).collect())
            a_lo, a_hi, b_lo, b_hi = box
            want = sorted((r.a, r.b, r.payload) for r in df.where(
                (F.col("a").between(a_lo, a_hi)) &
                (F.col("b").between(b_lo, b_hi))).collect())
            assert got == want, (kb, box)


def test_zorder_box_prunes_partition_directories(spark, tmp_path):
    """A small 2-D box must (a) plan its bucket list as a partition
    filter — directories never listed, never read — and (b) choose a
    strict subset of the bucket space: the point of the layout."""
    from aggregation_duckdb_spark.sources import layout as L
    df = _zorder_frame(spark)
    path = str(tmp_path / "z_prune")
    spec = L.write_zordered(df, path, "a", "b", bits=8, bucket_bits=4)
    buckets = L.zbuckets_for_box(spec, 100, 200, 300, 400)
    assert 0 < len(buckets) < (1 << spec["bucket_bits"])
    plan = physical_plan(
        L.read_zordered_box(spark, path, 100, 200, 300, 400), "simple")
    assert "PartitionFilters" in plan and "zbucket" in plan, plan


def test_zorder_entry_plan_prunes(spark, sf_dir):
    """The matrix entry itself must read through the pruned path."""
    from aggregation_duckdb_spark import matrix
    df = matrix.queries()["q_zorder_pruning"](spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert "PartitionFilters" in plan and "zbucket" in plan, plan


def test_zorder_rewrite_certified_by_dataset_fingerprint(spark, sf_dir,
                                                         tmp_path):
    """The advertised workflow: relayout a table with write_zordered,
    then certify the rewrite changed NOTHING with the order-invariant
    fingerprint (zbucket is layout metadata, excluded from content)."""
    from aggregation_duckdb_spark.operators import pipeline as P
    from aggregation_duckdb_spark.sources import layout as L
    docs = load_table(spark, "documents", sf_dir) \
        .select("doc_id", "text", "n_chars")
    path = str(tmp_path / "docs_z")
    L.write_zordered(docs, path, "doc_id", "n_chars",
                     bits=6, bucket_bits=3, files_per_bucket=2)
    back = L.read_zordered(spark, path).drop("zbucket")
    a = P.dataset_fingerprint(docs).collect()[0]
    b = P.dataset_fingerprint(back).collect()[0]
    assert tuple(a) == tuple(b)


def test_zorder_delta_append_and_compaction(spark, tmp_path):
    """The layered-layout contract: appends land in a delta area and
    box reads stay row-exact over main ∪ delta; compaction folds the
    delta back in (bounds recomputed over the union — the delta here
    deliberately stretches both value ranges), restores pruned reads,
    and loses nothing."""
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_frame(spark)                    # a<997, b<613
    path = str(tmp_path / "z_layered")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    extra = spark.range(50_000, 52_000).select(
        (F.col("id") % 1400).alias("a"),           # beyond old a_hi
        ((F.col("id") * 31) % 900).alias("b"),     # beyond old b_hi
        F.col("id").alias("payload"))
    L.append_zordered(extra, path)
    want_all = base.unionByName(extra)

    def box_want(a_lo, a_hi, b_lo, b_hi):
        return sorted((r.a, r.b, r.payload) for r in want_all.where(
            (F.col("a").between(a_lo, a_hi))
            & (F.col("b").between(b_lo, b_hi))).collect())

    # box crossing both old bounds AND the outlier range
    for box in ((900, 1300, 500, 800), (0, 100, 0, 100)):
        got = sorted((r.a, r.b, r.payload) for r in
                     L.read_zordered_box_with_delta(spark, path, *box)
                     .collect())
        assert got == box_want(*box), box

    spec = L.compact_zordered(spark, path, mode="full")
    assert spec["a_hi"] >= 1300 and spec["b_hi"] >= 800  # bounds grew
    from aggregation_duckdb_spark import fsio
    assert L.read_manifest(spark, path)["deltas"] == []
    assert fsio.list_names(spark, fsio._join(path, L.DELTA_DIR)) == []
    total = L.read_zordered(spark, path).count()
    assert total == want_all.count()
    for box in ((900, 1300, 500, 800), (0, 100, 0, 100)):
        got = sorted((r.a, r.b, r.payload) for r in
                     L.read_zordered_box(spark, path, *box).collect())
        assert got == box_want(*box), box
        got2 = sorted((r.a, r.b, r.payload) for r in
                      L.read_zordered_box_with_delta(spark, path, *box)
                      .collect())
        assert got2 == got


def test_zorder_box_reads_include_uncompacted_deltas(spark, tmp_path):
    """Every box read sees the rows an append left in the delta area —
    equal to a full-scan filter with no compaction in between — and a
    read pinned to the version before the append still excludes
    them."""
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_frame(spark)
    path = str(tmp_path / "z_box_delta")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    v1 = L.table_version(spark, path)
    extra = spark.range(8000, 9000).select(
        (F.col("id") % 997).alias("a"),
        ((F.col("id") * 37) % 613).alias("b"),
        F.col("id").alias("payload"))
    L.append_zordered(extra, path)
    assert L.read_manifest(spark, path)["deltas"]
    box = (100, 400, 50, 300)

    def rows(df):
        return sorted((r.a, r.b, r.payload)
                      for r in df.select("a", "b", "payload").collect())

    def in_box(df):
        return rows(df.where(F.col("a").between(*box[:2])
                             & F.col("b").between(*box[2:])))

    want = in_box(base.unionByName(extra))
    assert any(p >= 8000 for _, _, p in want)
    assert in_box(L.read_zordered(spark, path)) == want
    assert rows(L.read_zordered_box(spark, path, *box)) == want
    assert rows(L.read_zordered_box_nd(
        spark, path, {"a": box[:2], "b": box[2:]})) == want
    assert rows(L.read_zordered_box_with_delta(spark, path, *box)) == want
    assert rows(L.read_zordered_box(spark, path, *box, version=v1)) == \
        in_box(base)


def test_zorder_append_many_one_commit_k_deltas(spark, tmp_path):
    """append_zordered_many must be byte-equivalent to K sequential
    appends — K distinct delta directories, identical visible rows,
    delta-count-triggered maintenance still fires — while committing
    exactly ONE new manifest version; empty batches vanish instead of
    leaving unreadable delta references."""
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_frame(spark)
    path = str(tmp_path / "z_multi")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    batches = [spark.range(50_000 + 1000 * i, 50_000 + 1000 * i + 200)
               .select((F.col("id") % 997).alias("a"),
                       ((F.col("id") * 31) % 613).alias("b"),
                       F.col("id").alias("payload"))
               for i in range(3)]
    empty = batches[0].where(F.lit(False))
    L.append_zordered_many(batches + [empty], path)
    m = L.read_manifest(spark, path)
    assert len(m["deltas"]) == 3            # empty batch left no delta
    assert L.table_version(spark, path) == 2   # ONE commit for all
    got = sorted((r.a, r.b, r.payload) for r in
                 L.read_zordered(spark, path).collect())
    want = base
    for b in batches:
        want = want.unionByName(b)
    assert got == sorted((r.a, r.b, r.payload) for r in want.collect())
    # each delta directory is independently readable (the rename left
    # plain parquet files) and the history records one append commit
    for d in m["deltas"]:
        assert spark.read.parquet(
            fsio._join(path, L.DELTA_DIR, d)).count() == 200
    hist = L.table_history(spark, path)
    assert [h["op"] for h in hist if h["version"] == 2] == ["append"]
    # the delta count still drives maintenance exactly as K appends do
    ran = L.maintain_zordered(spark, path, max_deltas=2)
    assert ran["compacted"]
    assert sorted((r.a, r.b, r.payload) for r in
                  L.read_zordered(spark, path).collect()) == got


def test_zorder_incremental_compaction_rewrites_only_dirtied_buckets(
        spark, tmp_path):
    """The default compaction must (a) produce the same live rows as a
    full rebuild, (b) leave untouched buckets' generation directories
    PHYSICALLY untouched (cost tracks delta size, not table size), and
    (c) route out-of-range delta values into edge buckets that box
    reads still find (binning clamps on both the write and plan
    sides)."""
    import glob
    import os
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_frame(spark)
    path = str(tmp_path / "z_incr")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    before = L.read_manifest(spark, path)
    mtimes_before = {f: os.path.getmtime(f) for f in glob.glob(
        os.path.join(path, L.DATA_DIR, "zbucket=*", "gen=*", "*.parquet"))}
    # a small delta: a few in-range rows plus out-of-range outliers
    extra = spark.createDataFrame(
        [(5, 5, 90001), (900, 600, 90002), (2000, 1500, 90003)],
        "a long, b long, payload long")
    L.append_zordered(extra, path)
    assert L.read_manifest(spark, path)["deltas"] != []
    L.compact_zordered(spark, path)          # default: incremental
    after = L.read_manifest(spark, path)
    assert after["spec"] == before["spec"]   # no rebin
    assert after["deltas"] == []
    dirtied = {k for k, g in after["gens"].items()
               if before["gens"].get(k) != g}
    clean = set(after["gens"]) - dirtied
    assert dirtied and clean, (dirtied, clean)  # partial rewrite happened
    # untouched buckets: same gen AND same files, byte-level untouched
    for f, t in mtimes_before.items():
        b = f.split("zbucket=")[1].split("/")[0]
        if b in clean:
            assert os.path.getmtime(f) == t, f
    # live rows equal base + delta exactly
    want = sorted((r.a, r.b, r.payload) for r in
                  base.unionByName(extra).collect())
    got = sorted((r.a, r.b, r.payload) for r in
                 L.read_zordered(spark, path).collect())
    assert got == want
    # the outlier (2000, 1500) clamped into the edge bucket: a box
    # covering it must return it through the pruned read
    got_box = sorted((r.a, r.b, r.payload) for r in
                     L.read_zordered_box(spark, path, 1900, 2100,
                                         1400, 1600).collect())
    assert got_box == [(2000, 1500, 90003)]
    # and equality with a full rebuild of the same content
    path2 = str(tmp_path / "z_full")
    L.write_zordered(base.unionByName(extra), path2, "a", "b",
                     bits=7, bucket_bits=4,
                     bounds={k: before["spec"][k]
                             for k in ("a_lo", "a_hi", "b_lo", "b_hi")})
    got2 = sorted((r.a, r.b, r.payload) for r in
                  L.read_zordered(spark, path2).collect())
    assert got2 == want
    assert fsio.list_names(spark, fsio._join(path, L.DELTA_DIR)) == []


def test_zorder_lifecycle_on_schemed_path_no_posix_io(spark, tmp_path):
    """The verdict-driven contract: the whole write→append→compact→
    read lifecycle must run against a ``file://``-prefixed URI — every
    metadata/bookkeeping touch goes through the Hadoop FileSystem
    (fsio), none through bare open()/os.listdir/shutil, or this test
    dies on the scheme prefix exactly the way it would on hdfs://."""
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_frame(spark)
    path = "file://" + str(tmp_path / "z_schemed")
    spec = L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    extra = spark.createDataFrame([(10, 10, 777)],
                                  "a long, b long, payload long")
    L.append_zordered(extra, path)
    box = (0, 50, 0, 50)
    got = sorted((r.a, r.b, r.payload) for r in
                 L.read_zordered_box_with_delta(spark, path, *box)
                 .collect())
    want = sorted((r.a, r.b, r.payload) for r in
                  base.unionByName(extra).where(
                      (F.col("a").between(*box[:2]))
                      & (F.col("b").between(*box[2:]))).collect())
    assert got == want
    L.compact_zordered(spark, path)
    got2 = sorted((r.a, r.b, r.payload) for r in
                  L.read_zordered_box(spark, path, *box).collect())
    assert got2 == want
    assert spec["bucket_bits"] == 4


def test_zbuckets_superset_property_hypothesis():
    """Property pin for the planner's core guarantee, randomized over
    bit widths, odd/even bucket splits, shifted/negative bounds, and
    arbitrary boxes: every bucket a box's rows can land in is in the
    planned list (pure Python — no Spark, so hypothesis can hammer
    it)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from aggregation_duckdb_spark.sources.layout import zbuckets_for_box

    def interleave_py(a, b, bits):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    @settings(max_examples=200, deadline=None)
    @given(data=st.data())
    def run(data):
        bits = data.draw(st.integers(2, 8))
        kb = data.draw(st.integers(1, 2 * bits))
        a_lo = data.draw(st.integers(-500, 500))
        a_hi = a_lo + data.draw(st.integers(0, 1000))
        b_lo = data.draw(st.integers(-500, 500))
        b_hi = b_lo + data.draw(st.integers(0, 1000))
        spec = {"bits": bits, "bucket_bits": kb,
                "a_lo": a_lo, "a_hi": a_hi, "b_lo": b_lo, "b_hi": b_hi}
        qa_lo = data.draw(st.integers(a_lo - 50, a_hi + 50))
        qa_hi = qa_lo + data.draw(st.integers(0, 200))
        qb_lo = data.draw(st.integers(b_lo - 50, b_hi + 50))
        qb_hi = qb_lo + data.draw(st.integers(0, 200))
        planned = set(zbuckets_for_box(spec, qa_lo, qa_hi, qb_lo, qb_hi))
        n = 1 << bits

        def to_bin(v, lo, hi):
            return max(0, min(n - 1, ((v - lo) * n) // (hi - lo + 1)))
        # sample rows inside the box (edges + interior) and check
        # each one's actual bucket was planned
        for av in {qa_lo, qa_hi, (qa_lo + qa_hi) // 2}:
            for bv in {qb_lo, qb_hi, (qb_lo + qb_hi) // 2}:
                z = interleave_py(to_bin(av, a_lo, a_hi),
                                  to_bin(bv, b_lo, b_hi), bits)
                assert (z >> (2 * bits - kb)) in planned, \
                    (spec, (qa_lo, qa_hi, qb_lo, qb_hi), av, bv)
    run()


def test_manifest_versions_ignore_torn_and_stale_writers(spark, tmp_path):
    """The fsio commit contract under crashes: an unrenamed temp file
    (writer died mid-commit) is invisible; readers take the highest
    COMPLETE version; pruning keeps the newest; a lost rename race
    raises instead of silently clobbering."""
    from aggregation_duckdb_spark import fsio
    mdir = "file://" + str(tmp_path / "_manifest")
    fsio.write_json_version(spark, mdir, {"v": 1})
    fsio.write_json_version(spark, mdir, {"v": 2})
    # simulate a crashed writer: a torn temp file left behind
    fsio.write_json(spark, fsio._join(mdir, ".tmp-deadbeef"), {"v": 99})
    # and some junk that must not parse as a version
    fsio.write_text(spark, fsio._join(mdir, "README"), "not a version")
    assert fsio.read_json_latest(spark, mdir) == {"v": 2}
    assert fsio.latest_version(spark, mdir) == 2
    fsio.write_json_version(spark, mdir, {"v": 3})
    assert fsio.read_json_latest(spark, mdir) == {"v": 3}
    fsio.prune_versions(spark, mdir, keep=1)
    names = fsio.list_names(spark, mdir)
    assert "v00000003.json" in names and "v00000001.json" not in names


def test_zorder_upsert_replaces_inserts_and_stays_per_bucket(spark,
                                                             tmp_path):
    """MERGE semantics on the layered table: same-key rows replaced,
    new keys inserted, untouched buckets' generations physically
    untouched, outstanding deltas folded, box reads row-exact."""
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_frame(spark).withColumn(
        "tag", F.lit("orig"))
    path = str(tmp_path / "z_upsert")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    before = L.read_manifest(spark, path)

    # keys 0..49 updated in place (same a/b layout dims, new payload
    # tag); keys 100000+ brand new, in a tight corner
    upd = base.where(F.col("payload") < 50).withColumn(
        "tag", F.lit("upserted"))
    new = spark.range(100_000, 100_020).select(
        (F.col("id") % 7).alias("a"), (F.col("id") % 5).alias("b"),
        F.col("id").alias("payload"), F.lit("inserted").alias("tag"))
    L.upsert_zordered(upd.unionByName(new), path, ["payload"])

    after = L.read_manifest(spark, path)
    dirtied = {k for k, g in after["gens"].items()
               if before["gens"].get(k) != g}
    assert dirtied and len(dirtied) < len(after["gens"])  # per-bucket

    got = {r.payload: r.tag for r in L.read_zordered(spark, path).collect()}
    assert len(got) == 8000 + 20
    assert got[0] == "upserted" and got[49] == "upserted"
    assert got[50] == "orig" and got[100_005] == "inserted"
    # box read over an upserted corner stays row-exact
    want = sorted(
        (r.a, r.b, r.payload, r.tag) for r in
        base.where(F.col("payload") >= 50).unionByName(upd)
            .unionByName(new)
            .where((F.col("a").between(0, 10)) & (F.col("b").between(0, 10)))
            .collect())
    got_box = sorted(
        (r.a, r.b, r.payload, r.tag) for r in
        L.read_zordered_box(spark, path, 0, 10, 0, 10).collect())
    assert got_box == want

    # an outstanding delta folds into the upsert's commit, row-exactly
    late = new.where(F.col("payload") == 100_000).withColumn(
        "payload", F.lit(200_000).cast("long"))
    L.append_zordered(late, path)
    cols = ["a", "b", "payload", "tag"]
    prior = [tuple(r) for r in
             L.read_zordered(spark, path).select(*cols).collect()]
    again = upd.withColumn("tag", F.lit("again"))
    L.upsert_zordered(again, path, ["payload"])
    assert L.read_manifest(spark, path)["deltas"] == []
    assert L.table_history(spark, path)[0]["op_metrics"][
        "deltas_folded"] == 1
    want = sorted([t for t in prior if t[2] >= 50]
                  + [tuple(r) for r in again.select(*cols).collect()])
    assert sorted(tuple(r) for r in L.read_zordered(spark, path)
                  .select(*cols).collect()) == want
    assert (5, 0, 200_000, "inserted") in want   # the delta row


def test_zorder_time_travel_and_vacuum(spark, tmp_path):
    """Versioned manifests as snapshots: mutations with vacuum=False
    keep prior versions readable (pinned reads reproduce each state
    exactly, including across an upsert and a compaction); vacuum
    reclaims unreferenced generations and makes reclaimed versions
    fail CLEANLY, never silently partial."""
    import pytest as _pytest
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_frame(spark)
    path = str(tmp_path / "z_tt")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    v1 = L.table_version(spark, path)

    # same keys, same layout dims (the upsert contract) — the point
    # here is the version bump, not the payload change
    upd = base.where(F.col("payload") < 30)
    L.upsert_zordered(upd, path, ["payload"], vacuum=False)
    v2 = L.table_version(spark, path)
    extra = spark.createDataFrame([(3, 3, 777_000)],
                                  "a long, b long, payload long")
    L.append_zordered(extra, path)
    L.compact_zordered(spark, path, vacuum=False)
    v4 = L.table_version(spark, path)
    assert v1 < v2 < v4

    want_v1 = sorted((r.a, r.b, r.payload) for r in base.collect())
    got_v1 = sorted((r.a, r.b, r.payload) for r in
                    L.read_zordered(spark, path, version=v1).collect())
    assert got_v1 == want_v1
    got_v4 = sorted((r.a, r.b, r.payload) for r in
                    L.read_zordered(spark, path).collect())
    assert got_v4 == sorted(want_v1 + [(3, 3, 777_000)])
    # box read against the pinned snapshot excludes the later append
    got_box_v1 = sorted(
        (r.a, r.b, r.payload) for r in
        L.read_zordered_box(spark, path, 0, 10, 0, 10,
                            version=v1).collect())
    assert (3, 3, 777_000) not in got_box_v1

    # DRY RUN first (Delta's VACUUM DRY RUN): same counts, exact
    # would-delete list, NOTHING touched — v1 still readable after
    probe = L.vacuum_zordered(spark, path, keep_versions=1,
                              dry_run=True)
    assert probe["dry_run"] and probe["deleted_gens"] >= 1
    assert len(probe["would_delete"]) >= probe["deleted_gens"]
    assert got_v1 == sorted(
        (r.a, r.b, r.payload) for r in
        L.read_zordered(spark, path, version=v1).collect())

    stats = L.vacuum_zordered(spark, path, keep_versions=1)
    assert stats["deleted_gens"] == probe["deleted_gens"]
    assert "would_delete" not in stats
    with _pytest.raises((ValueError, FileNotFoundError)):
        L.read_manifest(spark, path, version=v1)
    got_after = sorted((r.a, r.b, r.payload) for r in
                       L.read_zordered(spark, path).collect())
    assert got_after == got_v4


def test_zorder_zonemap_skips_correlated_column_buckets(spark, tmp_path):
    """Zone-map data skipping on a NON-layout column: when the
    physical clustering correlates with it (payload = 1000·a here),
    the manifest's per-bucket [min, max] prunes buckets before any
    listing; when it doesn't, everything is kept (conservative) and
    results are still exact. Stats must survive per-bucket upsert
    (dirtied refreshed, clean retained) and remain exact over
    outstanding deltas (scanned with the filter only)."""
    from aggregation_duckdb_spark.sources import layout as L
    df = spark.range(0, 8000).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        ((F.col("id") % 97) * 1000 + F.col("id") % 10).alias("payload"))
    path = str(tmp_path / "z_zm")
    L.write_zordered(df, path, "a", "b", bits=7, bucket_bits=4)
    m = L.read_manifest(spark, path)
    assert m["stats"]  # zone maps recorded
    rng = {"payload": (5_000, 9_000)}        # payload ~ a in [5, 9]
    kept = L.zonemap_buckets(m, rng)
    assert 0 < len(kept) < len(m["gens"]), kept   # real skipping
    want = sorted((r.a, r.b, r.payload) for r in df.where(
        F.col("payload").between(*rng["payload"])).collect())
    got = sorted((r.a, r.b, r.payload) for r in
                 L.read_zordered_where(spark, path, rng)
                 .select("a", "b", "payload").collect())
    assert got == want

    # upsert refreshes only dirtied buckets' stats (one batch row per
    # key — upsert refuses repeated batch keys, as merge does)
    up = df.where(F.col("payload") == 5_000).dropDuplicates(
        ["payload"])  # same key/dims, version bump
    L.upsert_zordered(up.select("a", "b", "payload"), path,
                      ["payload"])
    m2 = L.read_manifest(spark, path)
    assert set(m2["stats"]) == set(m["stats"])   # coverage unchanged
    got2 = sorted((r.a, r.b, r.payload) for r in
                  L.read_zordered_where(spark, path, rng)
                  .select("a", "b", "payload").collect())
    assert got2 == want

    # deltas: no stats, still exact
    extra = spark.createDataFrame([(5, 5, 5_555)],
                                  "a long, b long, payload long")
    L.append_zordered(extra, path)
    got3 = sorted((r.a, r.b, r.payload) for r in
                  L.read_zordered_where(spark, path, rng)
                  .select("a", "b", "payload").collect())
    assert got3 == sorted(want + [(5, 5, 5_555)])


def test_zorder_delete_box_per_bucket_and_empties_drop(spark, tmp_path):
    """Box DELETE: rows inside the box vanish, only planner-bounded
    buckets are rewritten, a fully-emptied bucket leaves the manifest,
    and box reads stay row-exact afterward."""
    import pytest as _pytest
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_frame(spark)
    path = str(tmp_path / "z_del")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    before = L.read_manifest(spark, path)
    box = (0, 120, 0, 80)
    L.delete_zordered_box(spark, path, *box)
    after = L.read_manifest(spark, path)
    changed = {k for k in set(before["gens"]) | set(after["gens"])
               if before["gens"].get(k) != after["gens"].get(k)}
    assert changed and len(changed) < len(before["gens"])  # per-bucket
    want = sorted((r.a, r.b, r.payload) for r in base.where(
        ~((F.col("a").between(*box[:2]))
          & (F.col("b").between(*box[2:])))).collect())
    got = sorted((r.a, r.b, r.payload) for r in
                 L.read_zordered(spark, path).collect())
    assert got == want
    # a read box overlapping the deleted region is exact too
    got_box = sorted((r.a, r.b, r.payload) for r in
                     L.read_zordered_box(spark, path, 0, 200, 0, 200)
                     .collect())
    want_box = [t for t in want if t[0] <= 200 and t[1] <= 200]
    assert got_box == sorted(want_box)
    # deleting EVERYTHING empties the manifest's bucket map
    L.delete_zordered_box(spark, path, -10_000, 10_000, -10_000, 10_000)
    assert L.read_manifest(spark, path)["gens"] == {}
    # deltas are refused
    L2 = str(tmp_path / "z_del2")
    L.write_zordered(base, L2, "a", "b", bits=7, bucket_bits=4)
    L.append_zordered(base.limit(1), L2)
    with _pytest.raises(ValueError, match="compact_zordered"):
        L.delete_zordered_box(spark, L2, 0, 1, 0, 1)


def test_vacuum_min_live_marker_is_monotonic(spark, tmp_path):
    """An eager (vacuum=True) mutation advances the min-live marker;
    a later vacuum_zordered(keep_versions>1) computes a LOWER kept[0]
    (the old manifest file still exists) — the marker must not move
    backward, or a time-travel read of the already-reclaimed snapshot
    would pass the guard and silently return partial rows."""
    import pytest as _pytest
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_frame(spark)
    path = str(tmp_path / "z_mono")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    # eager upsert: v2 commits, v1's dirtied generations are DELETED
    # and the marker advances to 2
    upd = base.where(F.col("payload") < 30)
    L.upsert_zordered(upd, path, ["payload"], vacuum=True)
    assert L._min_live_version(spark, path) == 2
    # keep_versions larger than history: kept[0] == 1 < marker
    L.vacuum_zordered(spark, path, keep_versions=10)
    assert L._min_live_version(spark, path) == 2   # monotonic
    with _pytest.raises(ValueError, match="vacuumed"):
        L.read_zordered(spark, path, version=1)


def test_fsio_local_fallback_rename_refuses_existing_destination(
        tmp_path, monkeypatch):
    """The no-gateway (Spark Connect) fallback must keep the HDFS
    rename contract — fail when the destination exists — or two racing
    manifest committers would both 'succeed' and a version would be
    silently lost."""
    import pytest as _pytest
    from aggregation_duckdb_spark import fsio
    a, c, dst = (str(tmp_path / n) for n in ("a.txt", "c.txt", "d.txt"))
    fsio.write_bytes(None, a, b"one")        # spark=None: no gateway
    fsio.write_bytes(None, c, b"three")
    assert fsio.rename(None, a, dst) is True
    assert fsio.rename(None, c, dst) is False     # dst exists: refuse
    assert fsio.read_bytes(None, dst) == b"one"   # and is untouched
    assert fsio.read_bytes(None, c) == b"three"   # src not consumed

    # the committer-level contract: two writers racing for the same
    # version name -> exactly one succeeds, the other raises
    mdir = str(tmp_path / "m")
    fsio.write_json_version(None, mdir, {"x": 1})
    monkeypatch.setattr(fsio, "latest_version", lambda s, d: 0)
    with _pytest.raises(RuntimeError, match="rename race"):
        fsio.write_json_version(None, mdir, {"x": 2})
    monkeypatch.undo()
    assert fsio.read_json_latest(None, mdir) == {"x": 1}


def test_fsio_local_path_authority_and_bare_filenames(
        tmp_path, monkeypatch):
    """file:// URIs with an authority: empty and localhost are local,
    any other host is a reach this fallback doesn't have (raise, never
    treat 'host/path' as a relative path). Bare filenames (no parent
    directory) must write without a makedirs('') crash."""
    import pytest as _pytest
    from aggregation_duckdb_spark import fsio
    assert fsio._local_path("file:///x/y") == "/x/y"
    assert fsio._local_path("file://localhost/x/y") == "/x/y"
    assert fsio._local_path("file:/x/y") == "/x/y"
    with _pytest.raises(NotImplementedError, match="authority"):
        fsio._local_path("file://nas01/x/y")
    monkeypatch.chdir(tmp_path)
    fsio.write_bytes(None, "bare.txt", b"ok")
    assert fsio.read_bytes(None, "bare.txt") == b"ok"


def test_zonemap_accepts_date_bounds(spark, tmp_path):
    """Zone-map stats serialize dates as isoformat strings in the JSON
    manifest; a query range given as datetime.date objects must still
    plan (string-vs-string comparison, same order) instead of raising
    TypeError — and results stay exact."""
    import datetime
    from aggregation_duckdb_spark.sources import layout as L
    df = spark.range(0, 4000).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        F.date_add(F.lit(datetime.date(1995, 1, 1)),
                   (F.col("id") % 97).cast("int") * 7).alias("d"))
    path = str(tmp_path / "z_dates")
    L.write_zordered(df, path, "a", "b", bits=7, bucket_bits=4)
    m = L.read_manifest(spark, path)
    rng = {"d": (datetime.date(1995, 3, 1), datetime.date(1995, 6, 1))}
    kept = L.zonemap_buckets(m, rng)          # no TypeError
    assert 0 < len(kept) <= len(m["gens"])
    want = sorted((r.a, r.b, r.d) for r in df.where(
        F.col("d").between(*rng["d"])).collect())
    got = sorted((r.a, r.b, r.d) for r in
                 L.read_zordered_where(spark, path, rng)
                 .select("a", "b", "d").collect())
    assert got == want


def test_read_zordered_where_schema_stable_across_deltas(spark, tmp_path):
    """Same call, same schema, regardless of table state: internal
    layout columns (zbucket, gen) never leak from read_zordered_where,
    with or without outstanding delta batches."""
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_frame(spark)
    path = str(tmp_path / "z_schema")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    rng = {"payload": (0, 1_000_000)}
    cols_clean = L.read_zordered_where(spark, path, rng).columns
    assert "zbucket" not in cols_clean and "gen" not in cols_clean
    L.append_zordered(base.limit(3), path)
    cols_delta = L.read_zordered_where(spark, path, rng).columns
    assert cols_delta == cols_clean


def _zorder3_frame(spark):
    return spark.range(0, 8000).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        ((F.col("id") * 11) % 43).alias("c"),
        F.col("id").alias("payload"))


def test_zorder_nd_box_read_equals_full_scan_filter(spark, tmp_path):
    """3-D layout: a box over all three dimensions reads row-identical
    to a full-scan filter, and the planner's candidate list is a
    strict subset of the bucket space (real pruning). The full verb
    set (append / incremental compact / upsert / zone-map read) keeps
    working on the dims-shaped spec."""
    from aggregation_duckdb_spark.sources import layout as L
    df = _zorder3_frame(spark)
    path = str(tmp_path / "z_3d")
    spec = L.write_zordered_nd(df, path, ["a", "b", "c"],
                               bits=6, bucket_bits=6)
    assert "dims" in spec and len(spec["dims"]) == 3
    box = {"a": (10, 40), "b": (5, 30), "c": (0, 20)}
    planned = L.zbuckets_for_ranges(spec, box)
    assert 0 < len(planned) < (1 << spec["bucket_bits"])
    want = sorted(
        (r.a, r.b, r.c, r.payload) for r in
        df.where(F.col("a").between(*box["a"])
                 & F.col("b").between(*box["b"])
                 & F.col("c").between(*box["c"])).collect())
    got = sorted((r.a, r.b, r.c, r.payload) for r in
                 L.read_zordered_box_nd(spark, path, box).collect())
    assert got == want
    # a partial box (one dim unconstrained) is exact too
    part = {"a": (10, 40), "c": (0, 20)}
    want_p = sorted(
        (r.a, r.b, r.c, r.payload) for r in
        df.where(F.col("a").between(*part["a"])
                 & F.col("c").between(*part["c"])).collect())
    got_p = sorted((r.a, r.b, r.c, r.payload) for r in
                   L.read_zordered_box_nd(spark, path, part).collect())
    assert got_p == want_p
    # lifecycle on the N-D spec: append -> compact -> upsert
    extra = spark.createDataFrame([(3, 3, 3, 999_001)],
                                  "a long, b long, c long, payload long")
    L.append_zordered(extra, path)
    L.compact_zordered(spark, path)           # incremental
    upd = spark.createDataFrame([(3, 3, 3, 999_001)],
                                "a long, b long, c long, payload long")
    L.upsert_zordered(upd, path, ["payload"])
    got_all = sorted((r.a, r.b, r.c, r.payload) for r in
                     L.read_zordered(spark, path).collect())
    want_all = sorted([(r.a, r.b, r.c, r.payload)
                       for r in df.collect()] + [(3, 3, 3, 999_001)])
    assert got_all == want_all


def test_zbuckets_nd_superset_property_hypothesis():
    """The N-D planning guarantee, brute-forced in pure Python: for
    arbitrary 3-D boxes, every bucket a box's rows can land in is in
    the planned list."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from aggregation_duckdb_spark.sources.layout import zbuckets_for_ranges

    def interleave_py(vals, bits):
        k = len(vals)
        z = 0
        for i in range(bits):
            for d, v in enumerate(vals):
                z |= ((v >> i) & 1) << (i * k + d)
        return z

    @settings(max_examples=150, deadline=None)
    @given(data=st.data())
    def run(data):
        bits = data.draw(st.integers(2, 6))
        kb = data.draw(st.integers(1, 3 * bits))
        dims = []
        q = {}
        for name in ("x", "y", "w"):
            lo = data.draw(st.integers(-300, 300))
            hi = lo + data.draw(st.integers(0, 600))
            dims.append([name, lo, hi])
            qlo = data.draw(st.integers(lo - 30, hi + 30))
            q[name] = (qlo, qlo + data.draw(st.integers(0, 120)))
        spec = {"dims": dims, "bits": bits, "bucket_bits": kb}
        planned = set(zbuckets_for_ranges(spec, q))
        n = 1 << bits

        def to_bin(v, lo, hi):
            return max(0, min(n - 1, ((v - lo) * n) // (hi - lo + 1)))
        probes = []
        for name, lo, hi in dims:
            qlo, qhi = q[name]
            probes.append([to_bin(v, lo, hi)
                           for v in {qlo, qhi, (qlo + qhi) // 2}])
        for xv in probes[0]:
            for yv in probes[1]:
                for wv in probes[2]:
                    z = interleave_py([xv, yv, wv], bits)
                    assert (z >> (3 * bits - kb)) in planned, \
                        (spec, q, xv, yv, wv)
    run()


def test_zorder_delete_keys_tombstones_then_fold(spark, tmp_path):
    """Key-based (GDPR-style) DELETE: delete_zordered_keys appends a
    tombstone batch without rewriting any data; every read verb hides
    the keys immediately (main area AND outstanding deltas); the next
    compaction physically removes them — rewriting ONLY the buckets
    that actually held victims — and clears the tombstone queue."""
    import pytest as _pytest
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_frame(spark)
    path = str(tmp_path / "z_keys")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    before = L.read_manifest(spark, path)

    victims = base.where(F.col("payload") % 117 == 5).select("payload")
    n_victims = victims.count()
    assert n_victims > 0
    L.delete_zordered_keys(victims, path, ["payload"])

    # delete time: NO data rewrite — every (bucket, gen) unchanged
    m_after_del = L.read_manifest(spark, path)
    assert m_after_del["gens"] == before["gens"]
    assert m_after_del["tombstones"] and \
        m_after_del["tombstone_key"] == ["payload"]

    want = sorted((r.a, r.b, r.payload) for r in base.where(
        F.col("payload") % 117 != 5).collect())
    got = sorted((r.a, r.b, r.payload) for r in
                 L.read_zordered(spark, path).collect())
    assert got == want                       # hidden immediately
    # box and zone-map reads hide them too
    got_box = sorted((r.a, r.b, r.payload) for r in
                     L.read_zordered_box(spark, path, 0, 400, 0, 300)
                     .collect())
    assert got_box == [t for t in want if t[0] <= 400 and t[1] <= 300]
    got_zm = sorted(
        (r.a, r.b, r.payload) for r in
        L.read_zordered_where(spark, path, {"payload": (0, 10_000)})
        .select("a", "b", "payload").collect())
    assert got_zm == [t for t in want if t[2] <= 10_000]

    # a delta appended AFTER the delete: its tombstoned rows are
    # hidden as well (delete wins until the fold)
    extra = spark.createDataFrame([(1, 1, 5), (2, 2, 900_001)],
                                  "a long, b long, payload long")
    L.append_zordered(extra, path)
    got_d = sorted((r.a, r.b, r.payload) for r in
                   L.read_zordered_box_with_delta(
                       spark, path, 0, 2000, 0, 2000).collect())
    assert (1, 1, 5) not in got_d and (2, 2, 900_001) in got_d

    # an upsert keyed differently from the outstanding tombstones
    # refuses (compact first)
    with _pytest.raises(ValueError, match="compact_zordered"):
        L.upsert_zordered(base.limit(1), path, ["a"])

    # the fold: only victim/delta buckets rewritten, queues cleared
    L.compact_zordered(spark, path)
    m2 = L.read_manifest(spark, path)
    assert not m2.get("tombstones") and "tombstone_key" not in m2
    changed = {k for k in set(before["gens"]) | set(m2["gens"])
               if before["gens"].get(k) != m2["gens"].get(k)}
    # victims are spread but the rewrite is still bucket-bounded
    assert changed and len(changed) <= len(before["gens"])
    got2 = sorted((r.a, r.b, r.payload) for r in
                  L.read_zordered(spark, path).collect())
    assert got2 == sorted(want + [(2, 2, 900_001)])
    # tombstone directories are gone from disk after the eager fold
    assert fsio.list_names(spark, fsio._join(path, L.TOMBSTONE_DIR)) == []

    # a SECOND delete with a different key set raises until compacted
    L.delete_zordered_keys(
        spark.createDataFrame([(2,)], "a long"), path, ["a"])
    with _pytest.raises(ValueError, match="outstanding tombstones"):
        L.delete_zordered_keys(
            spark.createDataFrame([(3,)], "payload long"),
            path, ["payload"])


def test_zorder_delete_keys_rewrites_only_victim_buckets(spark, tmp_path):
    """The scale contract: folding a key-delete rewrites exactly the
    buckets that held victim rows — clean buckets keep their old
    generation directories byte-for-byte."""
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_frame(spark)
    path = str(tmp_path / "z_keybound")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    before = L.read_manifest(spark, path)
    # victims confined to one corner of the (a, b) space -> few buckets
    victims = base.where((F.col("a") < 40) & (F.col("b") < 30)) \
        .select("payload")
    assert victims.count() > 0
    expected_victim_buckets = {
        str(r[0]) for r in
        L.read_zordered(spark, path)
        .join(victims, "payload", "semi")
        .select("zbucket").distinct().collect()}
    L.delete_zordered_keys(victims, path, ["payload"])
    L.compact_zordered(spark, path)
    after = L.read_manifest(spark, path)
    changed = {k for k in set(before["gens"]) | set(after["gens"])
               if before["gens"].get(k) != after["gens"].get(k)}
    assert changed == expected_victim_buckets
    assert len(changed) < len(before["gens"])   # strictly bounded


def test_zorder_delete_keys_no_match_clears_cleanly(spark, tmp_path):
    """A tombstone batch that matches NOTHING must fold away without
    rewriting any bucket, corrupting the manifest, or leaving the
    queue uncleared."""
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_frame(spark)
    path = str(tmp_path / "z_nomatch")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    before = L.read_manifest(spark, path)
    ghosts = spark.createDataFrame([(10**12,), (10**12 + 1,)],
                                   "payload long")
    L.delete_zordered_keys(ghosts, path, ["payload"])
    assert L.read_zordered(spark, path).count() == base.count()
    L.compact_zordered(spark, path)
    after = L.read_manifest(spark, path)
    assert not after.get("tombstones") and "tombstone_key" not in after
    assert after["gens"] == before["gens"]      # zero buckets rewritten
    assert L.read_zordered(spark, path).count() == base.count()


def test_zorder_nd_zonemap_and_box_delete(spark, tmp_path):
    """The dims-shaped (N-D) spec drives the SAME verb set: zone-map
    reads on a non-layout column and the 2-D box DELETE (binding the
    first two dims) stay row-exact on a 3-D table."""
    from aggregation_duckdb_spark.sources import layout as L
    df = spark.range(0, 8000).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        ((F.col("id") * 11) % 43).alias("c"),
        ((F.col("id") % 97) * 1000 + F.col("id") % 10).alias("payload"))
    path = str(tmp_path / "z_nd_verbs")
    L.write_zordered_nd(df, path, ["a", "b", "c"], bits=6, bucket_bits=6)
    m = L.read_manifest(spark, path)
    assert m["stats"]                      # zone maps on the N-D spec
    rng = {"payload": (5_000, 9_000)}
    kept = L.zonemap_buckets(m, rng)
    assert 0 < len(kept) < len(m["gens"])  # real skipping, 3-D layout
    want = sorted((r.a, r.b, r.c, r.payload) for r in df.where(
        F.col("payload").between(*rng["payload"])).collect())
    got = sorted((r.a, r.b, r.c, r.payload) for r in
                 L.read_zordered_where(spark, path, rng)
                 .select("a", "b", "c", "payload").collect())
    assert got == want
    # box DELETE binds the first two dims; c unconstrained
    L.delete_zordered_box(spark, path, 0, 30, 0, 20)
    want2 = sorted((r.a, r.b, r.c, r.payload) for r in df.where(
        ~((F.col("a").between(0, 30)) & (F.col("b").between(0, 20))))
        .collect())
    got2 = sorted((r.a, r.b, r.c, r.payload) for r in
                  L.read_zordered(spark, path).collect())
    assert got2 == want2
    # and tombstone key-delete on the N-D table folds per-bucket;
    # payload is NOT unique here, so the delete removes EVERY row
    # carrying a victim key value (the key-delete contract)
    victims = df.where((F.col("a") < 10) & (F.col("b") > 25)
                       & (F.col("c") < 15)).select("payload")
    victim_vals = {r[0] for r in victims.distinct().collect()}
    assert victim_vals
    L.delete_zordered_keys(victims, path, ["payload"])
    L.compact_zordered(spark, path)
    want3 = [t for t in want2 if t[3] not in victim_vals]
    got3 = sorted((r.a, r.b, r.c, r.payload) for r in
                  L.read_zordered(spark, path).collect())
    assert got3 == want3


def test_zorder_tombstones_respect_time_travel(spark, tmp_path):
    """Tombstones are manifest state, so they are VERSIONED like
    everything else: a snapshot pinned BEFORE the delete commit still
    shows the deleted keys; the post-delete snapshot hides them; a
    history-preserving vacuum keeps live tombstone batches; and a
    cached manifest text cannot resurrect a vacuumed version (the
    min-live guard fires before any cache lookup)."""
    import pytest as _pytest
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_frame(spark)
    path = str(tmp_path / "z_tt_keys")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    v1 = L.table_version(spark, path)
    victims = base.where(F.col("payload") % 211 == 7).select("payload")
    n_victims = victims.count()
    assert n_victims > 0
    L.delete_zordered_keys(victims, path, ["payload"])
    v2 = L.table_version(spark, path)
    assert v2 == v1 + 1

    # pre-delete snapshot: keys visible; post-delete: hidden
    assert L.read_zordered(spark, path, version=v1).count() == base.count()
    assert L.read_zordered(spark, path, version=v2).count() \
        == base.count() - n_victims

    # history-preserving vacuum keeps the tombstone batch alive
    # (v2 references it), and both snapshots keep answering
    stats = L.vacuum_zordered(spark, path, keep_versions=2)
    assert stats["deleted_tombstones"] == 0
    assert L.read_zordered(spark, path, version=v1).count() == base.count()
    assert L.read_zordered(spark, path, version=v2).count() \
        == base.count() - n_victims

    # fold, then vacuum down to the folded snapshot: the tombstone
    # batch is reclaimed and the pre-fold versions fail CLEANLY even
    # though their manifest text may still sit in the session cache
    L.read_manifest(spark, path, version=v2)   # warm the cache
    L.compact_zordered(spark, path)
    L.vacuum_zordered(spark, path, keep_versions=1)
    from aggregation_duckdb_spark import fsio
    assert fsio.list_names(spark, fsio._join(path, L.TOMBSTONE_DIR)) == []
    with _pytest.raises(ValueError, match="vacuumed"):
        L.read_manifest(spark, path, version=v2)
    assert L.read_zordered(spark, path).count() == base.count() - n_victims


def test_optimize_zordered_rewrites_only_fragmented_buckets(
        spark, tmp_path):
    """Standalone small-file compaction (the Delta OPTIMIZE half,
    distinct from delta folding): only buckets holding more files
    than the target are rewritten; data stays row-exact; a second
    pass is a no-op; healthy buckets keep their generations."""
    import pytest as _pytest
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L

    def files_per_bucket(path, m):
        out = {}
        for k, g in m["gens"].items():
            d = fsio._join(path, L.DATA_DIR, f"zbucket={k}", f"gen={g}")
            out[k] = sum(1 for nm in fsio.list_names(spark, d)
                         if nm.endswith(".parquet"))
        return out

    base = _zorder_frame(spark)
    path = str(tmp_path / "z_opt")
    # sf-scale data all coalesces into one task under AQE, which
    # defeats the salt; disable coalescing for the BUILD so the
    # bucket dirs are genuinely fragmented, as they would be at scale
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key)
    try:
        spark.conf.set(coalesce_key, "false")
        L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4,
                         files_per_bucket=8)
    finally:
        spark.conf.set(coalesce_key, prev)
    m0 = L.read_manifest(spark, path)
    assert max(files_per_bucket(path, m0).values()) > 1  # fragmented
    want = sorted((r.a, r.b, r.payload) for r in base.collect())

    res = L.optimize_zordered(spark, path, files_per_bucket=1)
    assert res["buckets_rewritten"] == len(m0["gens"])
    m1 = L.read_manifest(spark, path)
    assert max(files_per_bucket(path, m1).values()) == 1  # packed
    got = sorted((r.a, r.b, r.payload) for r in
                 L.read_zordered(spark, path).collect())
    assert got == want
    # second pass: nothing above target, nothing rewritten
    res2 = L.optimize_zordered(spark, path, files_per_bucket=1)
    assert res2["buckets_rewritten"] == 0
    assert L.read_manifest(spark, path)["gens"] == m1["gens"]

    # fragment a SUBSET via a corner upsert at files_per_bucket=8:
    # only those buckets exceed the target, only those get rewritten
    up = (base.where((F.col("a") < 40) & (F.col("b") < 30))
          .withColumn("payload", F.col("payload")))
    try:
        spark.conf.set(coalesce_key, "false")
        L.upsert_zordered(up, path, ["payload"], files_per_bucket=8)
    finally:
        spark.conf.set(coalesce_key, prev)
    m2 = L.read_manifest(spark, path)
    frag = {k for k, n in files_per_bucket(path, m2).items() if n > 1}
    assert 0 < len(frag) < len(m2["gens"])
    res3 = L.optimize_zordered(spark, path, files_per_bucket=1)
    assert res3["buckets_rewritten"] == len(frag)
    m3 = L.read_manifest(spark, path)
    untouched = {k for k in m2["gens"] if k not in frag}
    assert all(m3["gens"][k] == m2["gens"][k] for k in untouched)
    got3 = sorted((r.a, r.b, r.payload) for r in
                  L.read_zordered(spark, path).collect())
    assert got3 == want
    # refuses over outstanding queues, like every structural rewrite
    L.append_zordered(base.limit(1), path)
    with _pytest.raises(ValueError, match="compact_zordered"):
        L.optimize_zordered(spark, path)


def test_zorder_table_history_records_operations(spark, tmp_path):
    """Every manifest commit is stamped with its operation, and
    table_history reads the retained lineage newest-first — the
    DESCRIBE HISTORY analogue; vacuum prunes it by design."""
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_frame(spark)
    path = str(tmp_path / "z_hist")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    L.append_zordered(base.limit(5), path)
    L.compact_zordered(spark, path, vacuum=False)
    L.upsert_zordered(base.limit(3), path, ["payload"], vacuum=False)
    L.delete_zordered_keys(
        base.limit(2).select("payload"), path, ["payload"])
    hist = L.table_history(spark, path)
    assert [h["op"] for h in hist] == [
        "delete_keys", "upsert", "compact_incremental", "append",
        "write"]
    assert hist[0]["tombstones"] == 1 and hist[1]["tombstones"] == 0
    assert hist[3]["deltas"] == 1 and hist[2]["deltas"] == 0
    assert [h["version"] for h in hist] == [5, 4, 3, 2, 1]
    # every commit carries its operation metrics (the DESCRIBE
    # HISTORY operationMetrics analogue) — values the verbs already
    # had at hand, no extra jobs beyond footer counts
    m = {h["op"]: h["op_metrics"] for h in hist}
    n0 = base.count()
    assert m["write"]["rows_written"] == n0
    assert m["write"]["buckets_rewritten"] >= 1
    assert m["append"]["rows_appended"] == 5
    assert m["compact_incremental"]["deltas_folded"] == 1
    assert m["upsert"]["buckets_rewritten"] >= 1
    assert m["upsert"]["rows_written"] >= 3
    assert m["delete_keys"]["keys_tombstoned"] == 2
    # vacuum prunes history to the kept tail
    L.compact_zordered(spark, path)           # fold tombstones first
    L.vacuum_zordered(spark, path, keep_versions=1)
    hist2 = L.table_history(spark, path)
    assert len(hist2) == 1 and hist2[0]["op"] == "compact_incremental"


def _zorder_kv_frame(spark):
    """(a, b, payload, val): payload is the entity key, val observes
    replacement."""
    return spark.range(0, 400).select(
        (F.col("id") % 97).alias("a"),
        ((F.col("id") * 37) % 61).alias("b"),
        F.col("id").alias("payload"),
        (F.col("id") * 10).alias("val"))


def test_concurrent_append_and_delete_keys_both_land(
        spark, tmp_path, monkeypatch):
    """Optimistic concurrency, the mergeable case: a delete_keys
    commits BETWEEN an append's base read and its commit — the append
    targets base+1 specifically, collides, rebases onto the delete's
    manifest, and both mutations land with consecutive versions and
    both effects visible."""
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    path = str(tmp_path / "z_cc_merge")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)  # v1
    extra = spark.range(1000, 1010).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        F.col("id").alias("payload"), (F.col("id") * 10).alias("val"))
    victims = base.where(F.col("payload") < 5).select("payload")

    real = fsio.write_json_at
    fired = {}

    def inject(spk, mdir, obj, version):
        if obj.get("op") == "append" and "x" not in fired:
            fired["x"] = True
            # the second committer lands between the appender's base
            # read and its commit attempt
            L.delete_zordered_keys(victims, path, ["payload"])
        return real(spk, mdir, obj, version)

    monkeypatch.setattr(fsio, "write_json_at", inject)
    L.append_zordered(extra, path)
    monkeypatch.undo()

    assert L.table_version(spark, path) == 3
    assert [h["op"] for h in L.table_history(spark, path)] == [
        "append", "delete_keys", "write"]
    got = {r.payload for r in L.read_zordered(spark, path).collect()}
    assert {1000, 1005} <= got          # the append landed
    assert got.isdisjoint({0, 1, 4})    # and so did the delete


@_pytest.mark.parametrize(
    "verb", ["upsert", "merge", "optimize", "delete_box"])
def test_conflicting_bucket_rewrites_raise_cleanly(
        spark, tmp_path, monkeypatch, verb):
    """Optimistic concurrency, the true-conflict case, for every verb
    that commits through the shared bucket-rewrite engine: a
    concurrent upsert rewrites a bucket the loser also rewrites — the
    loser's rebase sees that bucket's generation changed and raises
    CommitConflict naming the competing operation; the winner's state
    is untouched."""
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    path = str(tmp_path / "z_cc_conflict")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)  # v1
    mine = base.where(F.col("payload") < 10) \
        .withColumn("val", F.lit(-1).cast("long"))
    theirs = base.where(F.col("payload") < 10) \
        .withColumn("val", F.lit(-2).cast("long"))
    lose = {
        "upsert": lambda: L.upsert_zordered(mine, path, ["payload"]),
        "merge": lambda: L.merge_zordered(
            mine, path, ["payload"], when_matched_update={"val": "s.val"}),
        # min_files=0: every live bucket counts as fragmented
        "optimize": lambda: L.optimize_zordered(spark, path, min_files=0),
        # a box over the whole table dirties every bucket
        "delete_box": lambda: L.delete_zordered_box(
            spark, path, -10_000, 10_000, -10_000, 10_000),
    }[verb]

    real = fsio.write_json_at
    fired = {}

    def inject(spk, mdir, obj, version):
        if obj.get("op") == verb and "x" not in fired:
            fired["x"] = True
            L.upsert_zordered(theirs, path, ["payload"])
        return real(spk, mdir, obj, version)

    monkeypatch.setattr(fsio, "write_json_at", inject)
    with _pytest.raises(L.CommitConflict, match="'upsert'.*rewrote bucket"):
        lose()
    monkeypatch.undo()

    # the winner's commit is intact and readable
    assert L.table_version(spark, path) == 2
    vals = {r.val for r in L.read_zordered(spark, path)
            .where(F.col("payload") < 10).collect()}
    assert vals == {-2}
    assert L.read_zordered(spark, path).count() == base.count()


def test_upsert_composes_over_outstanding_tombstones(spark, tmp_path):
    """GDPR delete -> re-crawl upsert with no manual compact between:
    the upsert subtracts its keys from the outstanding tombstone set
    in the same commit — re-inserted keys visible immediately, other
    tombstoned keys stay hidden, and the eventual compaction still
    folds the remaining victims physically."""
    import pytest as _pytest
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    path = str(tmp_path / "z_ts_upsert")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    victims = spark.createDataFrame([(3,), (5,), (7,)], "payload long")
    L.delete_zordered_keys(victims, path, ["payload"])
    assert {3, 5, 7}.isdisjoint(
        {r.payload for r in L.read_zordered(spark, path).collect()})

    # a differently-keyed upsert cannot compose — raises, not corrupts
    with _pytest.raises(ValueError, match="tombstones are keyed"):
        L.upsert_zordered(base.limit(1), path, ["a", "b"])

    # re-insert key 5 (same layout dims, per the upsert contract) and
    # a brand-new key in the same batch
    reins = spark.createDataFrame(
        [(5 % 97, (5 * 37) % 61, 5, 5555), (9001 % 97, 13, 9001, 1)],
        "a long, b long, payload long, val long")
    L.upsert_zordered(reins, path, ["payload"])
    rows = {r.payload: r.val for r in L.read_zordered(spark, path).collect()}
    assert rows[5] == 5555 and rows[9001] == 1   # re-inserted + new
    assert 3 not in rows and 7 not in rows       # still deleted
    m = L.read_manifest(spark, path)
    assert len(m["tombstones"]) == 1             # consolidated set

    # compaction folds the remaining victims and clears the queue
    L.compact_zordered(spark, path)
    m2 = L.read_manifest(spark, path)
    assert not m2.get("tombstones") and "tombstone_key" not in m2
    rows2 = {r.payload: r.val for r in L.read_zordered(spark, path).collect()}
    assert rows2 == rows

    # upserting ALL remaining tombstoned keys empties the set outright
    path2 = str(tmp_path / "z_ts_all")
    L.write_zordered(base, path2, "a", "b", bits=7, bucket_bits=4)
    L.delete_zordered_keys(victims, path2, ["payload"])
    allback = base.where(F.col("payload").isin(3, 5, 7)) \
        .withColumn("val", F.lit(0).cast("long"))
    L.upsert_zordered(allback, path2, ["payload"])
    m3 = L.read_manifest(spark, path2)
    assert not m3.get("tombstones") and "tombstone_key" not in m3
    assert {r.payload for r in L.read_zordered(spark, path2)
            .where(F.col("payload").isin(3, 5, 7)).collect()} == {3, 5, 7}


def test_fsio_write_json_at_is_exclusive_and_linkless_fallback(
        tmp_path, monkeypatch):
    """write_json_at commits at EXACTLY the requested version
    (collision if taken); the local rename fallback keeps its
    no-replace contract even on filesystems without hard links
    (os.link raising EPERM/ENOTSUP falls back to an O_CREAT|O_EXCL
    reservation, still refusing an existing destination)."""
    import pytest as _pytest
    from aggregation_duckdb_spark import fsio
    mdir = str(tmp_path / "m")
    fsio.write_json_at(None, mdir, {"x": 1}, 1)
    with _pytest.raises(fsio.CommitCollision):
        fsio.write_json_at(None, mdir, {"x": 2}, 1)
    assert fsio.read_json_latest(None, mdir) == {"x": 1}

    # simulate a mount without hard-link support
    def no_link(src, dst):
        raise OSError(95, "Operation not supported")
    monkeypatch.setattr(fsio.os, "link", no_link)
    a, c, dst = (str(tmp_path / n) for n in ("a.txt", "c.txt", "d.txt"))
    fsio.write_bytes(None, a, b"one")
    fsio.write_bytes(None, c, b"three")
    assert fsio.rename(None, a, dst) is True      # reservation path
    assert fsio.rename(None, c, dst) is False     # dst exists: refuse
    assert fsio.read_bytes(None, dst) == b"one"
    fsio.write_json_at(None, mdir, {"x": 3}, 2)   # commits linklessly
    monkeypatch.undo()
    assert fsio.read_json_latest(None, mdir) == {"x": 3}


def test_zorder_zonemap_string_and_decimal_columns(spark, tmp_path):
    """Zone maps on STRING and DECIMAL columns: strings prune
    lexicographically (UTF-8 byte order == code-point order — the
    same total order both engines use); long strings truncate to a
    prefix with the max widened so pruning stays a superset; decimal
    bounds round OUTWARD to floats so float()'s round-to-nearest can
    never shave the true max/min off a bucket's range."""
    from decimal import Decimal

    from aggregation_duckdb_spark.sources import layout as L
    df = spark.range(0, 4000).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        F.col("id").alias("payload"),
        # tenant correlates with a => buckets have tight string ranges
        F.concat(F.lit("tenant-"),
                 F.lpad(((F.col("id") % 97) / 10).cast("int")
                        .cast("string"), 2, "0")).alias("tenant"),
        (F.col("id").cast("decimal(18,3)") / 7).alias("amt"))
    path = str(tmp_path / "z_zm_str")
    L.write_zordered(df, path, "a", "b", bits=7, bucket_bits=4)
    m = L.read_manifest(spark, path)
    assert any("tenant" in s and "amt" in s for s in m["stats"].values())

    rng = {"tenant": ("tenant-00", "tenant-01")}   # a in [0, 19]
    kept = L.zonemap_buckets(m, rng)
    assert 0 < len(kept) < len(m["gens"]), kept    # real string skipping
    want = sorted((r.payload, r.tenant) for r in df.where(
        F.col("tenant").between(*rng["tenant"])).collect())
    got = sorted((r.payload, r.tenant) for r in
                 L.read_zordered_where(spark, path, rng)
                 .select("payload", "tenant").collect())
    assert got == want

    # decimal range: superset-of-reachable property must hold exactly
    # even at bucket-boundary values (outward rounding)
    drng = {"amt": (Decimal("100.000"), Decimal("200.000"))}
    want_d = sorted(r.payload for r in df.where(
        F.col("amt").between(*drng["amt"])).collect())
    got_d = sorted(r.payload for r in
                   L.read_zordered_where(spark, path, drng)
                   .select("payload").collect())
    assert got_d == want_d

    # long-string truncation: min prefix + widened max stay bounds
    lo = L._ser_bound("x" * 100, True)
    hi = L._ser_bound("x" * 100 + "zzz", False)
    assert lo <= "x" * 100 and hi >= "x" * 100 + "zzz"
    assert len(lo) == L._STAT_MAX_STR and len(hi) == L._STAT_MAX_STR + 1


def test_zorder_schema_evolution_across_generations(spark, tmp_path):
    """Appending a batch with an ADDED column evolves the table:
    reads union by name with nulls backfilled; an incremental
    compaction folds the union schema into only the dirtied buckets
    (mixed generations on disk), and reads across mixed generations
    still return the evolved schema with old rows' new column null.
    Zone maps for the new column exist only on generations that
    carry it — pruning on it stays a conservative superset."""
    from aggregation_duckdb_spark.sources import layout as L
    base = spark.range(0, 2000).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        F.col("id").alias("payload"))
    path = str(tmp_path / "z_evolve")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)

    # delta carries a NEW column; routed to few buckets so the fold
    # leaves most generations on the old schema
    extra = spark.range(5000, 5020).select(
        F.lit(3).cast("long").alias("a"), F.lit(7).cast("long").alias("b"),
        F.col("id").alias("payload"),
        F.concat(F.lit("src-"), F.col("id").cast("string")).alias("origin"))
    L.append_zordered(extra, path)

    # pre-compaction: delta visible, old rows' origin is null
    out = L.read_zordered(spark, path)
    assert "origin" in out.columns
    got = {r.payload: r.origin for r in out.collect()}
    assert got[5001] == "src-5001" and got[10] is None
    assert len(got) == 2020

    # fold: only dirtied buckets rewritten -> generations now disagree
    L.compact_zordered(spark, path)
    m = L.read_manifest(spark, path)
    colsets = {tuple(c) for c in m["gen_columns"].values()}
    assert len(colsets) == 2                    # genuinely mixed
    assert len(set(m["gens"].values())) > 1     # old gens retained
    out2 = L.read_zordered(spark, path)
    got2 = {r.payload: r.origin for r in out2.collect()}
    assert got2 == got                          # nulls backfilled

    # zone maps: origin stats only on the new generation's buckets
    with_origin = {k for k, s in m["stats"].items() if "origin" in s}
    assert with_origin and with_origin < set(m["stats"])
    kept = L.zonemap_buckets(m, {"origin": ("src-", "src-~")})
    assert set(map(str, kept)) >= with_origin   # superset: conservative
    rows = L.read_zordered_where(spark, path,
                                 {"origin": ("src-", "src-~")})
    assert {r.payload for r in rows.collect()} == set(range(5000, 5020))

    # a full compaction unifies the schema again
    L.compact_zordered(spark, path, mode="full")
    m3 = L.read_manifest(spark, path)
    assert len({tuple(c) for c in m3["gen_columns"].values()}) == 1
    got3 = {r.payload: r.origin for r in
            L.read_zordered(spark, path).collect()}
    assert got3 == got


def test_restore_zordered_rolls_back_as_forward_commit(spark, tmp_path):
    """RESTORE: re-commit an earlier live snapshot as the next
    version — readers flip back atomically, history keeps moving
    forward, later mutations build on the restored state, and vacuum
    keeps the re-referenced generations. A restore of a vacuumed
    snapshot raises cleanly (same guard as time travel)."""
    import pytest as _pytest
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    path = str(tmp_path / "z_restore")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)   # v1
    want = sorted((r.payload, r.val) for r in
                  L.read_zordered(spark, path).collect())

    # two regrettable mutations, history retained
    bad = base.limit(20).withColumn("val", F.lit(-9).cast("long"))
    L.upsert_zordered(bad, path, ["payload"], vacuum=False)         # v2
    L.delete_zordered_keys(base.limit(5).select("payload"),
                           path, ["payload"])                       # v3
    assert sorted((r.payload, r.val) for r in
                  L.read_zordered(spark, path).collect()) != want

    out = L.restore_zordered(spark, path, 1)                        # v4
    assert out == {"restored_from": 1, "version": 4}
    got = sorted((r.payload, r.val) for r in
                 L.read_zordered(spark, path).collect())
    assert got == want
    assert [h["op"] for h in L.table_history(spark, path)] == [
        "restore", "delete_keys", "upsert", "write"]

    # later mutations build on the restored state; vacuum keeps the
    # restored generations and reclaims the undone era
    L.upsert_zordered(base.limit(3).withColumn(
        "val", F.lit(7).cast("long")), path, ["payload"],
        vacuum=False)                                               # v5
    L.vacuum_zordered(spark, path, keep_versions=1)
    got2 = {r.payload: r.val for r in
            L.read_zordered(spark, path).collect()}
    assert got2[0] == 7 and got2[100] == 1000
    # the vacuumed pre-restore snapshot is now unreachable — cleanly
    with _pytest.raises(ValueError, match="vacuumed"):
        L.restore_zordered(spark, path, 3)


def test_concurrent_compact_and_append_merge(spark, tmp_path, monkeypatch):
    """A blind append landing mid-compaction must survive the fold's
    commit: the compaction rebases, keeps the new (unfolded) delta
    outstanding, and clears only the batches it actually folded."""
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    path = str(tmp_path / "z_cc_compact")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)   # v1
    d1 = spark.createDataFrame([(1, 1, 7001, 1)],
                               "a long, b long, payload long, val long")
    d2 = spark.createDataFrame([(2, 2, 7002, 2)],
                               "a long, b long, payload long, val long")
    L.append_zordered(d1, path)                                     # v2

    real = fsio.write_json_at
    fired = {}

    def inject(spk, mdir, obj, version):
        if obj.get("op", "").startswith("compact") and "x" not in fired:
            fired["x"] = True
            L.append_zordered(d2, path)   # lands between read and commit
        return real(spk, mdir, obj, version)

    monkeypatch.setattr(fsio, "write_json_at", inject)
    L.compact_zordered(spark, path)
    monkeypatch.undo()

    m = L.read_manifest(spark, path)
    assert len(m["deltas"]) == 1          # d2 still outstanding
    got = {r.payload for r in L.read_zordered(spark, path).collect()}
    assert {7001, 7002} <= got            # nothing lost either way
    L.compact_zordered(spark, path)       # folds the survivor
    assert L.read_manifest(spark, path)["deltas"] == []
    assert {r.payload for r in
            L.read_zordered(spark, path).collect()} == got


def test_ser_bound_widening_property_hypothesis():
    """Zone-map bound serialization must never NARROW a bucket's
    range (narrowing could prune a bucket that holds a match): for
    any decimal, the serialized min is <= the value and the max >=;
    for any string pair, the serialized bounds bracket both; the
    comparison order of serialized values matches the source order
    (pure Python — no Spark, hypothesis hammers it)."""
    from decimal import Decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aggregation_duckdb_spark.sources.layout import (_STAT_MAX_STR,
                                                         _ser_bound)

    decimals = st.decimals(allow_nan=False, allow_infinity=False,
                           min_value=Decimal("-1e18"),
                           max_value=Decimal("1e18"))

    @settings(max_examples=300, deadline=None)
    @given(decimals, decimals)
    def dec_case(a, b):
        lo, hi = (a, b) if a <= b else (b, a)
        slo, shi = _ser_bound(lo, True), _ser_bound(hi, False)
        assert Decimal(str(slo)) <= lo and Decimal(str(shi)) >= hi
        assert slo <= shi

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=200), st.text(max_size=200))
    def str_case(a, b):
        lo, hi = (a, b) if a <= b else (b, a)
        slo, shi = _ser_bound(lo, True), _ser_bound(hi, False)
        assert slo <= lo and shi >= hi
        assert len(slo) <= _STAT_MAX_STR and len(shi) <= _STAT_MAX_STR + 1

    dec_case()
    str_case()


def test_vacuum_retention_window_spares_inflight_writer_dirs(
        spark, tmp_path):
    """Vacuum's concurrent-writer guard: an in-flight mutation's
    generation directory exists BEFORE its manifest commit, so it
    looks unreferenced — with a retention window it survives the
    vacuum (and the mutation can still commit); with the default
    immediate mode it is reclaimed."""
    import os

    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    path = str(tmp_path / "z_vac_ret")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)

    # simulate an in-flight writer: a freshly-written generation dir
    # under a live bucket, not referenced by any manifest yet
    m = L.read_manifest(spark, path)
    k = next(iter(m["gens"]))
    inflight = os.path.join(path, L.DATA_DIR, f"zbucket={k}",
                            "gen=ginflight0001")
    os.makedirs(inflight)
    open(os.path.join(inflight, "part-0.parquet"), "wb").write(b"x")

    L.vacuum_zordered(spark, path, keep_versions=1,
                      retention_ms=3_600_000)
    assert os.path.isdir(inflight)            # young: spared
    rows = L.read_zordered(spark, path).count()
    assert rows == base.count()               # orphans stay invisible

    out = L.vacuum_zordered(spark, path, keep_versions=1)
    assert not os.path.isdir(inflight)        # immediate mode reclaims
    assert out["deleted_gens"] == 1


@_pytest.mark.parametrize(
    "verb", ["upsert", "merge", "optimize", "delete_box"])
def test_disjoint_bucket_rewrites_merge(spark, tmp_path, monkeypatch,
                                        verb):
    """A bucket rewrite (each verb on the shared engine) racing an
    upsert that dirties a DISJOINT bucket must let both land (the
    WriteSerializable merge): the loser rebases — its touched
    buckets' generations are unchanged in the winner's manifest — and
    the final state carries both rewrites."""
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    path = str(tmp_path / "z_cc_disjoint")
    spec = L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    # pick two rows that land in different buckets
    zb, _ = L._zbucket_col(spec)
    rows = (base.withColumn("__zb", zb)
            .select("a", "b", "payload", "val", "__zb").collect())
    r1 = rows[0]
    r2 = next(r for r in rows if r["__zb"] != r1["__zb"])
    mk = lambda r, v: spark.createDataFrame(  # noqa: E731
        [(r["a"], r["b"], r["payload"], v)],
        "a long, b long, payload long, val long")
    if verb == "optimize":
        # fragment r1's bucket alone (an upsert of its own rows at
        # files_per_bucket=8, AQE coalescing off so the salt holds),
        # so optimize rewrites that bucket and no other
        own = base.withColumn("__zb", zb) \
            .where(F.col("__zb") == r1["__zb"]).drop("__zb")
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = spark.conf.get(key)
        try:
            spark.conf.set(key, "false")
            L.upsert_zordered(own, path, ["payload"], files_per_bucket=8)
        finally:
            spark.conf.set(key, prev)
    v0 = L.table_version(spark, path)
    lose = {
        "upsert": lambda: L.upsert_zordered(mk(r1, -1), path, ["payload"]),
        "merge": lambda: L.merge_zordered(
            mk(r1, -1), path, ["payload"],
            when_matched_update={"val": "s.val"}),
        "optimize": lambda: L.optimize_zordered(spark, path),
        # a point box: exactly r1's bucket
        "delete_box": lambda: L.delete_zordered_box(
            spark, path, r1["a"], r1["a"], r1["b"], r1["b"]),
    }[verb]

    real = fsio.write_json_at
    fired = {}

    def inject(spk, mdir, obj, version):
        if obj.get("op") == verb and "x" not in fired:
            fired["x"] = True
            L.upsert_zordered(mk(r2, -2), path, ["payload"])
        return real(spk, mdir, obj, version)

    monkeypatch.setattr(fsio, "write_json_at", inject)
    res = lose()
    monkeypatch.undo()

    assert fired and L.table_version(spark, path) == v0 + 2  # both
    got = {r.payload: r.val for r in L.read_zordered(spark, path).collect()}
    assert got[r2["payload"]] == -2
    if verb in ("upsert", "merge"):
        assert got[r1["payload"]] == -1
    elif verb == "optimize":
        assert res["buckets_rewritten"] == 1
        assert got[r1["payload"]] == r1["val"]
    else:
        assert r1["payload"] not in got
    assert len(got) == base.count() - (verb == "delete_box") * sum(
        1 for r in rows if (r["a"], r["b"]) == (r1["a"], r1["b"]))


def test_interleaved_tombstone_adds_both_land(spark, tmp_path,
                                              monkeypatch):
    """Two delete_keys committers racing: the loser rebases by
    appending its tombstone batch onto the winner's manifest — both
    key sets end up hidden, and a same-key upsert during outstanding
    tombstones CONFLICTS if the tombstone set moved under it."""
    import pytest as _pytest
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    path = str(tmp_path / "z_cc_tombs")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    k1 = spark.createDataFrame([(1,), (2,)], "payload long")
    k2 = spark.createDataFrame([(3,), (4,)], "payload long")

    real = fsio.write_json_at
    fired = {}

    def inject(spk, mdir, obj, version):
        if obj.get("op") == "delete_keys" and "x" not in fired:
            fired["x"] = True
            L.delete_zordered_keys(k2, path, ["payload"])
        return real(spk, mdir, obj, version)

    monkeypatch.setattr(fsio, "write_json_at", inject)
    L.delete_zordered_keys(k1, path, ["payload"])
    monkeypatch.undo()
    m = L.read_manifest(spark, path)
    assert len(m["tombstones"]) == 2
    got = {r.payload for r in L.read_zordered(spark, path).collect()}
    assert got.isdisjoint({1, 2, 3, 4})

    # upsert-with-tombstones whose base tombstone set moves under it
    # must conflict, not silently resurrect the concurrent delete
    reins = base.where(F.col("payload").isin(1, 3)) \
        .withColumn("val", F.lit(0).cast("long"))
    k3 = spark.createDataFrame([(5,)], "payload long")
    fired.clear()

    def inject2(spk, mdir, obj, version):
        if obj.get("op") == "upsert" and "x" not in fired:
            fired["x"] = True
            L.delete_zordered_keys(k3, path, ["payload"])
        return real(spk, mdir, obj, version)

    monkeypatch.setattr(fsio, "write_json_at", inject2)
    with _pytest.raises(L.CommitConflict,
                        match="changed the outstanding tombstone set"):
        L.upsert_zordered(reins, path, ["payload"])
    monkeypatch.undo()
    got2 = {r.payload for r in L.read_zordered(spark, path).collect()}
    assert got2.isdisjoint({1, 2, 3, 4, 5})   # all deletes intact


def test_diff_zordered_labels_row_level_changes(spark, tmp_path):
    """Snapshot diff as the CDC/audit view: insert / delete /
    update_pre+postimage labeled per key between any two live
    versions — composing every intermediate commit — and clean
    failure when an endpoint was vacuumed."""
    import pytest as _pytest
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    path = str(tmp_path / "z_diff")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)  # v1
    upd = base.where(F.col("payload") < 3) \
        .withColumn("val", F.lit(-1).cast("long"))
    ins = spark.createDataFrame([(9, 9, 9009, 9)],
                                "a long, b long, payload long, val long")
    L.upsert_zordered(upd.unionByName(ins), path, ["payload"],
                      vacuum=False)                                # v2
    L.delete_zordered_keys(
        spark.createDataFrame([(10,), (11,)], "payload long"),
        path, ["payload"])                                         # v3

    d = L.diff_zordered(spark, path, 1, key_cols=["payload"])
    got = {(r.payload, r._change_type): r.val for r in d.collect()}
    assert got[(9009, "insert")] == 9
    assert got[(10, "delete")] == 100 and got[(11, "delete")] == 110
    assert got[(0, "update_preimage")] == 0
    assert got[(0, "update_postimage")] == -1
    assert got[(2, "update_postimage")] == -1
    assert len(got) == 1 + 2 + 3 * 2          # nothing else changed

    # unchanged endpoints diff to empty; vacuumed endpoint raises
    assert L.diff_zordered(spark, path, 3, 3,
                           key_cols=["payload"]).count() == 0
    L.compact_zordered(spark, path)                                # v4
    L.vacuum_zordered(spark, path, keep_versions=1)
    with _pytest.raises(ValueError, match="vacuumed"):
        L.diff_zordered(spark, path, 1, key_cols=["payload"])


def test_diff_zordered_across_schema_evolution(spark, tmp_path):
    """Diff endpoints straddling a schema evolution align with nulls:
    an added column surfaces as NULL -> value updates for rows whose
    other columns are unchanged only when the value actually differs
    from null."""
    from aggregation_duckdb_spark.sources import layout as L
    base = spark.range(0, 50).select(
        (F.col("id") % 7).alias("a"), (F.col("id") % 5).alias("b"),
        F.col("id").alias("payload"))
    path = str(tmp_path / "z_diff_evo")
    L.write_zordered(base, path, "a", "b", bits=6, bucket_bits=3)  # v1
    evolved = spark.createDataFrame(
        [(1, 1, 9001, "fresh")],
        "a long, b long, payload long, origin string")
    L.append_zordered(evolved, path)                               # v2
    L.compact_zordered(spark, path, vacuum=False)                  # v3
    d = L.diff_zordered(spark, path, 1, key_cols=["payload"])
    got = {(r.payload, r._change_type): r.origin for r in d.collect()}
    # only the new row appears: old rows' origin is null at BOTH
    # endpoints (backfilled on v1, physically null on v3)
    assert got == {(9001, "insert"): "fresh"}


def test_bloom_index_point_lookup_prunes_and_stays_exact(spark, tmp_path):
    """Bloom sidecars: an equality predicate on a high-cardinality
    NON-layout column prunes most bucket directories (the class zone
    maps can't serve — the values are uncorrelated with the
    clustering), with zero false negatives: every existing value's
    bucket is always kept, results always equal the full-scan filter;
    a bucket rewritten after the build goes conservative (kept), and
    deltas are scanned with the filter only."""
    from aggregation_duckdb_spark.sources import layout as L
    df = spark.range(0, 20_000).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        F.md5(F.col("id").cast("string")).alias("doc_key"),
        F.col("id").alias("payload"))
    path = str(tmp_path / "z_bloom")
    L.write_zordered(df, path, "a", "b", bits=7, bucket_bits=4)
    info = L.build_bloom_index(spark, path, ["doc_key"])
    assert info["buckets"] == 16

    m = L.read_manifest(spark, path)
    sidecar = L._bloom_sidecar(spark, path)
    probe = [r.doc_key for r in
             df.where(F.col("payload").isin(3, 777, 19_999)).collect()]
    for v in probe:   # no false negatives, and real pruning
        kept = L.bloom_buckets(spark, path, m, sidecar, "doc_key", v)
        assert 0 < len(kept) < 16, (v, kept)
        got = {r.payload for r in
               L.read_zordered_eq(spark, path, {"doc_key": v}).collect()}
        want = {r.payload for r in
                df.where(F.col("doc_key") == v).collect()}
        assert got == want and got
    # an absent value prunes everything (fpp may keep a few buckets)
    assert L.read_zordered_eq(spark, path,
                              {"doc_key": "nope"}).count() == 0

    # a rewritten bucket's entry is stale -> kept, still exact
    up = df.where(F.col("payload") == 3).withColumn(
        "payload", F.lit(-3).cast("long"))
    L.upsert_zordered(
        df.where(F.col("payload") == 3).withColumn(
            "payload", F.lit(3).cast("long")), path, ["doc_key"])
    v3 = probe[0]
    got = {r.payload for r in
           L.read_zordered_eq(spark, path, {"doc_key": v3}).collect()}
    assert got == {3}

    # deltas: no blooms, scanned with the filter -> visible
    extra = spark.createDataFrame(
        [(1, 1, "fresh-key", 777_777)],
        "a long, b long, doc_key string, payload long")
    L.append_zordered(extra, path)
    assert {r.payload for r in L.read_zordered_eq(
        spark, path, {"doc_key": "fresh-key"}).collect()} == {777_777}


def test_zorder_check_constraint_gates_every_admission(spark, tmp_path):
    """CHECK constraints (the reference's DDL-constraint shape as
    admission-time validation): a violating create, append, or upsert
    batch raises with the violation count and commits NOTHING — null
    predicate results count as violations; the constraint survives a
    full re-bin compaction."""
    import pytest as _pytest
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    path = str(tmp_path / "z_check")
    with _pytest.raises(ValueError, match="CHECK constraint"):
        L.write_zordered(base.withColumn(
            "val", F.lit(-1).cast("long")), path, "a", "b",
            bits=7, bucket_bits=4, check="val >= 0")
    assert not L.table_exists(spark, path)

    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4,
                     check="val >= 0")
    bad = spark.createDataFrame([(1, 1, 9001, -5)],
                                "a long, b long, payload long, val long")
    with _pytest.raises(ValueError, match="violated by 1 row"):
        L.append_zordered(bad, path)
    with _pytest.raises(ValueError, match="CHECK constraint"):
        L.upsert_zordered(bad, path, ["payload"])
    # null predicate result = violation (CHECK must hold)
    nullv = spark.createDataFrame(
        [(1, 1, 9002, None)], "a long, b long, payload long, val long")
    with _pytest.raises(ValueError, match="CHECK constraint"):
        L.append_zordered(nullv, path)
    assert L.read_zordered(spark, path).count() == base.count()

    ok = spark.createDataFrame([(1, 1, 9001, 5)],
                               "a long, b long, payload long, val long")
    L.append_zordered(ok, path)
    spec = L.compact_zordered(spark, path, mode="full")
    assert spec["check"] == "val >= 0"        # survives the re-bin
    with _pytest.raises(ValueError, match="CHECK constraint"):
        L.append_zordered(bad, path)          # still enforced


def test_merge_schema_unknown_generation_counts_as_distinct(
        spark, tmp_path):
    """A table created BEFORE per-generation column tracking has no
    gen_columns entries; after a schema-adding append + incremental
    fold only the new generation is recorded. Unknown must count as a
    distinct schema (mergeSchema ON) — else Spark infers from one
    arbitrary footer and the evolved column is silently,
    nondeterministically dropped. All-unknown (purely legacy, uniform
    by construction) stays on the fast path."""
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L

    # decision table, pure
    assert not L._needs_merge_schema({}, {"g1", "g2"})       # legacy
    assert not L._needs_merge_schema({"g1": ["a"], "g2": ["a"]},
                                     {"g1", "g2"})           # uniform
    assert L._needs_merge_schema({"g1": ["a"], "g2": ["a", "o"]},
                                 {"g1", "g2"})               # mixed
    assert L._needs_merge_schema({"g2": ["a", "o"]},
                                 {"g1", "g2"})               # unknown+known

    # end-to-end: simulate the legacy table by stripping gen_columns
    base = spark.range(0, 2000).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        F.col("id").alias("payload"))
    path = str(tmp_path / "z_legacy_evolve")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    v, m = L._latest(spark, path)
    legacy = {k: val for k, val in m.items() if k != "gen_columns"}
    fsio.write_json_at(spark, L._manifest_path(path), legacy, v + 1)

    extra = spark.range(5000, 5020).select(
        F.lit(3).cast("long").alias("a"), F.lit(7).cast("long").alias("b"),
        F.col("id").alias("payload"),
        F.concat(F.lit("src-"), F.col("id").cast("string")).alias("origin"))
    L.append_zordered(extra, path)
    L.compact_zordered(spark, path)   # incremental: dirtied buckets only

    m2 = L.read_manifest(spark, path)
    live = set(m2["gens"].values())
    gc = m2.get("gen_columns", {})
    assert any(g not in gc for g in live) and gc   # genuinely mixed-unknown
    assert L._needs_merge_schema(gc, live)
    out = L.read_zordered(spark, path)
    assert "origin" in out.columns                 # never dropped
    got = {r.payload: r.origin for r in out.collect()}
    assert got[5001] == "src-5001" and got[10] is None
    assert len(got) == 2020


def test_bloom_index_non_power_of_two_m_stays_exact(spark, tmp_path):
    """Builder (Spark expressions) and prober (pure Python) must set
    and probe THE SAME bit positions for ANY m, not only powers of two
    that happen to divide 2^64 — h1 + i*h2 on raw 60-bit halves
    overflows signed 64-bit from i=4, which a non-power-of-two m turns
    into Bloom FALSE NEGATIVES (silently missing rows)."""
    from aggregation_duckdb_spark.sources import layout as L
    m, k = 10_007, 5   # prime: any builder/prober divergence surfaces
    vals = spark.range(0, 500).select(
        F.md5(F.col("id").cast("string")).alias("v"))
    spark_pos = {r.v: [r[f"p{i}"] for i in range(k)]
                 for r in vals.select(
                     "v", *[e.alias(f"p{i}") for i, e in
                            enumerate(L._bloom_pos_exprs(F.col("v"), m, k))]
                 ).collect()}
    for v, got in spark_pos.items():
        assert got == L._bloom_pos_py(v, m, k), v

    # end-to-end: no false negatives through the index at prime m
    df = spark.range(0, 5_000).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        F.md5(F.col("id").cast("string")).alias("doc_key"),
        F.col("id").alias("payload"))
    path = str(tmp_path / "z_bloom_prime")
    L.write_zordered(df, path, "a", "b", bits=7, bucket_bits=4)
    L.build_bloom_index(spark, path, ["doc_key"], m=m, k=k)
    mf = L.read_manifest(spark, path)
    sc = L._bloom_sidecar(spark, path)
    probe = df.where(F.col("payload").isin(1, 999, 4_321)).collect()
    for r in probe:
        kept = L.bloom_buckets(spark, path, mf, sc, "doc_key",
                               r.doc_key)
        assert 0 < len(kept) < 16
        got = {x.payload for x in L.read_zordered_eq(
            spark, path, {"doc_key": r.doc_key}).collect()}
        assert got == {r.payload}


def test_append_conflicts_with_concurrent_spec_change(
        spark, tmp_path, monkeypatch):
    """An append's batch was CHECK-validated against the BASE spec; a
    CREATE OR REPLACE landing between its base read and its commit
    replaces the table (new spec) — the rebase must CONFLICT, not
    admit old-table rows onto the new table."""
    import pytest as _pytest
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    path = str(tmp_path / "z_cc_spec")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)  # v1
    extra = spark.createDataFrame(
        [(1, 1, 9001, 5)], "a long, b long, payload long, val long")

    real = fsio.write_json_at
    fired = {}

    def inject(spk, mdir, obj, version):
        if obj.get("op") == "append" and "x" not in fired:
            fired["x"] = True
            L.write_zordered(base, path, "a", "b",
                             bits=6, bucket_bits=3)  # replace, new spec
        return real(spk, mdir, obj, version)

    monkeypatch.setattr(fsio, "write_json_at", inject)
    with _pytest.raises(L.CommitConflict,
                        match="'write'.*changed the layout spec"):
        L.append_zordered(extra, path)
    monkeypatch.undo()
    # the replacement won; the append admitted nothing
    got = {r.payload for r in L.read_zordered(spark, path).collect()}
    assert 9001 not in got and len(got) == base.count()


def test_append_revalidates_check_only_change(spark, tmp_path,
                                              monkeypatch):
    """When ONLY the CHECK clause changed under a racing append, the
    batch is re-validated against the NEW constraint: a passing batch
    merges; a now-violating batch conflicts instead of being admitted
    on the strength of the old, looser check."""
    import pytest as _pytest
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    path = str(tmp_path / "z_cc_check")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4,
                     check="val >= 0")                            # v1

    def tighten():
        v, m = L._latest(spark, path)
        m2 = dict(m)
        m2["spec"] = {**m["spec"], "check": "val >= 100"}
        m2["op"] = "alter_check"
        fsio.write_json_at(spark, L._manifest_path(path), m2, v + 1)

    real = fsio.write_json_at
    fired = {}

    def inject(spk, mdir, obj, version):
        if obj.get("op") == "append" and "x" not in fired:
            fired["x"] = True
            tighten()
        return real(spk, mdir, obj, version)

    ok = spark.createDataFrame(
        [(1, 1, 9001, 500)], "a long, b long, payload long, val long")
    monkeypatch.setattr(fsio, "write_json_at", inject)
    L.append_zordered(ok, path)       # passes the NEW check: merges
    monkeypatch.undo()
    got = {r.payload for r in L.read_zordered(spark, path).collect()}
    assert 9001 in got

    # passes the current check (val >= 100) but not the tightened one
    bad = spark.createDataFrame(
        [(1, 1, 9002, 500)], "a long, b long, payload long, val long")
    fired2 = {}

    def tighten2():
        v, m = L._latest(spark, path)
        m2 = dict(m)
        m2["spec"] = {**m["spec"], "check": "val >= 1000"}
        m2["op"] = "alter_check"
        fsio.write_json_at(spark, L._manifest_path(path), m2, v + 1)

    def inject2(spk, mdir, obj, version):
        if obj.get("op") == "append" and "x" not in fired2:
            fired2["x"] = True
            tighten2()
        return real(spk, mdir, obj, version)

    monkeypatch.setattr(fsio, "write_json_at", inject2)
    with _pytest.raises(L.CommitConflict,
                        match="tightened the CHECK constraint"):
        L.append_zordered(bad, path)
    monkeypatch.undo()
    assert 9002 not in {r.payload for r in
                        L.read_zordered(spark, path).collect()}


def test_atomic_rename_scheme_scopes_multi_writer_claim(monkeypatch):
    """Collision detection rides rename-if-absent atomicity: HDFS,
    ADLS Gen2 and local paths have it; S3-style object stores do not
    (copy+delete behind check-then-act) — there the committer warns
    once and the caller must run single-writer."""
    import warnings as W

    import pytest as _pytest

    from aggregation_duckdb_spark import fsio
    assert fsio.atomic_rename_scheme("/tmp/t")
    assert fsio.atomic_rename_scheme("file:///tmp/t")
    assert fsio.atomic_rename_scheme("hdfs://nn/warehouse/t")
    assert fsio.atomic_rename_scheme("abfss://c@a.dfs.example/t")
    for s in ("s3://b/t", "s3a://b/t", "gs://b/t", "wasbs://c@a/t"):
        assert not fsio.atomic_rename_scheme(s)

    monkeypatch.setattr(fsio, "mkdirs", lambda *a: None)
    monkeypatch.setattr(fsio, "write_json", lambda *a: None)
    monkeypatch.setattr(fsio, "rename", lambda *a: True)
    with _pytest.warns(RuntimeWarning, match="rename is not atomic"):
        fsio.write_json_at(None, "s3a://b/t/_manifest", {}, 1)
    with W.catch_warnings():
        W.simplefilter("error")       # second call: warned once only
        fsio.write_json_at(None, "s3a://b/t/_manifest", {}, 2)
        fsio.write_json_at(None, "hdfs://nn/t/_manifest", {}, 1)


def test_bloom_sidecar_is_sharded_and_vacuumed(spark, tmp_path):
    """The Bloom sidecar is an INVERTED parquet table (one row per
    (column, bit position) holding a bucket bitmap, partitioned by
    column) with a tiny meta JSON as the commit point — a probe reads
    exactly its k rows, never cols x buckets x m bits; a rebuild
    supersedes the shard and vacuum reclaims it."""
    import os as _os

    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    df = spark.range(0, 5_000).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        F.md5(F.col("id").cast("string")).alias("doc_key"),
        F.col("id").alias("payload"))
    path = str(tmp_path / "z_bloom_shard")
    L.write_zordered(df, path, "a", "b", bits=7, bucket_bits=4)
    L.build_bloom_index(spark, path, ["doc_key"], m=4096, k=5)

    bloom_dir = _os.path.join(path, "_manifest", "_bloom")
    meta = fsio.read_json_latest(spark, bloom_dir)
    assert "bits" not in str(meta)[:200] and len(str(meta)) < 4096
    shard = _os.path.join(bloom_dir, meta["data"])
    assert _os.path.isdir(_os.path.join(shard, "col=doc_key"))
    rows = spark.read.parquet(shard)
    assert rows.count() <= 4096            # one row per set position
    assert {f.name for f in rows.schema.fields} == {"col", "pos",
                                                    "buckets"}

    # probe correctness through the sharded layout
    mf = L.read_manifest(spark, path)
    sc = L._bloom_sidecar(spark, path)
    v = df.where(F.col("payload") == 777).collect()[0].doc_key
    kept = L.bloom_buckets(spark, path, mf, sc, "doc_key", v)
    assert 0 < len(kept) < 16
    got = {r.payload for r in
           L.read_zordered_eq(spark, path, {"doc_key": v}).collect()}
    assert got == {777}

    # rebuild supersedes; vacuum reclaims the old shard, keeps newest
    L.build_bloom_index(spark, path, ["doc_key"], m=4096, k=5)
    names = [n for n in fsio.list_names(spark, bloom_dir)
             if n.startswith("b-")]
    assert len(names) == 2
    out = L.vacuum_zordered(spark, path)
    assert out["deleted_bloom_shards"] == 1
    live = [n for n in fsio.list_names(spark, bloom_dir)
            if n.startswith("b-")]
    meta2 = fsio.read_json_latest(spark, bloom_dir)
    assert live == [meta2["data"]]
    assert L.read_zordered_eq(spark, path,
                              {"doc_key": v}).count() == 1


def test_merge_zordered_conditional_clauses(spark, tmp_path):
    """Conditional MERGE (the full Delta clause shape): WHEN MATCHED
    AND cond THEN UPDATE SET expr (t./s.-scoped, e.g. additive
    counters), WHEN MATCHED AND cond THEN DELETE (delete wins over
    update, documented order), WHEN NOT MATCHED [AND cond] THEN
    INSERT — touching only the buckets the source lands in, atomic
    manifest flip, CHECK validated on the changed rows."""
    import pytest as _pytest
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)          # payload key, val = 10*id
    path = str(tmp_path / "z_merge")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4,
                     check="val >= -100")
    n0 = base.count()

    # source: keys 0-9 matched (5 to delete, 5 to update-add), keys
    # 1000-1004 new (3 pass the insert gate)
    matched = base.where(F.col("payload") < 10) \
        .withColumn("val", F.col("payload") + 1)  # s.val = payload+1
    fresh = spark.range(1000, 1005).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        F.col("id").alias("payload"), (F.col("id") - 1002).alias("val"))
    out = L.merge_zordered(
        matched.unionByName(fresh), path, ["payload"],
        when_matched_update={"val": "t.val + s.val"},
        update_condition="t.payload % 2 = 1",   # odd keys: add
        when_matched_delete="t.payload % 2 = 0",  # even keys: delete
        when_not_matched_insert=True,
        insert_condition="s.val >= 0")
    assert out["buckets_rewritten"] >= 1
    got = {r.payload: r.val for r in
           L.read_zordered(spark, path).collect()}
    # deletes: even keys 0,2,4,6,8 gone
    assert all(p not in got for p in (0, 2, 4, 6, 8))
    # updates: odd keys 1..9 -> old 10*p + source (p+1)
    assert all(got[p] == 10 * p + p + 1 for p in (1, 3, 5, 7, 9))
    # inserts: only s.val >= 0 (payload 1002..1004)
    assert 1000 not in got and 1001 not in got
    assert got[1002] == 0 and got[1004] == 2
    # untouched rows intact, total arithmetic holds
    assert got[123] == 1230
    assert len(got) == n0 - 5 + 3

    # guards: SET on key/layout columns refused; duplicate source
    # keys refused; CHECK gates the updated rows
    with _pytest.raises(ValueError, match="key/layout-dimension"):
        L.merge_zordered(matched, path, ["payload"],
                         when_matched_update={"a": "t.a + 1"})
    with _pytest.raises(ValueError, match="multiple source rows"):
        L.merge_zordered(matched.unionByName(matched), path,
                         ["payload"],
                         when_matched_update={"val": "s.val"})
    with _pytest.raises(ValueError, match="CHECK constraint"):
        L.merge_zordered(
            base.where(F.col("payload") == 11), path, ["payload"],
            when_matched_update={"val": "t.val - 100000"})
    # nothing half-applied after the failures
    assert {r.payload: r.val for r in
            L.read_zordered(spark, path).collect()} == got


def test_merge_zordered_replaces_upsert_semantics(spark, tmp_path):
    """merge with update=all-columns + unconditional insert must equal
    upsert_zordered on the same input (the replace special case);
    tombstones keyed on DIFFERENT columns than the merge still
    refuse."""
    import pytest as _pytest
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    p1, p2 = str(tmp_path / "z_m1"), str(tmp_path / "z_m2")
    src = base.where(F.col("payload") % 9 == 0) \
        .withColumn("val", F.lit(-7).cast("long"))
    for p in (p1, p2):
        L.write_zordered(base, p, "a", "b", bits=7, bucket_bits=4)
    L.upsert_zordered(src, p1, ["payload"])
    L.merge_zordered(src, p2, ["payload"],
                     when_matched_update={"val": "s.val"})
    a = sorted((r.payload, r.val) for r in
               L.read_zordered(spark, p1).collect())
    b = sorted((r.payload, r.val) for r in
               L.read_zordered(spark, p2).collect())
    assert a == b

    # upsert IS that merge case, so it shares merge's key contract: a
    # repeated batch key raises the duplicate-key error, commits nothing
    v = L.table_version(spark, p1)
    one = src.where(F.col("payload") == 9)
    dup = one.unionByName(one.withColumn("val", F.lit(-8).cast("long")))
    with _pytest.raises(ValueError,
                        match="multiple source rows share a merge key"):
        L.upsert_zordered(dup, p1, ["payload"])
    assert L.table_version(spark, p1) == v
    assert sorted((r.payload, r.val) for r in
                  L.read_zordered(spark, p1).collect()) == a

    # ...and a null key replaces the stored null-key row null-safely
    # (mirrors test_merge_zordered_null_key_fires_one_clause)
    kv = "a long, b long, payload long, val long"
    p3 = str(tmp_path / "z_m3")
    L.write_zordered(base.unionByName(spark.createDataFrame(
        [(50, 50, None, 7)], kv)), p3, "a", "b", bits=7, bucket_bits=4)
    L.upsert_zordered(spark.createDataFrame([(50, 50, None, 8)], kv),
                      p3, ["payload"])
    assert [r.val for r in L.read_zordered(spark, p3)
            .where(F.col("payload").isNull()).collect()] == [8]

    L.delete_zordered_keys(base.where(F.col("payload") == 1)
                           .select("val"), p2, ["val"])
    with _pytest.raises(ValueError, match="tombstones are keyed"):
        L.merge_zordered(src, p2, ["payload"],
                         when_matched_delete=True)


def test_merge_zordered_composes_over_deltas_and_tombstones(
        spark, tmp_path):
    """Delta's MERGE works on ANY table state — so does this one: a
    GDPR key-delete (tombstones) plus an un-compacted append (delta
    batch) followed by a conditional merge, with NO manual compact,
    must equal the compact-first sequence exactly; the merge commit
    folds both queues (manifest clean afterwards), and a tombstoned
    key the merge re-inserts becomes visible again while other
    tombstoned keys stay hidden."""
    from aggregation_duckdb_spark.sources import layout as L

    def build(path: str, compact_first: bool) -> list[tuple]:
        base = _zorder_kv_frame(spark)
        L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
        # GDPR delete keys 0..19; append keys 400..409 as a raw delta
        L.delete_zordered_keys(
            base.where(F.col("payload") < 20).select("payload"),
            path, ["payload"])
        late = spark.range(400, 410).select(
            (F.col("id") % 97).alias("a"),
            ((F.col("id") * 37) % 61).alias("b"),
            F.col("id").alias("payload"),
            (F.col("id") * 10).alias("val"))
        L.append_zordered(late, path)
        if compact_first:
            L.compact_zordered(spark, path)
        # source: re-insert tombstoned key 3 (takes the NOT MATCHED
        # path — the tombstone hid it), update delta-resident key 405,
        # delete key 30, insert brand-new key 999
        src = spark.createDataFrame(
            [(3 % 97, (3 * 37) % 61, 3, 111),
             (405 % 97, (405 * 37) % 61, 405, 222),
             (30 % 97, (30 * 37) % 61, 30, 0),
             (999 % 97, (999 * 37) % 61, 999, 333)],
            "a long, b long, payload long, val long")
        L.merge_zordered(
            src, path, ["payload"],
            when_matched_update={"val": "s.val"},
            when_matched_delete="t.payload = 30",
            when_not_matched_insert=True)
        return sorted((r.payload, r.val) for r in
                      L.read_zordered(spark, path).collect())

    composed = build(str(tmp_path / "z_c1"), compact_first=False)
    compacted = build(str(tmp_path / "z_c2"), compact_first=True)
    assert composed == compacted
    got = dict(composed)
    assert got[3] == 111            # re-inserted tombstoned key
    assert got[405] == 222          # delta row was matched + updated
    assert 30 not in got            # conditional delete fired
    assert got[999] == 333          # fresh insert
    assert 5 not in got             # other tombstoned keys stay hidden
    assert got[401] == 4010         # non-matched delta rows survive
    # the delta queue folded in the same commit; the tombstone set was
    # rewritten as ONE batch that no longer contains the re-inserted
    # key (the other keys MUST stay — their physical rows may live in
    # buckets this merge never dirtied)
    m = L.read_manifest(spark, str(tmp_path / "z_c1"))
    assert m.get("deltas", []) == []
    assert len(m.get("tombstones", [])) == 1
    import os as _os
    left = spark.read.parquet(_os.path.join(
        str(tmp_path / "z_c1"), "_tombstones", m["tombstones"][0]))
    keys = {r.payload for r in left.collect()}
    assert 3 not in keys and keys == set(range(20)) - {3}


def test_merge_zordered_null_key_fires_one_clause(spark, tmp_path):
    """A null merge-key source row must fire AT MOST ONE clause: the
    matched join is null-safe, so the insert anti-join must be
    null-safe too — the same row matching a null-key target row and
    ALSO inserting would duplicate the key (round-11 advisor
    finding)."""
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark).unionByName(
        spark.createDataFrame([(50, 50, None, 77)],
                              "a long, b long, payload long, val long"))
    path = str(tmp_path / "z_nullkey")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    src = spark.createDataFrame([(50, 50, None, -1)],
                                "a long, b long, payload long, val long")
    L.merge_zordered(src, path, ["payload"],
                     when_matched_update={"val": "s.val"},
                     when_not_matched_insert=True)
    nulls = [r.val for r in L.read_zordered(spark, path)
             .where(F.col("payload").isNull()).collect()]
    assert nulls == [-1]    # updated in place, NOT also inserted
    # and a null key with no null-key target row still inserts once
    p2 = str(tmp_path / "z_nullkey2")
    L.write_zordered(_zorder_kv_frame(spark), p2, "a", "b",
                     bits=7, bucket_bits=4)
    L.merge_zordered(src, p2, ["payload"],
                     when_matched_update={"val": "s.val"},
                     when_not_matched_insert=True)
    nulls = [r.val for r in L.read_zordered(spark, p2)
             .where(F.col("payload").isNull()).collect()]
    assert nulls == [-1]


def test_merge_zordered_not_matched_by_source(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE (Delta's third clause family — the
    sync-to-snapshot shape): target rows with no source match delete
    or update under t-scoped conditions; the bucket bound comes from
    ONE column-pruned victim scan using the SAME predicates, so rows
    failing the condition stay untouched even in never-dirtied
    buckets, and the result equals a full recompute."""
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)          # payload 0..399, val=10*p
    path = str(tmp_path / "z_nmbs")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)

    # source: keys 0..199 (replace val), keys 400..404 fresh inserts
    src = spark.range(0, 200).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        F.col("id").alias("payload"), (F.col("id") + 1).alias("val")) \
        .unionByName(spark.range(400, 405).select(
            (F.col("id") % 97).alias("a"),
            ((F.col("id") * 37) % 61).alias("b"),
            F.col("id").alias("payload"), F.lit(-7).alias("val")))
    # conditional: stale rows with odd key delete, even-key stale rows
    # get marked (val = -1); matched rows replace val from the source
    L.merge_zordered(
        src, path, ["payload"],
        when_matched_update={"val": "s.val"},
        when_not_matched_by_source_update={"val": "-1"},
        when_not_matched_by_source_update_condition="t.payload % 2 = 0",
        when_not_matched_by_source_delete="t.payload % 2 = 1")
    got = {r.payload: r.val for r in
           L.read_zordered(spark, path).collect()}
    expected = {p: p + 1 for p in range(200)}           # matched
    expected.update({p: -7 for p in range(400, 405)})   # inserted
    expected.update({p: -1 for p in range(200, 400, 2)})  # marked
    # odd stale keys (201, 203, ... 399) deleted
    assert got == expected

    # unconditional delete syncs the table to the source's universe
    p2 = str(tmp_path / "z_sync")
    L.write_zordered(base, p2, "a", "b", bits=7, bucket_bits=4)
    small = base.where(F.col("payload") < 50) \
        .withColumn("val", F.lit(0))
    L.merge_zordered(small, p2, ["payload"],
                     when_matched_update={"val": "s.val"},
                     when_not_matched_by_source_delete=True)
    got2 = {r.payload: r.val for r in
            L.read_zordered(spark, p2).collect()}
    assert got2 == {p: 0 for p in range(50)}
    # SET on key/layout columns refused for this clause family too
    import pytest as _pytest
    with _pytest.raises(ValueError, match="key/layout-dimension"):
        L.merge_zordered(small, p2, ["payload"],
                         when_not_matched_by_source_update={
                             "a": "t.a + 1"})


def test_clone_zordered_shallow_and_divergent(spark, tmp_path):
    """SHALLOW CLONE: one metadata commit, zero data copied — the
    clone reads the source's generation directories through
    gen_roots; mutations diverge independently (rewritten buckets go
    local and shed the foreign reference, untouched buckets stay
    foreign), the source never changes; a full compaction
    materializes the clone completely; clone-of-clone carries the
    ORIGINAL roots."""
    import os as _os

    import pytest as _pytest

    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    src = str(tmp_path / "z_src")
    dst = str(tmp_path / "z_dst")
    L.write_zordered(base, src, "a", "b", bits=7, bucket_bits=4)
    want = sorted((r.payload, r.val) for r in
                  L.read_zordered(spark, src).collect())

    info = L.clone_zordered(spark, src, dst)
    assert info["version"] == 1 and info["cloned_from"]["path"] == src
    # zero data under the clone
    assert fsio.list_names(spark, _os.path.join(dst, "data")) == []
    got = sorted((r.payload, r.val) for r in
                 L.read_zordered(spark, dst).collect())
    assert got == want
    # pruned reads resolve through the foreign root too
    box = L.read_zordered_box(spark, dst, 10, 40, 5, 30)
    assert box.count() == base.where(
        (F.col("a").between(10, 40)) & (F.col("b").between(5, 30))
    ).count()

    # diverge: upsert the CLONE; source untouched, dirtied buckets
    # local, clean buckets still foreign
    ups = base.where(F.col("payload") < 10) \
        .withColumn("val", F.lit(-1).cast("long"))
    L.upsert_zordered(ups, dst, ["payload"])
    m = L.read_manifest(spark, dst)
    assert m.get("gen_roots")                     # some still foreign
    local = [k for k, g in m["gens"].items()
             if g not in m["gen_roots"]]
    assert local                                  # some went local
    got2 = {r.payload: r.val for r in
            L.read_zordered(spark, dst).collect()}
    assert all(got2[p] == -1 for p in range(10))
    assert sorted((r.payload, r.val) for r in
                  L.read_zordered(spark, src).collect()) == want

    # clone-of-clone points at the ORIGINAL data for foreign gens
    dst2 = str(tmp_path / "z_dst2")
    L.clone_zordered(spark, dst, dst2)
    m2 = L.read_manifest(spark, dst2)
    assert any(r.endswith("z_src/data") for r in
               m2["gen_roots"].values())
    got3 = {r.payload: r.val for r in
            L.read_zordered(spark, dst2).collect()}
    assert got3 == got2

    # full compaction materializes: no foreign roots left, and the
    # source can now vacuum/churn freely without breaking the clone
    L.compact_zordered(spark, dst, mode="full")
    m3 = L.read_manifest(spark, dst)
    assert "gen_roots" not in m3
    L.upsert_zordered(base.withColumn("val", F.lit(7).cast("long")),
                      src, ["payload"])   # vacuum=True reclaims src gens
    assert {r.payload: r.val for r in
            L.read_zordered(spark, dst).collect()} == got2

    # guards
    with _pytest.raises(ValueError, match="already exists"):
        L.clone_zordered(spark, src, dst)
    L.append_zordered(base.where(F.col("payload") == 1), src)
    with _pytest.raises(ValueError, match="deltas/tombstones"):
        L.clone_zordered(spark, src, str(tmp_path / "z_dst3"))


def test_clone_zordered_source_vacuum_breaks_loudly(spark, tmp_path):
    """Clones pin NOTHING on the source (Delta's shallow-clone +
    VACUUM hazard): a source rewrite that reclaims referenced
    generations makes the clone's read fail LOUDLY (missing paths),
    never silently partial."""
    import pytest as _pytest
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    src = str(tmp_path / "z_src_v")
    dst = str(tmp_path / "z_dst_v")
    L.write_zordered(base, src, "a", "b", bits=7, bucket_bits=4)
    L.clone_zordered(spark, src, dst)
    # rewrite EVERY bucket on the source with eager vacuum
    L.upsert_zordered(base.withColumn("val", F.lit(0).cast("long")),
                      src, ["payload"])
    with _pytest.raises(Exception):
        L.read_zordered(spark, dst).collect()


def test_describe_zordered_reports_metadata_only(spark, tmp_path):
    """DESCRIBE DETAIL: one metadata-only report — version/op, spec,
    bucket/generation/foreign counts, outstanding batches, history
    depth, local file/byte totals; correct across clone and mutation."""
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    src = str(tmp_path / "z_desc")
    L.write_zordered(base, src, "a", "b", bits=7, bucket_bits=4,
                     check="val >= 0")
    d = L.describe_zordered(spark, src)
    assert d["version"] == 1 and d["op"] == "write"
    assert d["dims"] == ["a", "b"] and d["check"] == "val >= 0"
    assert d["buckets"] == 16 and d["generations"] == 1
    assert d["foreign_generations"] == 0
    assert d["local_data_files"] >= 16 and d["local_data_bytes"] > 0
    assert d["outstanding_deltas"] == 0

    L.append_zordered(base.where(F.col("payload") == 1), src)
    d2 = L.describe_zordered(spark, src)
    assert d2["version"] == 2 and d2["op"] == "append"
    assert d2["outstanding_deltas"] == 1

    dst = str(tmp_path / "z_desc_clone")
    L.compact_zordered(spark, src)
    L.clone_zordered(spark, src, dst)
    dc = L.describe_zordered(spark, dst)
    assert dc["op"] == "clone" and dc["cloned_from"]["path"] == src
    assert dc["foreign_generations"] == dc["generations"] > 0
    assert dc["local_data_files"] == 0 and dc["local_data_bytes"] == 0


def test_bloom_multi_column_single_pass(spark, tmp_path):
    """Multi-column Bloom builds fuse into ONE snapshot pass; each
    column probes independently and both stay exact."""
    from aggregation_duckdb_spark.sources import layout as L
    df = spark.range(0, 4000).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        F.md5(F.col("id").cast("string")).alias("doc_key"),
        F.concat(F.lit("u"), (F.col("id") % 631).cast("string"))
        .alias("owner"),
        F.col("id").alias("payload"))
    path = str(tmp_path / "z_bloom_multi")
    L.write_zordered(df, path, "a", "b", bits=7, bucket_bits=4)
    info = L.build_bloom_index(spark, path, ["doc_key", "owner"],
                               m=8192, k=5)
    assert info["cols"] == ["doc_key", "owner"]
    r = df.where(F.col("payload") == 1234).collect()[0]
    got = {x.payload for x in L.read_zordered_eq(
        spark, path, {"doc_key": r.doc_key}).collect()}
    assert got == {1234}
    got2 = {x.payload for x in L.read_zordered_eq(
        spark, path, {"owner": r.owner}).collect()}
    want2 = {x.payload for x in
             df.where(F.col("owner") == r.owner).collect()}
    assert got2 == want2 and 1234 in got2
    # conjunctive multi-column eq intersects both columns' buckets
    got3 = {x.payload for x in L.read_zordered_eq(
        spark, path, {"doc_key": r.doc_key, "owner": r.owner}).collect()}
    assert got3 == {1234}


def test_zorder_timestamp_and_date_dimensions(spark, tmp_path, sf_dir):
    """Time is THE canonical layout dimension at 100 TB: timestamp
    (and date) columns are first-class Z-order dims — binning uses the
    epoch-long conversion, the spec records the dim kind, planners
    coerce datetime query bounds through Spark itself (writer and
    planner can never disagree on timezone/parsing), and the exact row
    filters keep the original values so results equal a plain filter
    regardless."""
    import datetime as _dt

    from aggregation_duckdb_spark.sources import layout as L
    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", "ts", "user_id", "value")
          .withColumn("day", F.to_date("ts")))

    # timestamp x numeric layout
    path = str(tmp_path / "z_ts")
    spec = L.write_zordered(ev, path, "ts", "user_id",
                            bits=7, bucket_bits=4)
    assert spec["kinds"] == {"ts": "timestamp"}
    bounds = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    t0, t1 = bounds[0], bounds[1]
    mid = t0 + (t1 - t0) / 2
    lo, hi = t0 + (t1 - t0) / 8, mid
    out = L.read_zordered_box_nd(spark, path,
                                 {"ts": (lo, hi), "user_id": (10, 50)})
    want = ev.where((F.col("ts") >= lo) & (F.col("ts") <= hi)
                    & (F.col("user_id").between(10, 50)))
    assert sorted(r.event_id for r in out.collect()) == \
        sorted(r.event_id for r in want.collect()) and want.count() > 0
    # the datetime box genuinely prunes buckets
    planned = L._coerce_ranges(
        spark, spec, {"ts": (lo, hi), "user_id": (10, 50)})
    assert isinstance(planned["ts"][0], int)
    kept = L.zbuckets_for_ranges(spec, planned)
    assert 0 < len(kept) < 16

    # mutations keep routing through the kind-aware binning
    fresh = ev.where(F.col("event_id") % 97 == 0) \
        .withColumn("value", F.lit(-5.0))
    L.upsert_zordered(fresh, path, ["event_id"])
    got = {r.event_id for r in L.read_zordered(spark, path)
           .where(F.col("value") == -5.0).collect()}
    assert got == {r.event_id for r in fresh.collect()}
    # full re-bin preserves the kinds
    spec2 = L.compact_zordered(spark, path, mode="full")
    assert spec2["kinds"] == {"ts": "timestamp"}
    assert L.read_zordered(spark, path).count() == ev.count()

    # date x numeric layout (unix_date conversion; a bare long cast
    # of a date is null — pinned by the bounds being real)
    path2 = str(tmp_path / "z_date")
    spec_d = L.write_zordered_nd(ev, path2, ["day", "user_id"],
                                 bits=6, bucket_bits=4)
    dd = dict((c, (l, h)) for c, l, h in spec_d["dims"])
    assert spec_d["kinds"] == {"day": "date"} and dd["day"][0] > 0
    d_lo = t0.date() + _dt.timedelta(days=2)
    d_hi = d_lo + _dt.timedelta(days=3)
    out_d = L.read_zordered_box_nd(spark, path2, {"day": (d_lo, d_hi)})
    want_d = ev.where(F.col("day").between(d_lo, d_hi))
    assert out_d.count() == want_d.count() > 0

    # predicate DELETE over a datetime box (planner coerces, filter
    # keeps the original values)
    n_before = ev.count()
    L.delete_zordered_box(spark, path, lo, hi, 10, 50)
    left = L.read_zordered(spark, path)
    assert left.count() == n_before - want.count()
    assert left.where((F.col("ts") >= lo) & (F.col("ts") <= hi)
                      & (F.col("user_id").between(10, 50))).count() == 0


def test_coerce_ranges_names_unparseable_bound(spark):
    """A malformed datetime bound surfaces as a ValueError naming the
    column and the bad literal (Spark's cast yields NULL, not an
    error — the planner must not let that become a bare TypeError);
    mixed int/datetime ranges coerce the datetime endpoint only
    (round-11 advisor finding)."""
    import pytest as _pytest
    from aggregation_duckdb_spark.sources import layout as L
    spec = {"dims": [["day", 19000, 19400], ["user_id", 0, 100]],
            "bits": 6, "bucket_bits": 4, "kinds": {"day": "date"}}
    with _pytest.raises(ValueError, match="not-a-date.*'day'|'day'.*not-a-date"):
        L._coerce_ranges(spark, spec,
                         {"day": ("not-a-date", "2023-01-02")})
    with _pytest.raises(ValueError, match="hi bound"):
        L._coerce_ranges(spark, spec,
                         {"day": ("2023-01-01", "2023-99-99")})
    # mixed: the int endpoint is already planner-domain, passes through
    got = L._coerce_ranges(spark, spec, {"day": (19100, "2023-01-02")})
    assert got["day"][0] == 19100 and isinstance(got["day"][1], int)


def test_read_change_feed_empty_sink_returns_typed_empty(spark, tmp_path):
    """A drained feed whose history produced no change rows (only
    compactions / no-op replays) never creates the parquet sink — the
    batch read must return an EMPTY typed frame, not raise
    AnalysisException (round-11 advisor finding)."""
    from aggregation_duckdb_spark.streaming import change_feed as CF
    out = CF.read_change_feed(spark, str(tmp_path / "never_written"),
                              from_version=1, to_version=5)
    assert out.count() == 0
    assert set(out.columns) >= {"_change_type", "_commit_version"}


def test_describe_zordered_single_recursive_listing(spark, tmp_path,
                                                    monkeypatch):
    """DESCRIBE DETAIL's file/byte totals come from ONE recursive
    listing of the data root — never a per-file size_of RPC
    (round-11 advisor finding: O(files) round trips on a remote
    store)."""
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    path = str(tmp_path / "z_desc_list")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)

    calls = {"size_of": 0}
    real = fsio.size_of

    def spy(spark_, p):
        calls["size_of"] += 1
        return real(spark_, p)

    monkeypatch.setattr(fsio, "size_of", spy)
    d = L.describe_zordered(spark, path)
    assert calls["size_of"] == 0
    assert d["local_data_files"] > 0 and d["local_data_bytes"] > 0
    # the listing agrees with a hand walk
    import os as _os
    want_files = want_bytes = 0
    for root, _, names in _os.walk(_os.path.join(path, "data")):
        for n in names:
            if n.endswith(".parquet"):
                want_files += 1
                want_bytes += _os.path.getsize(_os.path.join(root, n))
    assert (d["local_data_files"], d["local_data_bytes"]) == \
        (want_files, want_bytes)


def test_count_zordered_metadata_pushdown(spark, tmp_path):
    """COUNT(*) from the manifest: every mutation records per-bucket
    row counts in its zone-map aggregate, so a clean snapshot's count
    is a metadata sum (zero data IO); deltas add footer counts;
    tombstones and pre-__rows generations fall back to the real read —
    exact in every state."""
    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    path = str(tmp_path / "z_count")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    assert L.count_zordered(spark, path) == 400
    assert L.describe_zordered(spark, path)["clustered_rows"] == 400

    L.append_zordered(base.where(F.col("payload") < 7), path)
    assert L.count_zordered(spark, path) == 407
    L.delete_zordered_keys(base.where(F.col("payload") < 3)
                           .select("payload"), path, ["payload"])
    assert L.count_zordered(spark, path) == 407 - 3 - 3  # both copies
    L.compact_zordered(spark, path)
    assert L.count_zordered(spark, path) == 401
    assert L.read_zordered(spark, path).count() == 401

    # a rewritten-bucket mutation keeps clean buckets' counts valid
    L.upsert_zordered(base.where(F.col("payload") == 50)
                      .withColumn("val", F.lit(-1).cast("long")),
                      path, ["payload"])
    assert L.count_zordered(spark, path) == 401

    # legacy manifest without __rows: exact fallback
    v, m = L._latest(spark, path)
    legacy = dict(m)
    legacy["stats"] = {k: {c: b for c, b in s.items() if c != "__rows"}
                       for k, s in m["stats"].items()}
    fsio.write_json_at(spark, L._manifest_path(path), legacy, v + 1)
    assert L._clustered_rows(legacy) is None
    assert L.count_zordered(spark, path) == 401


def test_maintain_zordered_policy(spark, tmp_path):
    """maintain_zordered: a healthy table is a metadata no-op; piled
    deltas past the threshold trigger ONE incremental fold; a bucket
    fragmented past the file target gets bin-packed afterwards."""
    from aggregation_duckdb_spark.sources import layout as L
    base = _zorder_kv_frame(spark)
    path = str(tmp_path / "z_maint")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    out = L.maintain_zordered(spark, path)
    assert out == {"compacted": False, "optimized": 0}

    for i in range(3):   # below threshold: folding deferred
        L.append_zordered(spark.createDataFrame(
            [(1, 1, 9000 + i, i)],
            "a long, b long, payload long, val long"), path)
    assert L.maintain_zordered(spark, path, max_deltas=8) \
        == {"compacted": False, "optimized": 0}
    for i in range(6):
        L.append_zordered(spark.createDataFrame(
            [(1, 1, 9100 + i, i)],
            "a long, b long, payload long, val long"), path)
    out = L.maintain_zordered(spark, path, max_deltas=8)
    assert out["compacted"] is True
    m = L.read_manifest(spark, path)
    assert not m.get("deltas")
    assert L.count_zordered(spark, path) == 409


def test_zbucket_planner_superset_property():
    """Property pin (pure Python, hypothesis): for ANY spec shape and
    ANY query box, every point matching the box lands in a bucket the
    planner kept — the superset invariant every pruned read's
    exactness rests on, including CLAMPED out-of-bounds points (they
    land in edge buckets the planner must also probe)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aggregation_duckdb_spark.sources import layout as L

    def py_bucket(point, dims, bits, bucket_bits):
        k = len(dims)
        bins = [L._to_bin(v, lo, hi, bits)
                for v, (_, lo, hi) in zip(point, dims)]
        z = 0
        for i in range(bits):
            for d in range(k):
                z |= ((bins[d] >> i) & 1) << (i * k + d)
        return z >> (k * bits - bucket_bits)

    @settings(max_examples=200, deadline=None)
    @given(st.data())
    def prop(data):
        k = data.draw(st.integers(2, 3))
        bits = data.draw(st.integers(2, 7))
        bucket_bits = data.draw(st.integers(1, min(6, k * bits - 1)))
        dims = []
        for d in range(k):
            lo = data.draw(st.integers(-1000, 1000))
            hi = data.draw(st.integers(lo, lo + 2000))
            dims.append((f"c{d}", lo, hi))
        spec = {"dims": [list(t) for t in dims], "bits": bits,
                "bucket_bits": bucket_bits}
        ranges = {}
        for c, lo, hi in dims:
            if data.draw(st.booleans()):
                qlo = data.draw(st.integers(lo - 300, hi + 300))
                qhi = data.draw(st.integers(qlo, hi + 300))
                ranges[c] = (qlo, qhi)
        kept = set(L.zbuckets_for_ranges(spec, ranges))
        # sample points inside the box (post-clamp membership checked
        # against the ORIGINAL predicate, like the read's row filter)
        for _ in range(5):
            pt = []
            for c, lo, hi in dims:
                qlo, qhi = ranges.get(c, (lo, hi))
                pt.append(data.draw(st.integers(qlo, qhi)))
            assert py_bucket(pt, dims, bits, bucket_bits) in kept, \
                (pt, spec, ranges)

    prop()


def test_bloom_builder_prober_parity_property():
    """Property pin: the pure-Python prober computes exactly the
    builder expression's bit positions for ANY m (not only powers of
    two) and any value — the invariant the no-false-negatives
    contract rests on. The Spark expression was pinned equal to the
    Python form at prime m in test_bloom_index_non_power_of_two_m;
    here hypothesis sweeps the Python form's arithmetic domain."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from aggregation_duckdb_spark.sources import layout as L

    @settings(max_examples=300, deadline=None)
    @given(st.text(min_size=0, max_size=40) | st.integers(),
           st.integers(8, 1 << 20), st.integers(1, 8))
    def prop(value, m, k):
        pos = L._bloom_pos_py(value, m, k)
        assert len(pos) == k and all(0 <= p < m for p in pos)
        # deterministic and decomposable as h1 + i*h2 mod m
        import hashlib
        h = hashlib.md5(str(value).encode("utf-8")).hexdigest()
        h1, h2 = int(h[0:15], 16), int(h[16:31], 16) * 2 + 1
        assert pos == [(h1 + i * h2) % m for i in range(k)]

    prop()


def test_auto_bucket_bits(spark, tmp_path):
    """bucket_bits="auto" sizes the coarse-bucket count from the
    input's estimated bytes: the pure rule is monotone with anchored
    scale classes (100 TB-class → 9 bits, 10 TB → 6, ≤1 TB → the
    floor 2), a tiny local frame resolves to the floor, and the
    written table reads back through the normal box path."""
    from aggregation_duckdb_spark.sources import layout as L

    TB = 1 << 40
    assert L._bits_for_bytes(1 << 20) == 2           # tiny
    assert L._bits_for_bytes(1 * TB) == 2            # <= target
    assert L._bits_for_bytes(10 * TB) == 6
    assert L._bits_for_bytes(100 * TB) == 9
    assert L._bits_for_bytes(1 << 53) == 12          # 8 PB clamps
    sizes = [1 << e for e in range(20, 55)]
    bits = [L._bits_for_bytes(s) for s in sizes]
    assert bits == sorted(bits) and all(2 <= b <= 12 for b in bits)

    df = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 20).alias("a"),
        (F.col("id") % 13).alias("b"))
    p = str(tmp_path / "t_auto")
    spec = L.write_zordered(df, p, "a", "b", bits=6,
                            bucket_bits="auto")
    assert spec["bucket_bits"] == 2                  # MB-scale input
    assert L.read_zordered(spark, p).count() == 500
    exp = sum(1 for i in range(500) if i % 20 <= 5)
    assert L.read_zordered_box(spark, p, 0, 5, 0, 12).count() == exp


def test_auto_bucket_bits_derived_frames_fall_back(spark, tmp_path):
    """bucket_bits="auto" trusts Catalyst's size estimate only on
    plans whose stats are grounded in real bytes (file scans / range
    / local relations, plus projection-filter wrappers): a join- or
    aggregate-derived frame propagates MULTIPLIED estimates that can
    overshoot by orders of magnitude — a modest derived input must
    resolve to the local default 4, never mint thousands of tiny
    bucket directories off a petabyte-scale guess."""
    from aggregation_duckdb_spark.sources import layout as L

    base = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 20).alias("a"))
    p = str(tmp_path / "src")
    base.write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p)
    # trustworthy shapes: scan, projected/filtered scan, range
    assert L._auto_bucket_bits(scan) == 2
    assert L._auto_bucket_bits(scan.where("k > 3").select("k")) == 2
    assert L._auto_bucket_bits(base) == 2
    # derived shapes fall back to the default regardless of estimate
    joined = scan.join(scan.selectExpr("k", "a as b"), "k")
    assert L._auto_bucket_bits(joined) == 4
    assert L._auto_bucket_bits(
        scan.groupBy("a").agg(F.count(F.lit(1)).alias("n"))) == 4
    assert L._auto_bucket_bits(
        scan.unionAll(scan)) == 4


def test_vacuum_age_walk_stops_at_min_live_floor(spark, tmp_path,
                                                 monkeypatch):
    """The keep_hours age walk is bounded below by the min-live
    marker: versions under it are already unreadable, so an age
    vacuum on a long-lived table must not probe the (pruned) manifest
    range back to v1 — and a pruned manifest inside the walk stops
    it instead of being skipped over."""
    from aggregation_duckdb_spark.sources import layout as L

    p = str(tmp_path / "t")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 20).alias("a"),
        (F.col("id") % 13).alias("b"))
    L.write_zordered(df, p, "a", "b", bits=4, bucket_bits=2,
                     vacuum=False)                                  # v1
    for i in range(6):                                              # v2..v7
        L.append_zordered(df.limit(2), p)
    # advance the floor: keep only the newest 3 (min-live -> v5)
    L.vacuum_zordered(spark, p, keep_versions=3)
    assert L._min_live_version(spark, p) == 5

    probed: list[int] = []
    real = L._read_manifest_version

    def spying(spk, path, v):
        probed.append(v)
        return real(spk, path, v)

    monkeypatch.setattr(L, "_read_manifest_version", spying)
    L.vacuum_zordered(spark, p, keep_versions=1, keep_hours=1.0)
    monkeypatch.undo()
    assert probed and min(probed) >= 5, probed


def test_vacuum_age_retention(spark, tmp_path):
    """vacuum_zordered(keep_hours=...) retains snapshots by commit AGE
    on top of the count window (Delta's log-retention shape): every
    stamped commit inside the window stays time-travel-readable even
    when keep_versions alone would reclaim it, and a zero-width window
    falls back to exactly the count behavior."""
    import time as _t

    import pytest as _pytest

    from aggregation_duckdb_spark.sources import layout as L

    p = str(tmp_path / "t")
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 20).alias("a"),
        (F.col("id") % 13).alias("b"), F.col("id").alias("val"))
    L.write_zordered(df, p, "a", "b", bits=5, bucket_bits=2,
                     vacuum=False)                                  # v1
    _t.sleep(1.2)
    t_mid = int(_t.time() * 1000)
    _t.sleep(1.2)
    L.append_zordered(df.limit(10), p)                              # v2
    L.append_zordered(df.limit(5), p)                               # v3

    # window that covers v2+v3 but not v1 (committed before t_mid)
    hours = (int(_t.time() * 1000) - t_mid) / 3_600_000
    out = L.vacuum_zordered(spark, p, keep_versions=1,
                            keep_hours=hours)
    assert out["kept_versions"] == [2, 3]
    assert L.read_zordered(spark, p, version=2).count() == 310
    with _pytest.raises(ValueError, match="vacuum"):
        L.read_zordered(spark, p, version=1)

    # zero-width window == pure count retention
    L.append_zordered(df.limit(3), p)                               # v4
    out = L.vacuum_zordered(spark, p, keep_versions=1, keep_hours=0.0)
    assert out["kept_versions"] == [4]
    assert L.read_zordered(spark, p).count() == 318


def test_purge_keys_physical_erasure(spark, tmp_path):
    """purge_zordered_keys leaves NO retained byte matching the keys:
    raw parquet under the table root (not the logical read, which
    tombstones could fake), no delta/tombstone/change side files (the
    tombstone batches contain the key values), and the survivors read
    back intact. Works through a column rename (logical key names)."""
    import pytest as _pytest

    from aggregation_duckdb_spark import fsio
    from aggregation_duckdb_spark.sources import layout as L

    p = str(tmp_path / "t")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") % 20).alias("a"),
        (F.col("id") % 13).alias("b"), F.col("id").alias("val"))
    L.write_zordered(df, p, "a", "b", bits=5, bucket_bits=2,
                     vacuum=False)
    L.append_zordered(df.select((F.col("k") + 400).alias("k"),
                                "a", "b", "val"), p)      # outstanding delta
    L.alter_zordered(spark, p, renames={"k": "key_id"})   # logical names

    doomed = spark.range(0, 50).select(F.col("id").alias("key_id"))
    out = L.purge_zordered_keys(doomed, p, ["key_id"])
    assert out["purged_keys"] == 50 and out["residual_matches"] == 0

    live = L.read_zordered(spark, p)
    assert live.count() == 750
    assert live.where(F.col("key_id") < 50).count() == 0
    # raw physical sweep agrees (purge verified it; re-check here)
    raw = spark.read.option("mergeSchema", "true") \
        .parquet(fsio._join(p, L.DATA_DIR))
    assert raw.where(F.col("k") < 50).count() == 0
    for d in (L.DELTA_DIR, L.TOMBSTONE_DIR, L.CHANGES_DIR):
        assert fsio.list_names(spark, fsio._join(p, d)) == []
    # pre-purge history is gone BY DESIGN (erasure excludes travel)
    with _pytest.raises(ValueError, match="vacuum"):
        L.read_zordered(spark, p, version=1)
