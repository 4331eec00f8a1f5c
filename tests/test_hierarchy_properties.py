"""Property tests over generated random trees (SURVEY §5.2.3):
closure cardinality = Σ depths; pair consistency with parent pointers;
DFS pre-order invariant; rollup ≡ closure on random facts."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from aggregation_duckdb_spark.hierarchy import Hierarchy, HierarchyConfig
from aggregation_duckdb_spark.hierarchy.core import HierarchyValidationError
from aggregation_duckdb_spark.operators.aggregate import (
    aggregate_with_closure, aggregate_with_rollup)


def random_tree(rng: random.Random, n_nodes: int, max_children: int = 4):
    """Uniform-depth-ish random tree as (key, name, level, parent) rows."""
    rows = [(0, "root", "L1", None)]
    for k in range(1, n_nodes):
        parent = rng.choice(rows[:k])[0] if k > 1 else 0
        rows.append((k, f"n{k}", "Lx", parent))
    return rows


def depths(rows):
    parent = {k: p for k, _, _, p in rows}
    d = {}

    def depth(k):
        if k not in d:
            d[k] = 1 if parent[k] is None else depth(parent[k]) + 1
        return d[k]

    return {k: depth(k) for k, _, _, _ in rows}


@pytest.mark.parametrize("seed,n", [(1, 12), (7, 25), (42, 60)])
@pytest.mark.parametrize("path", ["local", "distributed"])
def test_closure_and_dfs_properties(spark, seed, n, path):
    rng = random.Random(seed)
    rows = random_tree(rng, n)
    df = spark.createDataFrame(rows, "natural_key long, name string, level_name string, parent_natural_key long")
    cfg = HierarchyConfig(
        local_build_threshold=0 if path == "distributed" else 100_000)
    h = Hierarchy.from_adjacency(df, natural_key="natural_key", name="name",
                                 level_name="level_name",
                                 parent_natural_key="parent_natural_key",
                                 config=cfg)
    d = depths(rows)
    closure = h.closure().collect()
    # |closure| = Σ node depths
    assert len(closure) == sum(d.values())
    parent = {k: p for k, _, _, p in rows}
    for r in closure:
        a, b = r["ancestor_node_natural_key"], r["descendant_node_natural_key"]
        # walk up net_level steps from descendant → must reach ancestor
        cur = b
        for _ in range(r["net_level"]):
            cur = parent[cur]
        assert cur == a
    # DFS pre-order: every node sorts after its parent; subtrees contiguous
    flat = h.flattened().collect()
    order = {r["node_natural_key"]: r["node_sort_order"] for r in flat}
    for k, _, _, p in rows:
        if p is not None:
            assert order[k] > order[p]
    # subtree contiguity: each node's subtree occupies a contiguous range
    children = {}
    for k, _, _, p in rows:
        children.setdefault(p, []).append(k)

    def subtree(k):
        out = [k]
        for c in children.get(k, []):
            out.extend(subtree(c))
        return out

    for k, _, _, _ in rows:
        positions = sorted(order[x] for x in subtree(k))
        assert positions == list(range(positions[0], positions[0] + len(positions)))


def test_rollup_equals_closure_on_random_facts(spark):
    rng = random.Random(3)
    # uniform-depth tree, facts on its leaves
    rows = [(0, "root", "L1", None)]
    leaves = []
    for b in range(3):
        k = 10 + b
        rows.append((k, f"mid{b}", "L2", 0))
        for c in range(3):
            kk = 100 + b * 10 + c
            rows.append((kk, f"leaf{b}{c}", "L3", k))
            leaves.append(kk)
    df = spark.createDataFrame(rows, "natural_key long, name string, level_name string, parent_natural_key long")
    h = Hierarchy.from_adjacency(df, natural_key="natural_key", name="name",
                                 level_name="level_name",
                                 parent_natural_key="parent_natural_key")
    facts = spark.createDataFrame(
        [(rng.choice(leaves), rng.randint(1, 5), rng.randint(1, 100))
         for _ in range(200)],
        "node_key long, customer long, amount long")
    measures = [F.sum("amount").alias("sum_amount"),
                F.count_distinct("customer").alias("dcust"),
                F.count(F.lit(1)).alias("n")]
    a = aggregate_with_closure(facts, h.closure(), "node_key", measures,
                               reporting_dim=h.reporting_dim()).collect()
    b = aggregate_with_rollup(facts, h.reporting_dim(), "node_key", measures,
                              num_levels=3).collect()
    key = lambda r: r["ancestor_node_natural_key"]
    va = {key(r): (r["sum_amount"], r["dcust"], r["n"]) for r in a}
    vb = {key(r): (r["sum_amount"], r["dcust"], r["n"]) for r in b}
    assert va == vb
    assert len(va) == len([r for r in rows])  # every node with facts below it
    # root totals
    root = va[0]
    assert root[0] == sum(r["sum_amount"] for r in a if r["ancestor_level_number"] == 3)


@pytest.mark.parametrize("facts_on", ["leaves", "all_nodes"])
@pytest.mark.parametrize("seed", [5, 23])
def test_strategies_agree_row_for_row_on_ragged_trees(spark, seed, facts_on):
    """On a random ragged tree (leaves at several depths, facts on the
    leaves or on every node), the closure and ROLLUP reports are the
    same rows in the same order across every column, and both equal a
    plain-Python subtree aggregate. Without ``reporting_dim`` the
    closure report is the same rows in natural-key order, its names
    taken from the closure."""
    rng = random.Random(seed)
    rows = random_tree(rng, 60)
    d = depths(rows)
    parent = {k: p for k, _, _, p in rows}
    leaves = sorted(set(parent) - set(parent.values()))
    assert len({d[k] for k in leaves}) >= 3       # ragged
    df = spark.createDataFrame(rows, "natural_key long, name string, level_name string, parent_natural_key long")
    h = Hierarchy.from_adjacency(df, natural_key="natural_key", name="name",
                                 level_name="level_name",
                                 parent_natural_key="parent_natural_key")
    targets = leaves if facts_on == "leaves" else sorted(parent)
    fact_rows = [(rng.choice(targets), rng.randint(1, 12), rng.randint(1, 100))
                 for _ in range(400)]
    facts = spark.createDataFrame(fact_rows, "node_key long, customer long, amount long")
    measures = [F.sum("amount").alias("sum_amount"),
                F.count_distinct("customer").alias("dcust"),
                F.count(F.lit(1)).alias("n")]
    dim = h.reporting_dim()
    a = [r.asDict() for r in aggregate_with_closure(
        facts, h.closure(), "node_key", measures, reporting_dim=dim).collect()]
    b = [r.asDict() for r in aggregate_with_rollup(
        facts, dim, "node_key", measures, num_levels=h.depth).collect()]
    shared = sorted(a[0])
    assert set(b[0]) == set(shared)     # every column is shared
    assert [[r[c] for c in shared] for r in a] == \
        [[r[c] for c in shared] for r in b]
    assert [r["node_sort_order"] for r in a] == \
        sorted(r["node_sort_order"] for r in a)

    def ancestors(k):
        while k is not None:
            yield k
            k = parent[k]

    want = {}
    for k, cust, amount in fact_rows:
        for anc in ancestors(k):
            s_, c_, n_ = want.get(anc, (0, set(), 0))
            want[anc] = (s_ + amount, c_ | {cust}, n_ + 1)
    names = {k: name for k, name, _, _ in rows}
    assert {r["ancestor_node_natural_key"]:
            (r["sum_amount"], r["dcust"], r["n"], r["product_node_name"])
            for r in a} == \
        {k: (s_, len(c_), n_, "-" * 7 * (d[k] - 1) + names[k])
         for k, (s_, c_, n_) in want.items()}

    plain = [r.asDict() for r in aggregate_with_closure(
        facts, h.closure(), "node_key", measures).collect()]
    assert [r["ancestor_node_natural_key"] for r in plain] == \
        sorted(want)
    by_key = sorted(({c: v for c, v in r.items() if c != "node_sort_order"}
                     for r in a), key=lambda r: r["ancestor_node_natural_key"])
    assert plain == by_key


def test_local_and_distributed_flatten_agree(spark):
    """The driver-side fast path and the BFS loop must produce
    identical flattened output (every column, including structs,
    paths, and sort order)."""
    rows = random_tree(random.Random(11), 40)
    df = spark.createDataFrame(rows, "natural_key long, name string, level_name string, parent_natural_key long")
    mk = lambda thr: Hierarchy.from_adjacency(
        df, natural_key="natural_key", name="name", level_name="level_name",
        parent_natural_key="parent_natural_key",
        config=HierarchyConfig(local_build_threshold=thr))
    norm = lambda h: sorted(
        (tuple(r) for r in h.flattened().collect()),
        key=lambda t: t[-1])
    local, dist = norm(mk(100_000)), norm(mk(0))
    assert local == dist
    assert mk(100_000).depth == mk(0).depth


def test_recursive_sql_closure_agrees(spark):
    """Spark 4 WITH RECURSIVE path ≡ the BFS closure on the
    natural-key projection."""
    rows = random_tree(random.Random(13), 30)
    df = spark.createDataFrame(rows, "natural_key long, name string, level_name string, parent_natural_key long")
    h = Hierarchy.from_adjacency(df, natural_key="natural_key", name="name",
                                 level_name="level_name",
                                 parent_natural_key="parent_natural_key")
    cols = ["ancestor_node_natural_key", "descendant_node_natural_key",
            "net_level"]
    a = sorted(tuple(r) for r in h.closure_recursive_sql().select(*cols).collect())
    b = sorted(tuple(r) for r in h.closure().select(*cols).collect())
    assert a == b


def test_validation_errors(spark):
    # duplicate natural key
    bad = spark.createDataFrame(
        [(1, "a", "L", None), (1, "b", "L", 1)],
        "natural_key long, name string, level_name string, parent_natural_key long")
    with pytest.raises(HierarchyValidationError):
        Hierarchy.from_adjacency(bad, natural_key="natural_key", name="name",
                                 level_name="level_name",
                                 parent_natural_key="parent_natural_key").prepared()
    # dangling parent
    dangle = spark.createDataFrame(
        [(1, "a", "L", None), (2, "b", "L", 99)],
        "natural_key long, name string, level_name string, parent_natural_key long")
    with pytest.raises(HierarchyValidationError):
        Hierarchy.from_adjacency(dangle, natural_key="natural_key", name="name",
                                 level_name="level_name",
                                 parent_natural_key="parent_natural_key").prepared()
    # cycle → exceeds max_depth
    cyc = spark.createDataFrame(
        [(1, "a", "L", 2), (2, "b", "L", 1), (3, "r", "L", None)],
        "natural_key long, name string, level_name string, parent_natural_key long")
    with pytest.raises(HierarchyValidationError):
        Hierarchy.from_adjacency(
            cyc, natural_key="natural_key", name="name",
            level_name="level_name", parent_natural_key="parent_natural_key",
            config=HierarchyConfig(max_depth=8)).flattened()


def test_reporting_dim_pivots_arbitrary_depth(spark):
    """Width parameterization (fixes the reference's hard-coded 3-level
    limit, :202/:325): a depth-6 chain pivots into level_1..level_6
    columns with correct keys and NULLs above each node's depth."""
    rows = [(k, f"n{k}", f"L{k + 1}", None if k == 0 else k - 1)
            for k in range(6)]
    df = spark.createDataFrame(rows, "natural_key long, name string, level_name string, parent_natural_key long")
    h = Hierarchy.from_adjacency(df, natural_key="natural_key", name="name",
                                 level_name="level_name",
                                 parent_natural_key="parent_natural_key")
    dim = h.reporting_dim()
    assert "level_6_node_natural_key" in dim.columns
    leaf = dim.where(F.col("node_natural_key") == 5).first()
    assert [leaf[f"level_{i}_node_natural_key"] for i in range(1, 7)] == \
        list(range(6))
    root = dim.where(F.col("node_natural_key") == 0).first()
    assert root["level_1_node_natural_key"] == 0
    assert all(root[f"level_{i}_node_natural_key"] is None
               for i in range(2, 7))


@pytest.mark.parametrize("path", ["local", "distributed"])
def test_null_natural_key_rejected(spark, path):
    rows = [(0, "root", "L1", None), (None, "bad", "L2", 0)]
    df = spark.createDataFrame(rows, "natural_key long, name string, level_name string, parent_natural_key long")
    cfg = HierarchyConfig(
        local_build_threshold=0 if path == "distributed" else 100_000)
    with pytest.raises(HierarchyValidationError, match="NULL"):
        Hierarchy.from_adjacency(
            df, natural_key="natural_key", name="name",
            level_name="level_name", parent_natural_key="parent_natural_key",
            config=cfg).flattened()


@pytest.mark.parametrize("path", ["local", "distributed"])
def test_forest_multiple_roots(spark, path):
    """Forests (several NULL-parent roots) flatten correctly: each tree
    independent, closure = Σ depths across trees."""
    rows = [(0, "rootA", "L1", None), (1, "a1", "L2", 0),
            (10, "rootB", "L1", None), (11, "b1", "L2", 10),
            (12, "b2", "L3", 11)]
    df = spark.createDataFrame(rows, "natural_key long, name string, level_name string, parent_natural_key long")
    cfg = HierarchyConfig(
        local_build_threshold=0 if path == "distributed" else 100_000)
    h = Hierarchy.from_adjacency(df, natural_key="natural_key", name="name",
                                 level_name="level_name",
                                 parent_natural_key="parent_natural_key",
                                 config=cfg)
    flat = h.flattened().collect()
    assert len(flat) == 5
    levels = {r["node_natural_key"]: r["level_number"] for r in flat}
    assert levels == {0: 1, 1: 2, 10: 1, 11: 2, 12: 3}
    assert h.closure().count() == 1 + 2 + 1 + 2 + 3


def test_closure_recursive_sql_raises_cte_row_limit(spark):
    """Spark 4 fails a recursive CTE past spark.sql.cteRecursionRowLimit
    (default 1M rows — one per node here, found by the depth-12/1M
    probe): closure_recursive_sql must size the limit up from the
    node count instead of dying mid-query on large dims."""
    from aggregation_duckdb_spark.hierarchy.core import Hierarchy

    rows = [("n0", None, "k0", "root", "L1")] + [
        (f"n{i}", "n0", f"k{i}", f"node {i}", "L2")
        for i in range(1, 60)]
    nodes = spark.createDataFrame(
        rows, "node_id string, parent_node_id string, "
              "node_natural_key string, node_name string, "
              "level_name string")
    old = spark.conf.get("spark.sql.cteRecursionRowLimit", None)
    spark.conf.set("spark.sql.cteRecursionRowLimit", "50")  # < 60 nodes
    try:
        got = Hierarchy(nodes).closure_recursive_sql().count()
        assert got == 1 + 59 * 2           # root self + per-child (self, root)
        assert int(spark.conf.get("spark.sql.cteRecursionRowLimit")) > 60
    finally:
        if old is not None:
            spark.conf.set("spark.sql.cteRecursionRowLimit", old)
        else:
            spark.conf.unset("spark.sql.cteRecursionRowLimit")
