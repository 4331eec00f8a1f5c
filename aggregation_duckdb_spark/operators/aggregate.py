"""Hierarchical aggregation — the reference's two equivalent strategies.

1. Closure strategy (aggregation_example.sql:433-453): facts join the
   ancestor/descendant closure table on the descendant natural key —
   a deliberate one-to-many fan-out multiplying each fact row by its
   ancestor count — then a plain group-by per ancestor. Handles ragged
   and arbitrarily deep hierarchies; this is the scale path.

2. ROLLUP strategy (:308-348): facts join the pivoted reporting dim on
   the natural key, then ``GROUP BY ROLLUP`` over the level columns
   with ``GROUPING()`` bookkeeping; width-parameterized here, fixing
   the reference's hard-coded 3-level limit (:202, :325). A node's
   grouping set holds exactly its subtree's facts, so the two
   strategies agree row for row whenever ``num_levels`` covers the
   hierarchy's depth — on ragged trees too, with facts on leaves at
   any depth or on inner nodes. A grouping set deeper than the node
   its facts sit on picks a NULL key and is dropped. SURVEY §1.4.3's
   "facts on leaves at uniform maximum depth" is stricter than needed.

Scale notes: the closure/reporting dims are dimension-sized, so both
joins are broadcast — fact rows NEVER shuffle for the join, only for
the final aggregation. The expensive operator at 100 TB is the exact
COUNT(DISTINCT) after the closure fan-out (non-additive across levels,
SURVEY §1.4.4): fact rows × depth feed a distinct. Catalyst plans it as
expand + two-phase aggregate; AQE handles skew. Both strategies group
on the bigint natural key alone, never on the md5 surrogate id or the
name strings it determines, so the distinct aggregate's two shuffles
(and ROLLUP's expand, one copy per level plus one) carry 8-byte keys.
The node attributes attach after the aggregate in one broadcast join
of the dim-sized result, which then sorts in one partition. For
extreme key skew use ``distinct_count_two_stage`` (pre-distinct then
count, cuts the expand) or swap in ``approx_count_distinct``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def standard_measures(sales_col: str, qty_col: str, customer_col: str) -> list[Column]:
    """The reference's four measures (:317-320 / :440-443)."""
    return [
        F.sum(F.col(sales_col)).alias("sum_of_sales_amount"),
        F.sum(F.col(qty_col)).alias("sum_of_unit_quantity"),
        F.count_distinct(F.col(customer_col)).alias("distinct_customer_count"),
        F.count(F.lit(1)).alias("count_of_fact_records"),
    ]


def _indent(level_col: str, text: Column) -> Column:
    """Reference display indent: LPAD('-', (level−1)*7, '-') || name
    (:334-338, :435-438) — i.e. (level−1)*7 dashes; ``repeat`` is the
    portable spelling (identical in DuckDB and Spark)."""
    return F.concat(F.expr(f"repeat('-', int(({level_col} - 1) * 7))"), text)


# node attributes a report row carries, keyed by the natural key the
# aggregate groups on
_NODE_COLS = ("ancestor_node_id", "ancestor_node_natural_key",
              "ancestor_node_name", "ancestor_level_name",
              "ancestor_level_number")
_DISPLAY_COLS = ("product_level_name", "product_node_name")


def _dim_nodes(reporting_dim: DataFrame) -> DataFrame:
    """One attribute row per node, with its DFS ``node_sort_order``."""
    return reporting_dim.select(
        F.col("node_id").alias("ancestor_node_id"),
        F.col("node_natural_key").alias("ancestor_node_natural_key"),
        F.col("node_name").alias("ancestor_node_name"),
        F.col("level_name").alias("ancestor_level_name"),
        F.col("level_number").alias("ancestor_level_number"),
        F.col("node_sort_order"))


def _attach_nodes(agg: DataFrame, nodes: DataFrame, columns: list[str],
                  order_col: str) -> DataFrame:
    """Finish a report from its aggregate keyed by
    ``ancestor_node_natural_key``: one broadcast join to the node
    attributes (J4, :343-346), the display-indented names, and the sort.

    Both sides are dim-sized, so the aggregate joins without another
    shuffle, and the report has at most one row per node. That makes a
    one-partition sort cheaper than a range-partitioned ``orderBy``,
    which samples its input in a job of its own — the same reasoning
    as the single ``node_sort_order`` window in ``hierarchy/core.py``.
    """
    lvl = "ancestor_level_number"
    display = {
        "product_level_name": _indent(lvl, F.col("ancestor_level_name")),
        "product_node_name": _indent(lvl, F.col("ancestor_node_name"))}
    return (agg.join(F.broadcast(nodes), "ancestor_node_natural_key")
            .select(*[display[c].alias(c) if c in display else F.col(c)
                      for c in columns])
            .repartition(1)
            .sortWithinPartitions(order_col))


def aggregate_with_closure(facts: DataFrame, closure: DataFrame,
                           fact_key: str, measures: list[Column],
                           reporting_dim: DataFrame | None = None) -> DataFrame:
    """Closure-join strategy (:433-453). Returns one row per ancestor
    node with the aggregated measures, display-indented names, in
    deterministic DFS pre-order (when ``reporting_dim`` is provided for
    the sort order; otherwise ordered by natural-key).

    The fanned-out facts group on ``ancestor_node_natural_key`` alone
    (:448-451 also group on the id, names and level, which the key
    determines: ``Hierarchy`` validates it unique and non-null). The
    node attributes attach after the aggregate, from ``reporting_dim``
    (which must come from the closure's hierarchy) or else from the
    closure's self-pairs.
    """
    joined = facts.join(
        F.broadcast(closure),  # dim-sized; fan-out join J5 (:444-447)
        facts[fact_key] == closure["descendant_node_natural_key"], "inner")
    agg = joined.groupBy("ancestor_node_natural_key").agg(*measures)
    values = agg.columns[1:]
    if reporting_dim is not None:
        return _attach_nodes(agg, _dim_nodes(reporting_dim),
                             [*_NODE_COLS, *values, *_DISPLAY_COLS,
                              "node_sort_order"], "node_sort_order")
    nodes = closure.where(F.col("net_level") == 0).select(*_NODE_COLS)
    return _attach_nodes(agg, nodes, [*_NODE_COLS, *values, *_DISPLAY_COLS],
                         "ancestor_node_natural_key")


def aggregate_with_rollup(facts: DataFrame, reporting_dim: DataFrame,
                          fact_key: str, measures: list[Column],
                          num_levels: int) -> DataFrame:
    """ROLLUP strategy (:308-348), width-parameterized.

    Facts join the reporting dim on the natural key, roll up over
    ``level_i_node_natural_key``, pick the deepest non-rolled level via
    GROUPING() (:309-315), drop the grand-total grouping set (HAVING
    NOT GROUPING(level_1)=1, :331), and re-attach node attributes by
    joining the dim back on the picked key (:343-346, which joins on
    the surrogate id). Output has the columns of
    :func:`aggregate_with_closure` with the measures first.
    """
    level_keys = [f"level_{i}_node_natural_key" for i in range(1, num_levels + 1)]
    dim_cols = [F.col("node_natural_key").alias("__nk"), *[F.col(c) for c in level_keys]]
    joined = facts.join(
        F.broadcast(reporting_dim.select(*dim_cols)),  # J3 (:321-324)
        facts[fact_key] == F.col("__nk"), "inner")

    gflags = [F.grouping(c).alias(f"__g_{c}") for c in level_keys]
    rolled = (joined
              .rollup(*level_keys)  # A5 (:326-329)
              .agg(*measures, *gflags)
              .where(F.col(f"__g_{level_keys[0]}") == 0))  # :331 drop grand total
    values = rolled.columns[num_levels:-num_levels]  # the measures

    # CASE over GROUPING() picks the deepest retained level (:309-315),
    # generated for any width. It is NULL for a grouping set deeper
    # than the node its facts sit on (a leaf shallower than the deepest
    # level, or an inner node's own facts); such a group is part of
    # that node's shallower group, not a node of its own: drop it.
    pick = None
    for c in reversed(level_keys):
        cond, val = F.col(f"__g_{c}") == 0, F.col(c)
        pick = F.when(cond, val) if pick is None else pick.when(cond, val)
    rolled = (rolled.select(pick.alias("ancestor_node_natural_key"), *values)
              .where(F.col("ancestor_node_natural_key").isNotNull()))
    return _attach_nodes(rolled, _dim_nodes(reporting_dim),
                         [*values, *_NODE_COLS, "node_sort_order",
                          *_DISPLAY_COLS], "node_sort_order")


def distinct_count_two_stage(facts: DataFrame, closure: DataFrame,
                             fact_key: str, distinct_col: str,
                             group_cols: list[str] | None = None) -> DataFrame:
    """Skew-hardened exact distinct count per ancestor.

    At 100 TB the closure fan-out followed by COUNT(DISTINCT) is the
    bottleneck (SURVEY §1.4.4): Catalyst's expand multiplies rows again.
    Two-stage form: project to (ancestor, value), drop duplicates
    (map-side combine applies), then a cheap count — the heavy shuffle
    moves pre-deduplicated pairs only.
    """
    group_cols = group_cols or ["ancestor_node_natural_key"]
    pairs = (facts.join(F.broadcast(closure),
                        facts[fact_key] == closure["descendant_node_natural_key"], "inner")
             .select(*group_cols, F.col(distinct_col).alias("__v"))
             .dropDuplicates())
    return pairs.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("distinct_count"))
