"""Hierarchical-location operators (SURVEY.md section 2.4 J4/J5).

The reference matches facts to schedule zones at three granularities —
exact location, 4-level cost-center prefix, 5-level prefix — by running
three joins, unioning, and deduping (code/ukg_open_census.py:710-727).
We keep those union-of-joins semantics (SURVEY 7.5 risk 1 pins the NEW
variant: union all levels then distinct, no per-level filtering) but
with native prefix expressions instead of the reference's Python UDFs.

Scale: the levels become one exploded-candidate-key join against the
broadcast zone side, so the fact side is scanned once, not once per
level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import materialize
from ..functions import prefix_path


def hierarchical_fallback_join(
    facts: DataFrame,
    dims: DataFrame,
    fact_path_col: str,
    dim_path_col: str,
    levels: tuple[int, ...] = (4, 5),
) -> DataFrame:
    """Union of exact + per-level prefix joins, then distinct (J4).

    Level 0 (exact): fact.path == dim.path;
    level k: prefix_path(fact.path, k) == dim.path — a zone defined at
    cost-center level matches every location under it.

    Computed as ONE join: each fact explodes into its distinct
    candidate keys (its path and each prefix), one equi-join on the
    candidate key, then distinct — one scan of facts instead of one
    per level, same rows as the union of the per-level joins.  The dim
    side is broadcast: zone tables are dimension-sized, and dims built
    from aggregates carry no size statistics, so Catalyst would
    otherwise pick a sort-merge join.
    """
    cands = F.array_distinct(
        F.array(
            F.col(fact_path_col),
            *[prefix_path(F.col(fact_path_col), lv) for lv in levels],
        )
    )
    exploded = facts.withColumn("__cand", F.explode(cands))
    d = F.broadcast(dims.withColumnRenamed(dim_path_col, "__cand"))
    return exploded.join(d, "__cand", "inner").drop("__cand").distinct()


def coalesce_fallback_columns(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    fallback_cols: dict[str, tuple[str, str]],
) -> DataFrame:
    """Left join + coalesce fill (J5, code/ukg_open_census_old.py:208-212):
    for each output col, take the left value unless null, else the
    right's.  ``fallback_cols`` maps output -> (left_col, right_col)."""
    j = left.join(right, on, "left")
    for out_col, (lc, rc) in fallback_cols.items():
        j = j.withColumn(out_col, F.coalesce(F.col(lc), F.col(rc)))
    return j


def bom_rollup(
    edges: DataFrame,
    roots: DataFrame,
    max_depth: int,
    parent_col: str = "parent",
    child_col: str = "child",
    qty_col: str = "qty",
    root_col: str = "node",
) -> DataFrame:
    """Multi-level bill-of-materials explosion: total demand for
    every component under each root assembly, per-unit quantities
    MULTIPLYING down the tree and summing across alternative paths —
    the recursive-hierarchy aggregate behind parts explosion, cost
    rollups, and org-tree allocation.  Depth is hard-capped at
    ``max_depth`` (the cycle guard: a BOM is a DAG, but a data bug
    that introduces a cycle must cost bounded work, not an infinite
    loop).

    Scale shape: level-synchronous frontier iteration — each level is
    ONE equi-join of the current frontier against the static
    ``localCheckpoint``-ed edge table keyed on the parent, with a
    (root, node) pre-aggregate per level so parallel paths collapse
    BEFORE the next multiply (the frontier never exceeds distinct
    (root, component) pairs).  Every level is checkpointed too —
    without the lineage cut each level re-derives all its
    predecessors once per downstream reference, turning d levels into
    O(d²) re-scans of the caller's edge build.  Quantities ride as
    DECIMAL(38,0) products of integer per-unit counts — exact at any
    depth that fits 38 digits.  Call
    ``release_components(result)`` after consuming to free the
    checkpointed level blocks.

    Returns (root, component, total_qty) for every component strictly
    below a root, all path contributions summed.
    """
    if max_depth < 1:
        raise ValueError(f"max_depth must be >= 1, got {max_depth}")
    with materialize.scope() as ms:
        e = ms.checkpoint(
            edges.select(
                F.col(parent_col).alias("__p"),
                F.col(child_col).alias("__c"),
                F.col(qty_col).cast("decimal(38,0)").alias("__q"),
            )
        )
        frontier = roots.select(
            F.col(root_col).alias("__root"),
            F.col(root_col).alias("__node"),
            F.lit(1).cast("decimal(38,0)").alias("__mult"),
        )
        steps = []
        from pyspark.sql import Observation

        for _ in range(max_depth):
            # the emptiness probe rides the checkpoint job as an
            # Observation (the bfs_distances trick) so frontier
            # exhaustion stops the loop without a second job per level
            obs = Observation()
            step = ms.checkpoint(
                frontier.join(e, frontier["__node"] == e["__p"])
                .select(
                    "__root",
                    F.col("__c").alias("__node"),
                    (F.col("__mult") * F.col("__q")).alias("__mult"),
                )
                .groupBy("__root", "__node")
                .agg(F.sum("__mult").alias("__mult"))
                .observe(obs, F.count(F.lit(1)).alias("__n"))
            )
            if int(obs.get["__n"] or 0) == 0:
                break
            steps.append(step)
            frontier = step
        if not steps:
            # no root has any children: empty result with the right schema
            steps = [frontier.limit(0)]
        total = steps[0]
        for step in steps[1:]:
            total = total.unionAll(step)
        result = (
            total.groupBy("__root", "__node")
            .agg(F.sum("__mult").alias("total_qty"))
            .select(
                F.col("__root").alias("root"),
                F.col("__node").alias("component"),
                F.col("total_qty").cast("long").alias("total_qty"),
            )
        )
        return ms.attach(result)
