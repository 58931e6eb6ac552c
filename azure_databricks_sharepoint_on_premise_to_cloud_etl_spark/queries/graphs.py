"""Query catalog — graph, entity resolution, experimentation.

Split from the former monolithic queries.py (round 11); the
registry dicts are defined once (QUERIES/_EXTENSION_ORACLES in
.core, AUX_QUERIES/AUX_ORACLES in .curation) and mutated by the
registration statements each family module keeps.
"""
from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import materialize
from ..sources.registry import load_table, rebalance, register_temp_views

from .core import (
    _DUCK_COSINE,
    _MINHASH_BANDS,
    _MINHASH_K,
    _MINHASH_N,
    _minhash_oracle,
    _stream_events,
    dedup,
    intervals,
    sampling,
    similarity,
    text,
    windows,
)
from .curation import (
    AUX_ORACLES,
    AUX_QUERIES,
    ORACLE_FUZZY,
)
from .retrieval import (
    STREAMING_PLAN_BUILDERS,
)

# ---------------------------------------------------------------------------
# Round 9 (cont.): graph density/reachability, EWMA, multi-touch
# attribution, dedup canonical selection
# ---------------------------------------------------------------------------


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core (k=2) of the part co-purchase graph: parts are linked
    when they co-occur in ≥ 2 orders (the ≥2 support cut keeps the
    skewed tail — popular-part hubs — and prunes the random-pairing
    noise that would otherwise make the core transition degenerate).
    The 2-core is the cycle-carrying skeleton: multi-round peels and
    a nonempty core at BOTH sf0.01 (3 rounds, 1562 survivors) and
    sf0.1 (6 rounds, 18 survivors).
    operators/graph.py k_core — distributed peel, one degree
    aggregate + two anti-joins per round over an only-shrinking
    checkpointed edge table.  The oracle unrolls the identical peel
    as chained CTEs; k_core raises rather than return a non-fixpoint,
    so fixed-depth unroll == fixpoint whenever a result exists."""
    from ..operators import graph

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return graph.k_core(edges, k=2, max_iterations=12)


def _kcore_oracle(k: int = 2, peels: int = 12) -> str:
    base = (
        "SELECT a.l_partkey AS a, b.l_partkey AS b "
        "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey "
        "AND a.l_partkey < b.l_partkey "
        "GROUP BY 1, 2 HAVING count(*) >= 2"
    )
    # MATERIALIZED: DuckDB inlines plain CTEs, and each peel level
    # references its predecessor three times — inlined, the unroll
    # expands 3^peels scans of the base table (observed: fd
    # exhaustion); materialized, each level runs once.
    parts = [f"e0 AS MATERIALIZED ({base})"]
    for i in range(1, peels + 1):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT node, count(*) AS core_deg FROM ("
            f"SELECT a AS node FROM e{i-1} UNION ALL "
            f"SELECT b AS node FROM e{i-1}) GROUP BY 1)"
        )
        parts.append(
            f"low{i} AS MATERIALIZED "
            f"(SELECT node FROM d{i} WHERE core_deg < {k})"
        )
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT a, b FROM e{i-1} "
            f"WHERE a NOT IN (SELECT node FROM low{i}) "
            f"AND b NOT IN (SELECT node FROM low{i}))"
        )
    final = (
        f"SELECT node, core_deg FROM (SELECT node, count(*) AS core_deg "
        f"FROM (SELECT a AS node FROM e{peels} UNION ALL "
        f"SELECT b AS node FROM e{peels}) GROUP BY 1) WHERE core_deg >= {k}"
    )
    return "WITH " + ",\n".join(parts) + "\n" + final


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the part–supplier graph: minimum hop
    distance (≤ 4) from the seed parts (l_partkey % 500 = 1).
    operators/graph.py bfs_distances — delta-frontier iteration
    against a static checkpointed symmetrized edge table; the oracle
    unrolls the same four expansions as chained CTEs."""
    from ..operators import graph

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.lit(10_000_000) + F.col("l_suppkey")).alias("dst"),
    )
    seeds = li.filter(F.col("l_partkey") % 500 == 1).select(
        F.col("l_partkey").alias("node")
    )
    return graph.bfs_distances(edges, seeds, max_hops=4)


def _bfs_oracle(max_hops: int = 4) -> str:
    parts = [
        "edges AS ("
        "SELECT DISTINCT l_partkey AS u, 10000000 + l_suppkey AS v "
        "FROM lineitem UNION "
        "SELECT DISTINCT 10000000 + l_suppkey AS u, l_partkey AS v "
        "FROM lineitem)",
        "d0 AS (SELECT DISTINCT l_partkey AS node, 0 AS hops "
        "FROM lineitem WHERE l_partkey % 500 = 1)",
    ]
    for h in range(1, max_hops + 1):
        parts.append(
            f"f{h} AS (SELECT DISTINCT e.v AS node FROM edges e "
            f"JOIN d{h-1} p ON e.u = p.node AND p.hops = {h-1} "
            f"WHERE e.v NOT IN (SELECT node FROM d{h-1}))"
        )
        parts.append(
            f"d{h} AS (SELECT node, hops FROM d{h-1} "
            f"UNION ALL SELECT node, {h} AS hops FROM f{h})"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, hops FROM d{max_hops}"


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type EWMA (α=0.5, adjust=True) of the daily event
    count — the trend-smoothing pass over an already-bounded rollup.
    operators/windows.py ewma_smooth: one cumulative window sum per
    key; with α=0.5 and integral inputs every partial sum is exact,
    so the oracle hash-matches bit-for-bit (see the operator's
    determinism contract)."""
    from ..operators import windows as w

    e = rebalance(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("__n"))
    out = w.ewma_smooth(daily, ["event_type"], "day", "__n", alpha=0.5)
    return out.select(
        "event_type",
        "day",
        F.col("__n").cast("long").alias("n_events"),
        F.round("ewma", 6).alias("ewma"),
    )


ORACLE_EWMA = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
    FROM events GROUP BY 1, 2
),
idx AS (
    SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS i
    FROM daily
),
s AS (
    SELECT *,
           sum(n_events * power(2.0, i))
               OVER (PARTITION BY event_type ORDER BY i) AS num,
           sum(power(2.0, i))
               OVER (PARTITION BY event_type ORDER BY i) AS den
    FROM idx
)
SELECT event_type, day, n_events, round(num / den, 6) AS ewma FROM s
"""


def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value split
    across the user's preceding touches in proportion to per-channel
    touch counts (uniform credit), untouched purchases to '(none)'.
    operators/funnels.py linear_attribution — cumulative conditional
    counts over ONE user-keyed window (channels are declared, so no
    conversion×touch range join); the oracle computes the same credit
    from the explicit quadratic formulation."""
    from ..operators import funnels

    e = rebalance(load_table(spark, sf_dir, "events"))
    return funnels.linear_attribution(
        e, "purchase", channels=["view", "click", "signup", "error"]
    )


ORACLE_LINEAR_ATTRIBUTION = """
WITH conv AS (
    SELECT event_id, user_id, ts, value FROM events
    WHERE event_type = 'purchase'
),
per AS (
    SELECT c.event_id, c.value, t.event_type AS channel,
           count(*) AS n,
           sum(count(*)) OVER (PARTITION BY c.event_id) AS tot
    FROM conv c JOIN events t
      ON t.user_id = c.user_id AND t.ts <= c.ts
     AND t.event_type <> 'purchase'
    GROUP BY 1, 2, 3
),
cred AS (
    SELECT channel, value * n / tot AS credit FROM per
    UNION ALL
    SELECT '(none)' AS channel, c.value AS credit FROM conv c
    WHERE NOT EXISTS (
        SELECT 1 FROM events t
        WHERE t.user_id = c.user_id AND t.ts <= c.ts
          AND t.event_type <> 'purchase')
)
SELECT channel, count(*) AS n_conversions,
       round(sum(credit), 4) AS attributed_value
FROM cred GROUP BY 1
"""


def q_dedup_canonical_by_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the step that turns near-dup
    CLUSTERS into a deduplicated corpus: per duplicate cluster keep
    the best document (longest text, ties to the smallest doc_id) and
    report cluster size.  Composes the verified MinHash→LSH→CC
    pipeline (dedup_components' machinery) with one window over the
    component-keyed result; emits only multi-document clusters (the
    singleton majority needs no decision).  The oracle reuses the
    recursive-CTE component fixpoint plus the same window."""
    from ..operators.graph import connected_components

    d = rebalance(load_table(spark, sf_dir, "documents"))
    sigs = dedup.minhash_signatures(d, k=_MINHASH_K, num_hashes=_MINHASH_N)
    pairs = dedup.lsh_candidate_pairs(
        sigs, num_hashes=_MINHASH_N, bands=_MINHASH_BANDS
    )
    with materialize.scope() as ms:
        comp = ms.hold(connected_components(pairs, d.select("doc_id")))
        joined = comp.join(d.select("doc_id", "n_chars"), "doc_id")
        wc = Window.partitionBy("component")
        wr = wc.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        ranked = joined.select(
            "*",
            F.row_number().over(wr).alias("__rn"),
            F.count(F.lit(1)).over(wc).alias("n_docs"),
        )
        out = ranked.filter((F.col("__rn") == 1) & (F.col("n_docs") > 1)).select(
            "component",
            F.col("doc_id").alias("canonical_doc"),
            "n_docs",
            F.col("n_chars").alias("kept_chars"),
        )
        return ms.attach(out)


def _canonical_by_size_oracle() -> str:
    pairs = _minhash_oracle().strip().rstrip(";")
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b AS a, id_a AS b FROM pairs
),
reach (src, dst) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (
    SELECT d.doc_id,
           least(d.doc_id,
                 coalesce((SELECT min(dst) FROM reach WHERE src = d.doc_id),
                          d.doc_id)) AS component,
           d.n_chars
    FROM documents d
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY component
                              ORDER BY n_chars DESC, doc_id) AS rn,
           count(*) OVER (PARTITION BY component) AS n_docs
    FROM comp
)
SELECT component, doc_id AS canonical_doc, n_docs, n_chars AS kept_chars
FROM ranked WHERE rn = 1 AND n_docs > 1
"""


AUX_QUERIES["kcore"] = q_kcore
AUX_ORACLES["kcore"] = _kcore_oracle()
AUX_QUERIES["bfs_hops"] = q_bfs_hops
AUX_ORACLES["bfs_hops"] = _bfs_oracle()
AUX_QUERIES["ewma"] = q_ewma
AUX_ORACLES["ewma"] = ORACLE_EWMA
AUX_QUERIES["linear_attribution"] = q_linear_attribution
AUX_ORACLES["linear_attribution"] = ORACLE_LINEAR_ATTRIBUTION
# key matches the function it maps to — the driver registry owns the
# key "dedup_keep_best" (queries/core.py q_dedup_keep_best); reusing it
# here would make the AUX artifact row read as verifying the wrong
# query (r10 shadowing class, enforced disjoint by
# tests/test_aux_queries.py::test_registry_integrity)
AUX_QUERIES["dedup_canonical_by_size"] = q_dedup_canonical_by_size
AUX_ORACLES["dedup_canonical_by_size"] = _canonical_by_size_oracle()

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded weighted shortest-path costs (Bellman–Ford, ≤ 4
    hops) over the symmetrized part–supplier graph, edge weight = the
    pair's minimum lineitem quantity (integral, so min-plus arithmetic
    is exact cross-engine), seeds = parts with l_partkey % 500 = 1.
    operators/graph.py shortest_path_costs — per round one equi-join
    against the static checkpointed edge table + a map-side-combined
    min aggregate; early exit on a no-improvement round is what makes
    the fixed-depth CTE unroll an exact oracle."""
    from ..operators import graph

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    w = li.groupBy(
        F.col("l_partkey").alias("p"),
        (F.lit(10_000_000) + F.col("l_suppkey")).alias("s"),
    ).agg(F.min("l_quantity").cast("long").alias("w"))
    edges = w.select(
        F.col("p").alias("src"), F.col("s").alias("dst"), F.col("w").alias("weight")
    ).unionAll(
        w.select(
            F.col("s").alias("src"), F.col("p").alias("dst"), F.col("w").alias("weight")
        )
    )
    seeds = li.filter(F.col("l_partkey") % 500 == 1).select(
        F.col("l_partkey").alias("node")
    )
    return graph.shortest_path_costs(edges, seeds, max_hops=4)


def _shortest_paths_oracle(max_hops: int = 4) -> str:
    parts = [
        "w AS MATERIALIZED (SELECT l_partkey AS p, 10000000 + l_suppkey AS s, "
        "CAST(min(l_quantity) AS BIGINT) AS w FROM lineitem GROUP BY 1, 2)",
        "edges AS MATERIALIZED (SELECT p AS u, s AS v, w FROM w "
        "UNION ALL SELECT s AS u, p AS v, w FROM w)",
        "d0 AS MATERIALIZED (SELECT DISTINCT l_partkey AS node, "
        "CAST(0 AS BIGINT) AS cost FROM lineitem WHERE l_partkey % 500 = 1)",
    ]
    for h in range(1, max_hops + 1):
        parts.append(
            f"c{h} AS MATERIALIZED (SELECT e.v AS node, min(d.cost + e.w) AS cost "
            f"FROM d{h-1} d JOIN edges e ON e.u = d.node GROUP BY 1)"
        )
        parts.append(
            f"d{h} AS MATERIALIZED (SELECT node, min(cost) AS cost FROM "
            f"(SELECT * FROM d{h-1} UNION ALL SELECT * FROM c{h}) GROUP BY 1)"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, cost FROM d{max_hops}"


AUX_QUERIES["shortest_paths"] = q_shortest_paths
AUX_ORACLES["shortest_paths"] = _shortest_paths_oracle()

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands engagement streaks: per user, the distinct
    purchase-active days grouped into maximal consecutive-day runs —
    active day count, number of streaks, longest streak.
    operators/intervals.py streaks — distinct-first cardinality
    collapse, then a key-partitioned window (no global sort)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    return intervals.streaks(e, "ts", ["user_id"], grain="day")


ORACLE_STREAKS = """
WITH active AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
    FROM events WHERE event_type = 'purchase'
),
isl AS (
    SELECT user_id,
           CAST(d - DATE '1970-01-01' AS BIGINT)
               - row_number() OVER (PARTITION BY user_id ORDER BY d ASC)
               AS island
    FROM active
),
runs AS (
    SELECT user_id, island, count(*) AS run_len
    FROM isl GROUP BY 1, 2
)
SELECT user_id,
       CAST(sum(run_len) AS BIGINT) AS active_days,
       count(*) AS n_streaks,
       CAST(max(run_len) AS BIGINT) AS longest_streak
FROM runs GROUP BY user_id
"""

AUX_QUERIES["streaks"] = q_streaks
AUX_ORACLES["streaks"] = ORACLE_STREAKS


def q_label_spreading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the symmetrized
    part–supplier co-occurrence graph: a third of the suppliers are
    seeded with their nation, and 3 synchronous plurality rounds
    spread origin labels to parts and unseeded suppliers.
    operators/graph.py label_spreading — fixed round count +
    deterministic (count DESC, label ASC) tie order makes the
    unrolled SQL below an exact oracle."""
    from ..operators import graph

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    sup = load_table(spark, sf_dir, "supplier")
    pairs = li.select(
        F.col("l_partkey").alias("p"),
        (F.lit(10_000_000) + F.col("l_suppkey")).alias("s"),
    ).distinct()
    edges = pairs.select(F.col("p").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    seeds = sup.filter(F.col("s_suppkey") % 3 == 0).select(
        (F.lit(10_000_000) + F.col("s_suppkey")).alias("node"),
        F.col("s_nationkey").cast("long").alias("label"),
    )
    return graph.label_spreading(edges, seeds, rounds=3)


def _label_spreading_oracle(rounds: int = 3) -> str:
    parts = [
        "pairs AS MATERIALIZED (SELECT DISTINCT l_partkey AS p, "
        "10000000 + l_suppkey AS s FROM lineitem)",
        "edges AS MATERIALIZED (SELECT p AS u, s AS v FROM pairs "
        "UNION ALL SELECT s AS u, p AS v FROM pairs)",
        "l0 AS MATERIALIZED (SELECT DISTINCT 10000000 + s_suppkey AS node, "
        "CAST(s_nationkey AS BIGINT) AS label FROM supplier "
        "WHERE s_suppkey % 3 = 0)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT e.v AS node, l.label, count(*) AS c "
            f"FROM l{r-1} l JOIN edges e ON e.u = l.node GROUP BY 1, 2)"
        )
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT node, label FROM ("
            f"SELECT node, label, row_number() OVER "
            f"(PARTITION BY node ORDER BY c DESC, label ASC) AS rn FROM c{r}"
            f") WHERE rn = 1)"
        )
        parts.append(
            f"l{r} AS MATERIALIZED (SELECT * FROM l0 UNION ALL "
            f"SELECT node, label FROM p{r} "
            f"WHERE node NOT IN (SELECT node FROM l0))"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, label FROM l{rounds}"


AUX_QUERIES["label_spreading"] = q_label_spreading
AUX_ORACLES["label_spreading"] = _label_spreading_oracle()

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest-and-soonest Pareto frontier over lineitem offers:
    (ship_date, price) points not dominated on (earlier, cheaper).
    operators/windows.py skyline_2d — global prefix-min via the
    range-partitioned two-phase recipe, never a dominance self-join."""
    li = rebalance(load_table(spark, sf_dir, "lineitem")).select(
        F.col("l_shipdate").alias("ship_date"),
        F.col("l_extendedprice").alias("price"),
    )
    return windows.skyline_2d(li, "ship_date", "price")


ORACLE_SKYLINE = """
WITH pts AS (
    SELECT DISTINCT l_shipdate AS ship_date, l_extendedprice AS price
    FROM lineitem
),
m AS (
    SELECT ship_date, price,
           min(price) OVER (ORDER BY ship_date ASC, price ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pm
    FROM pts
)
SELECT ship_date, price FROM m WHERE pm IS NULL OR price < pm
"""

AUX_QUERIES["skyline"] = q_skyline
AUX_ORACLES["skyline"] = ORACLE_SKYLINE


def q_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity coverage: every event opens a 20-minute
    attention window; overlapping windows coalesce into maximal spans
    (operators/intervals.py merge_intervals) and the per-user span
    count and exact covered microseconds summarize the result.
    Microsecond-long arithmetic keeps the covered sum integral, so
    the cross-engine hash is exact."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 20 MINUTE")).alias("e"),
    )
    m = intervals.merge_intervals(e, "s", "e", ["user_id"])
    return m.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.expr("timestampdiff(MICROSECOND, s, e)")).alias("covered_us"),
    )


ORACLE_MERGE_INTERVALS = """
WITH iv AS (
    SELECT user_id, ts AS s, ts + INTERVAL 20 MINUTE AS e FROM events
),
g AS (
    SELECT user_id, s, e,
           max(e) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pme
    FROM iv
),
b AS (
    SELECT user_id, s, e,
           CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS brk
    FROM g
),
sp AS (
    SELECT user_id, s, e,
           sum(brk) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
                          ROWS UNBOUNDED PRECEDING) AS span
    FROM b
),
m AS (
    SELECT user_id, span, min(s) AS ms, max(e) AS me
    FROM sp GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_spans,
       CAST(sum(epoch_us(me) - epoch_us(ms)) AS BIGINT) AS covered_us
FROM m GROUP BY user_id
"""

AUX_QUERIES["merge_intervals"] = q_merge_intervals
AUX_ORACLES["merge_intervals"] = ORACLE_MERGE_INTERVALS

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-volume-weighted median price per return flag: each
    lineitem row carries quantity units, and the median is taken over
    UNITS, not rows.  operators/stats.py weighted_percentile —
    duplicate prices collapse before the window and the num/den pick
    is exact long arithmetic (no float threshold)."""
    from ..operators import stats

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    out = stats.weighted_percentile(
        li, "l_extendedprice", "l_quantity", ["l_returnflag"]
    )
    return out.withColumnRenamed("p1_2_l_extendedprice", "wmedian_price")


ORACLE_WEIGHTED_MEDIAN = """
WITH pv AS (
    SELECT l_returnflag, l_extendedprice AS v,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
    FROM lineitem GROUP BY 1, 2
),
c AS (
    SELECT l_returnflag, v,
           sum(w) OVER (PARTITION BY l_returnflag ORDER BY v ASC
                        ROWS UNBOUNDED PRECEDING) AS cum,
           sum(w) OVER (PARTITION BY l_returnflag) AS tot
    FROM pv
)
SELECT l_returnflag, min(v) AS wmedian_price
FROM c WHERE 2 * cum >= tot GROUP BY 1
"""

AUX_QUERIES["weighted_median"] = q_weighted_median
AUX_ORACLES["weighted_median"] = ORACLE_WEIGHTED_MEDIAN


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted arm means for a planted A/B split
    (arm = user_id % 2): metric = per-user purchase value in the
    back half of January, covariate = the user's TOTAL event value in
    the front half (pre-period, assignment-independent).
    operators/stats.py cuped — one corpus aggregate, moments rounded
    before derivation so the oracle agrees bit-for-bit."""
    from ..operators import stats

    e = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    u = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, F.col("value")).otherwise(F.lit(0.0))).alias(
            "x"
        ),
        F.sum(
            F.when(
                (F.col("ts") >= cut) & (F.col("event_type") == "purchase"),
                F.col("value"),
            ).otherwise(F.lit(0.0))
        ).alias("y"),
    ).withColumn("arm", F.col("user_id") % 2)
    return stats.cuped(u, "y", "x", "arm")


ORACLE_CUPED = """
WITH u AS (
    SELECT user_id,
           sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                    THEN value ELSE 0 END) AS x,
           sum(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                         AND event_type = 'purchase'
                    THEN value ELSE 0 END) AS y,
           user_id % 2 AS arm
    FROM events GROUP BY user_id
),
arms AS (
    SELECT arm, count(*) AS n,
           round(avg(x), 6) AS mx, round(avg(y), 6) AS my,
           round(avg(x * y), 6) AS mxy, round(avg(x * x), 6) AS mxx,
           round(avg(y * y), 6) AS myy
    FROM u GROUP BY arm
),
p AS (
    SELECT *,
           sum(n * mx) OVER () / sum(n) OVER () AS px,
           sum(n * my) OVER () / sum(n) OVER () AS py,
           sum(n * mxy) OVER () / sum(n) OVER () AS pxy,
           sum(n * mxx) OVER () / sum(n) OVER () AS pxx,
           sum(n * myy) OVER () / sum(n) OVER () AS pyy
    FROM arms
)
SELECT arm, n, my AS mean_y,
       round(my - ((pxy - px * py) / (pxx - px * px)) * (mx - px), 6)
           AS mean_y_adj,
       round((pxy - px * py) / (pxx - px * px), 6) AS theta,
       round(100.0 * (pxy - px * py) * (pxy - px * py)
             / ((pxx - px * px) * (pyy - py * py)), 4)
           AS var_reduction_pct
FROM p
"""

AUX_QUERIES["cuped"] = q_cuped
AUX_ORACLES["cuped"] = ORACLE_CUPED

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quasi-identifier audit of the customer projection
    (nation × market segment): combinations with fewer than 10
    members — the rows a k-anonymous release must suppress.
    operators/stats.py k_anonymity_audit."""
    from ..operators import stats

    c = load_table(spark, sf_dir, "customer")
    return stats.k_anonymity_audit(c, ["c_nationkey", "c_mktsegment"], k=10)


ORACLE_K_ANONYMITY = """
SELECT c_nationkey, c_mktsegment, count(*) AS n
FROM customer GROUP BY 1, 2 HAVING count(*) < 10
"""

AUX_QUERIES["k_anonymity"] = q_k_anonymity
AUX_ORACLES["k_anonymity"] = ORACLE_K_ANONYMITY


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event value distribution,
    view population as the base vs purchase as the comparison, decile
    bins from the base side.  operators/stats.py psi_drift —
    distinct-value collapse first, arithmetic (DIV) bin assignment,
    no boundary join."""
    from ..operators import stats

    e = load_table(spark, sf_dir, "events")
    return stats.psi_drift(e, "value", "event_type", "view", "purchase")


ORACLE_PSI_DRIFT = """
WITH pv AS (
    SELECT value AS v,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS nb,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS nc
    FROM events
    WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
    GROUP BY 1
),
st AS (
    SELECT nb, nc,
           coalesce(sum(nb) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED
                                  PRECEDING AND 1 PRECEDING), 0) AS cum_prev,
           sum(nb) OVER () AS n
    FROM pv
),
b AS (
    SELECT least(9, (10 * cum_prev) // n) AS bin,
           CAST(sum(nb) AS BIGINT) AS n_base,
           CAST(sum(nc) AS BIGINT) AS n_cmp
    FROM st GROUP BY 1
)
SELECT bin, n_base, n_cmp,
       round(((n_base + 0.5) / (sum(n_base) OVER () + 5.0)
              - (n_cmp + 0.5) / (sum(n_cmp) OVER () + 5.0))
             * ln(((n_base + 0.5) / (sum(n_base) OVER () + 5.0))
                  / ((n_cmp + 0.5) / (sum(n_cmp) OVER () + 5.0))),
             6) AS psi_term
FROM b
"""

AUX_QUERIES["psi_drift"] = q_psi_drift
AUX_ORACLES["psi_drift"] = ORACLE_PSI_DRIFT

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over part names: value-collapsed
    token-blocked fuzzy matching (edit distance ≤ 2,
    dedup.fuzzy_value_pairs on the distinct-name domain) → transitive
    closure on the NAME graph (graph.connected_components over
    min-id-per-name nodes; same components as the id-level closure
    because same-name groups are dist-0 cliques) → expand back
    through the id→name map → canonical name = the entity-id member's
    name, joined back broadcast-small.  One row per part:
    ``(p_partkey, entity_id, canonical_name)`` — the classic
    dedupe-then-survivorship pipeline with the classic domain
    contraction.  The oracle replays the closure as a DuckDB RECURSIVE
    fixpoint over the id-level pair set (dedup.fuzzy_name_pairs'
    contract), pinning the collapsed form against the expanded one."""
    from ..functions import normalize_text
    from ..operators.graph import connected_components

    p = rebalance(load_table(spark, sf_dir, "part")).select("p_partkey", "p_name")
    # Value-collapsed closure: blocking, the banded levenshtein verify
    # AND transitive closure all depend only on the normalized name, so
    # the whole pipeline contracts to the DISTINCT-name domain — every
    # same-name id group is a clique (reflexive dist-0 pair), so the id
    # graph's components are exactly the name graph's components
    # expanded through the id→name map.  This is graph.contract_edges'
    # pre-collapse (5.5M -> ~2k edges at sf0.1) obtained for free from
    # equi-value structure: no Arrow hop, two narrow hash joins.  The
    # name-node id is min(p_partkey) per name, so the component label
    # (min reachable node) IS min(p_partkey) over the entity — the same
    # entity_id the id-level closure yields.
    ids = p.select(
        F.col("p_partkey").alias("__id"),
        normalize_text("p_name").alias("__name"),
    )
    nmap = (
        ids.filter(F.col("__name").isNotNull())
        .groupBy("__name")
        .agg(F.min("__id").alias("__node"))
    )
    vals = dedup.fuzzy_value_pairs(p, "p_name", max_dist=2)
    edges = (
        vals.filter(F.col("name_a") < F.col("name_b"))
        .join(
            nmap.select(
                F.col("__name").alias("name_a"), F.col("__node").alias("id_a")
            ),
            "name_a",
        )
        .join(
            nmap.select(
                F.col("__name").alias("name_b"), F.col("__node").alias("id_b")
            ),
            "name_b",
        )
        .select("id_a", "id_b")
    )
    with materialize.scope() as ms:
        comp = ms.hold(
            connected_components(
                edges, nmap.select(F.col("__node").alias("p_partkey")),
                node_col="p_partkey",
            )
        )
        name_comp = nmap.join(
            comp, nmap["__node"] == comp["p_partkey"]
        ).select("__name", "component")
        out = (
            ids.join(name_comp, "__name", "left")
            # NULL-named rows never pair/block: they stay their own entity
            .withColumn("component", F.coalesce("component", F.col("__id")))
            .join(
                F.broadcast(
                    p.select(
                        F.col("p_partkey").alias("component"),
                        F.col("p_name").alias("canonical_name"),
                    )
                ),
                "component",
            )
            .select(
                F.col("__id").alias("p_partkey"),
                F.col("component").alias("entity_id"),
                "canonical_name",
            )
        )
        return ms.attach(out)


def _entity_resolution_oracle() -> str:
    pairs = ORACLE_FUZZY.strip().rstrip(";")
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b AS a, id_a AS b FROM pairs
),
reach (src, dst) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (
    SELECT p.p_partkey,
           least(p.p_partkey,
                 coalesce((SELECT min(dst) FROM reach
                           WHERE src = p.p_partkey), p.p_partkey))
               AS entity_id
    FROM part p
)
SELECT c.p_partkey, c.entity_id, n.p_name AS canonical_name
FROM comp c JOIN part n ON n.p_partkey = c.entity_id
"""


AUX_QUERIES["entity_resolution"] = q_entity_resolution
AUX_ORACLES["entity_resolution"] = _entity_resolution_oracle()

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


_PPR_ITERS = 3
_PPR_DAMPING = 0.85


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-walk-with-restart proximity to a seed part set over the
    part–supplier co-occurrence graph (seeds: l_partkey % 500 = 1) —
    'related parts' scores for a recommendation surface.
    operators/graph.py personalized_pagerank; the oracle unrolls the
    same three sparse iterations."""
    from ..operators import graph

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    pairs = li.select(
        F.col("l_partkey").alias("p"),
        (F.lit(10_000_000) + F.col("l_suppkey")).alias("s"),
    ).distinct()
    edges = pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
    seeds = li.filter(F.col("l_partkey") % 500 == 1).select(
        F.col("l_partkey").alias("node")
    )
    return graph.personalized_pagerank(
        edges, seeds, iterations=_PPR_ITERS, damping=_PPR_DAMPING
    )


def _ppr_oracle() -> str:
    d = _PPR_DAMPING
    tp = repr(round(1.0 - d, 10))
    prev = "r0"
    iters = []
    for i in range(1, _PPR_ITERS + 1):
        iters.append(
            f"""c{i} AS (
    SELECT s.v AS node, sum({prev}.r / deg.deg) AS s
    FROM sym s JOIN deg ON deg.u = s.u JOIN {prev} ON {prev}.node = s.u
    GROUP BY 1
),
r{i} AS (
    SELECT coalesce(c.node, w.node) AS node,
           {tp} * coalesce(w.sm, 0) + {d!r} * coalesce(c.s, 0) AS r
    FROM c{i} c FULL JOIN sw w ON w.node = c.node
)"""
        )
        prev = f"r{i}"
    chain = ",\n".join(iters)
    return f"""
WITH pairs AS MATERIALIZED (
    SELECT DISTINCT l_partkey AS p, 10000000 + l_suppkey AS s FROM lineitem
),
sym AS (
    SELECT p AS u, s AS v FROM pairs UNION SELECT s, p FROM pairs
),
deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY 1),
sd AS (SELECT DISTINCT l_partkey AS node FROM lineitem
       WHERE l_partkey % 500 = 1),
ns AS (SELECT count(*) AS c FROM sd),
sw AS (SELECT node, 1.0 / c AS sm FROM sd, ns),
r0 AS (SELECT node, sm AS r FROM sw),
{chain}
SELECT node, round(r, 6) AS score FROM {prev}
"""


AUX_QUERIES["personalized_pagerank"] = q_personalized_pagerank
AUX_ORACLES["personalized_pagerank"] = _ppr_oracle()

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_common_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral journey census: the 20 most common 3-step event-type
    paths across user streams (ties pinned by event_id, rank-filtered
    on the deterministic count-then-path order).
    operators/funnels.py path_ngrams — one user-keyed lag window, then
    a census bounded by |event types|³."""
    from ..operators import funnels

    e = load_table(spark, sf_dir, "events")
    return funnels.path_ngrams(
        e, "ts", "event_type", ["user_id"], n=3, top_k=20, tiebreak_col="event_id"
    )


ORACLE_COMMON_PATHS = """
WITH g AS (
    SELECT user_id, event_type,
           lag(event_type, 2) OVER w AS l2,
           lag(event_type, 1) OVER w AS l1
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
c AS (
    SELECT l2 || ' > ' || l1 || ' > ' || event_type AS path,
           count(*) AS n_occurrences
    FROM g WHERE l2 IS NOT NULL GROUP BY 1
),
r AS (
    SELECT path, n_occurrences,
           row_number() OVER (ORDER BY n_occurrences DESC, path ASC) AS rk
    FROM c
)
SELECT path, n_occurrences FROM r WHERE rk <= 20
"""

AUX_QUERIES["common_paths"] = q_common_paths
AUX_ORACLES["common_paths"] = ORACLE_COMMON_PATHS

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-5-per-source deterministic document sample (portable
    hash rank, salt 7) — the per-stratum eval-carving gate.
    operators/sampling.py group_sample."""
    d = load_table(spark, sf_dir, "documents")
    return sampling.group_sample(
        d.select("doc_id", "source"), ["source"], "doc_id", k=5, salt=7
    )


ORACLE_GROUP_SAMPLE = """
WITH h AS (
    SELECT doc_id, source,
           CAST(concat('0x', substr(md5('7:' || CAST(doc_id AS VARCHAR)),
                                    1, 15)) AS BIGINT) AS g
    FROM documents
),
r AS (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source
                              ORDER BY g ASC, doc_id ASC) AS rk
    FROM h
)
SELECT doc_id, source FROM r WHERE rk <= 5
"""

AUX_QUERIES["group_sample"] = q_group_sample
AUX_ORACLES["group_sample"] = ORACLE_GROUP_SAMPLE


def q_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest per event type: predict each
    day's total value with the total 7 days earlier; MAE + sMAPE over
    the forecastable tail.  operators/windows.py
    seasonal_naive_backtest — calendar equi-join, never a row-offset
    lag (misaligns on missing days)."""
    e = load_table(spark, sf_dir, "events")
    return windows.seasonal_naive_backtest(
        e, "ts", "value", ["event_type"], season_days=7
    )


ORACLE_SEASONAL_BACKTEST = """
WITH daily AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
           sum(value) AS a
    FROM events GROUP BY 1, 2
),
j AS (
    SELECT x.event_type, x.a AS actual, y.a AS forecast
    FROM daily x JOIN daily y
      ON y.event_type = x.event_type AND x.d = y.d + 7
)
SELECT event_type, count(*) AS n_days,
       round(avg(abs(actual - forecast)), 6) AS mae,
       round(avg(CASE WHEN abs(actual) + abs(forecast) > 0
                      THEN 2 * abs(actual - forecast)
                           / (abs(actual) + abs(forecast))
                      ELSE 0 END), 6) AS smape
FROM j GROUP BY 1
"""

AUX_QUERIES["seasonal_backtest"] = q_seasonal_backtest
AUX_ORACLES["seasonal_backtest"] = ORACLE_SEASONAL_BACKTEST

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-pattern census: per user, purchases completing a
    view -> purchase pattern within 24 h with no error between the
    matched pair.  operators/funnels.py sequence_match — one keyed
    window pass, never an anchor-pair join."""
    from ..operators import funnels

    e = load_table(spark, sf_dir, "events")
    return funnels.sequence_match(
        e.select("user_id", "ts", "event_type", "event_id"),
        "ts",
        "event_type",
        ["user_id"],
        first="view",
        then="purchase",
        exclude="error",
        within_seconds=86400,
        tiebreak_col="event_id",
    )


ORACLE_SEQUENCE_MATCH = """
WITH o AS (
    SELECT user_id, ts, event_type,
           max(CASE WHEN event_type = 'view' THEN ts END) OVER w
               AS last_first,
           max(CASE WHEN event_type = 'error' THEN ts END) OVER w
               AS last_excl
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, count(*) AS n_complete,
       min(ts) AS first_completion_ts
FROM o
WHERE event_type = 'purchase' AND last_first IS NOT NULL
  AND ts <= last_first + INTERVAL 86400 SECOND
  AND (last_excl IS NULL OR last_excl <= last_first)
GROUP BY 1
"""

AUX_QUERIES["sequence_match"] = q_sequence_match
AUX_ORACLES["sequence_match"] = ORACLE_SEQUENCE_MATCH

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores on the part co-purchase graph (parts
    linked when they co-occur in ≥ 2 orders): neighborhood Jaccard
    for every pair sharing a common neighbor, hubs above degree 50
    pruned (min_common=1 — at sf0.1 the graph's max degree is 10 and
    pairs sharing TWO neighbors vanish; see SCALE.md round 9).  operators/graph.py neighbor_jaccard — wedge join,
    never all-pairs."""
    from ..operators import graph

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return graph.neighbor_jaccard(
        edges, "src", "dst", max_degree=50, min_common=1
    )


ORACLE_NEIGHBOR_JACCARD = """
WITH e0 AS MATERIALIZED (
    SELECT a.l_partkey AS a, b.l_partkey AS b
    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
     AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= 2
),
sym0 AS (
    SELECT a AS u, b AS v FROM e0 UNION SELECT b AS u, a AS v FROM e0
),
hubs AS (
    SELECT u FROM sym0 GROUP BY 1 HAVING count(*) > 50
),
sym AS MATERIALIZED (
    SELECT u, v FROM sym0
    WHERE u NOT IN (SELECT u FROM hubs) AND v NOT IN (SELECT u FROM hubs)
),
deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY 1),
common AS (
    SELECT x.u AS a, y.u AS b, count(*) AS n_common
    FROM sym x JOIN sym y ON x.v = y.v AND x.u < y.u
    GROUP BY 1, 2 
)
SELECT c.a AS u, c.b AS v, c.n_common,
       round(c.n_common / (da.deg + db.deg - c.n_common), 6) AS jaccard
FROM common c
JOIN deg da ON da.u = c.a
JOIN deg db ON db.u = c.b
"""

AUX_QUERIES["neighbor_jaccard"] = q_neighbor_jaccard
AUX_ORACLES["neighbor_jaccard"] = ORACLE_NEIGHBOR_JACCARD

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction on the ≥2-support part co-purchase
    graph (same graph as neighbor_jaccard): every pair sharing a common
    neighbor, hubs above degree 50 pruned from the graph.
    operators/graph.py adamic_adar — wedge join carrying the center's
    1/ln(deg) weight, never all-pairs."""
    from ..operators import graph

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return graph.adamic_adar(edges, "src", "dst", max_degree=50, min_common=1)


ORACLE_ADAMIC_ADAR = """
WITH e0 AS MATERIALIZED (
    SELECT a.l_partkey AS a, b.l_partkey AS b
    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
     AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= 2
),
sym0 AS (
    SELECT a AS u, b AS v FROM e0 UNION SELECT b AS u, a AS v FROM e0
),
hubs AS (
    SELECT u FROM sym0 GROUP BY 1 HAVING count(*) > 50
),
sym AS MATERIALIZED (
    SELECT u, v FROM sym0
    WHERE u NOT IN (SELECT u FROM hubs) AND v NOT IN (SELECT u FROM hubs)
),
deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY 1)
SELECT x.u AS u, y.u AS v, count(*) AS n_common,
       round(sum(1.0 / ln(d.deg)), 6) AS aa_score
FROM sym x
JOIN sym y ON x.v = y.v AND x.u < y.u
JOIN deg d ON d.u = x.v
GROUP BY 1, 2
"""

AUX_QUERIES["adamic_adar"] = q_adamic_adar
AUX_ORACLES["adamic_adar"] = ORACLE_ADAMIC_ADAR


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the ≥3-support part
    co-purchase graph — how mutually-confirming each node's
    neighborhood is.  operators/graph.py clustering_coefficient —
    degree-ordered triangle orientation + one degree aggregate."""
    from ..operators import graph

    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 3)
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return graph.clustering_coefficient(edges, "src", "dst")


ORACLE_CLUSTERING_COEFF = """
WITH e AS MATERIALIZED (
    SELECT a.l_partkey AS a, b.l_partkey AS b
    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
     AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= 3
),
tri AS MATERIALIZED (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM e e1 JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
tri_n AS (
    SELECT node, count(*) AS n_triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ) GROUP BY 1
),
deg AS (
    SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM e UNION ALL SELECT b FROM e
    ) GROUP BY 1
)
SELECT d.node, d.deg,
       coalesce(t.n_triangles, 0) AS n_triangles,
       CASE WHEN d.deg < 2 THEN 0.0
            ELSE round(2.0 * coalesce(t.n_triangles, 0)
                       / (d.deg * (d.deg - 1)), 6) END AS coeff
FROM deg d LEFT JOIN tri_n t USING (node)
"""

AUX_QUERIES["clustering_coeff"] = q_clustering_coeff
AUX_ORACLES["clustering_coeff"] = ORACLE_CLUSTERING_COEFF


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier time-to-conversion curve: per user, days from
    first event to first purchase (event) or to last observed event
    (right-censored), survival estimated at each event time.
    operators/stats.py kaplan_meier — distinct-duration collapse +
    cumulative windows, exp(Σ ln) running product."""
    from ..operators import stats

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("__t0"),
        F.max("ts").alias("__tlast"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "__tconv"
        ),
    )
    subjects = per_user.select(
        F.datediff(
            F.coalesce(F.col("__tconv"), F.col("__tlast")), F.col("__t0")
        ).alias("duration"),
        F.col("__tconv").isNotNull().cast("int").alias("event"),
    )
    return stats.kaplan_meier(subjects, "duration", "event")


ORACLE_KAPLAN_MEIER = """
WITH per_user AS (
    SELECT user_id, min(ts) AS t0, max(ts) AS tlast,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS tconv
    FROM events GROUP BY 1
),
subj AS (
    SELECT date_diff('day', t0::DATE, coalesce(tconv, tlast)::DATE)
               AS duration,
           CASE WHEN tconv IS NOT NULL THEN 1 ELSE 0 END AS event
    FROM per_user
),
collapsed AS (
    SELECT duration, sum(event) AS n_events, count(*) AS removed
    FROM subj GROUP BY 1
),
staged AS (
    SELECT duration, n_events,
           sum(removed) OVER () -
           coalesce(sum(removed) OVER (ORDER BY duration ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
    FROM collapsed
),
curved AS (
    SELECT duration, n_events, n_risk,
           exp(sum(CASE WHEN n_events < n_risk
                        THEN ln(1.0 - n_events * 1.0 / n_risk) END)
               OVER (ORDER BY duration ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS s_raw,
           max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY duration ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS hit_zero
    FROM staged
)
SELECT duration, n_risk, n_events,
       CASE WHEN hit_zero = 1 THEN 0.0 ELSE round(s_raw, 6) END
           AS survival
FROM curved WHERE n_events > 0
"""

AUX_QUERIES["kaplan_meier"] = q_kaplan_meier
AUX_ORACLES["kaplan_meier"] = ORACLE_KAPLAN_MEIER


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity publish gate over the warehouse's four
    fact→dimension relations.  operators/profiling.py fk_integrity —
    per-key collapse first, then broadcast anti-joins; fact tables
    scanned once per check, never row-grain shuffled."""
    from ..operators import profiling

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    return profiling.fk_integrity(
        [
            ("orders->customer", orders, "o_custkey", customer, "c_custkey"),
            ("lineitem->orders", lineitem, "l_orderkey", orders, "o_orderkey"),
            ("lineitem->part", lineitem, "l_partkey", part, "p_partkey"),
            ("lineitem->supplier", lineitem, "l_suppkey", supplier, "s_suppkey"),
        ]
    )


ORACLE_FK_INTEGRITY = """
WITH checks AS (
    SELECT 'orders->customer' AS relation,
           (SELECT count(*) FROM orders) AS n_rows,
           (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
               AS n_null_rows,
           (SELECT count(DISTINCT o_custkey) FROM orders) AS n_keys,
           (SELECT count(DISTINCT o_custkey) FROM orders
             WHERE o_custkey IS NOT NULL
               AND o_custkey NOT IN (SELECT c_custkey FROM customer))
               AS n_orphan_keys,
           (SELECT count(*) FROM orders
             WHERE o_custkey IS NOT NULL
               AND o_custkey NOT IN (SELECT c_custkey FROM customer))
               AS n_orphan_rows
    UNION ALL
    SELECT 'lineitem->orders',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL),
           (SELECT count(DISTINCT l_orderkey) FROM lineitem),
           (SELECT count(DISTINCT l_orderkey) FROM lineitem
             WHERE l_orderkey IS NOT NULL
               AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
           (SELECT count(*) FROM lineitem
             WHERE l_orderkey IS NOT NULL
               AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
    UNION ALL
    SELECT 'lineitem->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem WHERE l_partkey IS NULL),
           (SELECT count(DISTINCT l_partkey) FROM lineitem),
           (SELECT count(DISTINCT l_partkey) FROM lineitem
             WHERE l_partkey IS NOT NULL
               AND l_partkey NOT IN (SELECT p_partkey FROM part)),
           (SELECT count(*) FROM lineitem
             WHERE l_partkey IS NOT NULL
               AND l_partkey NOT IN (SELECT p_partkey FROM part))
    UNION ALL
    SELECT 'lineitem->supplier',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem WHERE l_suppkey IS NULL),
           (SELECT count(DISTINCT l_suppkey) FROM lineitem),
           (SELECT count(DISTINCT l_suppkey) FROM lineitem
             WHERE l_suppkey IS NOT NULL
               AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier)),
           (SELECT count(*) FROM lineitem
             WHERE l_suppkey IS NOT NULL
               AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
)
SELECT relation, n_rows, n_null_rows, n_keys, n_orphan_keys,
       n_orphan_rows
FROM checks ORDER BY relation
"""

AUX_QUERIES["fk_integrity"] = q_fk_integrity
AUX_ORACLES["fk_integrity"] = ORACLE_FK_INTEGRITY

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness fingerprint: inter-event gap mean, CV, and
    Goh–Barabási burstiness over users with ≥ 5 gaps.
    operators/stats.py interarrival_stats — one keyed lag window +
    one hash aggregate."""
    from ..operators import stats

    e = load_table(spark, sf_dir, "events")
    return stats.interarrival_stats(
        e.select("user_id", "ts", "event_id"),
        ["user_id"],
        "ts",
        tiebreak_col="event_id",
        min_gaps=5,
    )


ORACLE_INTERARRIVAL = """
WITH gaps AS (
    SELECT user_id,
           epoch(ts) - lag(epoch(ts)) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ) AS gap
    FROM events
),
agg AS (
    SELECT user_id, count(*) AS n_gaps,
           avg(gap) AS mu, stddev_samp(gap) AS sd
    FROM gaps WHERE gap IS NOT NULL GROUP BY 1
)
SELECT user_id, n_gaps,
       round(mu, 6) AS mean_gap_s,
       round(sd / mu, 6) AS cv,
       round((sd - mu) / (sd + mu), 6) AS burstiness
FROM agg WHERE n_gaps >= 5
"""

AUX_QUERIES["interarrival"] = q_interarrival
AUX_ORACLES["interarrival"] = ORACLE_INTERARRIVAL


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quasi-experimental rollout readout: purchase-value DiD for the
    even-user_id cohort (treated) vs odd (control), pre/post the
    2024-07-01 cutover.  operators/stats.py diff_in_diff — ONE
    conditional aggregate, cell means rounded before the arithmetic."""
    from ..operators import stats

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    obs = e.select(
        (F.col("user_id") % 2 == 0).alias("treated"),
        (F.col("ts") >= F.lit("2024-07-01").cast("timestamp")).alias("post"),
        F.col("value"),
    )
    return stats.diff_in_diff(obs, "treated", "post", "value")


ORACLE_DIFF_IN_DIFF = """
WITH obs AS (
    SELECT (user_id % 2 = 0) AS treated,
           (ts >= TIMESTAMP '2024-07-01') AS post,
           value
    FROM events WHERE event_type = 'purchase'
),
cells AS (
    SELECT
        round(avg(CASE WHEN treated AND NOT post THEN value END), 6)
            AS mean_treat_pre,
        round(avg(CASE WHEN treated AND post THEN value END), 6)
            AS mean_treat_post,
        round(avg(CASE WHEN NOT treated AND NOT post THEN value END), 6)
            AS mean_ctrl_pre,
        round(avg(CASE WHEN NOT treated AND post THEN value END), 6)
            AS mean_ctrl_post,
        count(CASE WHEN treated AND NOT post THEN 1 END) AS n_treat_pre,
        count(CASE WHEN treated AND post THEN 1 END) AS n_treat_post,
        count(CASE WHEN NOT treated AND NOT post THEN 1 END) AS n_ctrl_pre,
        count(CASE WHEN NOT treated AND post THEN 1 END) AS n_ctrl_post
    FROM obs
)
SELECT *,
       round((mean_treat_post - mean_treat_pre)
             - (mean_ctrl_post - mean_ctrl_pre), 6) AS did
FROM cells
"""

AUX_QUERIES["diff_in_diff"] = q_diff_in_diff
AUX_ORACLES["diff_in_diff"] = ORACLE_DIFF_IN_DIFF


def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day audience turnover: Jaccard + retained share of
    consecutive days' distinct active-user sets.
    operators/funnels.py period_overlap — distinct collapse first,
    one shifted equi-join, sizes via broadcast joins."""
    from ..operators import funnels

    e = load_table(spark, sf_dir, "events")
    return funnels.period_overlap(e, "ts", "user_id", grain="day")


ORACLE_AUDIENCE_OVERLAP = """
WITH active AS (
    SELECT DISTINCT ts::DATE AS period, user_id FROM events
),
sizes AS (SELECT period, count(*) AS n FROM active GROUP BY 1),
shared AS (
    SELECT a.period, count(*) AS n_shared
    FROM active a JOIN active b
      ON b.user_id = a.user_id AND b.period = a.period + 1
    GROUP BY 1
)
SELECT s.period, s.period + 1 AS next_period,
       sa.n AS n_prev, sb.n AS n_next, s.n_shared,
       round(s.n_shared * 1.0 / (sa.n + sb.n - s.n_shared), 6)
           AS jaccard,
       round(s.n_shared * 1.0 / sa.n, 6) AS retained
FROM shared s
JOIN sizes sa ON sa.period = s.period
JOIN sizes sb ON sb.period = s.period + 1
"""

AUX_QUERIES["audience_overlap"] = q_audience_overlap
AUX_ORACLES["audience_overlap"] = ORACLE_AUDIENCE_OVERLAP


_ZIPF_HEAD = 1000


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus head: OLS slope of ln(freq) on
    ln(rank) across the top 1000 terms (healthy natural-language
    corpora sit near −1; template/boilerplate floods flatten it).
    Composes the verified term-frequency aggregate with
    stats.group_ols (regr_* aggregates) over the vocabulary-sized
    rank table — rows never leave the aggregate plane."""
    from ..functions import word_tokens
    from ..operators import stats

    d = rebalance(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select(F.explode(word_tokens("text")).alias("__t"))
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.orderBy(F.col("__c").desc(), F.col("__t").asc())
    ranked = tf.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= _ZIPF_HEAD
    )
    pts = ranked.select(
        F.log(F.col("__r").cast("double")).alias("ln_rank"),
        F.log(F.col("__c").cast("double")).alias("ln_freq"),
    )
    return stats.group_ols(pts.withColumn("__g", F.lit(1)), ["__g"], "ln_rank", "ln_freq").select(
        "slope", "intercept", "r2", "n_pairs"
    )


ORACLE_ZIPF_SLOPE = f"""
WITH tf AS (
    SELECT t, count(*) AS c
    FROM (SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
                                                       '\\s+'),
                                    x -> x <> '')) AS t
          FROM documents)
    GROUP BY 1
),
ranked AS (
    SELECT row_number() OVER (ORDER BY c DESC, t ASC) AS r, c
    FROM tf QUALIFY r <= {_ZIPF_HEAD}
)
SELECT round(regr_slope(ln(c), ln(r)), 6) AS slope,
       round(regr_intercept(ln(c), ln(r)), 6) AS intercept,
       round(regr_r2(ln(c), ln(r)), 6) AS r2,
       regr_count(ln(c), ln(r)) AS n_pairs
FROM ranked
"""

AUX_QUERIES["zipf_slope"] = q_zipf_slope
AUX_ORACLES["zipf_slope"] = ORACLE_ZIPF_SLOPE


def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 28-day correlation between daily order count and
    daily average order value — the demand-mix drift monitor.  Two
    chained aggregates: the daily rollup (calendar-sized) then the
    window pass over the tiny daily table; facts are scanned once.

    ANSI-safety: ``F.corr(...).over(w)`` divides by the window
    variance INSIDE the aggregate, so a zero-variance window (the
    ramp-up rows this query filters out anyway) raises DIVIDE_BY_ZERO
    under Spark 4's default ANSI mode — window aggregates evaluate
    before any filter can drop the row.  The correlation is therefore
    assembled from plain window SUMS over globally-CENTERED series
    (centering keeps the raw-moment formula conditioned; correlation
    is translation-invariant) with the division inside a CASE guard —
    CASE branches evaluate lazily, so degenerate windows yield NULL
    rows that the full-window filter then drops."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("o_totalprice").alias("aov"),
    )
    means = daily.agg(
        F.avg("n").alias("__mn"), F.avg("aov").alias("__ma")
    )
    centered = daily.crossJoin(F.broadcast(means)).select(
        "d",
        (F.col("n") - F.col("__mn")).alias("x"),
        (F.col("aov") - F.col("__ma")).alias("y"),
    )
    w = Window.orderBy(F.col("d").asc()).rowsBetween(-27, 0)
    k = F.count(F.lit(1)).over(w)
    sx, sy = F.sum("x").over(w), F.sum("y").over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    sx2 = F.sum(F.col("x") * F.col("x")).over(w)
    sy2 = F.sum(F.col("y") * F.col("y")).over(w)
    staged = centered.select(
        "d",
        k.alias("n_days"),
        (sxy - sx * sy / k).alias("__cov"),
        (sx2 - sx * sx / k).alias("__vx"),
        (sy2 - sy * sy / k).alias("__vy"),
    )
    return staged.filter(
        (F.col("n_days") == 28)
        & (F.col("__vx") > 0)
        & (F.col("__vy") > 0)
    ).select(
        "d",
        F.round(
            F.col("__cov") / F.sqrt(F.col("__vx") * F.col("__vy")), 6
        ).alias("corr_n_aov"),
    )


ORACLE_ROLLING_CORR = """
WITH daily AS (
    SELECT o_orderdate AS d, count(*) * 1.0 AS n, avg(o_totalprice) AS aov
    FROM orders GROUP BY 1
)
SELECT d, round(corr_val, 6) AS corr_n_aov FROM (
    SELECT d,
           corr(n, aov) OVER (ORDER BY d ASC
               ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS corr_val,
           count(*) OVER (ORDER BY d ASC
               ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS n_days
    FROM daily
) WHERE n_days = 28 AND corr_val IS NOT NULL
"""

AUX_QUERIES["rolling_corr"] = q_rolling_corr
AUX_ORACLES["rolling_corr"] = ORACLE_ROLLING_CORR

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords (docs 0-199, min_df 2) —
    the corpus tagging pass.  operators/text.py doc_keywords — one
    TF aggregate + broadcast df table + per-document rank window."""
    from ..operators import text

    d = rebalance(load_table(spark, sf_dir, "documents"))
    return text.doc_keywords(d, "doc_id", "text", top_k=3, min_df=2).filter(
        F.col("doc_id") < 200
    )


ORACLE_DOC_KEYWORDS = """
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS term
    FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
doc_len AS (SELECT doc_id, sum(tf) AS doc_len FROM tf GROUP BY 1),
df_tbl AS (
    SELECT term, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) >= 2
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT t.doc_id, t.term, t.tf,
           round((CAST(t.tf AS DOUBLE) / dl.doc_len)
                 * ln((n.n_docs + 1.0) / (d.df + 1.0)), 6) AS tfidf
    FROM tf t JOIN df_tbl d USING (term)
    JOIN doc_len dl USING (doc_id), n
)
SELECT doc_id, term, tf, tfidf, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, term ASC) AS rank
    FROM scored
) WHERE rank <= 3 AND doc_id < 200
"""

AUX_QUERIES["doc_keywords"] = q_doc_keywords
AUX_ORACLES["doc_keywords"] = ORACLE_DOC_KEYWORDS


def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log demand curve per part brand: OLS slope of ln(quantity)
    on ln(effective unit price) across line items — the textbook
    constant-elasticity estimate.  stats.group_ols — regr_*
    aggregates, ONE map-side-combined pass over the fact table."""
    from ..operators import stats

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    obs = li.join(
        F.broadcast(p.select("p_partkey", "p_brand")),
        li["l_partkey"] == p["p_partkey"],
    ).select(
        "p_brand",
        F.log(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            / F.col("l_quantity")
        ).alias("ln_price"),
        F.log(F.col("l_quantity")).alias("ln_qty"),
    )
    return stats.group_ols(obs, ["p_brand"], "ln_price", "ln_qty")


ORACLE_PRICE_ELASTICITY = """
WITH obs AS (
    SELECT p.p_brand,
           ln(l_extendedprice * (1 - l_discount) / l_quantity) AS ln_price,
           ln(l_quantity) AS ln_qty
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
)
SELECT p_brand,
       round(regr_slope(ln_qty, ln_price), 6) AS slope,
       round(regr_intercept(ln_qty, ln_price), 6) AS intercept,
       round(regr_r2(ln_qty, ln_price), 6) AS r2,
       regr_count(ln_qty, ln_price) AS n_pairs
FROM obs GROUP BY 1
"""

AUX_QUERIES["price_elasticity"] = q_price_elasticity
AUX_ORACLES["price_elasticity"] = ORACLE_PRICE_ELASTICITY


_SAFETY_Z = 1.645  # 95% service level
_SAFETY_LEAD_DAYS = 7


def q_safety_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier demand-variability stats and the classic
    safety-stock / reorder-point calc (z·σ_daily·√lead + μ·lead) over
    days WITH demand — two chained aggregates (daily rollup keyed by
    (supplier, day), then supplier-keyed moments), both map-side
    combined; suppliers with < 30 active days dropped."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_suppkey").alias("suppkey"),
        F.col("l_shipdate").alias("d"),
    ).agg(F.sum("l_quantity").cast("double").alias("qty"))
    mu, sd = F.avg("qty"), F.stddev_samp("qty")
    z, lead = F.lit(_SAFETY_Z), F.lit(float(_SAFETY_LEAD_DAYS))
    return (
        daily.groupBy("suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(mu, 6).alias("mean_daily_qty"),
            F.round(sd, 6).alias("sd_daily_qty"),
        )
        .filter(F.col("n_days") >= 30)
        .select(
            "suppkey",
            "n_days",
            "mean_daily_qty",
            "sd_daily_qty",
            F.round(
                z * F.col("sd_daily_qty") * F.sqrt(lead), 6
            ).alias("safety_stock"),
            F.round(
                F.col("mean_daily_qty") * lead
                + z * F.col("sd_daily_qty") * F.sqrt(lead),
                6,
            ).alias("reorder_point"),
        )
    )


ORACLE_SAFETY_STOCK = f"""
WITH daily AS (
    SELECT l_suppkey AS suppkey, l_shipdate AS d,
           sum(l_quantity) * 1.0 AS qty
    FROM lineitem GROUP BY 1, 2
),
moments AS (
    SELECT suppkey, count(*) AS n_days,
           round(avg(qty), 6) AS mean_daily_qty,
           round(stddev_samp(qty), 6) AS sd_daily_qty
    FROM daily GROUP BY 1 HAVING count(*) >= 30
)
SELECT suppkey, n_days, mean_daily_qty, sd_daily_qty,
       round({_SAFETY_Z} * sd_daily_qty * sqrt({_SAFETY_LEAD_DAYS}.0), 6)
           AS safety_stock,
       round(mean_daily_qty * {_SAFETY_LEAD_DAYS}.0
             + {_SAFETY_Z} * sd_daily_qty * sqrt({_SAFETY_LEAD_DAYS}.0), 6)
           AS reorder_point
FROM moments
"""

AUX_QUERIES["safety_stock"] = q_safety_stock
AUX_ORACLES["safety_stock"] = ORACLE_SAFETY_STOCK

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


_KEYNESS_A = "src0"
_KEYNESS_B = "src1"


def q_term_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning G² keyness: the 50 terms that most characterize src0
    vs src1.  operators/text.py term_keyness — one vocabulary-sized
    count aggregate + broadcast totals + rank window; ln(0) branches
    CASE-guarded (ANSI-safe)."""
    from ..operators import text

    d = rebalance(load_table(spark, sf_dir, "documents"))
    return text.term_keyness(
        d, "source", _KEYNESS_A, _KEYNESS_B, "text", top_k=50, min_count=5
    )


ORACLE_TERM_KEYNESS = f"""
WITH toks AS (
    SELECT (source = '{_KEYNESS_A}') AS is_a,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS term
    FROM documents WHERE source IN ('{_KEYNESS_A}', '{_KEYNESS_B}')
),
counts AS (
    SELECT term,
           sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS a,
           sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS b
    FROM toks GROUP BY 1
),
tot AS (SELECT sum(a) AS na, sum(b) AS nb FROM counts),
scored AS (
    SELECT term, a AS count_a, b AS count_b,
           round(2.0 * (
               CASE WHEN a > 0
                    THEN a * ln(a / (na * (a + b) * 1.0 / (na + nb)))
                    ELSE 0.0 END
             + CASE WHEN b > 0
                    THEN b * ln(b / (nb * (a + b) * 1.0 / (na + nb)))
                    ELSE 0.0 END), 6) AS g2,
           CASE WHEN a * 1.0 / na >= b * 1.0 / nb
                THEN 'a' ELSE 'b' END AS overrep
    FROM counts, tot
    WHERE a + b >= 5
)
SELECT term, count_a, count_b, g2, overrep FROM (
    SELECT *, row_number() OVER (ORDER BY g2 DESC, term ASC) AS r
    FROM scored
) WHERE r <= 50
"""

AUX_QUERIES["term_keyness"] = q_term_keyness
AUX_ORACLES["term_keyness"] = ORACLE_TERM_KEYNESS


def q_mutual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-best-match pairs among the first 100 embedding
    vectors: keep (a, b) iff each is the other's nearest non-self
    neighbor.  operators/similarity.py mutual_topk_pairs over a
    brute_force_topk edge list — rank windows + a node-sized
    reversed-key join, never an edge-sized product."""
    from ..operators import similarity

    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 100
    )
    probes = e.select(F.col("vec_id").alias("probe_id"), "embedding")
    scores = similarity.brute_force_topk(e, probes, k=2).filter(
        F.col("probe_id") != F.col("vec_id")
    )
    return similarity.mutual_topk_pairs(
        scores, "probe_id", "vec_id", "cosine"
    )


ORACLE_MUTUAL_TOPK = f"""
WITH pool AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
scored AS (
    SELECT p.vec_id AS q, e.vec_id AS m,
           round({_DUCK_COSINE.format(a="e.embedding", b="p.embedding")}, 6)
               AS cosine
    FROM pool e CROSS JOIN pool p
    WHERE e.vec_id <> p.vec_id
),
best AS (
    SELECT q, m, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY q
                   ORDER BY cosine DESC, m ASC) AS rn
        FROM scored
    ) WHERE rn = 1
)
SELECT f.q AS id_a, f.m AS id_b, f.cosine AS score_ab,
       r.cosine AS score_ba
FROM best f JOIN best r ON r.q = f.m AND r.m = f.q AND f.q < f.m
"""

AUX_QUERIES["mutual_topk"] = q_mutual_topk
AUX_ORACLES["mutual_topk"] = ORACLE_MUTUAL_TOPK

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_log_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: do even- and odd-user_id cohorts convert at the
    same hazard?  Same subject table as kaplan_meier, split by cohort.
    operators/stats.py log_rank_test — one duration-grid collapse +
    cumulative at-risk windows + a scalar rollup."""
    from ..operators import stats

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("__t0"),
        F.max("ts").alias("__tlast"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "__tconv"
        ),
    )
    subjects = per_user.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("even"))
        .otherwise(F.lit("odd"))
        .alias("cohort"),
        F.datediff(
            F.coalesce(F.col("__tconv"), F.col("__tlast")), F.col("__t0")
        ).alias("duration"),
        F.col("__tconv").isNotNull().cast("int").alias("event"),
    )
    return stats.log_rank_test(subjects, "duration", "event", "cohort", "even")


ORACLE_LOG_RANK = """
WITH per_user AS (
    SELECT user_id, min(ts) AS t0, max(ts) AS tlast,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS tconv
    FROM events GROUP BY 1
),
subj AS (
    SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS cohort,
           date_diff('day', t0::DATE, coalesce(tconv, tlast)::DATE)
               AS duration,
           CASE WHEN tconv IS NOT NULL THEN 1 ELSE 0 END AS event
    FROM per_user
),
grid AS (
    SELECT duration AS t,
           sum(CASE WHEN cohort = 'even' THEN event ELSE 0 END) AS d_a,
           sum(CASE WHEN cohort <> 'even' THEN event ELSE 0 END) AS d_b,
           count(CASE WHEN cohort = 'even' THEN 1 END) AS r_a,
           count(CASE WHEN cohort <> 'even' THEN 1 END) AS r_b
    FROM subj GROUP BY 1
),
staged AS (
    SELECT t, d_a, d_a + d_b AS d,
           sum(r_a) OVER () - coalesce(sum(r_a) OVER (ORDER BY t ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_a,
           sum(r_b) OVER () - coalesce(sum(r_b) OVER (ORDER BY t ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_b
    FROM grid
),
terms AS (
    SELECT CAST(d_a AS DOUBLE) AS o_a,
           n_a * 1.0 * d / (n_a + n_b) AS e_a,
           CASE WHEN n_a + n_b > 1
                THEN d * (n_a * 1.0 / (n_a + n_b))
                       * (n_b * 1.0 / (n_a + n_b))
                       * (n_a + n_b - d) / (n_a + n_b - 1.0)
                ELSE 0.0 END AS v
    FROM staged WHERE d > 0
),
agg AS (
    SELECT round(sum(o_a), 6) AS observed_a,
           round(sum(e_a), 6) AS expected_a,
           round(sum(v), 6) AS variance
    FROM terms
)
SELECT *,
       CASE WHEN variance > 0
            THEN round(pow(observed_a - expected_a, 2) / variance, 6)
            END AS chi2
FROM agg
"""

AUX_QUERIES["log_rank"] = q_log_rank
AUX_ORACLES["log_rank"] = ORACLE_LOG_RANK


_ANOM_Z = 2.0


def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly days: daily event counts vs the
    day-of-week mean profile; days whose residual z-score exceeds 2
    flagged.  Three dimension-sized aggregates chained off ONE daily
    rollup — the corpus is scanned once; dow follows the pinned
    Spark-1=Sunday convention."""
    e = rebalance(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    dowd = daily.withColumn("dow", F.dayofweek("d"))
    prof = dowd.groupBy("dow").agg(F.avg("n").alias("__mu"))
    resid = dowd.join(F.broadcast(prof), "dow").withColumn(
        "__res", F.col("n") - F.col("__mu")
    )
    sd = resid.agg(F.stddev_samp("__res").alias("__sd"))
    return (
        resid.crossJoin(F.broadcast(sd))
        .filter(
            (F.col("__sd") > 0)
            & (F.abs(F.col("__res")) > F.lit(_ANOM_Z) * F.col("__sd"))
        )
        .select(
            "d",
            "dow",
            F.col("n").cast("long").alias("n_events"),
            F.round(F.col("__mu"), 6).alias("dow_mean"),
            F.round(F.col("__res") / F.col("__sd"), 6).alias("z"),
        )
    )


ORACLE_SEASONAL_ANOMALY = f"""
WITH daily AS (
    SELECT ts::DATE AS d, count(*) * 1.0 AS n FROM events GROUP BY 1
),
dowd AS (SELECT d, dayofweek(d) + 1 AS dow, n FROM daily),
prof AS (SELECT dow, avg(n) AS mu FROM dowd GROUP BY 1),
resid AS (
    SELECT d, dowd.dow, n, mu, n - mu AS res
    FROM dowd JOIN prof USING (dow)
),
sd AS (SELECT stddev_samp(res) AS sd FROM resid)
SELECT d, dow, CAST(n AS BIGINT) AS n_events,
       round(mu, 6) AS dow_mean, round(res / sd, 6) AS z
FROM resid, sd
WHERE sd > 0 AND abs(res) > {_ANOM_Z} * sd
"""

AUX_QUERIES["seasonal_anomaly"] = q_seasonal_anomaly
AUX_ORACLES["seasonal_anomaly"] = ORACLE_SEASONAL_ANOMALY


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split: each day's active users bucketed
    by whether this is their first active day — the standard growth
    accounting readout.  Two chained aggregates off the distinct
    (user, day) table (first-day via a per-user min, no window over
    events); the corpus is scanned once."""
    e = load_table(spark, sf_dir, "events")
    active = e.select(
        F.col("user_id"), F.col("ts").cast("date").alias("d")
    ).distinct()
    first = active.groupBy("user_id").agg(F.min("d").alias("__d0"))
    return (
        active.join(first, "user_id")
        .groupBy("d")
        .agg(
            F.sum((F.col("d") == F.col("__d0")).cast("long")).alias(
                "n_new"
            ),
            F.sum((F.col("d") > F.col("__d0")).cast("long")).alias(
                "n_returning"
            ),
        )
        .select(
            "d",
            "n_new",
            "n_returning",
            F.round(
                F.col("n_new") / (F.col("n_new") + F.col("n_returning")), 6
            ).alias("new_share"),
        )
    )


ORACLE_NEW_VS_RETURNING = """
WITH active AS (
    SELECT DISTINCT user_id, ts::DATE AS d FROM events
),
first AS (SELECT user_id, min(d) AS d0 FROM active GROUP BY 1)
SELECT d,
       sum(CASE WHEN d = d0 THEN 1 ELSE 0 END) AS n_new,
       sum(CASE WHEN d > d0 THEN 1 ELSE 0 END) AS n_returning,
       round(sum(CASE WHEN d = d0 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
           AS new_share
FROM active JOIN first USING (user_id)
GROUP BY 1
"""

AUX_QUERIES["new_vs_returning"] = q_new_vs_returning
AUX_ORACLES["new_vs_returning"] = ORACLE_NEW_VS_RETURNING

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def _stream_plan_sequence_match(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> tuple[DataFrame, bool]:
    """Pre-sink streaming plan for q_streaming_sequence_match."""
    from ..streaming import stateful

    events, ts_was_ntz = _stream_events(
        spark, sf_dir,
        stream_dir=stream_dir, max_files_per_trigger=max_files_per_trigger,
    )
    if ts_was_ntz:
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    plan = stateful.streaming_sequence_match(
        events.select("user_id", "ts", "event_type", "event_id"),
        key_col="user_id",
        first="view",
        then="purchase",
        exclude="error",
        within_seconds=86400,
    )
    return plan, ts_was_ntz


def q_streaming_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-pattern matching as REAL streaming state
    (streaming/stateful.py streaming_sequence_match —
    applyInPandasWithState, constant two-timestamp ledger per key)
    drained with Trigger.AvailableNow, then the monotone ledger
    collapsed by a max/min post-aggregation on the sink table.  Same
    oracle as the batch window form ``sequence_match`` — the
    continuous and batch formulations must agree exactly."""
    import tempfile

    from ..streaming import incremental

    plan, ts_was_ntz = _stream_plan_sequence_match(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="stream_seqmatch_ckpt_")
    incremental.run_to_memory_sink(
        plan, "stream_seqmatch_out", ckpt, output_mode="update"
    )
    out = (
        spark.table("stream_seqmatch_out")
        .groupBy("user_id")
        .agg(
            F.max("n_complete").alias("n_complete"),
            F.min("first_completion_ts").alias("first_completion_ts"),
        )
    )
    if ts_was_ntz:
        out = out.withColumn(
            "first_completion_ts",
            F.col("first_completion_ts").cast("timestamp_ntz"),
        )
    return out


AUX_QUERIES["streaming_sequence_match"] = q_streaming_sequence_match
AUX_ORACLES["streaming_sequence_match"] = ORACLE_SEQUENCE_MATCH

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def _stream_plan_sequence_match_only(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audit-facing wrapper: the pre-sink plan without the ntz flag."""
    plan, _ = _stream_plan_sequence_match(spark, sf_dir)
    return plan


STREAMING_PLAN_BUILDERS["streaming_sequence_match"] = (
    _stream_plan_sequence_match_only
)

assert set(STREAMING_PLAN_BUILDERS) == {
    n for n in AUX_QUERIES if n.startswith("streaming_")
}, "every streaming AUX query needs a pre-sink plan builder for the audit"


def q_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolated daily demand series for suppliers 1-10:
    each supplier's shipment-qty series gap-filled between observed
    days.  operators/windows.py resample_interpolate — per-key
    explode(sequence) grid + one left join + two ignore-nulls window
    passes."""
    from ..operators import windows

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_suppkey") <= 10
    )
    daily = li.groupBy(
        F.col("l_suppkey").alias("suppkey"),
        F.col("l_shipdate").cast("date").alias("d"),
    ).agg(F.sum("l_quantity").cast("double").alias("qty"))
    return windows.resample_interpolate(daily, "suppkey", "d", "qty")


ORACLE_RESAMPLE_INTERPOLATE = """
WITH daily AS (
    SELECT l_suppkey AS suppkey, l_shipdate::DATE AS d,
           CAST(sum(l_quantity) AS DOUBLE) AS qty
    FROM lineitem WHERE l_suppkey <= 10 GROUP BY 1, 2
),
spans AS (
    SELECT suppkey, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1
),
grid AS (
    SELECT suppkey, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE
               AS d
    FROM spans
),
joined AS (
    SELECT g.suppkey, g.d, q.qty FROM grid g
    LEFT JOIN daily q ON q.suppkey = g.suppkey AND q.d = g.d
),
staged AS (
    SELECT suppkey, d, qty,
           last_value(qty IGNORE NULLS) OVER wp AS pv,
           last_value(CASE WHEN qty IS NOT NULL THEN d END IGNORE NULLS)
               OVER wp AS pd,
           last_value(qty IGNORE NULLS) OVER wn AS nv,
           last_value(CASE WHEN qty IS NOT NULL THEN d END IGNORE NULLS)
               OVER wn AS nd
    FROM joined
    WINDOW wp AS (PARTITION BY suppkey ORDER BY d ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wn AS (PARTITION BY suppkey ORDER BY d DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT suppkey, d, qty,
       round(CASE WHEN qty IS NOT NULL THEN qty
                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                  THEN pv + (nv - pv) * date_diff('day', pd, d)
                           / date_diff('day', pd, nd)
                  END, 6) AS filled,
       qty IS NOT NULL AS is_observed
FROM staged
"""

AUX_QUERIES["resample_interpolate"] = q_resample_interpolate
AUX_ORACLES["resample_interpolate"] = ORACLE_RESAMPLE_INTERPOLATE


_PVM_Y1, _PVM_Y2 = 1996, 1997


def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-bridge decomposition per part brand, 1996 → 1997: the
    FP&A price/volume split ``Δrev = (q2−q1)·p1 + (p2−p1)·q2`` with
    p = revenue/quantity.  ONE conditional aggregate over the fact
    table (map-side combined); unit prices rounded before the bridge
    arithmetic; brands missing either year drop (no volume base to
    bridge from)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    y = F.year("l_shipdate")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    obs = li.join(
        F.broadcast(p.select("p_partkey", "p_brand")),
        li["l_partkey"] == p["p_partkey"],
    ).filter(y.isin([_PVM_Y1, _PVM_Y2]))
    cells = obs.groupBy("p_brand").agg(
        F.round(F.sum(F.when(y == _PVM_Y1, rev)), 2).alias("rev1"),
        F.round(F.sum(F.when(y == _PVM_Y2, rev)), 2).alias("rev2"),
        F.sum(F.when(y == _PVM_Y1, F.col("l_quantity"))).alias("q1"),
        F.sum(F.when(y == _PVM_Y2, F.col("l_quantity"))).alias("q2"),
    ).filter((F.col("q1") > 0) & (F.col("q2") > 0))
    p1 = F.round(F.col("rev1") / F.col("q1"), 6)
    p2 = F.round(F.col("rev2") / F.col("q2"), 6)
    return cells.select(
        "p_brand",
        "rev1",
        "rev2",
        F.col("q1").cast("double").alias("q1"),
        F.col("q2").cast("double").alias("q2"),
        F.round((F.col("q2") - F.col("q1")) * p1, 2).alias("volume_effect"),
        F.round((p2 - p1) * F.col("q2"), 2).alias("price_effect"),
    )


ORACLE_PRICE_VOLUME_MIX = f"""
WITH obs AS (
    SELECT p.p_brand,
           year(l_shipdate) AS y,
           l_extendedprice * (1 - l_discount) AS rev,
           l_quantity AS q
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE year(l_shipdate) IN ({_PVM_Y1}, {_PVM_Y2})
),
cells AS (
    SELECT p_brand,
           round(sum(CASE WHEN y = {_PVM_Y1} THEN rev END), 2) AS rev1,
           round(sum(CASE WHEN y = {_PVM_Y2} THEN rev END), 2) AS rev2,
           sum(CASE WHEN y = {_PVM_Y1} THEN q END) AS q1,
           sum(CASE WHEN y = {_PVM_Y2} THEN q END) AS q2
    FROM obs GROUP BY 1
    HAVING sum(CASE WHEN y = {_PVM_Y1} THEN q END) > 0
       AND sum(CASE WHEN y = {_PVM_Y2} THEN q END) > 0
)
SELECT p_brand, rev1, rev2,
       CAST(q1 AS DOUBLE) AS q1, CAST(q2 AS DOUBLE) AS q2,
       round((q2 - q1) * round(rev1 / q1, 6), 2) AS volume_effect,
       round((round(rev2 / q2, 6) - round(rev1 / q1, 6)) * q2, 2)
           AS price_effect
FROM cells
"""

AUX_QUERIES["price_volume_mix"] = q_price_volume_mix
AUX_ORACLES["price_volume_mix"] = ORACLE_PRICE_VOLUME_MIX


def q_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion conversion z-test between the even/odd user_id
    cohorts (converted = ever purchased).  operators/stats.py
    two_proportion_ztest — one conditional aggregate, rates rounded
    before the z arithmetic, degenerate pools CASE-guarded."""
    from ..operators import stats

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted")
    )
    subjects = per_user.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("even"))
        .otherwise(F.lit("odd"))
        .alias("cohort"),
        "converted",
    )
    return stats.two_proportion_ztest(subjects, "cohort", "even", "converted")


ORACLE_CONVERSION_ZTEST = """
WITH per_user AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
    FROM events GROUP BY 1
),
agg AS (
    SELECT
        count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_a,
        count(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS n_b,
        sum(CASE WHEN user_id % 2 = 0 THEN converted ELSE 0 END) AS conv_a,
        sum(CASE WHEN user_id % 2 <> 0 THEN converted ELSE 0 END) AS conv_b
    FROM per_user
),
rated AS (
    SELECT *,
           round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
           round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b
    FROM agg
)
SELECT n_a, n_b, conv_a, conv_b, rate_a, rate_b,
       CASE WHEN n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0
             AND conv_a + conv_b < n_a + n_b
            THEN round((rate_a - rate_b) / sqrt(
                 (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                 * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                 * (1.0 / n_a + 1.0 / n_b)), 6)
            END AS z
FROM rated
"""

AUX_QUERIES["conversion_ztest"] = q_conversion_ztest
AUX_ORACLES["conversion_ztest"] = ORACLE_CONVERSION_ZTEST


_HALFLIFE_MAX_AGE = 8


def q_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-decay fit of weekly cohort retention: per signup-
    week cohort, OLS of ln(retention rate) on week age (ages 1-8,
    rate > 0) → decay slope and half-life in weeks.  Composes the
    verified cohort machinery with stats.group_ols; every stage an
    aggregate over cohort-sized tables."""
    from ..operators import stats

    e = load_table(spark, sf_dir, "events")
    wk = lambda c: F.floor(  # noqa: E731
        F.datediff(F.col(c).cast("date"), F.lit("1970-01-01").cast("date")) / 7
    ).cast("long")
    acts = e.select(F.col("user_id"), wk("ts").alias("w")).distinct()
    first = acts.groupBy("user_id").agg(F.min("w").alias("cw"))
    cells = (
        acts.join(first, "user_id")
        .groupBy(F.col("cw"), (F.col("w") - F.col("cw")).alias("age"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    base = cells.filter(F.col("age") == 0).select(
        F.col("cw"), F.col("n_active").alias("n0")
    )
    rates = (
        cells.join(base, "cw")
        .filter(
            (F.col("age") >= 1) & (F.col("age") <= _HALFLIFE_MAX_AGE)
        )
        .select(
            "cw",
            F.col("age").cast("double").alias("age"),
            F.log(
                F.round(F.col("n_active") / F.col("n0"), 6)
            ).alias("ln_rate"),
        )
    )
    fit = stats.group_ols(rates, ["cw"], "age", "ln_rate").filter(
        F.col("n_pairs") >= 4
    )
    return fit.select(
        F.col("cw").alias("cohort_week"),
        "slope",
        "r2",
        "n_pairs",
        F.when(
            F.col("slope") < 0,
            F.round(F.lit(0.6931471805599453) / -F.col("slope"), 6),
        ).alias("halflife_weeks"),
    )


ORACLE_RETENTION_HALFLIFE = f"""
WITH acts AS (
    SELECT DISTINCT user_id,
           CAST(floor(date_diff('day', DATE '1970-01-01', ts::DATE) / 7)
                AS BIGINT) AS w
    FROM events
),
first AS (SELECT user_id, min(w) AS cw FROM acts GROUP BY 1),
cells AS (
    SELECT cw, a.w - f.cw AS age, count(*) AS n_active
    FROM acts a JOIN first f USING (user_id)
    GROUP BY 1, 2
),
base AS (SELECT cw, n_active AS n0 FROM cells WHERE age = 0),
rates AS (
    SELECT c.cw, CAST(age AS DOUBLE) AS age,
           ln(round(CAST(n_active AS DOUBLE) / n0, 6)) AS ln_rate
    FROM cells c JOIN base b USING (cw)
    WHERE age BETWEEN 1 AND {_HALFLIFE_MAX_AGE}
),
fit AS (
    SELECT cw AS cohort_week,
           round(regr_slope(ln_rate, age), 6) AS slope,
           round(regr_r2(ln_rate, age), 6) AS r2,
           regr_count(ln_rate, age) AS n_pairs
    FROM rates GROUP BY 1
)
SELECT cohort_week, slope, r2, n_pairs,
       CASE WHEN slope < 0
            THEN round(0.6931471805599453 / -slope, 6) END
           AS halflife_weeks
FROM fit WHERE n_pairs >= 4
"""

AUX_QUERIES["retention_halflife"] = q_retention_halflife
AUX_ORACLES["retention_halflife"] = ORACLE_RETENTION_HALFLIFE

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


_GEO_RADIUS_KM = 150.0
_GEO_CELL_DEG = 3.0


def _geo_coords(key: "F.Column") -> tuple:
    """Deterministic synthetic coordinates from an integer key —
    exact integer arithmetic on both engines (the testdata carries no
    geography; the OPERATOR under test is the grid join, not the
    data).  lat ∈ [−60, 60), lon ∈ [−170, 170)."""
    lat = ((key * 7919) % 12000) / 100.0 - 60.0
    lon = ((key * 104729) % 34000) / 100.0 - 170.0
    return lat, lon


def q_geo_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest supplier within 150 km of every customer over
    synthetic deterministic coordinates — the spatial-join shape
    (grid-cell bucketing + 3×3 neighborhood replication + exact
    haversine verify on candidates only, never |L|·|R|).
    operators/geo.py nearest_within_radius."""
    from ..operators import geo

    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    clat, clon = _geo_coords(F.col("c_custkey"))
    slat, slon = _geo_coords(F.col("s_suppkey"))
    left = c.select(
        F.col("c_custkey"), clat.alias("lat"), clon.alias("lon")
    )
    right = s.select(
        F.col("s_suppkey"), slat.alias("lat"), slon.alias("lon")
    )
    return geo.nearest_within_radius(
        left,
        right,
        radius_km=_GEO_RADIUS_KM,
        cell_deg=_GEO_CELL_DEG,
        left_id="c_custkey",
        right_id="s_suppkey",
        max_abs_lat=60.0,
    )


ORACLE_GEO_NEAREST = f"""
WITH c AS (
    SELECT c_custkey,
           ((c_custkey * 7919) % 12000) / 100.0 - 60.0 AS lat,
           ((c_custkey * 104729) % 34000) / 100.0 - 170.0 AS lon
    FROM customer
),
s AS (
    SELECT s_suppkey,
           ((s_suppkey * 7919) % 12000) / 100.0 - 60.0 AS lat,
           ((s_suppkey * 104729) % 34000) / 100.0 - 170.0 AS lon
    FROM supplier
),
cand AS (
    SELECT c.c_custkey, s.s_suppkey,
           round(2.0 * 6371.0088 * asin(sqrt(
               pow(sin(radians(s.lat - c.lat) / 2.0), 2)
               + cos(radians(c.lat)) * cos(radians(s.lat))
                 * pow(sin(radians(s.lon - c.lon) / 2.0), 2)
           )), 3) AS d
    FROM c CROSS JOIN s
)
SELECT c_custkey, s_suppkey AS nearest_s_suppkey, d AS distance_km
FROM (
    SELECT *, row_number() OVER (PARTITION BY c_custkey
               ORDER BY d ASC, s_suppkey ASC) AS rn
    FROM cand WHERE d <= {_GEO_RADIUS_KM}
) WHERE rn = 1
"""

AUX_QUERIES["geo_nearest"] = q_geo_nearest
AUX_ORACLES["geo_nearest"] = ORACLE_GEO_NEAREST

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


_LEAD_LAG_MAX = 7


def q_lead_lag_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation: corr(orders placed on day d,
    quantity shipped on day d+k) for k ∈ [−7, 7] — the demand→
    fulfillment propagation-delay profile.  Two daily rollups
    (calendar-sized), one lag-exploded equi-join on the SHIFTED date
    (14 copies of the tiny daily table, never a range join), then
    corr as one aggregate per lag.  Correlation is assembled from
    globally-centered sums with a lazy CASE guard (the rolling_corr
    ANSI discipline — regular corr would divide by zero on a
    degenerate lag)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    placed = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("n_orders")
    )
    shipped = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        F.sum("l_quantity").cast("double").alias("qty")
    )
    means = placed.agg(F.avg("n_orders").alias("__mx")).crossJoin(
        F.broadcast(shipped.agg(F.avg("qty").alias("__my")))
    )
    lags = F.explode(
        F.array(*[F.lit(k) for k in range(-_LEAD_LAG_MAX, _LEAD_LAG_MAX + 1)])
    ).alias("lag")
    px = placed.crossJoin(F.broadcast(means)).select(
        "d", (F.col("n_orders") - F.col("__mx")).alias("x"), "__my"
    )
    joined = (
        px.select("*", lags)
        .withColumn("__sd", F.date_add(F.col("d"), F.col("lag")))
        .join(
            shipped.select(F.col("d").alias("__sd"), "qty"), "__sd"
        )
        .select("lag", "x", (F.col("qty") - F.col("__my")).alias("y"))
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sx2 = F.sum(F.col("x") * F.col("x"))
    sy2 = F.sum(F.col("y") * F.col("y"))
    agg = joined.groupBy("lag").agg(
        n.alias("n_days"),
        (sxy - sx * sy / n).alias("__cov"),
        (sx2 - sx * sx / n).alias("__vx"),
        (sy2 - sy * sy / n).alias("__vy"),
    )
    return agg.select(
        "lag",
        "n_days",
        F.when(
            (F.col("__vx") > 0) & (F.col("__vy") > 0),
            F.round(
                F.col("__cov") / F.sqrt(F.col("__vx") * F.col("__vy")), 6
            ),
        ).alias("corr_k"),
    )


ORACLE_LEAD_LAG_CORR = f"""
WITH placed AS (
    SELECT o_orderdate::DATE AS d, count(*) * 1.0 AS n_orders
    FROM orders GROUP BY 1
),
shipped AS (
    SELECT l_shipdate::DATE AS d, CAST(sum(l_quantity) AS DOUBLE) AS qty
    FROM lineitem GROUP BY 1
),
mx AS (SELECT avg(n_orders) AS mx FROM placed),
my AS (SELECT avg(qty) AS my FROM shipped),
lags AS (SELECT unnest(range(-{_LEAD_LAG_MAX}, {_LEAD_LAG_MAX + 1})) AS lag),
joined AS (
    SELECT l.lag, p.n_orders - mx.mx AS x, s.qty - my.my AS y
    FROM placed p CROSS JOIN lags l
    JOIN shipped s ON s.d = p.d + to_days(l.lag::INT), mx, my
),
agg AS (
    SELECT lag, count(*) AS n_days,
           sum(x * y) - sum(x) * sum(y) / count(*) AS cov,
           sum(x * x) - sum(x) * sum(x) / count(*) AS vx,
           sum(y * y) - sum(y) * sum(y) / count(*) AS vy
    FROM joined GROUP BY 1
)
SELECT lag, n_days,
       CASE WHEN vx > 0 AND vy > 0
            THEN round(cov / sqrt(vx * vy), 6) END AS corr_k
FROM agg
"""

AUX_QUERIES["lead_lag_corr"] = q_lead_lag_corr
AUX_ORACLES["lead_lag_corr"] = ORACLE_LEAD_LAG_CORR

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER blocking over customer names (window
    3): every record pairs with its 3 sort-successors — linear
    candidate volume by construction.  operators/dedup.py
    sorted_neighborhood_pairs over the distributed prefix-sum rank;
    oracle uses the plain row_number formulation."""
    from ..operators import dedup

    c = load_table(spark, sf_dir, "customer")
    return dedup.sorted_neighborhood_pairs(
        c.select("c_custkey", "c_name"), "c_custkey", "c_name", window=3
    )


ORACLE_SORTED_NEIGHBORHOOD = """
WITH ranked AS (
    SELECT c_custkey AS id, c_name AS k,
           row_number() OVER (ORDER BY c_name ASC, c_custkey ASC) AS pos
    FROM customer
)
SELECT a.id AS id_a, b.id AS id_b, a.k AS key_a, b.k AS key_b,
       b.pos - a.pos AS pos_gap
FROM ranked a JOIN ranked b
  ON b.pos > a.pos AND b.pos <= a.pos + 3
"""

AUX_QUERIES["sorted_neighborhood"] = q_sorted_neighborhood
AUX_ORACLES["sorted_neighborhood"] = ORACLE_SORTED_NEIGHBORHOOD

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


_GEO_CLUSTER_RADIUS = 300.0
_GEO_CLUSTER_CELL_DEG = 6.0


def q_spatial_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial clustering: customers within 300 km of each other
    chained into clusters (single-linkage = connected components of
    the proximity graph) — coverage-region discovery from two
    verified stages: operators/geo.py pairs_within_radius (grid
    join, never all-pairs) feeding graph.connected_components;
    isolated customers label themselves.  Output: per cluster, its
    label (min member), size, and members' bounding box."""
    from ..operators import geo, graph

    c = load_table(spark, sf_dir, "customer")
    clat, clon = _geo_coords(F.col("c_custkey"))
    pts = c.select(
        F.col("c_custkey"), clat.alias("lat"), clon.alias("lon")
    )
    pairs = geo.pairs_within_radius(
        pts,
        radius_km=_GEO_CLUSTER_RADIUS,
        cell_deg=_GEO_CLUSTER_CELL_DEG,
        id_col="c_custkey",
        max_abs_lat=60.0,
    )
    comp = graph.connected_components(
        pairs,
        pts.select("c_custkey"),
        src_col="id_a",
        dst_col="id_b",
        node_col="c_custkey",
    )
    labeled = comp.join(pts, "c_custkey")
    out = (
        labeled.groupBy(F.col("component").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.min("lat"), 2).alias("lat_min"),
            F.round(F.max("lat"), 2).alias("lat_max"),
            F.round(F.min("lon"), 2).alias("lon_min"),
            F.round(F.max("lon"), 2).alias("lon_max"),
        )
        .filter(F.col("n_members") >= 2)
    )
    out._cc_source = comp  # released by the harness if it knows to
    return out


ORACLE_SPATIAL_CLUSTERS = f"""
WITH RECURSIVE c AS (
    SELECT c_custkey,
           ((c_custkey * 7919) % 12000) / 100.0 - 60.0 AS lat,
           ((c_custkey * 104729) % 34000) / 100.0 - 170.0 AS lon
    FROM customer
),
pairs AS MATERIALIZED (
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
    FROM c a JOIN c b ON a.c_custkey < b.c_custkey
    WHERE round(2.0 * 6371.0088 * asin(sqrt(
              pow(sin(radians(b.lat - a.lat) / 2.0), 2)
              + cos(radians(a.lat)) * cos(radians(b.lat))
                * pow(sin(radians(b.lon - a.lon) / 2.0), 2)
          )), 3) <= {_GEO_CLUSTER_RADIUS}
),
sym AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION SELECT id_b, id_a FROM pairs
),
reach (src, dst) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.src, s.v FROM reach r JOIN sym s ON r.dst = s.u
),
labeled AS (
    SELECT c.c_custkey,
           least(c.c_custkey,
                 coalesce((SELECT min(dst) FROM reach
                           WHERE src = c.c_custkey), c.c_custkey))
               AS cluster,
           lat, lon
    FROM c
)
SELECT cluster, count(*) AS n_members,
       round(min(lat), 2) AS lat_min, round(max(lat), 2) AS lat_max,
       round(min(lon), 2) AS lon_min, round(max(lon), 2) AS lon_max
FROM labeled
GROUP BY 1 HAVING count(*) >= 2
"""

AUX_QUERIES["spatial_clusters"] = q_spatial_clusters
AUX_ORACLES["spatial_clusters"] = ORACLE_SPATIAL_CLUSTERS

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


_SN_WINDOW = 5
_SN_MAX_DIST = 2


def q_entity_resolution_sn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution with SORTED-NEIGHBORHOOD blocking — the
    alternative candidate generator to token blocking (catches
    near-misses sharing no token as long as the sort places them
    close): normalized-name sort-neighbors (window 5,
    dedup.sorted_neighborhood_pairs over the distributed prefix-sum
    rank) → levenshtein ≤ 2 verify on the window·N candidates →
    transitive closure → survivorship, same shape as
    entity_resolution."""
    from ..operators.dedup import sorted_neighborhood_pairs
    from ..operators.graph import connected_components

    p = rebalance(load_table(spark, sf_dir, "part")).select(
        "p_partkey",
        F.regexp_replace(
            F.trim(F.lower(F.col("p_name"))), r"\s+", " "
        ).alias("__name"),
    )
    with materialize.scope() as ms:
        cand = ms.hold(
            sorted_neighborhood_pairs(p, "p_partkey", "__name", window=_SN_WINDOW)
        )
        pairs = cand.filter(
            F.levenshtein("key_a", "key_b", _SN_MAX_DIST) >= 0
        ).select("id_a", "id_b")
        comp = ms.hold(
            connected_components(pairs, p.select("p_partkey"), node_col="p_partkey")
        )
        out = comp.join(
            F.broadcast(
                p.select(
                    F.col("p_partkey").alias("component"),
                    F.col("__name").alias("canonical_name"),
                )
            ),
            "component",
        ).select(
            "p_partkey",
            F.col("component").alias("entity_id"),
            "canonical_name",
        )
        return ms.attach(out)


ORACLE_ENTITY_RESOLUTION_SN = f"""
WITH RECURSIVE norm AS (
    SELECT p_partkey AS id,
           regexp_replace(trim(lower(p_name)), '\\s+', ' ', 'g') AS name
    FROM part
),
ranked AS (
    SELECT id, name,
           row_number() OVER (ORDER BY name ASC, id ASC) AS pos
    FROM norm
),
pairs AS MATERIALIZED (
    SELECT a.id AS id_a, b.id AS id_b
    FROM ranked a JOIN ranked b
      ON b.pos > a.pos AND b.pos <= a.pos + {_SN_WINDOW}
    WHERE levenshtein(a.name, b.name) <= {_SN_MAX_DIST}
),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b AS a, id_a AS b FROM pairs
),
reach (src, dst) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (
    SELECT n.id AS p_partkey,
           least(n.id,
                 coalesce((SELECT min(dst) FROM reach WHERE src = n.id),
                          n.id)) AS entity_id
    FROM norm n
)
SELECT c.p_partkey, c.entity_id, n.name AS canonical_name
FROM comp c JOIN norm n ON n.id = c.entity_id
"""

AUX_QUERIES["entity_resolution_sn"] = q_entity_resolution_sn
AUX_ORACLES["entity_resolution_sn"] = ORACLE_ENTITY_RESOLUTION_SN

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_best_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point localization over the daily event-count
    series (binary-segmentation step 1): the split date minimizing
    pooled within-segment squared error — equivalently maximizing
    the between-segment contrast ``n_l·n_r/n·(μ_l−μ_r)²``.  One
    daily rollup, one cumulative window over the calendar-sized
    series (prefix sums give every split's segment means in O(1)),
    one argmax.  Ties break on the earlier date; the two end splits
    (empty segment) are excluded."""
    e = rebalance(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    w_cum = Window.orderBy(F.col("d").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    staged = daily.select(
        "d",
        F.count(F.lit(1)).over(w_cum).alias("k"),
        F.sum("n").over(w_cum).alias("s"),
        F.count(F.lit(1)).over(w_all).alias("nn"),
        F.sum("n").over(w_all).alias("tot"),
    ).filter(F.col("k") < F.col("nn"))
    k, s = F.col("k").cast("double"), F.col("s")
    nn, tot = F.col("nn").cast("double"), F.col("tot")
    mu_l = s / k
    mu_r = (tot - s) / (nn - k)
    contrast = k * (nn - k) / nn * (mu_l - mu_r) * (mu_l - mu_r)
    scored = staged.select(
        "d",
        F.col("k").alias("n_left"),
        F.round(mu_l, 6).alias("mean_left"),
        F.round(mu_r, 6).alias("mean_right"),
        F.round(contrast, 6).alias("contrast"),
    )
    w_rank = Window.orderBy(F.col("contrast").desc(), F.col("d").asc())
    return (
        scored.withColumn("__r", F.row_number().over(w_rank))
        .filter(F.col("__r") == 1)
        .drop("__r")
    )


ORACLE_BEST_CHANGEPOINT = """
WITH daily AS (
    SELECT ts::DATE AS d, count(*) * 1.0 AS n FROM events GROUP BY 1
),
staged AS (
    SELECT d,
           count(*) OVER w AS k,
           sum(n) OVER w AS s,
           count(*) OVER () AS nn,
           sum(n) OVER () AS tot
    FROM daily
    WINDOW w AS (ORDER BY d ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
scored AS (
    SELECT d, k AS n_left,
           round(s / k, 6) AS mean_left,
           round((tot - s) / (nn - k), 6) AS mean_right,
           round(k * 1.0 * (nn - k) / nn
                 * pow(s / k - (tot - s) / (nn - k), 2), 6) AS contrast
    FROM staged WHERE k < nn
)
SELECT d, n_left, mean_left, mean_right, contrast FROM (
    SELECT *, row_number() OVER (ORDER BY contrast DESC, d ASC) AS r
    FROM scored
) WHERE r = 1
"""

AUX_QUERIES["best_changepoint"] = q_best_changepoint
AUX_ORACLES["best_changepoint"] = ORACLE_BEST_CHANGEPOINT


def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per converting user, hours from
    first view to first purchase (only when the view precedes it),
    summarized as exact p25/p50/p90 via the histogram-formulation
    percentiles (operators/stats.py group_percentiles_exact — no
    TypedImperativeAggregate)."""
    from ..operators import stats

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "__tv"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("__tp"),
    )
    lat = per_user.filter(
        F.col("__tv").isNotNull()
        & F.col("__tp").isNotNull()
        & (F.col("__tv") < F.col("__tp"))
    ).select(
        F.round(
            (
                F.col("__tp").cast("timestamp").cast("double")
                - F.col("__tv").cast("timestamp").cast("double")
            )
            / 3600.0,
            6,
        ).alias("hours")
    )
    out = stats.group_percentiles_exact(
        lat.withColumn("__g", F.lit(1)),
        ["__g"],
        "hours",
        {"p25": 0.25, "p50": 0.5, "p90": 0.9},
    )
    return out.select(
        F.round("p25", 6).alias("p25"),
        F.round("p50", 6).alias("p50"),
        F.round("p90", 6).alias("p90"),
    )


ORACLE_CONVERSION_LATENCY = """
WITH per_user AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS tv,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
    FROM events GROUP BY 1
),
lat AS (
    SELECT round((epoch(tp) - epoch(tv)) / 3600.0, 6) AS hours
    FROM per_user
    WHERE tv IS NOT NULL AND tp IS NOT NULL AND tv < tp
)
SELECT round(quantile_cont(hours, 0.25), 6) AS p25,
       round(quantile_cont(hours, 0.5), 6) AS p50,
       round(quantile_cont(hours, 0.9), 6) AS p90
FROM lat
"""

AUX_QUERIES["conversion_latency"] = q_conversion_latency
AUX_ORACLES["conversion_latency"] = ORACLE_CONVERSION_LATENCY

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


def q_weekly_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive weekly decomposition of the daily event-count series
    (STL-lite): trend = centered 7-day moving average, seasonal =
    day-of-week mean of the detrended series (normalized to sum 0),
    residual = remainder.  Three chained windows/aggregates over the
    calendar-sized daily table; the corpus is scanned once.  Edge
    days without a full centered window carry NULL trend and drop."""
    e = rebalance(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    w7 = Window.orderBy(F.col("d").asc()).rowsBetween(-3, 3)
    t = daily.select(
        "d",
        "n",
        F.when(
            F.count(F.lit(1)).over(w7) == 7, F.avg("n").over(w7)
        ).alias("__trend"),
    ).filter(F.col("__trend").isNotNull())
    det = t.withColumn("__dt", F.col("n") - F.col("__trend")).withColumn(
        "dow", F.dayofweek("d")
    )
    prof = det.groupBy("dow").agg(F.avg("__dt").alias("__raw"))
    centered = prof.crossJoin(
        F.broadcast(prof.agg(F.avg("__raw").alias("__m")))
    ).select("dow", (F.col("__raw") - F.col("__m")).alias("__seas"))
    return (
        det.join(F.broadcast(centered), "dow")
        .select(
            "d",
            F.col("n").cast("long").alias("n_events"),
            F.round("__trend", 6).alias("trend"),
            F.round("__seas", 6).alias("seasonal"),
            F.round(
                F.col("n") - F.col("__trend") - F.col("__seas"), 6
            ).alias("residual"),
        )
    )


ORACLE_WEEKLY_DECOMPOSITION = """
WITH daily AS (
    SELECT ts::DATE AS d, count(*) * 1.0 AS n FROM events GROUP BY 1
),
t AS (
    SELECT d, n,
           CASE WHEN count(*) OVER w = 7 THEN avg(n) OVER w END AS trend
    FROM daily
    WINDOW w AS (ORDER BY d ASC ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
    SELECT d, n, trend, n - trend AS dt, dayofweek(d) + 1 AS dow
    FROM t WHERE trend IS NOT NULL
),
prof AS (SELECT dow, avg(dt) AS raw FROM det GROUP BY 1),
centered AS (
    SELECT dow, raw - (SELECT avg(raw) FROM prof) AS seas FROM prof
)
SELECT d, CAST(n AS BIGINT) AS n_events,
       round(trend, 6) AS trend,
       round(seas, 6) AS seasonal,
       round(n - trend - seas, 6) AS residual
FROM det JOIN centered USING (dow)
"""

AUX_QUERIES["weekly_decomposition"] = q_weekly_decomposition
AUX_ORACLES["weekly_decomposition"] = ORACLE_WEEKLY_DECOMPOSITION


def q_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical contribution: each nation's revenue share within
    its region, plus the region's share of the world — the percent-
    of-parent OLAP staple.  One fact aggregate keyed by nation, then
    ratio windows over the 25-row rollup; dims broadcast."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    dims = n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_name").alias("nation"),
        F.col("r_name").alias("region"),
    )
    t = rev.join(F.broadcast(dims), "nationkey")
    w_reg = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return t.select(
        "region",
        "nation",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w_reg), 6).alias(
            "share_of_region"
        ),
        F.round(
            F.sum("revenue").over(w_reg) / F.sum("revenue").over(w_all), 6
        ).alias("region_share_of_world"),
    )


ORACLE_SHARE_OF_PARENT = """
WITH rev AS (
    SELECT c.c_nationkey AS nationkey,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1
),
t AS (
    SELECT r.r_name AS region, n.n_name AS nation, rev.revenue
    FROM rev JOIN nation n ON n.n_nationkey = rev.nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
)
SELECT region, nation, revenue,
       round(revenue / sum(revenue) OVER (PARTITION BY region), 6)
           AS share_of_region,
       round(sum(revenue) OVER (PARTITION BY region)
             / sum(revenue) OVER (), 6) AS region_share_of_world
FROM t
"""

AUX_QUERIES["share_of_parent"] = q_share_of_parent
AUX_ORACLES["share_of_parent"] = ORACLE_SHARE_OF_PARENT


def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per calendar month — the engagement-depth
    ratio: average daily active users over that month's monthly
    active users.  Two distinct collapses off one scan of the
    events table (month × day × user, then month × user), joined on
    the month-sized rollups."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        F.date_trunc("month", F.col("ts")).cast("date").alias("m"),
        F.col("ts").cast("date").alias("d"),
        "user_id",
    )
    dau = (
        base.select("m", "d", "user_id")
        .distinct()
        .groupBy("m", "d")
        .agg(F.count(F.lit(1)).alias("__dau"))
        .groupBy("m")
        .agg(F.avg("__dau").alias("__avg_dau"))
    )
    mau = (
        base.select("m", "user_id")
        .distinct()
        .groupBy("m")
        .agg(F.count(F.lit(1)).alias("mau"))
    )
    return dau.join(mau, "m").select(
        F.col("m").alias("month"),
        F.round("__avg_dau", 6).alias("avg_dau"),
        "mau",
        F.round(F.col("__avg_dau") / F.col("mau"), 6).alias("stickiness"),
    )


ORACLE_STICKINESS = """
WITH base AS (
    SELECT date_trunc('month', ts)::DATE AS m, ts::DATE AS d, user_id
    FROM events
),
dau AS (
    SELECT m, avg(dau) AS avg_dau FROM (
        SELECT m, d, count(DISTINCT user_id) AS dau
        FROM base GROUP BY 1, 2
    ) GROUP BY 1
),
mau AS (
    SELECT m, count(DISTINCT user_id) AS mau FROM base GROUP BY 1
)
SELECT m AS month, round(avg_dau, 6) AS avg_dau, mau,
       round(avg_dau / mau, 6) AS stickiness
FROM dau JOIN mau USING (m)
"""

AUX_QUERIES["stickiness"] = q_stickiness
AUX_ORACLES["stickiness"] = ORACLE_STICKINESS

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)


_WILSON_Z = 1.959964


def q_supplier_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier ranking under small-sample uncertainty: per-supplier
    non-return rate with its Wilson score LOWER bound (the
    Evan-Miller ranking correction — a 2/2 supplier must not outrank
    a 480/500 one).  ONE conditional aggregate over the fact table;
    the bound is pure arithmetic on the two counts, rounded in-plan.
    Suppliers ranked by the bound, deterministic (bound DESC,
    suppkey ASC) order returned as a rank column via one window over
    the supplier-sized rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            (F.col("l_returnflag") != "R").cast("long")
        ).alias("n_kept"),
    )
    z = F.lit(_WILSON_Z)
    n = F.col("n_items").cast("double")
    p = F.col("n_kept") / n
    denom = 1.0 + z * z / n
    center = p + z * z / (2.0 * n)
    spread = z * F.sqrt(
        p * (1.0 - p) / n + z * z / (4.0 * n * n)
    )
    scored = agg.select(
        "suppkey",
        "n_items",
        "n_kept",
        F.round(p, 6).alias("kept_rate"),
        F.round((center - spread) / denom, 6).alias("wilson_lb"),
    )
    w = Window.orderBy(F.col("wilson_lb").desc(), F.col("suppkey").asc())
    return scored.withColumn("rank", F.row_number().over(w))


ORACLE_SUPPLIER_RELIABILITY = f"""
WITH agg AS (
    SELECT l_suppkey AS suppkey, count(*) AS n_items,
           sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS n_kept
    FROM lineitem GROUP BY 1
),
scored AS (
    SELECT suppkey, n_items, n_kept,
           round(CAST(n_kept AS DOUBLE) / n_items, 6) AS kept_rate,
           round((CAST(n_kept AS DOUBLE) / n_items
                  + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n_items)
                  - {_WILSON_Z} * sqrt(
                        (CAST(n_kept AS DOUBLE) / n_items)
                        * (1.0 - CAST(n_kept AS DOUBLE) / n_items)
                        / n_items
                        + {_WILSON_Z} * {_WILSON_Z}
                          / (4.0 * n_items * n_items)))
                 / (1.0 + {_WILSON_Z} * {_WILSON_Z} / n_items), 6)
               AS wilson_lb
    FROM agg
)
SELECT *, row_number() OVER (ORDER BY wilson_lb DESC, suppkey ASC)
           AS rank
FROM scored
"""

AUX_QUERIES["supplier_reliability"] = q_supplier_reliability
AUX_ORACLES["supplier_reliability"] = ORACLE_SUPPLIER_RELIABILITY


_ALSO_BOUGHT_K = 3


def q_also_bought_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-best-offer table: for each part (key < 200), its top-3
    co-purchased partners by shared-order count, ties broken on the
    smaller partner key — the verified co-purchase collapse plus ONE
    item-keyed rank window (window state = one item's partners)."""
    li = rebalance(load_table(spark, sf_dir, "lineitem"))
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") != F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    w = Window.partitionBy("pa").orderBy(
        F.col("n_shared").desc(), F.col("pb").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= _ALSO_BOUGHT_K) & (F.col("pa") < 200))
        .select(
            F.col("pa").alias("partkey"),
            F.col("pb").alias("also_bought"),
            "n_shared",
            "rank",
        )
    )


ORACLE_ALSO_BOUGHT = f"""
WITH pairs AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_shared
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2
)
SELECT pa AS partkey, pb AS also_bought, n_shared, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY pa
               ORDER BY n_shared DESC, pb ASC) AS rank
    FROM pairs
) WHERE rank <= {_ALSO_BOUGHT_K} AND pa < 200
"""

AUX_QUERIES["also_bought_topk"] = q_also_bought_topk
AUX_ORACLES["also_bought_topk"] = ORACLE_ALSO_BOUGHT

assert set(AUX_ORACLES) == set(AUX_QUERIES), (
    "every AUX entry needs an oracle twin: "
    f"{set(AUX_ORACLES) ^ set(AUX_QUERIES)}"
)

