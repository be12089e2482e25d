"""Graph-analytics query surface over the star schema's implicit graphs.

The near-dup tier already runs one graph algorithm (connected components,
operators/dedup.py); this module adds the other two shapes a curation /
analytics pipeline runs over relationship data:

- q84: co-occurrence pair mining (the market-basket / A-priori first
  pass) — parts bought together, the join-then-count workload whose
  blow-up risk is per-group pair fan-out, bounded here by order size.
- q86: fixed-iteration PageRank over the co-supply graph — the
  iterative-join workload (web-graph ranking is a standard crawl-
  curation signal). Two unrolled power iterations keep the plan static
  and oracle-checkable; the driver-loop variant for arbitrary k is the
  same join+agg body iterated (same shape as operators/dedup.py's CC
  fixpoint loop).
- q87: CDC snapshot diff — relationship between two VERSIONS of a
  table rather than between rows; the classify-changes primitive an
  incremental pipeline runs before MERGE.

All specs carry exact DuckDB oracles; double rank mass is rounded in
BOTH engines (sum order differs) per the repo-wide FP rule, and q87's
price bump is FP-exact by construction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..cacheutil import PlanCache, session_token
from ..sources.tpch import load_table
from .spec import Registry

G = Registry()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


#: (session id, sf_dir) → (edges, deg, n_nodes). Iterative rank reuses the
#: co-supply edge list across the node-count job and both unrolled
#: iterations — without it the distinct-pair build runs 4x (GraphX
#: persists its edge RDD for exactly this reason). MEMORY_AND_DISK so a
#: 100 TB edge list spills instead of OOMing; eviction and
#: clear_plan_caches unpersist both frames of an entry.
_EDGE_CACHE_MAX = 4
_EDGE_CACHE = PlanCache(_EDGE_CACHE_MAX)


def _cosupply_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int]:
    key = (session_token(spark), os.path.abspath(sf_dir))
    hit = _EDGE_CACHE.get(key)
    if hit is not None:
        return hit
    su = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
    a = su.alias("a")
    b = su.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_nodes = deg.count()  # one driver scalar; also materializes both caches
    return _EDGE_CACHE.put(key, (edges, deg, n_nodes))


# ---------------------------------------------------------------------------
# q84 — co-purchase pair mining (market basket)
# ---------------------------------------------------------------------------
@G.add(
    "q84_copurchase_pairs",
    oracle="""
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, count(*)::BIGINT AS n_orders
FROM pairs
GROUP BY part_a, part_b
ORDER BY n_orders DESC, part_a, part_b
LIMIT 25
""",
    doc="Co-occurrence pair mining (market basket, the A-priori first "
    "pass): part pairs appearing in the same order, top-25 by order "
    "count with (part_a, part_b) tie-break. The self-join is keyed on "
    "l_orderkey, so the fan-out per group is C(parts-per-order, 2) — "
    "bounded by basket size (≤7 lineitems in TPC-H shapes), never a "
    "cross join; the pair count then shuffles once on the pair key with "
    "map-side partial aggregation, and top-25 is TakeOrderedAndProject, "
    "not a global sort. At 100 TB the plan is identical; a pathological "
    "mega-basket would be capped with a per-order part limit before the "
    "join (same guard family as the LSH bucket caps).",
    tags=("join", "pairs", "basket", "graph"),
)
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    basket = (
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    a = basket.alias("a")
    b = basket.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# q86 — fixed-iteration PageRank over the co-supply graph
# ---------------------------------------------------------------------------
_PR_ORACLE = """
WITH su AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
),
edges AS (  -- undirected co-supply edges, both directions materialized
  SELECT a.l_suppkey AS src, b.l_suppkey AS dst
  FROM su a JOIN su b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
  GROUP BY a.l_suppkey, b.l_suppkey
),
deg AS (
  SELECT src, count(*)::BIGINT AS degree FROM edges GROUP BY src
),
n AS (SELECT count(*)::BIGINT AS n_nodes FROM deg),
r0 AS (
  SELECT d.src AS node, 1.0 / n.n_nodes AS rank FROM deg d, n
),
r1 AS (
  SELECT e.dst AS node,
         (SELECT 0.15 / n_nodes FROM n)
           + 0.85 * sum(r0.rank / deg.degree) AS rank
  FROM edges e
  JOIN r0 ON r0.node = e.src
  JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
r2 AS (
  SELECT e.dst AS node,
         (SELECT 0.15 / n_nodes FROM n)
           + 0.85 * sum(r1.rank / deg.degree) AS rank
  FROM edges e
  JOIN r1 ON r1.node = e.src
  JOIN deg ON deg.src = e.src
  GROUP BY e.dst
)
SELECT node AS s_suppkey, round(rank, 9) AS rank
FROM r2
ORDER BY rank DESC, s_suppkey
LIMIT 20
"""


def _pr_step(
    edges: DataFrame,
    deg: DataFrame,
    rank: DataFrame,
    teleport,
    damping: float = 0.85,
) -> DataFrame:
    """One power iteration: rank' = teleport + d * sum(in-share). Shared
    by the unrolled q86 plan and the convergence-stopped :func:`pagerank`.
    On a symmetric graph every node has out-degree >= 1, so no
    dangling-mass term; the edge join shuffles on src and AQE reuses the
    partitioning across iterations."""
    contrib = (
        edges.join(rank.withColumnRenamed("src", "node"), F.col("node") == edges.src)
        .join(deg, "src")
        .select("dst", (F.col("rank") / F.col("degree")).alias("share"))
    )
    return (
        contrib.groupBy("dst")
        .agg((teleport + F.lit(damping) * F.sum("share")).alias("rank"))
        .withColumnRenamed("dst", "src")
    )


def pagerank(
    edges: DataFrame,
    deg: DataFrame,
    n_nodes: int,
    damping: float = 0.85,
    max_iterations: int = 20,
    tol: float = 1e-9,
) -> tuple[DataFrame, int]:
    """Arbitrary-k PageRank with a convergence stop — the driver-loop
    variant of q86's two unrolled iterations (same join+agg body via
    :func:`_pr_step`), in the operators/dedup.py CC-fixpoint idiom:
    persist the new rank vector each round, compute the L1 rank delta
    (one bounded aggregation → a single driver scalar), unpersist the
    previous round, stop when delta < ``tol`` or after
    ``max_iterations``.

    Returns ``(rank, iterations_run)``; ``rank`` is left persisted for
    the caller (unpersist when done). Rank state is one double per node;
    nothing graph-shaped ever reaches the driver. ``tol=0.0`` never
    converges early, giving exactly ``max_iterations`` rounds — the
    differential handle tests use to pin this against the unrolled q86
    at k=2 (tests/test_graph.py).
    """
    teleport = F.lit((1.0 - damping) / n_nodes)
    rank = deg.select("src", F.lit(1.0 / n_nodes).alias("rank")).persist()
    iterations_run = 0
    for _ in range(max_iterations):
        new_rank = _pr_step(edges, deg, rank, teleport, damping).persist()
        delta_row = (
            new_rank.alias("n")
            .join(rank.alias("o"), "src")
            .agg(F.sum(F.abs(F.col("n.rank") - F.col("o.rank"))).alias("d"))
            .collect()[0]
        )
        rank.unpersist()
        rank = new_rank
        iterations_run += 1
        delta = delta_row["d"]
        if delta is not None and delta < tol:
            break
    return rank, iterations_run


@G.add(
    "q86_supplier_pagerank",
    oracle=_PR_ORACLE,
    doc="Fixed-iteration PageRank (d=0.85, 2 unrolled power iterations) "
    "over the co-supply graph: suppliers are nodes, an edge links two "
    "suppliers that share at least one order — web-graph ranking is a "
    "standard crawl-curation quality signal, and this is its engine "
    "shape. Edge building is the q84 pattern (orderkey-bounded pair "
    "fan-out, then a distinct on the pair); every iteration is one "
    "equi-join of the rank vector against the edge list plus a grouped "
    "sum — rank state is one double per node, never adjacency on the "
    "driver. Because the co-supply graph is symmetric, every node with "
    "an edge has out-degree ≥ 1, so no dangling-mass term is needed. "
    "At 100 TB the edge list shuffles on src (AQE reuses the "
    "partitioning across the unrolled iterations) and the rank vector "
    "is the small side of each join. Rank mass is rounded to 9 dp in "
    "both engines before hashing (FP sum order). Arbitrary-k variant = "
    "the same body in a driver loop with persist/unpersist per round, "
    "the operators/dedup.py CC fixpoint idiom.",
    tags=("graph", "iterative", "pagerank"),
)
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, deg, n_nodes = _cosupply_graph(spark, sf_dir)
    teleport = F.lit(0.15 / n_nodes)

    rank = deg.select("src", F.lit(1.0 / n_nodes).alias("rank"))
    r2 = _pr_step(edges, deg, _pr_step(edges, deg, rank, teleport), teleport)
    return (
        r2.select(F.col("src").alias("s_suppkey"), F.round("rank", 9).alias("rank"))
        .orderBy(F.desc("rank"), "s_suppkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q87 — CDC snapshot diff (insert / delete / update classification)
# ---------------------------------------------------------------------------
@G.add(
    "q87_snapshot_diff",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_totalprice AS price
  FROM orders WHERE o_orderkey % 97 <> 0
),
curr AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0
              THEN o_totalprice + 1000.0 ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 89 <> 0
)
SELECT coalesce(b.o_orderkey, c.o_orderkey) AS o_orderkey,
       CASE WHEN b.o_orderkey IS NULL THEN 'insert'
            WHEN c.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       b.price AS old_price,
       c.price AS new_price
FROM base b FULL OUTER JOIN curr c ON b.o_orderkey = c.o_orderkey
WHERE b.o_orderkey IS NULL OR c.o_orderkey IS NULL OR b.price <> c.price
""",
    doc="CDC snapshot diff: classify rows as insert / delete / update "
    "between two versions of a table — the change-data-capture primitive "
    "an incremental 100 TB pipeline runs between partition snapshots "
    "before MERGEing (the batch twin of sinks.writers:"
    "upsert_partitioned_table, which applies such a diff). The two "
    "versions are derived deterministically from orders (key-modulus "
    "membership + a price bump) so both engines see identical inputs. "
    "One full-outer join on the key — a single co-partitioned shuffle "
    "pair; unchanged rows are filtered by the value comparison, so "
    "output is proportional to the CHANGE volume, not table size. At "
    "100 TB both sides bucket/partition on the key and the join is "
    "zero-exchange (tests/test_bucketing.py shape). The synthetic price "
    "bump is +1000.0 — exact in binary floating point, so the change "
    "comparison and output values are bit-identical in both engines "
    "(a *1.1 bump landed on a round-half boundary Spark and DuckDB "
    "round differently).",
    tags=("cdc", "diff", "join", "relational"),
)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    curr = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1000.0)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    b = base.alias("b")
    c = curr.alias("c")
    joined = b.join(c, F.col("b.o_orderkey") == F.col("c.o_orderkey"), "full_outer")
    return joined.select(
        F.coalesce(F.col("b.o_orderkey"), F.col("c.o_orderkey")).alias("o_orderkey"),
        F.when(F.col("b.o_orderkey").isNull(), "insert")
        .when(F.col("c.o_orderkey").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        F.col("b.price").alias("old_price"),
        F.col("c.price").alias("new_price"),
    ).filter(
        F.col("b.o_orderkey").isNull()
        | F.col("c.o_orderkey").isNull()
        | (F.col("b.price") != F.col("c.price"))
    )


# ---------------------------------------------------------------------------
# Shared basket → pair-count fan-out (q107 / q109)
# ---------------------------------------------------------------------------
#: Default per-basket item cap for the in-array pair/triple fan-out. The
#: fan-out is O(basket²) (O(basket³) for triples); TPC-H baskets are ≤7
#: items so this is a no-op on the oracle data, but on real transaction
#: logs a single pathological mega-basket (a bot account, a bulk import)
#: would dominate the stage. Baskets above the cap are EXCLUDED — in
#: curation terms they are noise, not signal (the same judgement the LSH
#: bucket caps make for hub shingles); callers who want them keep them by
#: passing ``max_basket=None``.
DEFAULT_MAX_BASKET = 10_000


def basket_arrays(
    basket: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    max_basket: int | None = DEFAULT_MAX_BASKET,
) -> DataFrame:
    """(order, item) rows → one sorted distinct-item array per order
    (column ``ps``), with the :data:`DEFAULT_MAX_BASKET` guard applied
    BEFORE any pair/triple fan-out. One exchange on the order key; the
    array is bounded by ``max_basket`` so downstream explodes are too."""
    ps = basket.groupBy(order_col).agg(
        F.array_sort(F.collect_set(item_col)).alias("ps")
    )
    if max_basket is not None:
        ps = ps.filter(F.size("ps") <= max_basket)
    return ps


def basket_pair_counts(
    basket: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    max_basket: int | None = DEFAULT_MAX_BASKET,
    min_count: int | None = None,
) -> DataFrame:
    """Co-occurrence pair counts (part_a < part_b, columns ``part_a,
    part_b, n_ab``) via the in-array fan-out: one orderkey exchange
    builds per-order arrays, pairs explode in-operator (skips the
    self-join SMJ's two full sorts — measured 11.7s → 5.4s at sf1.0),
    then one shuffle on the pair key with map-side partial aggregation.
    ``max_basket`` bounds the O(basket²) explode (see
    :data:`DEFAULT_MAX_BASKET`)."""
    pairs = (
        basket_arrays(basket, order_col, item_col, max_basket)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    if min_count is not None:
        pairs = pairs.filter(F.col("n_ab") >= min_count)
    return pairs


# ---------------------------------------------------------------------------
# q107 — association rules (support / confidence / lift) over co-purchases
# ---------------------------------------------------------------------------
@G.add(
    "q107_association_rules",
    oracle="""
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_total FROM basket),
item AS (
  SELECT l_partkey, count(*)::BIGINT AS n_item FROM basket GROUP BY l_partkey
),
-- mirrors the Spark side's DEFAULT_MAX_BASKET=10000 fan-out guard
-- (basket_arrays): baskets over the cap are excluded from the PAIR
-- fan-out on BOTH engines, so parity holds on any data, not just data
-- that happens to stay under the cap. n/item stay uncapped, matching
-- the Spark plan (total and item supports count every basket).
capped AS (
  SELECT l_orderkey FROM basket GROUP BY l_orderkey HAVING count(*) <= 10000
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*)::BIGINT AS n_ab
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN capped c ON c.l_orderkey = a.l_orderkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_ab,
       round(n_ab / n_total, 6) AS support,
       round(n_ab / ia.n_item, 6) AS conf_a_to_b,
       round((n_ab * n_total) / (ia.n_item * ib.n_item), 6) AS lift
FROM pairs
CROSS JOIN n
JOIN item ia ON ia.l_partkey = part_a
JOIN item ib ON ib.l_partkey = part_b
WHERE n_ab >= 2
ORDER BY round((n_ab * n_total) / (ia.n_item * ib.n_item), 6) DESC,
         part_a, part_b
LIMIT 25
""",
    doc="A-priori step two on q84's pair counts: support n_ab/N, "
    "confidence n_ab/n_a, and lift (n_ab*N)/(n_a*n_b) for every "
    "co-purchased part pair above min-support, top-25 by lift. The pair "
    "fan-out is the shared basket_pair_counts (orderkey-bounded in-array "
    "explode, never a cross join, max_basket-capped); the 1-row basket "
    "total joins by a whitelisted single-row broadcast (q50's bounds "
    "pattern). The item-count dims carry NO broadcast hint: |parts| "
    "grows linearly with the corpus (~2B rows at 100 TB TPC-H scale), "
    "so the planner must stay free to degrade the dim joins to shuffle "
    "joins on the pair key — Spark's size estimate (plus AQE) still "
    "broadcasts them whenever they fit, which they do at every test SF. "
    "Ordering uses the ROUNDED lift so the top-25 cutoff is "
    "cross-engine deterministic; ties break on the pair key. At 100 TB: "
    "pairs shuffle once on the pair key, dims join by size-appropriate "
    "strategy, top-25 is TakeOrderedAndProject. Reference counterpart: "
    "none (north-star extension).",
    tags=("basket", "graph", "rules"),
)
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Five consumers read the basket distinct (total, item counts, both
    # self-join sides, pair agg lineage) — persist it once or the 6M-row
    # distinct recomputes per consumer (measured 18.6s -> the persist
    # brings it in line with q84's 5.7s at sf1.0). MEMORY_AND_DISK like
    # the co-supply edge cache; bench's clear_plan_caches drops it on
    # cold re-times, and Spark's CacheManager dedupes repeat calls.
    basket = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    total = basket.agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("n_total")
    )
    item = basket.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    pairs = basket_pair_counts(basket, min_count=2)
    ia = item.select(F.col("pk").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("pk").alias("part_b"), F.col("n_item").alias("n_b"))
    lift = F.round(
        (F.col("n_ab") * F.col("n_total")) / (F.col("n_a") * F.col("n_b")), 6
    )
    # the dim joins carry NO broadcast hint on purpose (see doc): |parts|
    # is corpus-linear, so the hint becomes an OOM at 100 TB — the
    # planner's size estimate broadcasts the dims exactly when they fit
    return (
        pairs.crossJoin(F.broadcast(total))
        .join(ia, "part_a")
        .join(ib, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(F.col("n_ab") / F.col("n_total"), 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("conf_a_to_b"),
            lift.alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# q109 — frequent triple itemsets (A-priori step three)
# ---------------------------------------------------------------------------
@G.add(
    "q109_frequent_triples",
    oracle="""
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
-- mirrors Spark's DEFAULT_MAX_BASKET=10000 guard at BOTH fan-out sites:
-- cap1 on the raw baskets feeding pair support (basket_pair_counts),
-- cap2 on the item-pruned baskets feeding the triple fan-out
-- (basket_arrays(fbasket)). A basket over the raw cap but under the
-- post-prune cap contributes triples but not pair support on both
-- engines alike — the double-cap judgement is mirrored, not assumed away.
cap1 AS (
  SELECT l_orderkey FROM basket GROUP BY l_orderkey HAVING count(*) <= 10000
),
fp AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN cap1 ON cap1.l_orderkey = a.l_orderkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
fitems AS (SELECT pa AS l_partkey FROM fp UNION SELECT pb FROM fp),
fb AS (
  SELECT b.l_orderkey, b.l_partkey FROM basket b
  WHERE b.l_partkey IN (SELECT l_partkey FROM fitems)
),
cap2 AS (
  SELECT l_orderkey FROM fb GROUP BY l_orderkey HAVING count(*) <= 10000
),
triples AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, c.l_partkey AS part_c
  FROM fb a
  JOIN fb b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN fb c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
  JOIN cap2 ON cap2.l_orderkey = a.l_orderkey
)
SELECT part_a, part_b, part_c, count(*)::BIGINT AS n_orders
FROM triples
GROUP BY 1, 2, 3 HAVING count(*) >= 2
ORDER BY n_orders DESC, part_a, part_b, part_c
LIMIT 100
""",
    doc="A-priori step three: part triples co-purchased in >= 2 orders, "
    "completing the basket-mining family (q84 pairs -> q107 rules -> "
    "triples, the way q95 bigrams completed q68 unigrams). The A-priori "
    "downward-closure prune runs BEFORE the cubic fan-out: a support-2 "
    "triple's items each sit in a support-2 PAIR, so the basket is "
    "semi-joined to the items of q107's frequent pairs (reusing the "
    "shared basket_pair_counts body) — exactness-preserving, because "
    "pruning ITEMS never removes a basket, so surviving-triple counts "
    "are unchanged. The triple fan-out is then the in-array explode "
    "(O(k^3) per basket but k <= max_basket and, post-prune, k counts "
    "only frequent items), one shuffle on the triple key with map-side "
    "partial agg, TakeOrderedAndProject for the bounded output. At "
    "100 TB the prune is what makes this viable: pair support is "
    "corpus-sparse, so the pruned basket is a small fraction of the "
    "raw one before any cubic work happens. Reference counterpart: "
    "none (north-star extension).",
    tags=("basket", "graph", "rules", "iterative"),
)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    # three consumers of the basket distinct (pair counts, the semi-join
    # probe, the triple arrays) — persist once, q107's pattern; dropped
    # by clear_plan_caches via spark.catalog.clearCache on cold re-times
    basket = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    fp = basket_pair_counts(basket, min_count=2)
    fitems = (
        fp.select(F.explode(F.array("part_a", "part_b")).alias("l_partkey"))
        .distinct()
    )
    fbasket = basket.join(fitems, "l_partkey", "left_semi")
    triples = (
        basket_arrays(fbasket)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " flatten(transform(slice(ps, i + 2, size(ps)), (y, j) ->"
                    " transform(slice(ps, i + j + 3, size(ps)),"
                    " z -> struct(x AS part_a, y AS part_b, z AS part_c))))))"
                )
            ).alias("t")
        )
        .select("t.part_a", "t.part_b", "t.part_c")
        .groupBy("part_a", "part_b", "part_c")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )
    return triples.orderBy(
        F.desc("n_orders"), "part_a", "part_b", "part_c"
    ).limit(100)


#: Persisted intermediates of the multi-scan graph operators
#: (oriented_triangles' edge + oriented lists, bfs_hops' edge list, q122's
#: pair set), bounded like _EDGE_CACHE: oldest unpersisted on overflow
#: (correctness unaffected — lineage recomputes), all dropped by
#: clear_plan_caches for cold-path bench runs. A tracker of its own, not
#: cacheutil.track_persist's, so tools/scalecheck.py can clear ONLY these
#: (clear_graph_persists) between cold BFS timings.
_GRAPH_PERSISTS = PlanCache(16)
#: unpersist every tracked graph-operator intermediate (cold-path
#: measurement)
clear_graph_persists = _GRAPH_PERSISTS.clear


def oriented_triangles(
    edges: DataFrame, a_col: str = "part_a", b_col: str = "part_b"
) -> DataFrame:
    """Degree-oriented triangle enumeration (the Cohen / Suri-Vassilvitskii
    MapReduce construction): direct every undirected edge from its
    lower-(degree, id) endpoint to the higher one, form wedges only at
    each edge's SOURCE, and close them against the oriented edge set.
    Every triangle has exactly one vertex whose two triangle-edges both
    point outward, so each is found exactly once — and the wedge
    fan-out at a vertex is its OUT-degree squared, which orientation
    caps at O(sqrt(|E|)) per vertex regardless of how skewed the raw
    degree distribution is (a celebrity node's million-edge star
    produces zero wedges at the celebrity: all its edges point INTO
    it). That per-vertex bound is what makes the plan survive 100 TB;
    the id-ordered naive wedge join has an unbounded hub blow-up.

    Returns canonical id-sorted triples (p1 < p2 < p3) — deliberately
    implementation-independent, so the registered spec's simple
    id-ordered SQL oracle checks that the oriented algorithm finds
    exactly the same triangle SET. Degree tables are corpus-linear:
    joined WITHOUT broadcast hints (the q107 lesson), AQE picks the
    strategy by measured size.

    Persist lifecycle: the edge list is scanned twice (degree count,
    orientation) and the oriented list three times (both wedge sides,
    closure probe) — both persist once and stay cached for the life of
    the returned plan, tracked in the bounded ``_GRAPH_PERSISTS`` LRU and
    unpersisted on eviction or by ``clear_plan_caches`` (the cold-path
    bench contract; same pattern as ``_EDGE_CACHE``).
    """
    e = edges.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    _GRAPH_PERSISTS.track(e)
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = e.join(
        deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a")), "a"
    ).join(
        deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b")), "b"
    )
    a_first = F.struct("deg_a", "a") < F.struct("deg_b", "b")
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias(
            "deg_dst"
        ),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    _GRAPH_PERSISTS.track(oriented)
    w1, w2, closing = (
        oriented.alias("w1"),
        oriented.alias("w2"),
        oriented.alias("cl"),
    )
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (
            F.struct(F.col("w1.deg_dst"), F.col("w1.dst"))
            < F.struct(F.col("w2.deg_dst"), F.col("w2.dst"))
        ),
    ).select(
        F.col("w1.src").alias("apex"),
        F.col("w1.dst").alias("u"),
        F.col("w2.dst").alias("w"),
    )
    tri = wedges.join(
        closing,
        (F.col("u") == F.col("cl.src")) & (F.col("w") == F.col("cl.dst")),
    ).select(F.array_sort(F.array("apex", "u", "w")).alias("t"))
    return tri.select(
        F.element_at("t", 1).alias("p1"),
        F.element_at("t", 2).alias("p2"),
        F.element_at("t", 3).alias("p3"),
    )


# ---------------------------------------------------------------------------
# q121 — triangle enumeration over the support-pruned co-purchase graph
# ---------------------------------------------------------------------------
@G.add(
    "q121_copurchase_triangles",
    oracle="""
WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
-- mirrors Spark's DEFAULT_MAX_BASKET=10000 pair fan-out guard
capped AS (
  SELECT l_orderkey FROM basket GROUP BY l_orderkey HAVING count(*) <= 10000
),
e AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM basket a
  JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN capped c ON c.l_orderkey = a.l_orderkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT e1.pa AS p1, e1.pb AS p2, e2.pb AS p3
FROM e e1
JOIN e e2 ON e1.pb = e2.pa
JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
""",
    doc="Triangle enumeration over the support-pruned co-purchase graph "
    "(edges = part pairs co-purchased in >= 2 orders, q84's "
    "basket_pair_counts with min_count=2) — the graph-closure member "
    "of the basket family (q84 pairs -> q107 rules -> q109 in-order "
    "triples -> q121 pairwise-closure triangles; a triangle's three "
    "edges may come from three DIFFERENT orders, which is what "
    "distinguishes it from q109). The Spark side runs the "
    "DEGREE-ORIENTED algorithm (oriented_triangles: every edge "
    "directed low->high (degree, id), wedges formed only at sources, "
    "closed against the oriented set — per-vertex wedge cost capped "
    "at out-degree² = O(|E|) total instead of the naive hub blow-up), "
    "while the oracle is the straightforward id-ordered 3-way "
    "self-join: the hash match proves the oriented construction finds "
    "EXACTLY the naive algorithm's triangle set, each exactly once. "
    "Scale: one orderkey exchange (the shared basket build), one "
    "pair-key shuffle, degree join with NO broadcast hint (AQE "
    "decides — the q107 lesson), wedge+closure joins keyed on vertex "
    "ids; edges and the oriented list persist once each. Reference "
    "counterpart: none (north-star extension).",
    tags=("graph", "basket", "triangles", "join"),
)
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    basket = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = basket_pair_counts(basket, min_count=2)
    return oriented_triangles(edges)


def bfs_hops(
    edges: DataFrame, seed: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Frontier-based breadth-first search: minimum hop distance from the
    seed set, bounded at ``max_hops``. ``edges`` must carry BOTH
    directions as (src, dst); ``seed`` is a 1-column frame ``v``.

    Each round joins ONLY the current frontier (nodes first reached last
    round) against the edge list — never the full distance table — so
    per-round shuffle volume is O(frontier out-edges), the textbook
    Pregel/GraphX BFS shape. The left-anti join against the accumulated
    distance frame guarantees first-reach-wins, which for BFS IS the
    minimum distance, so no min-aggregation is needed afterwards. The
    per-round empty check is a bounded take(1) (same O(1)-driver-data
    family as pagerank's delta collect). Distance state is one int per
    reached node. Each round's frontier and distance frame is a local
    checkpoint, so a round's plan holds no earlier round: cached frames
    would nest every earlier round's cached plan, and q122's plan text
    grew to about 97 MB at sf0.01, which AQE rebuilds on each stage update
    and which ran a 1 GB driver out of heap. Checkpoint blocks are freed
    when their frames are garbage collected; the edge list goes through
    the bounded ``_GRAPH_PERSISTS`` tracker.
    """
    e = _GRAPH_PERSISTS.track(
        edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    )
    dist = seed.select("v", F.lit(0).cast("int").alias("hops")).localCheckpoint()
    frontier = dist.select("v")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["v"] == e["src"])
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(dist, "v", "left_anti")
            .select("v", F.lit(h).cast("int").alias("hops"))
            .localCheckpoint()
        )
        if not nxt.take(1):
            break
        dist = dist.unionByName(nxt).localCheckpoint()
        frontier = nxt.select("v")
    return dist


# ---------------------------------------------------------------------------
# q122 — bounded-hop BFS distances over the support-pruned co-purchase graph
# ---------------------------------------------------------------------------
@G.add(
    "q122_copurchase_bfs_hops",
    oracle="""
WITH RECURSIVE basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
-- mirrors Spark's DEFAULT_MAX_BASKET=10000 pair fan-out guard
capped AS (
  SELECT l_orderkey FROM basket GROUP BY l_orderkey HAVING count(*) <= 10000
),
ep AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM basket a
  JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN capped c ON c.l_orderkey = a.l_orderkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
e AS (SELECT pa AS src, pb AS dst FROM ep UNION ALL SELECT pb, pa FROM ep),
seed AS (SELECT min(pa) AS v FROM ep),
bfs(v, hops) AS (
  SELECT v, 0 FROM seed
  UNION
  SELECT e.dst, bfs.hops + 1 FROM bfs JOIN e ON e.src = bfs.v
  WHERE bfs.hops < 4
)
SELECT v AS part, min(hops) AS hops FROM bfs GROUP BY v ORDER BY hops, part
""",
    doc="Minimum hop distance (<= 4) from the lowest-id node of the "
    "support-pruned co-purchase graph (q121's edge set, both "
    "directions) — the single-source-shortest-path member of the graph "
    "family, and a NEW oracle shape for the suite: the DuckDB side is "
    "a recursive CTE (UNION-deduplicated breadth expansion, depth "
    "bounded in the recursive term) while the Spark side runs the "
    "frontier-join BFS loop (bfs_hops: per-round shuffle volume is "
    "O(frontier out-edges); first-reach-wins via left-anti join "
    "replaces the oracle's min-aggregation — the hash match proves the "
    "iterative frontier algorithm computes exactly the recursive "
    "fixpoint's distance table). The seed is an aggregation result "
    "(1-row frame), NOT a collected literal — no driver round-trip in "
    "the plan. Scale: edge build shuffles once on the order key and "
    "once on the pair key; each BFS round is one src-keyed join + one "
    "anti join, distance state one int per node; rounds bounded by "
    "max_hops=4. Reference counterpart: none (north-star extension).",
    tags=("graph", "bfs", "iterative", "basket", "driver-loop"),
)
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    basket = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # ep feeds the (bfs-internal-persisted) edge build AND the seed agg;
    # symmetrize with one explode instead of a self-union so the
    # support-pruned pair mining subtree appears once per consumer, and
    # persist ep so seed + edges share one computation (guide §2.3; ep
    # is the support-pruned pair set — corpus-sublinear by min_count)
    ep = _GRAPH_PERSISTS.track(
        basket_pair_counts(basket, min_count=2)
        .select("part_a", "part_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    edges = (
        ep.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("part_a").alias("src"),
                        F.col("part_b").alias("dst"),
                    ),
                    F.struct(
                        F.col("part_b").alias("src"),
                        F.col("part_a").alias("dst"),
                    ),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
    )
    seed = ep.agg(F.min("part_a").alias("v"))
    dist = bfs_hops(edges, seed, max_hops=4)
    return dist.select(F.col("v").alias("part"), "hops").orderBy("hops", "part")


# ---------------------------------------------------------------------------
# q129 — co-purchase edge churn between two yearly graph snapshots
# ---------------------------------------------------------------------------
@G.add(
    "q129_copurchase_edge_churn",
    oracle="""
WITH basket AS (
  SELECT o.o_orderkey, extract(year FROM o.o_orderdate) AS yr,
         l.l_partkey
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE extract(year FROM o.o_orderdate) IN (1996, 1997)
),
e AS (
  SELECT DISTINCT a.yr, a.l_partkey AS pa, b.l_partkey AS pb
  FROM basket a
  JOIN basket b
    ON a.o_orderkey = b.o_orderkey AND a.l_partkey < b.l_partkey
),
old_e AS (SELECT pa, pb FROM e WHERE yr = 1996),
new_e AS (SELECT pa, pb FROM e WHERE yr = 1997),
cls AS (
  SELECT CASE
           WHEN o.pa IS NULL THEN 'added'
           WHEN n.pa IS NULL THEN 'removed'
           ELSE 'persisted'
         END AS status,
         coalesce(o.pa, n.pa) AS pa
  FROM old_e o
  FULL OUTER JOIN new_e n ON o.pa = n.pa AND o.pb = n.pb
)
SELECT status,
       count(*)::BIGINT AS n_edges,
       count(DISTINCT pa)::BIGINT AS n_src_parts
FROM cls
GROUP BY status
ORDER BY status
""",
    doc="Graph-snapshot CDC: the co-purchase edge set of 1996 vs 1997, "
    "every edge classified added / removed / persisted — q87's "
    "snapshot-diff primitive lifted from rows to RELATIONSHIPS, the "
    "churn statistic a graph-backed recommender or fraud pipeline "
    "monitors between ingest epochs (the graph-space member of the "
    "monitoring family: q125 token drift, q126 embedding drift, q129 "
    "edge churn). Plan: one orders->lineitem join feeds BOTH yearly "
    "basket builds (year is a column, not two scans), per-year distinct "
    "pair sets share the one pair-key Exchange via the yr grouping "
    "column, then a single FULL OUTER join on the edge key classifies "
    "— null-side tests, the q24 idiom — and a 3-group rollup. At "
    "100 TB: the pair fan-out is basket-bounded (q84's guard family), "
    "the outer join shuffles both edge sets once on (pa, pb), and "
    "nothing is collected. Reference counterpart: none (north-star "
    "extension).",
    tags=("graph", "cdc", "monitoring", "join"),
)
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("yr")
    ).filter(F.col("yr").isin(1996, 1997))
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    basket = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderkey", "yr", "l_partkey"
    )
    a, b = basket.alias("a"), basket.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.o_orderkey") == F.col("b.o_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.yr").alias("yr"),
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .distinct()
    )
    old_e = e.filter(F.col("yr") == 1996).select("pa", "pb")
    new_e = e.filter(F.col("yr") == 1997).select(
        F.col("pa").alias("npa"), F.col("pb").alias("npb")
    )
    cls = old_e.join(
        new_e,
        (F.col("pa") == F.col("npa")) & (F.col("pb") == F.col("npb")),
        "full_outer",
    ).select(
        F.when(F.col("pa").isNull(), F.lit("added"))
        .when(F.col("npa").isNull(), F.lit("removed"))
        .otherwise(F.lit("persisted"))
        .alias("status"),
        F.coalesce(F.col("pa"), F.col("npa")).alias("spa"),
    )
    return (
        cls.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.countDistinct("spa").alias("n_src_parts"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# q131 — personalized PageRank (teleport mass on one nation's suppliers)
# ---------------------------------------------------------------------------
@G.add(
    "q131_personalized_pagerank",
    oracle="""
WITH su AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
),
edges AS (
  SELECT a.l_suppkey AS src, b.l_suppkey AS dst
  FROM su a JOIN su b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
  GROUP BY a.l_suppkey, b.l_suppkey
),
deg AS (SELECT src, count(*)::BIGINT AS degree FROM edges GROUP BY src),
seeds AS (
  SELECT s.s_suppkey AS node
  FROM supplier s JOIN deg d ON d.src = s.s_suppkey
  WHERE s.s_nationkey = 3
),
ns AS (SELECT count(*)::BIGINT AS n_seeds FROM seeds),
tv AS (SELECT node, 0.15 / ns.n_seeds AS tp FROM seeds CROSS JOIN ns),
r0 AS (SELECT node, 1.0 / ns.n_seeds AS rank FROM seeds CROSS JOIN ns),
f1 AS (
  SELECT e.dst AS node, 0.85 * sum(r0.rank / deg.degree) AS flow
  FROM edges e
  JOIN r0 ON r0.node = e.src
  JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
r1 AS (
  SELECT coalesce(tv.node, f1.node) AS node,
         coalesce(tv.tp, 0) + coalesce(f1.flow, 0) AS rank
  FROM tv FULL OUTER JOIN f1 ON tv.node = f1.node
),
f2 AS (
  SELECT e.dst AS node, 0.85 * sum(r1.rank / deg.degree) AS flow
  FROM edges e
  JOIN r1 ON r1.node = e.src
  JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
r2 AS (
  SELECT coalesce(tv.node, f2.node) AS node,
         coalesce(tv.tp, 0) + coalesce(f2.flow, 0) AS rank
  FROM tv FULL OUTER JOIN f2 ON tv.node = f2.node
)
SELECT node AS s_suppkey, round(rank, 9) AS rank
FROM r2
ORDER BY rank DESC, s_suppkey
LIMIT 20
""",
    doc="Personalized PageRank (d=0.85, 2 unrolled power iterations) "
    "over the co-supply graph with ALL teleport mass on one nation's "
    "suppliers (s_nationkey = 3) — the random-walk-with-restart "
    "relevance score a crawl/recommendation pipeline computes around a "
    "trusted seed set, vs q86's global rank. The teleport is a VECTOR, "
    "not a scalar: each iteration is the same src-keyed edge join and "
    "grouped flow sum as q86 (_pr_step's body), then a FULL OUTER join "
    "against the |seeds|-row teleport vector (coalesce on both sides — "
    "a seed with no in-flow keeps its restart mass, a non-seed node "
    "keeps pure flow; identical null algebra in both engines). Rank "
    "state one double per reached node; seed count rides as a 1-row "
    "cross join on the seeds frame, nothing collected. Rank mass "
    "rounded to 9 dp in both engines before hashing (FP sum order, the "
    "q86 rule). At 100 TB the teleport join broadcasts (|seeds| << "
    "|nodes|) and the flow iterations reuse the edge list's src "
    "partitioning. Reference counterpart: none (north-star extension).",
    tags=("graph", "iterative", "pagerank", "personalized"),
)
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, deg, _n = _cosupply_graph(spark, sf_dir)
    sup = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 3)
    seeds = sup.join(
        deg, deg["src"] == sup["s_suppkey"], "left_semi"
    ).select(F.col("s_suppkey").alias("node"))
    ns = seeds.agg(F.count(F.lit(1)).alias("n_seeds"))
    tv = seeds.crossJoin(F.broadcast(ns)).select(
        "node", (F.lit(0.15) / F.col("n_seeds")).alias("tp")
    )
    rank = seeds.crossJoin(F.broadcast(ns)).select(
        "node", (F.lit(1.0) / F.col("n_seeds")).alias("rank")
    )

    def step(r: DataFrame) -> DataFrame:
        flow = (
            edges.join(r, r["node"] == edges["src"])
            .join(deg, "src")
            .select(
                "dst", (F.col("rank") / F.col("degree")).alias("share")
            )
            .groupBy("dst")
            .agg((F.lit(0.85) * F.sum("share")).alias("flow"))
            .withColumnRenamed("dst", "fnode")
        )
        return tv.join(
            flow, tv["node"] == flow["fnode"], "full_outer"
        ).select(
            F.coalesce(F.col("node"), F.col("fnode")).alias("node"),
            (
                F.coalesce(F.col("tp"), F.lit(0.0))
                + F.coalesce(F.col("flow"), F.lit(0.0))
            ).alias("rank"),
        )

    r2 = step(step(rank))
    return (
        r2.select(
            F.col("node").alias("s_suppkey"), F.round("rank", 9).alias("rank")
        )
        .orderBy(F.desc("rank"), "s_suppkey")
        .limit(20)
    )
