"""Round-4 analytics surface: lateral joins, regression aggregates,
funnel conversion, containment dedup, winsorization, bigram LM scoring,
mutual-NN graph edges, and hierarchical sketch merge.

Each spec extends an existing family with a capability the inventory did
not yet cover:

- q90: SQL LATERAL correlated subquery with ORDER BY + LIMIT — the
  per-row-driven top-k join form (Catalyst decorrelates it; the window
  form q16 is its hand-written equivalent).
- q91: regression/correlation aggregate family (corr, covar_samp,
  regr_slope/intercept/r2) — one pass, co-moment state per group.
- q92: ordered funnel conversion (view → click → purchase with strict
  ordering between stages) — three chained whole-partition windows
  sharing ONE user_id exchange.
- q93: asymmetric shingle containment |A∩B|/|A| — doc-in-doc detection
  that Jaccard misses (operators/similarity.py:containment_pairs).
- q94: winsorized robust aggregates — per-group p01/p99 clip via
  broadcast percentile rejoin (q76's shape, applied to cleaning).
- q95: bigram LM with Laplace smoothing scoring every document —
  the conditional-probability upgrade of q68's unigram scorer.
- q96: mutual nearest-neighbor pairs over embeddings — the
  agglomerative-clustering / near-dup primitive built on q33's
  all_pairs_nn block GEMM.
- q97: hierarchical KMV merge (operators/sketch.py:kmv_merge_distinct)
  — per-day sub-sketches merged per event type; the oracle computes the
  ONE-SHOT sketch, so the differential gate proves the merge law.
- q103: pairwise KMV set-operation estimates (operators/sketch.py:
  kmv_set_ops) — |A∪B| and |A∩B| for every pair of event-type audience
  sets from k-row sketches; one data scan, O(k) per pair afterwards.

FP rule as repo-wide: any double that crosses engines is rounded in both
(6 digits for unit-scale ratios, 4 for currency-scale sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens, word_shingles
from ..operators.similarity import all_pairs_nn, containment_pairs
from ..operators.sketch import kmv_merge_distinct, kmv_set_ops
from ..sources.tpch import load_table
from .spec import Registry

M = Registry()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


# ---------------------------------------------------------------------------
# q90 — LATERAL correlated top-k subquery
# ---------------------------------------------------------------------------
@M.add(
    "q90_lateral_agg",
    oracle="""
SELECT n.n_name, t.top_bal, t.n_rich
FROM nation n,
LATERAL (
  SELECT max(c_acctbal) AS top_bal,
         count(CASE WHEN c_acctbal > 5000 THEN 1 END) AS n_rich
  FROM customer c WHERE c.c_nationkey = n.n_nationkey
) t
""",
    doc="LATERAL correlated aggregate subquery — the per-outer-row-driven "
    "join form; DuckDB runs the IDENTICAL SQL text, so the correctness "
    "check covers Catalyst's decorrelation rewrite itself (lateral -> "
    "grouped aggregate + equi-join, never an inner query per outer row). "
    "The aggregate flavor is chosen deliberately: Spark 4.1 decorrelates "
    "the ORDER BY + LIMIT flavor into a GLOBAL range sort feeding an "
    "ORDER-LESS row_number window across a hash exchange — deterministic "
    "on local mode's in-order block fetch but order-fragile on a real "
    "cluster's shuffle (and a global fact sort is the wrong plan at "
    "100 TB); per-group top-k belongs to the explicit window form (q16).",
    tags=("join", "lateral", "sql"),
)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "nation").createOrReplaceTempView("q90_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("q90_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.top_bal, t.n_rich
        FROM q90_nation n,
        LATERAL (
          SELECT max(c_acctbal) AS top_bal,
                 count(CASE WHEN c_acctbal > 5000 THEN 1 END) AS n_rich
          FROM q90_customer c WHERE c.c_nationkey = n.n_nationkey
        ) t
        """
    )


# ---------------------------------------------------------------------------
# q91 — regression & correlation aggregates
# ---------------------------------------------------------------------------
@M.add(
    "q91_regression_stats",
    oracle="""
SELECT l_returnflag,
       count(*)                                              AS n_items,
       round(corr(l_extendedprice, l_quantity), 6)           AS corr_price_qty,
       round(covar_samp(l_extendedprice, l_quantity), 4)     AS covar_price_qty,
       round(regr_slope(l_extendedprice, l_quantity), 6)     AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Statistical aggregate family per group: Pearson correlation, "
    "sample covariance, and the regr_* least-squares line of price on "
    "quantity. All are one-pass co-moment aggregates (count/mean/M2 "
    "state, Welford-merged) — constant state per group, partial-agg "
    "combinable, the same mergeability story as sum/avg. Rounded in "
    "both engines: co-moment merge ORDER differs across partitionings, "
    "so the last ulps are not portable (repo FP rule).",
    tags=("agg", "stats"),
)
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias(
            "covar_price_qty"
        ),
        F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(l_extendedprice, l_quantity)"), 4).alias(
            "intercept"
        ),
        F.round(F.expr("regr_r2(l_extendedprice, l_quantity)"), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# q92 — ordered funnel conversion
# ---------------------------------------------------------------------------
@M.add(
    "q92_funnel_conversion",
    oracle="""
WITH u1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
u2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN u1 ON e.user_id = u1.user_id
  WHERE e.event_type = 'click' AND e.ts > u1.t1
  GROUP BY e.user_id
),
u3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN u2 ON e.user_id = u2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > u2.t2
  GROUP BY e.user_id
)
SELECT (SELECT count(DISTINCT user_id) FROM events)::BIGINT AS n_users,
       (SELECT count(*) FROM u1)::BIGINT AS n_view,
       (SELECT count(*) FROM u2)::BIGINT AS n_click_after_view,
       (SELECT count(*) FROM u3)::BIGINT AS n_purchase_after_click,
       round((SELECT count(*) FROM u2) * 1.0
             / nullif((SELECT count(*) FROM u1), 0), 6) AS click_rate,
       round((SELECT count(*) FROM u3) * 1.0
             / nullif((SELECT count(*) FROM u2), 0), 6) AS purchase_rate
""",
    doc="Ordered funnel: users who viewed, then clicked AFTER their first "
    "view, then purchased AFTER that click — strict event-order chaining, "
    "not mere co-occurrence. Spark plan: three whole-partition windows "
    "whose stage-N predicate references stage-N-1's timestamp, all on the "
    "same user_id partitioning — Catalyst collapses them onto ONE "
    "Exchange, then one per-user row and a global roll-up. The oracle "
    "spells the same chain as three grouped joins (the portable form); "
    "rates are exact BIGINT-division doubles rounded in both engines.",
    tags=("window", "funnel", "events"),
)
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click_after_view"),
        F.count("t3").alias("n_purchase_after_click"),
    ).select(
        "n_users",
        "n_view",
        "n_click_after_view",
        "n_purchase_after_click",
        # try_divide, not /: under ANSI mode an empty funnel stage would
        # raise DIVIDE_BY_ZERO at runtime while the oracle's NULLIF yields
        # NULL — both engines now agree on NULL for a zero denominator.
        F.round(
            F.try_divide(F.col("n_click_after_view"), F.col("n_view")), 6
        ).alias("click_rate"),
        F.round(
            F.try_divide(
                F.col("n_purchase_after_click"), F.col("n_click_after_view")
            ),
            6,
        ).alias("purchase_rate"),
    )


# ---------------------------------------------------------------------------
# q93 — asymmetric shingle containment (doc-in-doc)
# ---------------------------------------------------------------------------
@M.add(
    "q93_containment_pairs",
    oracle="""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 1)),
           i -> array_to_string(t[i:i+2], ' '))) AS s
  FROM toks
),
hsh AS (
  SELECT doc_id, list_distinct(list_transform(s,
           x -> (('0x' || substr(md5(x), 1, 15))::UBIGINT)::BIGINT)) AS hs
  FROM sh
),
sizes AS (SELECT doc_id, len(hs) AS n_sh FROM hsh),
inv AS (SELECT doc_id, unnest(hs) AS tok FROM hsh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM inv a JOIN inv b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
directed AS (
  SELECT id_a AS src_id, id_b AS dst_id, n_common FROM inter
  UNION ALL
  SELECT id_b AS src_id, id_a AS dst_id, n_common FROM inter
),
scored AS (
  SELECT src_id, dst_id, n_common::DOUBLE / z.n_sh AS c
  FROM directed JOIN sizes z ON z.doc_id = directed.src_id
  WHERE z.n_sh >= 5
)
SELECT src_id, dst_id, round(c, 6) AS containment FROM scored WHERE c >= 0.8
""",
    doc="Asymmetric containment join |A∩B|/|A| >= 0.8 over 3-word "
    "shingles (operators/similarity.py:containment_pairs): finds a "
    "document mostly CONTAINED in another — quotes, boilerplate "
    "wrappers, supersets — which symmetric Jaccard (q35) scores near "
    "zero when lengths differ 100x. Same hashed inverted-index plan as "
    "q35 (the direction flip is a projection, not a shuffle); min 5 "
    "shingles on the source side keeps the ratio meaningful. Scale "
    "note: candidate volume is the co-occurrence pair count, so the "
    "sf1.0 replica (10x planted near-dup clusters) grows it ~100x by "
    "construction — the dedup-stress regime (SCALING.md). The operator "
    "has no hub (max_df) guard: pruning shingles would also lower-bound "
    "the containment ratio.",
    tags=("dedup", "containment", "llm"),
)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = containment_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.8, min_shingles=5
    )
    return pairs.select(
        "src_id", "dst_id", F.round("containment", 6).alias("containment")
    )


# ---------------------------------------------------------------------------
# q94 — winsorized robust aggregates
# ---------------------------------------------------------------------------
@M.add(
    "q94_winsorized_stats",
    oracle="""
WITH pct AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.01) AS p01,
         quantile_cont(o_totalprice, 0.99) AS p99
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       count(*)                                             AS n_orders,
       sum(CASE WHEN o_totalprice < p01 THEN 1 ELSE 0 END)::BIGINT AS n_low,
       sum(CASE WHEN o_totalprice > p99 THEN 1 ELSE 0 END)::BIGINT AS n_high,
       round(avg(o_totalprice), 4)                          AS mean_raw,
       round(avg(least(greatest(o_totalprice, p01), p99)), 4) AS mean_winsorized,
       round(min(p01), 4)                                   AS p01,
       round(min(p99), 4)                                   AS p99
FROM orders o JOIN pct USING (o_orderpriority)
GROUP BY o.o_orderpriority
""",
    doc="Winsorized (clipped-at-percentile) aggregates per priority "
    "class: the outlier-robust mean a cleaning pipeline reports next to "
    "the raw mean. Two-phase: per-group exact p01/p99 (tiny result), "
    "BROADCAST back onto the fact scan, clip + re-aggregate — the fact "
    "table shuffles once for each grouped pass and never joins another "
    "fact (q76's robust-stats shape). At 100 TB the percentile pass "
    "swaps to approx_percentile (mergeable t-digest) when the clip line "
    "tolerates error.",
    tags=("agg", "robust", "cleaning"),
)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    pct = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.01)").alias("p01"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
    )
    joined = o.join(F.broadcast(pct), "o_orderpriority")
    clip = F.least(F.greatest(F.col("o_totalprice"), F.col("p01")), F.col("p99"))
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum((F.col("o_totalprice") < F.col("p01")).cast("bigint")).alias("n_low"),
        F.sum((F.col("o_totalprice") > F.col("p99")).cast("bigint")).alias("n_high"),
        F.round(F.avg("o_totalprice"), 4).alias("mean_raw"),
        F.round(F.avg(clip), 4).alias("mean_winsorized"),
        F.round(F.min("p01"), 4).alias("p01"),
        F.round(F.min("p99"), 4).alias("p99"),
    )


# ---------------------------------------------------------------------------
# q95 — bigram LM document scoring (Laplace smoothing)
# ---------------------------------------------------------------------------
@M.add(
    "q95_bigram_logprob",
    oracle="""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(t) - 1, 1)),
           i -> array_to_string(t[i:i+1], ' '))) AS b
  FROM toks
),
uni AS (
  SELECT unnest(t) AS tok FROM toks
),
ufreq AS (SELECT tok, count(*) AS cu FROM uni GROUP BY tok),
v AS (SELECT count(*) AS vocab FROM ufreq),
bfreq AS (SELECT b, count(*) AS cb FROM bg GROUP BY b),
scored AS (
  SELECT bg.doc_id,
         ln((bfreq.cb + 1.0) / (ufreq.cu + v.vocab)) AS lp
  FROM bg
  JOIN bfreq ON bg.b = bfreq.b
  JOIN ufreq ON split_part(bg.b, ' ', 1) = ufreq.tok
  CROSS JOIN v
)
SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logprob
FROM scored GROUP BY doc_id
""",
    doc="Bigram LM with add-one smoothing scoring every document by mean "
    "log P(w2|w1) under the corpus's own bigram distribution — the "
    "conditional-probability upgrade of q68's unigram scorer (word-order "
    "gibberish that unigram stats cannot see scores low here). Plan: one "
    "tokenize pass feeds BOTH frequency tables (bigram table keyed by "
    "the bigram, vocab-sized unigram table broadcast), then the bigram-"
    "keyed join back reuses the bigram hash partitioning and the only "
    "full-width shuffle is the final groupBy(doc_id). The smoothed "
    "probability is exact BIGINT arithmetic divided once per row — "
    "identical doubles cross-engine; only the per-doc SUM order differs, "
    "hence the rounding (repo FP rule).",
    tags=("textstats", "quality", "llm"),
)
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    bg = toked.select(
        "doc_id", F.explode(word_shingles(F.col("t"), 2)).alias("b")
    )
    uni = toked.select(F.explode("t").alias("tok"))
    ufreq = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("cu"))
    # vocab scalar rides along as a column of the (vocab-sized) unigram
    # table — one unpartitioned window over |V| rows, no extra text scan
    ufreq = ufreq.withColumn("vocab", F.sum(F.lit(1)).over(Window.partitionBy()))
    bfreq = bg.groupBy("b").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        bg.join(bfreq, "b")
        .withColumn("w1", F.split(F.col("b"), " ")[0])
        .join(F.broadcast(ufreq), F.col("w1") == F.col("tok"))
        .select(
            "doc_id",
            F.log((F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.col("vocab"))).alias(
                "lp"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# q96 — mutual nearest-neighbor pairs
# ---------------------------------------------------------------------------
@M.add(
    "q96_mutual_nn_pairs",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT a.vec_id, b.vec_id AS nn_id,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
),
r AS (
  SELECT vec_id, nn_id, c,
         row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, nn_id) AS rn
  FROM s
),
nn AS (SELECT vec_id, nn_id, c FROM r WHERE rn = 1),
mutual AS (
  SELECT a.vec_id AS id_a, a.nn_id AS id_b, a.c
  FROM nn a JOIN nn b ON a.nn_id = b.vec_id AND b.nn_id = a.vec_id
  WHERE a.vec_id < a.nn_id
)
SELECT m.id_a, m.id_b, round(m.c, 6) AS score,
       (la.label = lb.label)::INT AS same_label
FROM mutual m
JOIN embeddings la ON la.vec_id = m.id_a
JOIN embeddings lb ON lb.vec_id = m.id_b
""",
    doc="Mutual nearest-neighbor pairs (a's NN is b AND b's NN is a) — "
    "the agglomerative-clustering / chained-dedup primitive: mutual-NN "
    "pairs are the safest merge edges in an embedding-dedup pass. Built "
    "on q33's all_pairs_nn block GEMM (no broadcast of either side, no "
    "driver collect); the mutuality check is a self-join of the tiny "
    "(n rows, 3 cols) NN table on ids only. same_label joins back the "
    "planted cluster label — the recall diagnostic.",
    tags=("vector", "dedup", "graph"),
)
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    nn = all_pairs_nn(emb)
    a, b = nn.alias("a"), nn.alias("b")
    mutual = (
        a.join(
            b,
            (F.col("a.nn_id") == F.col("b.vec_id"))
            & (F.col("b.nn_id") == F.col("a.vec_id")),
        )
        .filter(F.col("a.vec_id") < F.col("a.nn_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("a.nn_id").alias("id_b"),
            F.col("a.score").alias("score"),
        )
    )
    la = emb.select(F.col("vec_id").alias("id_a"), F.col("label").alias("label_a"))
    lb = emb.select(F.col("vec_id").alias("id_b"), F.col("label").alias("label_b"))
    return (
        mutual.join(F.broadcast(la), "id_a")
        .join(F.broadcast(lb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round("score", 6).alias("score"),
            (F.col("label_a") == F.col("label_b")).cast("int").alias("same_label"),
        )
    )


# ---------------------------------------------------------------------------
# q97 — hierarchical KMV sketch merge
# ---------------------------------------------------------------------------
@M.add(
    "q97_kmv_sketch_merge",
    oracle="""
WITH dh AS (
  SELECT DISTINCT event_type AS g,
         (('0x' || substr(md5(user_id::VARCHAR), 1, 14))::UBIGINT)::BIGINT AS h
  FROM events
),
days AS (
  SELECT event_type AS g, count(DISTINCT ts::DATE)::BIGINT AS n_subsketches
  FROM events GROUP BY event_type
),
r AS (
  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM dh
),
a AS (
  SELECT g, count(*)::BIGINT AS n_seen,
         max(CASE WHEN rn = 16 THEN h END) AS h_k
  FROM r WHERE rn <= 16 GROUP BY g
)
SELECT a.g AS event_type, days.n_subsketches,
       (CASE WHEN n_seen < 16 THEN n_seen
             ELSE 15 * 72057594037927936 // h_k END)::BIGINT AS est_distinct
FROM a JOIN days ON days.g = a.g
""",
    doc="Hierarchical KMV merge (operators/sketch.py:kmv_merge_distinct, "
    "k=16): per-(event_type, day) sub-sketches built independently, then "
    "MERGED per event type — the mergeable-aggregate pattern that scales "
    "sketches to 100 TB (combine tiny states, never re-scan raw data). "
    "The oracle computes the ONE-SHOT sketch over the union, so the "
    "hash-match proves the merge law top-k(∪ of per-part top-k) == "
    "top-k(∪) bit-exactly, not within a tolerance. Contrast q71 (flat "
    "KMV, k=64, exact branch) — k=16 here forces the estimator path.",
    tags=("sketch", "approx", "mergeable"),
)
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    return kmv_merge_distinct(ev, "event_type", "day", "user_id", k=16)


# ---------------------------------------------------------------------------
# q103 — pairwise KMV set-operation estimates (union / intersection)
# ---------------------------------------------------------------------------
@M.add(
    "q103_kmv_set_overlap",
    oracle="""
WITH dh AS (
  SELECT DISTINCT event_type AS g,
         (('0x' || substr(md5(user_id::VARCHAR || '_' || (ts::DATE)::VARCHAR), 1, 14))::UBIGINT)::BIGINT AS h
  FROM events
),
sk AS (
  SELECT g, h FROM (
    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM dh
  ) WHERE rn <= 64
),
gs AS (SELECT DISTINCT g FROM sk),
pairs AS (
  SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g
),
comb AS (
  SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
    SELECT p.ga, p.gb, s.h, 1 AS in_a, 0 AS in_b FROM sk s JOIN pairs p ON s.g = p.ga
    UNION ALL
    SELECT p.ga, p.gb, s.h, 0 AS in_a, 1 AS in_b FROM sk s JOIN pairs p ON s.g = p.gb
  ) GROUP BY ga, gb, h
),
kept AS (
  SELECT ga, gb, h, in_a, in_b,
         row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
  FROM comb
),
a AS (
  SELECT ga, gb, count(*)::BIGINT AS n_seen,
         max(CASE WHEN rn = 64 THEN h END) AS h_k,
         sum(in_a * in_b)::BIGINT AS n_both
  FROM kept WHERE rn <= 64 GROUP BY ga, gb
)
SELECT ga AS set_a, gb AS set_b,
       (CASE WHEN n_seen < 64 THEN n_seen
             ELSE 4539628424389459968 // h_k END)::BIGINT AS est_union,
       (CASE WHEN n_seen < 64 THEN n_both
             ELSE (n_both * (4539628424389459968 // h_k)) // 64 END)::BIGINT AS est_inter
FROM a
""",
    doc="Pairwise distinct-set overlap from KMV sketches "
    "(operators/sketch.py:kmv_set_ops, k=64): sets are event types, "
    "elements are (user_id, activity-day) pairs; estimates |A∪B| and "
    "|A∩B| for every pair of event types from k-row sketches — the "
    "audience-overlap primitive whose exact form is a fact×fact "
    "distinct-intersection shuffle you cannot afford at 100 TB. One "
    "scan builds all per-set sketches (map-side dedup); the pair stage "
    "touches only k rows per set. Deterministic integer arithmetic "
    "(md5-derived 56-bit hashes, BIGINT div), so the oracle reproduces "
    "the ESTIMATES bit-exactly, proving the KMV closure law "
    "(top-k(top-k(A) ∪ top-k(B)) == top-k(A∪B)) on real data rather "
    "than within a tolerance. No reference counterpart (north-star "
    "extension; reference has no aggregation beyond row counts, "
    "etl_dag.py:409 scope).",
    tags=("sketch", "approx", "mergeable", "setops"),
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.concat_ws(
            "_", F.col("user_id").cast("string"), F.to_date("ts").cast("string")
        ).alias("ukey"),
    )
    return kmv_set_ops(ev, "event_type", "ukey", k=64)


# ---------------------------------------------------------------------------
# q126 — per-label embedding centroid drift vs the global centroid
# ---------------------------------------------------------------------------
@M.add(
    "q126_centroid_drift",
    oracle="""
WITH ev AS (
  SELECT label, i AS dim, embedding[i]::DOUBLE AS val
  FROM embeddings
  CROSS JOIN unnest(generate_series(1, len(embedding))) AS u(i)
),
lcs AS (
  SELECT label, dim, sum(val) AS sv, count(*)::BIGINT AS cnt
  FROM ev GROUP BY label, dim
),
gc AS (
  SELECT dim, sum(sv) / sum(cnt)::DOUBLE AS gv FROM lcs GROUP BY dim
),
lc AS (SELECT label, dim, sv / cnt::DOUBLE AS lv, cnt FROM lcs)
SELECT l.label,
       min(l.cnt)::BIGINT AS n_vecs,
       round(sum(l.lv * g.gv)
             / (sqrt(sum(l.lv * l.lv)) * sqrt(sum(g.gv * g.gv))), 6)
         AS centroid_cosine
FROM lc l
JOIN gc g USING (dim)
GROUP BY l.label
ORDER BY l.label
""",
    doc="Embedding-space drift monitor: cosine between each label's "
    "centroid and the GLOBAL corpus centroid — the statistic an "
    "embedding pipeline tracks to catch a class/source drifting in "
    "representation space (the vector-space twin of q125's token-space "
    "KL). Computed entirely in exploded (dim, value) space with "
    "mergeable partial statistics: ONE scan produces per-(label, dim) "
    "(sum, count) partials; the global centroid is FOLDED from those "
    "partials (sum of sums / sum of counts) rather than re-scanning "
    "the facts — the two-level hierarchical-aggregation shape that "
    "makes the plan a single fact shuffle at 100 TB (the per-label "
    "table is |labels|*dims rows, trivially joinable on dim). No UDFs, "
    "no arrays through shuffles. Per-dim doubles differ only in "
    "sum order, hence the rounding (repo FP rule). Reference "
    "counterpart: none (north-star extension).",
    tags=("embeddings", "monitoring", "agg"),
)
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    ev = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "val")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("val").cast("double").alias("val"),
    )
    from pyspark.storagelevel import StorageLevel

    from ..cacheutil import track_persist

    # the per-(label, dim) partials feed BOTH the per-label centroids and
    # the folded global centroid; persist the |labels|*dims-row partial
    # table so the exploded fact scan runs ONCE
    lcs = track_persist(
        ev.groupBy("label", "dim")
        .agg(
            F.sum("val").alias("sv"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    gc = lcs.groupBy("dim").agg(
        (F.sum("sv") / F.sum("cnt").cast("double")).alias("gv")
    )
    lc = lcs.select(
        "label",
        "dim",
        (F.col("sv") / F.col("cnt").cast("double")).alias("lv"),
        "cnt",
    )
    return (
        lc.join(gc, "dim")
        .groupBy("label")
        .agg(
            F.min("cnt").cast("bigint").alias("n_vecs"),
            F.round(
                F.sum(F.col("lv") * F.col("gv"))
                / (
                    F.sqrt(F.sum(F.col("lv") * F.col("lv")))
                    * F.sqrt(F.sum(F.col("gv") * F.col("gv")))
                ),
                6,
            ).alias("centroid_cosine"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q128 — hierarchical HyperLogLog distinct estimate (register max-merge law)
# ---------------------------------------------------------------------------
@M.add(
    "q128_hll_distinct",
    oracle="""
WITH h AS (
  SELECT event_type,
         (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT
           AS hv
  FROM events
),
b AS (
  SELECT event_type, hv % 256 AS bucket, hv // 256 AS w FROM h
),
r AS (
  SELECT event_type, bucket,
         max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS m
  FROM b GROUP BY event_type, bucket
),
agg AS (
  SELECT event_type,
         count(*)::BIGINT AS n_registers,
         sum(power(2.0, -m)) AS s_present
  FROM r GROUP BY event_type
),
ex AS (
  SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT a.event_type,
       a.n_registers,
       round(CASE
         WHEN (0.7213 / (1 + 1.079 / 256.0)) * 65536.0
              / (a.s_present + (256 - a.n_registers)) <= 640.0
              AND a.n_registers < 256
         THEN 256.0 * ln(256.0 / (256 - a.n_registers))
         ELSE (0.7213 / (1 + 1.079 / 256.0)) * 65536.0
              / (a.s_present + (256 - a.n_registers))
       END, 4) AS est_hll,
       e.exact_distinct
FROM agg a
JOIN ex e USING (event_type)
ORDER BY event_type
""",
    doc="HyperLogLog distinct-user estimate per event type, built "
    "HIERARCHICALLY: per-day sub-registers max-merged into the final "
    "registers (operators/sketch.py:hll_registers(part_col='day')). "
    "The oracle computes the ONE-SHOT registers, so the hash match "
    "proves the HLL merge law (register-wise max is associative) the "
    "same way q97 proved KMV's — and closes the sketch family's "
    "documented gap: registers are INTEGER-exact cross-engine because "
    "rho = 53 - length(bin(w)) uses the identical unpadded bin() "
    "rendering in both engines (no log2 doubles, no libm); the only FP "
    "is the 256-term 2^-m estimate fold, each term an exact power of "
    "two, rounded per the repo FP rule. This is the q77 scale story "
    "made real: the one-scan multi-distinct Expand swaps to mergeable "
    "O(256)-int state per group at 100 TB, foldable across days "
    "without rescanning history. Exact count alongside for the error "
    "a user would see. Reference counterpart: none (north-star "
    "extension).",
    tags=("sketch", "approx", "agg", "streaming-friendly"),
)
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import hll_estimate, hll_registers

    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    regs = hll_registers(ev, "event_type", "user_id", part_col="day")
    est = hll_estimate(regs, "event_type")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    return est.join(exact, "event_type").orderBy("event_type")
