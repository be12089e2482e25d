"""Round-4 spec tests: containment join, KMV merge law, mutual-NN
invariants, and physical-plan locks for q90–q97 (the oracle differential
itself runs via tools/diffcheck.py and the driver's window)."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from etl_dag_paris_velib_spark.cacheutil import clear_plan_caches
from etl_dag_paris_velib_spark.operators.similarity import (
    all_pairs_nn,
    containment_pairs,
    ngram_jaccard_pairs,
)
from etl_dag_paris_velib_spark.operators.sketch import (
    kmv_distinct,
    kmv_merge_distinct,
)
from tests.conftest import SF_SMOKE


def _plan(spark, name):
    df = entrymod.queries()[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# containment_pairs semantics
# ---------------------------------------------------------------------------

def test_containment_finds_doc_in_doc_that_jaccard_misses(spark):
    """A 30-word excerpt quoted from a 200-word page: containment of the
    excerpt in the page ~1.0, while Jaccard ~ 0.15 is far below any
    near-dup threshold — the exact blind spot this operator covers."""
    big_words = [f"w{i:03d}" for i in range(200)]
    small_words = big_words[50:80]
    docs = spark.createDataFrame(
        [
            (1, " ".join(big_words)),
            (2, " ".join(small_words)),
            (3, " ".join(f"z{i}" for i in range(50))),
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r["src_id"], r["dst_id"]): r["containment"]
        for r in containment_pairs(docs, threshold=0.8).collect()
    }
    assert (2, 1) in got and got[(2, 1)] == 1.0
    # the big page is NOT contained in its own excerpt
    assert (1, 2) not in got
    assert all(3 not in k for k in got)
    jac = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    clear_plan_caches(spark)
    assert not [r for r in jac if {r["id_a"], r["id_b"]} == {1, 2}]


def test_containment_min_shingles_guard(spark):
    """A source below min_shingles never emits a pair, however contained."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id bigint, text string",
    )
    rows = containment_pairs(docs, threshold=0.5, min_shingles=5).collect()
    assert all(r["src_id"] != 1 for r in rows)


# ---------------------------------------------------------------------------
# KMV merge law
# ---------------------------------------------------------------------------

def test_kmv_merge_equals_one_shot_sketch(spark):
    """top-k(union of per-partition top-k) == top-k(union): the merged
    estimate must be BIT-IDENTICAL to the flat sketch at the same k,
    for every group, including groups under k distinct (exact branch)."""
    rows = [
        ("a", p, u) for p in range(5) for u in range(p * 30, p * 30 + 60)
    ] + [("b", 0, u) for u in range(7)]
    df = spark.createDataFrame(rows, "g string, p int, k bigint")
    merged = {
        r["g"]: (r["n_subsketches"], r["est_distinct"])
        for r in kmv_merge_distinct(df, "g", "p", "k", k=16).collect()
    }
    flat = {
        r["g"]: r["est_distinct"]
        for r in kmv_distinct(df, "g", "k", k=16).collect()
    }
    assert merged["a"][0] == 5 and merged["b"][0] == 1
    assert merged["a"][1] == flat["a"]
    assert merged["b"][1] == flat["b"] == 7  # exact branch under k


# ---------------------------------------------------------------------------
# mutual-NN invariant
# ---------------------------------------------------------------------------

def test_mutual_nn_pairs_are_mutual(spark):
    """Every emitted pair must appear in the NN table in BOTH directions
    (and ordered id_a < id_b)."""
    emb = entrymod.queries()["q96_mutual_nn_pairs"]
    pairs = emb(spark, SF_SMOKE).collect()
    assert pairs, "q96 vacuous at sf0.001"
    from etl_dag_paris_velib_spark.sources.tpch import load_table

    nn = {
        (r["vec_id"], r["nn_id"])
        for r in all_pairs_nn(load_table(spark, "embeddings", SF_SMOKE)).collect()
    }
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert (r["id_a"], r["id_b"]) in nn and (r["id_b"], r["id_a"]) in nn


# ---------------------------------------------------------------------------
# plan locks
# ---------------------------------------------------------------------------

def test_q92_funnel_single_user_exchange(spark):
    """Three chained whole-partition windows + the per-user rollup all
    ride ONE hash exchange on user_id (then a single-partition rollup)."""
    import re

    plan = _plan(spark, "q92_funnel_conversion")
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert exchanges, plan[:500]
    assert all(e.startswith("user_id") for e in exchanges), exchanges


def test_q93_containment_no_cartesian(spark):
    plan = _plan(spark, "q93_containment_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q94_percentiles_broadcast_back(spark):
    plan = _plan(spark, "q94_winsorized_stats")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # fact never shuffle-joins


def test_q95_vocab_broadcast_no_cartesian(spark):
    plan = _plan(spark, "q95_bigram_logprob")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q90_lateral_decorrelates_to_agg_join(spark):
    """The lateral aggregate must decorrelate: a grouped aggregate joined
    back on the correlation key — no per-outer-row execution, no
    cartesian, and no global sort (the failure mode of the ORDER+LIMIT
    lateral flavor this spec's doc records)."""
    plan = _plan(spark, "q90_lateral_agg")
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan
    assert "HashAggregate" in plan


def test_q97_sketch_merge_two_bounded_exchanges(spark):
    """Sub-sketch build partitions by (event_type, day), merge by
    event_type — hash exchanges only on those keys, and everything past
    the first rank filter moves <= k rows per sub-sketch."""
    import re

    plan = _plan(spark, "q97_kmv_sketch_merge")
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert keys, plan[:500]
    for k in keys:
        assert "event_type" in k or k.startswith("g"), keys


# ---------------------------------------------------------------------------
# KMV set-op estimates (q103)
# ---------------------------------------------------------------------------

def test_kmv_set_ops_exact_branch(spark):
    """When the union sketch sees every distinct hash (|A∪B| < k), the
    estimates ARE the exact union and intersection cardinalities."""
    from etl_dag_paris_velib_spark.operators.sketch import kmv_set_ops

    rows = (
        [("a", f"k{i}") for i in range(20)]
        + [("b", f"k{i}") for i in range(10, 40)]   # |a∩b|=10, |a∪b|=40
        + [("c", f"z{i}") for i in range(5)]        # disjoint from both
        + [("a", "k3"), ("b", "k15")]               # duplicates: no effect
    )
    df = spark.createDataFrame(rows, "g string, k string")
    got = {
        (r["set_a"], r["set_b"]): (r["est_union"], r["est_inter"])
        for r in kmv_set_ops(df, "g", "k", k=64).collect()
    }
    assert got[("a", "b")] == (40, 10)
    assert got[("a", "c")] == (25, 0)
    assert got[("b", "c")] == (35, 0)


def test_kmv_set_ops_matches_flat_sketch_of_union(spark):
    """KMV closure law on the estimator path: the pair's est_union must be
    BIT-IDENTICAL to kmv_distinct run on the concatenated raw data —
    combining two k-row sketches loses nothing vs. sketching the union."""
    from etl_dag_paris_velib_spark.operators.sketch import (
        kmv_distinct,
        kmv_set_ops,
    )

    k = 16
    rows = [("a", f"k{i}") for i in range(300)] + [
        ("b", f"k{i}") for i in range(150, 450)
    ]
    df = spark.createDataFrame(rows, "g string, k string")
    pair = kmv_set_ops(df, "g", "k", k=k).collect()[0]
    flat = (
        kmv_distinct(
            df.withColumn("g", F.lit("u")), "g", "k", k=k
        ).collect()[0]["est_distinct"]
    )
    assert pair["est_union"] == flat
    # rho = n_both/k bounds: 0 <= est_inter <= est_union
    assert 0 <= pair["est_inter"] <= pair["est_union"]


def test_hll_incremental_maintenance_through_merge_sink(spark, tmp_path):
    """The 100 TB incremental-sketch pattern end-to-end: day-1 HLL
    registers land in a partitioned register TABLE, day 2 arrives as a
    new batch whose registers are folded against the stored ones
    (union + max — the HLL merge law) and MERGE-upserted by
    (event_type, bucket); reading the table back and estimating must
    equal the ONE-SHOT estimate over both days, exactly — registers are
    integers, so there is no tolerance here. Proves distinct counts stay
    maintainable without ever rescanning history."""
    from pyspark.sql import functions as F

    from etl_dag_paris_velib_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )
    from etl_dag_paris_velib_spark.sinks.writers import (
        upsert_partitioned_table,
    )
    from tests.conftest import SF_SMOKE

    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .withColumn("day", F.to_date("ts"))
    )
    days = sorted(r["day"] for r in ev.select("day").distinct().collect())
    assert len(days) >= 2, "need two days for the incremental scenario"
    split = days[len(days) // 2]
    day1 = ev.filter(F.col("day") < F.lit(split))
    day2 = ev.filter(F.col("day") >= F.lit(split))

    path = str(tmp_path / "hll_registers")
    r1 = hll_registers(day1, "event_type", "user_id")
    upsert_partitioned_table(r1, path, keys=("g", "bucket"), partition_cols=("g",))

    # fold the new batch against the STORED registers — never rescans day 1
    stored = spark.read.parquet(path)
    r2 = hll_registers(day2, "event_type", "user_id")
    folded = (
        stored.select("g", "bucket", "m")
        .unionByName(r2)
        .groupBy("g", "bucket")
        .agg(F.max("m").alias("m"))
    )
    upsert_partitioned_table(
        folded, path, keys=("g", "bucket"), partition_cols=("g",)
    )

    maintained = spark.read.parquet(path).select("g", "bucket", "m")
    one_shot = hll_registers(ev, "event_type", "user_id")
    # register-level exactness (integers — the merge law, no tolerance)
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, one_shot.collect())
    )
    est_m = {
        r["event_type"]: r["est_hll"]
        for r in hll_estimate(maintained, "event_type").collect()
    }
    est_o = {
        r["event_type"]: r["est_hll"]
        for r in hll_estimate(one_shot, "event_type").collect()
    }
    assert est_m == est_o
