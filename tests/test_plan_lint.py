"""Sweeping physical-plan lint over EVERY registered spec.

test_plans.py locks individual plan shapes; this test enforces the three
engine-wide invariants the 100 TB design depends on, so any future query
or operator change that introduces a pathological plan fails CI the same
day it lands:

- no ``CartesianProduct`` — an unconditioned fact-fact cross is never
  acceptable at scale;
- ``BroadcastNestedLoopJoin`` only where the build side is a deliberate
  tiny broadcast (scalar totals, query vectors, centroid tables, bloom
  bitmaps, hour bounds) — whitelisted per query WITH the reason, so a
  new one requires a conscious decision here;
- no ``BatchEvalPython`` — a row-at-a-time (non-Arrow) Python UDF in any
  plan is the 10-100x interpreted slow path; Arrow forms
  (``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas``)
  are the only sanctioned Python boundaries.

Plans are analyzed lazily (no execution), so the whole sweep is cheap.
"""

from __future__ import annotations

import pytest

from etl_dag_paris_velib_spark.plans import REGISTRY
from tests.conftest import SF_SMOKE

#: query -> why its BroadcastNestedLoopJoin is legitimate (build side is
#: a broadcast of bounded, data-independent size)
BNLJ_WHITELIST = {
    "q22_vector_topk": "query vectors broadcast against every shard",
    "q29_ivf_topk": "probed centroid list broadcast to the inverted lists",
    "q157_incremental_ivf": "q29's bounded codebook broadcast through the "
    "stored-index path: the read-back (c_id, cv) table (centroid_cap-"
    "bounded) crossed onto the delta for assignment and onto the query "
    "frame for the probe — both data-independent build sides",
    "q159_drift_rebuild_ivf": "q157's bounded-codebook broadcasts through "
    "the rebuild branch (build_ivf_index assignment + the read-back v2 "
    "codebook crossed onto the query frame); the drift monitor itself "
    "joins dims-sized partials by hash, no BNLJ",
    "q33_embedding_nn": "index shard id grid broadcast for block matmul",
    "q48_kmeans_clusters": "centroid table broadcast each Lloyd round",
    "q50_gapfill_rollup": "1-row (min,max) hour bounds broadcast to the grid",
    "q52_embedding_dedup": "block id grid broadcast for threshold matmul",
    "q53_bloom_semi_join": "fixed-size bloom bitmap broadcast map-side",
    "q96_mutual_nn_pairs": "q33's block/shard id grid broadcast (all_pairs_nn)",
    "q117_bm25_topk": "1-row corpus stats (N, avgdl) broadcast — the "
    "q50/q107 scalar idiom",
    "q103_kmv_set_overlap": "distinct set-id grid (ga < gb pairs) broadcast; "
    "bounded by #sets, independent of corpus size",
    "q107_association_rules": "1-row basket-total broadcast cross join "
    "(q50's bounds pattern)",
    "q111_priority_sample": "1-row tau (k+1-th priority) broadcast cross "
    "join onto the k-row sample (q50's bounds pattern)",
    "q123_negative_samples": "1-row corpus-count broadcast cross join "
    "(q50's bounds pattern); the partner pairing itself is a hash join",
    "q130_bm25_batch_topk": "q117's 1-row corpus stats (N, avgdl) "
    "broadcast, driven per query id",
    "q131_personalized_pagerank": "1-row seed-count broadcast cross join "
    "onto the |seeds|-row frame (q50's bounds pattern)",
    "q133_ivf_recall_curve": "q29's centroid-list broadcast (assign + "
    "probe), the 4-row nprobe-settings broadcast band join "
    "(probe_rn <= nprobe), and the 1-row query-count broadcast — all "
    "bounded, data-independent build sides",
    "q134_srp_recall_curve": "q22's query-vector broadcast, the 4-row "
    "band-settings broadcast, and the 1-row query-count broadcast — "
    "all bounded, data-independent build sides",
    "q162_graph_ann_recall": "the 1-row entry-point broadcast crossed "
    "onto the 8-row query set (search init), the 1-row entry-id "
    "broadcast gating query selection, the 8-row query-vector "
    "broadcast (exact leg), and the 1-row query-count broadcast — all "
    "bounded, data-independent build sides; every hop's frontier join "
    "is a keyed broadcast-hash join, not BNLJ",
    "q163_nn_descent_curve": "the 1-row (max_id+1) broadcast crossed "
    "onto the md5-seed fan-out (q50's bounds pattern) and the 1-row "
    "exact-edge-count broadcast; every candidate/scoring join is keyed",
    "q164_graph_ann_from_stored_index": "q162's bounded broadcasts "
    "verbatim — the search runs over the parquet-read adjacency, same "
    "init/entry/query-count 1-to-8-row build sides",
    "q136_pq_adc_recall": "the 3-row (m, subdim) settings / subspace-grid "
    "broadcasts, the fixed-size sub-codebook broadcast (encode + LUT "
    "legs), the |Q|-row query broadcast, and the 1-row query-count "
    "broadcast — all bounded, data-independent build sides",
    "q137_rrf_hybrid_retrieval": "the |Q|-row seed-vector broadcast "
    "against the embedding table (q22's query-by-example shape)",
    "q138_retrieval_eval_metrics": "the 20-row literal rank-discount "
    "table broadcast on a rnk <= least(n_relevant, 10) band condition "
    "(IDCG leg) — bounded, data-independent build side",
    "q139_ivfadc_topk": "q29/q136's bounded broadcasts composed: the "
    "coarse/sub codebook, the 8-row subspace grid, the |Q|-row query "
    "frame, and the O(|Q| x codebook x m) ADC lookup table",
    "q140_vocab_growth_curve": "1-row corpus-count broadcast cross join "
    "onto the vocab/doc streams (q50's bounds pattern)",
    "q141_ivfadc_residual_topk": "q139's bounded broadcasts in residual "
    "form: coarse/sub codebooks, the 8-row subspace grid, the |Q|-row "
    "query frame, and the per-probed-list O(|Q| x nprobe x m x ks) "
    "residual LUT — all bounded, data-independent build sides",
    "q142_rrf_query_vectors": "q137's |Q|-row query-vector broadcast "
    "against the embedding table (same rrf_hybrid engine, explicit "
    "vector table instead of BM25-seeded)",
    "q145_trained_ivfadc_recall": "q141's bounded broadcasts through the "
    "trained ivfadc_topk operator (kmeans codebook, subspace grid, "
    "per-list LUT) plus the 8-row query broadcast for the exact leg "
    "and the 1-row metric scalars crossed at the end — all bounded, "
    "data-independent build sides",
    "q147_ivf_all_nn": "the 1-row codebook ARRAY (one collect_list "
    "group, bounded by the codebook-broadcast invariant) crossed onto "
    "the corpus in each branch; routing + probe selection happen in a "
    "per-row transform of the codebook array into (neg_cos, c_id) "
    "structs -> array_sort -> slice(nprobe) — an O(|codebook|) "
    "transient per row in flight, never aggregation state (the "
    "nprobe-capped F.aggregate fold was measured 3.6x slower and "
    "rejected; see similarity.py's inline note)",
}

#: query -> why its unpartitioned Window (single-partition WindowExec —
#: ALL rows through one task) is legitimate: every whitelisted window runs
#: over an input whose row count is bounded by something data-independent
#: or corpus-sublinear (a group-by on a low-cardinality key, a top-k
#: frame, a vocab table), never over a fact table. A new unpartitioned
#: window requires a conscious decision here — a global window on a fact
#: table is the single-reducer sort, the one shape that cannot survive
#: 100 TB.
UNPARTITIONED_WINDOW_WHITELIST = {
    "q58_mixture_weights": "window input is the per-lang group table — "
    "|langs| rows regardless of corpus size (curation.py)",
    "q70_weighted_sample": "window input is the per-source count table — "
    "|sources| rows (curation.py)",
    "q111_priority_sample": "rank + tau windows both run over the k+1-row "
    "TakeOrderedAndProject output (curation.py)",
    "q125_source_kl_drift": "corpus-total window over the token-vocab "
    "frequency table — |vocab| rows through one reducer, already the "
    "documented trade against a third corpus scan (curation.py)",
    "q132_quality_threshold_sweep": "cumulative + total windows over the "
    "<= 20-row score-bucket table (curation.py)",
    "q68_unigram_logprob": "corpus-total window over the vocab-sized "
    "frequency table, replacing a second text scan (llm.py)",
    "q95_bigram_logprob": "vocab scalar rides the |V|-row unigram table "
    "as an unpartitioned window, no extra text scan (mining.py)",
    "q140_vocab_growth_curve": "cumulative vocab/token sums over the "
    "fixed 10-row decile grid (curation.py)",
    "q148_global_running_revenue": "exclusive-prefix window over the "
    "per-bucket totals frame — <= num_partitions rows by construction "
    "(operators/ordered.py:range_prefix); the fact table itself never "
    "sees an unpartitioned window, that's the operator's whole point",
    "q149_quality_auc": "same range_prefix offsets frame, over the "
    "distinct-score histogram's bucket totals (operators/ordered.py)",
    "q150_global_order_statistics": "same bounded offsets frame "
    "(operators/ordered.py:global_order_statistics); the per-row "
    "row_number window is PARTITIONED by pruned bucket",
}


def iter_logical_nodes(node):
    """Walk a logical plan tree (py4j: children() is a Scala Seq)."""
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from iter_logical_nodes(ch.apply(i))


def count_unpartitioned_windows(df) -> int:
    lp = df._jdf.queryExecution().optimizedPlan()
    return sum(
        1
        for n in iter_logical_nodes(lp)
        if n.getClass().getSimpleName() == "Window"
        and n.partitionSpec().size() == 0
    )


# Known cross-engine FP trap (documented here with the HUGEINT rule as
# institutional memory): round(x, 2) on a DOUBLE diverges by a cent when
# x sits within an ulp of a .xx5 boundary — Spark rounds the exact
# BigDecimal value HALF_UP, DuckDB rounds the scaled double — observed
# once (q74 at sf0.1, max of a price*discount product). Fix pattern:
# run the currency arithmetic in DECIMAL (exact and identical in both
# engines), round there, CAST the result to DOUBLE for rendering. All
# 57 rounding oracles are verified at sf0.001/0.01/0.1 (full sweeps)
# and sf1.0 (targeted probe); apply the pattern on any new divergence
# rather than widening tolerances.
#
# Second documented trap (found by the round-5 grouping-sets fuzz
# grammar, pinned in test_fuzz_differential.py::
# test_empty_input_super_aggregate_divergence): over an EMPTY input,
# ROLLUP/CUBE/GROUPING SETS that include the () set emit a count-0
# grand-total row in DuckDB (standard, = PostgreSQL) but ZERO rows in
# Spark 4.1.2. Any rollup spec whose WHERE could empty the input at
# some sf must either guarantee non-emptiness or floor with
# HAVING count(*) > 0 in BOTH texts.


def test_no_oracle_emits_hugeint():
    """No oracle may produce a HUGEINT (int128) column.

    DuckDB's sum() over INTEGER/BIGINT widens to HUGEINT; a harness that
    fetches oracle results through pandas coerces HUGEINT to float64, so
    an integer-valued column renders "1.0" against Spark's "1" and the
    value hash diverges even though the data is identical (q43 once
    failed the driver's correctness check this way). Cast such aggregates ::BIGINT in the
    oracle SQL.
    """
    import duckdb

    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    offenders = {}
    for name, spec in REGISTRY.specs.items():
        if not spec.oracle:
            continue
        rel = con.sql(spec.oracle)
        hug = [
            c
            for c, t in zip(rel.columns, rel.types)
            if str(t) in ("HUGEINT", "UHUGEINT")
        ]
        if hug:
            offenders[name] = hug
    assert not offenders, f"oracles emitting HUGEINT columns: {offenders}"


@pytest.mark.parametrize("name", list(REGISTRY.specs))
def test_plan_has_no_pathological_nodes(spark, name):
    df = REGISTRY.specs[name].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: unconditioned cross join"
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in the plan — use an Arrow form"
    )
    if "BroadcastNestedLoopJoin" in plan:
        assert name in BNLJ_WHITELIST, (
            f"{name}: new BroadcastNestedLoopJoin — if the build side is a "
            "bounded broadcast, whitelist it here with the reason; if not, "
            "fix the join"
        )
    if count_unpartitioned_windows(df) > 0:
        assert name in UNPARTITIONED_WINDOW_WHITELIST, (
            f"{name}: new unpartitioned Window (single-partition "
            "WindowExec) — if its input is provably bounded (group table, "
            "top-k frame, vocab), whitelist it here with the reason; if "
            "it runs over a fact table, add a partitionBy or restructure"
        )


def test_unpartitioned_window_lint_catches_global_window(spark):
    """The lint's detector must flag a planted global window over a fact
    table (the exact shape the whitelist exists to keep out)."""
    from pyspark.sql import Window, functions as F

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    planted = li.withColumn(
        "rn", F.row_number().over(Window.orderBy("l_orderkey"))
    )
    assert count_unpartitioned_windows(planted) == 1
    ok = li.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("l_orderkey").orderBy("l_linenumber")
        ),
    )
    assert count_unpartitioned_windows(ok) == 0


#: Most ``Project`` nodes each hourly ingest branch's analysed plan may
#: hold. Station: the one above ``explode``, the flattened-rows-plus-lineage
#: projection, the partition columns; weather: the last two. Each extra
#: ``withColumn``/``select`` adds a node, a separate analysis and a burst of
#: py4j round trips to every hourly run (a ``withColumn`` chain gives 7 and
#: 6), which at ~1,475 rows per run costs more than the data.
INGEST_PROJECT_BUDGET = {"station_status": 3, "weather": 2}


@pytest.mark.parametrize("branch", sorted(INGEST_PROJECT_BUDGET))
def test_ingest_branch_is_one_projection(spark, fixtures_dir, branch):
    import os
    import re
    from datetime import datetime, timezone

    from pyspark.sql import Observation

    from etl_dag_paris_velib_spark.pipeline import branch_plan

    bronze = os.path.join(fixtures_dir, f"{branch}.json")
    run_ts = datetime(2025, 1, 31, 10, tzinfo=timezone.utc)
    df = branch_plan(spark, branch, bronze, run_ts, Observation(f"lint_{branch}"))
    plan = df._jdf.queryExecution().analyzed().toString()
    projects = sum(bool(re.match(r"\W*Project \[", ln)) for ln in plan.splitlines())
    assert "CollectMetrics" in plan
    assert projects <= INGEST_PROJECT_BUDGET[branch], plan
