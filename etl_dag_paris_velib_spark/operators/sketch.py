"""Count-min sketch — sublinear frequency estimation as a DataFrame op.

The sketch the reference's append-only event tables want for "who are the
heavy hitters" questions when the key cardinality is too large for an
exact groupBy to be cheap. Unlike ``approx_count_distinct`` (HLL, built
in), Spark exposes no SQL-level count-min query path, so this builds the
CM table AS a DataFrame: ``depth`` independent hash rows × ``width``
buckets, each cell the count of keys hashing into it.

Portability is the design center (same rationale as the MinHash family,
functions/text.py:87): bucket indexes come from the md5-prefix idiom
``conv(substr(md5('r:key'),1,15),16,10) % width``, which DuckDB evaluates
bit-identically — so estimates are deterministic cross-engine and the
driver's differential gate checks the sketch MATH, not a tolerance.

Scale: the sketch state is ``depth × width`` cells regardless of input
size. Map-side partial aggregation means the only shuffle moves at most
``depth × width × partitions`` pre-aggregated cells, and the estimate
join broadcasts the (tiny) sketch — the input table itself never
re-shuffles. CM guarantees estimate >= true count (no underestimates);
overestimates are bounded by e·N/width with probability 1 - e^-depth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cm_bucket(row_col: Column, key_str: Column, width: int) -> Column:
    """md5-prefix bucket index — bit-identical in DuckDB as
    ``('0x' || substr(md5(r::VARCHAR || ':' || key::VARCHAR), 1, 15))::UBIGINT % width``."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", row_col, key_str)), 1, 15), 16, 10
    ).cast("long")
    return (h % F.lit(width)).alias("bucket")


def count_min_table(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Build the CM table: (r, bucket, c) with one row per non-empty cell.

    Each input row fans out to ``depth`` (r, bucket) cells; the groupBy
    partially aggregates map-side, so the shuffle carries cells, not rows.
    """
    keyed = df.select(F.col(key_col).cast("string").alias("k")).select(
        "k", F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r")
    )
    return (
        keyed.select("r", _cm_bucket(F.col("r"), F.col("k"), width))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cm_estimate(
    cm: DataFrame, keys: DataFrame, key_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Point-query the sketch for each key in ``keys``: the estimate is
    the MIN over the key's ``depth`` cells. The CM table is broadcast
    (≤ depth × width rows by construction); ``keys`` keeps its columns.
    """
    probes = keys.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r")
    ).withColumn(
        "bucket", _cm_bucket(F.col("r"), F.col(key_col).cast("string"), width)
    )
    others = [c for c in keys.columns]
    return (
        probes.join(F.broadcast(cm), ["r", "bucket"])
        .groupBy(*others)
        .agg(F.min("c").alias("cm_est"))
    )


def _kmv_hash(key_col: str) -> Column:
    """Uniform 56-bit key hash — md5 prefix, the portable construction
    (functions/text.py); 56 bits so estimator numerators stay in BIGINT."""
    return (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 14), 16, 10)
        .cast("bigint")
        .alias("h")
    )


def _kmv_sketch(df: DataFrame, group_col: str, key_col: str, k: int) -> DataFrame:
    """Per-group KMV sketch rows: (g, h, rn) for the k smallest DISTINCT
    hashes of ``key_col`` in each group. The groupBy(g, h) pre-aggregation
    dedups map-side; the rank window's input is already distinct hashes."""
    from pyspark.sql import Window

    distinct_hashes = (
        df.select(F.col(group_col).alias("g"), _kmv_hash(key_col))
        .groupBy("g", "h")
        .agg(F.lit(1).alias("_one"))
    )
    w = Window.partitionBy("g").orderBy("h")
    return distinct_hashes.select(
        "g", "h", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= k)


def kmv_distinct(
    df: DataFrame, group_col: str, key_col: str, k: int = 64
) -> DataFrame:
    """K-minimum-values distinct-count sketch per group, md5-portable.

    Hash every key to a uniform 56-bit value (md5 prefix — the portable
    construction from functions/text.py; 56 bits, not 60, so the
    numerator ``(k-1) * 2^56`` of the estimator stays inside exact BIGINT
    range on both engines), keep the k smallest DISTINCT hashes per
    group, and estimate |distinct| from how deep into the hash space the
    k-th minimum sits: ``est = (k - 1) * 2^56 div h_k`` (integral
    division — bit-exact cross-engine, no double rounding). Groups with
    fewer than k distinct keys are exact (the sketch saw everything).

    Scale shape: the sketch state is k values per group regardless of
    input size. The groupBy(group, hash) pre-aggregation dedups map-side,
    the per-group top-k runs through a rank window whose input is already
    distinct hashes, and — unlike HLL registers — every step is
    deterministic integer arithmetic, so a DuckDB oracle reproduces the
    ESTIMATES bit-exactly (same md5, same k-th minimum, same floor
    division). Exactness-checkable approximation, like the count-min
    table (q51).
    """
    numerator = (k - 1) * (1 << 56)
    assert numerator < (1 << 63), "estimator numerator must fit BIGINT"
    ranked = _kmv_sketch(df, group_col, key_col, k)
    agg = ranked.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_seen"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("h_k"),
    )
    return agg.select(
        F.col("g").alias(group_col),
        F.when(F.col("n_seen") < k, F.col("n_seen").cast("bigint"))
        .otherwise(F.expr(f"{numerator} div h_k"))
        .alias("est_distinct"),
    )


def kmv_merge_distinct(
    df: DataFrame, group_col: str, part_col: str, key_col: str, k: int = 16
) -> DataFrame:
    """Hierarchical KMV: per-(group, partition) sub-sketches MERGED into a
    per-group estimate — the mergeable-aggregate shape that makes sketches
    work at 100 TB (build sketch state independently per shard/day/file,
    union the tiny states, never re-scan raw data to combine).

    Merge law (exact, not approximate): the k smallest distinct hashes of
    a union are each the k-smallest within their own partition, so
    ``top-k(union of per-partition top-k sets) == top-k(union)`` — the
    merged estimate is BIT-IDENTICAL to a one-shot :func:`kmv_distinct`
    over the same rows, which is exactly what the DuckDB oracle for
    q97 computes (the differential gate therefore checks the merge law
    itself). State: k BIGINTs per (group, partition) sub-sketch, then k
    per group — both sides of the merge are bounded regardless of input.

    Returns ``(group_col, n_subsketches, est_distinct)``.
    """
    from pyspark.sql import Window

    numerator = (k - 1) * (1 << 56)
    assert numerator < (1 << 63), "estimator numerator must fit BIGINT"
    h = _kmv_hash(key_col)
    sub = (
        df.select(F.col(group_col).alias("g"), F.col(part_col).alias("p"), h)
        .groupBy("g", "p", "h")
        .agg(F.lit(1).alias("_one"))
    )
    w_sub = Window.partitionBy("g", "p").orderBy("h")
    kept = (
        sub.select("g", "p", "h", F.row_number().over(w_sub).alias("rn"))
        .filter(F.col("rn") <= k)
    )
    n_parts = kept.select("g", "p").distinct().groupBy("g").agg(
        F.count(F.lit(1)).alias("n_subsketches")
    )
    merged = kept.select("g", "h").distinct()
    w_g = Window.partitionBy("g").orderBy("h")
    ranked = merged.select("g", "h", F.row_number().over(w_g).alias("rn")).filter(
        F.col("rn") <= k
    )
    agg = ranked.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_seen"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("h_k"),
    )
    return (
        agg.join(n_parts, "g")
        .select(
            F.col("g").alias(group_col),
            "n_subsketches",
            F.when(F.col("n_seen") < k, F.col("n_seen").cast("bigint"))
            .otherwise(F.expr(f"{numerator} div h_k"))
            .alias("est_distinct"),
        )
    )


def kmv_set_ops(
    df: DataFrame,
    set_col: str,
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """Distinct-overlap estimation for every PAIR of sets from their KMV
    sketches (Beyer et al., "On Synopses for Distinct Value Estimation
    Under Multiset Operations", SIGMOD'07): union and intersection
    cardinalities WITHOUT touching the raw keys twice — the audience-
    overlap / cross-source-contamination primitive at 100 TB, where the
    exact pairwise distinct-intersection is a fact-fact shuffle you
    cannot afford.

    Construction (all deterministic integer arithmetic, like
    :func:`kmv_distinct` — the DuckDB oracle reproduces the ESTIMATES
    bit-exactly):

    1. per-set sketch: the k smallest distinct 56-bit md5 hashes;
    2. per pair, the UNION sketch is the k smallest of the two sketches'
       union (KMV's closure property — combining sketches of k values
       yields the union's exact sketch);
    3. ``est_union`` = the usual (k-1)*2^56 div h_k rule (exact count
       when the union sketch saw everything);
    4. ``est_inter`` = n_both * est_union div k, where n_both counts
       union-sketch hashes present in BOTH input sketches (the Jaccard
       estimator rho = n_both/k applied to the union estimate); exact
       when the union sketch is complete.

    Scale shape: step 1 is the ONLY pass over data (map-side dedup, k
    rows per set out); the sketches collapse to one k-longs array row
    per set, persisted so the pair grid never re-reads the input.
    Steps 2-4 are pure JVM array expressions over
    sets² pair rows, each O(k log k), independent of corpus size. The
    per-set array is bounded at k elements BEFORE collect_list (the rank
    window filters rn <= k), so no group ever materializes an unbounded
    array.
    """
    numerator = (k - 1) * (1 << 56)
    assert numerator < (1 << 63), "estimator numerator must fit BIGINT"
    arrs = (
        _kmv_sketch(df, set_col, key_col, k)
        .groupBy("g")
        .agg(F.array_sort(F.collect_list("h")).alias("hs"))
        .persist()
    )
    pairs = arrs.select(F.col("g").alias("ga"), F.col("hs").alias("ha")).join(
        arrs.select(F.col("g").alias("gb"), F.col("hs").alias("hb")),
        F.col("ga") < F.col("gb"),
    )
    # KMV closure: the union's exact sketch is the k smallest of the two
    # sketches' (deduplicated) union.
    merged = pairs.select(
        "ga",
        "gb",
        "ha",
        "hb",
        F.slice(F.array_sort(F.array_union("ha", "hb")), 1, k).alias("m"),
    )
    agg = merged.select(
        "ga",
        "gb",
        F.size("m").alias("n_seen"),
        F.when(F.size("m") == k, F.element_at("m", k)).alias("h_k"),
        F.size(F.array_intersect(F.array_intersect("m", "ha"), "hb"))
        .cast("bigint")
        .alias("n_both"),
    )
    return agg.select(
        F.col("ga").alias("set_a"),
        F.col("gb").alias("set_b"),
        F.when(F.col("n_seen") < k, F.col("n_seen").cast("bigint"))
        .otherwise(F.expr(f"{numerator} div h_k"))
        .alias("est_union"),
        F.when(F.col("n_seen") < k, F.col("n_both"))
        .otherwise(F.expr(f"(n_both * ({numerator} div h_k)) div {k}"))
        .alias("est_inter"),
    )


def hll_registers(
    df: DataFrame,
    group_col: str,
    key_col: str,
    part_col: str | None = None,
) -> DataFrame:
    """Per-group HyperLogLog registers (p=8, 256 buckets) from the
    60-bit md5 key hash: bucket = low 8 bits, rho = leading-zero count
    of the remaining 52-bit word + 1, computed INTEGER-EXACTLY as
    53 - length(bin(w)) — ``bin`` renders the same unpadded binary
    string in Spark and DuckDB, so the registers never touch a double
    and an oracle reproduces them bit-for-bit (the estimate fold in
    :func:`hll_estimate` is the only FP step).

    With ``part_col`` the registers are built per PARTITION first and
    max-merged — the HLL merge law (register-wise max) is associative
    and integer-exact, so merged registers equal one-shot registers
    EXACTLY; a q97-style differential against a one-shot oracle proves
    the law. Scale shape: register state is <= 256 ints per group
    regardless of input size, the (group, bucket) pre-aggregation
    combines map-side, and the partition level is how a 100 TB pipeline
    computes per-day sub-sketches and folds them without rescanning
    history."""
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    parts = [F.col(part_col).alias("pt")] if part_col is not None else []
    base = df.select(
        F.col(group_col).alias("g"), *parts, h.alias("h")
    ).select(
        "g",
        *(["pt"] if part_col is not None else []),
        (F.col("h") % 256).alias("bucket"),
        F.when(F.expr("h div 256") == 0, F.lit(53))
        .otherwise(F.lit(53) - F.length(F.expr("bin(h div 256)")))
        .cast("int")
        .alias("rho"),
    )
    if part_col is not None:
        sub = base.groupBy("g", "pt", "bucket").agg(F.max("rho").alias("m"))
        return sub.groupBy("g", "bucket").agg(F.max("m").alias("m"))
    return base.groupBy("g", "bucket").agg(F.max("rho").alias("m"))


def hll_estimate(registers: DataFrame, group_col: str) -> DataFrame:
    """Fold HLL registers into the cardinality estimate: raw
    E = alpha_256 * 256^2 / (sum 2^-m + zero-register count), with the
    standard small-range linear-counting branch E <= 2.5*256 when any
    register is empty. Every 2^-m term is an exact power of two; only
    the 256-term sum's ORDER differs cross-engine, hence the repo-wide
    rounding on the estimate (4 digits)."""
    alpha_times_m2 = (0.7213 / (1 + 1.079 / 256.0)) * 65536.0
    agg = registers.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_registers"),
        F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("s_present"),
    )
    raw = F.lit(alpha_times_m2) / (
        F.col("s_present") + (F.lit(256) - F.col("n_registers"))
    )
    linear = F.lit(256.0) * F.log(
        F.lit(256.0) / (F.lit(256) - F.col("n_registers"))
    )
    return agg.select(
        F.col("g").alias(group_col),
        "n_registers",
        F.round(
            F.when(
                (raw <= 640.0) & (F.col("n_registers") < 256), linear
            ).otherwise(raw),
            4,
        ).alias("est_hll"),
    )
