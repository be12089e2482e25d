"""Similarity search & near-duplicate joins (SURVEY.md §2.10).

This is the module ``functions.vector``/``functions.text`` build toward:
the primitives (MinHash signatures, SimHash, JVM-side cosine) composed into
distributed operators. Three families:

- **MinHash-LSH near-dup join** (`minhash_lsh_pairs`): shingle → signature →
  band bucket → candidate pairs → exact-Jaccard verify. Never all-pairs:
  the only shuffle is the band-bucket self-join, whose bucket sizes are
  bounded by actual near-dup cluster sizes (AQE skew-split covers
  pathological clusters).
- **SimHash near-dup join** (`simhash_pairs`): 60-bit SimHash split into
  15-bit bands, candidates = band-equal pairs, verify by Hamming distance.
  Cheaper than MinHash (one long per doc, integer-equality buckets).
- **Vector search** (`brute_force_topk`, `ivf_topk`): cosine top-k over an
  embedding column. Brute force is the exactness baseline — two-phase
  partial top-k (salted window then global window) so no single partition
  ever holds the full candidate stream. IVF is the scale path: coarse
  quantization to C centroids, probe the ``nprobe`` nearest lists, search
  only those inverted lists — the candidate set shrinks by ~C/nprobe.

All hashing is md5-hex (portable: the DuckDB oracle in ``plans.llm``
computes bit-identical signatures, so the differential gate checks the LSH
logic itself, not just row counts).

Caching note: the MinHash candidate and verified pair sets live in the
bounded ``_PAIR_CACHE`` (a ``cacheutil.PlanCache``) and are unpersisted
when evicted. The shingle/hash intermediates the pair operators
``persist()`` (multiple consumers; see each docstring) — in
``minhash_lsh_pairs``, ``ngram_jaccard_pairs``, ``containment_pairs`` and
``simhash_pairs`` — are in no bounded cache: the operators cannot know
when the caller is done with the returned DataFrame, so they stay cached
until ``spark.catalog.clearCache()`` (which ``clear_plan_caches(spark)``
runs) or the session ends. Long-lived sessions running many operator
instances should clear between phases, or pass
``persist_intermediate=False`` to trade recompute for zero cache
footprint.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    minhash_signature_int,
    shingle_hashes60,
    shingles,
    tokens,
)
from ..functions.udfs import simhash64_udf
from ..functions.vector import dot, l2_norm


# ---------------------------------------------------------------------------
# MinHash-LSH
# ---------------------------------------------------------------------------

import threading

from ..cacheutil import PlanCache, session_token, track_persist

#: serializes the session-global AQE toggle in _persist_udf_cache (see
#: that docstring's CONCURRENCY note)
_AQE_TOGGLE_LOCK = threading.Lock()

#: bounded LRU of persisted verified-pair DataFrames (see
#: minhash_lsh_pairs); one entry per (session, input-plan, params)
# Sized so one full bench sweep never evicts an entry that a later query
# in the same sweep will re-request: the r11 dedup-lifecycle family
# (q144/q152/q153/q154/q158) inserts 8 entries BEFORE the alphabetical
# sweep reaches q21/q42/q46/q52/q56 — at the old cap of 8, q152's
# full-pair entry sat exactly on the eviction boundary (q42's CC twin
# DID get evicted, measured 2.9s vs its 0.025s warm budget at sf1.0).
# Entries are persisted-but-spillable DataFrames, so 16 is cheap.
# Structural guarantee since r12 (the r11 verdict's #2): the standing
# canaries' (q21/q42) entries are PINNED — cap-immune, per-session —
# through the shared cacheutil.PlanCache policy, so window rotations
# can no longer evict them by inserting cap-many entries between the
# builder and its consumer (the failure mode the r11 cap bump papered
# over). Only clear_pair_cache() drops pinned entries.
_PAIR_CACHE_MAX = 16
_PAIR_CACHE = PlanCache(_PAIR_CACHE_MAX)
#: unpersist and drop every cached pair set, pinned included (cold-path
#: measurement resets the canary pins with the entries)
clear_pair_cache = _PAIR_CACHE.clear


def _content_fingerprint(df: DataFrame | None) -> tuple | None:
    """Cache-key token for a possibly file-backed plan: semanticHash PLUS
    the concrete file list behind the scan. semanticHash alone
    canonicalizes a parquet read by its ROOT PATH (file-index equality is
    rootPaths-based), so a stored index that GROWS IN PLACE — the q158
    production shape: new ``batch=N`` partitions appended under the same
    root — would re-probe with an identical hash and return stale cached
    candidates. ``inputFiles()`` enumerates the files the scan actually
    covers (the driver's FileIndex already holds the listing, so this is
    metadata-only), making every growth step a distinct key. In-memory
    plans return no files and keep the bare hash."""
    if df is None:
        return None
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    return (df.semanticHash(), hash(tuple(sorted(files))) if files else None)


def _spread(df: DataFrame) -> DataFrame:
    """Guard against under-partitioned inputs (a single small parquet file
    scans as ONE partition, serializing every per-row hash on one core).
    Round-robin repartition to the cluster's parallelism when the scan
    reads fewer FILES than that; a well-partitioned 100 TB input (always
    multi-file) passes through untouched — no shuffle added at scale.

    Decided from scan metadata (``inputFiles``), never ``df.rdd`` — the
    RDD check forced a Python-RDD conversion plan on every call. Non-file
    inputs (in-memory test tables) already inherit defaultParallelism and
    pass through.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files and len(files) < target:
        return df.repartition(target)
    return df


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, shingle_n: int) -> DataFrame:
    return _spread(df).select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("sh"),
    )


def _hashed_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id, hs): distinct 60-bit md5 hashes of the n-word shingles — the
    integer form of :func:`_shingle_sets` the inverted-index operators
    explode (8-byte longs instead of ~20-byte strings through the index
    shuffle). Pure JVM expression (functions.text.shingle_hashes60), so
    it is safe to persist — which a pandas-UDF column is not (Spark
    4.1.2 cache-build bug, see shingle_hashes60's docstring)."""
    return _spread(df).select(
        F.col(id_col).alias("id"),
        shingle_hashes60(shingles(F.col(text_col), shingle_n)).alias("hs"),
    )


def _signature_bands(sh: DataFrame, k: int, bands: int) -> DataFrame:
    """(id, sh) -> exploded (id, band, band_key) LSH band table.

    The signature is the JVM expression minhash_signature_int (see the
    r08 note in _minhash_candidates for why not the Arrow UDF), under
    the let-binding idiom (element_at(transform(array(e)), 1) — the
    same trick the shingle expression uses): the signature is
    referenced by all ``bands`` band expressions, and without a binding
    CollapseProject inlines the k-lane array_min fan-out into EACH of
    them — an 8x re-evaluation the old ArrowEvalPython node used to
    prevent by materializing sig as a physical operator (measured:
    q21 1.8s -> 5.8s at sf0.1 without the binding, ~2s with it)."""
    r = k // bands

    def _bands_from(s):
        return F.array(
            *[
                F.array_join(
                    F.transform(
                        F.slice(s, b * r + 1, r), lambda x: x.cast("string")
                    ),
                    "|",
                )
                for b in range(bands)
            ]
        )

    band_arr = F.element_at(
        F.transform(
            F.array(minhash_signature_int(F.col("sh"), k)), _bands_from
        ),
        1,
    )
    return sh.select("id", F.posexplode(band_arr).alias("band", "band_key"))


def _persist_udf_cache(df: DataFrame) -> DataFrame:
    """persist() + EAGER materialization under non-adaptive capture,
    for cached plans whose lineage contains a pandas UDF.

    Two documented Spark 4.1.2 failure modes motivate it (r08 sf3.0
    dedup-stress findings, see also the repo-wide persist gotcha):
    (1) the SECOND build of a pandas-UDF-bearing cache in one session
    plans WITHOUT the Python-UDF extraction — observed directly: an
    sf1.0-then-sf3.0 session's second cand plan showed the raw
    minhash_sig inside a plain Project, no ArrowEvalPython node — and
    dies in the cache serializer; (2) at large stage stats, AQE's
    stage preparation can lose the extraction from the EXECUTED stage
    even on a first build ([INTERNAL_ERROR] Cannot evaluate expression
    in an InterpretedUnsafeProjection, seen under both an
    ObjectHashAggregate sort-fallback and a shuffle write). Capturing
    the cached plan with AQE off (the conf must be off BEFORE
    ``persist()`` — the CacheManager snapshots the inner plan then;
    toggling around only the count() leaves an adaptive inner plan)
    and materializing it eagerly pins a final, extraction-complete
    plan: verified adaptive=0 / ArrowEvalPython present. This HARDENS
    the cache build; it is not a complete cure for (2) — the durable
    fix where (2) actually bit was removing the UDF from the hot
    lineage entirely (_minhash_candidates now uses the JVM signature).
    Cost of non-adaptive capture: partition coalescing on one
    well-shaped shuffle — nothing; the build's shape is static. Once
    materialized, consumers plan against the InMemoryTableScan, which
    AQE handles safely.

    CONCURRENCY: ``spark.sql.adaptive.enabled`` is session-global, so
    the toggle is serialized behind a module-level lock — two
    concurrent cache builds in one session would otherwise race on the
    save/restore (one restoring the other's "previous" value). The lock
    covers THIS function only: a query planned concurrently on the same
    session by code outside this module is still planned with AQE off
    for the duration of the build. That is the documented trade — the
    repo's execution model is one logical query stream per session
    (driver harness, bench, and tests all comply); sessions shared
    across threads must treat cache builds as a serialization point.
    """
    conf = df.sparkSession.conf
    with _AQE_TOGGLE_LOCK:
        try:
            prev = conf.get("spark.sql.adaptive.enabled")
        except Exception:
            prev = None
        conf.set("spark.sql.adaptive.enabled", "false")
        try:
            df = df.persist()
            df.count()
        finally:
            if prev is None:
                conf.unset("spark.sql.adaptive.enabled")
            else:
                conf.set("spark.sql.adaptive.enabled", prev)
    return df


def _bucket_pairs(banded: DataFrame, member: "F.Column") -> DataFrame:
    """(band, band_key, member) -> distinct candidate pairs (id_a < id_b).

    Bucket-groupBy instead of a self-join: the upstream signature pipeline
    runs ONCE (a self-join would recompute it for each side), and the only
    shuffles are the bucket groupBy (ids only — signatures never shuffle)
    and the final distinct. Pairs are fanned out inside each bucket from
    the sorted member array; bucket sizes are bounded by real near-dup
    cluster sizes, the LSH premise (AQE skew-split catches pathological
    buckets).

    Upstream-fragility note (r08 sf3.0 dedup-stress finding): feeding
    this aggregate from a plan whose lineage contains a pandas UDF
    deterministically crashed warmed sessions at 150k docs —
    [INTERNAL_ERROR] Cannot evaluate expression: minhash_sig(...) from
    an InterpretedUnsafeProjection in the aggregate/shuffle stage; the
    Python-UDF extraction goes missing from the executed stage under
    AQE (reproduced with persist on/off, AQE off at persist, and an RDD
    barrier; only session-cold runs escaped). The durable fix was
    upstream: no caller of this helper leaves a pandas UDF below the
    bucket aggregate — minhash computes its signature as a JVM
    expression (_minhash_candidates), and simhash eagerly materializes
    its UDF-bearing hash cache first (_persist_udf_cache), so the
    aggregate stage only ever scans an InMemoryRelation.
    """
    buckets = (
        banded.groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_list(member)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    bands: int,
    shingle_n: int,
    persist_shingles: bool,
    pin: bool = False,
):
    """Shared LSH candidate generation: returns (sh, candidate pairs)
    where ``sh`` is (id, sh strings, hs) — the shingle sets plus their
    distinct 60-bit JVM-computed md5 hashes. The Jaccard verify runs on
    ``hs`` (longs) instead of the strings: integer intersects over ~4x
    smaller arrays, read straight from the persisted projection with no
    re-evaluation (exactness up to md5 collisions, which the DuckDB
    oracle reproduces bit-identically). Pass ``persist_shingles=True``
    only when the CALLER re-consumes ``sh`` (Jaccard verify does;
    edit-distance verify joins raw text instead — and without the
    persist, Catalyst prunes the unused hs column entirely).

    The candidate-pair set is cached across calls like the verified pairs
    (same semantic-hash key; see minhash_lsh_pairs): the Jaccard family
    (q21/q42) and the edit-distance family (q46) share the identical
    signature → band → bucket chain, so the second family re-verifies
    from the cached candidates instead of re-hashing the corpus."""
    try:
        tok = session_token(df.sparkSession)
        cache_key = (
            "cand",
            tok,
            _content_fingerprint(df),
            id_col,
            text_col,
            k,
            bands,
            shingle_n,
        )
    except Exception:
        cache_key = None
    sh = _shingle_sets(df, id_col, text_col, shingle_n).select(
        "id",
        "sh",
        # JVM-side 60-bit hashes INSIDE the (to-be-persisted) projection:
        # the verify sides then read cached longs with zero re-evaluation,
        # and no Python UDF ever sits in a cached plan (Spark 4.1.2 fails
        # the second such cache build — see shingle_hashes60's docstring).
        # When persist_shingles=False (edit-distance path) Catalyst prunes
        # the hs column away, so the hashing is free there.
        shingle_hashes60(F.col("sh")).alias("hs"),
    )
    if persist_shingles:
        sh = sh.persist()
    cand = _PAIR_CACHE.get(cache_key, pin=pin)
    if cand is not None:
        return sh, cand
    # JVM-expression signature (bit-identical to the Arrow pandas UDF
    # make_minhash_sig_udf — the property test pins it). The UDF was the
    # original choice (interpreted HOF lambdas lose a microbench of the
    # bare signature stage badly), but r08's sf3.0 dedup-stress rung
    # flipped the decision twice over: (1) END-TO-END the JVM chain
    # builds the candidate cache FASTER at 150k docs (41.6s vs 54.1s —
    # the UDF path pays Arrow serialization of the full shingle-string
    # arrays into Python, which dwarfs the lambda interpretation), and
    # (2) a pandas UDF anywhere in this lineage deterministically
    # crashes warmed sessions at that scale with [INTERNAL_ERROR]
    # Cannot evaluate expression: minhash_sig(...) from an
    # InterpretedUnsafeProjection — an upstream Spark 4.1.2 planning
    # defect (AQE stage preparation loses the Python-UDF extraction;
    # reproduced with persist on/off, AQE on/off at persist, and an RDD
    # barrier — only session-cold runs escape). Keeping the hot path
    # JVM-side removes the bug class from the dedup family outright.
    banded = _signature_bands(sh, k, bands)
    cand = _bucket_pairs(banded, F.col("id"))
    if cache_key is not None:
        # UDF-free lineage since r08: plain persist
        cand = _PAIR_CACHE.put(cache_key, cand.persist(), pin=pin, session_token=tok)
    return sh, cand


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    max_distance: int = 60,
) -> DataFrame:
    """Near-dup pairs by EDIT DISTANCE: LSH candidates (same banding as
    :func:`minhash_lsh_pairs`) verified with ``levenshtein`` on the raw
    text. The edit-distance family catches small in-place edits that
    shingle-set Jaccard scores leniently and bag-of-words misses entirely;
    never all-pairs — levenshtein is O(len^2) per pair, affordable only on
    the LSH-pruned candidate set."""
    # shingles feed only the signature chain here (verify reads raw text),
    # so never persist them regardless of persist_intermediate
    _, cand = _minhash_candidates(
        df, id_col, text_col, k, bands, shingle_n, persist_shingles=False
    )
    # no _spread: this branch does no per-row hashing — the id equi-join
    # imposes its own partitioning anyway
    texts = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
    ta, tb = texts.alias("ta"), texts.alias("tb")
    # two prunes before the quadratic work: a length-gap filter
    # (|len_a - len_b| > d implies edit distance > d, O(1) per pair), then
    # the BOUNDED levenshtein — with a threshold Spark computes only the
    # 2d+1 diagonal band, O(len * d) instead of O(len^2), returning -1 for
    # pairs that exceed it. Distances actually <= d are still exact, so
    # the result set is unchanged.
    return (
        cand.join(ta, F.col("id_a") == F.col("ta.id"))
        .join(tb, F.col("id_b") == F.col("tb.id"))
        .filter(
            F.abs(F.length("ta.txt") - F.length("tb.txt")) <= F.lit(max_distance)
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein("ta.txt", "tb.txt", max_distance)
            .cast("long")
            .alias("edit_distance"),
        )
        .filter((F.col("edit_distance") >= 0) & (F.col("edit_distance") <= max_distance))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    persist_intermediate: bool = True,
    pin: bool = False,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, exact Jaccard >= threshold).

    ``pin=True`` (the q21/q42 standing-canary path) makes the cached
    entries cap-immune — see ``_PAIR_CACHE.pins``.

    Candidate recall for a pair with true Jaccard j is
    ``1 - (1 - j^r)^bands`` with r = k/bands; at the defaults (r=2, b=8)
    a j=0.9 pair is missed with probability ~2e-6. Candidates are then
    verified with the exact Jaccard on distinct shingle sets, so precision
    is 1.0 by construction.

    Scale: signatures are a per-row array pass (no shuffle). The band
    explode multiplies rows by ``bands`` but carries only (id, band,
    band_key) — the shingle arrays are re-joined only for the verified
    candidate pairs, which is the set that must be small for LSH to make
    sense at all.
    """
    cache_key = None
    if persist_intermediate:
        # materialized-subplan reuse: the verified pair set is a common
        # subplan of several downstream operators (q21 emits it, q42
        # clusters it), so a second call with a semantically identical
        # input and the same parameters returns the SAME persisted
        # DataFrame instead of recomputing signatures + verify — the
        # DataFrame-level analogue of a materialized view. Keyed by the
        # session and the input's semantic hash (Catalyst's normalized
        # plan digest), so a changed input or session misses. Bounded
        # LRU; evicted entries are unpersisted.
        try:
            tok = session_token(df.sparkSession)
            cache_key = (
                tok,
                _content_fingerprint(df),
                id_col,
                text_col,
                k,
                bands,
                shingle_n,
                threshold,
            )
        except Exception:
            cache_key = None
        cached = _PAIR_CACHE.get(cache_key, pin=pin)
        if cached is not None:
            return cached

    sigh, cand = _minhash_candidates(
        df, id_col, text_col, k, bands, shingle_n, persist_intermediate,
        pin=pin,
    )
    sigh = sigh.select("id", "hs")

    # exact Jaccard on the distinct 60-bit shingle hashes — integer
    # intersects over ~4x smaller arrays than the shingle strings; equal
    # to string-set Jaccard up to md5 collisions (~|union|²/2^61 per
    # pair), which the oracle reproduces bit-identically. hs is a plain
    # cached column here: no UDF, no re-hash on either join side.
    sa, sb = sigh.alias("sa"), sigh.alias("sb")
    verified = (
        cand.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sa.hs", "sb.hs"))
                / F.size(F.array_union("sa.hs", "sb.hs"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if cache_key is not None:
        verified = _PAIR_CACHE.put(
            cache_key,
            verified.persist(),
            pin=pin,
            session_token=tok,
        )
    return verified


def _prefix_filtered_jaccard(
    hsh: DataFrame, threshold: float, max_df: int | None
) -> DataFrame:
    """AllPairs/PPJoin candidate generation + exact verify (see
    :func:`ngram_jaccard_pairs` ``prefix_filter`` docs for the theory).
    ``hsh`` is the (id, hs) hashed-shingle-set table; token order is the
    60-bit hash value ascending (any fixed global order preserves
    exactness; df-ascending would prune harder but costs an extra
    df-join per token — hash order is free)."""
    base = hsh.select(
        "id",
        F.array_sort("hs").alias("hs_sorted"),
        F.size("hs").alias("n_sh"),
    )
    # prefix length |A| - ceil(t*|A|) + 1 (>= 1 for non-empty sets).
    # Both prunes are made CONSERVATIVE against double rounding: ceil is
    # taken on t*n - 1e-9 so a product whose double value rounds a hair
    # ABOVE a mathematically-integer t*n cannot shorten the prefix (a
    # slightly longer prefix only costs pruning power, never pairs), and
    # the length filter below gets the symmetric + 1e-9 slack. Set sizes
    # are document-bounded (<< 1e6 shingles), so accumulated rounding is
    # orders of magnitude under the epsilon — the "EXACT, bit-identical
    # output" guarantee holds for arbitrary thresholds, not just the
    # friendly ones (tested against exact Fraction arithmetic).
    pref_len = (
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
        + F.lit(1)
    ).cast("int")
    inv = base.select(
        "id",
        "n_sh",
        F.explode(F.slice("hs_sorted", 1, pref_len)).alias("s"),
    )
    if max_df is not None:
        hubs = (
            inv.groupBy("s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("s")
        )
        inv = inv.join(F.broadcast(hubs), "s", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: J <= min/max, so t*max <= min is necessary;
            # + 1e-9 slack keeps boundary-size pairs when t*max rounds
            # just above an integer min (see the pref_len note)
            & (
                F.lit(threshold) * F.greatest("a.n_sh", "b.n_sh")
                <= F.least("a.n_sh", "b.n_sh") + F.lit(1e-9)
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = base.select(F.col("id").alias("id_a"), F.col("hs_sorted").alias("ha"))
    sb = base.select(F.col("id").alias("id_b"), F.col("hs_sorted").alias("hb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("ha", "hb"))
                / F.size(F.array_union("ha", "hb"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    persist_intermediate: bool = True,
    max_df: int | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """Exact n-gram-Jaccard join via shingle-inverted-index — the
    ground-truth companion to :func:`minhash_lsh_pairs` (used by tests to
    measure LSH recall).

    Not all-pairs: explodes the DISTINCT 60-bit shingle hashes into an
    inverted index (8-byte longs through the index shuffle, not shingle
    strings — see :func:`_hashed_shingle_sets`), counts shared shingles
    per pair with one groupBy, then computes Jaccard from
    |A∩B| / (|A| + |B| - |A∩B|). The pair space is bounded by co-occurring
    shingles, not n².

    ``max_df`` is the 100 TB guard against pathological shingle hubs: a
    shingle appearing in more than ``max_df`` documents contributes
    O(df²) candidate pairs, so hubs are dropped from the inverted index
    before the self-join (standard df-pruning). The hub list is tiny by
    construction (heavy hitters), so it is removed with a broadcast
    anti-join — no extra shuffle on the index. Pruning is conservative:
    n_common can only shrink while set sizes stay full, so the computed
    Jaccard is a lower bound — no false positives above ``threshold``,
    and recall is unchanged whenever near-dup pairs share at least one
    sub-hub shingle (tests/test_llm_operators.py quantifies this on the
    planted pairs).

    ``prefix_filter=True`` switches to the AllPairs/PPJoin prefix-index
    construction (Bayardo et al. WWW'07; Xiao et al. ICDE'08), which is
    EXACT — bit-identical output — while shrinking the inverted index
    and its self-join quadratically: for Jaccard >= t, any qualifying
    pair must share a token among the first ``|A| - ceil(t*|A|) + 1``
    elements of each set under ANY fixed global token order (here: hash
    value ascending), because J >= t implies ``|A∩B| >= ceil(t*|A|)``,
    and missing the whole prefix caps the overlap at ``ceil(t*|A|)-1``.
    Only prefixes are indexed (~(1-t) of all tokens), candidates must
    collide on BOTH prefixes, and a length filter
    (``t * max(|A|,|B|) <= min(|A|,|B|)``, since J <= min/max) prunes
    before verification; survivors verify with one exact
    array_intersect/array_union over the persisted hash sets. At t=0.5
    the index self-join touches ~25% of the full-index pair volume; at
    t=0.9, ~1%.

    Measured honestly (sf1.0 dedup-stress, 50k docs with planted
    10-replica clusters): identical 250,600 pairs from both paths, wall
    time AT PARITY (~42s warm either way) — there, nearly every
    candidate is a true near-dup, so the verify join costs what the
    index join saved. The prefix path wins where candidate volume is
    dominated by sub-threshold co-occurrence (boilerplate-rich crawls,
    high thresholds): index volume shrinks ~(1-t)² while verification
    stays proportional to TRUE pairs. Pick per corpus; both are exact.
    """
    hsh = _hashed_shingle_sets(df, id_col, text_col, shingle_n)
    if persist_intermediate:
        hsh = hsh.persist()  # three consumers: sizes x2 + inverted index
    if prefix_filter:
        return _prefix_filtered_jaccard(hsh, threshold, max_df)
    sizes = hsh.select("id", F.size("hs").alias("n_sh"))
    inv = hsh.select("id", F.explode("hs").alias("s"))
    if max_df is not None:
        hubs = (
            inv.groupBy("s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("s")
        )
        inv = inv.join(F.broadcast(hubs), "s", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za, zb = sizes.alias("za"), sizes.alias("zb")
    return (
        inter.join(za, F.col("id_a") == F.col("za.id"))
        .join(zb, F.col("id_b") == F.col("zb.id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common")
                / (F.col("za.n_sh") + F.col("zb.n_sh") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    min_shingles: int = 5,
    max_df: int | None = None,
    persist_intermediate: bool = True,
) -> DataFrame:
    """Asymmetric shingle-containment join: directed pairs where
    ``|A ∩ B| / |A| >= threshold`` — document A is (mostly) contained in
    document B. The doc-in-doc detector Jaccard misses: a paragraph quoted
    inside a 100x-longer page has tiny Jaccard but containment ~1, which
    is how quote/boilerplate/supersede relationships are found during
    corpus curation (same measure as DataSketch's MinHash-LSH-Ensemble
    problem statement, computed exactly here).

    Same inverted-index shape as :func:`ngram_jaccard_pairs` — hashed
    shingle explode, co-occurrence count, size rejoin — but keeps BOTH
    directions
    of every co-occurring pair and divides by the SOURCE side's set size
    only. Shuffles are identical to the Jaccard join (the direction flip
    is a projection, not a new shuffle); ``max_df`` is the same hub-
    shingle guard. ``min_shingles`` drops sources too small for the
    containment ratio to be meaningful (a 1-shingle doc is "contained"
    everywhere its one shingle appears).
    """
    hsh = _hashed_shingle_sets(df, id_col, text_col, shingle_n)
    if persist_intermediate:
        # same opt-out contract as ngram_jaccard_pairs: hsh feeds two
        # consumers (sizes + inverted index); callers that run this in a
        # loop (bench re-times) pass False to avoid accumulating block-
        # manager entries across invocations.
        hsh = hsh.persist()
    sizes = hsh.select("id", F.size("hs").alias("n_sh"))
    inv = hsh.select("id", F.explode("hs").alias("s"))
    if max_df is not None:
        hubs = (
            inv.groupBy("s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("s")
        )
        inv = inv.join(F.broadcast(hubs), "s", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # both directions from ONE scan of inter (explode, not self-union):
    # inter's inverted-index self-join + groupBy would otherwise execute
    # twice in the physical plan (guide §2.3; same idiom as the
    # components edge build)
    directed = (
        inter.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src_id"),
                        F.col("id_b").alias("dst_id"),
                        F.col("n_common"),
                    ),
                    F.struct(
                        F.col("id_b").alias("src_id"),
                        F.col("id_a").alias("dst_id"),
                        F.col("n_common"),
                    ),
                )
            ).alias("e")
        ).select("e.src_id", "e.dst_id", "e.n_common")
    )
    zs = sizes.alias("zs")
    return (
        directed.join(zs, F.col("src_id") == F.col("zs.id"))
        .filter(F.col("zs.n_sh") >= min_shingles)
        .select(
            "src_id",
            "dst_id",
            (F.col("n_common") / F.col("zs.n_sh")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_bits: int = 15,
    n_bands: int = 4,
    max_hamming: int = 8,
    persist_intermediate: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share at least one 15-bit band
    of the 60-bit hash; verified by Hamming distance <= max_hamming.

    Band-equality guarantees recall only for Hamming <= n_bands - 1
    (pigeonhole); the registered query's oracle mirrors the banding
    exactly, so the differential check is over the operator's actual
    output, and tests quantify recall separately.
    """
    hashed = _spread(df).select(
        F.col(id_col).alias("id"),
        # distinct JVM-side (shrinks the Arrow batch), hash in the
        # vectorized UDF — bit-identical to functions.text.simhash64
        simhash64_udf(F.array_distinct(tokens(F.col(text_col)))).alias("h"),
    )
    if persist_intermediate:
        # one long per doc; both sides of the band self-join read it.
        # Same pandas-UDF-in-cache hazard as the minhash cand build
        # (simhash64_udf sits in the persisted projection), same fix.
        hashed = _persist_udf_cache(hashed)
    mask = (1 << band_bits) - 1
    band_arr = F.array(
        *[
            F.shiftright("h", band_bits * b).bitwiseAND(F.lit(mask))
            for b in range(n_bands)
        ]
    )
    banded = hashed.select("id", "h", F.posexplode(band_arr).alias("band", "band_val"))
    # Band-equality SELF-JOIN, not the bucket fan-out used for MinHash:
    # SimHash bands are 15-bit ints, so bucket membership is dense on
    # near-dup-heavy corpora and pair generation is the dominant cost —
    # the sort-merge join runs in whole-stage codegen while an in-bucket
    # array fan-out would run on the interpreted evaluator (~2x slower
    # measured). The joined payload is 2 longs; nothing wide shuffles.
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Vector search
# ---------------------------------------------------------------------------

def _as_double(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Cast the embedding to double and precompute its L2 norm once —
    float->double up front keeps every downstream dot product in one
    deterministic double-precision fold (matching the DuckDB oracle), and
    the precomputed norm turns per-pair cosine into a single fold instead
    of three."""
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col).alias("vec_id"),
        v.alias("v"),
        l2_norm(v).alias("nv"),
    )


def _cos(av, an, bv, bn):
    return (dot(av, bv) / (F.col(an) * F.col(bn))).alias("score")


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "qv",
    salt_partitions: int = 32,
) -> DataFrame:
    """Exact cosine top-k per query vector. Returns (q_id, vec_id, score).

    Plan: broadcast the (small) query set against the embedding table,
    score JVM-side, then two-phase top-k — a salted window computes a
    per-salt partial top-k in parallel, and the global window merges only
    ``salt_partitions * k`` survivors per query. No partition ever sees
    the full n-row candidate stream, so the operator survives n in the
    billions as long as k * salts stays small.
    """
    base = _as_double(embeddings, id_col, vec_col)
    scored = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col(query_id_col))
        .select(
            F.col(query_id_col).alias("q_id"),
            "vec_id",
            _cos(F.col(query_vec_col), "nq", F.col("v"), "nv"),
        )
    )
    salted = Window.partitionBy(
        "q_id", F.crc32(F.col("vec_id").cast("string")) % salt_partitions
    ).orderBy(F.desc("score"), F.asc("vec_id"))
    partial = (
        scored.withColumn("_prn", F.row_number().over(salted))
        .filter(F.col("_prn") <= k)
        .drop("_prn")
    )
    final = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        partial.withColumn("_rn", F.row_number().over(final))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def make_query_set(
    embeddings: DataFrame,
    predicate,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Select query vectors (as q_id/qv/nq) from the embedding table itself."""
    return _as_double(embeddings.filter(predicate), id_col, vec_col).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nv").alias("nq")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    centroid_mod: int = 50,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_cap: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate cosine top-k via IVF coarse quantization.

    The default centroid choice (every ``centroid_mod``-th vector by id)
    is deterministic so the operator stays oracle-checkable; pass
    ``centroids`` — a (c_id, cv array<double>) frame, e.g. from
    ``operators.clustering.kmeans_centroids`` — to run the same dataflow
    on a TRAINED codebook (the production IVF path; recall on clustered
    corpora is at least the id-picked codebook's,
    tests/test_clustering.py quantifies it). Steps:

    1. assign: every vector joins the broadcast centroid set, keeps its
       nearest centroid (one pass, no shuffle beyond the window on vec_id);
    2. probe: each query keeps its ``nprobe`` nearest centroids;
    3. search: candidates = inverted lists of probed centroids only —
       the join is on ``c_id``, so at scale the lists can be bucketed /
       partitioned by centroid and the probe prunes partitions.
    """
    base = _as_double(embeddings, id_col, vec_col)
    if centroids is not None:
        cv = F.col("cv").cast("array<double>")
        cents = centroids.select(
            F.col("c_id"), cv.alias("cv"), l2_norm(cv).alias("cn")
        )
    else:
        # ``centroid_cap`` bounds the CODEBOOK SIZE independently of corpus
        # size (ids above the cap never become centroids). Without it the
        # modulus selection grows the codebook linearly with n and the
        # assign pass degrades to O(n²/mod) — a real IVF index has a fixed
        # codebook (k-means, trained once — the ``centroids`` path), and
        # this keeps that property while staying deterministic.
        is_cent = F.col("vec_id") % centroid_mod == 0
        if centroid_cap is not None:
            is_cent = is_cent & (F.col("vec_id") < centroid_cap)
        cents = base.filter(is_cent).select(
            F.col("vec_id").alias("c_id"),
            F.col("v").alias("cv"),
            F.col("nv").alias("cn"),
        )

    assigned = _ivf_assign(base, cents).join(base, "vec_id").select(
        "vec_id", "v", "nv", "c_id"
    )
    return _ivf_search(cents, assigned, queries, k, nprobe)


def _ivf_assign(base: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-list assignment (vec_id, c_id) as a MAX_BY hash
    aggregate, not a row_number window (the r09 spill finding — see
    ivfadc_topk's asg note): max_by over (cos_c, -c_id) picks the
    identical row to orderBy(desc cos_c, asc c_id) — negating the id
    flips the tie-break direction so one max fold expresses both — and
    the N x lists expansion collapses map-side instead of sorting. Ids
    only in the fold (see ivfadc_topk: carrying the vector through the
    fold measured slower than the rejoin it saves)."""
    return (
        base.crossJoin(F.broadcast(cents))
        .withColumn("cos_c", dot(F.col("v"), F.col("cv")) / (F.col("nv") * F.col("cn")))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "c_id", F.struct(F.col("cos_c"), -F.col("c_id"))
            ).alias("c_id")
        )
    )


def _ivf_search(
    cents: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Probe + inverted-list search shared by ivf_topk and the
    stored-index path: each query keeps its nprobe nearest centroids,
    candidates come from the probed lists only (join on c_id — at
    scale the lists bucket/partition by centroid and the probe prunes
    partitions), exact cosine re-rank to top-k."""
    w_probe = Window.partitionBy("q_id").orderBy(F.desc("cos_c"), F.asc("c_id"))
    probed = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn("cos_c", dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("cn")))
        .withColumn("_rn", F.row_number().over(w_probe))
        .filter(F.col("_rn") <= nprobe)
        .select("q_id", "qv", "nq", "c_id")
    )

    w_final = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        probed.join(assigned, "c_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", _cos(F.col("qv"), "nq", F.col("v"), "nv"))
        .withColumn("_rn", F.row_number().over(w_final))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def build_ivf_index(
    embeddings: DataFrame,
    centroid_mod: int = 50,
    centroid_cap: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Build the STORED-index artifacts of the IVF family — the
    embedding-side analog of :func:`build_lsh_index`:

    - ``centroid_table``: (c_id, cv array<double>) — the codebook a
      production pipeline trains/derives ONCE and freezes (here the
      deterministic modulus rule of :func:`ivf_topk`, so the artifact
      stays oracle-checkable; a trained k-means codebook drops in the
      same shape);
    - ``assignment_table``: (vec_id, c_id) — the inverted lists.

    Write both to storage, read them back, and each increment only (1)
    assigns the NEW vectors against the stored codebook
    (:func:`assign_to_centroids` — |delta| x |codebook| dots, never a
    corpus re-assignment), (2) unions the delta assignments in, (3)
    serves queries via :func:`ivf_topk_from_index`. Because per-vector
    assignment is independent given a FIXED codebook, the grown index
    is EXACTLY the full rebuild's index — the correctness contract the
    q157 oracle certifies cross-engine.
    """
    base = _as_double(embeddings, id_col, vec_col)
    is_cent = F.col("vec_id") % centroid_mod == 0
    if centroid_cap is not None:
        is_cent = is_cent & (F.col("vec_id") < centroid_cap)
    cents = base.filter(is_cent).select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nv").alias("cn"),
    )
    asg = _ivf_assign(base, cents)
    return cents.select("c_id", "cv"), asg


def assign_to_centroids(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign vectors to their nearest stored centroid: (vec_id, c_id).
    The per-increment kernel of the stored IVF index — cost is
    |vectors| x |codebook| dots with the codebook broadcast, one
    map-side-collapsing aggregate, no shuffle of the corpus."""
    base = _as_double(embeddings, id_col, vec_col)
    cv = F.col("cv").cast("array<double>")
    cents = centroids.select("c_id", cv.alias("cv"), l2_norm(cv).alias("cn"))
    return _ivf_assign(base, cents)


def ivf_topk_from_index(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ivf_topk`'s search stage over STORED artifacts: the
    (c_id, cv) codebook and (vec_id, c_id) inverted lists come from
    storage (see :func:`build_ivf_index`), so serving pays no assign
    pass at all — the production read path of an incrementally
    maintained ANN index. ``embeddings`` supplies the raw vectors for
    the exact re-rank (joined by id on the probed lists only)."""
    base = _as_double(embeddings, id_col, vec_col)
    cv = F.col("cv").cast("array<double>")
    cents = centroids.select("c_id", cv.alias("cv"), l2_norm(cv).alias("cn"))
    assigned = assignments.select("vec_id", "c_id").join(base, "vec_id").select(
        "vec_id", "v", "nv", "c_id"
    )
    return _ivf_search(cents, assigned, queries, k, nprobe)


def ivf_topk_sweep(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    centroid_mod: int = 50,
    nprobes: tuple[int, ...] = (1, 2, 4, 8),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_cap: int | None = None,
) -> DataFrame:
    """:func:`ivf_topk` swept over several ``nprobe`` settings in ONE pass.

    Returns (nprobe, q_id, vec_id, score) — per setting, the same rows
    ``ivf_topk(..., nprobe=setting)`` would return. The sweep shares all
    the expensive work across settings instead of running |settings|
    independent IVF queries: the corpus is assigned to centroids once,
    queries are probed once to rank <= max(nprobes) (keeping the probe
    rank), and every candidate is scored with the exact cosine once; the
    per-setting fan-out then only replicates (id, score) rows — a
    candidate belongs to setting s iff its probed centroid's rank <= s,
    which is exactly the nested-probe-set structure of IVF. The settings
    table is a bounded literal broadcast (|settings| rows — the q50
    scalar-bounds idiom), and the per-(setting, query) top-k windows run
    over candidate lists, never the corpus."""
    max_np = max(nprobes)
    base = _as_double(embeddings, id_col, vec_col)
    is_cent = F.col("vec_id") % centroid_mod == 0
    if centroid_cap is not None:
        is_cent = is_cent & (F.col("vec_id") < centroid_cap)
    cents = base.filter(is_cent).select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nv").alias("cn"),
    )

    # max_by assignment — same rationale and identical row selection as
    # ivf_topk's (see that note)
    assigned = (
        base.crossJoin(F.broadcast(cents))
        .withColumn("cos_c", dot(F.col("v"), F.col("cv")) / (F.col("nv") * F.col("cn")))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "c_id", F.struct(F.col("cos_c"), -F.col("c_id"))
            ).alias("c_id")
        )
        .join(base, "vec_id")
        .select("vec_id", "v", "nv", "c_id")
    )

    w_probe = Window.partitionBy("q_id").orderBy(F.desc("cos_c"), F.asc("c_id"))
    probed = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn("cos_c", dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("cn")))
        .withColumn("probe_rn", F.row_number().over(w_probe))
        .filter(F.col("probe_rn") <= max_np)
        .select("q_id", "qv", "nq", "c_id", "probe_rn")
    )

    scored = (
        probed.join(assigned, "c_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "probe_rn",
            _cos(F.col("qv"), "nq", F.col("v"), "nv"),
        )
    )
    spark = embeddings.sparkSession
    settings = spark.createDataFrame(
        [(int(s),) for s in sorted(nprobes)], "nprobe int"
    )
    fanned = scored.join(
        F.broadcast(settings), F.col("probe_rn") <= F.col("nprobe")
    )
    w_final = Window.partitionBy("nprobe", "q_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        fanned.withColumn("_rn", F.row_number().over(w_final))
        .filter(F.col("_rn") <= k)
        .select("nprobe", "q_id", "vec_id", "score")
    )


def ivf_all_nn(
    embeddings: DataFrame,
    nprobe: int = 2,
    centroid_mod: int | None = None,
    centroid_cap: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate nearest neighbor for EVERY vector via IVF routing —
    the all-vector (queries == corpus) form of :func:`ivf_topk`, and the
    scale path :func:`all_pairs_nn`'s exact O(n^2) sweep documents:
    embedding-dedup candidate generation at corpus scale routes each
    vector to its ``nprobe`` nearest inverted lists and searches only
    those members, never all pairs.

    Returns (vec_id, nn_id, score): each vector's best-cosine neighbor
    among the members of its probed lists (self excluded; a vector whose
    probed lists hold no other member emits no row — same contract as
    the SQL form).

    Execution shape — everything is per-row or map-side, nothing sorts
    a crossed expansion (the r09 argmin-window rule) and NO aggregation
    state scales with the codebook (the r09 verdict's watch item — the
    earlier collect_list-all-lists->sort->slice probe aggregate held
    |lists| structs per hash-map entry, thousands of such buffers live
    at once per task; it also SHUFFLED the |corpus| x |lists| expansion,
    since collect_list partials don't reduce):

    - the codebook collapses to ONE row holding an
      ``array<struct(c_id, cv, cn)>`` (a single collect_list group —
      the same size bound the codebook broadcast itself relies on) and
      rides a 1-row broadcast onto every corpus row;
    - routing + probe selection are ONE per-row expression:
      ``transform`` the codebook array into (neg_cos, c_id) structs,
      ``array_sort``, ``slice`` nprobe. The transient is O(|codebook|)
      per row IN FLIGHT — the same order as the broadcast every task
      already holds — and no per-vector buffer ever sits in an
      aggregation hash map. The list ASSIGNMENT is element 0 of the
      same slice (top-1 == max_by over all centroids), so assignment
      costs nothing extra. (A literal nprobe-capped ``F.aggregate``
      accumulator was measured 3.6x slower — interpreted per-element
      compare/append machinery dwarfs the dot — see the inline note.)
    - candidate generation: one per-list equi-join (probe side = nprobe
      rows/vector, carrying its query vector — no separate q_id join),
      output bounded by actual list sizes x nprobe;
    - final argmax: a max_by fold over each vector's candidates.

    Two shuffles total (the c_id candidate join and the final argmax) —
    down from five in the aggregate-probe form, and the corpus x lists
    expansion never crosses an exchange. The ascending (-cos, c_id)
    sort selects exactly the lists ivf_topk's (cos DESC, c_id ASC)
    window form would — pinned by tests/test_llm_operators.py's
    equivalence test against ivf_topk(queries=corpus, k=1).

    CODEBOOK SIZING (``centroid_mod=None``, the default): for the
    all-vector workload the codebook size is the asymptotic knob —
    routing costs N x nlists and candidate scoring costs
    N x nprobe x (N / nlists), so a FIXED codebook is O(N^2/nlists)
    in scoring and a corpus-proportional one (q29's mod-50 rule) is
    O(N^2/mod) in routing. The default picks id stride
    ceil(sqrt(count)) — the FAISS nlist ~ sqrt(N) sizing rule — which
    balances both legs at O(N^1.5); one bounded count() pass computes
    it (deterministic: the oracle derives the same stride from the
    same count). Pass an explicit ``centroid_mod`` to pin the codebook
    instead (bounded-|Q| callers like q29 want that).
    """
    base = _as_double(embeddings, id_col, vec_col)
    if centroid_mod is None:
        import math

        centroid_mod = max(1, math.ceil(math.sqrt(base.count())))
    is_cent = F.col("vec_id") % centroid_mod == 0
    if centroid_cap is not None:
        is_cent = is_cent & (F.col("vec_id") < centroid_cap)
    cents = base.filter(is_cent).select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nv").alias("cn"),
    )
    # ONE collect_list group (the whole codebook) — bounded by the same
    # invariant that lets the codebook broadcast at all; array_sort makes
    # the lineage byte-deterministic across re-evaluations
    cb = cents.agg(
        F.array_sort(
            F.collect_list(F.struct("c_id", "cv", "cn"))
        ).alias("cb")
    )
    cid_sql = base.schema["vec_id"].dataType.simpleString()
    # Per-row probe selection: transform the codebook array into
    # (neg_cos, c_id) structs, array_sort, slice nprobe. The transient
    # is O(|codebook|) PER ROW IN FLIGHT — the same order as the
    # codebook broadcast every task already holds — and, unlike the
    # r09 collect_list aggregate this replaced, NO hash map ever holds
    # a codebook-sized buffer per corpus vector (the verdict's watch
    # item). Two alternatives were measured and rejected at sf1.0:
    # an nprobe-capped F.aggregate fold (the literal capped-accumulator
    # ask) ran 3.6x slower — interpreted per-element CASE/compare/
    # append machinery dwarfs the dot itself — and inlining dot_fixed
    # here blew the whole-stage codegen method limit, deoptimizing the
    # entire downstream join stage to interpreted eval (6.5 CPU-min vs
    # 52 CPU-s for the scoring stage; see _bucket_expr's docstring for
    # the same phenomenon).
    ps_transform = F.slice(
        F.array_sort(
            F.transform(
                F.col("cb"),
                lambda cent: F.struct(
                    (
                        -(
                            dot(F.col("v"), cent["cv"])
                            / (F.col("nv") * cent["cn"])
                        )
                    ).alias("neg_cos"),
                    cent["c_id"].alias("c_id"),
                ),
            )
        ),
        1,
        nprobe,
    )
    probed = base.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        "v",
        "nv",
        ps_transform.alias("ps"),
    )
    # both branches below descend from the same `probed` lineage, so
    # every join uses globally DISJOINT column names — a string-key
    # self-join over shared lineage is exactly the shape Spark 4 can
    # silently mis-resolve (observed here: the c_id-keyed join matched
    # rows outside the probed lists before the rename)
    members = probed.select(
        F.col("vec_id").alias("m_vid"),
        F.col("v").alias("m_v"),
        F.col("nv").alias("m_nv"),
        # assignment == the fold's top-1. The coalesce sentinel makes
        # m_cid non-nullable so the equi-join's inferred isnotnull
        # cannot collapse into the BNLJ condition and re-evaluate the
        # whole fold per row (observed: the pushed predicate doubled
        # the routing work). Sound: ps is empty IFF the codebook is
        # globally empty, and then the probe side is empty too — the
        # sentinel can never meet a real p_cid.
        F.coalesce(
            F.get("ps", 0)["c_id"], F.lit(-1).cast(cid_sql)
        ).alias("m_cid"),
    )
    qprobe = probed.select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
        # explode_outer: plain explode makes Generate require
        # size(ps) > 0, which pushes the fold into the join condition
        # below — outer generate keeps the fold single-evaluated and
        # the null probe rows drop at the null-rejecting equi-join
        F.explode_outer("ps").alias("p"),
    ).select("q_id", "qv", "nq", F.col("p.c_id").alias("p_cid"))
    return (
        qprobe.join(members, F.col("p_cid") == F.col("m_cid"))
        .filter(F.col("m_vid") != F.col("q_id"))
        .select(
            "q_id",
            F.col("m_vid").alias("vec_id"),
            (
                dot(F.col("qv"), F.col("m_v")) / (F.col("nq") * F.col("m_nv"))
            ).alias("score"),
        )
        .groupBy("q_id")
        .agg(
            F.max_by(
                F.struct("vec_id", "score"),
                F.struct(F.col("score"), -F.col("vec_id")),
            ).alias("w")
        )
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("w.vec_id").alias("nn_id"),
            F.col("w.score").alias("score"),
        )
    )


def all_pairs_nn(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    left_blocks: int = 4,
    index_shards: int = 4,
) -> DataFrame:
    """Nearest neighbor for EVERY vector (the embedding-dedup candidate
    generator: a pair whose cosine ~ 1 is a near-duplicate).

    Distributed block matmul: rows are hashed into ``left_blocks`` query
    blocks and ``index_shards`` index shards, each (block, shard) cell is
    cogrouped (``applyInPandas`` cogroup) and scored with one numpy GEMM,
    and a final groupBy keeps each row's max-score neighbor via a struct
    max (tie-break: smaller nn_id, encoded as a negated-id struct field).
    Nothing is ever collected to the driver and no side is broadcast, so
    both sides scale past executor memory; communication is the classic
    O(n * (blocks + shards)) replication, and per-cell memory is
    (n/blocks + n/shards) rows — tune both up at scale. The lazy
    alternative at 100 TB remains :func:`ivf_topk` with queries = all
    vectors; this operator is the exactness baseline.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    spark = embeddings.sparkSession
    base = _as_double(embeddings, id_col, vec_col).select("vec_id", "v")
    nb, ns = int(left_blocks), int(index_shards)

    blocks = spark.range(nb).select(F.col("id").cast("int").alias("bi"))
    shards = spark.range(ns).select(F.col("id").cast("int").alias("sj"))

    left_rep = base.withColumn(
        "bi", F.pmod(F.crc32(F.col("vec_id").cast("string")), F.lit(nb)).cast("int")
    ).crossJoin(F.broadcast(shards))
    right_rep = (
        base.select(F.col("vec_id").alias("nn_id"), F.col("v").alias("rv"))
        .withColumn(
            "sj", F.pmod(F.crc32(F.col("nn_id").cast("string")), F.lit(ns)).cast("int")
        )
        .crossJoin(F.broadcast(blocks))
    )

    cell_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("nn_id", LongType()),
            StructField("score", DoubleType()),
        ]
    )

    def score_cell(left_pdf: "pd.DataFrame", right_pdf: "pd.DataFrame"):
        if not len(left_pdf) or not len(right_pdf):
            return pd.DataFrame({"vec_id": [], "nn_id": [], "score": []}).astype(
                {"vec_id": "int64", "nn_id": "int64", "score": "float64"}
            )
        # ascending-id order + first-occurrence argmax = smaller-id
        # tie-break inside the cell; the struct max finishes it globally
        right_pdf = right_pdf.sort_values("nn_id")
        r_ids = right_pdf["nn_id"].to_numpy()
        r_mat = np.array(right_pdf["rv"].tolist(), dtype=np.float64)
        r_mat /= np.linalg.norm(r_mat, axis=1, keepdims=True)
        l_ids = left_pdf["vec_id"].to_numpy()
        l_mat = np.array(left_pdf["v"].tolist(), dtype=np.float64)
        l_mat /= np.linalg.norm(l_mat, axis=1, keepdims=True)
        scores = l_mat @ r_mat.T
        scores[l_ids[:, None] == r_ids[None, :]] = -np.inf  # self-pairs
        best = scores.argmax(axis=1)
        best_score = scores[np.arange(len(best)), best]
        keep = np.isfinite(best_score)  # cell held only the row itself
        return pd.DataFrame(
            {
                "vec_id": l_ids[keep],
                "nn_id": r_ids[best][keep],
                "score": best_score[keep],
            }
        )

    cells = (
        left_rep.groupBy("bi", "sj")
        .cogroup(right_rep.groupBy("bi", "sj"))
        .applyInPandas(score_cell, cell_schema)
    )
    best = F.max(
        F.struct(
            F.col("score").alias("score"),
            (-F.col("nn_id")).alias("_neg_id"),
            F.col("nn_id").alias("nn_id"),
        )
    ).alias("m")
    return cells.groupBy("vec_id").agg(best).select(
        "vec_id", F.col("m.nn_id").alias("nn_id"), F.col("m.score").alias("score")
    )


def cosine_threshold_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    left_blocks: int = 4,
    index_shards: int = 4,
) -> DataFrame:
    """All pairs (id_a < id_b, cosine >= threshold) — the embedding-cosine
    near-dup JOIN, and the candidate generator for embedding dedup (drop
    every row with a kept lower-id row above the threshold).

    Same distributed block-matmul shape as :func:`all_pairs_nn` (hash into
    blocks × shards, cogroup, one GEMM per cell, nothing collected or
    broadcast); the cell masks ``id_a < id_b`` so each qualifying pair is
    emitted by exactly one cell — the (block(a), shard(b)) one — and no
    distinct pass is needed. Output size is bounded by the corpus's real
    near-dup structure, not n²; the GEMM still *scores* all pairs, which
    is the exact-baseline contract — at 100 TB route through
    :func:`ivf_topk`-style pruning first and keep this as the verifier.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    spark = embeddings.sparkSession
    base = _as_double(embeddings, id_col, vec_col).select("vec_id", "v")
    nb, ns = int(left_blocks), int(index_shards)
    thr = float(threshold)

    blocks = spark.range(nb).select(F.col("id").cast("int").alias("bi"))
    shards = spark.range(ns).select(F.col("id").cast("int").alias("sj"))

    left_rep = base.withColumn(
        "bi", F.pmod(F.crc32(F.col("vec_id").cast("string")), F.lit(nb)).cast("int")
    ).crossJoin(F.broadcast(shards))
    right_rep = (
        base.select(F.col("vec_id").alias("id_b"), F.col("v").alias("rv"))
        .withColumn(
            "sj", F.pmod(F.crc32(F.col("id_b").cast("string")), F.lit(ns)).cast("int")
        )
        .crossJoin(F.broadcast(blocks))
    )

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("score", DoubleType()),
        ]
    )

    def pairs_cell(left_pdf: "pd.DataFrame", right_pdf: "pd.DataFrame"):
        empty = pd.DataFrame({"id_a": [], "id_b": [], "score": []}).astype(
            {"id_a": "int64", "id_b": "int64", "score": "float64"}
        )
        if not len(left_pdf) or not len(right_pdf):
            return empty
        l_ids = left_pdf["vec_id"].to_numpy()
        r_ids = right_pdf["id_b"].to_numpy()
        l_mat = np.array(left_pdf["v"].tolist(), dtype=np.float64)
        r_mat = np.array(right_pdf["rv"].tolist(), dtype=np.float64)
        l_mat /= np.linalg.norm(l_mat, axis=1, keepdims=True)
        r_mat /= np.linalg.norm(r_mat, axis=1, keepdims=True)
        scores = l_mat @ r_mat.T
        ia, ib = np.nonzero((l_ids[:, None] < r_ids[None, :]) & (scores >= thr))
        if not len(ia):
            return empty
        return pd.DataFrame(
            {"id_a": l_ids[ia], "id_b": r_ids[ib], "score": scores[ia, ib]}
        )

    return (
        left_rep.groupBy("bi", "sj")
        .cogroup(right_rep.groupBy("bi", "sj"))
        .applyInPandas(pairs_cell, out_schema)
    )


# ---------------------------------------------------------------------------
# Graph-based ANN (NSW-style): exact k-NN graph + monotone beam search
# ---------------------------------------------------------------------------


def knn_graph(
    embeddings: DataFrame,
    g: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    left_blocks: int = 4,
    index_shards: int = 4,
) -> DataFrame:
    """Exact top-``g`` cosine neighbor graph: (src, dst, score), up to
    ``g`` rows per src (self excluded; ties broken by smaller dst).

    This is the INDEX of the graph-ANN family — the adjacency a
    NSW/HNSW-style search walks. Construction reuses the
    :func:`all_pairs_nn` distributed block-matmul shape (hash both
    sides into ``left_blocks`` × ``index_shards`` cells, cogroup, one
    numpy GEMM per cell) but each cell emits its LOCAL top-g per query
    row instead of the argmax; because every dst hashes to exactly one
    shard, the global merge sees each (src, dst) once and a single
    per-src window over ``g * index_shards`` candidates finishes the
    exact result — no distinct pass, no corpus-sized window. Exact
    construction is the oracle-checkable baseline; at 100 TB the same
    adjacency schema is fed by approximate builders instead
    (:func:`ivf_all_nn` routing or NN-Descent rounds), and every
    consumer below is agnostic to which builder produced the edges.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    spark = embeddings.sparkSession
    base = _as_double(embeddings, id_col, vec_col).select("vec_id", "v")
    nb, ns, gg = int(left_blocks), int(index_shards), int(g)

    blocks = spark.range(nb).select(F.col("id").cast("int").alias("bi"))
    shards = spark.range(ns).select(F.col("id").cast("int").alias("sj"))

    left_rep = base.withColumn(
        "bi", F.pmod(F.crc32(F.col("vec_id").cast("string")), F.lit(nb)).cast("int")
    ).crossJoin(F.broadcast(shards))
    right_rep = (
        base.select(F.col("vec_id").alias("dst"), F.col("v").alias("rv"))
        .withColumn(
            "sj", F.pmod(F.crc32(F.col("dst").cast("string")), F.lit(ns)).cast("int")
        )
        .crossJoin(F.broadcast(blocks))
    )

    out_schema = StructType(
        [
            StructField("src", LongType()),
            StructField("dst", LongType()),
            StructField("score", DoubleType()),
        ]
    )

    def topg_cell(left_pdf: "pd.DataFrame", right_pdf: "pd.DataFrame"):
        empty = pd.DataFrame({"src": [], "dst": [], "score": []}).astype(
            {"src": "int64", "dst": "int64", "score": "float64"}
        )
        if not len(left_pdf) or not len(right_pdf):
            return empty
        # ascending-dst column order + stable sort = smaller-dst tie-break
        right_pdf = right_pdf.sort_values("dst")
        l_ids = left_pdf["vec_id"].to_numpy()
        r_ids = right_pdf["dst"].to_numpy()
        l_mat = np.array(left_pdf["v"].tolist(), dtype=np.float64)
        r_mat = np.array(right_pdf["rv"].tolist(), dtype=np.float64)
        l_mat /= np.linalg.norm(l_mat, axis=1, keepdims=True)
        r_mat /= np.linalg.norm(r_mat, axis=1, keepdims=True)
        scores = l_mat @ r_mat.T
        scores[l_ids[:, None] == r_ids[None, :]] = -np.inf  # self-edge mask
        m = min(gg, scores.shape[1])
        order = np.argsort(-scores, axis=1, kind="stable")[:, :m]
        out_scores = np.take_along_axis(scores, order, axis=1).ravel()
        keep = np.isfinite(out_scores)
        return pd.DataFrame(
            {
                "src": np.repeat(l_ids, m)[keep],
                "dst": r_ids[order.ravel()][keep],
                "score": out_scores[keep],
            }
        )

    cells = (
        left_rep.groupBy("bi", "sj")
        .cogroup(right_rep.groupBy("bi", "sj"))
        .applyInPandas(topg_cell, out_schema)
    )
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    return (
        cells.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= gg)
        .drop("_rn")
    )


def nn_descent_rounds(
    embeddings: DataFrame,
    g: int = 8,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """NN-Descent (Dong et al., WWW'11) made DETERMINISTIC: the
    APPROXIMATE k-NN-graph builder the exact :func:`knn_graph` GEMM
    documents as its 100 TB replacement. Returns the per-round graphs
    ``[G_0 .. G_rounds]`` (each (src, dst), ≤ g rows per src) so a
    caller can grade the convergence curve edge-for-edge against the
    exact graph.

    The classic algorithm seeds each node with RANDOM neighbors and
    iterates "a neighbor of my neighbor is probably my neighbor"; the
    random init is LOAD-BEARING (it is what makes every 2-hop
    neighborhood a fresh sample — an id-stride seed was measured to
    explore only the id interval ±g·round and never mix), but RNG
    would break oracle replay, so G_0 is the repo's portable-md5
    pseudo-random seed (the q64/q104 idiom): dst_j = 60-bit md5 prefix
    of "src:j" mod (max_id+1), kept where that id exists, j in 1..g —
    deterministic, bit-identical in DuckDB, and statistically uniform.
    Each round scores the candidate set
    C = G ∪ reverse(G) ∪ (G ∘ G) — current, reverse, and two-hop
    neighbors — with the exact query cosine and keeps the top-g per
    src (ties by smaller dst), entirely in JVM expressions: no GEMM,
    no pandas UDF, so per-round graphs are plain-persist-safe.

    Scale: a round moves O(n·g²) candidate rows through two hash joins
    against the corpus (score lookup) and one per-src window — LINEAR
    in n for fixed g, vs the GEMM's O(n²) — which is the entire point:
    at corpus scale you run 2-4 rounds of this (empirically ~0.9 edge
    recall on clustered geometry) and never materialize all pairs. The
    returned graphs feed :func:`graph_adjacency`-shaped serving
    unchanged (the edge schema is builder-agnostic).
    """
    base = _as_double(embeddings, id_col, vec_col)
    ids = base.select(F.col("vec_id").alias("dst"))
    mx = base.agg((F.max("vec_id") + 1).alias("n"))
    seed_hash = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("src"), F.col("j"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % F.col("n")
    )
    edges = (
        base.select(
            F.col("vec_id").alias("src"),
            F.explode(F.sequence(F.lit(1), F.lit(int(g)))).alias("j"),
        )
        .crossJoin(F.broadcast(mx))
        .select("src", seed_hash.alias("dst"))
        .filter(F.col("dst") != F.col("src"))
        .join(ids, "dst")
        .select("src", "dst")
        .distinct()
        # localCheckpoint, not persist (r13): each round references the
        # prior round's graph ~7x (edges + und's two orientations + the
        # four co compositions), and persist() keeps the full logical
        # plan, so round k's plan embedded ~7^k copies of the seed plan
        # and the analyzer, not the data, became the bottleneck — the
        # same lineage-reanalysis disease measured in
        # dedup._iterate_scan_partitions's comment. The checkpoint
        # compiles each round's plan ONCE at construction (eager=False
        # defers only the jobs, not the lineage truncation); the
        # docstring's no-pandas-UDF guarantee is what makes it safe
        # (the repo-wide cache-serializer gotcha). Measured: q163 cold
        # min-of-4 interleaved 14.0 -> 11.2 s (the residual cell is
        # dominated by the exact-GEMM grading leg, not the rounds).
        .localCheckpoint(eager=False)
    )
    out = [track_persist(edges)]
    src_side = base.select(
        F.col("vec_id").alias("src"), F.col("v").alias("sv"), F.col("nv").alias("sn")
    )
    dst_side = base.select(
        F.col("vec_id").alias("dst"), F.col("v").alias("dv"), F.col("nv").alias("dn")
    )
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    for _ in range(int(rounds)):
        # the classic LOCAL JOIN: und = directed edges + reverses, and
        # every pair of nodes sharing a neighborhood anchor u becomes a
        # mutual candidate — fwd∘fwd, fwd∘rev, rev∘fwd, rev∘rev in one
        # self-join, which is what makes NN-Descent converge (a
        # fwd-only two-hop propagates ~2x slower per round, measured)
        und = edges.select(
            F.col("src").alias("u"), F.col("dst").alias("x")
        ).unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("x"))
        )
        a, b = und.alias("a"), und.alias("b")
        co = a.join(b, F.col("a.u") == F.col("b.u")).select(
            F.col("a.x").alias("src"), F.col("b.x").alias("dst")
        )
        cand = (
            edges.unionByName(
                und.select(F.col("u").alias("src"), F.col("x").alias("dst"))
            )
            .unionByName(co)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        scored = (
            cand.join(src_side, "src")
            .join(dst_side, "dst")
            .select(
                "src", "dst", _cos(F.col("sv"), "sn", F.col("dv"), "dn")
            )
        )
        edges = track_persist(
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(g))
            .select("src", "dst")
            .localCheckpoint(eager=False)  # see the seed-graph comment
        )
        out.append(edges)
    return out


def graph_adjacency(
    embeddings: DataFrame,
    g: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    left_blocks: int = 4,
    index_shards: int = 4,
) -> DataFrame:
    """DENORMALIZED adjacency for serving: (src, dst, dv, dn) — each
    edge carries the destination vector and its precomputed L2 norm, the
    way an HNSW index stores vectors alongside links. Serving then never
    joins back to the corpus: a beam-search hop scores candidates from
    the edge rows alone, so at scale the only table the search touches
    is this one — bucketed/partitioned by ``src``, pruned by the
    (broadcast-small) frontier."""
    base = _as_double(embeddings, id_col, vec_col)
    edges = knn_graph(
        embeddings, g, id_col, vec_col, left_blocks, index_shards
    ).select("src", "dst")
    return edges.join(
        base.select(
            F.col("vec_id").alias("dst"),
            F.col("v").alias("dv"),
            F.col("nv").alias("dn"),
        ),
        "dst",
    ).select("src", "dst", "dv", "dn")


def graph_entry_point(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic search entry: the minimum-id vector, as a 1-row
    (e_id, ev, en) frame (HNSW's fixed top-layer entry, without the
    random level draws that would break oracle replay)."""
    base = _as_double(embeddings, id_col, vec_col)
    return (
        base.orderBy("vec_id")
        .limit(1)
        .select(
            F.col("vec_id").alias("e_id"),
            F.col("v").alias("ev"),
            F.col("nv").alias("en"),
        )
    )


def graph_beam_search_sweep(
    adjacency: DataFrame,
    entry: DataFrame,
    queries: DataFrame,
    beams: tuple = (4, 8, 16),
    hops: int = 4,
    k: int = 10,
) -> DataFrame:
    """NSW-style best-first search over a k-NN graph, swept over beam
    widths. Returns (beam, q_id, vec_id): the top-``min(beam, k)``
    approximate neighbors each beam width finds for each query.

    The search is the MONOTONE beam recurrence
    ``C_{i+1} = top-beam( C_i ∪ neighbors(C_i) )`` from the fixed entry
    point, ``hops`` rounds, scores = query cosine, ties by smaller id —
    deterministic given the graph, which is what makes the whole family
    oracle-replayable (the DuckDB side unrolls the same recurrence as
    hop CTEs). Including ``C_i`` in the candidate set makes the state
    monotone in quality (a beam never loses its best nodes), so no
    visited-set bookkeeping is needed — the classic greedy-with-backlog
    formulation of NSW search, not a literal HNSW transcription (no
    layer hierarchy, no random levels: those exist to cut SEQUENTIAL
    hop counts on a single machine; here each hop is one bounded
    DISTRIBUTED join, and the hop count is a fixed parameter).

    Scale shape: the frontier is |queries| × Σbeam rows — broadcast
    small by construction — so every hop is a broadcast-frontier join
    against the adjacency (partition-prunable on ``src``), one tiny
    distinct, and a per-(beam, query) window over ≤ beam × (g+1) rows.
    Nothing scales with the corpus at serve time. Each hop's frontier
    is LAZILY persisted (and tracked): hop i+1 references hop i twice
    (carry-over union + expansion), so without the cache boundary the
    plan re-expands the whole prefix 2^i times; lazy persist keeps it
    one materialization per hop inside a SINGLE final job — the eager
    per-round count() of the pagerank loop is deliberately absent, it
    cost 12 scheduler round-trips for rows this small. The adjacency
    is (re)persisted here through ``_persist_udf_cache`` — its lineage
    carries the GEMM's applyInPandas, which plain ``persist()`` cannot
    safely cache twice in one session (the repo-wide Spark 4.1.2
    gotcha). Beam trajectories are NOT nested (a wider beam can visit
    different nodes), so each beam needs its own recurrence state —
    but the recurrences are INDEPENDENT per (beam, query), so all
    beams advance through ONE shared hop chain with ``beam`` as a
    frontier column (exactly how the DuckDB oracle's hop CTEs carry
    it): per fixed beam the rows evolve identically to a solo run —
    the union, the distinct, and the (beam, q_id)-partitioned window
    never mix beams — while the job count drops from |beams| × hops
    chained stages to hops (r12: 12 persisted frontiers → 4, one
    adjacency join per hop instead of three; measured same-session
    q164 10.5s → 6.3s, q162 16.8s → 13.4s — q162's residual is the
    one-time GEMM index build, not the search).
    """
    spark = queries.sparkSession
    adjacency = track_persist(_persist_udf_cache(adjacency))
    beams_df = spark.createDataFrame(
        [(int(b),) for b in beams], "beam int"
    )
    wq = Window.partitionBy("beam", "q_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    frontier = track_persist(
        queries.crossJoin(F.broadcast(entry))
        .filter(F.col("e_id") != F.col("q_id"))
        .select(
            "q_id",
            "qv",
            "nq",
            F.col("e_id").alias("vec_id"),
            _cos(F.col("qv"), "nq", F.col("ev"), "en"),
        )
        .crossJoin(F.broadcast(beams_df))
        .persist()
    )
    for _ in range(int(hops)):
        expanded = (
            frontier.select("beam", "q_id", "qv", "nq", "vec_id")
            .join(adjacency, F.col("vec_id") == F.col("src"))
            .filter(F.col("dst") != F.col("q_id"))
            .select(
                "beam",
                "q_id",
                "qv",
                "nq",
                F.col("dst").alias("vec_id"),
                _cos(F.col("qv"), "nq", F.col("dv"), "dn"),
            )
        )
        frontier = track_persist(
            frontier.unionByName(expanded)
            .distinct()
            .withColumn("_rn", F.row_number().over(wq))
            .filter(F.col("_rn") <= F.col("beam"))
            .drop("_rn")
            .persist()
        )
    return (
        frontier.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= int(k))
        .select("beam", "q_id", "vec_id")
    )


# ---------------------------------------------------------------------------
# SRP-LSH (signed random projection / hyperplane LSH) top-k
# ---------------------------------------------------------------------------

#: fixed-point scale for the sign-bit dot products: |v| <= ~1, so codes fit
#: comfortably in int32 and every dot is EXACT integer arithmetic — the
#: bucket assignment cannot drift between engines on FP summation order.
SRP_QUANT = 1000

#: default SRP geometry: 24 sign bits in 4 bands of 6. Expected band-bucket
#: size is n / 2^6 — selective enough that the candidate join never
#: approaches all-pairs (4-bit bands would put 1/16 of the corpus in every
#: bucket), while 4 bands keep recall: a true near-neighbor only needs to
#: agree on ONE 6-bit band.
SRP_PLANES = 24
SRP_BANDS = 4


def srp_masks(planes: int = SRP_PLANES, dim: int = 64) -> list[list[int]]:
    """Deterministic ±1 hyperplane components from md5 parity.

    No RNG state: mask[j][d] = +1 iff the first byte of md5("srp:j:d") is
    odd. Both the Spark plan and the DuckDB oracle are generated from this
    one function, so the hyperplanes are bit-identical by construction.
    """
    import hashlib

    return [
        [
            1 if hashlib.md5(f"srp:{j}:{d}".encode()).digest()[0] & 1 else -1
            for d in range(dim)
        ]
        for j in range(planes)
    ]


def srp_bits(
    embeddings: DataFrame,
    planes: int = SRP_PLANES,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector SRP sign bits as an array column: (vec_id, bits) with
    ``bits[j] = [⟨v, h_j⟩ >= 0]`` for the deterministic :func:`srp_masks`
    hyperplanes — the banding-independent half of :func:`srp_lsh_topk`,
    exposed so a band-count sweep can regroup ONE set of bits into
    several code layouts instead of re-running the projection per
    setting. Same fixed-point integer GEMM (bit-exact across engines),
    one Arrow batch per partition, zero shuffle."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    mask_mat = np.asarray(srp_masks(planes, dim), dtype=np.int64)

    @pandas_udf(ArrayType(IntegerType()))
    def sign_bits(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64) * SRP_QUANT
        q = np.where(m >= 0, np.floor(m + 0.5), np.ceil(m - 0.5)).astype(np.int64)
        bits = (q @ mask_mat.T >= 0).astype(np.int32)  # n×planes
        return pd.Series(list(bits))

    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        sign_bits(F.col(vec_col)).alias("bits"),
    )


def srp_lsh_topk(
    embeddings: DataFrame,
    query_pred,
    k: int = 10,
    planes: int = SRP_PLANES,
    bands: int = SRP_BANDS,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via signed-random-projection LSH.

    The fourth ANN family next to brute force (exact baseline), IVF
    (coarse quantization), and SimHash (text): each vector gets ``planes``
    sign bits — bit_j = [⟨v, h_j⟩ >= 0] for ±1 hyperplanes h_j — split
    into ``bands`` band codes; candidates are vectors sharing ANY band
    code with a query (banding trades recall for candidate count exactly
    as MinHash-LSH banding does). Candidates are then scored with the
    EXACT double-precision cosine and top-k'd per query.

    Scale shape: sign bits come from one Arrow-batched integer GEMM
    (the fixed-point SRP_QUANT dot removes FP-order nondeterminism, and
    the batched matmul replaces planes× interpreted HOF folds — measured
    3.2s → sub-second at sf0.1);
    the only shuffle is the (band_idx, code)-keyed candidate join, whose
    bucket sizes are |vectors| / 2^(planes/bands) in expectation — never
    all-pairs. At billions of rows the band join is the same
    bounded-bucket pattern as minhash_lsh_pairs; skewed buckets (mass
    duplicates) fall to AQE skew-split.

    Returns (q_id, vec_id, score) — score is the exact cosine, rounded
    downstream by the caller.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    mask_mat = np.asarray(srp_masks(planes, dim), dtype=np.int64)  # planes×dim
    per_band = planes // bands
    weights = np.left_shift(1, np.arange(per_band, dtype=np.int64))

    # One Arrow batch GEMM instead of planes× interpreted zip_with/aggregate
    # HOFs (the round-2 winnowing lesson: interpreted HOF lambdas cost ~µs
    # per element — planes × dim per row — where a batched integer matmul
    # is effectively free). Fixed-point round is half-away-from-zero to
    # match Spark/DuckDB round(); v*SRP_QUANT carries ≤34 significant bits
    # (float32 mantissa × 2^10), so the +0.5 trick is FP-exact.
    @pandas_udf(ArrayType(LongType()))
    def band_codes(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64) * SRP_QUANT
        q = np.where(m >= 0, np.floor(m + 0.5), np.ceil(m - 0.5)).astype(np.int64)
        bits = (q @ mask_mat.T >= 0).astype(np.int64)  # n×planes
        codes = bits.reshape(len(q), bands, per_band) @ weights  # n×bands
        return pd.Series(list(codes))

    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col),
        band_codes(F.col(vec_col)).alias("codes"),
    )
    coded = base.select(
        "vec_id",
        vec_col,
        F.posexplode("codes").alias("band_idx", "code"),
    )
    qcodes = coded.filter(query_pred).select(
        F.col("vec_id").alias("q_id"), "band_idx", "code"
    )
    cand = (
        coded.join(qcodes, ["band_idx", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    base_d = _as_double(embeddings, id_col, vec_col)
    qside = base_d.select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qvec"), F.col("nv").alias("nq")
    )
    scored = (
        cand.join(base_d, "vec_id")
        .join(F.broadcast(qside), "q_id")
        .select("q_id", "vec_id", _cos("qvec", "nq", "v", "nv"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivfadc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    m: int = 8,
    ks: int = 16,
    residual: bool = True,
    pq_iterations: int = 3,
    train_cap: int = 4096,
    train_id_bound: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_untrained_list: str = "raise",
) -> DataFrame:
    """IVFADC search over a TRAINED coarse codebook — the production
    composition of :func:`ivf_topk` routing and PQ/ADC scoring, with the
    residual form FAISS's IndexIVFPQ ships (Jegou/Douze/Schmid TPAMI'11;
    the r07 verdict's #4 ask). Metric is squared L2 (matching the q139/
    q141 registered specs); returns (q_id, vec_id, adc_dist) with the
    ``k`` SMALLEST estimated distances per query.

    ``residual=True`` (the production default): each vector's PQ codes
    quantize its residual ``v - c(list)`` and every coarse list trains
    its OWN sub-codebooks on its members' residuals — residuals are
    centered near zero once routing has explained the cluster, so the
    same code budget spends itself on within-list structure instead of
    re-encoding cluster offsets (tests/test_clustering.py asserts the
    recall win on clustered geometry). The query LUT is then per probed
    list (``q - c_l`` against that list's codebooks) — nprobe LUT builds
    per query, each O(m*ks*sd), still broadcast-sized.
    ``residual=False``: one shared sub-codebook per subspace trained on
    raw vectors (q139's structure, trained instead of id-picked), one
    LUT per query.

    Execution shape at 100 TB: assignment is one broadcast pass (the
    codebook IS driver state, ``centroids`` from
    ``operators.clustering.kmeans_centroids``); sub-codebook training is
    one shuffle of dim/m-wide slices grouped per (list, subspace).
    MEMORY BOUND: it is ``train_id_bound`` — not ``train_cap`` — that
    bounds a training group's memory, because ``applyInPandas``
    materializes the WHOLE group as one pandas block before
    ``head(train_cap)`` runs; ``train_cap`` only truncates what the
    Lloyd loop then sees. At corpus scale ALWAYS set ``train_id_bound``
    (FAISS likewise trains its PQ on a sample): it filters the rows
    shuffled into the groups, so with ``residual=False`` an unbounded
    run would materialize the entire corpus slice per subspace group.
    The trained codebooks (lists*m*ks rows) broadcast back for encode;
    search touches only probed lists and the searched representation is
    one coarse id + m codes per vector — raw vectors never enter the
    search path.

    UNTRAINED-LIST GUARD (``residual=True`` + ``train_id_bound``): a
    coarse list whose members ALL sit above the id bound trains no
    sub-codebook, and the inner joins at encode/LUT would silently drop
    every vector assigned to it and every candidate from probing it — a
    silent recall hole at exactly the at-scale operating point. The
    operator therefore eagerly diffs assigned lists against trained
    lists (one extra assignment pass with O(#lists) output, only in
    this configuration) and applies ``on_untrained_list``:

    - ``"raise"`` (default): fail with the uncovered list ids — pick a
      larger/better-mixed ``train_id_bound``.
    - ``"global"``: train ONE pooled per-subspace codebook from the
      same id-bounded residual stream and use it for the uncovered
      lists (their codes still quantize residuals, just against the
      pooled codebook) — |uncovered|*m*ks extra broadcast rows, graceful
      recall degradation instead of silent candidate loss.
    """
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..functions.vector import dot_fixed

    if on_untrained_list not in ("raise", "global"):
        raise ValueError(
            "on_untrained_list must be 'raise' or 'global', got "
            f"{on_untrained_list!r}"
        )
    base = _as_double(embeddings, id_col, vec_col).select("vec_id", "v")
    dim = base.select(F.size("v").alias("n")).first()["n"]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sd = dim // m

    cents = centroids.select(
        F.col("c_id").cast("long").alias("c_id"),
        F.col("cv").cast("array<double>").alias("cv"),
    )

    def sqd(a, b, n):
        d = F.zip_with(a, b, lambda x, y: x - y)
        return dot_fixed(d, d, n)

    # nearest-centroid assignment as a MIN_BY hash aggregate, not a
    # row_number window: the |vectors| x |lists| crossed expansion then
    # collapses MAP-SIDE — no shuffle of the expansion, no per-vector
    # sort. The window form spilled ~250 MB at sf0.1 (2k vectors) and
    # would shuffle+sort N x lists rows at corpus scale. min_by over the
    # (d, c_id) struct picks the identical row to row_number
    # orderBy(d, c_id): c_id makes the order total, so the fold is
    # associative/deterministic under partial aggregation. Ids only in
    # the fold, residual via a rejoin: carrying (cv, v) through the fold
    # was measured 1.7x slower cold at sf10.0 (per-crossed-row
    # 128-double struct construction dwarfs the join it saves).
    # Persisted: the assignment fold is the |vectors| x |lists| crossed
    # expansion, and unpersisted it executed once under EACH consumer —
    # the PQ training stream, the encode pass, and the candidate join
    # (3x in the final plan; guide §2.3/§5). The cached frame is two
    # longs per vector; consumers re-derive residuals from it with one
    # cheap broadcast rejoin. JVM-only lineage -> plain persist is safe.
    asg_ids = track_persist(
        base.crossJoin(F.broadcast(cents))
        .withColumn("d", sqd(F.col("v"), F.col("cv"), dim))
        .groupBy("vec_id")
        .agg(F.min_by("c_id", F.struct("d", "c_id")).alias("c_id"))
        .persist()
    )
    asg = asg_ids.join(base, "vec_id")
    if residual:
        # only the residual form needs the centroid vector back
        asg = asg.join(F.broadcast(cents.select("c_id", "cv")), "c_id").select(
            "vec_id",
            "c_id",
            F.zip_with("v", "cv", lambda x, y: x - y).alias("r"),
        )
    else:
        asg = asg.select("vec_id", "c_id", F.col("v").alias("r"))
    sub = base.sparkSession.range(m).select(F.col("id").cast("int").alias("j"))
    start = F.col("j") * sd + 1
    rsub = asg.crossJoin(F.broadcast(sub)).select(
        "c_id", "j", "vec_id", F.slice("r", start, sd).alias("rs")
    )
    # rsub (the residual sub-slices — the PQ build's working set, what
    # FAISS materializes as its training/encode input) feeds the
    # codebook training, the encode pass, and the untrained-list guard.
    # Persist it LAZILY, but persist it HERE, while AQE is still on: the
    # codebook cache below is captured with AQE off (_persist_udf_cache),
    # and in r12, with rsub entirely unpersisted, that capture re-planned
    # rsub's assignment joins as sort-merge (AQE off = no runtime
    # broadcast), shuffling the vector column — the shuffle-budget guard
    # caught the regression (q145 sw 346KB -> 775KB at the ledger sf).
    # persist() snapshots rsub's INNER plan with the session's current
    # conf (CacheManager compiles the cached physical plan at cache
    # time), so the snapshot is an AdaptiveSparkPlan with runtime
    # broadcasts even though the first materialization happens inside
    # the AQE-off codebook count — verified by the shuffle-budget guard
    # after the r13 change that dropped the eager rsub.count() here
    # (the count was one whole extra scheduled job per call whose only
    # purpose the lazy snapshot already serves; guide §5 — cache, but
    # don't pay an extra scheduling round for it).
    rsub = track_persist(rsub.persist())

    group_cols = ["c_id", "j"] if residual else ["j"]
    cb_fields = [StructField("j", IntegerType())]
    if residual:
        cb_fields.insert(0, StructField("c_id", LongType()))
    cb_schema = StructType(
        cb_fields
        + [
            StructField("code", IntegerType()),
            StructField("bvec", ArrayType(DoubleType())),
        ]
    )

    def _pq_fit(pdf):
        import numpy as np

        pdf = pdf.sort_values("vec_id").head(train_cap)
        X = np.array(pdf["rs"].tolist(), dtype=np.float64)
        kk = min(ks, len(X))
        C = X[:kk].copy()
        for _ in range(pq_iterations):
            d = (
                (X * X).sum(axis=1)[:, None]
                - 2.0 * (X @ C.T)
                + (C * C).sum(axis=1)[None, :]
            )
            a = d.argmin(axis=1)
            for ci in range(kk):
                mask = a == ci
                if mask.any():
                    C[ci] = X[mask].mean(axis=0)
        return kk, C

    def fit_codebook(key, pdf):
        import numpy as np
        import pandas as pd

        kk, C = _pq_fit(pdf)
        out = {"code": np.arange(kk, dtype=np.int32), "bvec": list(C)}
        if residual:
            out = {"c_id": np.full(kk, key[0], dtype=np.int64),
                   "j": np.full(kk, key[1], dtype=np.int32), **out}
        else:
            out = {"j": np.full(kk, key[0], dtype=np.int32), **out}
        return pd.DataFrame(out)

    # training stream: ``train_id_bound`` deterministically bounds the
    # rows SHUFFLED into the training groups (ids below the bound only —
    # the seed_cap idiom from operators/clustering.py); ``train_cap``
    # then bounds each group's in-memory numpy block. At corpus scale
    # set the id bound — FAISS likewise trains its PQ on a sample.
    train_src = rsub
    if train_id_bound is not None:
        train_src = rsub.filter(F.col("vec_id") < train_id_bound)
    codebook = train_src.groupBy(*group_cols).applyInPandas(
        fit_codebook, cb_schema
    )

    if residual and train_id_bound is not None:
        # UNTRAINED-LIST GUARD (see docstring): diff assigned lists
        # against the TRAINING STREAM's list ids — both sides are
        # O(#lists) and the right side is a plain filtered projection,
        # NOT the codebook (whose lineage would execute the whole
        # applyInPandas Lloyd training just to enumerate group keys —
        # a full redundant training pass; a non-empty training group
        # always yields a codebook, so the id sets are identical).
        uncovered = sorted(
            r["c_id"]
            for r in asg.select("c_id")
            .distinct()
            .join(
                F.broadcast(train_src.select("c_id").distinct()),
                "c_id",
                "left_anti",
            )
            .collect()
        )
        if uncovered:
            if on_untrained_list == "raise":
                raise ValueError(
                    f"ivfadc_topk: coarse lists {uncovered} have assigned "
                    f"vectors but no member below train_id_bound="
                    f"{train_id_bound}; their residual sub-codebooks are "
                    "untrained and search would silently drop every vector "
                    "in (and candidate from) those lists. Raise "
                    "train_id_bound, or pass on_untrained_list='global' to "
                    "fall back to a pooled per-subspace codebook."
                )

            def fit_codebook_global(key, pdf):
                import numpy as np
                import pandas as pd

                kk, C = _pq_fit(pdf)
                return pd.DataFrame(
                    {
                        "j": np.full(kk, key[0], dtype=np.int32),
                        "code": np.arange(kk, dtype=np.int32),
                        "bvec": list(C),
                    }
                )

            gb_schema = StructType(
                [
                    StructField("j", IntegerType()),
                    StructField("code", IntegerType()),
                    StructField("bvec", ArrayType(DoubleType())),
                ]
            )
            global_cb = train_src.groupBy("j").applyInPandas(
                fit_codebook_global, gb_schema
            )
            fallback = (
                base.sparkSession.createDataFrame(
                    [(int(c),) for c in uncovered], "c_id long"
                )
                .crossJoin(global_cb)
                .select("c_id", "j", "code", "bvec")
            )
            codebook = codebook.unionByName(fallback)

    # The trained codebook feeds TWO broadcasts (encode join + query
    # LUT join) whose canonicalized plans differ enough that exchange
    # reuse never fired — the formatted plan showed the applyInPandas
    # Lloyd training executing TWICE (q145 before-plan: two
    # FlatMapGroupsInPandas nodes). Eagerly materialize it once through
    # _persist_udf_cache (the sanctioned path for pandas-UDF-bearing
    # caches — plain persist of such a plan trips the Spark 4.1.2
    # second-cache-build bug) so both consumers scan the
    # InMemoryRelation; the frame is lists*m*ks rows — broadcast-sized
    # by construction.
    codebook = track_persist(_persist_udf_cache(codebook))
    # PQ encode via the same min_by idiom (see asg): the encode window
    # was the dominant spill source — it sorted |vectors| x m x ks
    # joined rows per (vec, subspace); the hash aggregate collapses them
    # map-side to one code per (vec, subspace)
    enc = (
        rsub.join(F.broadcast(codebook), group_cols)
        .withColumn("d", sqd(F.col("rs"), F.col("bvec"), sd))
        .groupBy("vec_id", "j")
        .agg(F.min_by("code", F.struct("d", "code")).alias("code"))
        .select("vec_id", "j", "code")
    )

    qv = queries.select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("qv").cast("array<double>").alias("qv"),
    )
    w_probe = Window.partitionBy("q_id").orderBy("d", "c_id")
    probe = (
        qv.crossJoin(F.broadcast(cents))
        .withColumn("d", sqd(F.col("qv"), F.col("cv"), dim))
        .withColumn("_rn", F.row_number().over(w_probe))
        .filter(F.col("_rn") <= nprobe)
        .select("q_id", "c_id", "qv", "cv")
    )
    if residual:
        qr = probe.select(
            "q_id", "c_id",
            F.zip_with("qv", "cv", lambda x, y: x - y).alias("qr"),
        )
        qrsub = qr.crossJoin(F.broadcast(sub)).select(
            "q_id", "c_id", "j", F.slice("qr", start, sd).alias("qrs")
        )
        lut = qrsub.join(F.broadcast(codebook), ["c_id", "j"]).select(
            "q_id", "c_id", "j", "code",
            sqd(F.col("qrs"), F.col("bvec"), sd).alias("dq"),
        )
        lut_keys = ["q_id", "c_id", "j", "code"]
    else:
        qrsub = (
            qv.crossJoin(F.broadcast(sub))
            .select("q_id", "j", F.slice("qv", start, sd).alias("qrs"))
        )
        lut = qrsub.join(F.broadcast(codebook), ["j"]).select(
            "q_id", "j", "code",
            sqd(F.col("qrs"), F.col("bvec"), sd).alias("dq"),
        )
        lut_keys = ["q_id", "j", "code"]

    cand = (
        probe.select("q_id", "c_id")
        .join(asg.select("vec_id", "c_id"), "c_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "c_id", "vec_id")
    )
    scored = cand.join(enc, "vec_id").join(F.broadcast(lut), lut_keys)
    # fold dq in sorted subspace order (same idiom as the q141 registered
    # spec): an unordered F.sum over doubles varies with partial-sum
    # order run to run, and near-tie top-k ranks/distances could flip —
    # the sorted-struct fold keeps the ADC estimate deterministic.
    adc = scored.groupBy("q_id", "vec_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("j", "dq"))),
            F.lit(0.0),
            lambda acc, x: acc + x["dq"],
        ).alias("adc_dist")
    )
    w_out = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("_rn", F.row_number().over(w_out))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def build_lsh_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Build the STORED-index artifacts :func:`incremental_lsh_pairs`
    consumes: ``(band_table, hash_table)``.

    - ``band_table``: one ``(id, band, band_key)`` row per band per doc
      — the LSH bucket index a production pipeline materializes once
      (e.g. ``.write.parquet``) and probes on every increment;
    - ``hash_table``: ``(id, hs)`` with the distinct 60-bit shingle
      hashes (``functions.text.shingle_hashes60``) — the verify-stage
      companion, so an increment never re-shingles a base doc.

    Write both to storage, read them back, and pass them as
    ``base_bands`` / ``base_hashes``; the LSH parameters (``k``,
    ``bands``, ``shingle_n``) must match the increment call or the
    bucket probe is meaningless. Cost: one pass over ``docs`` (the
    shingle/signature projection is JVM-side, see
    :func:`minhash_lsh_pairs`); the band table is ``bands`` rows per
    doc, the hash table one array row per doc.
    """
    sh = _shingle_sets(docs, id_col, text_col, shingle_n).select("id", "sh")
    band_tbl = _signature_bands(sh, k, bands).select("id", "band", "band_key")
    hash_tbl = sh.select("id", shingle_hashes60(F.col("sh")).alias("hs"))
    return band_tbl, hash_tbl


def lsh_pairs_from_index(
    band_tbl: DataFrame,
    hash_tbl: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Full verified near-dup pair set (id_a < id_b, exact Jaccard >=
    threshold) derived FROM the stored-index artifacts of
    :func:`build_lsh_index` — no re-shingle, no re-MinHash.

    Semantically identical to :func:`minhash_lsh_pairs` on the same
    corpus and LSH parameters (same band self-join for candidates, same
    exact-Jaccard verify on the 60-bit shingle hashes), but the one
    shingle+signature pass lives in the index build, so a pipeline that
    materializes the index anyway (the q144/q154 crawl-loop shape) pays
    it exactly once: pairs for the initial corpus AND every later
    increment probe all derive from the same artifacts. Cost: the band
    self-join is bucket-local (groupBy-shaped skew, never all-pairs);
    the verify joins touch only candidate ids.
    """
    a, b = band_tbl.alias("a"), band_tbl.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = hash_tbl.select(F.col("id").alias("ia"), F.col("hs").alias("hsa"))
    sb = hash_tbl.select(F.col("id").alias("ib"), F.col("hs").alias("hsb"))
    return (
        cand.join(sa, F.col("id_a") == F.col("ia"))
        .join(sb, F.col("id_b") == F.col("ib"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("hsa", "hsb"))
                / F.size(F.array_union("hsa", "hsb"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_lsh_pairs(
    base: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    base_bands: DataFrame | None = None,
    base_hashes: DataFrame | None = None,
    delta_bands: DataFrame | None = None,
    delta_hashes: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup maintenance: verified pairs (id_a < id_b,
    exact Jaccard >= threshold) INVOLVING at least one ``delta`` doc —
    the daily-crawl-increment shape of :func:`minhash_lsh_pairs`.

    At 100 TB the full pair recomputation is the wrong plan: the base
    corpus's band table is a stored index (one (id, band, band_key) row
    per band per doc — the same artifact :func:`minhash_lsh_pairs`
    explodes transiently), and each increment only (1) bands the NEW
    docs, (2) joins delta bands against base+delta bands, (3) verifies
    the candidates. Base-vs-base pairs are never re-enumerated — the
    candidate join's left side is |delta| * bands rows regardless of
    corpus size, so the bucket join prunes to buckets a new doc
    actually touches. Pass ``base_bands`` (a previously materialized
    (id, band, band_key) table, e.g. read back from parquet) to skip
    re-banding the base corpus entirely; by default it is derived from
    ``base`` in-plan (still never pair-fanned against itself).

    The VERIFY stage is incremental too: exact-Jaccard needs the
    distinct 60-bit shingle-hash sets of only the docs that appear in a
    candidate pair, so the base corpus is semi-joined down to candidate
    ids BEFORE any shingling — per increment the verify cost is
    O(candidates), not O(|base|). Pass ``base_hashes`` (a previously
    materialized (id, hs) table — the ``shingle_hashes60`` artifact,
    the natural companion of ``base_bands`` in a stored index) to skip
    even that re-shingle of the touched base docs.

    ``delta_bands`` / ``delta_hashes`` are the same artifacts for the
    DELTA side: a crawl loop that grows its stored index per increment
    (q154) already runs :func:`build_lsh_index` on each batch, so pass
    those artifacts here and the delta is never shingled twice — one
    shingle+MinHash pass per increment covers BOTH the admission probe
    and the index growth. When either is omitted it is derived from
    ``delta`` in-plan (the one-shot shape). All LSH parameters must
    match the ones the artifacts were built with.

    EQUIVALENCE (the oracle's form, proven by construction and pinned
    by tests/test_llm_operators.py): a pair shares >= 1 band bucket
    with one side in delta iff it appears in the FULL LSH pair set and
    touches delta — so the output is exactly
    ``minhash_lsh_pairs(base UNION delta)`` filtered to pairs with a
    delta member. Verification is the same exact-Jaccard on distinct
    60-bit shingle hashes, so precision stays 1.0 by construction.
    """
    delta_sh = None
    if delta_bands is None or delta_hashes is None:
        delta_sh = _shingle_sets(delta, id_col, text_col, shingle_n).select(
            "id", "sh"
        )
    if delta_bands is None:
        delta_bands = _signature_bands(delta_sh, k, bands)
    if base_bands is None:
        base_sh = _shingle_sets(base, id_col, text_col, shingle_n).select(
            "id", "sh"
        )
        base_bands = _signature_bands(base_sh, k, bands)
    all_bands = base_bands.select("id", "band", "band_key").unionByName(
        delta_bands.select("id", "band", "band_key")
    )
    d, a = delta_bands.alias("d"), all_bands.alias("a")
    try:
        # every plan input is CONTENT-fingerprinted, not just semantic-
        # hashed: base/delta are exactly as likely as the band tables to
        # be same-path parquet reads that grow in place between
        # increments (the kept corpus of a crawl loop), and a bare
        # semanticHash canonicalizes those by root path
        tok = session_token(base.sparkSession)
        cache_key = (
            "inc_cand",
            tok,
            _content_fingerprint(base),
            _content_fingerprint(delta),
            _content_fingerprint(base_bands),
            _content_fingerprint(delta_bands),
            id_col,
            text_col,
            k,
            bands,
            shingle_n,
        )
    except Exception:
        cache_key = None
    cand = _PAIR_CACHE.get(cache_key)
    if cand is None:
        cand = (
            d.join(
                a,
                (F.col("d.band") == F.col("a.band"))
                & (F.col("d.band_key") == F.col("a.band_key"))
                & (F.col("d.id") != F.col("a.id")),
            )
            .select(
                F.least("d.id", "a.id").alias("id_a"),
                F.greatest("d.id", "a.id").alias("id_b"),
            )
            .distinct()
        )
        if cache_key is not None:
            # candidates are consumed three times below (output join x2
            # + the verify semi-join) and the lineage contains the band
            # self-join — persist, but through the module's bounded LRU
            # so repeated increments in one session EVICT-and-unpersist
            # older entries instead of leaking one cached pair set per
            # call (this operator is expressly the repeated-increment
            # shape)
            cand = _PAIR_CACHE.put(cache_key, cand.persist(), session_token=tok)
    # verify stage: hash-sets ONLY for docs that appear in a candidate
    # pair — semi-join the base corpus down to candidate ids before any
    # shingling (O(candidates), not O(|base|), per increment)
    cand_ids = (
        cand.select(F.col("id_a").alias("_cid"))
        .unionByName(cand.select(F.col("id_b").alias("_cid")))
        .distinct()
    )
    if delta_hashes is not None:
        delta_hs = delta_hashes.select("id", "hs")
    else:
        delta_hs = delta_sh.select(
            "id", shingle_hashes60(F.col("sh")).alias("hs")
        )
    if base_hashes is not None:
        base_hs = base_hashes.select("id", "hs")
    else:
        base_needed = base.join(
            cand_ids, F.col(id_col) == F.col("_cid"), "left_semi"
        )
        base_hs = _shingle_sets(
            base_needed, id_col, text_col, shingle_n
        ).select("id", shingle_hashes60(F.col("sh")).alias("hs"))
    # sh is joined twice below (the id_a and id_b sides); without a
    # persist the whole hash-derivation subtree executed twice — in the
    # no-artifacts shape (q153) that was TWO delta shingle passes plus
    # TWO semi-join + re-shingle passes over the touched base docs
    # (guide §2.3/§5). Semi-join to the candidate ids FIRST so the
    # persisted frame is candidate-bounded in EVERY shape — with stored
    # artifacts (q154/q158) base_hs is the full corpus-sized index
    # table, which must never be cached whole; the semi-join also cuts
    # its scans 2 → 1 (rows outside cand_ids could never survive the
    # verify joins, so the result is unchanged). JVM lineage only, so
    # plain persist is safe.
    sh = track_persist(
        base_hs.unionByName(delta_hs)
        .join(cand_ids, F.col("id") == F.col("_cid"), "left_semi")
        .persist()
    )
    sa = sh.select(F.col("id").alias("ia"), F.col("hs").alias("hsa"))
    sb = sh.select(F.col("id").alias("ib"), F.col("hs").alias("hsb"))
    return (
        cand.join(sa, F.col("id_a") == F.col("ia"))
        .join(sb, F.col("id_b") == F.col("ib"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("hsa", "hsb"))
                / F.size(F.array_union("hsa", "hsb"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
