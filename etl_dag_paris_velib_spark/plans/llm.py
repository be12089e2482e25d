"""LLM-training-data pipeline query surface (SURVEY.md §2.10) plus the
relational gap-fill specs (full outer join, P9 filename parsing).

Specs q20-q32 run over ``documents.parquet`` / ``embeddings.parquet`` (and
customer/orders for the join gap-fill). Every hash in these pipelines is
md5-hex so the DuckDB oracle reproduces signatures bit-identically — the
differential gate therefore checks the LSH/banding/winnowing *logic*, not
just row counts (see functions/text.py module docstring for the idiom).

Cross-engine conventions (mirrored in every oracle):
- integer outputs cast to BIGINT on both sides (Spark ``size``/``posexplode``
  are int32, DuckDB ``len`` is int64 — pick one);
- doubles rounded in BOTH engines AFTER thresholds/filters are applied to
  the raw value;
- tie-breaks on unique ids wherever a rank cutoff exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cacheutil import PlanCache, session_token, track_persist
from ..operators.dedup import bow_dedup, exact_dedup
from ..operators.similarity import (
    all_pairs_nn,
    brute_force_topk,
    cosine_threshold_pairs,
    ivf_topk,
    make_query_set,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..operators.textstats import (
    chunk_documents,
    predicted_language,
    quality_features,
)
from ..sources.tpch import load_table
from .spec import Registry

L = Registry()

#: DuckDB fragments shared by several oracles (word tokens / 3-shingles) —
#: the SQL mirror of functions.text.tokens / shingles.
_SQL_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"
_SQL_SHINGLES = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(t) - 2, 1)), "
    "i -> array_to_string(t[i:i+2], ' ')))"
)

#: The full MinHash-LSH candidate CTE chain (mirror of
#: operators.similarity._minhash_candidates) — shared verbatim by the
#: q21 / q42 / q46 oracles so a constant change can't drift between them.
_SQL_MINHASH_CAND = f"""toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM toks),
ms AS (
  SELECT doc_id, s,
         list_transform(s,
           x -> (('0x' || substr(md5(x), 1, 15))::UBIGINT)::BIGINT) AS hv,
         list_transform(s,
           x -> (('0x' || substr(md5(x), 1, 15))::UBIGINT % 2147483647)::BIGINT) AS m
  FROM sh
),
hsets AS (SELECT doc_id, list_distinct(hv) AS hs FROM ms),
sig AS (
  SELECT doc_id,
         list_transform(generate_series(0, 15),
           j -> list_min(list_transform(m,
                  v -> ((2*j+1) * v + j*40503 + 11) % 2147483647))) AS sig
  FROM ms
),
bands AS (
  SELECT doc_id, b, array_to_string(sig[b*2+1:b*2+2], '|') AS bk
  FROM sig, (SELECT unnest(generate_series(0, 7)) AS b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.bk = c.bk AND a.doc_id < c.doc_id
)"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "documents", sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "embeddings", sf_dir)


# ---------------------------------------------------------------------------
# q20 — exact dedup (keep-first by content fingerprint)
# ---------------------------------------------------------------------------
@L.add(
    "q20_exact_dedup",
    oracle="""
WITH f AS (
  SELECT doc_id, lang, source,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT doc_id, lang, source, fingerprint
FROM f
QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
""",
    doc="Exact-content dedup: md5(normalized text), keep lowest doc_id "
    "(operators/dedup.py:exact_dedup). One hash shuffle at any scale.",
    tags=("dedup", "llm"),
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "source", "fingerprint"
    )


# ---------------------------------------------------------------------------
# q21 — MinHash-LSH near-duplicate pairs
# ---------------------------------------------------------------------------
@L.add(
    "q21_near_dup_pairs",
    oracle=f"""
WITH {_SQL_MINHASH_CAND},
scored AS (
  SELECT id_a, id_b,
         len(list_intersect(sa.hs, sb.hs))::DOUBLE / len(list_distinct(sa.hs || sb.hs)) AS j
  FROM cand
  JOIN hsets sa ON sa.doc_id = cand.id_a
  JOIN hsets sb ON sb.doc_id = cand.id_b
)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM scored WHERE j >= 0.5
""",
    doc="MinHash(k=16)-LSH(8 bands of 2) candidate generation + exact-Jaccard "
    "verify at 0.5 on distinct 3-word shingles "
    "(operators/similarity.py:minhash_lsh_pairs). The oracle mirrors the "
    "banding, so LSH logic itself is differential-checked. Never all-pairs.",
    tags=("dedup", "lsh", "llm"),
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pin=True: standing canary — its cache entries are cap-immune, the
    # way its window slot is rotation-immune (similarity._PAIR_CACHE.pins)
    pairs = minhash_lsh_pairs(_docs(spark, sf_dir), pin=True)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# q22 — brute-force cosine top-k (similarity search baseline)
# ---------------------------------------------------------------------------
@L.add(
    "q22_vector_topk",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
s AS (
  SELECT q_id, e.vec_id,
         list_dot_product(qv, v)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS c
  FROM q, e WHERE e.vec_id <> q.q_id
),
r AS (
  SELECT q_id, vec_id, c,
         row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn
  FROM s
)
SELECT q_id, vec_id, round(c, 6) AS score FROM r WHERE rn <= 10
""",
    doc="Exact cosine top-10 for 5 query vectors via two-phase (salted "
    "partial -> global merge) top-k — no partition sees the full stream "
    "(operators/similarity.py:brute_force_topk).",
    tags=("vector", "topk", "llm"),
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    qs = make_query_set(emb, F.col("vec_id") < 5)
    top = brute_force_topk(emb, qs, k=10)
    return top.select("q_id", "vec_id", F.round("score", 6).alias("score"))


# ---------------------------------------------------------------------------
# q23 — corpus statistics per (lang, source)
# ---------------------------------------------------------------------------
@L.add(
    "q23_text_stats",
    oracle="""
SELECT lang, source, count(*) AS n_docs,
       round(avg(len(regexp_extract_all(lower(text), '[a-z0-9]+'))), 4) AS avg_tokens,
       round(avg(n_chars), 4) AS avg_chars,
       sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')))::BIGINT
         AS total_bpe_tokens
FROM documents
GROUP BY lang, source
""",
    doc="Per-(lang, source) corpus stats: doc counts, mean word-token and "
    "char lengths, BPE-ish token totals (functions/text.py tokenizers). "
    "Map-side partial agg; one shuffle of ~|lang|x|source| groups.",
    tags=("textstats", "llm"),
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    from ..functions.text import BPE_RE, TOKEN_RE

    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.avg(F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0))), 4
        ).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.sum(
            F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0)).cast("long")
        ).alias("total_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# q24 — full outer join (J6 gap-fill)
# ---------------------------------------------------------------------------
@L.add(
    "q24_full_outer",
    oracle="""
WITH c AS (
  SELECT c_custkey, c_mktsegment, c_acctbal
  FROM customer WHERE c_acctbal > 7000
),
o AS (
  SELECT o_custkey, count(*) AS n_orders_1997,
         round(sum(o_totalprice), 2) AS total_1997
  FROM orders WHERE year(o_orderdate) = 1997
  GROUP BY o_custkey
)
SELECT coalesce(c_custkey, o_custkey) AS custkey,
       c_mktsegment,
       round(c_acctbal, 2) AS acctbal,
       n_orders_1997, total_1997,
       CASE WHEN c_custkey IS NULL THEN 'orders_only'
            WHEN o_custkey IS NULL THEN 'customer_only'
            ELSE 'both' END AS side
FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
""",
    doc="Full outer join: high-balance customers x 1997 order activity; all "
    "three match classes non-empty at sf0.01 (97/844/333). Shuffle join on "
    "custkey; neither side broadcastable by definition of full outer.",
    tags=("join",),
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, "customer", sf_dir)
        .filter(F.col("c_acctbal") > 7000)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    ords = (
        load_table(spark, "orders", sf_dir)
        .filter(F.year("o_orderdate") == 1997)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders_1997"),
            F.round(F.sum("o_totalprice"), 2).alias("total_1997"),
        )
    )
    j = cust.join(ords, cust.c_custkey == ords.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("acctbal"),
        "n_orders_1997",
        "total_1997",
        F.when(F.col("c_custkey").isNull(), "orders_only")
        .when(F.col("o_custkey").isNull(), "customer_only")
        .otherwise("both")
        .alias("side"),
    )


# ---------------------------------------------------------------------------
# q25 — language identification (marker-token heuristic)
# ---------------------------------------------------------------------------
@L.add(
    "q25_language_id",
    oracle="""
WITH t AS (
  SELECT lang, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS dt
  FROM documents
),
s AS (
  SELECT lang,
    len(list_intersect(dt, ['der','die','und','das','ist','nicht'])) AS s_de,
    len(list_intersect(dt, ['the','a','and','of','is','to'])) AS s_en,
    len(list_intersect(dt, ['el','los','las','es','una','y'])) AS s_es,
    len(list_intersect(dt, ['le','la','les','et','est','une'])) AS s_fr,
    len(list_intersect(dt, ['de0','shi4','le0','zai4','he2','you3'])) AS s_zh
  FROM t
),
p AS (
  SELECT lang,
    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
         WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
         WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         ELSE 'zh' END AS predicted
  FROM s
)
SELECT lang, predicted, count(*) AS n_docs
FROM p GROUP BY lang, predicted
""",
    doc="Stopword-marker language ID (operators/textstats.py:"
    "predicted_language): per-language marker-hit counts, fixed-priority "
    "argmax, confusion matrix vs the labeled lang. Pure per-row pass + tiny "
    "group-by.",
    tags=("textstats", "llm"),
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (
        d.select("lang", predicted_language(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# q26 — quality scoring (corpus-filter features)
# ---------------------------------------------------------------------------
@L.add(
    "q26_quality_score",
    oracle="""
WITH t AS (
  SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents
),
f AS (
  SELECT doc_id,
    len(tk)::BIGINT AS n_tokens,
    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))::BIGINT
      AS n_bpe_tokens,
    len(list_distinct(tk))::DOUBLE / len(tk) AS ttr,
    length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))::DOUBLE / length(text)
      AS alnum,
    len(list_filter(tk, x -> list_contains(['the','a','and','of','is','to'], x)))::DOUBLE
      / len(tk) AS stopr
  FROM t
)
SELECT doc_id, n_tokens, n_bpe_tokens,
       round(ttr, 6) AS type_token_ratio,
       round(alnum, 6) AS alnum_ratio,
       round(stopr, 6) AS stopword_ratio,
       round(0.3 * least(n_tokens / 100.0, 1.0) + 0.3 * ttr
             + 0.2 * stopr + 0.2 * alnum, 6) AS quality_score
FROM f
""",
    doc="Per-document quality features + fixed-weight score "
    "(operators/textstats.py:quality_features): token counts, type-token "
    "ratio, alnum ratio, stopword ratio. Zero-shuffle row pass.",
    tags=("textstats", "llm"),
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = quality_features(_docs(spark, sf_dir))
    return feats.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        "type_token_ratio",
        "alnum_ratio",
        "stopword_ratio",
        "quality_score",
    )


# ---------------------------------------------------------------------------
# q27 — bag-of-words dedup (order-insensitive near-exact)
# ---------------------------------------------------------------------------
@L.add(
    "q27_bow_dedup",
    oracle="""
WITH f AS (
  SELECT doc_id, lang, source,
         md5(array_to_string(
           list_sort(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))),
           ' ')) AS bow_fp
  FROM documents
)
SELECT doc_id, lang, source, bow_fp
FROM f
QUALIFY row_number() OVER (PARTITION BY bow_fp ORDER BY doc_id) = 1
""",
    doc="Bag-of-words dedup (operators/dedup.py:bow_dedup): md5 over the "
    "sorted distinct token set collapses word-order-shuffled duplicates "
    "that exact fingerprints miss. Non-vacuous at sf0.01 (identical token "
    "sets exist). Same one-shuffle profile as q20.",
    tags=("dedup", "llm"),
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bow_dedup(_docs(spark, sf_dir)).select("doc_id", "lang", "source", "bow_fp")


# ---------------------------------------------------------------------------
# q28 — SimHash near-duplicate pairs
# ---------------------------------------------------------------------------
@L.add(
    "q28_simhash_pairs",
    oracle=f"""
WITH t AS (SELECT doc_id, list_distinct({_SQL_TOKS}) AS dt FROM documents),
hs AS (
  SELECT doc_id,
         list_transform(dt, tok -> ('0x' || substr(md5(tok), 1, 15))::UBIGINT::BIGINT)
           AS th
  FROM t
),
sim AS (
  SELECT doc_id,
    list_sum(list_transform(generate_series(0, 59),
      b -> CASE WHEN list_sum(list_transform(th,
                    h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS h
  FROM hs
),
bands AS (
  SELECT doc_id, h, b, (h >> (15 * b)) & 32767 AS bv
  FROM sim, (SELECT unnest(generate_series(0, 3)) AS b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
         bit_count(xor(a.h, c.h))::INT AS hamming
  FROM bands a JOIN bands c
    ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 8
""",
    doc="SimHash(60-bit) near-dup join (operators/similarity.py:"
    "simhash_pairs): 4x15-bit band buckets for candidates, Hamming<=8 "
    "verify. One long per doc — the cheapest near-dup index; oracle mirrors "
    "bit arithmetic exactly.",
    tags=("dedup", "lsh", "llm"),
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(_docs(spark, sf_dir)).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# q29 — IVF approximate top-k (the 100 TB vector-search path)
# ---------------------------------------------------------------------------
@L.add(
    "q29_ivf_topk",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS c_id, v AS cv FROM e
          WHERE vec_id % 50 = 0 AND vec_id < 3200),
asg AS (
  SELECT vec_id, v, c_id FROM (
    SELECT e.vec_id, e.v, cents.c_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_dot_product(e.v, cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv, cv)))
             DESC, c_id) AS rn
    FROM e, cents
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
probe AS (
  SELECT q_id, qv, c_id FROM (
    SELECT q.q_id, q.qv, cents.c_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
             DESC, c_id) AS rn
    FROM q, cents
  ) WHERE rn <= 2
),
s AS (
  SELECT p.q_id, a.vec_id,
         list_dot_product(p.qv, a.v)
           / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v)))
           AS c
  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.vec_id <> p.q_id
),
r AS (
  SELECT q_id, vec_id, c,
         row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn
  FROM s
)
SELECT q_id, vec_id, round(c, 6) AS score FROM r WHERE rn <= 10
""",
    doc="IVF approximate cosine top-10 (operators/similarity.py:ivf_topk): "
    "deterministic coarse centroids (vec_id %% 50, capped below id 3200 "
    "so the CODEBOOK is fixed-size like a real trained IVF index — "
    "without the cap the assign pass is O(n²/mod); the cap is above "
    "every sf≤0.1 id, so small-scale results are unchanged), nprobe=2 "
    "inverted lists searched. The scale path — candidates shrink by "
    "centroids/nprobe and the c_id join partition-prunes when lists "
    "are bucketed by centroid.",
    tags=("vector", "topk", "ann", "llm"),
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    qs = make_query_set(emb, F.col("vec_id") < 5)
    top = ivf_topk(emb, qs, k=10, centroid_mod=50, nprobe=2, centroid_cap=3200)
    return top.select("q_id", "vec_id", F.round("score", 6).alias("score"))


# ---------------------------------------------------------------------------
# q30 — winnowing fingerprints
# ---------------------------------------------------------------------------
@L.add(
    "q30_winnow_fingerprints",
    oracle="""
WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
           FROM documents),
sh AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
           i -> array_to_string(tk[i:i+2], ' ')) AS s
  FROM t
),
h AS (SELECT doc_id, list_transform(s, x -> substr(md5(x), 1, 16)) AS hs FROM sh),
w AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
           i -> list_min(hs[i:i+3]))) AS fps
  FROM h
)
SELECT doc_id, len(fps)::BIGINT AS n_fingerprints, list_min(fps) AS min_fp FROM w
""",
    doc="Winnowing fingerprints (operators/textstats.py:winnow_fingerprints, "
    "Schleimer et al. SIGMOD'03 scheme): positional 3-shingle hashes, "
    "window-4 minima, distinct. Per-row array pass, no shuffle.",
    tags=("textstats", "fingerprint", "llm"),
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens, word_shingles
    from ..functions.udfs import make_winnow_udf

    # positional shingles JVM-side, hashing + window-min in the Arrow UDF
    # (the pure-JVM winnow_fingerprints re-evaluates the hash array per
    # window position under interpreted HOF evaluation — see udfs.py).
    # The shingle array is projected into a column first: a pandas UDF
    # input can't itself be a lambda-bearing HOF expression
    # ([INTERNAL_ERROR] Cannot evaluate ... lambdafunction at the Python
    # runner boundary).
    wf = make_winnow_udf(window=4, hash_chars=16)(F.col("sh"))
    return (
        _docs(spark, sf_dir)
        .select("doc_id", word_shingles(tokens(F.col("text")), 3).alias("sh"))
        .select(
            "doc_id",
            F.size(wf).cast("long").alias("n_fingerprints"),
            F.array_min(wf).alias("min_fp"),
        )
    )


# ---------------------------------------------------------------------------
# q31 — token-window chunking (1 row -> N chunks)
# ---------------------------------------------------------------------------
@L.add(
    "q31_doc_chunks",
    oracle="""
WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
           FROM documents),
c AS (
  SELECT doc_id, tk,
         unnest(generate_series(1, greatest(len(tk) - 10, 1), 40)) AS s
  FROM t
),
x AS (
  SELECT doc_id, (s - 1) // 40 AS chunk_idx,
         array_to_string(tk[s:s+49], ' ') AS chunk_text
  FROM c
)
SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
       len(regexp_extract_all(lower(chunk_text), '[a-z0-9]+'))::BIGINT
         AS n_chunk_tokens,
       md5(chunk_text) AS chunk_hash
FROM x
""",
    doc="LLM-ingest chunker (operators/textstats.py:chunk_documents): 50-token "
    "chunks, 10-token overlap, arithmetic starts + slice + posexplode — "
    "whole-stage-codegen fan-out, no UDTF in the hot path.",
    tags=("textstats", "chunking", "llm"),
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = chunk_documents(_docs(spark, sf_dir))
    return ch.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        "chunk_hash",
    )


# ---------------------------------------------------------------------------
# q32 — filename-stem parsing (P9 gap-fill)
# ---------------------------------------------------------------------------
@L.add(
    "q32_filename_parse",
    oracle="""
WITH k AS (
  SELECT doc_id,
         source || '/' || doc_id::VARCHAR || '_' || lang || '.json' AS file_key
  FROM documents
)
SELECT doc_id, file_key,
       regexp_extract(file_key, '([^/]+)\\.json$', 1) AS stem,
       (string_split(file_key, '.'))[-1] AS ext,
       (string_split(file_key, '/'))[1] AS dir_part
FROM k
""",
    doc="P9 filename-stem parsing (reference etl_dag.py:102,106 "
    "filename.split('.')): split + regexp_extract over constructed object "
    "keys. Pure scalar pass.",
    tags=("scalar",),
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    key = F.concat_ws(
        "/",
        F.col("source"),
        F.concat(F.col("doc_id").cast("string"), F.lit("_"), F.col("lang"), F.lit(".json")),
    )
    return d.select(
        "doc_id",
        key.alias("file_key"),
        F.regexp_extract(key, "([^/]+)\\.json$", 1).alias("stem"),
        F.element_at(F.split(key, "\\."), -1).alias("ext"),
        F.element_at(F.split(key, "/"), 1).alias("dir_part"),
    )


# ---------------------------------------------------------------------------
# q34 — right outer join (J6's other half)
# ---------------------------------------------------------------------------
@L.add(
    "q34_right_outer",
    oracle="""
WITH o AS (
  SELECT o_custkey, count(*) AS n_orders
  FROM orders WHERE o_orderstatus = 'F'
  GROUP BY o_custkey
)
SELECT c_custkey, c_mktsegment, n_orders
FROM o RIGHT OUTER JOIN customer ON o_custkey = c_custkey
WHERE c_acctbal < 0
""",
    doc="Right outer join: finished-order counts RIGHT JOIN negative-balance "
    "customers — customers with no finished orders survive with NULL "
    "counts. Catalyst flips it to a left join on the bigger side.",
    tags=("join",),
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    cust = load_table(spark, "customer", sf_dir).filter(F.col("c_acctbal") < 0)
    return ords.join(cust, ords.o_custkey == cust.c_custkey, "right_outer").select(
        "c_custkey", "c_mktsegment", "n_orders"
    )


# ---------------------------------------------------------------------------
# q35 — exact n-gram-Jaccard similarity join (inverted index, no LSH)
# ---------------------------------------------------------------------------
@L.add(
    "q35_ngram_jaccard",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM toks),
hsh AS (
  SELECT doc_id, list_distinct(list_transform(s,
           x -> (('0x' || substr(md5(x), 1, 15))::UBIGINT)::BIGINT)) AS hs
  FROM sh
),
sizes AS (SELECT doc_id, len(hs) AS n_sh FROM hsh),
inv0 AS (SELECT doc_id, unnest(hs) AS tok FROM hsh),
dfs AS (SELECT tok, count(*) AS df FROM inv0 GROUP BY tok),
inv AS (SELECT doc_id, tok FROM inv0 JOIN dfs USING (tok) WHERE df <= 5),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM inv a JOIN inv b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT id_a, id_b,
         n_common::DOUBLE / (za.n_sh + zb.n_sh - n_common) AS j
  FROM inter
  JOIN sizes za ON za.doc_id = inter.id_a
  JOIN sizes zb ON zb.doc_id = inter.id_b
)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM scored WHERE j >= 0.5
""",
    doc="EXACT n-gram Jaccard join via shingle inverted index "
    "(operators/similarity.py:ngram_jaccard_pairs) — the ground truth the "
    "LSH approximates; pair space bounded by co-occurring shingles, with "
    "df-pruning (max_df=5, active: the corpus tops out at df=7) as the "
    "scale valve against O(df²) hub blow-up. Same result set as q21 at "
    "this threshold when LSH recall is perfect.",
    tags=("dedup", "llm"),
)
def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5, max_df=5)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# q36 — incremental ingest dedup (anti-join against history)
# ---------------------------------------------------------------------------
@L.add(
    "q36_incremental_dedup",
    oracle="""
WITH f AS (
  SELECT doc_id, lang, source,
         md5(array_to_string(
           list_sort(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))),
           ' ')) AS bow_fp
  FROM documents
),
hist AS (SELECT DISTINCT bow_fp FROM f WHERE doc_id < 400),
batch AS (SELECT * FROM f WHERE doc_id >= 400)
SELECT doc_id, lang, source, bow_fp
FROM batch
WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.bow_fp = batch.bow_fp)
QUALIFY row_number() OVER (PARTITION BY bow_fp ORDER BY doc_id) = 1
""",
    doc="Incremental-ingest dedup: new batch (doc_id >= 400) anti-joined "
    "against the history's fingerprint set, then deduped within the batch "
    "— the production pattern for continuous corpus ingestion (history "
    "side reads ONLY the fingerprint column: column pruning makes the "
    "history scan cheap at any corpus size). Non-vacuous: 168 bow-dup "
    "pairs cross the boundary at sf0.01.",
    tags=("dedup", "llm", "incremental"),
)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import bow_fingerprint, keep_first

    docs = _docs(spark, sf_dir).withColumn("bow_fp", bow_fingerprint(F.col("text")))
    hist = docs.filter(F.col("doc_id") < 400).select("bow_fp").distinct()
    batch = docs.filter(F.col("doc_id") >= 400)
    fresh = batch.join(hist, "bow_fp", "left_anti")
    return keep_first(fresh, ["bow_fp"], [F.col("doc_id")]).select(
        "doc_id", "lang", "source", "bow_fp"
    )


# ---------------------------------------------------------------------------
# q37 — salted join (skew mitigation, semantics-preserving)
# ---------------------------------------------------------------------------
@L.add(
    "q37_salted_join_revenue",
    oracle="""
SELECT c_mktsegment, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
    doc="Skew-salted equi-join (operators/skew.py:salted_join): the hot "
    "side salts into 8 sub-keys, the small side replicates x8 — same "
    "result as the plain join, which is exactly what the oracle asserts. "
    "Use when one key's volume breaks even AQE's skew split.",
    tags=("join", "skew"),
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    events = load_table(spark, "events", sf_dir)
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    joined = salted_join(events, cust, "user_id", "c_custkey", salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# q38 — exact interpolated percentiles (quality-filter thresholds)
# ---------------------------------------------------------------------------
@L.add(
    "q38_value_percentiles",
    oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events
GROUP BY event_type
""",
    doc="Exact linear-interpolated percentiles per group (Spark "
    "`percentile` == DuckDB `quantile_cont`): how a corpus pipeline "
    "derives quality-score cut lines. Exact percentile requires a "
    "per-group sort; the scale path swaps in approx_percentile "
    "(t-digest, mergeable, one pass) when the cut line tolerates error.",
    tags=("agg", "percentile"),
)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


# ---------------------------------------------------------------------------
# q40 — composed corpus pipeline: quality filter → dedup → chunk → stats
# ---------------------------------------------------------------------------
@L.add(
    "q40_corpus_pipeline",
    oracle="""
WITH t AS (
  SELECT doc_id, lang, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents
),
scored AS (
  SELECT doc_id, lang, text, tk,
         0.3 * least(len(tk) / 100.0, 1.0)
         + 0.3 * (len(list_distinct(tk))::DOUBLE / len(tk))
         + 0.2 * (len(list_filter(tk,
                    x -> list_contains(['the','a','and','of','is','to'], x)))::DOUBLE
                  / len(tk))
         + 0.2 * (length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))::DOUBLE
                  / length(text)) AS score
  FROM t
),
kept AS (SELECT * FROM scored WHERE round(score, 6) >= 0.48),
deduped AS (
  SELECT doc_id, lang, tk FROM (
    SELECT *, row_number() OVER (
      PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
      ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
),
chunks AS (
  SELECT doc_id, lang,
         unnest(generate_series(1, greatest(len(tk) - 10, 1), 40)) AS s
  FROM deduped
)
SELECT lang, count(*) AS n_chunks, count(DISTINCT doc_id) AS n_docs
FROM chunks GROUP BY lang
""",
    doc="The full training-data preparation pipeline as ONE lazy plan: "
    "quality filter (q26 features) -> exact dedup (q20) -> chunking (q31) "
    "-> per-language stats. Composition stays declarative end-to-end — "
    "Catalyst fuses the per-row stages into one pass before the dedup "
    "shuffle; nothing materializes between stages (the reference "
    "round-trips S3 between every step, SURVEY §3.3).",
    tags=("llm", "pipeline"),
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup

    docs = _docs(spark, sf_dir)
    kept = quality_features(docs).filter(F.col("quality_score") >= 0.48)
    deduped = exact_dedup(kept)
    chunks = chunk_documents(deduped)
    lang = deduped.select("doc_id", "lang")
    return (
        chunks.join(F.broadcast(lang), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# q41 — top terms per language by document frequency
# ---------------------------------------------------------------------------
@L.add(
    "q41_top_terms",
    oracle="""
WITH t AS (
  SELECT doc_id, lang,
         unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS term
  FROM documents
),
df AS (
  SELECT lang, term, count(*) AS doc_freq
  FROM t GROUP BY lang, term
),
r AS (
  SELECT lang, term, doc_freq,
         row_number() OVER (PARTITION BY lang ORDER BY doc_freq DESC, term) AS rn
  FROM df
)
SELECT lang, term, doc_freq, rn AS rank FROM r WHERE rn <= 5
""",
    doc="Vocabulary analysis: per-language top-5 terms by document "
    "frequency — explode(distinct tokens) -> groupBy -> windowed top-k. "
    "The inverted-frequency pass every corpus audit starts with; "
    "map-side partial agg keeps the shuffle at |lang x vocab| rows.",
    tags=("textstats", "llm"),
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import tokens

    d = _docs(spark, sf_dir)
    inv = d.select(
        "lang", F.explode(F.array_distinct(tokens(F.col("text")))).alias("term")
    )
    dfreq = inv.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("doc_freq"))
    w = Window.partitionBy("lang").orderBy(F.desc("doc_freq"), F.asc("term"))
    return (
        dfreq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "term", "doc_freq", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# q42 — near-dup cluster canonicalization (connected components)
# ---------------------------------------------------------------------------
@L.add(
    "q42_dedup_clusters",
    oracle=f"""
WITH RECURSIVE
{_SQL_MINHASH_CAND},
pairs AS (
  SELECT id_a, id_b
  FROM cand
  JOIN hsets sa ON sa.doc_id = cand.id_a
  JOIN hsets sb ON sb.doc_id = cand.id_b
  WHERE len(list_intersect(sa.hs, sb.hs))::DOUBLE / len(list_distinct(sa.hs || sb.hs)) >= 0.5
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach AS (
  SELECT id, id AS label FROM nodes
  UNION
  SELECT e.b AS id, r.label FROM reach r JOIN edges e ON e.a = r.id
)
SELECT id AS doc_id, min(label) AS component FROM reach GROUP BY id
""",
    doc="Near-dup CLUSTER canonicalization: connected components over the "
    "q21 pair graph via min-label propagation to fixpoint "
    "(operators/dedup.py:near_dup_components). Pairs are not transitive — "
    "A~B, B~C must collapse {{A,B,C}} even when A~C was never emitted; "
    "keep-one-per-component is the correct survivor rule. Oracle computes "
    "the same components with a recursive CTE. Iterations bounded by "
    "cluster diameter; large-star/small-star is the 100 TB upgrade.",
    tags=("dedup", "llm", "graph"),
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import near_dup_components

    # pin=True on both stages: standing canary (see q21)
    pairs = minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5, pin=True)
    return near_dup_components(pairs, pin=True)


# ---------------------------------------------------------------------------
# q152 — near-dup PURGE: materialize the deduplicated corpus
# ---------------------------------------------------------------------------
@L.add(
    "q152_near_dup_purge",
    oracle=f"""
WITH RECURSIVE
{_SQL_MINHASH_CAND},
pairs AS (
  SELECT id_a, id_b
  FROM cand
  JOIN hsets sa ON sa.doc_id = cand.id_a
  JOIN hsets sb ON sb.doc_id = cand.id_b
  WHERE len(list_intersect(sa.hs, sb.hs))::DOUBLE / len(list_distinct(sa.hs || sb.hs)) >= 0.5
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach AS (
  SELECT id, id AS label FROM nodes
  UNION
  SELECT e.b AS id, r.label FROM reach r JOIN edges e ON e.a = r.id
),
comp AS (SELECT id AS doc_id, min(label) AS component FROM reach GROUP BY id),
losers AS (SELECT doc_id FROM comp WHERE doc_id <> component)
SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d
LEFT JOIN losers l ON l.doc_id = d.doc_id
WHERE l.doc_id IS NULL
""",
    doc="Near-dup PURGE (operators/dedup.py:near_dup_purge) — the "
    "transform the detection family exists to feed: materialize the "
    "DEDUPLICATED corpus. Survivor rule: each connected component of "
    "the verified q21 pair graph keeps its smallest-id member (the "
    "q42 component label IS that id), every other member drops, and "
    "unclustered docs pass through — so q21 (pairs), q42 (clusters), "
    "and q152 (kept corpus) form the complete dedup pipeline and all "
    "three share the session pair cache (the candidate build runs "
    "once). Plan: components bounded by cluster diameter, a "
    "corpus-SUBLINEAR loser id list (cluster members only), then ONE "
    "left-anti join — the corpus is scanned once and never shuffled "
    "on a text column; the loser side broadcasts when it fits, AQE "
    "falls back to a shuffle anti-join when it doesn't. Keep-min is "
    "deterministic, so reruns are idempotent. The oracle extends "
    "q42's recursive-CTE components with the same anti-join, so the "
    "hash certifies survivor selection end to end. Reference "
    "counterpart: none (north-star extension).",
    tags=("dedup", "llm", "transform"),
)
def q152(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import near_dup_purge

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    kept = near_dup_purge(docs, pairs)
    return kept.select(
        "doc_id", "lang", "source", F.col("n_chars").cast("bigint").alias("n_chars")
    )


# ---------------------------------------------------------------------------
# q153 — INCREMENTAL near-dup purge: delta-batch admission vs the corpus
# ---------------------------------------------------------------------------
@L.add(
    "q153_incremental_purge",
    oracle=f"""
WITH RECURSIVE
{_SQL_MINHASH_CAND},
pairs AS (
  SELECT id_a, id_b
  FROM cand
  JOIN hsets sa ON sa.doc_id = cand.id_a
  JOIN hsets sb ON sb.doc_id = cand.id_b
  WHERE len(list_intersect(sa.hs, sb.hs))::DOUBLE / len(list_distinct(sa.hs || sb.hs)) >= 0.5
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach AS (
  SELECT id, id AS label FROM nodes
  UNION
  SELECT e.b AS id, r.label FROM reach r JOIN edges e ON e.a = r.id
),
comp AS (SELECT id AS doc_id, min(label) AS component FROM reach GROUP BY id),
losers AS (SELECT doc_id FROM comp WHERE doc_id <> component)
SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d
LEFT JOIN losers l ON l.doc_id = d.doc_id
WHERE l.doc_id IS NULL
  AND d.doc_id * 7 > 6 * (SELECT max(doc_id) FROM documents)
""",
    doc="Incremental near-dup purge (operators/dedup.py:"
    "incremental_near_dup_purge) — per-increment dedup ADMISSION: the "
    "top-1/7th of the id range plays the new crawl batch, everything "
    "below the cutoff the existing corpus, and the spec decides which "
    "delta docs enter. The id-CUTOFF split (not a modulus) is load- "
    "bearing: the operator's fate-equivalence theorem REQUIRES "
    "monotone ids (every base id < every delta id — the natural crawl "
    "shape) or a deduplicated base; with interleaved ids a delta doc "
    "linked to a mid-sized base doc that base-base edges connect to a "
    "smaller id is kept incrementally but dropped offline, so a "
    "modulus split would pass only by data coincidence. The engine "
    "runs the incremental path end to end: q144's delta-only banding "
    "against the band index (per-increment cost O(|delta| x bands) "
    "probes, the base corpus is never re-paired), components over the "
    "delta-touching pair set, keep-min anti-join of the DELTA only. "
    "The ORACLE deliberately computes the opposite construction — the "
    "FULL-graph purge (q152's recursive-CTE chain over the whole "
    "corpus) restricted to the delta — so the hash-match certifies the "
    "theorem under its stated premise, by construction rather than by "
    "luck (component labels may differ across base-base paths; delta "
    "fates cannot). Monotone ids also make admission stable: a new "
    "batch can never evict a base doc, so increments compose. With "
    "q21/q42/q144/q152 this closes the dedup lifecycle: detect, "
    "cluster, maintain incrementally, materialize, admit. "
    "Reference counterpart: none (north-star extension).",
    tags=("dedup", "llm", "incremental", "transform"),
)
def q153(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import incremental_near_dup_purge

    docs = _docs(spark, sf_dir)
    # scalar cutoff: tiny driver-side agg (q44's n_docs precedent) —
    # base = ids <= 6/7 of max, delta = the top stripe, so the
    # monotone-id premise holds by construction
    max_id = docs.agg(F.max("doc_id")).first()[0]
    base = docs.filter(F.col("doc_id") * 7 <= 6 * max_id)
    delta = docs.filter(F.col("doc_id") * 7 > 6 * max_id)
    kept = incremental_near_dup_purge(base, delta)
    return kept.select(
        "doc_id", "lang", "source", F.col("n_chars").cast("bigint").alias("n_chars")
    )


#: q154's persisted per-batch index artifacts, keyed by (session, input
#: plan): a list of (bands, hashes) frame pairs, all unpersisted when the
#: entry leaves (the ADVICE r11 leak: six persisted frames per invocation,
#: never unpersisted, bypassing every bounded cache). Entries are
#: increment-sized (bands rows + one hash array per doc); 2 because
#: diffcheck interleaves two sf_dirs in one session.
_Q154_ARTS = PlanCache(2)
#: unpersist and drop every cached q154 artifact set — the cold-path seam,
#: also called directly by the single-pass pytest, which measures the COLD
#: construction and must not see a warm hit from an earlier q154 run
clear_q154_artifacts = _Q154_ARTS.clear


def _q154_artifacts(spark, docs, batches):
    from ..operators.similarity import build_lsh_index

    try:
        key = (session_token(spark), docs.semanticHash())
    except Exception:
        key = None
    arts = _Q154_ARTS.get(key)
    if arts is not None:
        return arts
    arts = []
    for b in batches:
        bt, ht = build_lsh_index(b)
        arts.append((bt.persist(), ht.persist()))
    if key is None:
        # still TRACKED: an unkeyable input must not reopen the r11 leak
        # — the set just ages out with the rest
        return _Q154_ARTS.track(arts)
    return _Q154_ARTS.put(key, arts)



# ---------------------------------------------------------------------------
# q154 — MULTI-increment dedup: three crawl batches through a growing index
# ---------------------------------------------------------------------------
@L.add(
    "q154_multi_increment_dedup",
    oracle=f"""
WITH RECURSIVE
{_SQL_MINHASH_CAND},
pairs AS (
  SELECT id_a, id_b
  FROM cand
  JOIN hsets sa ON sa.doc_id = cand.id_a
  JOIN hsets sb ON sb.doc_id = cand.id_b
  WHERE len(list_intersect(sa.hs, sb.hs))::DOUBLE / len(list_distinct(sa.hs || sb.hs)) >= 0.5
),
eall AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
-- round 0: batch 0 dedups against itself
e0 AS (SELECT a, b FROM eall WHERE a % 3 = 0 AND b % 3 = 0),
n0 AS (SELECT DISTINCT a AS id FROM e0),
r0 AS (
  SELECT id, id AS label FROM n0
  UNION
  SELECT e.b AS id, r.label FROM r0 r JOIN e0 e ON e.a = r.id
),
c0 AS (SELECT id AS doc_id, min(label) AS component FROM r0 GROUP BY id),
l0 AS (SELECT doc_id FROM c0 WHERE doc_id <> component),
-- round 1: delta = %3=1, seen = %3 in (0,1); edges must touch the delta
e1 AS (
  SELECT a, b FROM eall
  WHERE a % 3 <= 1 AND b % 3 <= 1 AND (a % 3 = 1 OR b % 3 = 1)
),
n1 AS (SELECT DISTINCT a AS id FROM e1),
r1 AS (
  SELECT id, id AS label FROM n1
  UNION
  SELECT e.b AS id, r.label FROM r1 r JOIN e1 e ON e.a = r.id
),
c1 AS (SELECT id AS doc_id, min(label) AS component FROM r1 GROUP BY id),
l1 AS (SELECT doc_id FROM c1 WHERE doc_id <> component AND doc_id % 3 = 1),
-- round 2: delta = %3=2, seen = everything; edges must touch the delta
e2 AS (
  SELECT a, b FROM eall WHERE (a % 3 = 2 OR b % 3 = 2)
),
n2 AS (SELECT DISTINCT a AS id FROM e2),
r2 AS (
  SELECT id, id AS label FROM n2
  UNION
  SELECT e.b AS id, r.label FROM r2 r JOIN e2 e ON e.a = r.id
),
c2 AS (SELECT id AS doc_id, min(label) AS component FROM r2 GROUP BY id),
l2 AS (SELECT doc_id FROM c2 WHERE doc_id <> component AND doc_id % 3 = 2),
losers AS (
  SELECT doc_id FROM l0 UNION ALL SELECT doc_id FROM l1 UNION ALL SELECT doc_id FROM l2
)
SELECT d.doc_id, CAST(d.doc_id % 3 AS INT) AS batch, d.lang,
       CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d
LEFT JOIN losers l ON l.doc_id = d.doc_id
WHERE l.doc_id IS NULL
""",
    doc="Multi-increment dedup admission (three crawl batches, "
    "doc_id % 3, processed in order through a GROWING stored index) — "
    "the composition q153 certifies one round of: round 0 dedups the "
    "initial corpus against itself (near_dup_purge), rounds 1-2 run "
    "incremental_near_dup_purge against the band + hash-set index, "
    "and between rounds the index grows by exactly the delta's "
    "build_lsh_index artifacts unioned in — the production crawl loop "
    "end to end, including the rule that REJECTED docs stay indexed "
    "(a later near-dup of a rejected doc must still be rejected). "
    "Each batch is shingled EXACTLY ONCE: build_lsh_index runs once "
    "per batch, its artifacts are persisted (the in-memory stand-in "
    "for the parquet materialization q144 drives), and round-0 pairs "
    "(lsh_pairs_from_index), every admission probe "
    "(delta_bands/delta_hashes), and the index growth all derive from "
    "the same frames — at 100 TB the per-increment compute is one "
    "shingle+MinHash pass, not two "
    "(tests/test_llm_operators.py pins the single-pass property). "
    "Online admission is deliberately ORDER-DEPENDENT and differs "
    "from the global one-shot purge: a doc connected to a smaller id "
    "only through a FUTURE doc's edges is admitted online but dropped "
    "offline (the operator docstring proves where the q153 "
    "fate-equivalence stops applying) — so the oracle replays the "
    "SAME three rounds with three recursive-CTE component passes, "
    "each over edges touching that round's delta within its horizon. "
    "The hash-match therefore certifies the whole sequential "
    "semantics, not a single step. 100 TB: per-round cost is "
    "O(|delta| x bands) probes + a delta-sized anti-join; the index "
    "grows by bands-rows per doc per round and never rescans history. "
    "Reference counterpart: none (north-star extension).",
    tags=("dedup", "llm", "incremental", "transform"),
)
def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import near_dup_components_multi

    docs = _docs(spark, sf_dir)
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    # ONE shingle+MinHash pass per batch: each batch's stored-index
    # artifacts are built once, persisted (the in-memory stand-in for
    # the per-increment parquet write q144 drives; Spark's CacheManager
    # dedupes re-runs by canonicalized plan), and EVERYTHING derives
    # from them — round-0 pairs, every admission probe, and the index
    # growth. The artifacts are increment-sized (bands rows + one hash
    # array per doc), the same thing a production loop stores anyway.
    # The six persisted frames outlive the call (the returned lazy plan
    # reads them), so they go through a bounded LRU keyed by (session,
    # input plan) instead of leaking one set per invocation: a repeat
    # call reuses the set, a different sf_dir (diffcheck interleaves
    # two) evicts-and-unpersists the oldest beyond the cap.
    arts = _q154_artifacts(spark, docs, batches)
    # The three rounds' PAIR SETS all derive from the pre-built
    # artifacts — no round's edges depend on an earlier round's
    # component labels (admission only filters which DELTA docs are
    # kept; rejected docs stay indexed, so the index growth is the
    # unconditional artifact union either way). That independence is
    # what lets the whole replay fuse (r13; guide §2.4/§2.6 — the r12
    # verdict measured ~107 eager AQE jobs for the serialized form,
    # dominated by per-round action barriers over tiny frames):
    #
    # 1. ONE round-tagged candidate probe instead of three. A pair
    #    enters round i's incremental probe iff exactly one of its
    #    members is in delta_i and the other in a batch <= i, i.e.
    #    rnd(pair) = max(batch(id_a), batch(id_b)) — so the batch-
    #    tagged band self-join with `a.batch <= d.batch` emits every
    #    round's candidate set, tagged, in one join: the d-side row of
    #    a pair is its later member, whose batch IS the round. Round
    #    0's self-dedup candidates (old lsh_pairs_from_index, id_a <
    #    id_b) are the batch-0 x batch-0 cells of the same join —
    #    least/greatest + distinct emits each unordered pair once,
    #    identical to the id_a < id_b form. Per-round candidate sets
    #    are DISJOINT by the max() rule, exactly as the old per-round
    #    probes were (a pair probes only in its later member's round).
    # 2. ONE verify pass instead of three: a doc's 60-bit shingle-hash
    #    set is round-independent, so the tagged candidates verify
    #    against one union hash table (semi-joined to candidate ids
    #    first — the incremental_lsh_pairs rule: never cache an index
    #    table corpus-wide), with the same exact-Jaccard expression.
    # 3. ONE components fixpoint instead of three:
    #    near_dup_components_multi keys every operator by (rnd, id),
    #    so per round the labels are provably the single-graph
    #    fixpoint's (tests/test_llm_operators.py's multi-vs-single
    #    differential).
    #
    # At 100 TB the fused probe moves the same bytes as the three
    # sequential probes summed (each pair is still enumerated once,
    # from its later member's bands, against the same buckets) — what
    # it removes is the 3x chain of blocking driver actions, which is
    # pure serialization at any scale. Oracle unchanged and green at
    # sf0.01 + sf0.001 (the sequential recursive-CTE replay).
    bands_tagged = None
    hashes_all = None
    for b, (bt, ht) in enumerate(arts):
        t = bt.select(F.lit(b).alias("batch"), "id", "band", "band_key")
        bands_tagged = (
            t if bands_tagged is None else bands_tagged.unionByName(t)
        )
        hashes_all = ht if hashes_all is None else hashes_all.unionByName(ht)
    d, a = bands_tagged.alias("d"), bands_tagged.alias("a")
    cand = track_persist(
        d.join(
            a,
            (F.col("d.band") == F.col("a.band"))
            & (F.col("d.band_key") == F.col("a.band_key"))
            & (F.col("d.id") != F.col("a.id"))
            & (F.col("a.batch") <= F.col("d.batch")),
        )
        .select(
            F.col("d.batch").alias("rnd"),
            F.least("d.id", "a.id").alias("id_a"),
            F.greatest("d.id", "a.id").alias("id_b"),
        )
        .distinct()
        .persist()  # consumed 3x: the two cand_ids arms + the verify join
    )
    cand_ids = (
        cand.select(F.col("id_a").alias("_cid"))
        .unionByName(cand.select(F.col("id_b").alias("_cid")))
        .distinct()
    )
    sh = track_persist(
        hashes_all.join(
            cand_ids, F.col("id") == F.col("_cid"), "left_semi"
        ).persist()  # consumed 2x: the id_a and id_b verify sides
    )
    sa = sh.select(F.col("id").alias("ia"), F.col("hs").alias("hsa"))
    sb = sh.select(F.col("id").alias("ib"), F.col("hs").alias("hsb"))
    tagged = (
        cand.join(sa, F.col("id_a") == F.col("ia"))
        .join(sb, F.col("id_b") == F.col("ib"))
        .filter(
            (
                F.size(F.array_intersect("hsa", "hsb"))
                / F.size(F.array_union("hsa", "hsb"))
            )
            >= F.lit(0.5)
        )
        .select("rnd", "id_a", "id_b")
    )
    comp = near_dup_components_multi(tagged, tag_col="rnd")
    losers = comp.filter(F.col("doc_id") != F.col("component"))
    kept = None
    for i in range(3):
        # same anti-join per round as near_dup_purge /
        # incremental_near_dup_purge: batch i keeps its docs that are
        # not a loser of ROUND i's graph (the delta-restriction the old
        # per-round call sites got from anti-joining delta only)
        admitted = batches[i].join(
            losers.filter(F.col("rnd") == i).select("doc_id"),
            on="doc_id",
            how="left_anti",
        ).withColumn("batch", F.lit(i))
        kept = admitted if kept is None else kept.unionByName(admitted)
    return kept.select(
        "doc_id",
        F.col("batch").cast("int").alias("batch"),
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# q156 — near-dup purge driven ENTIRELY from the stored parquet index
# ---------------------------------------------------------------------------
@L.add(
    "q156_purge_from_stored_index",
    oracle=f"""
WITH RECURSIVE
{_SQL_MINHASH_CAND},
pairs AS (
  SELECT id_a, id_b
  FROM cand
  JOIN hsets sa ON sa.doc_id = cand.id_a
  JOIN hsets sb ON sb.doc_id = cand.id_b
  WHERE len(list_intersect(sa.hs, sb.hs))::DOUBLE / len(list_distinct(sa.hs || sb.hs)) >= 0.5
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach AS (
  SELECT id, id AS label FROM nodes
  UNION
  SELECT e.b AS id, r.label FROM reach r JOIN edges e ON e.a = r.id
),
comp AS (SELECT id AS doc_id, min(label) AS component FROM reach GROUP BY id),
losers AS (SELECT doc_id FROM comp WHERE doc_id <> component)
SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d
LEFT JOIN losers l ON l.doc_id = d.doc_id
WHERE l.doc_id IS NULL
""",
    doc="Near-dup purge driven ENTIRELY from the stored parquet index — "
    "the one-shot companion of q144's incremental seam, closing the "
    "storage story: build_lsh_index materializes the band + hash-set "
    "tables to parquet, the pair set derives from the READ-BACK "
    "artifacts alone (operators/similarity.py:lsh_pairs_from_index — "
    "no lineage to the corpus text, zero re-shingling), and "
    "near_dup_purge anti-joins the corpus against the component "
    "losers. Semantically identical to q152 (same oracle: the full "
    "recursive-CTE purge), so the hash-match certifies that the "
    "index-derived pair enumeration reproduces the in-plan "
    "minhash_lsh_pairs EXACTLY — the contract that lets a production "
    "pipeline pay one shingle+MinHash pass, store the artifacts, and "
    "run detection, purge, and every later increment (q144/q153/q154) "
    "off storage. 100 TB: the band self-join is bucket-local on the "
    "stored table, the verify joins touch candidate ids only, and the "
    "corpus is scanned once for the anti-join. "
    "Reference counterpart: none (north-star extension).",
    tags=("dedup", "lsh", "storage", "llm", "transform"),
)
def q156(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..operators.dedup import near_dup_purge
    from ..operators.similarity import build_lsh_index, lsh_pairs_from_index

    docs = _docs(spark, sf_dir)
    band_tbl, hash_tbl = build_lsh_index(docs)
    # per-call unique dir + exit-time cleanup (the q144 protocol: two
    # concurrent harness runs must never race an overwrite vs a read,
    # and the lazy read-back forbids an earlier delete)
    root = tempfile.mkdtemp(prefix="sg_q156_lsh_index_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    band_tbl.write.parquet(os.path.join(root, "bands"))
    hash_tbl.write.parquet(os.path.join(root, "hashes"))
    stored_bands = spark.read.parquet(os.path.join(root, "bands"))
    stored_hashes = spark.read.parquet(os.path.join(root, "hashes"))
    pairs = lsh_pairs_from_index(stored_bands, stored_hashes, threshold=0.5)
    kept = near_dup_purge(docs, pairs)
    return kept.select(
        "doc_id", "lang", "source", F.col("n_chars").cast("bigint").alias("n_chars")
    )


# ---------------------------------------------------------------------------
# q157 — incremental IVF index maintenance (stored codebook + lists)
# ---------------------------------------------------------------------------
@L.add(
    "q157_incremental_ivf",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cut AS (SELECT 6 * (max(vec_id) + 1) // 7 AS c FROM e),
cents AS (SELECT vec_id AS c_id, v AS cv FROM e, cut
          WHERE vec_id % 50 = 0 AND vec_id < 3200 AND vec_id < cut.c),
asg AS (
  SELECT vec_id, v, c_id FROM (
    SELECT e.vec_id, e.v, cents.c_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_dot_product(e.v, cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv, cv)))
             DESC, c_id) AS rn
    FROM e, cents
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
probe AS (
  SELECT q_id, qv, c_id FROM (
    SELECT q.q_id, q.qv, cents.c_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
             DESC, c_id) AS rn
    FROM q, cents
  ) WHERE rn <= 2
),
s AS (
  SELECT p.q_id, a.vec_id,
         list_dot_product(p.qv, a.v)
           / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v)))
           AS c
  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.vec_id <> p.q_id
),
r AS (
  SELECT q_id, vec_id, c,
         row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn
  FROM s
)
SELECT q_id, vec_id, round(c, 6) AS score FROM r WHERE rn <= 10
""",
    doc="Incremental IVF index maintenance — the embedding-side analog "
    "of q144's stored LSH seam: build_ivf_index derives the codebook "
    "from the BASE corpus (ids below the 6/7 cutoff — monotone crawl "
    "ids, so the codebook FREEZES exactly like a trained index) and "
    "materializes codebook + inverted lists to parquet; the increment "
    "assigns ONLY the delta against the READ-BACK codebook "
    "(assign_to_centroids — |delta| x |codebook| broadcast dots, the "
    "corpus is never re-assigned), unions the delta lists in, and "
    "serves queries via ivf_topk_from_index with NO assign pass. "
    "Because per-vector assignment is independent given a fixed "
    "codebook, the grown index is EXACTLY the full rebuild's — the "
    "oracle computes the full one-shot construction (q29's SQL chain "
    "with the codebook restricted below the cutoff), so the "
    "hash-match certifies incremental == rebuild, the contract an "
    "incrementally maintained ANN index must honor. 100 TB: the "
    "codebook broadcast is bounded (centroid_cap), per-increment cost "
    "is delta-sized, and serving joins on c_id so bucketed lists "
    "partition-prune. Reference counterpart: none (north-star "
    "extension).",
    tags=("vector", "ann", "incremental", "storage", "llm"),
)
def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..operators.similarity import (
        assign_to_centroids,
        build_ivf_index,
        ivf_topk_from_index,
        make_query_set,
    )

    emb = _emb(spark, sf_dir)
    # scalar cutoff (the q153 pattern): base = ids below 6/7 of the id
    # range, delta = the top stripe — monotone crawl ids freeze the
    # base-derived codebook
    max_id = emb.agg(F.max("vec_id")).first()[0]
    cut = 6 * (max_id + 1) // 7
    base = emb.filter(F.col("vec_id") < cut)
    delta = emb.filter(F.col("vec_id") >= cut)
    cents, asg = build_ivf_index(base, centroid_mod=50, centroid_cap=3200)
    root = tempfile.mkdtemp(prefix="sg_q157_ivf_index_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    cents.write.parquet(os.path.join(root, "cents"))
    asg.write.parquet(os.path.join(root, "asg"))
    stored_cents = spark.read.parquet(os.path.join(root, "cents"))
    stored_asg = spark.read.parquet(os.path.join(root, "asg"))
    delta_asg = assign_to_centroids(delta, stored_cents)
    merged = stored_asg.unionByName(delta_asg)
    qs = make_query_set(emb, F.col("vec_id") < 5)
    top = ivf_topk_from_index(emb, qs, stored_cents, merged, k=10, nprobe=2)
    return top.select("q_id", "vec_id", F.round("score", 6).alias("score"))


# ---------------------------------------------------------------------------
# q159 — drift-triggered IVF codebook rebuild (the retraining loop)
# ---------------------------------------------------------------------------
@L.add(
    "q159_drift_rebuild_ivf",
    oracle="""
WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cut AS (SELECT 6 * (max(vec_id) + 1) // 7 AS c FROM raw),
e AS (
  SELECT vec_id,
         CASE WHEN vec_id >= cut.c THEN list_transform(v, x -> x + 0.5)
              ELSE v END AS v
  FROM raw, cut
),
cents AS (SELECT vec_id AS c_id, v AS cv FROM e
          WHERE vec_id % 50 = 0 AND vec_id < 3200),
asg AS (
  SELECT vec_id, v, c_id FROM (
    SELECT e.vec_id, e.v, cents.c_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_dot_product(e.v, cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv, cv)))
             DESC, c_id) AS rn
    FROM e, cents
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
probe AS (
  SELECT q_id, qv, c_id FROM (
    SELECT q.q_id, q.qv, cents.c_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
             DESC, c_id) AS rn
    FROM q, cents
  ) WHERE rn <= 2
),
s AS (
  SELECT p.q_id, a.vec_id,
         list_dot_product(p.qv, a.v)
           / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v)))
           AS c
  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.vec_id <> p.q_id
),
r AS (
  SELECT q_id, vec_id, c,
         row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn
  FROM s
)
SELECT q_id, vec_id, round(c, 6) AS score FROM r WHERE rn <= 10
""",
    doc="Drift-triggered IVF codebook REBUILD — the retraining loop "
    "that turns two isolated capabilities into the maintenance cycle "
    "a production embedding index actually runs (the r11 verdict's "
    "#6): q157 certifies that increments under a FROZEN codebook are "
    "exactly the rebuild, and q126's centroid statistic is the drift "
    "monitor — q159 closes the loop. The arriving increment is a "
    "DRIFTED source (a new encoder version shifting every component "
    "by +0.5 — deterministic, so the oracle replays it); "
    "operators/clustering.py:centroid_drift scores the shift between "
    "the codebook's training stripe and the increment at 4.0 RMS-norm "
    "units vs <=0.13 for the same-distribution negative control (both "
    "asserted loudly: a monitor that trips on no drift, or fails to "
    "trip on the staged drift, RAISES instead of silently serving the "
    "wrong branch), so the 1.0 threshold — the pipeline's retraining "
    "contract — decides: retire the v1 index, rebuild the codebook "
    "below the NEW cutoff (build_ivf_index over the full corpus, "
    "parquet round-trip), and re-serve via ivf_topk_from_index with "
    "no assign pass. The not-taken branch is the real q157 increment "
    "path (assign delta to the stored v1 codebook, union the lists). "
    "ORACLE = the one-shot construction at the final cutoff (q157's "
    "SQL chain with the codebook unrestricted and the CASE-shifted "
    "corpus): a hash-match certifies the rebuild branch ran with the "
    "corpus-wide codebook — serving from the stale v1 codebook "
    "produces different lists and different scores. 100 TB: the "
    "monitor is two dims-sized aggregates + a 1-row reduce (mergeable "
    "partials, q126's fold); the rebuild is the q29/q157 bounded-"
    "codebook broadcast chain; nothing collects beyond one scalar per "
    "side. Reference counterpart: none (north-star extension).",
    tags=("vector", "ann", "incremental", "monitoring", "llm"),
)
def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..operators.clustering import centroid_drift_many
    from ..operators.similarity import (
        build_ivf_index,
        ivf_topk_from_index,
        make_query_set,
    )

    emb = _emb(spark, sf_dir)
    max_id = emb.agg(F.max("vec_id")).first()[0]
    cut = 6 * (max_id + 1) // 7
    # the arriving increment comes from a drifted encoder: +0.5 on every
    # component (monotone crawl ids keep the stripe shape of q153/q157)
    shifted = F.transform(
        F.col("embedding").cast("array<double>"), lambda x: x + F.lit(0.5)
    )
    corpus = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") >= cut, shifted).otherwise(
            F.col("embedding").cast("array<double>")
        ),
    )
    base = corpus.filter(F.col("vec_id") < cut)
    delta = corpus.filter(F.col("vec_id") >= cut)

    # v1: the stored index the pipeline has been serving (q157's build)
    root = tempfile.mkdtemp(prefix="sg_q159_ivf_drift_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    cents1, asg1 = build_ivf_index(base, centroid_mod=50, centroid_cap=3200)
    cents1.write.parquet(os.path.join(root, "cents_v1"))
    asg1.write.parquet(os.path.join(root, "asg_v1"))

    # the drift monitor gates the increment. Both decisions are asserted
    # loudly: the same-distribution control must NOT trip and the staged
    # drift MUST — a silently flipped branch would still hash-mismatch
    # (stale codebook -> different lists), but the raise names the cause.
    threshold = 1.0
    # one base fold scores both sides (centroid_drift_many): the base
    # stripe is 6/7 of the corpus, so re-folding it per score would
    # double the monitor's dominant cost
    control, drift = centroid_drift_many(
        base, [emb.filter(F.col("vec_id") >= cut), delta]
    )
    if control >= threshold:
        raise RuntimeError(
            f"q159: drift monitor tripped on the same-distribution "
            f"control ({control:.3f} >= {threshold}) — monitor broken "
            f"or generator changed"
        )
    if drift < threshold:
        # below threshold the pipeline would take the q157 frozen-
        # codebook path — read cents_v1/asg_v1 back and union in
        # assign_to_centroids(delta, v1 codebook) — but on this staged
        # data a no-trip means the monitor or the generator broke, so
        # fail loudly instead of silently serving the wrong branch
        raise RuntimeError(
            f"q159: staged +0.5 encoder drift did not trip the monitor "
            f"({drift:.3f} < {threshold}) — monitor broken or generator "
            f"changed"
        )
    # retrain: rebuild the codebook below the NEW cutoff (whole corpus),
    # round-trip the v2 artifacts, retire v1, serve with no assign pass
    cents2, asg2 = build_ivf_index(corpus, centroid_mod=50, centroid_cap=3200)
    cents2.write.parquet(os.path.join(root, "cents_v2"))
    asg2.write.parquet(os.path.join(root, "asg_v2"))
    serve_cents = spark.read.parquet(os.path.join(root, "cents_v2"))
    serve_asg = spark.read.parquet(os.path.join(root, "asg_v2"))

    qs = make_query_set(corpus, F.col("vec_id") < 5)
    top = ivf_topk_from_index(corpus, qs, serve_cents, serve_asg, k=10, nprobe=2)
    return top.select("q_id", "vec_id", F.round("score", 6).alias("score"))


# ---------------------------------------------------------------------------
# q44 — TF-IDF keyword extraction (top term per document)
# ---------------------------------------------------------------------------
@L.add(
    "q44_tfidf_keywords",
    oracle="""
WITH t AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS tfidf
  FROM tf CROSS JOIN n JOIN df ON tf.term = df.term
),
r AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term, round(tfidf, 6) AS tfidf FROM r WHERE rn = 1
""",
    doc="TF-IDF keyword extraction: term frequency per doc x smoothed "
    "inverse document frequency, top term per doc. Two aggregations share "
    "the exploded-term shuffle; the df table is vocabulary-sized and "
    "broadcast into the scoring join — at 100 TB the vocabulary is still "
    "tiny relative to the corpus, so the plan shape holds.",
    tags=("textstats", "llm"),
)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import tokens

    d = _docs(spark, sf_dir)
    n_docs = d.count()  # scalar; plan-stable (driver-side count of a tiny dim)
    terms = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0))).alias("tfidf"),
    )
    # per-doc argmax as a MIN_BY hash aggregate over (-tfidf, term) —
    # identical row to row_number orderBy(desc tfidf, asc term) (the
    # negation flips the sort direction; the term tie-break keeps the
    # order total), and the per-doc term table collapses map-side
    # instead of shuffling into a corpus-wide per-doc sort
    return (
        scored.groupBy("doc_id")
        .agg(
            F.min_by(
                F.struct("term", "tfidf"),
                F.struct(-F.col("tfidf"), F.col("term")),
            ).alias("w")
        )
        .select(
            "doc_id",
            F.col("w.term").alias("term"),
            F.round("w.tfidf", 6).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# q45 — approx percentiles (the one-pass scale path of q38)
# ---------------------------------------------------------------------------
@L.add(
    "q45_approx_percentiles",
    # Approximate sketch values are engine-specific, so the oracle checks
    # the RANK-ERROR CONTRACT instead: with accuracy=1000 the returned
    # element's rank is within 1/1000 of the target quantile, so it must
    # lie inside the exact value band at quantile +/- 0.05 (a 50x margin).
    # The exact p50 rides along so the hash still pins real values.
    oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS exact_p50,
       true AS p50_in_band,
       true AS p90_in_band,
       true AS p99_in_band
FROM events
GROUP BY event_type
""",
    doc="approx_percentile (t-digest): mergeable, single-pass, map-side "
    "combinable — the percentile you can actually run at 100 TB; the "
    "exact q38 twin requires a per-group sort. Checked as rank-band "
    "tolerance flags (approx value inside exact [q-0.05, q+0.05] band) "
    "plus the exact p50.",
    tags=("agg", "percentile", "approx"),
)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    g = events.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 1000)").alias("_a50"),
        F.expr("approx_percentile(value, 0.9, 1000)").alias("_a90"),
        F.expr("approx_percentile(value, 0.99, 1000)").alias("_a99"),
        F.expr("percentile(value, 0.45)").alias("_lo50"),
        F.expr("percentile(value, 0.55)").alias("_hi50"),
        F.expr("percentile(value, 0.85)").alias("_lo90"),
        F.expr("percentile(value, 0.95)").alias("_hi90"),
        F.expr("percentile(value, 0.94)").alias("_lo99"),
        F.max("value").alias("_hi99"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("exact_p50"),
    )
    return g.select(
        "event_type",
        "exact_p50",
        F.col("_a50").between(F.col("_lo50"), F.col("_hi50")).alias("p50_in_band"),
        F.col("_a90").between(F.col("_lo90"), F.col("_hi90")).alias("p90_in_band"),
        F.col("_a99").between(F.col("_lo99"), F.col("_hi99")).alias("p99_in_band"),
    )


# ---------------------------------------------------------------------------
# q46 — edit-distance near-dup pairs (LSH candidates + levenshtein verify)
# ---------------------------------------------------------------------------
@L.add(
    "q46_edit_distance_pairs",
    oracle=f"""
WITH {_SQL_MINHASH_CAND}
SELECT id_a, id_b, levenshtein(da.text, db.text)::BIGINT AS edit_distance
FROM cand
JOIN documents da ON da.doc_id = cand.id_a
JOIN documents db ON db.doc_id = cand.id_b
WHERE levenshtein(da.text, db.text) <= 60
""",
    doc="Edit-distance near-dup join (operators/similarity.py:"
    "edit_distance_pairs): LSH-pruned candidates verified by levenshtein "
    "<= 60 on raw text — catches small in-place edits. O(len^2) per pair "
    "is affordable only because candidates, never all-pairs, are scored.",
    tags=("dedup", "lsh", "llm"),
)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import edit_distance_pairs

    return edit_distance_pairs(_docs(spark, sf_dir), max_distance=60)


# ---------------------------------------------------------------------------
# q47 — reproducible stratified sampling (exact hash-ordered take)
# ---------------------------------------------------------------------------
@L.add(
    "q47_stratified_sample",
    oracle="""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
) WHERE rn <= ceil(0.1 * n)
""",
    doc="Exact stratified 10%% sample per language by md5-hash order — "
    "fully reproducible across engines and runs (unlike seeded "
    "sampleBy, whose output depends on partitioning). The hash ordering "
    "is an unbiased shuffle; ceil guarantees every stratum is "
    "represented. One window pass per stratum — a single shuffle.",
    tags=("sampling", "llm"),
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    wc = Window.partitionBy("lang")
    return (
        d.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        .filter(F.col("rn") <= F.ceil(0.1 * F.col("n")))
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# q48 — k-means clustering summary (iterative ML shape; rows-only)
# ---------------------------------------------------------------------------
@L.add(
    "q48_kmeans_clusters",
    # Lloyd's means depend on float summation order, so per-cluster values
    # are not cross-engine-checkable; the oracle instead pins the
    # algorithm's INVARIANTS, all deterministic: every vector is assigned
    # exactly once (n_points == table count), the seed count is a pure
    # function of the data (vec_id % 50 == 0), clusters never exceed
    # seeds, and inertia is non-negative. The numpy differential test in
    # tests/test_clustering.py is the strong value-level check.
    oracle="""
SELECT count(*) AS n_points,
       (SELECT count(*) FROM embeddings WHERE vec_id % 50 = 0) AS k_seeds,
       true AS clusters_le_seeds,
       true AS inertia_nonneg
FROM embeddings
""",
    doc="Distributed Lloyd's k-means over embeddings (operators/"
    "clustering.py): 3 rounds, id-picked seeds, model-on-driver / "
    "data-on-executors — the iterative-ML execution shape. Checked via "
    "deterministic invariants (total assignment, seed count, cluster "
    "bound, inertia sign).",
    tags=("vector", "clustering", "ml", "llm"),
)
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import embedding_kmeans, kmeans_summary

    emb = _emb(spark, sf_dir)
    summary = kmeans_summary(embedding_kmeans(emb))
    stats = summary.agg(
        F.sum("size").alias("n_points"),
        F.count(F.lit(1)).alias("_k_found"),
        F.min("inertia").alias("_min_inertia"),
    )
    seeds = emb.filter(F.col("vec_id") % 50 == 0).agg(
        F.count(F.lit(1)).alias("k_seeds")
    )
    return stats.crossJoin(seeds).select(
        "n_points",
        "k_seeds",
        (F.col("_k_found") <= F.col("k_seeds")).alias("clusters_le_seeds"),
        (F.col("_min_inertia") >= 0).alias("inertia_nonneg"),
    )


# ---------------------------------------------------------------------------
# q33 — all-vector nearest neighbor (embedding-dedup candidates)
# ---------------------------------------------------------------------------
@L.add(
    "q33_embedding_nn",
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
)
SELECT vec_id, nn_id, round(c, 6) AS score FROM r WHERE rn = 1
""",
    doc="Embedding-cosine near-dup candidates: exact nearest neighbor for "
    "every vector (operators/similarity.py:all_pairs_nn). Correctness "
    "baseline for embedding dedup; the 100 TB path swaps in ivf_topk with "
    "queries = all vectors.",
    tags=("vector", "dedup", "llm"),
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    nn = all_pairs_nn(_emb(spark, sf_dir))
    return nn.select("vec_id", "nn_id", F.round("score", 6).alias("score"))


# ---------------------------------------------------------------------------
# q52 — embedding-cosine dedup (keep-lowest-id survivors)
# ---------------------------------------------------------------------------
@L.add(
    "q52_embedding_dedup",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT e.vec_id FROM e
WHERE NOT EXISTS (
  SELECT 1 FROM e o
  WHERE o.vec_id < e.vec_id
    AND list_dot_product(o.v, e.v)
          / (sqrt(list_dot_product(o.v, o.v)) * sqrt(list_dot_product(e.v, e.v))) >= 0.45
)
""",
    doc="Embedding-cosine NEAR-DUP DEDUP: drop every vector that has a "
    "lower-id vector at cosine >= 0.45; survivors keep the smallest id "
    "per near-dup neighborhood (operators/similarity.py:"
    "cosine_threshold_pairs + anti-join). Threshold chosen off any "
    "pair's value by >= 5e-4 on this corpus, so the cross-engine "
    "float-fold ulp (~1e-12) cannot flip a comparison. Scale: block "
    "matmul emits only above-threshold pairs (each from exactly one "
    "cell); the anti-join shuffles ids only.",
    tags=("vector", "dedup", "llm"),
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    dropped = cosine_threshold_pairs(emb, threshold=0.45).select(
        F.col("id_b").alias("vec_id")
    )
    return emb.select("vec_id").join(dropped, "vec_id", "left_anti")


# ---------------------------------------------------------------------------
# q68 — unigram language-model scoring (corpus-frequency log-probability)
# ---------------------------------------------------------------------------
@L.add(
    "q68_unigram_logprob",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT sum(n) AS s FROM freq)
SELECT t.doc_id,
       count(*)                             AS n_tokens,
       round(avg(ln(f.n / tot.s)), 6)       AS avg_logprob
FROM toks t JOIN freq f ON t.tok = f.tok CROSS JOIN tot
GROUP BY t.doc_id
""",
    doc="Unigram LM quality score: every document scored by the mean "
    "log-probability of its tokens under the corpus's own unigram "
    "distribution — the cheap fluency/outlier filter that sits in front "
    "of expensive perplexity models in training-data pipelines (gibberish "
    "and boilerplate score far from the bulk). Two-pass shape: "
    "explode->groupBy(token) builds the frequency table (vocab-sized, "
    "|V| << corpus at 100 TB), the token-keyed join back re-uses that "
    "hash partitioning, and the final groupBy(doc_id) is the only "
    "full-width shuffle. The vocab table broadcasts when small; at "
    "web-corpus vocab sizes the equi-join on token is still skew-safe "
    "because AQE splits the stop-word hubs.",
    tags=("textstats", "quality", "llm"),
)
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    # corpus total as an unpartitioned window over the VOCAB-sized freq
    # table (bounded rows through one reducer), not a separate aggregate
    # of a third documents scan — keeps the plan at the inherent two
    # passes over text (frequency build + score join)
    freq = freq.withColumn("s", F.sum("n").over(Window.partitionBy()))
    scored = (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("n") / F.col("s"))), 6).alias("avg_logprob"),
        )
    )
    return scored


# ---------------------------------------------------------------------------
# q81 — SRP-LSH (hyperplane) approximate cosine top-k
# ---------------------------------------------------------------------------
def _srp_oracle() -> str:
    """DuckDB oracle generated from the SAME srp_masks() the Spark
    operator uses — hyperplanes bit-identical by construction, and all
    bucket math is fixed-point integer, so the candidate sets (not just
    the scores) are differential-checked."""
    from ..operators.similarity import (
        SRP_BANDS,
        SRP_PLANES,
        SRP_QUANT,
        srp_masks,
    )

    masks = srp_masks(SRP_PLANES, 64)
    per_band = SRP_PLANES // SRP_BANDS
    values = ",\n           ".join(
        f"({j}, {masks[j]})" for j in range(SRP_PLANES)
    )
    return f"""
WITH qz AS (
  SELECT vec_id,
         list_transform(embedding, v -> round(v::DOUBLE * {SRP_QUANT})::BIGINT) AS qv
  FROM embeddings
),
masks(j, m) AS (
  VALUES {values}
),
bits AS (
  SELECT qz.vec_id, masks.j,
         CASE WHEN list_sum(list_transform(generate_series(1, 64),
                                           i -> qz.qv[i] * masks.m[i])) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM qz CROSS JOIN masks
),
codes AS (
  SELECT vec_id, j // {per_band} AS band_idx,
         sum(bit << (j % {per_band}))::BIGINT AS code
  FROM bits GROUP BY vec_id, band_idx
),
cand AS (
  SELECT DISTINCT qs.vec_id AS q_id, o.vec_id
  FROM codes qs JOIN codes o
    ON qs.band_idx = o.band_idx AND qs.code = o.code
  WHERE qs.vec_id < 5 AND o.vec_id <> qs.vec_id
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT c.q_id, c.vec_id,
         list_dot_product(eq.v, ev.v)
           / (sqrt(list_dot_product(eq.v, eq.v))
              * sqrt(list_dot_product(ev.v, ev.v))) AS cs
  FROM cand c
  JOIN e eq ON eq.vec_id = c.q_id
  JOIN e ev ON ev.vec_id = c.vec_id
),
r AS (
  SELECT q_id, vec_id, cs,
         row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id) AS rn
  FROM s
)
SELECT q_id, vec_id, round(cs, 6) AS score FROM r WHERE rn <= 10
"""


@L.add(
    "q81_srp_lsh_topk",
    oracle=_srp_oracle(),
    doc="Signed-random-projection (hyperplane) LSH top-k — the fourth ANN "
    "family beside brute force (q22, exact baseline), IVF (q29, coarse "
    "quantization) and SimHash (q28, text): 24 sign bits per vector from "
    "deterministic ±1 hyperplanes, banded into 4 six-bit codes so any "
    "shared band code "
    "makes a candidate, then exact-cosine verify + top-10 per query "
    "(operators/similarity.py:srp_lsh_topk). Fixed-point integer dot "
    "products make bucket assignment bit-exact across engines, so the "
    "oracle checks the LSH banding itself. The only shuffle is the "
    "(band, code)-keyed candidate join with expected bucket size "
    "n / 2^6 — never all-pairs.",
    tags=("vector", "lsh", "ann", "llm"),
)
def q81(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import srp_lsh_topk

    emb = _emb(spark, sf_dir)
    top = srp_lsh_topk(emb, F.col("vec_id") < 5, k=10)
    return top.select("q_id", "vec_id", F.round("score", 6).alias("score"))


# ---------------------------------------------------------------------------
# q117 — BM25 keyword relevance top-k (search over the corpus)
# ---------------------------------------------------------------------------
#: fixed keyword query: one rare, discriminative term ("dup", df ~5% of
#: docs) and two common ones — BM25's idf weighting must dominate tf
BM25_TERMS = ("dup", "spark", "vector")


@L.add(
    "q117_bm25_topk",
    oracle="""
WITH q(term) AS (VALUES ('dup'), ('spark'), ('vector')),
d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents
),
l AS (SELECT doc_id, len(tk)::BIGINT AS dl FROM d),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM l),
t AS (SELECT doc_id, unnest(tk) AS term FROM d),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM t JOIN q USING (term) GROUP BY 1, 2
),
idf AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT tf.doc_id, tf.term,
         (ln((stats.n_docs - idf.df + 0.5) / (idf.df + 0.5) + 1.0)
          * (tf.tf * 2.2))
           / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / stats.avgdl)) AS contrib
  FROM tf
  CROSS JOIN stats
  JOIN idf USING (term)
  JOIN l USING (doc_id)
)
SELECT doc_id,
       round(list_reduce(list(contrib ORDER BY term), (a, b) -> a + b), 6)
         AS score,
       count(*)::BIGINT AS n_terms
FROM contrib
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 20
""",
    doc="BM25 keyword search, Okapi form (k1=1.2, b=0.75): top-20 "
    "documents for a fixed 3-term query mixing one rare term with two "
    "common ones, so the idf weighting is what the hash checks. "
    "Cross-engine exactness is BY CONSTRUCTION, not luck: per-(doc, "
    "term) contributions are identical double-precision expression "
    "trees in both engines (same literals, same parenthesization; dl, "
    "tf, df, N are exact integers and avgdl an exact-sum mean), and "
    "the per-doc score folds those contributions in SORTED term order "
    "— Spark `aggregate(array_sort(collect_list(struct(term, "
    "contrib))), 0.0d, acc + x)` vs DuckDB `list_reduce(list(contrib "
    "ORDER BY term))` — a left fold over the same values in the same "
    "order (0.0 + x == x exactly for the positive contributions), so "
    "the sums are bit-identical and round(,6) + the rounded-score sort "
    "is belt-and-braces. Scale shape: ONE corpus scan feeds the "
    "(doc_id, term)-keyed tf shuffle with the query-term filter pushed "
    "below the explode (rows fan out only for matched terms, ~|Q| per "
    "doc max); doc lengths ride the same projection (no lengths join); "
    "df is a |Q|-row broadcast; the corpus stats are a 1-row broadcast "
    "(whitelisted BNLJ, the q50/q107 scalar idiom); top-20 is "
    "TakeOrderedAndProject. A second lightweight scan computes N/avgdl "
    "over ALL docs (zero-match docs must count); at 100 TB that pass "
    "reads one array-length column and in production comes from the "
    "corpus-stats table the pipeline already maintains. Reference "
    "counterpart: none (north-star extension — the retrieval half of "
    "an LLM data pipeline's search tier).",
    tags=("search", "bm25", "text", "llm"),
)
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    docs = _docs(spark, sf_dir)
    tk = docs.select("doc_id", tokens(F.col("text")).alias("tk"))
    lens = tk.select("doc_id", F.size("tk").cast("long").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    exploded = tk.select(
        "doc_id",
        F.size("tk").cast("long").alias("dl"),
        F.explode("tk").alias("term"),
    ).filter(F.col("term").isin(*BM25_TERMS))
    tf = exploded.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.crossJoin(F.broadcast(stats))
        .join(F.broadcast(idf), "term")
        .select(
            "doc_id",
            "term",
            (
                (
                    F.log(
                        (F.col("n_docs") - F.col("df") + F.lit(0.5))
                        / (F.col("df") + F.lit(0.5))
                        + F.lit(1.0)
                    )
                    * (F.col("tf") * F.lit(2.2))
                )
                / (
                    F.col("tf")
                    + F.lit(1.2)
                    * (
                        F.lit(0.25)
                        + F.lit(0.75) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("contrib"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.round(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("term"), F.col("contrib")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            ),
            6,
        ).alias("score"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(20)


# ---------------------------------------------------------------------------
# q118 — SemDeDup-style within-cluster embedding prune list
# ---------------------------------------------------------------------------
@L.add(
    "q118_semantic_dedup",
    oracle="""
WITH e AS (
  SELECT label AS cluster, vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
r AS (SELECT cluster, min(vec_id) AS rep_id FROM e GROUP BY cluster),
rv AS (
  SELECT r.cluster, r.rep_id, e.v AS rvec
  FROM r JOIN e ON e.vec_id = r.rep_id
),
c AS (
  SELECT e.cluster, e.vec_id, rv.rep_id,
         round(
           list_dot_product(e.v, rv.rvec)
             / (sqrt(list_dot_product(e.v, e.v))
                * sqrt(list_dot_product(rv.rvec, rv.rvec))),
           6) AS score
  FROM e JOIN rv USING (cluster)
  WHERE e.vec_id <> rv.rep_id
)
SELECT cluster, vec_id, rep_id, score FROM c WHERE score > 0.15
""",
    doc="SemDeDup-style semantic dedup (operators/dedup.py:"
    "semantic_dedup): within each cluster, every member is scored by "
    "cosine against the cluster's deterministic representative (lowest "
    "id) and the PRUNE LIST — members above the similarity threshold — "
    "is returned, ready to anti-join against the corpus. The synthetic "
    "labels are weak clusters (within-cluster cosines top out ~0.33), "
    "so the spec's threshold 0.15 selects the top-redundancy tail; on "
    "a real near-dup-heavy corpus the same operator runs at ~0.9+ with "
    "k-means assignments (embedding_kmeans) as the cluster column. "
    "Exactness by construction: float->double cast once, dot products "
    "are identical left folds in both engines (the q33 construction), "
    "and the threshold compares the ROUNDED score so the cutoff "
    "cannot straddle a sub-ULP divergence. Scale: one partial-combined "
    "shuffle to O(clusters) representatives, which broadcast back — "
    "the scoring pass is map-side JVM only, no second shuffle, output "
    "bounded by true redundancy. Reference counterpart: none "
    "(north-star extension).",
    tags=("vector", "dedup", "semdedup", "llm"),
)
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import semantic_dedup

    return semantic_dedup(_emb(spark, sf_dir), threshold=0.15)


#: (query id, term) rows for the batch-retrieval spec — three queries
#: sharing one term ('vector') so the per-query df/tf isolation is what
#: the hash checks.
BM25_BATCH_QUERIES = (
    (1, "dup"),
    (1, "vector"),
    (2, "spark"),
    (2, "stream"),
    (3, "vector"),
    (3, "window"),
)


# ---------------------------------------------------------------------------
# q130 — batch BM25 retrieval: top-k per query over a query TABLE
# ---------------------------------------------------------------------------
@L.add(
    "q130_bm25_batch_topk",
    oracle="""
WITH q(qid, term) AS (
  VALUES (1, 'dup'), (1, 'vector'), (2, 'spark'), (2, 'stream'),
         (3, 'vector'), (3, 'window')
),
d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents
),
l AS (SELECT doc_id, len(tk)::BIGINT AS dl FROM d),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM l),
t AS (SELECT doc_id, unnest(tk) AS term FROM d),
tf AS (
  SELECT q.qid, t.doc_id, t.term, count(*)::BIGINT AS tf
  FROM t JOIN q USING (term) GROUP BY 1, 2, 3
),
idf AS (SELECT qid, term, count(*)::BIGINT AS df FROM tf GROUP BY 1, 2),
contrib AS (
  SELECT tf.qid, tf.doc_id, tf.term,
         (ln((stats.n_docs - idf.df + 0.5) / (idf.df + 0.5) + 1.0)
          * (tf.tf * 2.2))
           / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / stats.avgdl)) AS contrib
  FROM tf
  CROSS JOIN stats
  JOIN idf USING (qid, term)
  JOIN l USING (doc_id)
),
scored AS (
  SELECT qid, doc_id,
         round(list_reduce(list(contrib ORDER BY term), (a, b) -> a + b), 6)
           AS score,
         count(*)::BIGINT AS n_terms
  FROM contrib
  GROUP BY qid, doc_id
),
ranked AS (
  SELECT qid, doc_id, score, n_terms,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
           AS rnk
  FROM scored
)
SELECT qid, doc_id, score, n_terms, rnk
FROM ranked WHERE rnk <= 5
ORDER BY qid, rnk
""",
    doc="Batch BM25 retrieval — q117's scorer driven by a query TABLE "
    "instead of one literal query: top-5 documents per query for three "
    "2-term queries that SHARE a term ('vector' appears in q1 and q3), "
    "so per-query tf/df isolation through the (qid, term) join is what "
    "the hash checks. Same exactness-by-construction as q117 (identical "
    "double expression trees; per-(qid, doc) score folded in sorted "
    "term order on both engines), plus the per-query top-k as a rank "
    "window PARTITIONED BY qid — the batch-retrieval shape an offline "
    "eval harness runs over thousands of queries at once. Scale: the "
    "query-term table joins INTO the exploded token stream (|Q|-row "
    "broadcast — rows fan out only per matching (query, term)); one "
    "(qid, doc, term) shuffle; the rank window shuffles O(matched "
    "docs) per query, never the corpus. Reference counterpart: none "
    "(north-star extension).",
    tags=("search", "bm25", "window", "llm"),
)
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_batch_ranked(spark, sf_dir, BM25_BATCH_QUERIES, k=5).orderBy(
        "qid", "rnk"
    )


def _bm25_batch_ranked(
    spark: SparkSession,
    sf_dir: str,
    queries: tuple[tuple[int, str], ...],
    k: int,
) -> DataFrame:
    """q130's batch BM25 scorer as a reusable leg: (qid, doc_id, score,
    n_terms, rnk) for the top-``k`` docs per query. q137's hybrid-RRF
    spec reuses it at k=20 as the lexical leg — one definition, one
    oracle-mirrored expression tree."""
    from pyspark.sql import Window

    from ..functions.text import tokens

    docs = _docs(spark, sf_dir)
    q = spark.createDataFrame(list(queries), "qid int, term string")
    tk = docs.select("doc_id", tokens(F.col("text")).alias("tk"))
    lens = tk.select("doc_id", F.size("tk").cast("long").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    exploded = tk.select(
        "doc_id",
        F.size("tk").cast("long").alias("dl"),
        F.explode("tk").alias("term"),
    )
    # tf is consumed twice (idf aggregation + the contrib join below);
    # without the persist the full tokenize → explode → broadcast-join
    # corpus pass appears TWICE in the physical plan — Spark does no
    # common-subplan elimination across branches (guide §5: cache only
    # what is reused AND expensive to recompute — tf is query-matched
    # rows only, O(|queries| x matching docs), bounded at any corpus
    # size). r12: one corpus scan removed from every BM25-family spec
    # (q130/q137/q138/q142).
    tf = track_persist(
        exploded.join(F.broadcast(q), "term")
        .groupBy("qid", "doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        .persist()
    )
    idf = tf.groupBy("qid", "term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.crossJoin(F.broadcast(stats))
        .join(F.broadcast(idf), ["qid", "term"])
        .select(
            "qid",
            "doc_id",
            "term",
            (
                (
                    F.log(
                        (F.col("n_docs") - F.col("df") + F.lit(0.5))
                        / (F.col("df") + F.lit(0.5))
                        + F.lit(1.0)
                    )
                    * (F.col("tf") * F.lit(2.2))
                )
                / (
                    F.col("tf")
                    + F.lit(1.2)
                    * (
                        F.lit(0.25)
                        + F.lit(0.75) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("contrib"),
        )
    )
    scored = contrib.groupBy("qid", "doc_id").agg(
        F.round(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("term", F.col("contrib")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            ),
            6,
        ).alias("score"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "qid",
            "doc_id",
            "score",
            "n_terms",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# q133 — IVF recall operating curve (nprobe sweep vs brute-force oracle)
# ---------------------------------------------------------------------------
@L.add(
    "q133_ivf_recall_curve",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS c_id, v AS cv FROM e
          WHERE vec_id % 50 = 0 AND vec_id < 3200),
asg AS (
  SELECT vec_id, v, c_id FROM (
    SELECT e.vec_id, e.v, cents.c_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_dot_product(e.v, cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv, cv)))
             DESC, c_id) AS rn
    FROM e, cents
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
probe AS (
  SELECT q_id, qv, c_id, rn AS probe_rn FROM (
    SELECT q.q_id, q.qv, cents.c_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
             DESC, c_id) AS rn
    FROM q, cents
  ) WHERE rn <= 8
),
s AS (
  SELECT p.q_id, a.vec_id, p.probe_rn,
         list_dot_product(p.qv, a.v)
           / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v)))
           AS c
  FROM probe p JOIN asg a ON a.c_id = p.c_id AND a.vec_id <> p.q_id
),
settings(nprobe) AS (VALUES (1), (2), (4), (8)),
appr AS (
  SELECT nprobe, q_id, vec_id FROM (
    SELECT st.nprobe, s.q_id, s.vec_id,
           row_number() OVER (PARTITION BY st.nprobe, s.q_id
                              ORDER BY s.c DESC, s.vec_id) AS rn
    FROM s JOIN settings st ON s.probe_rn <= st.nprobe
  ) WHERE rn <= 10
),
exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             list_dot_product(qv, e.v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v)))
             DESC, e.vec_id) AS rn
    FROM q, e WHERE e.vec_id <> q.q_id
  ) WHERE rn <= 10
),
nq AS (SELECT count(*)::BIGINT AS n_queries FROM q),
h AS (
  SELECT a.nprobe, count(*)::BIGINT AS n_hits
  FROM appr a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
  GROUP BY 1
)
SELECT st.nprobe, nq.n_queries,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       round(coalesce(h.n_hits, 0)::DOUBLE / (10.0 * nq.n_queries), 6)
         AS recall_at_10
FROM settings st CROSS JOIN nq LEFT JOIN h ON h.nprobe = st.nprobe
""",
    doc="IVF recall operating curve — the q132 threshold-sweep pattern "
    "applied to vector search (the r06 verdict's #4 ask): recall@10 of "
    "q29's IVF index against q22's brute-force exact top-10, swept over "
    "nprobe in {1, 2, 4, 8} for 8 query vectors. The oracle is "
    "exact-BY-CONSTRUCTION: both engines materialize the approximate "
    "AND the exact neighbor sets and count the intersection — so a "
    "green row certifies the whole curve, not a tolerance. The sweep "
    "is ONE pass, not |settings| IVF runs "
    "(operators/similarity.py:ivf_topk_sweep): vectors are assigned to "
    "centroids once, queries probed once to rank <= max(nprobe) "
    "keeping the probe rank, every candidate scored with the exact "
    "cosine once; a candidate belongs to setting s iff probe_rn <= s "
    "(IVF probe sets are nested), so the per-setting fan-out "
    "replicates only (id, score) rows against a 4-row literal "
    "broadcast. Recall is computed from exact integers — n_hits / "
    "(k * n_queries) is the single FP division, bit-identical in both "
    "engines — and every window is per-(setting, query) over candidate "
    "lists (never the corpus; the q130 per-query-rank rule). At 100 TB "
    "the curve costs one assign pass + one candidate-scoring join — "
    "the operating data a user needs to pick nprobe before committing "
    "the real index. Reference counterpart: none (north-star "
    "extension).",
    tags=("vector", "ann", "recall", "llm"),
)
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk_sweep

    settings = (1, 2, 4, 8)
    emb = _emb(spark, sf_dir)
    qs = make_query_set(emb, F.col("vec_id") < 8)
    exact = brute_force_topk(emb, qs, k=10).select("q_id", "vec_id")
    sweep = ivf_topk_sweep(
        emb, qs, k=10, centroid_mod=50, nprobes=settings, centroid_cap=3200
    )
    hits = (
        sweep.join(exact, ["q_id", "vec_id"])
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    sdf = spark.createDataFrame([(int(s),) for s in settings], "nprobe int")
    nq = qs.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    return (
        sdf.crossJoin(F.broadcast(nq))
        .join(hits, "nprobe", "left")
        .select(
            "nprobe",
            "n_queries",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / (F.lit(10.0) * F.col("n_queries")),
                6,
            ).alias("recall_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# q134 — SRP-LSH recall operating curve (band-count sweep)
# ---------------------------------------------------------------------------
def _srp_recall_oracle() -> str:
    """Generated from the SAME srp_masks() as the Spark operator (the
    q81 pattern): the sign bits are bit-identical by construction, so
    the sweep differential checks the banding geometry itself."""
    from ..operators.similarity import SRP_PLANES, SRP_QUANT, srp_masks

    masks = srp_masks(SRP_PLANES, 64)
    values = ",\n           ".join(
        f"({j}, {masks[j]})" for j in range(SRP_PLANES)
    )
    return f"""
WITH qz AS (
  SELECT vec_id,
         list_transform(embedding, v -> round(v::DOUBLE * {SRP_QUANT})::BIGINT) AS qv
  FROM embeddings
),
masks(j, m) AS (
  VALUES {values}
),
bits AS (
  SELECT qz.vec_id, masks.j,
         CASE WHEN list_sum(list_transform(generate_series(1, 64),
                                           i -> qz.qv[i] * masks.m[i])) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM qz CROSS JOIN masks
),
settings(nbands, pb) AS (VALUES (2, 12), (3, 8), (4, 6), (6, 4)),
codes AS (
  SELECT s.nbands, b.vec_id, b.j // s.pb AS band_idx,
         sum(b.bit::BIGINT << (b.j % s.pb))::BIGINT AS code
  FROM bits b CROSS JOIN settings s
  GROUP BY 1, 2, 3
),
cand AS (
  SELECT DISTINCT c1.nbands, c1.vec_id AS q_id, c2.vec_id
  FROM codes c1 JOIN codes c2
    ON c1.nbands = c2.nbands AND c1.band_idx = c2.band_idx
   AND c1.code = c2.code
  WHERE c1.vec_id < 8 AND c2.vec_id <> c1.vec_id
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
pairs AS (SELECT DISTINCT q_id, vec_id FROM cand),
sc AS (
  SELECT p.q_id, p.vec_id,
         list_dot_product(eq.v, ev.v)
           / (sqrt(list_dot_product(eq.v, eq.v))
              * sqrt(list_dot_product(ev.v, ev.v))) AS c
  FROM pairs p
  JOIN e eq ON eq.vec_id = p.q_id
  JOIN e ev ON ev.vec_id = p.vec_id
),
appr AS (
  SELECT nbands, q_id, vec_id FROM (
    SELECT cd.nbands, cd.q_id, cd.vec_id,
           row_number() OVER (PARTITION BY cd.nbands, cd.q_id
                              ORDER BY sc.c DESC, cd.vec_id) AS rn
    FROM cand cd JOIN sc ON sc.q_id = cd.q_id AND sc.vec_id = cd.vec_id
  ) WHERE rn <= 10
),
exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             list_dot_product(qv, e.v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v)))
             DESC, e.vec_id) AS rn
    FROM q, e WHERE e.vec_id <> q.q_id
  ) WHERE rn <= 10
),
nq AS (SELECT count(*)::BIGINT AS n_queries FROM q),
h AS (
  SELECT a.nbands, count(*)::BIGINT AS n_hits
  FROM appr a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
  GROUP BY 1
)
SELECT st.nbands, nq.n_queries,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       round(coalesce(h.n_hits, 0)::DOUBLE / (10.0 * nq.n_queries), 6)
         AS recall_at_10
FROM settings st CROSS JOIN nq LEFT JOIN h ON h.nbands = st.nbands
"""


@L.add(
    "q134_srp_recall_curve",
    oracle=_srp_recall_oracle(),
    doc="SRP-LSH recall operating curve — q133's sweep for the "
    "hyperplane-LSH family: recall@10 of q81's banded index against the "
    "brute-force exact top-10, swept over band count in {2, 3, 4, 6} "
    "(24 sign bits regrouped as 2x12, 3x8, 4x6, 6x4 — more/shorter "
    "bands = more collisions = higher recall at higher candidate cost). "
    "The 24-plane projection runs ONCE (operators/similarity.py:"
    "srp_bits — the fixed-point Arrow GEMM, bit-exact across engines); "
    "each setting derives its band codes by REGROUPING those bits "
    "JVM-side (posexplode -> div/mod band math -> sum of shifted bits, "
    "one shuffle keyed (setting, vec_id, band)), so the sweep never "
    "re-projects. Candidate pairs dedup across settings before the ONE "
    "exact-cosine scoring join; per-(setting, query) top-10 windows "
    "over candidate lists; recall = n_hits / (k * n_queries) from "
    "exact integers, one FP division. The curve is the tuning data for "
    "q81's banding choice, with the exact-by-construction oracle "
    "generated from the same srp_masks() (the q81 pattern). Reference "
    "counterpart: none (north-star extension).",
    tags=("vector", "lsh", "ann", "recall", "llm"),
)
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vector import dot
    from ..operators.similarity import _as_double, srp_bits

    settings = ((2, 12), (3, 8), (4, 6), (6, 4))
    emb = _emb(spark, sf_dir)
    qs = make_query_set(emb, F.col("vec_id") < 8)
    exact = brute_force_topk(emb, qs, k=10).select("q_id", "vec_id")

    bitrows = srp_bits(emb).select(
        "vec_id", F.posexplode("bits").alias("j", "bit")
    )
    sdf = spark.createDataFrame(
        [(int(b), int(pb)) for b, pb in settings], "nbands int, pb int"
    )
    # 2^(j % pb) is exact in a double for pb <= 12 (max exponent 11)
    codes = (
        bitrows.crossJoin(F.broadcast(sdf))
        .select(
            "nbands",
            "vec_id",
            F.floor(F.col("j") / F.col("pb")).cast("int").alias("band_idx"),
            (
                F.col("bit").cast("long")
                * F.pow(F.lit(2.0), (F.col("j") % F.col("pb"))).cast("long")
            ).alias("w"),
        )
        .groupBy("nbands", "vec_id", "band_idx")
        .agg(F.sum("w").cast("long").alias("code"))
    )
    qcodes = codes.filter(F.col("vec_id") < 8).select(
        "nbands", F.col("vec_id").alias("q_id"), "band_idx", "code"
    )
    cand = (
        codes.join(qcodes, ["nbands", "band_idx", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("nbands", "q_id", "vec_id")
        .distinct()
    )
    base_d = _as_double(emb, "vec_id", "embedding")
    qside = base_d.select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qvec"),
        F.col("nv").alias("nq"),
    )
    pair_scores = (
        cand.select("q_id", "vec_id")
        .distinct()
        .join(base_d, "vec_id")
        .join(F.broadcast(qside), "q_id")
        .select(
            "q_id",
            "vec_id",
            (dot(F.col("qvec"), F.col("v")) / (F.col("nq") * F.col("nv"))).alias(
                "c"
            ),
        )
    )
    w = Window.partitionBy("nbands", "q_id").orderBy(F.desc("c"), F.asc("vec_id"))
    appr = (
        cand.join(pair_scores, ["q_id", "vec_id"])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10)
        .select("nbands", "q_id", "vec_id")
    )
    hits = (
        appr.join(exact, ["q_id", "vec_id"])
        .groupBy("nbands")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    nq = qs.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    return (
        sdf.select("nbands")
        .crossJoin(F.broadcast(nq))
        .join(hits, "nbands", "left")
        .select(
            "nbands",
            "n_queries",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / (F.lit(10.0) * F.col("n_queries")),
                6,
            ).alias("recall_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# q136 — Product-Quantization ADC recall curve (subspace-count sweep)
# ---------------------------------------------------------------------------
@L.add(
    "q136_pq_adc_recall",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS c_id, v AS cv FROM e
          WHERE vec_id % 50 = 0 AND vec_id < 3200),
settings(m, sd) AS (VALUES (4, 16), (8, 8), (16, 4)),
sub AS (SELECT m, sd, unnest(generate_series(0, m - 1)) AS j FROM settings),
vsub AS (
  SELECT s.m, s.j, e.vec_id, e.v[s.j * s.sd + 1 : (s.j + 1) * s.sd] AS vs
  FROM e CROSS JOIN sub s
),
csub AS (
  SELECT s.m, s.j, c.c_id, c.cv[s.j * s.sd + 1 : (s.j + 1) * s.sd] AS cs
  FROM cents c CROSS JOIN sub s
),
enc AS (
  SELECT m, j, vec_id, c_id AS code FROM (
    SELECT v.m, v.j, v.vec_id, c.c_id,
           row_number() OVER (PARTITION BY v.m, v.vec_id, v.j ORDER BY
             list_dot_product(v.vs, v.vs) + list_dot_product(c.cs, c.cs)
               - 2 * list_dot_product(v.vs, c.cs), c.c_id) AS rn
    FROM vsub v JOIN csub c ON c.m = v.m AND c.j = v.j
  ) WHERE rn = 1
),
qsub AS (SELECT m, j, vec_id AS q_id, vs AS qs FROM vsub WHERE vec_id < 8),
lut AS (
  SELECT q.m, q.j, q.q_id, c.c_id,
         list_dot_product(q.qs, q.qs) + list_dot_product(c.cs, c.cs)
           - 2 * list_dot_product(q.qs, c.cs) AS dq
  FROM qsub q JOIN csub c ON c.m = q.m AND c.j = q.j
),
adc AS (
  SELECT en.m, l.q_id, en.vec_id,
         list_reduce(list(l.dq ORDER BY en.j), (a, b) -> a + b) AS adc
  FROM enc en JOIN lut l ON l.m = en.m AND l.j = en.j AND l.c_id = en.code
  WHERE en.vec_id <> l.q_id
  GROUP BY 1, 2, 3
),
appr AS (
  SELECT m, q_id, vec_id FROM (
    SELECT m, q_id, vec_id,
           row_number() OVER (PARTITION BY m, q_id ORDER BY adc, vec_id) AS rn
    FROM adc
  ) WHERE rn <= 10
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             list_dot_product(qv, qv) + list_dot_product(e.v, e.v)
               - 2 * list_dot_product(qv, e.v), e.vec_id) AS rn
    FROM q, e WHERE e.vec_id <> q.q_id
  ) WHERE rn <= 10
),
nq AS (SELECT count(*)::BIGINT AS n_queries FROM q),
h AS (
  SELECT a.m, count(*)::BIGINT AS n_hits
  FROM appr a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
  GROUP BY 1
)
SELECT st.m, nq.n_queries,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       round(coalesce(h.n_hits, 0)::DOUBLE / (10.0 * nq.n_queries), 6)
         AS recall_at_10
FROM settings st CROSS JOIN nq LEFT JOIN h ON h.m = st.m
""",
    doc="Product-Quantization ADC recall curve — the FIFTH ANN family "
    "(Jegou/Douze/Schmid TPAMI'11) beside brute force (q22), IVF "
    "(q29/q133), SRP-LSH (q81/q134) and SimHash (q28): each vector is "
    "encoded as m sub-codes (nearest sub-centroid per 64/m-dim "
    "subspace, deterministic id-picked sub-codebooks — the q29 "
    "convention, so the oracle is exact), queries stay uncompressed, "
    "and distance is estimated by the classic Asymmetric Distance "
    "Computation: a per-(query, subspace) lookup table of "
    "query-to-centroid squared-L2 distances JOINS the code table and "
    "folds per (query, vector) — the relational form of the ADC table "
    "trick. Swept over m in {4, 8, 16} (finer subspaces = higher "
    "recall at m bytes/vector); recall@10 vs the exact squared-L2 "
    "top-10. All distances use the dot-product identity "
    "|a-b|^2 = <a,a>+<b,b>-2<a,b> (the proven bit-identical fold) and "
    "the ADC fold runs in sorted subspace order (the q117 "
    "sorted-fold rule), so ranks are deterministic cross-engine. "
    "Scale: encoding is |vectors| x |codebook| x m sub-distance rows "
    "per setting — embarrassingly parallel, one rank-1 window keyed "
    "(m, vec, j); ADC is a hash join on the code key + one "
    "(m, q, vec)-keyed fold; at 100 TB the code table is m bytes/row "
    "(64x compression at m=8) and the LUT is O(|Q| x codebook x m), "
    "always broadcast. Reference counterpart: none (north-star "
    "extension).",
    tags=("vector", "ann", "pq", "recall", "llm"),
)
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vector import dot, dot_fixed

    settings = ((4, 16), (8, 8), (16, 4))
    emb = _emb(spark, sf_dir)
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sdf = spark.createDataFrame(
        [(int(m),) for m, _ in settings], "m int"
    )
    cents = base.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 3200)
    ).select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    # Per-setting branches, unioned: inside a branch the sub-dimension is
    # a COMPILE-TIME constant, so every distance is dot_fixed — explicit
    # codegen-able multiply-adds with the same addition sequence as the
    # HOF fold (bit-identical doubles, oracle untouched) instead of
    # interpreted lambdas; the self-dots additionally ride each side's
    # projection once. Measured at sf0.1: inline three-fold form 11.4s,
    # shared norms + HOF cross-dot 6.5s, this form 4.5s.
    def sq_l2_fixed(an, bn, a, b, n):
        return (
            F.col(an) + F.col(bn) - F.lit(2.0) * dot_fixed(F.col(a), F.col(b), n)
        )

    enc_parts, lut_parts = [], []
    for m_, sd_ in settings:
        sub_m = spark.range(m_).select(
            F.lit(m_).cast("int").alias("m"), F.col("id").cast("int").alias("j")
        )
        start = F.col("j") * sd_ + 1
        vs = F.slice("v", start, sd_)
        vsub_m = base.crossJoin(F.broadcast(sub_m)).select(
            "m", "j", "vec_id", vs.alias("vs"),
            dot_fixed(vs, vs, sd_).alias("vn"),
        )
        cs = F.slice("cv", start, sd_)
        csub_m = cents.crossJoin(F.broadcast(sub_m)).select(
            "m", "j", "c_id", cs.alias("cs"),
            dot_fixed(cs, cs, sd_).alias("cn2"),
        )
        # min_by, not a row_number window (r09 q145 spill finding): the
        # first sf10.0 cold recording of this sweep ran 4.3x at 3.33x
        # data purely from sorting the |vectors| x ks x |settings|
        # expansion; the hash aggregate collapses it map-side
        enc_parts.append(
            vsub_m.join(F.broadcast(csub_m), ["m", "j"])
            .withColumn("d", sq_l2_fixed("vn", "cn2", "vs", "cs", sd_))
            .groupBy("m", "vec_id", "j")
            .agg(F.min_by("c_id", F.struct("d", "c_id")).alias("code"))
            .select("m", "j", "vec_id", "code")
        )
        qsub_m = vsub_m.filter(F.col("vec_id") < 8).select(
            "m", "j",
            F.col("vec_id").alias("q_id"),
            F.col("vs").alias("qs"),
            F.col("vn").alias("qn"),
        )
        lut_parts.append(
            qsub_m.join(F.broadcast(csub_m), ["m", "j"]).select(
                "m", "j", "q_id", "c_id",
                sq_l2_fixed("qn", "cn2", "qs", "cs", sd_).alias("dq"),
            )
        )
    enc = enc_parts[0]
    for p in enc_parts[1:]:
        enc = enc.unionByName(p)
    lut = lut_parts[0]
    for p in lut_parts[1:]:
        lut = lut.unionByName(p)
    adc = (
        enc.join(lut, (lut["m"] == enc["m"]) & (lut["j"] == enc["j"]) & (lut["c_id"] == enc["code"]))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(enc["m"].alias("m"), "q_id", "vec_id", enc["j"].alias("j"), "dq")
        .groupBy("m", "q_id", "vec_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("j", "dq"))),
                F.lit(0.0),
                lambda acc, x: acc + x["dq"],
            ).alias("adc")
        )
    )
    w_appr = Window.partitionBy("m", "q_id").orderBy("adc", "vec_id")
    appr = (
        adc.withColumn("_rn", F.row_number().over(w_appr))
        .filter(F.col("_rn") <= 10)
        .select("m", "q_id", "vec_id")
    )
    qv = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        dot("v", "v").alias("qn"),
    )
    based = base.select("vec_id", "v", dot("v", "v").alias("nn"))
    w_ex = Window.partitionBy("q_id").orderBy("d", "vec_id")
    exact = (
        based.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("d", sq_l2_fixed("qn", "nn", "qv", "v", 64))
        .withColumn("_rn", F.row_number().over(w_ex))
        .filter(F.col("_rn") <= 10)
        .select("q_id", "vec_id")
    )
    hits = (
        appr.join(exact, ["q_id", "vec_id"])
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    nq = qv.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    return (
        sdf.select("m")
        .crossJoin(F.broadcast(nq))
        .join(hits, "m", "left")
        .select(
            "m",
            "n_queries",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / (F.lit(10.0) * F.col("n_queries")),
                6,
            ).alias("recall_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# q137 — hybrid retrieval: reciprocal-rank fusion of BM25 + dense legs
# ---------------------------------------------------------------------------
@L.add(
    "q137_rrf_hybrid_retrieval",
    oracle="""
WITH q(qid, term) AS (
  VALUES (1, 'dup'), (1, 'vector'), (2, 'spark'), (2, 'stream'),
         (3, 'vector'), (3, 'window')
),
d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents
),
l AS (SELECT doc_id, len(tk)::BIGINT AS dl FROM d),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM l),
t AS (SELECT doc_id, unnest(tk) AS term FROM d),
tf AS (
  SELECT q.qid, t.doc_id, t.term, count(*)::BIGINT AS tf
  FROM t JOIN q USING (term) GROUP BY 1, 2, 3
),
idf AS (SELECT qid, term, count(*)::BIGINT AS df FROM tf GROUP BY 1, 2),
contrib AS (
  SELECT tf.qid, tf.doc_id, tf.term,
         (ln((stats.n_docs - idf.df + 0.5) / (idf.df + 0.5) + 1.0)
          * (tf.tf * 2.2))
           / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / stats.avgdl)) AS contrib
  FROM tf
  CROSS JOIN stats
  JOIN idf USING (qid, term)
  JOIN l USING (doc_id)
),
scored AS (
  SELECT qid, doc_id,
         round(list_reduce(list(contrib ORDER BY term), (a, b) -> a + b), 6)
           AS score
  FROM contrib
  GROUP BY qid, doc_id
),
bm AS (
  SELECT qid, doc_id, rnk FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
             AS rnk
    FROM scored
  ) WHERE rnk <= 20
),
seed AS (SELECT qid, doc_id AS seed_id FROM bm WHERE rnk = 1),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sv AS (
  SELECT s.qid, s.seed_id, e.v AS svec FROM seed s
  JOIN e ON e.vec_id = s.seed_id
),
dense AS (
  SELECT qid, vec_id AS doc_id, rnk FROM (
    SELECT sv.qid, e.vec_id,
           row_number() OVER (PARTITION BY sv.qid ORDER BY
             list_dot_product(sv.svec, e.v)
               / (sqrt(list_dot_product(sv.svec, sv.svec))
                  * sqrt(list_dot_product(e.v, e.v))) DESC, e.vec_id) AS rnk
    FROM sv JOIN e ON e.vec_id <> sv.seed_id
  ) WHERE rnk <= 20
),
fused AS (
  SELECT coalesce(b.qid, de.qid) AS qid,
         coalesce(b.doc_id, de.doc_id) AS doc_id,
         b.rnk AS r_bm25, de.rnk AS r_dense,
         round(coalesce(1.0 / (60 + b.rnk), 0.0)
               + coalesce(1.0 / (60 + de.rnk), 0.0), 6) AS rrf
  FROM bm b
  FULL OUTER JOIN dense de ON de.qid = b.qid AND de.doc_id = b.doc_id
)
SELECT qid, doc_id, r_bm25, r_dense, rrf FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id)
           AS out_rnk
  FROM fused
) WHERE out_rnk <= 10
""",
    doc="Hybrid retrieval via reciprocal-rank fusion (Cormack/Clarke/"
    "Buettcher SIGIR'09, the fusion every RAG stack runs): per query, "
    "the LEXICAL leg is q130's batch BM25 top-20 (shared helper "
    "_bm25_batch_ranked — one definition, one expression tree) and the "
    "DENSE leg is cosine top-20 by query-by-example: the BM25 rank-1 "
    "doc's embedding is the dense query (pseudo-relevance feedback — "
    "deterministic, no averaged centroid whose summation order would "
    "break cross-engine parity). The legs FULL-OUTER merge on (query, "
    "doc) and fuse as rrf = 1/(60+r_lex) + 1/(60+r_dense) (absent leg "
    "contributes 0), top-10 per query by fused score. FP-exactness: "
    "ranks are integers, each reciprocal is one correctly-rounded "
    "division, the sum is two terms in literal order — bit-identical "
    "in both engines, no aggregation-order hazard. Scale: the BM25 leg "
    "is q130's (query-filtered tf shuffle, O(matched docs) windows); "
    "the dense leg broadcasts |Q| seed vectors against the embedding "
    "table (q22's shape; IVF/PQ drop in at scale); the fusion join "
    "touches 40 rows/query. Reference counterpart: none (north-star "
    "extension — the retrieval front-end of an LLM data pipeline's "
    "search tier).",
    tags=("search", "bm25", "vector", "fusion", "llm"),
)
def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rrf_hybrid(spark, sf_dir, BM25_BATCH_QUERIES)


def rrf_hybrid(
    spark: SparkSession,
    sf_dir: str,
    query_rows,
    *,
    query_vectors: DataFrame | None = None,
    k_leg: int = 20,
    k_out: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of a BM25 lexical leg and a cosine dense
    leg (q137's engine, parameterized — the ADVICE r07 #5 seam).

    ``query_vectors`` is the TRUE query-vector seam: a caller-supplied
    DataFrame ``(qid int, qvec array<double>[, exclude_vec_id long])``
    whose embeddings drive the dense leg directly — the production shape
    where an encoder embeds the query text. When ``None`` (q137's
    registered form) the dense query is pseudo-relevance-seeded from the
    BM25 rank-1 doc's embedding, i.e. the seeded form IS the seam called
    with the rank-1 embeddings and ``exclude_vec_id = seed_id``
    (differential-tested in tests/test_llm_operators.py). The optional
    ``exclude_vec_id`` removes one corpus vector from the dense leg
    (query-by-example semantics); NULL / absent excludes nothing — the
    filter is null-safe (``NOT (vec_id <=> exclude_vec_id)``), since a
    plain ``!=`` against NULL would drop every row.

    Scale: the dense leg broadcasts |Q| query vectors against the
    embedding table (q22's brute-force shape; the IVF/PQ indexes of
    q29/q136/q139 drop in behind the same (qid, doc_id, rnk) contract);
    the fusion join touches 2*k_leg rows per query.
    """
    from pyspark.sql import Window

    from ..functions.vector import dot, l2_norm

    bm = _bm25_batch_ranked(spark, sf_dir, query_rows, k=k_leg).select(
        "qid", "doc_id", F.col("rnk").alias("r_bm25")
    )
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    if query_vectors is None:
        seed = bm.filter(F.col("r_bm25") == 1).select(
            "qid", F.col("doc_id").alias("seed_id")
        )
        qvecs = seed.join(e, seed["seed_id"] == e["vec_id"]).select(
            "qid",
            F.col("v").alias("qvec"),
            F.col("seed_id").alias("exclude_vec_id"),
        )
    else:
        qvecs = query_vectors
        if "exclude_vec_id" not in qvecs.columns:
            qvecs = qvecs.withColumn(
                "exclude_vec_id", F.lit(None).cast("long")
            )
        qvecs = qvecs.select("qid", "qvec", "exclude_vec_id")
    sv = qvecs.select(
        "qid",
        F.col("qvec").alias("svec"),
        l2_norm("qvec").alias("sn"),
        "exclude_vec_id",
    )
    w_d = Window.partitionBy("qid").orderBy(F.desc("c"), "vec_id")
    dense = (
        e.withColumn("nv", l2_norm("v"))
        .crossJoin(F.broadcast(sv))
        .filter(~F.col("vec_id").eqNullSafe(F.col("exclude_vec_id")))
        .select(
            "qid",
            "vec_id",
            (dot(F.col("svec"), F.col("v")) / (F.col("sn") * F.col("nv"))).alias("c"),
        )
        .withColumn("rnk", F.row_number().over(w_d))
        .filter(F.col("rnk") <= k_leg)
        .select("qid", F.col("vec_id").alias("doc_id"), F.col("rnk").cast("long").alias("r_dense"))
    )
    fused = (
        bm.join(dense, ["qid", "doc_id"], "full_outer")
        .select(
            "qid",
            "doc_id",
            "r_bm25",
            "r_dense",
            F.round(
                F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("r_bm25")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("r_dense")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    w_out = Window.partitionBy("qid").orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("out_rnk", F.row_number().over(w_out))
        .filter(F.col("out_rnk") <= k_out)
        .select("qid", "doc_id", "r_bm25", "r_dense", "rrf")
    )


# ---------------------------------------------------------------------------
# q142 — hybrid RRF with a CALLER-SUPPLIED query-vector table
# ---------------------------------------------------------------------------
@L.add(
    "q142_rrf_query_vectors",
    oracle="""
WITH q(qid, term) AS (
  VALUES (1, 'dup'), (1, 'vector'), (2, 'spark'), (2, 'stream'),
         (3, 'vector'), (3, 'window')
),
d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents
),
l AS (SELECT doc_id, len(tk)::BIGINT AS dl FROM d),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM l),
t AS (SELECT doc_id, unnest(tk) AS term FROM d),
tf AS (
  SELECT q.qid, t.doc_id, t.term, count(*)::BIGINT AS tf
  FROM t JOIN q USING (term) GROUP BY 1, 2, 3
),
idf AS (SELECT qid, term, count(*)::BIGINT AS df FROM tf GROUP BY 1, 2),
contrib AS (
  SELECT tf.qid, tf.doc_id, tf.term,
         (ln((stats.n_docs - idf.df + 0.5) / (idf.df + 0.5) + 1.0)
          * (tf.tf * 2.2))
           / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / stats.avgdl)) AS contrib
  FROM tf
  CROSS JOIN stats
  JOIN idf USING (qid, term)
  JOIN l USING (doc_id)
),
scored AS (
  SELECT qid, doc_id,
         round(list_reduce(list(contrib ORDER BY term), (a, b) -> a + b), 6)
           AS score
  FROM contrib
  GROUP BY qid, doc_id
),
bm AS (
  SELECT qid, doc_id, rnk FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
             AS rnk
    FROM scored
  ) WHERE rnk <= 20
),
seed AS (SELECT DISTINCT qid, qid * 37 AS seed_id FROM q),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sv AS (
  SELECT s.qid, s.seed_id, e.v AS svec FROM seed s
  JOIN e ON e.vec_id = s.seed_id
),
dense AS (
  SELECT qid, vec_id AS doc_id, rnk FROM (
    SELECT sv.qid, e.vec_id,
           row_number() OVER (PARTITION BY sv.qid ORDER BY
             list_dot_product(sv.svec, e.v)
               / (sqrt(list_dot_product(sv.svec, sv.svec))
                  * sqrt(list_dot_product(e.v, e.v))) DESC, e.vec_id) AS rnk
    FROM sv JOIN e ON e.vec_id <> sv.seed_id
  ) WHERE rnk <= 20
),
fused AS (
  SELECT coalesce(b.qid, de.qid) AS qid,
         coalesce(b.doc_id, de.doc_id) AS doc_id,
         b.rnk AS r_bm25, de.rnk AS r_dense,
         round(coalesce(1.0 / (60 + b.rnk), 0.0)
               + coalesce(1.0 / (60 + de.rnk), 0.0), 6) AS rrf
  FROM bm b
  FULL OUTER JOIN dense de ON de.qid = b.qid AND de.doc_id = b.doc_id
)
SELECT qid, doc_id, r_bm25, r_dense, rrf FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id)
           AS out_rnk
  FROM fused
) WHERE out_rnk <= 10
""",
    doc="Hybrid RRF with a CALLER-SUPPLIED query-vector table — the true "
    "query-vector seam the r07 verdict asked for (#5): where q137 "
    "pseudo-relevance-seeds its dense leg from the BM25 rank-1 doc, this "
    "spec drives rrf_hybrid(query_vectors=...) with an explicit "
    "(qid, qvec, exclude_vec_id) DataFrame — the production shape where "
    "an external encoder embeds the query text; here the vectors are "
    "deterministic corpus rows (vec_id = qid*37, present at every SF) so "
    "the DuckDB oracle reproduces the identical dense leg. The seeded "
    "q137 form is additionally differential-tested to BE this seam "
    "called with the rank-1 embeddings (tests/test_llm_operators.py). "
    "Same FP-exactness story as q137: ranks are integers, the fused "
    "score is two literal-order reciprocals. Scale: identical to q137 — "
    "|Q| broadcast vectors vs the embedding table, O(k) fusion rows per "
    "query; an IVF/PQ index drops in behind the same contract. "
    "Reference counterpart: none (north-star extension).",
    tags=("search", "bm25", "vector", "fusion", "llm"),
)
def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    qdf = spark.createDataFrame(
        sorted({(qid,) for qid, _ in BM25_BATCH_QUERIES}), "qid int"
    )
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("qvec")
    )
    qvecs = (
        qdf.withColumn("seed_id", (F.col("qid") * 37).cast("long"))
        .join(e, F.col("seed_id") == e["vec_id"])
        .select("qid", "qvec", F.col("seed_id").alias("exclude_vec_id"))
    )
    return rrf_hybrid(
        spark, sf_dir, BM25_BATCH_QUERIES, query_vectors=qvecs
    )


# ---------------------------------------------------------------------------
# q138 — retrieval eval metrics: MRR + binary nDCG@10 over BM25 rankings
# ---------------------------------------------------------------------------
def _retrieval_eval_oracle() -> str:
    """Generated so the rank-discount table 1/log2(r+1) is a LITERAL list
    shared by both engines (the _srp_oracle pattern): transcendental
    log2 never evaluates inside either engine, so the metric arithmetic
    is sorted folds over identical doubles plus exact divisions."""
    import math

    disc = ",\n           ".join(
        f"({r}, {1.0 / math.log2(r + 1)!r})" for r in range(1, 21)
    )
    return f"""
WITH q(qid, term) AS (
  VALUES (1, 'dup'), (1, 'vector'), (2, 'spark'), (2, 'stream'),
         (3, 'vector'), (3, 'window')
),
qsize AS (SELECT qid, count(*)::BIGINT AS n_terms_q FROM q GROUP BY qid),
d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents
),
l AS (SELECT doc_id, len(tk)::BIGINT AS dl FROM d),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM l),
t AS (SELECT DISTINCT doc_id, unnest(tk) AS term FROM d),
rel AS (
  SELECT tm.qid, tm.doc_id
  FROM (SELECT q.qid, t.doc_id, count(*)::BIGINT AS n_hit
        FROM t JOIN q USING (term) GROUP BY 1, 2) tm
  JOIN qsize USING (qid)
  WHERE tm.n_hit = qsize.n_terms_q
),
tall AS (SELECT doc_id, unnest(tk) AS term FROM d),
tf AS (
  SELECT q.qid, tall.doc_id, tall.term, count(*)::BIGINT AS tf
  FROM tall JOIN q USING (term) GROUP BY 1, 2, 3
),
idf AS (SELECT qid, term, count(*)::BIGINT AS df FROM tf GROUP BY 1, 2),
contrib AS (
  SELECT tf.qid, tf.doc_id, tf.term,
         (ln((stats.n_docs - idf.df + 0.5) / (idf.df + 0.5) + 1.0)
          * (tf.tf * 2.2))
           / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / stats.avgdl)) AS contrib
  FROM tf
  CROSS JOIN stats
  JOIN idf USING (qid, term)
  JOIN l USING (doc_id)
),
scored AS (
  SELECT qid, doc_id,
         round(list_reduce(list(contrib ORDER BY term), (a, b) -> a + b), 6)
           AS score
  FROM contrib GROUP BY qid, doc_id
),
bm AS (
  SELECT qid, doc_id, rnk FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
             AS rnk
    FROM scored
  ) WHERE rnk <= 20
),
disc(rnk, w) AS (
  VALUES {disc}
),
hits AS (SELECT b.qid, b.rnk FROM bm b JOIN rel r USING (qid, doc_id)),
mrr AS (SELECT qid, 1.0 / min(rnk) AS mrr FROM hits GROUP BY qid),
dcg AS (
  SELECT h.qid,
         list_reduce(list(d.w ORDER BY h.rnk), (a, b) -> a + b) AS dcg
  FROM hits h JOIN disc d ON d.rnk = h.rnk
  WHERE h.rnk <= 10 GROUP BY h.qid
),
nrel AS (SELECT qid, count(*)::BIGINT AS n_relevant FROM rel GROUP BY qid),
idcg AS (
  SELECT n.qid,
         list_reduce(list(d.w ORDER BY d.rnk), (a, b) -> a + b) AS idcg
  FROM nrel n JOIN disc d ON d.rnk <= least(n.n_relevant, 10)
  GROUP BY n.qid
)
SELECT qs.qid,
       coalesce(n.n_relevant, 0)::BIGINT AS n_relevant,
       round(coalesce(m.mrr, 0.0), 6) AS mrr,
       round(coalesce(dcg.dcg / idcg.idcg, 0.0), 6) AS ndcg_at_10
FROM (SELECT DISTINCT qid FROM q) qs
LEFT JOIN nrel n ON n.qid = qs.qid
LEFT JOIN mrr m ON m.qid = qs.qid
LEFT JOIN dcg ON dcg.qid = qs.qid
LEFT JOIN idcg ON idcg.qid = qs.qid
"""


@L.add(
    "q138_retrieval_eval_metrics",
    oracle=_retrieval_eval_oracle(),
    doc="Retrieval eval metrics — MRR and binary nDCG@10 of q130's BM25 "
    "rankings against an exact relevance oracle (a doc is relevant to a "
    "query iff it contains ALL the query's terms — deterministic, "
    "label-free, computable in both engines), completing the eval tier "
    "the way q132 did for the quality filter and q133/q134/q136 for "
    "ANN: recall curves tune the index, MRR/nDCG grade the ranker. "
    "FP-exactness: the rank-discount table 1/log2(rank+1) is GENERATED "
    "as 20 shared literals (the _srp_oracle pattern), so no "
    "transcendental ever evaluates in-engine; DCG/IDCG fold those "
    "literals in sorted rank order (the q117 rule); MRR is one exact "
    "reciprocal; nDCG is one division, rounded. Scale: relevance = the "
    "same query-filtered token join BM25 already does (per-(qid, doc) "
    "term-count == |Q| semi-join); metrics aggregate O(k) rows per "
    "query; the discount table is a 20-row broadcast. Queries with no "
    "relevant docs emit 0 metrics via the left-join grid. Reference "
    "counterpart: none (north-star extension).",
    tags=("search", "bm25", "eval", "llm"),
)
def q138(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..functions.text import tokens

    qrows = BM25_BATCH_QUERIES
    qdf = spark.createDataFrame(list(qrows), "qid int, term string")
    qsize = qdf.groupBy("qid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms_q")
    )
    docs = _docs(spark, sf_dir)
    tk = docs.select("doc_id", tokens(F.col("text")).alias("tk"))
    tdist = tk.select(
        "doc_id", F.explode(F.array_distinct("tk")).alias("term")
    )
    # rel feeds three branches (hits, and n_relevant below) and hits two
    # (mrr + dcg); unpersisted, the final plan would contain the
    # relevance corpus scan 3x and the whole BM25 scorer 2x — persist
    # the two tiny (qid, doc_id)/(qid, rnk) frames instead (guide §5;
    # both are O(|queries| x k)-bounded at any corpus size)
    rel = track_persist(
        tdist.join(F.broadcast(qdf), "term")
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
        .join(F.broadcast(qsize), "qid")
        .filter(F.col("n_hit") == F.col("n_terms_q"))
        .select("qid", "doc_id")
        .persist()
    )
    bm = _bm25_batch_ranked(spark, sf_dir, qrows, k=20).select(
        "qid", "doc_id", "rnk"
    )
    disc = spark.createDataFrame(
        [(r, 1.0 / math.log2(r + 1)) for r in range(1, 21)],
        "rnk long, w double",
    )
    hits = track_persist(
        bm.join(rel, ["qid", "doc_id"]).select("qid", "rnk").persist()
    )
    mrr = hits.groupBy("qid").agg(
        (F.lit(1.0) / F.min("rnk")).alias("mrr")
    )
    dcg = (
        hits.filter(F.col("rnk") <= 10)
        .join(F.broadcast(disc), "rnk")
        .groupBy("qid")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("rnk", "w"))),
                F.lit(0.0),
                lambda acc, x: acc + x["w"],
            ).alias("dcg")
        )
    )
    nrel = rel.groupBy("qid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_relevant")
    )
    idcg = (
        nrel.join(
            F.broadcast(disc),
            disc["rnk"] <= F.least(nrel["n_relevant"], F.lit(10)),
        )
        .groupBy("qid")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("rnk", "w"))),
                F.lit(0.0),
                lambda acc, x: acc + x["w"],
            ).alias("idcg")
        )
    )
    grid = qdf.select("qid").distinct()
    return (
        grid.join(nrel, "qid", "left")
        .join(mrr, "qid", "left")
        .join(dcg, "qid", "left")
        .join(idcg, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("n_relevant"), F.lit(0)).cast("bigint").alias(
                "n_relevant"
            ),
            F.round(F.coalesce(F.col("mrr"), F.lit(0.0)), 6).alias("mrr"),
            F.round(
                F.coalesce(F.col("dcg") / F.col("idcg"), F.lit(0.0)), 6
            ).alias("ndcg_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# q139 — IVFADC: the composed IVF-routing + PQ-code + ADC-scoring index
# ---------------------------------------------------------------------------
@L.add(
    "q139_ivfadc_topk",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS c_id, v AS cv FROM e
          WHERE vec_id % 50 = 0 AND vec_id < 3200),
asg AS (
  SELECT vec_id, c_id FROM (
    SELECT e.vec_id, cents.c_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_dot_product(e.v, e.v) + list_dot_product(cv, cv)
               - 2 * list_dot_product(e.v, cv), c_id) AS rn
    FROM e, cents
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
probe AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, cents.c_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             list_dot_product(qv, qv) + list_dot_product(cv, cv)
               - 2 * list_dot_product(qv, cv), c_id) AS rn
    FROM q, cents
  ) WHERE rn <= 4
),
sub(j) AS (SELECT unnest(generate_series(0, 7))),
vsub AS (
  SELECT s.j, e.vec_id, e.v[s.j * 8 + 1 : (s.j + 1) * 8] AS vs
  FROM e CROSS JOIN sub s
),
csub AS (
  SELECT s.j, c.c_id, c.cv[s.j * 8 + 1 : (s.j + 1) * 8] AS cs
  FROM cents c CROSS JOIN sub s
),
enc AS (
  SELECT j, vec_id, c_id AS code FROM (
    SELECT v.j, v.vec_id, c.c_id,
           row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
             list_dot_product(v.vs, v.vs) + list_dot_product(c.cs, c.cs)
               - 2 * list_dot_product(v.vs, c.cs), c.c_id) AS rn
    FROM vsub v JOIN csub c ON c.j = v.j
  ) WHERE rn = 1
),
qsub AS (SELECT j, vec_id AS q_id, vs AS qs FROM vsub WHERE vec_id < 8),
lut AS (
  SELECT qb.j, qb.q_id, c.c_id,
         list_dot_product(qb.qs, qb.qs) + list_dot_product(c.cs, c.cs)
           - 2 * list_dot_product(qb.qs, c.cs) AS dq
  FROM qsub qb JOIN csub c ON c.j = qb.j
),
cand AS (
  SELECT p.q_id, a.vec_id
  FROM probe p JOIN asg a ON a.c_id = p.c_id
  WHERE a.vec_id <> p.q_id
),
adc AS (
  SELECT cd.q_id, cd.vec_id,
         list_reduce(list(l.dq ORDER BY en.j), (a, b) -> a + b) AS adc
  FROM cand cd
  JOIN enc en ON en.vec_id = cd.vec_id
  JOIN lut l ON l.j = en.j AND l.c_id = en.code AND l.q_id = cd.q_id
  GROUP BY 1, 2
)
SELECT q_id, vec_id, round(adc, 6) AS adc_dist FROM (
  SELECT q_id, vec_id, adc,
         row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rn
  FROM adc
) WHERE rn <= 10
""",
    doc="IVFADC — the composed production vector index (Jegou/Douze/"
    "Schmid TPAMI'11, the structure FAISS's IndexIVFPQ implements): IVF "
    "coarse routing (q29's id-picked codebook, squared-L2 assignment, "
    "nprobe=4) restricts the search to probed inverted lists, and "
    "WITHIN those lists distance is estimated from m=8 PQ codes via "
    "the ADC lookup table (q136's construction) — the memory story at "
    "100 TB is the point: the searched index holds one coarse id + 8 "
    "sub-codes per vector (~9 bytes vs 512 for raw doubles), raw "
    "vectors never join the search path. Non-residual variant (codes "
    "quantize raw vectors, not list residuals) so the sub-codebook is "
    "shared and deterministic — the residual form would need per-list "
    "codebooks, which the trained-kmeans seam (kmeans_centroids) "
    "supplies in production. All distances are the dot-identity "
    "squared-L2 (bit-identical folds), the ADC fold runs in sorted "
    "subspace order, and the oracle materializes the identical "
    "routing + codes + LUT, so the hash certifies the COMPOSITION: "
    "routing x encoding x table-scoring, not just each piece. Scale: "
    "probe prunes to nprobe/|C| of the corpus before any ADC work; "
    "the LUT is O(|Q| x |C| x m) broadcast; one (q, vec)-keyed fold "
    "shuffle. Reference counterpart: none (north-star extension).",
    tags=("vector", "ann", "pq", "ivf", "llm"),
)
def q139(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vector import dot_fixed

    # all dims are compile-time constants here (64-dim embeddings, m=8,
    # sd=8), so every distance is dot_fixed — codegen arithmetic with
    # the fold's addition sequence (see functions/vector.py:dot_fixed);
    # full-dim sites use n=64, sub-vector sites n=sd
    m, sd, nprobe = 8, 8, 4
    emb = _emb(spark, sf_dir)
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    based = base.select("vec_id", "v", dot_fixed("v", "v", 64).alias("nn"))
    cents = base.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 3200)
    ).select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        dot_fixed("v", "v", 64).alias("cn2"),
    )

    def sq(an, bn, a, b, n):
        return (
            F.col(an) + F.col(bn) - F.lit(2.0) * dot_fixed(F.col(a), F.col(b), n)
        )

    # assignment/encode argmins are MIN_BY hash aggregates, not
    # row_number windows (the r09 q145 spill finding): min_by over the
    # (d, c_id) struct picks the identical row to row_number
    # orderBy(d, c_id) — c_id totalizes the order — and the crossed
    # expansion collapses map-side instead of shuffling into a sort
    asg = (
        based.crossJoin(F.broadcast(cents))
        .withColumn("d", sq("nn", "cn2", "v", "cv", 64))
        .groupBy("vec_id")
        .agg(F.min_by("c_id", F.struct("d", "c_id")).alias("c_id"))
        .select("vec_id", "c_id")
    )
    qv = based.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nn").alias("qn"),
    )
    w_probe = Window.partitionBy("q_id").orderBy("d", "c_id")
    probe = (
        qv.crossJoin(F.broadcast(cents))
        .withColumn("d", sq("qn", "cn2", "qv", "cv", 64))
        .withColumn("_rn", F.row_number().over(w_probe))
        .filter(F.col("_rn") <= nprobe)
        .select("q_id", "c_id")
    )
    sub = spark.range(m).select(F.col("id").cast("int").alias("j"))
    start = F.col("j") * sd + 1
    vs = F.slice("v", start, sd)
    vsub = base.crossJoin(F.broadcast(sub)).select(
        "j", "vec_id", vs.alias("vs"), dot_fixed(vs, vs, sd).alias("vn")
    )
    cs = F.slice("cv", start, sd)
    csub = cents.select("c_id", "cv").crossJoin(F.broadcast(sub)).select(
        "j", "c_id", cs.alias("cs"), dot_fixed(cs, cs, sd).alias("csn")
    )
    enc = (
        vsub.join(F.broadcast(csub), "j")
        .withColumn("d", sq("vn", "csn", "vs", "cs", sd))
        .groupBy("vec_id", "j")
        .agg(F.min_by("c_id", F.struct("d", "c_id")).alias("code"))
        .select("j", "vec_id", "code")
    )
    qsub = vsub.filter(F.col("vec_id") < 8).select(
        "j",
        F.col("vec_id").alias("q_id"),
        F.col("vs").alias("qs"),
        F.col("vn").alias("qsn"),
    )
    lut = qsub.join(F.broadcast(csub), "j").select(
        "j", "q_id", "c_id", sq("qsn", "csn", "qs", "cs", sd).alias("dq")
    )
    cand = (
        probe.join(asg, "c_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
    )
    adc = (
        cand.join(enc, "vec_id")
        .join(
            F.broadcast(lut),
            (lut["j"] == enc["j"])
            & (lut["c_id"] == enc["code"])
            & (lut["q_id"] == cand["q_id"]),
        )
        .select(cand["q_id"].alias("q_id"), "vec_id", enc["j"].alias("j"), "dq")
        .groupBy("q_id", "vec_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("j", "dq"))),
                F.lit(0.0),
                lambda acc, x: acc + x["dq"],
            ).alias("adc")
        )
    )
    w_out = Window.partitionBy("q_id").orderBy("adc", "vec_id")
    return (
        adc.withColumn("_rn", F.row_number().over(w_out))
        .filter(F.col("_rn") <= 10)
        .select("q_id", "vec_id", F.round("adc", 6).alias("adc_dist"))
    )


# ---------------------------------------------------------------------------
# q141 — RESIDUAL IVFADC: codes quantize list residuals (IndexIVFPQ proper)
# ---------------------------------------------------------------------------
@L.add(
    "q141_ivfadc_residual_topk",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS c_id, v AS cv FROM e
          WHERE vec_id % 50 = 0 AND vec_id < 3200),
asg AS (
  SELECT vec_id, c_id FROM (
    SELECT e.vec_id, cents.c_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_dot_product(e.v, e.v) + list_dot_product(cv, cv)
               - 2 * list_dot_product(e.v, cv), c_id) AS rn
    FROM e, cents
  ) WHERE rn = 1
),
res AS (
  SELECT a.vec_id,
         list_transform(generate_series(1, 64), i -> e.v[i] - c.cv[i]) AS r
  FROM asg a
  JOIN e ON e.vec_id = a.vec_id
  JOIN cents c ON c.c_id = a.c_id
),
sub(j) AS (SELECT unnest(generate_series(0, 7))),
rsub AS (
  SELECT s.j, r.vec_id, r.r[s.j * 8 + 1 : (s.j + 1) * 8] AS rs
  FROM res r CROSS JOIN sub s
),
bsub AS (
  SELECT j, vec_id AS b_id, rs AS bs FROM rsub
  WHERE vec_id % 37 = 0 AND vec_id < 592
),
enc AS (
  SELECT j, vec_id, b_id AS code FROM (
    SELECT r.j, r.vec_id, b.b_id,
           row_number() OVER (PARTITION BY r.vec_id, r.j ORDER BY
             list_dot_product(
               list_transform(generate_series(1, 8), i -> r.rs[i] - b.bs[i]),
               list_transform(generate_series(1, 8), i -> r.rs[i] - b.bs[i])),
             b.b_id) AS rn
    FROM rsub r JOIN bsub b ON b.j = r.j
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
probe AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, cents.c_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             list_dot_product(qv, qv) + list_dot_product(cv, cv)
               - 2 * list_dot_product(qv, cv), c_id) AS rn
    FROM q, cents
  ) WHERE rn <= 4
),
qres AS (
  SELECT p.q_id, p.c_id,
         list_transform(generate_series(1, 64), i -> q.qv[i] - c.cv[i]) AS qr
  FROM probe p
  JOIN q ON q.q_id = p.q_id
  JOIN cents c ON c.c_id = p.c_id
),
qrsub AS (
  SELECT s.j, t.q_id, t.c_id, t.qr[s.j * 8 + 1 : (s.j + 1) * 8] AS qrs
  FROM qres t CROSS JOIN sub s
),
lut AS (
  SELECT qb.j, qb.q_id, qb.c_id, b.b_id,
         list_dot_product(
           list_transform(generate_series(1, 8), i -> qb.qrs[i] - b.bs[i]),
           list_transform(generate_series(1, 8), i -> qb.qrs[i] - b.bs[i]))
           AS dq
  FROM qrsub qb JOIN bsub b ON b.j = qb.j
),
cand AS (
  SELECT p.q_id, p.c_id, a.vec_id
  FROM probe p JOIN asg a ON a.c_id = p.c_id
  WHERE a.vec_id <> p.q_id
),
adc AS (
  SELECT cd.q_id, cd.vec_id,
         list_reduce(list(l.dq ORDER BY en.j), (a, b) -> a + b) AS adc
  FROM cand cd
  JOIN enc en ON en.vec_id = cd.vec_id
  JOIN lut l ON l.j = en.j AND l.b_id = en.code
            AND l.q_id = cd.q_id AND l.c_id = cd.c_id
  GROUP BY 1, 2
)
SELECT q_id, vec_id, round(adc, 6) AS adc_dist FROM (
  SELECT q_id, vec_id, adc,
         row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rn
  FROM adc
) WHERE rn <= 10
""",
    doc="RESIDUAL-form IVFADC — the exact structure FAISS's IndexIVFPQ "
    "ships (Jegou/Douze/Schmid TPAMI'11 SS7): where q139's codes "
    "quantize RAW vectors (codebook shared across lists, query LUT "
    "computed once), here each vector's PQ codes quantize its RESIDUAL "
    "v - c(list) — the quantity that is actually small once coarse "
    "routing has explained the cluster — and the query's lookup table "
    "is therefore PER PROBED LIST (q - c_l against the residual "
    "sub-codebook), which is the real cost model of the production "
    "index: nprobe LUT builds per query, each O(m x ks x sd), still "
    "broadcast-sized. Sub-codebook entries are deterministic id-picked "
    "residual slices (vec_id % 37 = 0, < 592 -> ks<=16 codes/subspace) "
    "so the DuckDB oracle reproduces assignment -> residual -> encode "
    "-> per-list LUT -> ADC bit-identically; the TRAINED per-list "
    "variant (kmeans seam) is the pytest composition test "
    "(tests/test_clustering.py::test_residual_ivfadc_beats_raw_codes_"
    "on_clustered_geometry). FP-exactness: residuals are one exact "
    "elementwise subtraction in both engines (zip_with vs "
    "list_transform over an index list); every distance is the fold "
    "dot of a difference array (dot_fixed == list_dot_product, the "
    "q139 identity); the ADC fold runs in sorted subspace order. "
    "Scale: identical to q139 plus one broadcast-sized residual LUT "
    "per probed list; the searched index is still coarse id + m codes "
    "(~9 B/vector), raw vectors never enter the search path. "
    "Reference counterpart: none (north-star extension).",
    tags=("vector", "ann", "pq", "ivf", "residual", "llm"),
)
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vector import dot_fixed

    m, sd, nprobe = 8, 8, 4
    emb = _emb(spark, sf_dir)
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    based = base.select("vec_id", "v", dot_fixed("v", "v", 64).alias("nn"))
    cents = base.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 3200)
    ).select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        dot_fixed("v", "v", 64).alias("cn2"),
    )

    def sq(an, bn, a, b, n):
        return (
            F.col(an) + F.col(bn) - F.lit(2.0) * dot_fixed(F.col(a), F.col(b), n)
        )

    def sqdiff(a, b, n):
        # squared L2 via an explicit difference array: one exact
        # elementwise subtraction then the fold dot — the residual-space
        # form both engines spell identically (zip_with here,
        # list_transform over generate_series in the oracle)
        d = F.zip_with(a, b, lambda x, y: x - y)
        return dot_fixed(d, d, n)

    # assignment argmin as a MIN_BY hash aggregate over ids only (the
    # r09 q145 spill finding): identical row to row_number
    # orderBy(d, c_id) — c_id totalizes the order — and the N x lists
    # expansion collapses map-side with a tiny per-row fold state.
    # (Ids only deliberately: carrying the (cv, v) vectors through the
    # fold was measured 1.7x SLOWER cold at sf10.0 — 128-double struct
    # construction per crossed row dwarfs the rejoin it saves.)
    asg = (
        based.crossJoin(F.broadcast(cents))
        .withColumn("d", sq("nn", "cn2", "v", "cv", 64))
        .groupBy("vec_id")
        .agg(F.min_by("c_id", F.struct("d", "c_id")).alias("c_id"))
        .select("vec_id", "c_id")
    )
    res = (
        asg.join(base, "vec_id")
        .join(F.broadcast(cents.select("c_id", "cv")), "c_id")
        .select(
            "vec_id",
            "c_id",
            F.zip_with("v", "cv", lambda x, y: x - y).alias("r"),
        )
    )
    sub = spark.range(m).select(F.col("id").cast("int").alias("j"))
    start = F.col("j") * sd + 1
    rsub = res.crossJoin(F.broadcast(sub)).select(
        "j", "vec_id", F.slice("r", start, sd).alias("rs")
    )
    bsub = rsub.filter(
        (F.col("vec_id") % 37 == 0) & (F.col("vec_id") < 592)
    ).select("j", F.col("vec_id").alias("b_id"), F.col("rs").alias("bs"))
    enc = (
        rsub.join(F.broadcast(bsub), "j")
        .withColumn("d", sqdiff(F.col("rs"), F.col("bs"), sd))
        .groupBy("vec_id", "j")
        .agg(F.min_by("b_id", F.struct("d", "b_id")).alias("code"))
        .select("j", "vec_id", "code")
    )
    qv = based.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nn").alias("qn"),
    )
    w_probe = Window.partitionBy("q_id").orderBy("d", "c_id")
    probe = (
        qv.crossJoin(F.broadcast(cents))
        .withColumn("d", sq("qn", "cn2", "qv", "cv", 64))
        .withColumn("_rn", F.row_number().over(w_probe))
        .filter(F.col("_rn") <= nprobe)
        .select("q_id", "c_id")
    )
    qres = (
        probe.join(qv.select("q_id", "qv"), "q_id")
        .join(F.broadcast(cents.select("c_id", "cv")), "c_id")
        .select(
            "q_id",
            "c_id",
            F.zip_with("qv", "cv", lambda x, y: x - y).alias("qr"),
        )
    )
    qrsub = qres.crossJoin(F.broadcast(sub)).select(
        "j", "q_id", "c_id", F.slice("qr", start, sd).alias("qrs")
    )
    lut = (
        qrsub.join(F.broadcast(bsub), "j")
        .select(
            "j",
            "q_id",
            "c_id",
            "b_id",
            sqdiff(F.col("qrs"), F.col("bs"), sd).alias("dq"),
        )
    )
    cand = (
        probe.join(asg, "c_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "c_id", "vec_id")
    )
    adc = (
        cand.join(enc, "vec_id")
        .join(
            F.broadcast(lut),
            (lut["j"] == enc["j"])
            & (lut["b_id"] == enc["code"])
            & (lut["q_id"] == cand["q_id"])
            & (lut["c_id"] == cand["c_id"]),
        )
        .select(cand["q_id"].alias("q_id"), "vec_id", enc["j"].alias("j"), "dq")
        .groupBy("q_id", "vec_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("j", "dq"))),
                F.lit(0.0),
                lambda acc, x: acc + x["dq"],
            ).alias("adc")
        )
    )
    w_out = Window.partitionBy("q_id").orderBy("adc", "vec_id")
    return (
        adc.withColumn("_rn", F.row_number().over(w_out))
        .filter(F.col("_rn") <= 10)
        .select("q_id", "vec_id", F.round("adc", 6).alias("adc_dist"))
    )


# ---------------------------------------------------------------------------
# q144 — INCREMENTAL LSH maintenance: delta docs vs the corpus
# ---------------------------------------------------------------------------
@L.add(
    "q144_incremental_lsh_pairs",
    oracle=f"""
WITH {_SQL_MINHASH_CAND},
scored AS (
  SELECT id_a, id_b,
         len(list_intersect(sa.hs, sb.hs))::DOUBLE / len(list_distinct(sa.hs || sb.hs)) AS j
  FROM cand
  JOIN hsets sa ON sa.doc_id = cand.id_a
  JOIN hsets sb ON sb.doc_id = cand.id_b
)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM scored
WHERE j >= 0.5 AND (id_a % 7 = 0 OR id_b % 7 = 0)
""",
    doc="Incremental near-dup maintenance (operators/similarity.py:"
    "incremental_lsh_pairs) — the daily-crawl-increment shape: docs with "
    "doc_id % 7 = 0 play the NEW batch, the rest the existing corpus; "
    "the engine bands only the delta, joins delta bands against the "
    "base+delta band table, and verifies candidates — base-vs-base "
    "pairs are never re-enumerated, so per-increment work is "
    "O(|delta| x bands) join probes against the stored band index. "
    "The spec drives the FULL production seam: build_lsh_index "
    "materializes the (id, band, band_key) band table AND the (id, hs) "
    "60-bit shingle-hash table to parquet, reads both back, and passes "
    "them as base_bands/base_hashes — the increment consumes a stored "
    "artifact with no lineage back to the base corpus and re-shingles "
    "nothing (the r09 verdict's #3 ask: driver evidence for the seam "
    "the 100 TB story depends on). "
    "The oracle exploits the construction equivalence: delta-joined "
    "candidates == the FULL q21 pair set filtered to pairs touching "
    "delta (same shared _SQL_MINHASH_CAND chain, one extra predicate), "
    "so the hash-match certifies the incremental path produces exactly "
    "the full recomputation's answer for the affected pairs — the "
    "correctness contract an incremental index must honor. Same "
    "exact-Jaccard verify on 60-bit shingle hashes; precision 1.0 by "
    "construction. Reference counterpart: none (north-star extension).",
    tags=("dedup", "lsh", "incremental", "llm"),
)
def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..operators.similarity import build_lsh_index, incremental_lsh_pairs

    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 7 != 0)
    delta = docs.filter(F.col("doc_id") % 7 == 0)
    # THE production seam, end to end: materialize the band + hash-set
    # index to parquet and read it back, so the increment consumes a
    # genuinely STORED artifact (no shared lineage with `base`) and
    # never re-shingles a single base doc. The write is the one-time
    # index build a real pipeline amortizes across increments; this
    # spec pays it per run to keep the query self-contained. The path
    # is unique PER CALL (mkdtemp), not keyed by sf_dir alone — two
    # concurrent harness runs (bench + correctness) must never race an
    # overwrite against a read — and is removed at interpreter exit
    # (not earlier: the returned DataFrame reads it lazily at collect).
    band_tbl, hash_tbl = build_lsh_index(base)
    root = tempfile.mkdtemp(prefix="sg_q144_lsh_index_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    band_tbl.write.parquet(os.path.join(root, "bands"))
    hash_tbl.write.parquet(os.path.join(root, "hashes"))
    stored_bands = spark.read.parquet(os.path.join(root, "bands"))
    stored_hashes = spark.read.parquet(os.path.join(root, "hashes"))
    pairs = incremental_lsh_pairs(
        base, delta, base_bands=stored_bands, base_hashes=stored_hashes
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# q145 — TRAINED residual IVFADC: recall floor + probe monotonicity
# ---------------------------------------------------------------------------
@L.add(
    "q145_trained_ivfadc_recall",
    # The production-shaped index (kmeans-trained coarse codebook ->
    # per-list residual PQ via operators/similarity.py:ivfadc_topk) is
    # float-fold nondeterministic in its trained centroids, so per-row
    # values are not cross-engine-checkable; like q48 the oracle pins
    # the pipeline's DETERMINISTIC invariants instead, and the strong
    # value-level checks live in tests/test_clustering.py (saturated-
    # codebook exactness; residual-beats-raw on clustered geometry).
    oracle="""
SELECT (SELECT count(*) FROM embeddings WHERE vec_id < 8) AS n_queries,
       true AS recall_floor_ok,
       true AS coverage_monotone,
       true AS recall_le_coverage
""",
    doc="Driver evidence for the TRAINED ANN path (the r08 verdict's #2 "
    "ask): kmeans_centroids (operators/clustering.py) feeds ivfadc_topk "
    "(operators/similarity.py) in its production residual form, and the "
    "spec checks three invariants against an in-plan exact squared-L2 "
    "top-10 leg: (1) recall floor — ADC hits at nprobe=8 recover >= 25% "
    "of the exact neighbors whose coarse list was probed (the "
    "CONDITIONAL form isolates PQ ranking quality from routing "
    "coverage; measured 0.39-0.46 across sf0.001-0.1 where lists hold "
    "~50 vectors, and re-verified true at sf1.0/sf3.0 where "
    "kmeans_centroids' driver-state bound — DEFAULT_SEED_CAP=256, which "
    "with this corpus's id layout pins the codebook at 40 lists — "
    "coarsens lists to 500-1500 vectors: an empirical floor re-checked "
    "per measured rung, NOT a scale-free constant); "
    "(2) coverage monotonicity — the probed-list candidate coverage at "
    "nprobe=8 >= at nprobe=2, exact by probe-set nesting; (3) recall <= "
    "coverage — every ADC hit's list was probed, tying the operator's "
    "internal assignment/probing bit-exactly to the spec's independent "
    "recomputation (same dot_fixed difference-fold, same (d, c_id) "
    "tie-break, same collected centroid table). Scale: the exact leg is "
    "8 broadcast queries against the corpus (correctness baseline only); "
    "the index path is the audited q141 shape — broadcast codebooks, one "
    "fold shuffle, 9 B/vector search representation. Reference "
    "counterpart: none (north-star extension).",
    tags=("vector", "ann", "pq", "ivf", "residual", "ml", "llm"),
)
def q145(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vector import dot_fixed
    from ..operators.clustering import kmeans_centroids
    from ..operators.similarity import ivfadc_topk

    k, nprobe_lo, nprobe_hi = 10, 2, 8
    emb = _emb(spark, sf_dir)
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )

    def sqdiff(a, b):
        d = F.zip_with(a, b, lambda x, y: x - y)
        return dot_fixed(d, d, 64)

    # exact leg: brute-force squared-L2 top-k per query (self excluded).
    # Persisted: it feeds BOTH the recall join (hits) and the coverage
    # recomputation (nn_asg) — unpersisted, the corpus-wide crossJoin +
    # window ran twice in the final plan (guide §5; the frame is
    # |queries| x k rows at any corpus size)
    w_x = Window.partitionBy("q_id").orderBy("d", "vec_id")
    exact = track_persist(
        base.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("d", sqdiff(F.col("v"), F.col("qv")))
        .withColumn("_rn", F.row_number().over(w_x))
        .filter(F.col("_rn") <= k)
        .select("q_id", "vec_id")
        .persist()
    )

    cents = kmeans_centroids(emb)  # trained coarse codebook (driver state)
    queries = qv.select("q_id", "qv")
    hi = ivfadc_topk(emb, queries, cents, k=k, nprobe=nprobe_hi, ks=32)

    # independent probe-rank / assignment recomputation (same float fold
    # and tie-break as the operator) for the coverage accounting
    w_p = Window.partitionBy("q_id").orderBy("d", "c_id")
    probes = (
        qv.crossJoin(F.broadcast(cents))
        .withColumn("d", sqdiff(F.col("qv"), F.col("cv")))
        .withColumn("rnp", F.row_number().over(w_p))
        .select("q_id", "c_id", "rnp")
    )
    w_a = Window.partitionBy("q_id", "vec_id").orderBy("d", "c_id")
    nn_asg = (
        exact.join(base, "vec_id")
        .crossJoin(F.broadcast(cents))
        .withColumn("d", sqdiff(F.col("v"), F.col("cv")))
        .withColumn("_ra", F.row_number().over(w_a))
        .filter(F.col("_ra") == 1)
        .select("q_id", "vec_id", "c_id")
    )
    # cov feeds the two coverage counters (nprobe lo/hi); persist the
    # |queries| x k frame so the assignment recomputation (a second
    # corpus-broadcast cross + window) runs once, not twice
    cov = track_persist(nn_asg.join(probes, ["q_id", "c_id"], "left").persist())

    nq = qv.agg(F.count(F.lit(1)).alias("n_queries"))
    h_hi = exact.join(hi, ["q_id", "vec_id"]).agg(
        F.count(F.lit(1)).alias("hits_hi")
    )
    c_lo = cov.filter(F.col("rnp") <= nprobe_lo).agg(
        F.count(F.lit(1)).alias("cov_lo")
    )
    c_hi = cov.filter(F.col("rnp") <= nprobe_hi).agg(
        F.count(F.lit(1)).alias("cov_hi")
    )
    return (
        nq.crossJoin(h_hi)
        .crossJoin(c_lo)
        .crossJoin(c_hi)
        .select(
            "n_queries",
            (F.col("hits_hi") >= 0.25 * F.col("cov_hi")).alias(
                "recall_floor_ok"
            ),
            (F.col("cov_hi") >= F.col("cov_lo")).alias("coverage_monotone"),
            (F.col("hits_hi") <= F.col("cov_hi")).alias("recall_le_coverage"),
        )
    )


# ---------------------------------------------------------------------------
# q147 — all-vector approximate NN via IVF (embedding dedup at scale)
# ---------------------------------------------------------------------------
@L.add(
    "q147_ivf_all_nn",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS md FROM e),
cents AS (SELECT vec_id AS c_id, v AS cv FROM e, m WHERE vec_id % m.md = 0),
rank_ac AS (
  SELECT e.vec_id, cents.c_id,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           list_dot_product(e.v, cv)
             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv, cv)))
           DESC, c_id) AS rn
  FROM e, cents
),
asg AS (SELECT vec_id, c_id FROM rank_ac WHERE rn = 1),
probe AS (SELECT vec_id AS q_id, c_id FROM rank_ac WHERE rn <= 2),
s AS (
  SELECT p.q_id, a.vec_id AS nn_id,
         list_dot_product(qe.v, ae.v)
           / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ae.v, ae.v)))
           AS c
  FROM probe p
  JOIN asg a ON a.c_id = p.c_id AND a.vec_id <> p.q_id
  JOIN e qe ON qe.vec_id = p.q_id
  JOIN e ae ON ae.vec_id = a.vec_id
)
SELECT vec_id, nn_id, round(c, 6) AS score FROM (
  SELECT q_id AS vec_id, nn_id, c,
         row_number() OVER (PARTITION BY q_id ORDER BY c DESC, nn_id) AS rn
  FROM s
) WHERE rn = 1
""",
    doc="All-vector approximate nearest neighbor via IVF routing "
    "(operators/similarity.py:ivf_all_nn) — the scale path q33's exact "
    "all-pairs NN documents: every vector probes its nprobe=2 nearest "
    "inverted lists and takes its best cosine neighbor among their "
    "members — embedding-dedup candidate generation that touches nprobe "
    "lists per vector, never all pairs. CODEBOOK SIZING is the load-"
    "bearing choice for the all-vector workload and differs from q29 "
    "deliberately: with queries == corpus, routing costs N x nlists "
    "and candidate scoring costs N x nprobe x (N/nlists), so q29's "
    "FIXED id-capped codebook is O(N^2/nlists) in scoring (measured "
    "32s at sf1.0) and a corpus-proportional mod-50 codebook is "
    "O(N^2/50) in routing (measured 96s at sf3.0). The spec uses the "
    "operator's default: id stride ceil(sqrt(count)) — the FAISS "
    "nlist ~ sqrt(N) sizing rule — balancing both legs at O(N^1.5) "
    "(measured 11s at sf1.0 / 27s at sf3.0, a 2.1x ratio at 3x data); "
    "the oracle derives the identical stride from the same count. The "
    "growing codebook broadcast is the documented residual trade: at "
    "extreme scale assignment goes hierarchical (coarse-route to "
    "centroid shards) or the c_id join runs bucket-co-partitioned "
    "instead of broadcast. "
    "The engine side has NO corpus-wide sort and NO corpus-scaling "
    "aggregation state anywhere: the codebook collapses to a 1-row "
    "array (one bounded collect_list group) and routing + probe "
    "selection are a single per-row transform->array_sort->slice over "
    "it — assignment is element 0 of the same slice, and the "
    "|corpus| x |lists| expansion with its per-vector collect_list "
    "hash aggregates is GONE: 2 shuffles, down from 5, and the "
    "expansion never crosses an exchange (collect_list partials don't "
    "reduce, so the old shape shuffled corpus x lists structs). "
    "Same-session noop-forced comparison at sf1.0: 7.3s vs the "
    "aggregate-probe form's 8.2s, with 140x less shuffle traffic at "
    "sf0.01. The ascending "
    "(-cos, c_id) sort realizes exactly the "
    "window's (cos DESC, c_id) selection, pinned by the pytest "
    "equivalence against ivf_topk(queries=corpus, k=1). Cosines are "
    "the proven dot_fixed/list_dot_product identity, so the oracle "
    "hash-checks routing AND scores. Reference counterpart: none "
    "(north-star extension).",
    tags=("vector", "ann", "ivf", "dedup", "llm"),
)
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_all_nn

    nn = ivf_all_nn(_emb(spark, sf_dir), nprobe=2)
    return nn.select("vec_id", "nn_id", F.round("score", 6).alias("score"))


# ---------------------------------------------------------------------------
# q162 — graph-ANN recall curve (k-NN graph + NSW beam search, beam sweep)
# ---------------------------------------------------------------------------

def _q162_cos(a_vec: str, b_vec: str) -> str:
    return (
        f"list_dot_product({a_vec}, {b_vec})"
        f" / (sqrt(list_dot_product({a_vec}, {a_vec}))"
        f" * sqrt(list_dot_product({b_vec}, {b_vec})))"
    )


def _q162_hop(i: int) -> str:
    """One unrolled beam-search hop CTE: f{i} = per-(beam, query)
    top-beam of f{i-1} ∪ neighbors(f{i-1}) — the exact monotone
    recurrence operators/similarity.py:graph_beam_search_sweep runs."""
    return f"""
f{i} AS (
  SELECT beam, q_id, vec_id, c FROM (
    SELECT beam, q_id, vec_id, c,
           row_number() OVER (PARTITION BY beam, q_id
                              ORDER BY c DESC, vec_id) AS rn
    FROM (
      SELECT DISTINCT beam, q_id, vec_id, c FROM (
        SELECT beam, q_id, vec_id, c FROM f{i - 1}
        UNION ALL
        SELECT h.beam, h.q_id, g.dst AS vec_id,
               {_q162_cos('q.qv', 'eb.v')} AS c
        FROM f{i - 1} h
        JOIN g ON g.src = h.vec_id
        JOIN q ON q.q_id = h.q_id
        JOIN e eb ON eb.vec_id = g.dst
        WHERE g.dst <> h.q_id
      )
    )
  ) WHERE rn <= beam
)"""


#: q162's full oracle, shared VERBATIM by q164 (the stored-adjacency
#: serving spec): the graph is a deterministic function of the corpus,
#: so writing it to parquet and reading it back must not change a
#: single result row — same equality-of-oracles pattern as q158
#: importing q154's (plans/streamq.py).
_Q162_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
mn AS (SELECT min(vec_id) AS eid FROM e),
g AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_q162_cos('a.v', 'b.v')} DESC,
                                       b.vec_id) AS rn
    FROM e a JOIN e b ON a.vec_id <> b.vec_id
  ) WHERE rn <= 8
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e
      WHERE vec_id > (SELECT eid FROM mn) ORDER BY vec_id LIMIT 8),
beams(beam) AS (VALUES (4), (8), (16)),
f0 AS (
  SELECT b.beam, q.q_id, en.vec_id, {_q162_cos('q.qv', 'en.v')} AS c
  FROM beams b CROSS JOIN q
  JOIN e en ON en.vec_id = (SELECT eid FROM mn)
),
{','.join(_q162_hop(i) for i in (1, 2, 3, 4))},
appr AS (
  SELECT beam, q_id, vec_id FROM (
    SELECT beam, q_id, vec_id,
           row_number() OVER (PARTITION BY beam, q_id
                              ORDER BY c DESC, vec_id) AS rn
    FROM f4
  ) WHERE rn <= 10
),
exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_q162_cos('q.qv', 'e.v')} DESC,
                                       e.vec_id) AS rn
    FROM q, e WHERE e.vec_id <> q.q_id
  ) WHERE rn <= 10
),
nq AS (SELECT count(*)::BIGINT AS n_queries FROM q),
h AS (
  SELECT a.beam, count(*)::BIGINT AS n_hits
  FROM appr a JOIN exact x ON a.q_id = x.q_id AND a.vec_id = x.vec_id
  GROUP BY 1
)
SELECT b.beam, nq.n_queries,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       round(coalesce(h.n_hits, 0)::DOUBLE / (10.0 * nq.n_queries), 6)
         AS recall_at_10
FROM beams b CROSS JOIN nq LEFT JOIN h ON h.beam = b.beam
"""


@L.add(
    "q162_graph_ann_recall",
    oracle=_Q162_ORACLE,
    doc="Graph-based ANN — the family the IVF/SRP/PQ tier lacked (the "
    "r11 verdict's stretch item): an exact top-8 cosine k-NN graph "
    "(operators/similarity.py:knn_graph — the all_pairs_nn block-matmul "
    "shape emitting per-cell top-g, one per-src window to finish) "
    "searched by an NSW-style MONOTONE beam recurrence "
    "(graph_beam_search_sweep): from the fixed min-id entry point, "
    "C_{{i+1}} = top-beam(C_i ∪ neighbors(C_i)) for 4 hops, scores = "
    "query cosine, ties by smaller id — swept over beam ∈ {{4, 8, 16}} "
    "and graded as recall@10 of q22's brute-force exact top-10, the "
    "q133 operating-curve pattern. Everything is deterministic BY "
    "CONSTRUCTION (no random levels, fixed entry, fixed hop count), so "
    "the DuckDB oracle replays the IDENTICAL recurrence as four "
    "unrolled hop CTEs over the same SQL-derived graph and both engines "
    "materialize approximate AND exact sets — a green row certifies "
    "graph construction and search jointly, integer-exact (the only FP "
    "division is the final recall ratio). Trajectories are not nested "
    "across beams (unlike q133's probe sets), so each beam runs its own "
    "recurrence against the ONE persisted adjacency. The queries are "
    "the 8 smallest ids strictly above the entry id — derived, not "
    "assumed, in both engines — so query/entry collision is impossible "
    "and the self-row is excluded at every expansion. Serving scale: "
    "the denormalized adjacency (graph_adjacency — edges carry dst "
    "vectors, HNSW-style) means a hop is a broadcast-frontier join + "
    "per-query window over <= beam*(g+1) rows; nothing corpus-sized "
    "moves at serve time, and the exact GEMM builder swaps for "
    "ivf_all_nn routing or NN-Descent at 100 TB behind the same edge "
    "schema. Oracle cost note: the O(n^2) graph CTE only ever runs at "
    "the differential tiers (sf <= 0.01, n <= 2000 vectors). Reference "
    "counterpart: none (north-star extension).",
    tags=("vector", "ann", "graph", "recall", "llm"),
)
def q162(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        brute_force_topk,
        graph_adjacency,
        graph_beam_search_sweep,
        graph_entry_point,
        make_query_set,
    )

    beams = (4, 8, 16)
    emb = _emb(spark, sf_dir)
    entry = graph_entry_point(emb)
    adj = graph_adjacency(emb, g=8)
    qs = (
        make_query_set(emb, F.lit(True))
        .crossJoin(F.broadcast(entry.select("e_id")))
        .filter(F.col("q_id") > F.col("e_id"))
        .orderBy("q_id")
        .limit(8)
        .drop("e_id")
    )
    exact = brute_force_topk(emb, qs, k=10).select("q_id", "vec_id")
    sweep = graph_beam_search_sweep(adj, entry, qs, beams=beams, hops=4, k=10)
    hits = (
        sweep.join(exact, ["q_id", "vec_id"])
        .groupBy("beam")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    sdf = spark.createDataFrame([(int(b),) for b in beams], "beam int")
    nq = qs.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    return (
        sdf.crossJoin(F.broadcast(nq))
        .join(hits, "beam", "left")
        .select(
            "beam",
            "n_queries",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / (10.0 * F.col("n_queries")),
                6,
            ).alias("recall_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# q163 — NN-Descent convergence curve (approximate graph build vs exact)
# ---------------------------------------------------------------------------

def _q163_round(i: int) -> str:
    """One unrolled NN-Descent round: the LOCAL JOIN candidate set
    (current ∪ reverse ∪ co-neighbors through any shared anchor) scored
    with the exact cosine, top-8 per src — the recurrence
    operators/similarity.py:nn_descent_rounds runs."""
    return f"""
u{i} AS (SELECT src AS u, dst AS x FROM g{i - 1}
         UNION ALL SELECT dst, src FROM g{i - 1}),
c{i} AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM g{i - 1}
    UNION ALL SELECT u AS src, x AS dst FROM u{i}
    UNION ALL SELECT a.x AS src, b.x AS dst FROM u{i} a JOIN u{i} b ON a.u = b.u
  ) WHERE src <> dst
),
g{i} AS (
  SELECT src, dst FROM (
    SELECT c.src, c.dst,
           row_number() OVER (PARTITION BY c.src
                              ORDER BY {_q162_cos('ea.v', 'eb.v')} DESC,
                                       c.dst) AS rn
    FROM c{i} c JOIN e ea ON ea.vec_id = c.src
    JOIN e eb ON eb.vec_id = c.dst
  ) WHERE rn <= 8
)"""


@L.add(
    "q163_nn_descent_curve",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
xg AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_q162_cos('a.v', 'b.v')} DESC,
                                       b.vec_id) AS rn
    FROM e a JOIN e b ON a.vec_id <> b.vec_id
  ) WHERE rn <= 8
),
mx AS (SELECT max(vec_id) + 1 AS n FROM e),
g0 AS (
  SELECT DISTINCT src, dst FROM (
    SELECT a.vec_id AS src,
           (('0x' || substr(md5(a.vec_id::VARCHAR || ':' || s.j::VARCHAR),
                            1, 15))::UBIGINT % mx.n)::BIGINT AS dst
    FROM e a CROSS JOIN generate_series(1, 8) s(j) CROSS JOIN mx
  ) sd JOIN e b ON b.vec_id = sd.dst
  WHERE src <> dst
),
{','.join(_q163_round(i) for i in (1, 2))},
nx AS (SELECT count(*)::BIGINT AS n_exact FROM xg),
h AS (
  SELECT 0 AS rnd, count(*)::BIGINT AS n_hits
  FROM g0 JOIN xg ON g0.src = xg.src AND g0.dst = xg.dst
  UNION ALL
  SELECT 1, count(*)::BIGINT FROM g1 JOIN xg ON g1.src = xg.src AND g1.dst = xg.dst
  UNION ALL
  SELECT 2, count(*)::BIGINT FROM g2 JOIN xg ON g2.src = xg.src AND g2.dst = xg.dst
)
SELECT h.rnd, nx.n_exact, h.n_hits,
       round(h.n_hits::DOUBLE / nx.n_exact, 6) AS edge_recall
FROM h CROSS JOIN nx
""",
    doc="NN-Descent (Dong et al., WWW'11) as the 100 TB k-NN-graph "
    "builder q162's exact GEMM documents as its scale replacement — "
    "made fully DETERMINISTIC (the portable-md5 pseudo-random seed — "
    "the q64/q104 idiom — instead of RNG init; an id-stride seed was "
    "measured to kill convergence outright, its 2-hop neighborhoods "
    "are just wider id intervals; smaller-dst tie-breaks) so the "
    "DuckDB oracle replays the IDENTICAL "
    "recurrence: two unrolled LOCAL-JOIN rounds (candidates = current "
    "∪ reverse ∪ co-neighbors through any shared anchor — fwd∘fwd, "
    "fwd∘rev, rev∘fwd, rev∘rev in one self-join; a fwd-only two-hop "
    "propagates ~2x slower per round, measured) scored with the exact "
    "cosine, top-8 per src. Graded as the per-round EDGE RECALL vs the "
    "exact top-8 graph — the convergence curve certified edge-for-edge, "
    "integers only (the single FP division is the final ratio). The "
    "sf0.01 tier is angle-uniform 64-dim — NN-Descent's HARD regime, "
    "little locality to exploit — and the measured curve is "
    "0.014 -> 0.40 -> 0.62 from the md5 seed; on clustered geometry "
    "the same operator passes 0.7 by round 2 — pinned by "
    "tests/test_llm_operators.py::"
    "test_nn_descent_converges_on_clustered_geometry (20 planted "
    "clusters: round-2 recall >= 0.7 vs round-0 < 0.1). Scale: a round "
    "is O(n*g^2) candidate rows through two corpus hash joins and one "
    "per-src window — LINEAR in n vs the GEMM's O(n^2); no pandas UDF "
    "anywhere in the lineage, so per-round graphs plain-persist. The "
    "exact leg reuses q162's persisted adjacency via CacheManager "
    "plan-dedup when both run in one session. Reference counterpart: "
    "none (north-star extension).",
    tags=("vector", "ann", "graph", "recall", "llm"),
)
def q163(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import graph_adjacency, nn_descent_rounds

    emb = _emb(spark, sf_dir)
    exact = graph_adjacency(emb, g=8).select("src", "dst")
    rounds = nn_descent_rounds(emb, g=8, rounds=2)
    nx = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    # grade all rounds in ONE join + ONE aggregation: the per-round
    # graphs are already persisted by nn_descent_rounds, so tagging each
    # with its round id and unioning costs nothing extra, while the
    # r11 shape joined the exact adjacency once PER ROUND (3 joins, 3
    # aggregations — guide §2.4). A left join + conditional count keeps
    # rounds with zero HITS in the output exactly as the per-round
    # aggregate did (count over an all-miss frame = one 0-row); a round
    # whose graph has zero ROWS outright would vanish from the groupBy,
    # so a literal rounds frame is left-joined back underneath (ADVICE
    # r12) — len(rounds) rows, broadcast, closing the only gap in the
    # claimed exact equivalence with the old per-round aggregates.
    tagged = None
    for r, gdf in enumerate(rounds):
        t = gdf.select(F.lit(int(r)).alias("rnd"), "src", "dst")
        tagged = t if tagged is None else tagged.unionByName(t)
    grouped = (
        tagged.join(exact.withColumn("_hit", F.lit(1)), ["src", "dst"], "left")
        .groupBy("rnd")
        .agg(F.count("_hit").cast("bigint").alias("n_hits"))
    )
    all_rounds = spark.createDataFrame(
        [(i,) for i in range(len(rounds))], "rnd int"
    )
    per_round = all_rounds.join(grouped, "rnd", "left").select(
        "rnd",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
    )
    return per_round.crossJoin(F.broadcast(nx)).select(
        "rnd",
        "n_exact",
        "n_hits",
        F.round(F.col("n_hits").cast("double") / F.col("n_exact"), 6).alias(
            "edge_recall"
        ),
    )


# ---------------------------------------------------------------------------
# q164 — graph-ANN serving from the STORED adjacency (parquet round-trip)
# ---------------------------------------------------------------------------
@L.add(
    "q164_graph_ann_from_stored_index",
    oracle=_Q162_ORACLE,
    doc="q162's beam-search sweep served from a PARQUET-STORED adjacency "
    "— the graph-ANN family joins the repo's stored-index lifecycle "
    "(q144/q156 band+hash tables, q157 codebook+lists): build the "
    "denormalized adjacency once, write it out, and run every search "
    "against the READ-BACK table with zero lineage to the in-memory "
    "build (the q156 zero-reshingle pattern applied to vectors). The "
    "oracle is q162's VERBATIM (_Q162_ORACLE, imported not copied — "
    "the q158/q154 equality-of-oracles pattern): the graph is a "
    "deterministic function of the corpus, so storage must not change "
    "a single result row — a green row certifies the parquet "
    "round-trip preserves the index exactly (vector arrays included) "
    "AND that serving needs nothing but the stored table: at 100 TB "
    "the adjacency lives bucketed by src in object storage, searchers "
    "mount it read-only, and no executor ever re-scores the corpus. "
    "Per-call unique dir + exit-time cleanup (the q144 protocol). "
    "Reference counterpart: none (north-star extension).",
    tags=("vector", "ann", "graph", "storage", "llm"),
)
def q164(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from ..operators.similarity import (
        brute_force_topk,
        graph_adjacency,
        graph_beam_search_sweep,
        graph_entry_point,
        make_query_set,
    )

    beams = (4, 8, 16)
    emb = _emb(spark, sf_dir)
    entry = graph_entry_point(emb)
    root = tempfile.mkdtemp(prefix="sg_q164_graph_index_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    graph_adjacency(emb, g=8).write.parquet(os.path.join(root, "adjacency"))
    stored_adj = spark.read.parquet(os.path.join(root, "adjacency"))
    qs = (
        make_query_set(emb, F.lit(True))
        .crossJoin(F.broadcast(entry.select("e_id")))
        .filter(F.col("q_id") > F.col("e_id"))
        .orderBy("q_id")
        .limit(8)
        .drop("e_id")
    )
    exact = brute_force_topk(emb, qs, k=10).select("q_id", "vec_id")
    sweep = graph_beam_search_sweep(
        stored_adj, entry, qs, beams=beams, hops=4, k=10
    )
    hits = (
        sweep.join(exact, ["q_id", "vec_id"])
        .groupBy("beam")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    sdf = spark.createDataFrame([(int(b),) for b in beams], "beam int")
    nq = qs.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    return (
        sdf.crossJoin(F.broadcast(nq))
        .join(hits, "beam", "left")
        .select(
            "beam",
            "n_queries",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / (10.0 * F.col("n_queries")),
                6,
            ).alias("recall_at_10"),
        )
    )
