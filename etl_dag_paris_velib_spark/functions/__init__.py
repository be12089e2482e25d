from .scalar import lineage_exprs, with_lineage
from .text import (
    bpe_token_count,
    doc_fingerprint,
    minhash_signature,
    minhash_signature_int,
    normalized_text,
    shingles,
    simhash64,
    token_count,
    tokens,
    word_shingles,
)
from .udfs import make_chunk_udtf, make_minhash_sig_udf, simhash64_udf
from .vector import cosine_similarity, dot, l2_norm

__all__ = [
    "lineage_exprs",
    "with_lineage",
    "bpe_token_count",
    "doc_fingerprint",
    "minhash_signature",
    "minhash_signature_int",
    "normalized_text",
    "shingles",
    "simhash64",
    "token_count",
    "tokens",
    "word_shingles",
    "make_chunk_udtf",
    "make_minhash_sig_udf",
    "simhash64_udf",
    "cosine_similarity",
    "dot",
    "l2_norm",
]
