"""Column-expression kernels (JVM-side, whole-stage-codegen friendly)."""

from .sax import (
    is_finite,
    sax_coarsen,
    sax_encode,
    sax_format,
    sax_letters,
    sax_mindist_parts,
    sax_parse,
    sax_parse_literal,
    sax_parse_valid,
)
from .text import (
    bpe_token_count,
    doc_hash60,
    kgram_hashes,
    lang_id,
    normalized_text,
    quality_metrics,
    rolling_fingerprint,
    shingles,
    token_count,
    tokens,
    winnow_fingerprints,
)

__all__ = [
    "bpe_token_count",
    "doc_hash60",
    "is_finite",
    "kgram_hashes",
    "lang_id",
    "normalized_text",
    "quality_metrics",
    "rolling_fingerprint",
    "sax_coarsen",
    "sax_encode",
    "sax_format",
    "sax_letters",
    "sax_mindist_parts",
    "sax_parse",
    "sax_parse_literal",
    "sax_parse_valid",
    "shingles",
    "token_count",
    "tokens",
    "winnow_fingerprints",
]
