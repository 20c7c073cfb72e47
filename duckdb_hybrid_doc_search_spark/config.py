"""Engine constants, mirroring the reference's observable defaults.

Every constant cites the reference file:line it reproduces (see SURVEY.md §6).
These are defined once and consumed by BOTH the Spark implementation and the
DuckDB oracle-SQL builders so the two can never drift.
"""

from __future__ import annotations

# BM25 parameters (DuckDB FTS defaults used by the reference index,
# reference: db.py:143-150 creates the FTS index with stemmer/stopwords
# disabled; DuckDB FTS documents k=1.2 b=0.75 as match_bm25 defaults).
BM25_K1 = 1.2
BM25_B = 0.75

# Hybrid fusion weights (reference: searcher.py:231-241 — both branches
# present -> mean; single branch -> x0.8; neither -> 0.0).
FUSION_WEIGHT_SINGLE = 0.8

# Post-fusion score threshold (reference: searcher.py:313).
SCORE_THRESHOLD = 0.01

# Per-branch and final top-k default (reference: cli.py:279-285).
TOP_K_DEFAULT = 5

# Rerank input truncation in characters (reference: models/reranker.py:86).
RERANK_TRUNCATE_CHARS = 2048

# Chunker defaults (reference: splitter.py:240-243).
CHUNK_SIZE_TOKENS = 512
CHUNK_OVERLAP_TOKENS = 50
OVERSIZE_CHAR_FACTOR = 4  # re-split sections longer than chunk_size*4 chars

# Embedding fallback dimension (reference: db.py:25). The deterministic
# hash-embedder used in tests produces TEST_EMBED_DIM-dim vectors to match
# the driver-generated embeddings.parquet tables (dim 64).
DEFAULT_EMBED_DIM = 384
TEST_EMBED_DIM = 64

# Number of decimal places scores are rounded to before ordering/output when
# comparing against the DuckDB oracle (both engines compute in float64 from
# the same inputs in the same order; rounding absorbs last-bit differences).
SCORE_ROUND = 6
