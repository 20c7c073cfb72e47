"""Embedding generation.

Two backends behind one interface (mirrors reference models/embedding.py:18-77,
which lazily caches SentenceTransformer instances per process):

- ``hash``: deterministic seeded-RNG unit vector — the CI/test-mode embedder
  (FIXTURES.md §C). No network, no GPU, identical on driver and executors.
- ``sentence-transformers``: real model behind an import-try, loaded once per
  executor process via a module-global cache (the Spark analogue of the
  reference's ``_embedding_models`` registry at embedding.py:15-45).

At scale the embedding stage is an Arrow-batched ``pandas_udf`` — the
reference embeds the whole corpus in ONE driver-process call
(indexer.py:86-96); here it is executor-parallel, the single biggest
architectural win of the rebuild (SURVEY.md §3.1).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import TEST_EMBED_DIM

_ST_MODELS: dict[str, object] = {}  # executor-global cache, name -> model


def hash_embed_text(text: str, dim: int = TEST_EMBED_DIM) -> list[float]:
    """Deterministic unit vector from sha256-seeded PCG64 (FIXTURES.md §C)."""
    seed = int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    v = rng.standard_normal(dim)
    v /= np.linalg.norm(v)
    return v.astype(np.float32).tolist()


def hash_embed_udf(dim: int = TEST_EMBED_DIM):
    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(s: pd.Series) -> pd.Series:
        return s.map(lambda t: hash_embed_text(t, dim))

    return _embed


def st_embed_udf(model_name: str, batch_size: int = 8):
    """Real SentenceTransformer pandas_udf (opt-in; model per executor).

    batch_size=8 mirrors the reference default (embedding.py:51); the Arrow
    batch is re-chunked so GPU/host memory stays bounded.
    """

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(s: pd.Series) -> pd.Series:
        try:
            from sentence_transformers import SentenceTransformer
        except ImportError as e:  # pragma: no cover - env without torch
            raise NotImplementedError(
                "sentence-transformers not installed; use the 'hash' backend"
            ) from e
        model = _ST_MODELS.get(model_name)
        if model is None:
            model = _ST_MODELS[model_name] = SentenceTransformer(model_name)
        vecs = model.encode(
            s.tolist(), batch_size=batch_size, convert_to_numpy=True,
            normalize_embeddings=True,
        )
        return pd.Series([v.astype(np.float32).tolist() for v in vecs])

    return _embed


def embed_udf(backend: str = "hash", model_name: str | None = None,
              dim: int = TEST_EMBED_DIM):
    if backend == "hash":
        return hash_embed_udf(dim)
    if backend == "sentence-transformers":
        assert model_name is not None
        return st_embed_udf(model_name)
    raise ValueError(f"unknown embedding backend: {backend}")
