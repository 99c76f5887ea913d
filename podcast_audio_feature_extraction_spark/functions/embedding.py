r"""Deterministic hash-embedding (SURVEY.md §2.10 E5 analog).

Stands in for the reference's YAMNet per-window 1024-d embedding
(/root/reference/src/features/YAMNetExtractor.py:43-44): a deterministic,
library-free text embedding so parity is byte-checkable. Spec (shared with
the numpy oracle, which reimplements it independently):

    for each token t of [ \t\n\f\r]+ (functions/text.split_ws):
        h   = md5(utf8(t))
        idx = uint32_be(h[0:4]) % dim
        sgn = +1 if h[4] is even else -1
        vec[idx] += sgn
    L2-normalize (leave zero vector if no tokens)

Executed as an Arrow-vectorized pandas UDF (Series -> Series of
array<double>); per-batch token hashing is memoized since transcript
vocabularies are heavily repetitive. No per-row Python UDFs anywhere
(input_hint requirement).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from podcast_audio_feature_extraction_spark.functions.text import split_ws

# the embedding width of the feature table
EMBED_DIM = 64


def _token_slot(token: str, dim: int) -> tuple[int, float]:
    h = hashlib.md5(token.encode("utf-8")).digest()
    idx = int.from_bytes(h[0:4], "big") % dim
    sgn = 1.0 if h[4] % 2 == 0 else -1.0
    return idx, sgn


def embed_text_np(text: str | None, dim: int = EMBED_DIM, _cache: dict | None = None) -> np.ndarray:
    """Engine-side single-text embedding (float64)."""
    vec = np.zeros(dim, dtype=np.float64)
    if not text:
        return vec
    cache = {} if _cache is None else _cache
    for tok in split_ws(text):
        slot = cache.get(tok)
        if slot is None:
            slot = cache[tok] = _token_slot(tok, dim)
        vec[slot[0]] += slot[1]
    n = np.linalg.norm(vec)
    if n > 0:
        vec /= n
    return vec


def make_embed_udf(dim: int = EMBED_DIM):
    """Arrow-vectorized pandas UDF: text column -> array<double> embedding."""

    @F.pandas_udf(ArrayType(DoubleType()))
    def embed(texts: pd.Series) -> pd.Series:
        cache: dict = {}
        return texts.map(lambda t: embed_text_np(t, dim, cache).tolist())

    return embed


def with_embedding(df, dim: int = EMBED_DIM):
    return df.withColumn("embedding", make_embed_udf(dim)(F.col("text")))
