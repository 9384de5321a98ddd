"""Deterministic embedding + scoring stubs.

The reference calls external model services for embeddings
(HuggingFaceAdapter.scala:29-60, all-MiniLM-L6-v2 → 384-dim cosine space,
VectorStoreInitializer.scala:79-81) and cross-encoder rerank scores
(TransformersRerankerAdapter.scala:37-82).  Those models aren't in this
container, so the engine ships deterministic stand-ins with the same
contract: text → unit-norm float32[384]; (query, text) → score in [0,1].
Both are pure functions of their inputs (sha256-seeded), so results are
reproducible across runs, partitionings, and cluster sizes — which is
what the correctness and resume tests require.

REAL-MODEL INJECTION: :func:`make_embed_udf` / :func:`make_rerank_udf`
accept an optional batch callable, so a real model drops in WITHOUT
touching any plan code — pass ``embed_fn`` / ``rerank_fn`` to
``api.SragEngine`` (or ``retrieval.retrieve_context`` /
``plans.indexing.build_embeddings`` directly) and every embedding/rerank
site in the engine batches through it via the same Arrow path the stubs
use.  Contract:

    embed_fn(texts: pd.Series[str]) -> iterable of float32[dim] arrays
    rerank_fn(query: str, texts: pd.Series[str]) -> iterable of floats

e.g. an ONNX MiniLM session's ``run`` wrapped in a closure.  The chunk
embedder executes inside executor Python workers on Arrow-sized batches
(model loads once per worker via lazy init inside the closure — the
standard pattern); the query embedding and the query-time rerank of the
≤200 fused candidates run on the driver, one batch call each.  Defaults
remain the deterministic stubs.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, FloatType

from srag_spark.schema import EMBEDDING_DIM


def _seed_for(text: str) -> int:
    return int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:8], "big")


def hash_embed(text: str, dim: int = EMBEDDING_DIM) -> np.ndarray:
    """Deterministic unit-norm float32 embedding of a string."""
    rng = np.random.Generator(np.random.PCG64(_seed_for(text or "")))
    v = rng.standard_normal(dim).astype(np.float32)
    n = float(np.linalg.norm(v))
    if n == 0.0:
        v[0] = 1.0
        n = 1.0
    return v / n


@pandas_udf(ArrayType(FloatType()))
def embed_udf(texts: pd.Series) -> pd.Series:
    """E1/E2 chunk- and query-embedding (Arrow-batched)."""
    return texts.map(lambda t: hash_embed(t if t is not None else ""))


def make_embed_udf(embed_fn=None):
    """Embedding pandas UDF — the stub by default, or ``embed_fn`` (see
    module docstring contract) wrapped in the identical Arrow plumbing.
    The injected callable must be picklable (module-level function or
    closure over picklable state)."""
    if embed_fn is None:
        return embed_udf

    @pandas_udf(ArrayType(FloatType()))
    def custom_embed_udf(texts: pd.Series) -> pd.Series:
        t = texts.map(lambda x: x if x is not None else "")
        return pd.Series(list(embed_fn(t)), index=t.index)

    return custom_embed_udf


def embed_query(text: str, embed_fn=None):
    """Driver-side single-query embedding through the SAME function the
    chunk embeddings used — vectors stay in one space."""
    if embed_fn is None:
        return hash_embed(text)
    return list(embed_fn(pd.Series([text or ""])))[0]


def stable_unit_score(query: str, text: str) -> float:
    """Deterministic stand-in for a cross-encoder relevance score in [0,1]."""
    h = hashlib.md5(f"{query}\x1f{text}".encode("utf-8")).hexdigest()
    return int(h[:8], 16) / float(0xFFFFFFFF)


def rerank_scores(query: str, texts, rerank_fn=None) -> list[float]:
    """Q6 rerank scores of ``texts`` for one query in ONE batch call —
    ``rerank_fn`` (see module docstring contract) or the deterministic
    stub.  Query-time reranking runs this on the driver over the ≤200
    fused candidates, like :func:`embed_query`."""
    t = pd.Series(list(texts), dtype=object).map(lambda x: x if x is not None else "")
    if rerank_fn is not None:
        return [float(s) for s in rerank_fn(query, t)]
    return [stable_unit_score(query, x) for x in t]


def make_rerank_udf(query: str, rerank_fn=None):
    """:func:`rerank_scores` as a pandas UDF over a candidate text
    column, for scoring candidates that live in a distributed frame."""

    @pandas_udf(DoubleType())
    def rerank_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(rerank_scores(query, texts, rerank_fn), index=texts.index)

    return rerank_udf
