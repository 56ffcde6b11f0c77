"""Deterministic text embedder (stand-in for the reference's OpenAI embed).

The reference embeds concept names / source names with
``text-embedding-3-large`` (reference src/backend/llms/emb_model.py:28-62);
tests there mock the network call.  For an offline, reproducible engine we
use a seeded character-n-gram hashing embedder: every char 3-gram of the
lowercased text is hashed (BLAKE2b, stable across processes) to one of
``EMBED_DIM`` buckets with a ±1 sign, counts are accumulated and the vector
is L2-normalized — so cosine similarity behaves like n-gram overlap, which
preserves the retrieval semantics the linker relies on (near-identical
strings rank top).  The SAME function is used by the pipeline's pandas UDFs
and by the parity oracle (plans/oracle.py), making golden outputs exact.

Batch-level API only (``embed_texts``) so pandas UDFs stay Arrow-batched —
no per-row Spark UDFs anywhere (BASELINE.json input_hint).
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np

EMBED_DIM = 64
_NGRAM = 3
# Bump whenever the embedding function changes: vectors are a pure function
# of (text, EMBEDDER_VERSION).  The version is recorded in every
# vocab_embeddings snapshot (stage re-embeds and OVERWRITES on mismatch),
# folded into the link-config fingerprint (stale links recompute), and part
# of the vocab-index content key (the no-op build check cannot serve
# old-version vectors) — see plans/runner.py stage_vocab_embeddings /
# stage_links.
EMBEDDER_VERSION = 1


# a text's n-grams come from a small alphabet and repeat across texts
@lru_cache(maxsize=1 << 16)
def _ngram_hash(ngram: bytes) -> int:
    return int.from_bytes(
        hashlib.blake2b(ngram, digest_size=8).digest(), "big", signed=False
    )


def embed_one(text: str) -> np.ndarray:
    """Embed a single string to a float32 L2-normalized vector."""
    vec = np.zeros(EMBED_DIM, dtype=np.float64)
    if text:
        s = f"  {text.lower().strip()}  ".encode("utf-8", errors="replace")
        for i in range(len(s) - _NGRAM + 1):
            h = _ngram_hash(s[i : i + _NGRAM])
            bucket = h % EMBED_DIM
            sign = 1.0 if (h >> 8) & 1 else -1.0
            vec[bucket] += sign
    norm = float(np.linalg.norm(vec))
    if norm > 0:
        vec /= norm
    return vec.astype(np.float32)


def embed_texts(texts) -> np.ndarray:
    """Embed a batch of strings -> (n, EMBED_DIM) float32, rows L2-normalized.

    Duplicate strings are embedded once per batch (semantic dedup — the
    distributed analog of the reference's ``st.cache_data`` memoization,
    reference src/backend/auto_mapper.py:28).
    """
    cache: dict[str, np.ndarray] = {}
    out = np.zeros((len(texts), EMBED_DIM), dtype=np.float32)
    for i, t in enumerate(texts):
        t = t if isinstance(t, str) else ("" if t is None else str(t))
        v = cache.get(t)
        if v is None:
            v = embed_one(t)
            cache[t] = v
        out[i] = v
    return out
