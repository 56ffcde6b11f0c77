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
# vocab_embeddings snapshot (stage re-embeds and OVERWRITES on mismatch)
# and folded into the link-config fingerprint (stale links recompute) —
# see plans/runner.py stage_vocab_embeddings / stage_links.
EMBEDDER_VERSION = 1


def _ngram_hash(ngram: bytes) -> int:
    return int.from_bytes(
        hashlib.blake2b(ngram, digest_size=8).digest(), "big", signed=False
    )


def _padded(text: str) -> bytes:
    """The bytes a text's n-grams are taken from; empty text has none."""
    if not text:
        return b""
    return f"  {text.lower().strip()}  ".encode("utf-8", errors="replace")


def embed_one(text: str) -> np.ndarray:
    """Embed a single string to a float32 L2-normalized vector — the
    definition, one n-gram at a time; :func:`embed_texts` computes the same
    bits for a whole batch."""
    vec = np.zeros(EMBED_DIM, dtype=np.float64)
    s = _padded(text)
    for i in range(len(s) - _NGRAM + 1):
        h = _ngram_hash(s[i : i + _NGRAM])
        bucket = h % EMBED_DIM
        sign = 1.0 if (h >> 8) & 1 else -1.0
        vec[bucket] += sign
    norm = float(np.linalg.norm(vec))
    if norm > 0:
        vec /= norm
    return vec.astype(np.float32)


# a text's n-grams come from a small alphabet and repeat across texts and
# batches; the key is the 3-byte window as one 24-bit int
@lru_cache(maxsize=1 << 16)
def _code_hash(code: int) -> int:
    return _ngram_hash(code.to_bytes(_NGRAM, "big"))


def embed_texts(texts) -> np.ndarray:
    """Embed a batch of strings -> (n, EMBED_DIM) float32, rows L2-normalized.

    Bit-identical to ``embed_one`` per row, in one numpy pass: every
    in-text 3-byte window of the batch becomes a 24-bit code, each distinct
    code is hashed once, and the signed counts are summed with one
    ``bincount``.  Every count is an integer, so the sums, norms and
    quotients are exact whatever order they are taken in.  ``None`` embeds
    as ``""`` and any other non-string as ``str(t)``.
    """
    n = len(texts)
    encoded = [
        _padded(t if isinstance(t, str) else ("" if t is None else str(t)))
        for t in texts
    ]
    buf = np.frombuffer(b"".join(encoded), dtype=np.uint8).astype(np.int64)
    lens = np.fromiter(map(len, encoded), dtype=np.int64, count=n)
    n_win = np.maximum(lens - (_NGRAM - 1), 0)
    # window starts: each text's first n_win byte offsets
    text_start = np.cumsum(lens) - lens
    row = np.repeat(np.arange(n, dtype=np.int64), n_win)
    pos = np.repeat(text_start - (np.cumsum(n_win) - n_win), n_win) + np.arange(
        row.size, dtype=np.int64
    )
    codes = (buf[pos] << 16) | (buf[pos + 1] << 8) | buf[pos + 2]
    uniq, inverse = np.unique(codes, return_inverse=True)
    h = np.fromiter(
        (_code_hash(c) for c in uniq.tolist()), dtype=np.uint64, count=uniq.size
    )
    bucket = (h % np.uint64(EMBED_DIM)).astype(np.int64)
    sign = np.where((h >> np.uint64(8)) & np.uint64(1), 1.0, -1.0)
    # (a batch with no window gets an int bincount: cast it)
    vec = np.bincount(
        row * EMBED_DIM + bucket[inverse],
        weights=sign[inverse],
        minlength=n * EMBED_DIM,
    ).astype(np.float64, copy=False).reshape(n, EMBED_DIM)
    norms = np.sqrt(np.einsum("ij,ij->i", vec, vec))
    nz = norms > 0
    vec[nz] /= norms[nz, None]
    return vec.astype(np.float32)
