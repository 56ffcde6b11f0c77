"""Deterministic reranker (stand-in for the reference's structured-output LLM).

Reference semantics reproduced exactly (src/backend/llms/reranker.py:23-69,
src/backend/llms/output_models.py:4-11):

* candidates are presented as an ordered list ``"{i}: {concept_name}"``;
  the model returns ``most_similar_item_id`` (0-indexed into that list) and
  ``confidence_score`` (int 1..10); selection is
  ``candidate_list[selected_id]`` (reranker.py:54-58);
* empty candidate list -> ``None`` (reranker.py:45-49);
* any model error -> fallback to the FIRST candidate with confidence 1
  (reranker.py:42-49) — below the default accept threshold 8, i.e. the row
  is effectively skipped but still audited.

The deterministic scorer is token-set Jaccard between the input term and
each candidate name, argmax with first-index-wins tie-break (stable, like
the list-ordered prompt), confidence = round-half-up(1 + 9 * score)
clipped to [1, 10].  The SAME function backs the pipeline UDF and the
parity oracle, so golden P/R is exact.
"""

from __future__ import annotations

import math
import re
from functools import lru_cache

_TOKEN_RE = re.compile(r"[a-z0-9]+")


# concept names recur across every mention's candidate list; the cached
# value is an immutable frozenset, safe to share between callers
@lru_cache(maxsize=1 << 16)
def _tokens(text: str) -> frozenset[str]:
    return frozenset(_TOKEN_RE.findall(text.lower())) if text else frozenset()


def _jaccard(a: frozenset, b: frozenset) -> float:
    if not a and not b:
        return 0.0
    union = len(a | b)
    return (len(a & b) / union) if union else 0.0


def rerank_scores(input_term: str, candidate_names: list[str]) -> list[float]:
    q = _tokens(input_term)
    return [_jaccard(q, _tokens(c)) for c in candidate_names]


def confidence_from_score(score: float) -> int:
    # round half up, clipped to the reference's 1..10 schema
    return max(1, min(10, int(math.floor(1.0 + 9.0 * score + 0.5))))


def rerank_select(
    input_term: str, candidate_names: list[str]
) -> tuple[int, int] | None:
    """Return (selected_index, confidence) or None for an empty list."""
    if not candidate_names:
        return None
    try:
        scores = rerank_scores(input_term, candidate_names)
        best = max(range(len(scores)), key=lambda i: (scores[i], -i))
        return best, confidence_from_score(scores[best])
    except Exception:
        # reference fallback: first candidate, confidence 1 (reranker.py:44-49)
        return 0, 1
