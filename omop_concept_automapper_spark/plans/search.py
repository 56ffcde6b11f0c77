"""Interactive similarity search (reference lifecycle 3.3).

Single-query path used by the reference's search/manual-mapping pages
(reference src/backend/auto_mapper.py:29-59 -> vector_store.py:24-38):
embed the query, apply Qdrant-style filters, return the cosine top-k with
denormalized metadata.  Ranking goes through the linker's own top-k kernel
(``knn._blocked_topk``: per-pair scores, (-score, concept_id) ties), so a
search returns the candidates, order and scores ``link_batch`` retrieves
for the same text.

Filter semantics reproduce ``VectorDatabase._create_filters``
(vector_store.py:141-156): scalar value -> MatchValue (equality), list ->
MatchAny (isin); ``atc7_codes`` filters against an ARRAY payload field so
MatchAny means any-overlap; ``type=standard`` is implicit (the index only
contains standard embeddable concepts, auto_mapper.py:49).
"""

from __future__ import annotations

import numpy as np

from omop_concept_automapper_spark.functions.embedder import embed_texts
from omop_concept_automapper_spark.operators.knn import (
    _blocked_topk,
    _decode_idx,
    _decode_score,
)


def _filter_mask(index: dict, filters: dict) -> np.ndarray:
    n = index["matrix"].shape[0]
    mask = np.ones(n, dtype=bool)
    for key, value in (filters or {}).items():
        if key == "type":
            continue  # implicit: index holds only standard concepts
        if key == "atc7_codes":
            wanted = set(value if isinstance(value, (list, tuple, set)) else [value])
            overlap = np.zeros(n, dtype=bool)
            for code in wanted:
                idxs = index["atc7_inverted"].get(code)
                if idxs is not None:
                    overlap[idxs] = True
            mask &= overlap
            continue
        col = index.get(key)
        if col is None:
            raise KeyError(f"unknown filter field: {key}")
        if isinstance(value, (list, tuple, set)):
            mask &= np.isin(col, np.asarray(list(value), object))  # MatchAny
        else:
            mask &= col == value  # MatchValue
    return mask


def search_similar_concepts(
    index: dict,
    query: str,
    k: int = 50,
    domains: list | str | None = None,
    vocabulary_id: str = "",
    atc7_codes: list | None = None,
) -> list[dict]:
    """Return the top-k concepts as dicts (score + metadata), mirroring
    ``_format_results`` (vector_store.py:113-124)."""
    filters: dict = {}
    if domains:
        filters["domain_id"] = domains
    if vocabulary_id:
        filters["vocabulary_id"] = vocabulary_id
    if atc7_codes:
        filters["atc7_codes"] = atc7_codes
    filters["type"] = "standard"  # always-on (auto_mapper.py:49)

    mask = _filter_mask(index, filters)
    keys, n_valid = _blocked_topk(
        embed_texts([query]), index["matrix"], k, mask, block_rows=65536
    )
    keys = keys[0, : n_valid[0]]
    out = []
    for j, score in zip(_decode_idx(keys), _decode_score(keys)):
        row = {
            "score": float(score),
            "text": str(index["concept_name"][j]),
            "concept_id": int(index["concept_id"][j]),
            "concept_name": str(index["concept_name"][j]),
            "domain_id": str(index["domain_id"][j]),
            "type": "standard",
            "atc7_codes": list(index["atc7_codes"][j]),
        }
        for extra in ("vocabulary_id", "concept_class_id", "concept_code"):
            if extra in index:
                row[extra] = str(index[extra][j])
        out.append(row)
    return out
