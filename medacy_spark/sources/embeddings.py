"""Word-embedding file source (S6) -> driver-side lookup.

The reference loads gensim word2vec text files into KeyedVectors on one
node (nn/vectorizer.py:39-46; fixture format at
medacy/tests/sample_data/test_word_embeddings.txt: optional `count dim`
header line, then `word v1 v2 ...`). Embedding tables are model artifacts,
dimension-scale, so the file is read on the driver into the dict the
neural learners take.
"""

from __future__ import annotations


def load_word_vectors_local(path: str) -> dict[str, list[float]]:
    """Driver-side loader for the same word2vec-text format — the shape
    BiLSTMCRFLearner consumes (the reference's
    vectorizer.load_word_embeddings analogue, nn/vectorizer.py:39-46).
    Model artifacts are dimension-scale; no Spark session needed.

    Keys are lowercased (the learner looks tokens up lowercased — a
    case-sensitive table would silently zero every capitalized word's
    embedding) and every vector must have the same width; a ragged line
    raises HERE with the file and line number instead of surfacing later
    as an opaque numpy broadcast error inside the learner build."""
    out: dict[str, list[float]] = {}
    dim: int | None = None
    with open(path, encoding="utf-8") as f:
        for lineno, line in enumerate(f, 1):
            parts = line.split()
            if not parts:
                continue
            # the word2vec-text "<count> <dim>" header is only ever the
            # FIRST line — skipping every two-digit-token line would drop
            # a legitimate 1-dim integer vector for a numeric token
            if (lineno == 1 and len(parts) == 2
                    and parts[0].isdigit() and parts[1].isdigit()):
                continue
            try:
                vec = [float(v) for v in parts[1:]]
            except ValueError as e:
                raise ValueError(
                    f"{path}:{lineno}: non-numeric embedding value ({e})"
                ) from None
            if dim is None:
                dim = len(vec)
            elif len(vec) != dim:
                raise ValueError(
                    f"{path}:{lineno}: vector has {len(vec)} dims, "
                    f"expected {dim}"
                )
            key = parts[0].lower()
            if key in out:
                import logging

                logging.getLogger(__name__).warning(
                    "%s:%d: duplicate embedding key %r after lowercasing — "
                    "last occurrence wins", path, lineno, key,
                )
            out[key] = vec
    return out
