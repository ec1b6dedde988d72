"""Tokenization shared by the parse layer.

The reference delegates tokenization to fonduer/spaCy; our contract is only
that tokenization is *deterministic* (the ngram space's re-split of tokens on
``-`` and ``/`` lives in ``operators.extract.grams_col``). We use whitespace
tokenization — byte-stable across platforms, no model downloads — which is
exactly what the byte-identical-text invariant needs.
"""

from __future__ import annotations

import re

_WS_RE = re.compile(r"\s+")


def tokenize(text: str) -> list[str]:
    """Deterministic whitespace tokenization."""
    return [t for t in _WS_RE.split(text) if t]
