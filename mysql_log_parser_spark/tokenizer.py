"""Deterministic, lossless text <-> token codec for the input table.

The pipeline's only input is an Iceberg/parquet table of pre-tokenized
sequences: (doc_id string, tokens array<int32>, n_tok int32, source string).
The codec is UTF-8 bytes -> int32 (vocab 0..255), reversible byte-for-byte,
so the per-row invariant vs the reference's golden fixture logs is exact
token-array equality (round-trip text -> tokens -> text is identical).
"""

from __future__ import annotations

import numpy as np


def encode(text: str) -> list[int]:
    """UTF-8 text -> token list (int 0..255)."""
    return list(text.encode("utf-8"))


def decode(tokens) -> str:
    """Token sequence -> UTF-8 text. Accepts list/np.ndarray of ints."""
    arr = np.asarray(tokens, dtype=np.int64)
    if arr.size and (arr.min() < 0 or arr.max() > 255):
        raise ValueError("token out of byte vocab [0,255]")
    return arr.astype(np.uint8).tobytes().decode("utf-8")


def decode_batch(token_series) -> list[str]:
    """Decode a pandas Series of token arrays, each with decode's range check."""
    return [decode(t) for t in token_series]


def doc_rows(doc_id: str, text: str, source: str) -> dict:
    toks = encode(text)
    return {"doc_id": doc_id, "tokens": toks, "n_tok": len(toks), "source": source}
