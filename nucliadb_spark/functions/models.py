"""Model boundaries: embedding + cross-encoder reranker hooks
(SURVEY §2.4 V9, §2.9 R5).

The reference calls its external Predict API for query embeddings and
rerank scores (ref: search/search/query_parser/fetcher.py
get_query_vector, search/search/rerankers.py:122-175). In-engine
these are Arrow-batched pandas UDFs; a real model (sentence-
transformers / cross-encoder) drops in by replacing the stub body —
the signature, batching and plan shape don't change.

The stubs are deterministic md5-derived values mirrored exactly in
DuckDB SQL, so the full pipelines (embed → KNN, retrieve → rerank)
are oracle-checkable end to end.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

STUB_DIM = 8  # 32 md5 hex chars / 4 per component


def _hash_embed(text: str) -> list[float]:
    h = hashlib.md5(text.encode("utf-8")).hexdigest()
    return [int(h[i * 4 : i * 4 + 4], 16) / 65535.0 for i in range(STUB_DIM)]


@F.pandas_udf(ArrayType(DoubleType()))
def stub_embedding(texts: pd.Series) -> pd.Series:
    """Deterministic 8-dim embedding from the text md5 (V9 stub)."""
    return texts.map(_hash_embed)


def stub_embedding_sql(expr: str) -> str:
    comps = ", ".join(
        f"CAST(('0x' || substring(md5({expr}), {i * 4 + 1}, 4)) AS BIGINT) / 65535.0"
        for i in range(STUB_DIM)
    )
    return f"[{comps}]"


def _rerank_score(query: str, text: str) -> float:
    h = hashlib.md5((query + "|" + text).encode("utf-8")).hexdigest()
    return int(h[:8], 16) / 0xFFFFFFFF


def make_stub_reranker(query: str):
    """Cross-encoder stub: deterministic (query, passage) score in
    [0,1] (R5 stub). Returns a pandas UDF bound to the query."""

    @F.pandas_udf(DoubleType())
    def rerank(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _rerank_score(query, t))

    return rerank


def stub_reranker_sql(query_lit: str, text_expr: str) -> str:
    """query_lit: SQL string literal (quoted)."""
    pair = f"concat({query_lit}, '|', {text_expr})"
    return (
        f"(CAST(('0x' || substring(md5({pair}), 1, 8)) AS BIGINT) / 4294967295.0)"
    )


# --- detected entities (the /predict detect-entities boundary) --------------
# ref: nucliadb/src/nucliadb/search/search/query_parser/fetcher.py:238-257
# (get_detected_entities → Predict NER); the RELATIONS feature feeds
# them to the graph index as entry points. Deterministic stub: the
# graph's node-id grammar (`<subtype>:<id>`) recognized in the query
# string, driver-side (query parsing is driver-side in the reference
# too).

import re as _re

_ENTITY_RE = _re.compile(r"\b(customer|order|part|supplier):\d+\b")


def detect_entity_values_py(query: str) -> list[str]:
    """Full node values ("part:17") detected in the query text."""
    return sorted({m.group(0) for m in _ENTITY_RE.finditer(query)})


def stub_rephrase_py(query: str) -> str:
    """Deterministic stand-in for the Predict API's `rephrase` call
    (ref: search/search/query.py:78-79, predict_models.py — the LLM
    rewrites the user's question into a cleaner retrieval query
    before it is embedded). The stub applies the rewrite an LLM
    reliably performs: lowercase, strip stop words, collapse repeated
    terms — pure and engine-independent, so the oracle can inline the
    rephrased literal."""
    from nucliadb_spark.functions.text import tokenize_py
    from nucliadb_spark.operators.bm25 import STOP_WORDS

    out: list[str] = []
    seen: set[str] = set()
    for t in tokenize_py(query):
        if t in STOP_WORDS or t in seen:
            continue
        seen.add(t)
        out.append(t)
    return " ".join(out) if out else query.lower()
