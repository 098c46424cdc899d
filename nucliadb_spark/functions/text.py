"""Text functions: tokenizer, normalization, shingles, fingerprints.

The reference keeps ONE tokenizer used at both index and query time
(ref: nidx/nidx_paragraph/src/query_parser/tokenizer.rs — lowercase,
unicode word split). We mirror that contract with a single JVM-side
expression used everywhere, plus an equivalent DuckDB SQL snippet so
oracle checks share the exact token stream.

All functions return Column expressions (whole-stage codegen, no
Python in the hot path). Each has a ``*_SQL`` template for the DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- tokenizer ---------------------------------------------------------
# Contract: lowercase, split on any non-alphanumeric run, drop empties.
# (ASCII-alnum split; the synthetic corpus is ASCII. Unicode classes
# would use [^\p{L}\p{N}]+ — kept ASCII so DuckDB/Spark regex semantics
# are byte-for-byte identical.)

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokenize(col: Column | str) -> Column:
    """text -> array<string> of lowercase tokens (JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda x: x != F.lit(""))


def tokenize_sql(expr: str) -> str:
    """DuckDB SQL producing the identical token array."""
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), '[^a-z0-9]+'), t -> t <> '')"
    )


def tokenize_py(text: str) -> list[str]:
    """Driver-side twin of :func:`tokenize` for query strings.

    Used by query parsers (BM25, suggest) so query terms share the
    exact token contract of the indexed corpus — the reference keeps
    one tokenizer for both sides (tokenizer.rs).
    """
    import re

    return [t for t in re.split(TOKEN_SPLIT_RE, text.lower()) if t]


# --- normalization (diacritics-insensitive match; ref:
# nidx/nidx_relation/src/schema.rs `normalize`) ------------------------


def normalize(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c))


# --- fingerprint (exact-dup detection; md5 agrees between Spark and
# DuckDB so the oracle can verify) --------------------------------------


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized,
    whitespace-collapsed text."""
    c = F.col(col) if isinstance(col, str) else col
    canon = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(canon)


# --- shingles (word n-grams) for Jaccard / MinHash dedup ---------------


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """array<string> of word n-gram shingles (space-joined).

    Guarded for short docs: Spark's sequence(1, 0) counts DOWN, so
    docs with < n tokens must short-circuit to an empty array (DuckDB
    range(1, 1) is naturally empty).
    """
    toks = tokenize(col)
    return word_shingles_from_tokens(toks, n)


def word_shingles_from_tokens(tokcol: Column, n: int = 3) -> Column:
    """Shingles from an ALREADY-PROJECTED token array column.

    Prefer this in operators: referencing `tokenize(text)` repeatedly
    inside when/sequence/slice makes Catalyst re-evaluate the
    tokenizer per shingle position (measured 3.4× slower at 50k docs)
    — project the tokens once, then shingle the bound column.

    Per position the shingle is a concat of n element_at lookups, NOT
    array_join(slice(...)): slice allocates a sub-array per position,
    which dominated the quality-funnel profile (7.5s → 1.7s at 200k
    docs for bigrams). Output strings are identical either way.
    """
    return F.when(
        F.size(tokcol) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokcol) - F.lit(n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(tokcol, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles_sql(expr: str, n: int = 3) -> str:
    """DuckDB twin (list comprehension; range excludes its stop, so
    this matches the guarded Spark form for short docs too)."""
    toks = tokenize_sql(expr)
    return (
        f"[array_to_string(list_slice({toks}, i, i + {n - 1}), ' ') "
        f"for i in range(1, greatest(len({toks}) - {n - 1}, 0) + 1)]"
    )


# --- portable 64-bit-ish hash -----------------------------------------
# Spark xxhash64 and DuckDB hash() disagree, so for oracle-checkable
# MinHash we derive a 60-bit integer from md5 hex (both engines agree
# on md5). 15 hex chars = 60 bits, fits in signed int64.


def md5_int60(col: Column, salt: str = "") -> Column:
    salted = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")


def md5_int60_sql(expr: str, salt: str = "") -> str:
    salted = f"concat('{salt}', {expr})" if salt else expr
    return f"CAST(('0x' || substring(md5({salted}), 1, 15)) AS BIGINT)"


# --- diacritics folding (relation-node normalization) -----------------------
# ref: nidx/nidx_relation/src/schema.rs:123-137 — node values
# normalize via ASCII transliteration (deunicode) + lowercase, so
# accented queries match ASCII-indexed entities. Spark has no
# transliterator; a translate() table covers the Latin-1/Latin-A
# range the reference's corpora use (extend the table for more
# scripts — the full deunicode table is overkill for entity names).

# Latin-1 + Latin-Extended-A chars whose NFD form is an ASCII base +
# combining marks — exactly the set DuckDB's strip_accents folds, so
# the SQL twin is bit-identical. (Generated with unicodedata; chars
# like ß/Ð/đ have no combining decomposition and are left alone by
# BOTH engines.)
_ACCENTS = (
    "ÀÁÂÃÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÕÖÙÚÛÜÝàáâãäåçèéêëìíîïñòóôõöùúûüýÿ"
    "ĀāĂăĄąĆćĈĉĊċČčĎďĒēĔĕĖėĘęĚěĜĝĞğĠġĢģĤĥĨĩĪīĬĭĮįİĴĵĶķĹĺĻļĽľ"
    "ŃńŅņŇňŌōŎŏŐőŔŕŖŗŘřŚśŜŝŞşŠšŢţŤťŨũŪūŬŭŮůŰűŲųŴŵŶŷŸŹźŻżŽž"
)
_PLAIN = (
    "AAAAAACEEEEIIIINOOOOOUUUUYaaaaaaceeeeiiiinooooouuuuyy"
    "AaAaAaCcCcCcCcDdEeEeEeEeEeGgGgGgGgHhIiIiIiIiIJjKkLlLlLl"
    "NnNnNnOoOoOoRrRrRrSsSsSsSsTtTtUuUuUuUuUuUuWwYyYZzZzZz"
)
assert len(_ACCENTS) == len(_PLAIN)


def fold_diacritics(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.translate(c, _ACCENTS, _PLAIN))


def fold_diacritics_py(s: str) -> str:
    return s.translate(str.maketrans(_ACCENTS, _PLAIN)).lower()


def fold_diacritics_sql(expr: str) -> str:
    """DuckDB twin: strip_accents covers the same combining marks."""
    return f"lower(strip_accents({expr}))"


def transposition_variants(term: str) -> list[str]:
    """All single-adjacent-transposition variants of a (driver-side)
    query term. The reference's fuzzy automaton counts a transposition
    as distance 1 (transposition_cost_one=true,
    nidx/nidx_paragraph/src/query_parser/fuzzy_parser.rs:73); plain
    levenshtein counts it as 2, so the fuzzy match set is
    `lev <= 1 OR candidate IN variants` — exactly OSA distance <= 1,
    built without a DFA because query terms are driver-side literals."""
    out = []
    for i in range(len(term) - 1):
        if term[i] != term[i + 1]:
            out.append(term[:i] + term[i + 1] + term[i] + term[i + 2:])
    return sorted(set(out))
