"""Vector similarity as pure Column expressions (JVM-side, codegen).

ref: nidx/nidx_vector/src/config.rs:163-168 (similarity Dot|Cosine),
nidx/nidx_vector/src/vector_types/dense_f32.rs. The reference SIMD
f32 kernels map to Spark higher-order functions over array<float>;
Catalyst compiles them into whole-stage codegen — no Python UDF.

Each helper computes in DOUBLE with left-to-right accumulation so the
DuckDB oracle (same accumulation order) reproduces values bit-close;
operators round scores before emitting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2_normalize(a: Column) -> Column:
    n = norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)


# --- unrolled twins ------------------------------------------------------
# DuckDB's list_dot_product/list_cosine_similarity may accumulate in a
# different order than Spark's F.aggregate fold; for bit-exact oracle
# hashes we unroll the known dimension into a left-associative chain —
# IEEE addition then matches the fold term for term (1-based DuckDB
# list indexing).


def dot_sql_unrolled(a: str, b: str, dim: int) -> str:
    return "(" + " + ".join(
        f"{a}[{i}]::DOUBLE * {b}[{i}]::DOUBLE" for i in range(1, dim + 1)
    ) + ")"


def norm_sql_unrolled(a: str, dim: int) -> str:
    sq = " + ".join(f"{a}[{i}]::DOUBLE * {a}[{i}]::DOUBLE" for i in range(1, dim + 1))
    return f"sqrt({sq})"


def cosine_sql_unrolled(a: str, b: str, dim: int) -> str:
    return (
        f"({dot_sql_unrolled(a, b, dim)} / "
        f"({norm_sql_unrolled(a, dim)} * {norm_sql_unrolled(b, dim)}))"
    )
