"""Vector math over ``array<float>`` embedding columns — pure Spark SQL
expressions (JVM-side ``zip_with``/``aggregate`` folds), no Python UDFs.

Determinism contract with the DuckDB oracle: elements are cast to DOUBLE
before multiplying, and sums fold sequentially in list order, so both
engines execute the identical IEEE-754 operation sequence → bit-identical
doubles (probed).  Scores surfaced to users are still rounded as a belt.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_sql(a: str, b: str) -> str:
    """Sequential-fold dot product of two array columns."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def dot_expr(a: str, b: str) -> Column:
    return F.expr(dot_sql(a, b))


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def cosine_sql(a: str, b: str) -> str:
    """Cosine similarity; null-safe-ish (0-norm vectors → NULL via
    division, which both engines map to NULL/inf consistently guarded by
    callers filtering zero norms)."""
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"


def cosine_expr(a: str, b: str) -> Column:
    return F.expr(cosine_sql(a, b))


def duck_cosine_sql(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
        f"(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
        f"sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))))"
    )


def quantized_projection_sql(emb: str, j: int, dim: int, scale: int = 1000) -> str:
    """Integer-quantized random-hyperplane projection for sign-LSH.

    Hyperplane weights are derived arithmetically (``((17*j + 31*d) % 7) - 3``)
    so both engines build the identical plane with no RNG; embedding values
    are quantized to integers (``round(x*scale)``) so the projection is
    integer arithmetic — bit-exact across engines, no float-sign flakes.
    """
    terms = " + ".join(
        f"CAST(round(CAST({emb}[{d}] AS DOUBLE) * {scale}) AS BIGINT) * {((17 * j + 31 * d) % 7) - 3}"
        for d in range(dim)
    )
    return f"({terms})"


def duck_quantized_projection_sql(emb: str, j: int, dim: int, scale: int = 1000) -> str:
    """DuckDB mirror (1-based list indexing)."""
    terms = " + ".join(
        f"CAST(round({emb}[{d + 1}]::DOUBLE * {scale}) AS BIGINT) * {((17 * j + 31 * d) % 7) - 3}"
        for d in range(dim)
    )
    return f"({terms})"


def lsh_bucket_sql(emb: str, n_bits: int, dim: int, duck: bool = False) -> str:
    """Sign-LSH bucket id: ``sum_j 2^j * (projection_j >= 0)``."""
    proj = duck_quantized_projection_sql if duck else quantized_projection_sql
    bits = " + ".join(
        f"(CASE WHEN {proj(emb, j, dim)} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(n_bits)
    )
    return f"({bits})"


def rp_weight(j: int, d: int) -> int:
    """md5-derived pseudo-random plane weight in [-3, 3] for the JL
    random projection.

    The LSH family's arithmetic weights (``((17j + 31d) % 7) − 3``)
    collapse to ``((3j + 3d) % 7) − 3`` — every plane is a cyclic shift
    of one period-7 base pattern, fine for splitting buckets but useless
    for distance preservation (measured neighbor recall 6%).  md5 gives
    independent-looking planes; the weights are computed HERE and inlined
    as SQL literals, so engine parity costs nothing.
    """
    import hashlib

    h = int(hashlib.md5(f"rp:{j}:{d}".encode()).hexdigest()[:8], 16)
    return (h % 7) - 3


def rp_projection_sql(emb: str, j: int, dim: int, scale: int = 1000) -> str:
    """Integer JL projection component ``j`` in DuckDB SQL (1-based list
    indexing) — ORACLE-SIDE ONLY.  The Spark side deliberately does not
    have a SQL twin: out_dim·dim flat terms exceed Janino's 64 KB method
    limit and fall back to interpreted evaluation, so
    ``similarity.random_projection`` runs the Arrow int64 matmul kernel
    instead (integer matmul is accumulation-order-exact, so both forms
    produce identical components)."""
    terms = " + ".join(
        f"CAST(round({emb}[{d + 1}]::DOUBLE * {scale}) AS BIGINT) * {rp_weight(j, d)}"
        for d in range(dim)
    )
    return f"({terms})"


# Scale-aware sign-LSH width: expected bucket size is n / 2^bits, and the
# pair stage's executor-memory contract is 16·bucket² bytes (see
# similarity.py:embedding_near_dup_pairs), so bits must grow with the
# corpus.  TARGET_BUCKET=512 reproduces the SCALE.md controlled 10×
# experiment exactly (2 000 rows → 4 bits, 20 000 rows → 6 bits: 2.8×
# wall-clock at identical recall).  All-integer threshold comparisons so
# the DuckDB oracle derives the identical width with no float log2.
LSH_TARGET_BUCKET = 512
LSH_MIN_BITS = 4
LSH_MAX_BITS = 12


def adaptive_lsh_bits(
    n_rows: int,
    target_bucket: int = LSH_TARGET_BUCKET,
    min_bits: int = LSH_MIN_BITS,
    max_bits: int = LSH_MAX_BITS,
) -> int:
    """``max(min_bits, ceil(log2(n / target_bucket)))`` clamped to
    ``max_bits`` — computed by integer doubling, mirrored bit-for-bit by
    :func:`duck_adaptive_lsh_bits_sql`."""
    bits = min_bits
    while bits < max_bits and n_rows > (target_bucket << bits):
        bits += 1
    return bits


def duck_adaptive_lsh_bits_sql(
    table: str,
    target_bucket: int = LSH_TARGET_BUCKET,
    min_bits: int = LSH_MIN_BITS,
    max_bits: int = LSH_MAX_BITS,
) -> str:
    """DuckDB scalar-subquery mirror of :func:`adaptive_lsh_bits` over
    ``COUNT(*) FROM table`` (the same count the Spark side takes)."""
    steps = " + ".join(
        f"(CASE WHEN COUNT(*) > {target_bucket << b} THEN 1 ELSE 0 END)"
        for b in range(min_bits, max_bits)
    )
    return f"(SELECT {min_bits} + {steps} FROM {table})"


def duck_lsh_bucket_masked_sql(
    emb: str,
    bits_sql: str,
    dim: int,
    max_bits: int = LSH_MAX_BITS,
) -> str:
    """Sign-LSH bucket whose width is a runtime SQL scalar (DuckDB only).

    Emits ``max_bits`` projection terms, each masked by ``j < bits_sql`` —
    the mask is row-constant, so DuckDB's CASE evaluation skips the
    unselected projections entirely; for any bits value it computes the
    identical bucket id to ``lsh_bucket_sql(emb, bits, dim, duck=True)``.
    """
    terms = " + ".join(
        f"(CASE WHEN {j} < {bits_sql} AND "
        f"{duck_quantized_projection_sql(emb, j, dim)} >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(max_bits)
    )
    return f"({terms})"
