"""Embedding similarity search (brute-force + LSH-bucketed ANN).

Beyond-reference surface: the reference's nearest relative is the
sparse-map cosine_similarity scalar (reference
MAIN/operator/scalar/MathFunctions.java cosineSimilarity); it has no
vector search operator. Here:

  - brute-force top-k : broadcast the (small) query set, score every
    candidate with a pure-expression cosine, take top-k per query with
    a window — the exact baseline.
  - LSH-bucketed top-k: sign-of-random-projection buckets; queries
    only score candidates in their own bucket — the scale path that
    turns O(Q*N) into O(Q*N/2^P) with recall controlled by P.

All arithmetic is Column expressions over array<float> (zip_with +
aggregate folds -> JVM, no Python). Determinism for the differential
oracle: fold order is left-to-right sequential in both Spark
(F.aggregate) and DuckDB (list_reduce), operands are identical doubles
(float32 widens exactly), so dot products are bit-identical; displayed
scores are additionally rounded so the gate never rests on the last
ulp.

Scale notes (100B vectors, 1000 executors):
  - Brute force: one broadcast (queries) + narrow map + partial top-k
    per partition, final top-k on the driver-side agg — no N-sized
    shuffle (window over partitionBy(query_id) shuffles only Q*k rows
    after AQE; at huge N switch the window to groupBy+slice of
    collected top-k struct arrays, same plan family).
  - LSH: bucket assignment is a narrow projection; the join shuffles
    on uniform bucket ids. Recall/P tradeoff documented at call site.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ANN_PLANES = 4  # sign-projection planes -> 2^P buckets


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (engine-exact)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sql_dot(a: str, b: str) -> str:
    # list_reduce is a sequential left fold; x1 + 0.0 == x1 exactly,
    # so prepending the 0.0 seed matches F.aggregate's init.
    return (
        f"list_reduce(list_prepend(0.0, list_transform("
        f"generate_series(1, len({a})), "
        f"i -> ({a})[i]::DOUBLE * ({b})[i]::DOUBLE)), (x, y) -> x + y)"
    )


def cosine(a: Column, b: Column) -> Column:
    """dot/sqrt(|a|^2 * |b|^2) — one formula, mirrored in SQL."""
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


def sq_norm(vec: Column) -> Column:
    """|vec|^2 as the same sequential fold cosine() uses for dot(v,v).

    Precompute this once per ROW (a projection below the join) and
    pass it to cosine_pre: the per-PAIR cosine then pays one O(dim)
    fold instead of three. With Q queries scoring N candidates the
    fold count drops from 3*Q*N to Q*N + Q + N — and because the
    expression is identical to cosine()'s inner dot(v,v), the
    resulting doubles are bit-identical."""
    return dot(vec, vec)


def cosine_pre(a: Column, b: Column, a_sq: Column, b_sq: Column) -> Column:
    """cosine(a, b) with both squared norms precomputed via sq_norm.

    Same formula, same operand order, same double arithmetic as
    cosine() — only the evaluation COUNT of the norm folds changes,
    so scores are bit-identical and the differential oracle
    (sql_cosine) is unchanged."""
    return dot(a, b) / F.sqrt(a_sq * b_sq)


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / sqrt({sql_dot(a, a)} * {sql_dot(b, b)}))"


def spark_dot_sql(a: str, b: str) -> str:
    """Spark-SQL spelling of dot() as ONE parseable expression (a
    single Py4J round trip; the Column spelling's two lambdas cost
    ~60 driver round trips per call — guide §5). `0.0D` forces the
    double literal F.lit(0.0) builds (a bare SQL 0.0 parses as
    DECIMAL(1,1)). Optimized-plan identity with dot() is pinned in
    tests/test_operators.py."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def spark_sq_norm_sql(vec: str) -> str:
    """Spark-SQL twin of sq_norm (same fold as spark_dot_sql)."""
    return spark_dot_sql(vec, vec)


def spark_cosine_pre_sql(a: str, b: str, a_sq: str, b_sq: str) -> str:
    """Spark-SQL twin of cosine_pre."""
    return f"({spark_dot_sql(a, b)} / SQRT({a_sq} * {b_sq}))"


# ---------------------------------------------------------------------------
# sign-projection LSH buckets


def _plane_weight(plane: int, dim_index: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1000,1000]:
    derived from md5(plane '_' dim) so both engines generate the same
    planes with no shipped state. Integer-valued -> products exact."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{plane}_"), dim_index.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return (h % 2001 - 1000).cast("double")


def sql_plane_weight(plane: int, dim_index: str) -> str:
    h = f"('0x' || substr(md5('{plane}_' || {dim_index}::VARCHAR), 1, 8))::BIGINT"
    return f"(({h} % 2001 - 1000)::DOUBLE)"


def lsh_bucket(vec: Column, planes: int = ANN_PLANES) -> Column:
    """Bucket id = sign bits of <vec, plane_p> for P pseudo-random
    hyperplanes. Near-identical vectors land in the same bucket with
    high probability (random hyperplane LSH, Charikar 2002)."""
    def projection(p: int) -> Column:
        # helper factory: p must close over its own scope (pyspark
        # lambda arity — see dedup.simhash note).
        weights = F.transform(
            F.sequence(F.lit(1), F.size(vec)), lambda i: _plane_weight(p, i)
        )
        return F.aggregate(
            F.zip_with(vec, weights, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    bucket = F.lit(0)
    for p in range(planes):
        bucket = bucket + F.when(projection(p) > 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
    return bucket


def sql_lsh_bucket(vec: str, planes: int = ANN_PLANES) -> str:
    terms = []
    for p in range(planes):
        proj = (
            f"list_reduce(list_prepend(0.0, list_transform("
            f"generate_series(1, len({vec})), "
            f"i -> ({vec})[i]::DOUBLE * {sql_plane_weight(p, 'i')})), "
            f"(x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# int8 scalar quantization (the ANN memory path: 4x smaller vector
# store than float32; standard practice for large-scale retrieval —
# quantized scan first, exact re-rank on the survivors if needed)


def int8_quantize(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: q_i = floor(x_i / s),
    s = max|x| / 127 (guarded against zero vectors).

    floor, not round: Spark rounds doubles HALF_EVEN while other
    engines round HALF_UP — floor is identical everywhere, making the
    quantized codes bit-exact for the differential oracle (same trick
    as operators/dedup.py's floor-quantized centroid means)."""
    s = F.greatest(
        F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
        / 127.0,
        F.lit(1e-30),
    )
    return F.transform(vec, lambda x: F.floor(x.cast("double") / s).cast("long"))


def sql_int8_quantize(vec: str) -> str:
    """DuckDB twin of int8_quantize (inline scale subexpression)."""
    s = (
        f"greatest(list_max(list_transform({vec}, x -> abs(x::DOUBLE)))"
        f" / 127.0, 1e-30)"
    )
    return (
        f"list_transform({vec}, x -> CAST(floor(x::DOUBLE / {s}) AS BIGINT))"
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product over quantized codes (bigint fold —
    no fp at all until the final normalization)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def sql_int_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform("
        f"generate_series(1, len({a})), "
        f"i -> ({a})[i] * ({b})[i])), (x, y) -> x + y)"
    )


def int8_cosine(a: Column, b: Column) -> Column:
    """Approximate cosine from int8 codes: intdot / sqrt(|a|²|b|²).
    Numerator and both norms are exact integers; one double division
    + sqrt at the end — engine-identical."""
    return int_dot(a, b).cast("double") / F.sqrt(
        (int_dot(a, a) * int_dot(b, b)).cast("double")
    )


def sql_int8_cosine(a: str, b: str) -> str:
    return (
        f"(CAST({sql_int_dot(a, b)} AS DOUBLE) / "
        f"sqrt(CAST({sql_int_dot(a, a)} * {sql_int_dot(b, b)} AS DOUBLE)))"
    )
