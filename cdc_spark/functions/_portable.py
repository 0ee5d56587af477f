"""Portable deterministic primitives computable identically in Spark SQL and
DuckDB SQL — the driver hash-compares query outputs, so every derived value
must match bit-for-bit across engines. Engine-native hashes (xxhash64,
duckdb hash()) differ, so text hashing uses an explicit polynomial rolling
hash over code points, expressed with list/higher-order functions on both
sides (JVM-codegen'd in Spark — no Python in the data path)."""

from __future__ import annotations

MOD = 1_000_000_007
MULT = 31
SEED = 7


def spark_poly_hash(expr: str) -> str:
    """Spark SQL expression string: polynomial hash of a string column.

    Empty strings are guarded explicitly: Spark's ``sequence(1, 0)`` yields
    ``[1, 0]`` (auto-descending) while DuckDB's ``range(1, 1)`` is empty, so
    without the CASE the engines diverge (6727 vs 7) on empty or
    whitespace-only text."""
    agg = (
        f"aggregate(sequence(1, length({expr})), CAST({SEED} AS BIGINT), "
        f"(acc, i) -> (acc * {MULT} + ascii(substring({expr}, i, 1))) % {MOD})"
    )
    return f"(CASE WHEN length({expr}) = 0 THEN CAST({SEED} AS BIGINT) ELSE {agg} END)"


def duck_poly_hash(expr: str) -> str:
    """DuckDB SQL expression string computing the same value."""
    return (
        f"list_reduce(list_prepend(CAST({SEED} AS BIGINT), "
        f"list_transform(range(1, length({expr})+1), "
        f"i -> CAST(ord(substring({expr}, i, 1)) AS BIGINT))), "
        f"(acc, x) -> (acc * {MULT} + x) % {MOD})"
    )


def spark_shingles(expr: str, n: int = 3) -> str:
    """Spark SQL: distinct character n-gram list of a string column."""
    return (
        f"array_distinct(transform(sequence(1, greatest(length({expr})-{n-1}, 1)), "
        f"i -> substring({expr}, i, {n})))"
    )


def duck_shingles(expr: str, n: int = 3) -> str:
    return (
        f"list_distinct(list_transform(range(1, greatest(length({expr})-{n-1}, 1)+1), "
        f"i -> substring({expr}, i, {n})))"
    )


# minhash permutation parameters (deterministic, shared by both engines)
def mh_params(k: int = 16) -> list[tuple[int, int]]:
    return [(2 * i + 3, i * i + 1) for i in range(k)]

