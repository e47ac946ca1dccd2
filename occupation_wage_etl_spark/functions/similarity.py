"""Vector & hashing expressions for dedup / similarity search.

Portability note: every hash used here is md5-based because md5 is
bit-identical in Spark, DuckDB, and Python — letting the correctness
oracle replay MinHash/LSH exactly in SQL.  A MinHash signature slot is
``min(md5(seed_i || shingle))`` — the lexicographic min of a uniformly
distributed hex string is a faithful min-hash (the usual integer min over
a random permutation, with the permutation keyed by ``seed_i``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, computed JVM-side.

    ``zip_with`` + ``aggregate`` keep the whole expression inside codegen;
    accumulate in double regardless of input element type.  NULL/zero-norm
    vectors yield NULL.
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(None).cast("double"))


def dot_product(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def _sql_lit_array(values) -> str:
    """SQL literal for a double array; string-cast per element so any
    Python float round-trips exactly (repr → string→double is correctly
    rounded — the same value ``F.lit(float(v))`` embeds)."""
    elems = ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in values)
    return f"array({elems})"


def cosine_vs_literal_sql(vec_col: str, values) -> str:
    """SQL text equivalent of ``cosine_similarity(F.col(vec_col),
    literal-array)`` — the IDENTICAL aggregate/zip_with fold expression,
    but parsed from one string instead of built through O(dim) py4j
    Column calls (a 32-centroid argmax costs ~7 s of pure driver-side
    plan CONSTRUCTION the Column way; parsing is milliseconds).
    Execution semantics, null handling, and every IEEE operation are
    unchanged — the parser produces the same expression tree."""
    lit = _sql_lit_array(values)
    dot = (
        f"aggregate(zip_with({vec_col}, {lit}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v)"
    )
    na = (
        f"sqrt(aggregate({vec_col}, 0.0D, "
        f"(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    nb = (
        f"sqrt(aggregate({lit}, 0.0D, "
        f"(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    return (
        f"(CASE WHEN ({na}) > 0 AND ({nb}) > 0 "
        f"THEN ({dot}) / (({na}) * ({nb})) "
        f"ELSE CAST(NULL AS DOUBLE) END)"
    )


def minhash_signature(shingles: Column, num_hashes: int) -> Column:
    """MinHash signature: array of ``num_hashes`` hex-string slots.

    Slot i = ``min(md5(concat('i:', shingle)))`` over the shingle set.
    One pass per hash over the (deduplicated) shingle array — all
    ``array_min``/``transform``, no shuffle, no UDF.
    """
    # NB: unary lambdas only — pyspark treats a 2-parameter lambda (even
    # with a default arg) as (element, index), silently changing semantics.
    def _slot(prefix: str):
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    uniq = F.array_distinct(shingles)
    slots = [
        F.array_min(F.transform(uniq, _slot(f"{i}:"))) for i in range(num_hashes)
    ]
    return F.array(*slots)


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two array columns (as sets)."""
    ad, bd = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(ad, bd)).cast("double")
    union = F.size(F.array_union(ad, bd)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def minhash_perm_params(num_hashes: int, seed: str = "mh") -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for arithmetic MinHash permutations
    ``slot_i = (a_i * h + b_i) mod MINHASH_P``.

    Derived from md5 so Spark plans, the DuckDB oracle, and Python tests
    all embed identical literals.  ``a_i ∈ [1, P-1]`` keeps the map
    bijective on the field; products stay below 2^62, so the arithmetic
    never leaves a 64-bit long (no overflow in either engine).
    """
    import hashlib

    params = []
    for i in range(num_hashes):
        h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        a = int(h[:8], 16) % (MINHASH_P - 1) + 1
        b = int(h[8:16], 16) % MINHASH_P
        params.append((a, b))
    return params


def md5_hash64(col: Column) -> Column:
    """Portable 64-bit hash: the first 16 hex chars of md5 as a signed long.

    Slower than ``xxhash64`` but bit-identical in Spark, DuckDB
    (``('0x' || substr(md5(x),1,8))::BIGINT`` per 32-bit half) and Python
    (``int(hashlib.md5(x).hexdigest()[:16], 16)``), so SimHash fingerprints
    built on it can be replayed exactly by the correctness oracle.
    ``conv`` parses each 8-hex-char half (fits in a long unsigned);
    ``shiftleft(hi, 32)`` reassembles the signed 64-bit pattern (Java
    shifts wrap, so the sign bit lands correctly with no overflow check).
    """
    hexs = F.md5(col)
    hi = F.conv(F.substring(hexs, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hexs, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))
