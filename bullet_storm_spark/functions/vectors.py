"""Vector math over array<float> embedding columns, dual-compiled.

The Spark forms are pure higher-order-function expressions (zip_with /
aggregate / transform): JVM-side, codegen-friendly, no Python in the hot
path. Accumulation is sequential in index order — the same order DuckDB's
list_cosine_similarity uses — so results are bit-identical across engines
(verified: 0 mismatches at round-6 over real embedding pairs).

For brute-force top-k at scale, operators/similarity.py also offers an
Arrow-batched Pandas-UDF matmul path (numpy BLAS), which is faster per row
but not bit-reproducible against the oracle; the expression path is the
correctness reference.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine(a: Column, b: Column) -> Column:
    da, db = as_double(a), as_double(b)
    return dot(da, db) / (norm(da) * norm(db))


# ---------------------------------------------------------------------------
# Fixed-dimension (unrolled) forms — bit-identical, whole-stage-codegen-able
# ---------------------------------------------------------------------------
# The HOF forms above are CodegenFallback: Catalyst interprets one lambda
# frame per element per row, which dominates candidate-pair stages (a
# 64-dim cosine per pair walks ~320 interpreted lambda steps). When the
# embedding dimension is statically known — every operator contract here
# pins it — the same fold unrolls into a flat arithmetic chain that
# whole-stage codegen compiles. Bit-identity: the unrolled chain
# lit(0.0) + a[0]*b[0] + a[1]*b[1] + ... evaluates in exactly the
# left-to-right order of aggregate()'s fold, each step the same IEEE
# double op on the same widened float, so results are identical to the
# HOF form (oracle-verified tri-scale; see OPTIMIZATION_r11.md).
# Null/length semantics also match: F.get() yields NULL past the end of a
# short array exactly where zip_with() pads NULL, and NULL poisons the
# whole sum in both forms. Arrays LONGER than dim would silently compute a
# TRUNCATED result in the raw unrolled chain while the HOF twin (and the
# DuckDB oracle) walk the full array — the ae25be8 bug class. Every
# builder therefore wraps its chain in a per-row guard:
#   CASE WHEN size(v) <= dim THEN <unrolled> ELSE <hof fold> END
# so an over-length row takes the bit-identical HOF branch instead of a
# truncated sum, and the "unroll" scale gate (operators.common) can
# NEVER change results (r12, VERDICT r11 item 6; pinned by
# tests/test_scale_gates.py's ragged fuzz). The ELSE subtree is the
# compact fold (a few nodes); CASE is lazy, so conforming rows never
# evaluate it.
#
# BUILD COST: each builder renders ONE SQL string parsed by a single
# F.expr. The original Column-by-Column loop cost ~5 py4j round trips per
# term — ~1 s of DRIVER time per dim-64 expression, which the bench pays
# on every timed run (build is inside the timed region). The parsed tree
# is term-for-term identical to the loop's (verified analyzed-plan-equal
# modulo exprIds), so results cannot change. Operands are passed as SQL
# fragments (column names); a Column operand is accepted and rendered to
# SQL once via its underlying expression — callers should pre-project
# complex expressions to a named column rather than inline them, since
# the fragment is repeated per term.

VecRef = "Column | str"


def _ref(x) -> str:
    """SQL fragment for an operand: strings pass through (already a
    column reference), Columns render once via the JVM expression."""
    if isinstance(x, str):
        return x
    return x._jc.node().sql()


def _guard_sql(anchor: str) -> str:
    """An exactly-1.0 factor whose subtree contains a trivial
    CodegenFallback higher-order function (a one-element aggregate whose
    lambda ignores its input — always 0, non-foldable because it
    references the anchor column). Any operator carrying a
    CodegenFallback expression is excluded from whole-stage codegen
    (CollapseCodegenStages), which is exactly what the unrolled chains
    need: fused into one WSCG processNext they exceed janino's 64 KB
    method limit ("Code grows beyond 64 KB"), the compile FAILS, the
    failure is not cached, and every run re-pays a 1–3 s compile attempt
    before falling back to fully interpreted eval. Outside WSCG the
    row-projection codegen (INPUT_ROW mode) splits expression code into
    methods, so the same chain compiles and runs compiled.
    Value identity: the marker is always 0, the factor exactly 1.0D, and
    x * 1.0 is the IEEE identity for EVERY double — -0.0 (-0.0*1.0 =
    -0.0), NaN, ±inf, and NULL propagates unchanged. The one-element
    fold costs one interpreted lambda frame per row."""
    return (
        f"(1.0D + 0.0D * CAST(aggregate(array(get({anchor}, 0)), 0L, "
        "(acc, x) -> acc) AS DOUBLE))"
    )


def _guard_int_sql(anchor: str) -> str:
    """Integer twin of ``_guard_sql``: an exactly-1 BIGINT factor
    (integer multiply by 1 is exact for any value)."""
    return (
        f"(1L + 0L * aggregate(array(get({anchor}, 0)), 0L, "
        "(acc, x) -> acc))"
    )


def _hof_dot_sql(a: str, b: str) -> str:
    """SQL text of the HOF dot fold — the same zip_with/aggregate chain
    as :func:`dot` (cast inside the lambda equals transform-then-zip:
    each element is cast exactly once either way, and zip padding yields
    the same NULL products)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )


def _hof_sqsum_sql(a: str) -> str:
    return (
        f"aggregate({a}, 0.0D, (acc, x) -> "
        "acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    )


def _dot_sql(a: str, b: str, dim: int) -> str:
    terms = " + ".join(
        f"CAST(get({a}, {i}) AS DOUBLE) * CAST(get({b}, {i}) AS DOUBLE)"
        for i in range(dim)
    )
    # length guard (see block comment): the unrolled chain walks exactly
    # dim indices, the HOF zip_with walks max(len(a), len(b)) — they are
    # bit-identical ONLY when both arrays are exactly dim long (longer
    # rows would truncate; a PAIR of equally-short rows folds to a real
    # value in HOF but NULL in the chain). Any other length takes the
    # HOF fold. size(NULL) is NULL -> ELSE -> HOF(NULL) = NULL, same as
    # the chain.
    return (
        f"CASE WHEN size({a}) = {dim} AND size({b}) = {dim} "
        f"THEN (0.0D + {terms}) ELSE ({_hof_dot_sql(a, b)}) END"
    )


def _sqsum_sql(a: str, dim: int) -> str:
    terms = " + ".join(
        f"CAST(get({a}, {i}) AS DOUBLE) * CAST(get({a}, {i}) AS DOUBLE)"
        for i in range(dim)
    )
    # == dim, not <=: the HOF fold walks the ACTUAL length, so a short
    # row's square-sum is a real number there while the unrolled chain
    # NULLs it (get() past the end) — the ae25be8 semantic_dedup bug
    return (
        f"CASE WHEN size({a}) = {dim} "
        f"THEN (0.0D + {terms}) ELSE ({_hof_sqsum_sql(a)}) END"
    )


def dot_fixed(a, b, dim: int) -> Column:
    """``dot(as_double(a), as_double(b))`` for length-``dim`` arrays as a
    flat codegen-able expression (same fold order, same IEEE ops)."""
    aa = _ref(a)
    return F.expr(f"({_dot_sql(aa, _ref(b), dim)}) * {_guard_sql(aa)}")


def _lit_double_sql(w: float) -> str:
    # repr() is the shortest round-trip form; Double.parseDouble of it
    # yields the identical double, and the parser folds `-x` literals
    # directly (grammar: number := MINUS? DOUBLE_LITERAL)
    r = repr(float(w))
    if r == "inf":
        return "CAST('Infinity' AS DOUBLE)"
    if r == "-inf":
        return "CAST('-Infinity' AS DOUBLE)"
    if r == "nan":
        return "CAST('NaN' AS DOUBLE)"
    return f"{r}D"


def dot_lit_fixed(a, plane: list) -> Column:
    """``dot(as_double(a), lit(plane))`` unrolled over a Python-literal
    hyperplane (the LSH bucketing hot path). Over-length rows take the
    HOF fold against the literal array (zip padding NULLs the sum there,
    exactly like the gate-off form)."""
    aa = _ref(a)
    terms = " + ".join(
        f"CAST(get({aa}, {i}) AS DOUBLE) * {_lit_double_sql(w)}"
        for i, w in enumerate(plane)
    )
    lit_arr = "array(" + ", ".join(_lit_double_sql(w) for w in plane) + ")"
    hof = (
        f"aggregate(zip_with({aa}, {lit_arr}, (x, y) -> "
        "CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
    )
    return F.expr(
        f"(CASE WHEN size({aa}) <= {len(plane)} THEN (0.0D + {terms}) "
        f"ELSE ({hof}) END) * {_guard_sql(aa)}"
    )


def sqsum_fixed(a, dim: int) -> Column:
    """Sum of squares with the HOF fold order (0.0 + x0² + x1² + ...)."""
    aa = _ref(a)
    return F.expr(f"({_sqsum_sql(aa, dim)}) * {_guard_sql(aa)}")


def norm_fixed(a, dim: int) -> Column:
    # the guard multiplies the SQUARED sum (×1.0 exact), so the sqrt
    # argument — and the norm — is bit-identical
    aa = _ref(a)
    return F.expr(f"SQRT(({_sqsum_sql(aa, dim)}) * {_guard_sql(aa)})")


def cosine_fixed(a, b, dim: int) -> Column:
    """``cosine(a, b)`` for length-``dim`` arrays, unrolled."""
    aa, bb = _ref(a), _ref(b)
    return F.expr(
        f"(({_dot_sql(aa, bb, dim)}) * {_guard_sql(aa)}) / "
        f"(SQRT({_sqsum_sql(aa, dim)}) * SQRT({_sqsum_sql(bb, dim)}))"
    )


def int_dot_fixed(a, b, dim: int) -> Column:
    """Unrolled exact integer dot (bigint) over length-``dim`` int arrays —
    value-identical to the HOF fold in any order (integer math is exact;
    |dot| <= 127² · dim stays far below 2^63). Over-length rows take the
    HOF fold (the _int_dot twin) instead of a truncated sum."""
    aa, bb = _ref(a), _ref(b)
    terms = " + ".join(
        f"CAST(get({aa}, {i}) * get({bb}, {i}) AS BIGINT)" for i in range(dim)
    )
    hof = (
        f"aggregate(zip_with({aa}, {bb}, (x, y) -> CAST(x * y AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return F.expr(
        f"(CASE WHEN size({aa}) = {dim} AND size({bb}) = {dim} "
        f"THEN (CAST(0 AS BIGINT) + {terms}) ELSE ({hof}) END) "
        f"* {_guard_int_sql(aa)}"
    )


def cosine_sql(a: str, b: str) -> str:
    return f"list_cosine_similarity({a}::DOUBLE[], {b}::DOUBLE[])"


def l2_distance(a: Column, b: Column) -> Column:
    da, db = as_double(a), as_double(b)
    diff = F.zip_with(da, db, lambda x, y: x - y)
    return F.sqrt(F.aggregate(F.transform(diff, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def l2_distance_sql(a: str, b: str) -> str:
    return f"list_distance({a}::DOUBLE[], {b}::DOUBLE[])"
