"""PCA projection for embedding pipelines, dual-compiled.

Dimension reduction is the standard pre-pass before large-scale embedding
work: project 64-dim vectors to 16 components before ANN/clustering and
the candidate-generation shuffles move 4× fewer bytes while retaining
most variance (the same byte-economics argument as int8/PQ quantization,
operators/quantize.py / pq.py, but lossy-in-dimensions instead of
lossy-in-precision).

Fit/apply split mirrors the other frozen-codebook operators
(`similarity.ivf_centroids`, `pq.py`): the components are fit driver-side
on a BOUNDED deterministic sample (SVD is O(sample × dim²) — sampling is
how every production system fits this), rounded onto a literal grid, and
shipped into both generated programs as constants. The projection itself
is a pure per-row expression — one dot product per output component over
a constant-folded literal matrix — so it rides the scan with zero
shuffles and whole-stage codegen, and the DuckDB twin (list_dot_product
against the same literals) is hash-exact.

Determinism: the sample is the first ``sample_size`` vectors by id (no
RNG); numpy SVD is deterministic for a fixed input; each component's sign
is normalized (largest-|coefficient| entry made positive) to kill the SVD
sign ambiguity; components and the centering offsets round to 9 dp before
becoming literals.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

from bullet_storm_spark.functions.vectors import as_double, dot
from bullet_storm_spark.operators.common import scale_gate
from bullet_storm_spark.operators.similarity import _planes_lit

COEF_DP = 9


def pca_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_components: int = 16,
    sample_size: int = 4096,
) -> tuple[list[list[float]], list[float]]:
    """Fit on the first ``sample_size`` vectors by id. Returns
    ``(components, offsets)``: ``components[j]`` is the j-th principal
    axis (9dp-rounded), ``offsets[j] = dot(mean, components[j])`` the
    centering constant, so the projection is
    ``y_j = dot(x, components[j]) - offsets[j]``."""
    rows = (
        df.select(F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v"))
        .orderBy("__id")
        .limit(int(sample_size))
        .collect()
    )
    x = np.array([[float(v) for v in r["__v"]] for r in rows], dtype=np.float64)
    return _fit_core(x, n_components)


def pca_fit_from_parquet(
    path: str,
    id_col: str,
    vec_col: str,
    n_components: int = 16,
    sample_size: int = 4096,
) -> tuple[list[list[float]], list[float]]:
    """Offline fit straight from a parquet file (DuckDB + numpy, no Spark
    session) — how a production codebook ships: fit once on a frozen
    sample, embed the literals in every downstream program. Identical
    result to :func:`pca_fit` on the same data (both paths read the same
    float32 values into float64)."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT {vec_col} FROM read_parquet('{path}') "
        f"ORDER BY {id_col} LIMIT {int(sample_size)}"
    ).fetchall()
    x = np.array([[float(v) for v in r[0]] for r in rows], dtype=np.float64)
    return _fit_core(x, n_components)


def _fit_core(
    x: "np.ndarray", n_components: int
) -> tuple[list[list[float]], list[float]]:
    if len(x) < 2:
        raise ValueError(f"PCA needs >= 2 sample vectors, got {len(x)}")
    k = int(n_components)
    if not 1 <= k <= x.shape[1]:
        raise ValueError(f"need 1 <= n_components <= dim={x.shape[1]}, got {k}")
    mean = x.mean(axis=0)
    _, _, vt = np.linalg.svd(x - mean, full_matrices=False)
    comps = []
    for j in range(k):
        w = vt[j]
        if w[int(np.argmax(np.abs(w)))] < 0:  # sign normalization
            w = -w
        comps.append([round(float(c), COEF_DP) for c in w])
    # offsets computed FROM the rounded components so both engines use
    # literals derived from identical values
    offsets = [
        round(float(sum(m * c for m, c in zip(mean, comp))), COEF_DP)
        for comp in comps
    ]
    return comps, offsets


def pca_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    components: list[list[float]],
    offsets: list[float],
    round_to: int = 6,
) -> DataFrame:
    """(id, proj): each vector projected onto the frozen components —
    ``proj[j] = round(dot(v, components[j]) - offsets[j], round_to)``.
    Pure scan-riding expressions; the component matrix is ONE
    constant-folded literal (similarity._planes_lit discipline)."""
    # one parsed SQL array expression (the functions.vectors fixed-form
    # discipline): each component's dot unrolls to the codegen-able chain
    # bit-identical to the HOF fold; replaces k × dim interpreted lambda
    # frames per ROW with compiled arithmetic. Size-gated ("unroll"):
    # the k × dim unrolled array is the largest tree in the repo
    # (~16 × 64 terms) and its per-task/per-action cost dominates a small
    # projection — below the threshold the compact HOF twin runs instead
    # (identical values, the r10 form).
    from bullet_storm_spark.functions.vectors import (
        _guard_sql,
        _lit_double_sql,
        _ref,
    )

    if not scale_gate("unroll", df):
        vv = as_double(F.col(vec_col))
        dots = F.transform(_planes_lit(components), lambda w: dot(vv, w))
        off_lit = F.array(*[F.lit(float(c)) for c in offsets])
        proj = F.zip_with(
            dots, off_lit, lambda d, c: F.round(d - c, round_to)
        )
        return df.select(F.col(id_col), proj.alias("proj")).orderBy(id_col)

    v = _ref(F.col(vec_col))
    terms = []
    for comp, off in zip(components, offsets):
        d = " + ".join(
            f"CAST(get({v}, {i}) AS DOUBLE) * {_lit_double_sql(w)}"
            for i, w in enumerate(comp)
        )
        terms.append(
            f"ROUND((0.0D + {d}) - {_lit_double_sql(off)}, {int(round_to)})"
        )
    # one ×1.0 guard on the first component keeps the whole projection
    # out of WSCG (functions.vectors._guard_sql rationale); rounded ×1.0
    # is the IEEE identity, so the projection values cannot change
    terms[0] = f"({terms[0]}) * {_guard_sql(v)}"
    # over-length guard (functions.vectors r12): a vector longer than the
    # component width would get silently truncated dots from the unrolled
    # chains, while the HOF twin's zip_with pads the component with NULLs
    # and every projection element folds to NULL — match that exactly so
    # both gate branches are identical on any input
    dim = len(components[0]) if components else 0
    nulls = ", ".join(["CAST(NULL AS DOUBLE)"] * len(terms))
    proj = F.expr(
        f"CASE WHEN size({v}) <= {dim} THEN array({', '.join(terms)}) "
        f"ELSE array({nulls}) END"
    )
    return df.select(F.col(id_col), proj.alias("proj")).orderBy(id_col)


def pca_project_sql(
    table: str,
    id_col: str,
    vec_col: str,
    components: list[list[float]],
    offsets: list[float],
    round_to: int = 6,
) -> str:
    terms = []
    for comp, off in zip(components, offsets):
        arr = "[" + ", ".join(repr(c) for c in comp) + "]"
        terms.append(
            f"CAST(CAST(CAST(CAST((list_dot_product({vec_col}::DOUBLE[], {arr})"
            f" - {off!r}) * CAST(ABS(list_dot_product({vec_col}::DOUBLE[], {arr})"
            f" - {off!r}) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) "
            f"AS VARCHAR) AS DOUBLE)"
        )
    return (
        f"SELECT {id_col}, [{', '.join(terms)}] AS proj "
        f"FROM {table} ORDER BY {id_col}"
    )


def pca_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_components: int = 16,
    round_to: int = 6,
    codebook: tuple[list[list[float]], list[float]] | None = None,
) -> DataFrame:
    """(component, var_captured, var_total_ratio): per-component variance
    of the PROJECTED corpus (not just the fit sample) plus the running
    captured-variance ratio against the full input variance — the
    "how many components do I actually need" table. Decimal-exact sums so
    the report is partition-order-free; one scan, one tiny aggregation.
    Pass ``codebook=(components, offsets)`` to profile a frozen offline
    fit instead of refitting."""
    comps, offsets = codebook or pca_fit(
        df, id_col, vec_col, n_components=n_components
    )
    proj = pca_project(df, id_col, vec_col, comps, offsets, round_to=COEF_DP)
    v = as_double(F.col(vec_col))
    total_sq = F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    totals = df.select(
        F.round(total_sq, COEF_DP).cast("decimal(38,9)").alias("__sq")
    ).agg(
        F.sum("__sq").cast("double").alias("__total"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    per_comp = (
        proj.select(F.posexplode("proj").alias("component", "__y"))
        .select(
            "component",
            F.round(F.col("__y") * F.col("__y"), COEF_DP)
            .cast("decimal(38,9)")
            .alias("__y2"),
        )
        .groupBy("component")
        .agg(F.sum("__y2").cast("double").alias("__var"))
    )
    return (
        per_comp.crossJoin(F.broadcast(totals))
        .select(
            "component",
            F.round(F.col("__var") / F.col("__n"), round_to).alias("var_captured"),
            F.round(F.col("__var") / F.col("__total"), round_to).alias(
                "var_total_ratio"
            ),
        )
        .orderBy("component")
    )


def pca_report_sql(
    table: str,
    id_col: str,
    vec_col: str,
    components: list[list[float]],
    offsets: list[float],
    round_to: int = 6,
) -> str:
    inner = pca_project_sql(
        table, id_col, vec_col, components, offsets, round_to=COEF_DP
    )
    return f"""
WITH __proj AS ({inner}),
__tot AS (
  SELECT CAST(SUM(CAST(CAST(CAST(CAST(CAST((list_dot_product({vec_col}::DOUBLE[],
                                              {vec_col}::DOUBLE[])) * CAST(ABS(list_dot_product({vec_col}::DOUBLE[],
                                              {vec_col}::DOUBLE[])) >= POWER(10.0, -({COEF_DP}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{COEF_DP})) AS VARCHAR) AS DOUBLE)
                       AS DECIMAL(38,9))) AS DOUBLE) AS total,
         COUNT(*)::BIGINT AS n
  FROM {table}
), __pc AS (
  SELECT u.__i - 1 AS component,
         CAST(SUM(CAST(CASE WHEN ABS(u.__y * u.__y) >= 1e16 THEN CAST((u.__y * u.__y) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((u.__y * u.__y) * CAST(ABS(u.__y * u.__y) >= POWER(10.0, -({COEF_DP}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{COEF_DP})) AS VARCHAR) AS DOUBLE) END AS DECIMAL(38,9)))
              AS DOUBLE) AS var
  FROM __proj p,
       LATERAL (SELECT unnest(p.proj) AS __y,
                       generate_subscripts(p.proj, 1) AS __i) u
  GROUP BY u.__i
)
SELECT component, CASE WHEN ABS(var / t.n) >= 1e16 THEN CAST((var / t.n) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((var / t.n) * CAST(ABS(var / t.n) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS var_captured,
       CASE WHEN ABS(var / t.total) >= 1e16 THEN CAST((var / t.total) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((var / t.total) * CAST(ABS(var / t.total) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS var_total_ratio
FROM __pc CROSS JOIN __tot t
ORDER BY component
"""


def pca_rerank_neighbors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_pred,
    components: list[list[float]],
    offsets: list[float],
    k: int = 5,
    expand: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """Two-stage ANN: COARSE top-(k*expand) candidates by cosine in the
    PCA-projected space (16-dim dot products — ~dim/16 of the full-width
    pair cost), then EXACT top-k rerank of the shortlist in the original
    space. Output (query_id, neighbor_id, coarse_cos, cos, rank).

    The classic reduce-then-rerank recipe: at 100 TB the coarse stage is
    where all the pair volume lives, and it runs on 4x fewer bytes per
    vector; the exact stage touches only k*expand rows per query. Both
    stages order by (ROUNDED score desc, id) so the shortlist boundary
    and final ranks are engine-independent; recall loss from coarse
    truncation is measurable against `similarity.brute_force_neighbors`
    the same way `pq.ann_recall_report` audits IVF-PQ."""
    from pyspark.sql import Window
    from bullet_storm_spark.functions.vectors import cosine

    v = as_double(F.col(vec_col))
    dots = F.transform(_planes_lit(components), lambda w: dot(v, w))
    off_lit = F.array(*[F.lit(float(c)) for c in offsets])
    proj = F.zip_with(dots, off_lit, lambda d, c: F.round(d - c, COEF_DP))
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), proj.alias("p")
    )
    queries = base.where(query_pred).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"), F.col("p").alias("qp")
    )
    coarse = (
        F.broadcast(queries)
        .join(base, F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(cosine(F.col("qp"), F.col("p")), round_to).alias("coarse_cos"),
            F.col("qv"),
            F.col("v"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("coarse_cos").desc(), F.col("neighbor_id").asc()
    )
    shortlist = coarse.withColumn("__crank", F.row_number().over(wc)).where(
        F.col("__crank") <= k * expand
    )
    exact = shortlist.select(
        "query_id",
        "neighbor_id",
        "coarse_cos",
        F.round(cosine(F.col("qv"), F.col("v")), round_to).alias("cos"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def pca_rerank_neighbors_sql(
    table: str,
    id_col: str,
    vec_col: str,
    query_pred_sql: str,
    components: list[list[float]],
    offsets: list[float],
    k: int = 5,
    expand: int = 4,
    round_to: int = 6,
) -> str:
    terms = []
    for comp, off in zip(components, offsets):
        arr = "[" + ", ".join(repr(c) for c in comp) + "]"
        terms.append(
            f"CASE WHEN ABS(list_dot_product(v::DOUBLE[], {arr}) - {off!r}) >= 1e16 THEN CAST((list_dot_product(v::DOUBLE[], {arr}) - {off!r}) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((list_dot_product(v::DOUBLE[], {arr}) - {off!r}) * CAST(ABS(list_dot_product(v::DOUBLE[], {arr}) - {off!r}) >= POWER(10.0, -({COEF_DP}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{COEF_DP})) AS VARCHAR) AS DOUBLE) END"
        )
    ccos = f"CASE WHEN ABS(list_cosine_similarity(q.qp::DOUBLE[], c.p::DOUBLE[])) >= 1e16 THEN CAST((list_cosine_similarity(q.qp::DOUBLE[], c.p::DOUBLE[])) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((list_cosine_similarity(q.qp::DOUBLE[], c.p::DOUBLE[])) * CAST(ABS(list_cosine_similarity(q.qp::DOUBLE[], c.p::DOUBLE[])) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END"
    ecos = f"CASE WHEN ABS(list_cosine_similarity(qv::DOUBLE[], v::DOUBLE[])) >= 1e16 THEN CAST((list_cosine_similarity(qv::DOUBLE[], v::DOUBLE[])) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((list_cosine_similarity(qv::DOUBLE[], v::DOUBLE[])) * CAST(ABS(list_cosine_similarity(qv::DOUBLE[], v::DOUBLE[])) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END"
    return f"""
WITH __base AS (
  SELECT {id_col} AS id, {vec_col} AS v, [{', '.join(terms)}] AS p
  FROM {table}
), __q AS (
  SELECT id AS query_id, v AS qv, p AS qp FROM __base WHERE {query_pred_sql}
), __short AS (
  SELECT query_id, id AS neighbor_id, {ccos} AS coarse_cos, qv, v,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {ccos} DESC, id ASC) AS __crank
  FROM __q q JOIN __base c ON q.query_id <> c.id
  QUALIFY __crank <= {k * expand}
)
SELECT query_id, neighbor_id, coarse_cos, {ecos} AS cos,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY {ecos} DESC, neighbor_id ASC)
            AS INTEGER) AS rank
FROM __short
QUALIFY rank <= {k}
ORDER BY query_id, rank
"""
