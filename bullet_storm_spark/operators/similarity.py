"""Similarity search over embedding columns (array<float>).

Two plans, one semantics:

* brute_force_neighbors — exact cosine top-k: broadcast the (small) query
  set against the candidate table, rank per query. The baseline and the
  oracle reference. O(|Q| * N) dot products, all JVM-side expressions.
* lsh_bucketed_neighbors — random-hyperplane LSH: candidates are joined
  only within the query's hash bucket, cutting the scan to N/2^bits per
  query on average. The hyperplanes are deterministic literals (seeded
  numpy), so the DuckDB twin replicates the bucketing exactly and the
  whole approximate pipeline is still hash-checkable.
* brute_force_neighbors_arrow — same exact semantics on the Arrow/Pandas
  path (numpy matmul per batch): the throughput option for wide scans,
  not bit-reproducible against the oracle (BLAS reduction order), so it
  is benchmarked, not oracle-checked.

At 100 TB / billions of vectors: bucket join + per-bucket top-k is the
shuffle-friendly shape (bucket id is the partition key; no all-pairs);
raise nbits to keep buckets executor-sized, or swap the bucketer for IVF
centroids — the plan shape is unchanged.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F

from bullet_storm_spark.functions.vectors import (
    as_double,
    cosine,
    cosine_fixed,
    cosine_sql,
    dot,
    dot_fixed,
    norm,
    norm_fixed,
)
from bullet_storm_spark.operators.common import scale_gate, spread_if_narrow

LSH_SEED = 42


def _rank_topk(pairs: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def brute_force_neighbors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_pred: Column,
    k: int = 5,
    round_to: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for every row matching query_pred,
    searched over all rows (self excluded).
    Output: (query_id, neighbor_id, cos, rank).

    With ``dim`` set (the declared embedding width), the per-pair cosine
    runs as the unrolled fixed-dim form with norms computed once per side
    — bit-identical to the HOF form (functions.vectors contract), but
    whole-stage-codegen and O(1) array walks per pair instead of 3."""
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # the corpus side streams under a broadcast join, so a single-file
    # table would run the whole O(|Q| x N) cosine sweep in ONE scan task
    # (guide §2.5 input skew); spread it first when the scan is narrower
    # than the cores — a table that already scans wide pays nothing.
    # Size-gated ("spread"): below the threshold the exchange costs more
    # than the whole single-task sweep.
    base = spread_if_narrow(base, df, "spread")
    # unrolled forms only at scale ("unroll" gate): below the threshold
    # the HOF twin is bit-identical and its compact tree avoids the
    # per-task/per-action overhead that dominates a small sweep
    if dim is not None and scale_gate("unroll", df):
        base = base.withColumn("__n", norm_fixed(F.col("v"), dim))
        queries = base.where(query_pred).select(
            F.col("id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("__n").alias("__qn"),
        )
        cos = F.round(
            dot_fixed(F.col("qv"), F.col("v"), dim)
            / (F.col("__qn") * F.col("__n")),
            round_to,
        )
    else:
        queries = base.where(query_pred).select(
            F.col("id").alias("query_id"), F.col("v").alias("qv")
        )
        cos = F.round(cosine(F.col("qv"), F.col("v")), round_to)
    pairs = (
        F.broadcast(queries)
        .join(base, F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            cos.alias("cos"),
        )
    )
    return _rank_topk(pairs, k)


def brute_force_neighbors_sql(
    table: str,
    id_col: str,
    vec_col: str,
    query_pred_sql: str,
    k: int = 5,
    round_to: int = 6,
) -> str:
    cos = f"CAST(CAST(CAST(CAST(({cosine_sql('q.qv', 'c.v')}) * CAST(ABS({cosine_sql('q.qv', 'c.v')}) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE)"
    return f"""
WITH base AS (SELECT {id_col} AS id, {vec_col} AS v FROM {table}),
q AS (SELECT id AS query_id, v AS qv FROM base WHERE {query_pred_sql})
SELECT query_id, id AS neighbor_id, {cos} AS cos,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY {cos} DESC, id ASC) AS INTEGER) AS rank
FROM q JOIN base c ON q.query_id <> c.id
QUALIFY rank <= {k}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# LSH-bucketed approximate neighbors
# ---------------------------------------------------------------------------

def hyperplanes(dim: int, nbits: int, seed: int = LSH_SEED) -> list[list[float]]:
    """Deterministic random hyperplanes, rounded so their literal rendering
    is identical in both generated programs."""
    rng = np.random.RandomState(seed)
    h = rng.randn(nbits, dim)
    return [[round(float(x), 6) for x in row] for row in h]


def _planes_lit(planes: list[list[float]]) -> Column:
    """Nested literal as ONE constant-folded node. Building it from
    per-element F.lit()s creates a ~|planes|*dim-leaf expression tree whose
    Catalyst analysis alone cost ~4s per query at 4 tables x 4 planes x 64
    dims; a from_json literal folds to a single Literal during
    optimization (values bit-identical: the planes are round(x, 6)
    decimals, and JSON double parsing is exact for them)."""
    import json

    return F.from_json(F.lit(json.dumps(planes)), "array<array<double>>")


def _bucket_col(
    vec: Column, planes: list[list[float]], fixed: bool = True
) -> Column:
    """Hyperplane sign bucket. With ``fixed`` (the at-scale form), ONE
    parsed SQL expression (the functions.vectors fixed-form discipline):
    each plane's dot unrolls to the codegen-able chain bit-identical to
    the HOF fold (same left-to-right IEEE adds, get() NULL-pads exactly
    like zip_with), the sign bit is an exact (dot > 0) compare, and the
    Horner fold over reversed bits becomes a nested integer chain —
    integer math, so the bucket id cannot change. Replaces an
    interpreted nbits x dim lambda walk per corpus ROW with compiled
    arithmetic. With ``fixed=False`` (small inputs — the "unroll" scale
    gate, operators.common), the compact HOF tree: the unrolled
    chain is ~1.4k Expression nodes that every task deserializes and the
    driver re-plans per action, which dominates wall time when the
    per-row compute is tiny."""
    if not fixed:
        v = as_double(vec)
        bits = F.transform(
            _planes_lit(planes), lambda p: (dot(v, p) > 0).cast("int")
        )
        # Horner fold over reversed bits: bucket = sum bits[i] << i
        return F.aggregate(F.reverse(bits), F.lit(0), lambda acc, b: acc * 2 + b)
    from bullet_storm_spark.functions.vectors import _lit_double_sql, _ref

    v = _ref(vec)
    bits = []
    for p in planes:
        dot_sql = " + ".join(
            f"CAST(get({v}, {i}) AS DOUBLE) * {_lit_double_sql(w)}"
            for i, w in enumerate(p)
        )
        bits.append(f"CAST((0.0D + {dot_sql}) > 0.0D AS INT)")
    # Horner fold over reversed bits: bucket = sum bits[i] << i
    acc = "0"
    for b in reversed(bits):
        acc = f"({acc} * 2 + {b})"
    # over-length guard (functions.vectors r12, the ae25be8 bug class):
    # a vector LONGER than the planes would get a silently TRUNCATED dot
    # from the unrolled chain, while the HOF twin's zip_with pads the
    # plane with NULLs and the whole bucket folds to NULL — so rows past
    # the declared dim must yield NULL here too, keeping both gate
    # branches identical on any input (pinned by the ragged fuzz tests)
    dim = len(planes[0]) if planes else 0
    acc = f"CASE WHEN size({v}) <= {dim} THEN {acc} ELSE CAST(NULL AS INT) END"
    # ×1 INT guard (functions.vectors._guard_sql rationale): the
    # CodegenFallback marker keeps the host operator out of whole-stage
    # codegen, where the fused nbits × dim chain blows janino's 64 KB
    # method limit and re-pays a failed compile every run; integer
    # multiply by 1 is exact, so the bucket id cannot change
    guard = (
        f"(1 + 0 * CAST(aggregate(array(get({v}, 0)), 0L, "
        "(acc, x) -> acc) AS INT))"
    )
    return F.expr(f"({acc}) * {guard}")


def _bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    terms = []
    for i, plane in enumerate(planes):
        arr = "[" + ", ".join(repr(x) for x in plane) + "]"
        terms.append(
            f"((list_dot_product({vec_expr}::DOUBLE[], {arr}) > 0)::INTEGER << {i})"
        )
    return "(" + " + ".join(terms) + ")"


def lsh_bucketed_neighbors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_pred: Column,
    k: int = 5,
    nbits: int = 4,
    dim: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: search only within the query's LSH bucket.
    Same output shape as brute_force_neighbors; recall < 1 by design."""
    planes = hyperplanes(dim, nbits)
    # at scale: norm once per side + unrolled fixed-dim dot per pair
    # (bit-identical to the HOF cosine — functions.vectors fixed-form
    # contract). Small inputs take the compact HOF tree instead: the
    # unrolled chains' per-task/per-action tree overhead dominates when
    # the bucket join emits few pairs ("unroll" scale gate).
    fixed = scale_gate("unroll", df)
    cols = [
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _bucket_col(F.col(vec_col), planes, fixed=fixed).alias("bucket"),
    ]
    if fixed:
        cols.append(norm_fixed(F.col(vec_col), dim).alias("__n"))
    base = df.select(*cols)
    qcols = [
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
    ]
    if fixed:
        qcols.append(F.col("__n").alias("__qn"))
    queries = base.where(query_pred).select(*qcols)
    if fixed:
        cos = F.round(
            dot_fixed(F.col("qv"), F.col("v"), dim)
            / (F.col("__qn") * F.col("__n")),
            round_to,
        )
    else:
        cos = F.round(cosine(F.col("qv"), F.col("v")), round_to)
    pairs = (
        F.broadcast(queries)
        .join(
            base,
            (F.col("qbucket") == F.col("bucket"))
            & (F.col("query_id") != F.col("id")),
        )
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            cos.alias("cos"),
        )
    )
    return _rank_topk(pairs, k)


def lsh_bucketed_neighbors_sql(
    table: str,
    id_col: str,
    vec_col: str,
    query_pred_sql: str,
    k: int = 5,
    nbits: int = 4,
    dim: int = 64,
    round_to: int = 6,
) -> str:
    planes = hyperplanes(dim, nbits)
    bucket = _bucket_sql("v", planes)
    cos = f"CAST(CAST(CAST(CAST(({cosine_sql('q.qv', 'c.v')}) * CAST(ABS({cosine_sql('q.qv', 'c.v')}) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE)"
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {vec_col} AS v, {bucket} AS bucket FROM {table}
),
q AS (SELECT id AS query_id, v AS qv, bucket AS qbucket
      FROM base WHERE {query_pred_sql})
SELECT query_id, id AS neighbor_id, {cos} AS cos,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY {cos} DESC, id ASC) AS INTEGER) AS rank
FROM q JOIN base c ON q.qbucket = c.bucket AND q.query_id <> c.id
QUALIFY rank <= {k}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate neighbors
# ---------------------------------------------------------------------------

def ivf_centroids(
    df: DataFrame,
    vec_col: str,
    n_centroids: int = 16,
    iters: int = 5,
    sample_size: int = 4096,
    seed: int = LSH_SEED,
) -> np.ndarray:
    """Spherical k-means centroids from a bounded sample (driver-side
    numpy — centroid fitting is O(sample), not O(N); at 100 TB the sample
    is a cheap `df.sample()` collect and assignment stays distributed)."""
    rows = (
        df.select(vec_col)
        .sample(fraction=1.0, seed=seed)
        .limit(sample_size)
        .collect()
    )
    x = np.array([r[0] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cents.T
        assign = np.argmax(sims, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def ivf_neighbors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_pred: Column,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """IVF top-k: candidates are searched only in the nprobe cells nearest
    to each query vector. Assignment is Arrow-batched numpy (argmax over
    the centroid matrix); the cell id is the shuffle/join key, so per-query
    work is ~N * nprobe / n_centroids. nprobe == n_centroids degenerates to
    exact brute force (used by the tests as an exactness oracle)."""
    import pandas as pd

    cents = ivf_centroids(df, vec_col, n_centroids)
    spark = df.sparkSession
    b_cents = spark.sparkContext.broadcast(cents)
    # evaluate the query predicate BEFORE the Python map barrier (original
    # column names don't survive mapInPandas)
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), query_pred.alias("is_q")
    )

    def assign(batches):
        c = b_cents.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            sims = mat @ c.T
            order = np.argsort(-sims, axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "v": pdf["v"],
                    "is_q": pdf["is_q"],
                    "cell": order[:, 0].astype("int32"),
                    "probes": [row[:nprobe].astype("int32") for row in order],
                }
            )

    schema = "id long, v array<float>, is_q boolean, cell int, probes array<int>"
    assigned = base.mapInPandas(assign, schema)
    queries = assigned.where(F.col("is_q")).select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.explode("probes").alias("cell"),
    )
    pairs = (
        F.broadcast(queries)
        .join(assigned.select("id", "v", "cell"), "cell")
        .where(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("v")), round_to).alias("cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_topk(pairs, k)


def seeded_centroids(
    dim: int, n_centroids: int, seed: int = LSH_SEED
) -> list[list[float]]:
    """Deterministic unit-ish centroids (seeded, rounded to 6dp so the
    literal rendering is identical in both generated programs). Production
    fits centroids OFFLINE with ivf_centroids and passes them in — frozen
    literals are exactly how a fitted codebook ships to a query cluster."""
    rng = np.random.RandomState(seed + 7)
    c = rng.randn(n_centroids, dim)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return [[round(float(x), 6) for x in row] for row in c]


def ivf_neighbors_frozen(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_pred: Column,
    centroids: list[list[float]] | None = None,
    k: int = 5,
    nprobe: int = 4,
    n_centroids: int = 16,
    dim: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """IVF top-k with a FROZEN centroid codebook, assignment computed as
    pure column expressions — every step (cell argmax, probe ranking,
    cosine, tie-breaks) is bit-reproducible against the DuckDB twin, so
    the whole approximate pipeline is hash-checkable (unlike the
    Arrow/numpy assignment in ivf_neighbors, whose BLAS reduction order
    is not). Plan shape is identical: cell id is the join/shuffle key,
    per-query work ~ N * nprobe / n_centroids.

    Ranking: cells are ordered by (-dot(v, c), cell_idx) — sequential
    index-order accumulation in both engines; centroids are (rounded)
    unit vectors so the dot ranking is the cosine ranking."""
    cents = centroids or seeded_centroids(dim, n_centroids)
    base0 = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        query_pred.alias("is_q"),
    )
    v = as_double(F.col("v"))
    # one constant-folded literal for the codebook (see _planes_lit) and a
    # positional transform — analysis-cheap regardless of n_centroids*dim
    ranked = F.array_sort(
        F.transform(
            _planes_lit(cents),
            lambda c, i: F.struct(
                (-dot(v, c)).alias("nd"), i.cast("int").alias("i")
            ),
        )
    )
    probes = F.transform(F.slice(ranked, 1, nprobe), lambda s: s["i"])
    # materialize probes behind the select so the HOF tree is evaluated
    # once per row (CollapseProject would otherwise re-inline it per use);
    # at scale, norm once per row here too — the pair stage below reuses
    # it (small inputs take the compact HOF cosine instead, "unroll"
    # scale gate)
    fixed = scale_gate("unroll", df)
    acols = ["id", "v", "is_q", probes.alias("probes")]
    if fixed:
        acols.append(norm_fixed(F.col("v"), dim).alias("__n"))
    assigned = base0.select(*acols).select(
        "*", F.element_at("probes", 1).alias("cell")
    )
    qcols = [
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.explode("probes").alias("cell"),
    ]
    ccols = ["id", "v", "cell"]
    if fixed:
        qcols.insert(2, F.col("__n").alias("__qn"))
        ccols.insert(2, "__n")
        cos = F.round(
            dot_fixed(F.col("qv"), F.col("v"), dim)
            / (F.col("__qn") * F.col("__n")),
            round_to,
        )
    else:
        cos = F.round(cosine(F.col("qv"), F.col("v")), round_to)
    queries = assigned.where(F.col("is_q")).select(*qcols)
    pairs = (
        F.broadcast(queries)
        .join(assigned.select(*ccols), "cell")
        .where(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            cos.alias("cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_topk(pairs, k)


def ivf_neighbors_frozen_sql(
    table: str,
    id_col: str,
    vec_col: str,
    query_pred_sql: str,
    centroids: list[list[float]] | None = None,
    k: int = 5,
    nprobe: int = 4,
    n_centroids: int = 16,
    dim: int = 64,
    round_to: int = 6,
) -> str:
    cents = centroids or seeded_centroids(dim, n_centroids)
    entries = ", ".join(
        "{'nd': -list_dot_product(v::DOUBLE[], ["
        + ", ".join(repr(x) for x in c)
        + f"]), 'i': {i}}}"
        for i, c in enumerate(cents)
    )
    cos = f"CAST(CAST(CAST(CAST(({cosine_sql('q.qv', 'c.v')}) * CAST(ABS({cosine_sql('q.qv', 'c.v')}) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE)"
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {vec_col} AS v, ({query_pred_sql}) AS is_q
  FROM {table}
),
assigned AS (
  SELECT id, v, is_q,
         list_transform(
           list_slice(list_sort([{entries}]), 1, {nprobe}), x -> x.i
         ) AS probes
  FROM base
),
celled AS (SELECT id, v, is_q, probes, probes[1] AS cell FROM assigned),
q AS (
  SELECT id AS query_id, v AS qv, UNNEST(probes) AS cell
  FROM celled WHERE is_q
),
pairs AS (
  SELECT DISTINCT q.query_id, c.id AS neighbor_id, {cos} AS cos
  FROM q JOIN celled c ON q.cell = c.cell AND q.query_id <> c.id
)
SELECT query_id, neighbor_id, cos,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS INTEGER)
         AS rank
FROM pairs
QUALIFY rank <= {k}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# Arrow/Pandas throughput path (bench, not oracle)
# ---------------------------------------------------------------------------

def brute_force_neighbors_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_pred: Column,
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k via numpy matmul over Arrow batches: queries are
    collected (small, broadcast-sized by contract), each candidate
    partition computes Q @ C^T and its local top-k, and a final global
    top-k merges per-partition winners — the map-side-combine shape, in
    Python only where BLAS wins.

    Hash-checkable against brute_force_neighbors_sql: the score is
    dot / (|q| * |c|) — the same formula as the expression/SQL path, NOT
    normalize-then-multiply — rounded to ``round_to`` dp BEFORE the local
    top-k (ties broken by neighbor_id asc, the global rank's total
    order). BLAS reduction order differs from the sequential fold by
    ~1 ulp, far below the 6-dp rounding grain, so both engines agree on
    every rounded score except a value within ~1e-12 of a rounding
    boundary (never observed on real-valued cosines; the same contract
    every rounded-score oracle in this file relies on)."""
    import pandas as pd

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # the Arrow matmul inherits the scan's parallelism — a single-file
    # table runs the whole Q x N BLAS sweep in ONE Python worker (guide
    # §2.5 input skew / §4: the r11 spread_ids defect, VERDICT item 3).
    # Size-gated like brute_force_neighbors, on the later BLAS crossover
    # ("arrow_spread"). Result-identical at any partitioning: each
    # partition emits its exact local top-k on rounded scores, the
    # global rank merges.
    qrows = base.where(query_pred).collect()
    base = spread_if_narrow(base, df, "arrow_spread", "id")
    qids = np.array([r["id"] for r in qrows])
    qmat = np.array([r["v"] for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    spark = df.sparkSession
    b_qids = spark.sparkContext.broadcast(qids)
    b_qmat = spark.sparkContext.broadcast(qmat)
    b_qnorm = spark.sparkContext.broadcast(qnorm)

    schema = "query_id long, neighbor_id long, cos double"

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qm, qi, qn = b_qmat.value, b_qids.value, b_qnorm.value
        for pdf in batches:
            if pdf.empty:
                continue
            cmat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            cnorm = np.linalg.norm(cmat, axis=1)
            sims = np.round(
                (qm @ cmat.T) / (qn[:, None] * cnorm[None, :]), round_to
            )
            cids = pdf["id"].to_numpy()
            out = []
            for row, qid in enumerate(qi):
                s = sims[row]
                mask = cids != qid
                sm, im = s[mask], cids[mask]
                idx = np.lexsort((im, -sm))[:k]
                out.append(
                    pd.DataFrame(
                        {"query_id": qid, "neighbor_id": im[idx], "cos": sm[idx]}
                    )
                )
            if out:
                yield pd.concat(out)

    local = base.mapInPandas(local_topk, schema)
    return _rank_topk(local, k)


# ---------------------------------------------------------------------------
# persistent IVF index: fit once, store, probe/append forever
# ---------------------------------------------------------------------------

def _assign_cells(df: DataFrame, id_col: str, vec_col: str, cents: "np.ndarray",
                  nprobe: int | None = None) -> DataFrame:
    """Arrow-batched nearest-centroid assignment. With nprobe, also emits
    the ``probes`` array (the nprobe nearest cells) for query-side use."""
    import pandas as pd

    spark = df.sparkSession
    b_cents = spark.sparkContext.broadcast(cents)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    want_probes = nprobe is not None
    np_ = nprobe or 1

    def assign(batches):
        c = b_cents.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            order = np.argsort(-(mat @ c.T), axis=1)
            out = {
                "id": pdf["id"],
                "v": pdf["v"],
                "cell": order[:, 0].astype("int32"),
            }
            if want_probes:
                out["probes"] = [row[:np_].astype("int32") for row in order]
            yield pd.DataFrame(out)

    schema = "id long, v array<float>, cell int"
    if want_probes:
        schema += ", probes array<int>"
    return base.mapInPandas(assign, schema)


def ivf_build_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    iters: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Build a persistable IVF index: returns ``(index, centroids)`` — the
    corpus with its cell assignment ``(id, v, cell)`` and the codebook
    ``(cell, centroid)``. Both are plain DataFrames: write them as parquet
    (partitionBy("cell") for the index, so a probe prunes to the nprobe
    cell directories) and reload in any later session — the production ANN
    cycle (mirrors `dedup.band_index` for MinHash).

    Scale: fitting reads a bounded sample (O(sample), driver numpy);
    assignment is one Arrow-batched pass over the corpus; nothing all-pairs.
    """
    cents = ivf_centroids(df, vec_col, n_centroids, iters)
    spark = df.sparkSession
    centroids_df = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    )
    return _assign_cells(df, id_col, vec_col, cents), centroids_df


def _cents_from_df(centroids_df: DataFrame) -> "np.ndarray":
    rows = centroids_df.orderBy("cell").collect()
    if [r["cell"] for r in rows] != list(range(len(rows))):
        raise ValueError("centroid table must have contiguous cells 0..n-1")
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


def ivf_append_to_index(
    index: DataFrame,
    centroids_df: DataFrame,
    new_df: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign newly-arrived vectors against the FROZEN codebook and return
    index rows to append — no refit, no rescan of the existing corpus (the
    incremental-ingest shape; periodically rebuild when drift accumulates)."""
    return index.unionByName(
        _assign_cells(new_df, id_col, vec_col, _cents_from_df(centroids_df))
    )


def ivf_probe_index(
    index: DataFrame,
    centroids_df: DataFrame,
    query_df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nprobe: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """Top-k neighbors for ``query_df`` against a stored index: queries
    assign to their nprobe nearest cells (Arrow batch over the tiny query
    set), then ONE hash join on the cell key against the index — per-query
    work is ~|index| * nprobe / n_centroids, and a cell-partitioned parquet
    index prunes the scan to the probed cells."""
    cents = _cents_from_df(centroids_df)
    queries = (
        _assign_cells(query_df, id_col, vec_col, cents, nprobe=nprobe)
        .select(
            F.col("id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode("probes").alias("cell"),
        )
    )
    pairs = (
        F.broadcast(queries)
        .join(index.select("id", "v", "cell"), "cell")
        .where(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("v")), round_to).alias("cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_topk(pairs, k)


def embedding_outlier_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    z: float = 2.0,
    dim: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-space quality audit: assign each vector to its nearest
    frozen centroid, then flag vectors whose cosine distance to their
    cell centroid sits more than ``z`` cell-local standard deviations
    above the cell mean — the standard "does this embedding belong to
    its neighborhood" filter a curation pipeline runs before dedup/ANN
    trusts the space. Output (id, cell, dist, cell_mean, cell_std,
    is_outlier) ordered by id.

    Scale/parity shape: assignment rides the scan (frozen codebook
    literal, same as ivf_neighbors_frozen); per-cell moments are ONE
    hash aggregation over rounded-then-DECIMAL distances, so the mean
    and std are exact under any partial-aggregation order and the whole
    report hash-MATCHes the DuckDB twin."""
    cents = seeded_centroids(dim, n_centroids)
    v = as_double(F.col("v"))
    ranked = F.array_sort(
        F.transform(
            _planes_lit(cents),
            lambda c, i: F.struct((-dot(v, c)).alias("nd"), i.cast("int").alias("i")),
        )
    )
    base = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .select("id", "v", F.element_at(ranked, 1)["i"].alias("cell"))
        # name the looked-up centroid BEFORE the unrolled cosine: the
        # fixed-dim builder repeats each operand's SQL fragment per term,
        # so an inline element_at(<literal codebook>, ...) operand would
        # render the whole codebook dim×3 times into the parsed text
        .select(
            "id",
            "v",
            "cell",
            F.element_at(_planes_lit(cents), F.col("cell") + 1).alias("__cent"),
        )
        .select(
            "id",
            "cell",
            F.round(
                F.lit(1.0) - cosine_fixed("v", "__cent", dim),
                9,
            ).alias("dist"),
        )
    )
    # exact decimal SUM, then cast to double BEFORE dividing: decimal
    # division/multiplication scale rules differ between engines, while
    # double arithmetic on identical doubles does not — so d^2 is a
    # double product (deterministic) cast to decimal for order-free
    # summation, never a decimal*decimal
    dec = F.col("dist").cast("decimal(38,9)")
    dec2 = (F.col("dist") * F.col("dist")).cast("decimal(38,18)")
    stats = base.groupBy("cell").agg(
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("__mean"),
        (F.sum(dec2).cast("double") / F.count(F.lit(1))).alias("__m2"),
    )
    std = F.sqrt(F.greatest(F.col("__m2") - F.col("__mean") * F.col("__mean"), F.lit(0.0)))
    return (
        base.join(stats, "cell")
        .select(
            "id",
            "cell",
            F.round("dist", round_to).alias("dist"),
            F.round("__mean", round_to).alias("cell_mean"),
            F.round(std, round_to).alias("cell_std"),
            (F.col("dist") > F.col("__mean") + F.lit(float(z)) * std).alias(
                "is_outlier"
            ),
        )
        .withColumnRenamed("id", id_col)
        .orderBy(id_col)
    )


def embedding_outlier_report_sql(
    table: str,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    z: float = 2.0,
    dim: int = 64,
    round_to: int = 6,
) -> str:
    cents = seeded_centroids(dim, n_centroids)
    entries = ", ".join(
        "{'nd': -list_dot_product(v::DOUBLE[], ["
        + ", ".join(repr(x) for x in c)
        + f"]), 'i': {i}}}"
        for i, c in enumerate(cents)
    )
    cents_lit = (
        "[" + ", ".join("[" + ", ".join(repr(x) for x in c) + "]" for c in cents) + "]"
    )
    cos = cosine_sql("v", f"({cents_lit})[cell + 1]")
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS v,
         (list_sort([{entries}]))[1].i AS cell
  FROM {table}
),
dists AS (
  SELECT id, cell, CASE WHEN ABS(1.0 - {cos}) >= 1e16 THEN CAST((1.0 - {cos}) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((1.0 - {cos}) * CAST(ABS(1.0 - {cos}) >= POWER(10.0, -(9+1)) AS INT) AS VARCHAR) AS DECIMAL(38,9)) AS VARCHAR) AS DOUBLE) END AS dist FROM base
),
stats AS (
  SELECT cell,
         CAST(SUM(CAST(dist AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*) AS mean,
         CAST(SUM(CAST(dist * dist AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)
           AS m2
  FROM dists GROUP BY cell
)
SELECT d.id AS {id_col}, d.cell,
       CASE WHEN ABS(d.dist) >= 1e16 THEN CAST((d.dist) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((d.dist) * CAST(ABS(d.dist) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS dist,
       CASE WHEN ABS(s.mean) >= 1e16 THEN CAST((s.mean) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((s.mean) * CAST(ABS(s.mean) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS cell_mean,
       CASE WHEN ABS(sqrt(greatest(s.m2 - s.mean * s.mean, 0.0))) >= 1e16 THEN CAST((sqrt(greatest(s.m2 - s.mean * s.mean, 0.0))) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((sqrt(greatest(s.m2 - s.mean * s.mean, 0.0))) * CAST(ABS(sqrt(greatest(s.m2 - s.mean * s.mean, 0.0))) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS cell_std,
       (d.dist > s.mean + {float(z)!r} * sqrt(greatest(s.m2 - s.mean * s.mean, 0.0)))
         AS is_outlier
FROM dists d JOIN stats s USING (cell)
ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two rankers (hybrid / ensemble retrieval)
# ---------------------------------------------------------------------------

def rrf_fusion(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_pred: Column,
    k: int = 5,
    pool: int = 10,
    c: int = 60,
    nbits: int = 4,
    dim: int = 64,
) -> DataFrame:
    """(query_id, neighbor_id, rrf, rank): reciprocal-rank fusion
    (Cormack, Clarke & Buettcher, SIGIR 2009) of two neighbor rankers —
    the exact brute-force ranker and the LSH-bucketed approximate one —
    each contributing its top-``pool`` list; fused score is
    sum over rankers of 1/(c + rank), missing entries contribute 0.

    RRF is the standard way to ensemble retrieval backends (sparse +
    dense, or several ANN indexes): rank-based, so no score calibration
    across rankers is needed, and the c constant damps the head. The
    fused list recovers results a single approximate index drops.

    Scale shape: each ranker's output is (|Q| x pool) rows — the fusion
    join and re-rank never touch the corpus, only the two rank lists;
    cost is entirely in the underlying rankers. The 1/(c+rank) terms are
    integer-derived doubles, identical in both engines; rrf rounds to
    9 dp with the neighbor id as tiebreak."""
    if k < 1 or pool < k or c < 1:
        raise ValueError(f"need 1 <= k <= pool and c >= 1, got {k=} {pool=} {c=}")
    a = brute_force_neighbors(
        df, id_col, vec_col, query_pred, k=pool, dim=dim
    ).select("query_id", "neighbor_id", F.col("rank").alias("__ra"))
    b = lsh_bucketed_neighbors(
        df, id_col, vec_col, query_pred, k=pool, nbits=nbits, dim=dim
    ).select("query_id", "neighbor_id", F.col("rank").alias("__rb"))
    fused = (
        a.join(b, ["query_id", "neighbor_id"], "full_outer")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.coalesce(1.0 / (F.lit(c) + F.col("__ra")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(c) + F.col("__rb")), F.lit(0.0)),
                9,
            ).alias("rrf"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("neighbor_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def rrf_fusion_sql(
    table: str,
    id_col: str,
    vec_col: str,
    query_pred_sql: str,
    k: int = 5,
    pool: int = 10,
    c: int = 60,
    nbits: int = 4,
    dim: int = 64,
) -> str:
    if k < 1 or pool < k or c < 1:
        raise ValueError(f"need 1 <= k <= pool and c >= 1, got {k=} {pool=} {c=}")
    bf = brute_force_neighbors_sql(table, id_col, vec_col, query_pred_sql, k=pool)
    lsh = lsh_bucketed_neighbors_sql(
        table, id_col, vec_col, query_pred_sql, k=pool, nbits=nbits, dim=dim
    )
    return f"""
WITH __a AS (SELECT query_id, neighbor_id, rank AS ra FROM ({bf}) t),
__b AS (SELECT query_id, neighbor_id, rank AS rb FROM ({lsh}) t),
__fused AS (
  SELECT COALESCE(a.query_id, b.query_id) AS query_id,
         COALESCE(a.neighbor_id, b.neighbor_id) AS neighbor_id,
         CAST(CAST(CAST(CAST((COALESCE(1.0 / ({c} + a.ra), 0.0)
               + COALESCE(1.0 / ({c} + b.rb), 0.0)) * CAST(ABS(COALESCE(1.0 / ({c} + a.ra), 0.0)
               + COALESCE(1.0 / ({c} + b.rb), 0.0)) >= POWER(10.0, -(9+1)) AS INT) AS VARCHAR) AS DECIMAL(38,9)) AS VARCHAR) AS DOUBLE) AS rrf
  FROM __a a FULL OUTER JOIN __b b
    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
)
SELECT query_id, neighbor_id, rrf,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, neighbor_id ASC) AS INTEGER)
         AS rank
FROM __fused
QUALIFY rank <= {k}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# Hard-negative mining + anisotropy audit
# ---------------------------------------------------------------------------

def hard_negatives(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_pred: Column,
    lo: float,
    hi: float,
    k: int = 5,
    round_to: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Top-k hard negatives per query: the corpus rows whose cosine to
    the query falls in the [lo, hi) band — similar enough to be
    confusable, below the near-duplicate threshold — ranked by cosine
    descending. Output ``(query_id, neighbor_id, cos, rank)``.

    The contrastive-training companion to ``brute_force_neighbors``:
    in-batch random negatives saturate quickly; retrieval/embedding
    fine-tuning wants negatives from exactly this band (hardest
    non-duplicates — e.g. DPR, Karpukhin et al. EMNLP'20 §3.2 picks
    them from BM25/ANN candidates). Keep ``hi`` at or below the dedup
    threshold so actual duplicates (false negatives for training) are
    excluded. The band compare runs on the ALREADY-ROUNDED cosine, so
    band edges are exact in both engines (the round-then-compare
    convention of the dedup family).

    Scale posture: identical to brute_force_neighbors — broadcast the
    bounded query set (query_pred is the caller's contract to keep it
    small), scan-side cosine, per-query top-k window. For corpus-scale
    query sets use the IVF/LSH index paths and band-filter their
    candidate output instead.

    Zero-norm vectors are excluded up front (cosine is undefined on
    them; under ANSI the division would raise once the band predicate
    forces cosine evaluation on every pair)."""
    if dim is not None and scale_gate("unroll", df):
        # fixed-dim path (at scale only — "unroll" gate): norm once per
        # row (reused by the filter AND the pair stage), unrolled dot per
        # pair — bit-identical to the HOF cosine (functions.vectors
        # fixed-form contract)
        base = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm_fixed(F.col(vec_col), dim).alias("__n"),
        ).where(F.col("__n") > 0)
        queries = base.where(query_pred).select(
            F.col("id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("__n").alias("__qn"),
        )
        cos = F.round(
            dot_fixed(F.col("qv"), F.col("v"), dim)
            / (F.col("__qn") * F.col("__n")),
            round_to,
        )
    else:
        base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).where(
            norm(as_double(F.col(vec_col))) > 0
        )
        queries = base.where(query_pred).select(
            F.col("id").alias("query_id"), F.col("v").alias("qv")
        )
        cos = F.round(cosine(F.col("qv"), F.col("v")), round_to)
    pairs = (
        F.broadcast(queries)
        .join(base, F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            cos.alias("cos"),
        )
        .where((F.col("cos") >= lo) & (F.col("cos") < hi))
    )
    return _rank_topk(pairs, k)


def hard_negatives_sql(
    table: str,
    id_col: str,
    vec_col: str,
    query_pred_sql: str,
    lo: float,
    hi: float,
    k: int = 5,
    round_to: int = 6,
) -> str:
    cos = f"CAST(CAST(CAST(CAST(({cosine_sql('q.qv', 'c.v')}) * CAST(ABS({cosine_sql('q.qv', 'c.v')}) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE)"
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {vec_col} AS v FROM {table}
  WHERE sqrt(list_inner_product({vec_col}::DOUBLE[], {vec_col}::DOUBLE[])) > 0
),
q AS (SELECT id AS query_id, v AS qv FROM base WHERE {query_pred_sql}),
band AS (
  SELECT query_id, id AS neighbor_id, {cos} AS cos
  FROM q JOIN base c ON q.query_id <> c.id
  WHERE {cos} >= {lo!r} AND {cos} < {hi!r}
)
SELECT query_id, neighbor_id, cos,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS INTEGER)
         AS rank
FROM band
QUALIFY rank <= {k}
ORDER BY query_id, rank
"""


def anisotropy_audit(
    df: DataFrame, vec_col: str, round_to: int = 6
) -> DataFrame:
    """One-row embedding-space anisotropy audit: ``(n, mean_norm,
    avg_pairwise_cos)`` where avg_pairwise_cos is the EXACT average
    cosine over all n(n−1)/2 pairs of the unit-normalized vectors —
    computed without any pair generation via the Gram identity

        Σ_{i≠j} v̂_i·v̂_j = ‖Σ v̂‖² − n        (‖v̂_i‖ = 1)

    so the all-pairs statistic is one vector sum. High average cosine
    is the anisotropy / representation-degeneration signature
    (Ethayarajh EMNLP'19; Gao et al. ICLR'19): embeddings collapsing
    into a narrow cone, which silently inflates every cosine-based
    dedup/ANN threshold calibrated on a healthier space. mean_norm (of
    the RAW vectors) catches norm drift from a new encoder checkpoint.
    Zero-norm vectors are excluded (and counted out of n).

    Engine parity: per-row normalization is index-ordered expression
    math (bit-identical, the functions/vectors.py contract); normalized
    components quantize to decimal(18,9) via the text hop and sum
    exactly per dimension (the centroid_drift convention,
    anomaly.py:645); the dim-bounded ‖·‖² finish runs on 9dp-rounded
    per-dim sums. Scale: one scan + one dim-keyed aggregation (≤ dim
    rows) + a 1-row reduction."""
    nrm = norm(as_double(F.col(vec_col)))
    base = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(vec_col).alias("__v"), nrm.alias("__n"))
        .where(F.col("__n") > 0)
    )
    q6n = F.col("__n").cast("string").cast("decimal(18,6)")
    unit = F.transform(
        as_double(F.col("__v")), lambda x: x / F.col("__n")
    )
    ex = base.select(
        q6n.alias("__q6n"), F.posexplode(unit).alias("dim", "__u")
    )
    _uq9 = F.col("__u").cast("string").cast("decimal(18,9)")
    dims = ex.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("__cnt"),
        F.sum(_uq9.cast("decimal(38,9)")).cast("decimal(38,9)").alias("__s"),
        F.sum(F.when(F.col("dim") == 0, F.col("__q6n")).cast("decimal(38,6)"))
        .cast("decimal(38,6)")
        .alias("__norms"),
    )
    s9 = F.round(F.col("__s").cast("string").cast("double"), 9)
    out = dims.agg(
        F.max("__cnt").alias("n"),
        F.sum(s9 * s9).alias("__q"),
        F.max(F.col("__norms").cast("string").cast("double")).alias("__sn"),
    )
    n_d = F.col("n").cast("double")
    return out.select(
        "n",
        F.round(F.col("__sn") / n_d, round_to).alias("mean_norm"),
        F.round(
            F.try_divide(F.col("__q") - n_d, n_d * (n_d - F.lit(1.0))),
            round_to,
        ).alias("avg_pairwise_cos"),
    )


def anisotropy_audit_sql(table: str, vec_col: str, round_to: int = 6) -> str:
    nrm = f"sqrt(list_inner_product({vec_col}::DOUBLE[], {vec_col}::DOUBLE[]))"
    return f"""
WITH __b AS (
  SELECT {vec_col}::DOUBLE[] AS v, {nrm} AS nr,
         CAST(CAST(({nrm}) * CAST(ABS({nrm}) >= POWER(10.0, -(6+1)) AS INT) AS VARCHAR) AS DECIMAL(18,6)) AS q6n
  FROM {table}
  WHERE {vec_col} IS NOT NULL AND {nrm} > 0
),
__e AS (
  SELECT q6n, CAST(i - 1 AS INTEGER) AS dim, v[i] / nr AS u
  FROM __b, UNNEST(generate_series(1, len(v))) AS __x(i)
),
__d AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CAST(CAST(CAST((u) * CAST(ABS(u) >= POWER(10.0, -(9+1)) AS INT) AS VARCHAR) AS DECIMAL(18,9))
                       AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS s,
         CAST(SUM(CASE WHEN dim = 0 THEN q6n END) AS DECIMAL(38,6)) AS norms
  FROM __e GROUP BY dim
),
__a AS (
  SELECT MAX(cnt) AS n,
         SUM(CASE WHEN ABS(CAST(CAST(s AS VARCHAR) AS DOUBLE)) >= 1e16 THEN CAST((CAST(CAST(s AS VARCHAR) AS DOUBLE)) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((CAST(CAST(s AS VARCHAR) AS DOUBLE)) * CAST(ABS(CAST(CAST(s AS VARCHAR) AS DOUBLE)) >= POWER(10.0, -(9+1)) AS INT) AS VARCHAR) AS DECIMAL(38,9)) AS VARCHAR) AS DOUBLE) END
             * CASE WHEN ABS(CAST(CAST(s AS VARCHAR) AS DOUBLE)) >= 1e16 THEN CAST((CAST(CAST(s AS VARCHAR) AS DOUBLE)) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((CAST(CAST(s AS VARCHAR) AS DOUBLE)) * CAST(ABS(CAST(CAST(s AS VARCHAR) AS DOUBLE)) >= POWER(10.0, -(9+1)) AS INT) AS VARCHAR) AS DECIMAL(38,9)) AS VARCHAR) AS DOUBLE) END) AS q,
         MAX(CAST(CAST(norms AS VARCHAR) AS DOUBLE)) AS sn
  FROM __d
)
SELECT n,
       CASE WHEN ABS(sn / CAST(n AS DOUBLE)) >= 1e16 THEN CAST((sn / CAST(n AS DOUBLE)) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((sn / CAST(n AS DOUBLE)) * CAST(ABS(sn / CAST(n AS DOUBLE)) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS mean_norm,
       CAST(CAST(CAST(CAST(((q - CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) * CAST(ABS((q - CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) AS avg_pairwise_cos
FROM __a
"""


def cluster_label_nmi(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    n_centroids: int = 8,
    dim: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """One-row agreement between an UNSUPERVISED embedding clustering and
    a label column: ``(n, n_clusters, n_labels, h_cluster, h_label,
    h_joint, mi, nmi)`` — does the embedding space actually organize
    around the labels? The space-quality audit that should gate any
    label-free curation decision (cluster-balanced sampling, SemDeDup
    pruning): near-zero NMI says the clusters are slicing noise, not
    semantics.

    Clustering is the frozen-seeded-centroid assignment of
    ``embedding_outlier_report`` (argmax cosine against literal
    centroids — production fits centroids offline and ships them as
    literals). Entropies are the plug-in estimates H = Σ −p·ln p over
    the contingency cells; MI = H_c + H_l − H_joint and NMI is the
    arithmetic-mean normalization 2·MI/(H_c + H_l) (Strehl & Ghosh
    JMLR'02). Per-cell entropy terms round to 9dp and sum in DECIMAL —
    order-free across partitions AND engines (the lm_score convention,
    vocab.py:112); ln on identical double inputs is the same de-facto
    portable libm call the certified entropy entries already rely on.
    NULL-label rows are excluded. NMI is NULL when either marginal
    entropy is 0 (single cluster or single label).

    Scale posture: assignment rides the scan; one (cluster, label)
    contingency aggregation (k·L cells); entropy finishes on the
    bounded cell frame."""
    cents = seeded_centroids(dim, n_centroids)
    v = as_double(F.col("__v"))
    ranked = F.array_sort(
        F.transform(
            _planes_lit(cents),
            lambda c, i: F.struct(
                (-dot(v, c)).alias("nd"), i.cast("int").alias("i")
            ),
        )
    )
    cells = (
        df.where(F.col(label_col).isNotNull())
        .select(
            F.col(vec_col).alias("__v"), F.col(label_col).alias("__l")
        )
        .select(F.element_at(ranked, 1)["i"].alias("__c"), "__l")
        .groupBy("__c", "__l")
        .agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
    )
    # single-scan finish: marginals/total as windows over the k*L cell
    # frame (cells are bounded, so the unpartitioned window is over a
    # handful of rows, not data) — a CTE-per-entropy diamond would
    # recompute the corpus scan once per branch (the triangle_stats
    # recompute trap, SCALING.md)
    wc = Window.partitionBy("__c")
    wl = Window.partitionBy("__l")
    g = (
        cells.withColumn("__n", F.sum("__cnt").over(Window.partitionBy()).cast("long"))
        .withColumn("__mc", F.sum("__cnt").over(wc).cast("long"))
        .withColumn("__ml", F.sum("__cnt").over(wl).cast("long"))
        .withColumn("__rc", F.row_number().over(wc.orderBy("__l")))
        .withColumn("__rl", F.row_number().over(wl.orderBy("__c")))
    )

    def _term(cnt):
        p = cnt.cast("double") / F.col("__n").cast("double")
        return F.round(-p * F.log(p), 9).cast("decimal(38,9)")

    agg = g.agg(
        F.max("__n").alias("n"),
        F.sum(F.when(F.col("__rc") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_clusters"),
        F.sum(F.when(F.col("__rl") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_labels"),
        F.sum(F.when(F.col("__rc") == 1, _term(F.col("__mc"))))
        .cast("double")
        .alias("h_cluster"),
        F.sum(F.when(F.col("__rl") == 1, _term(F.col("__ml"))))
        .cast("double")
        .alias("h_label"),
        F.sum(_term(F.col("__cnt"))).cast("double").alias("h_joint"),
    )
    mi = F.col("h_cluster") + F.col("h_label") - F.col("h_joint")
    denom = F.col("h_cluster") + F.col("h_label")
    return agg.select(
        "n",
        "n_clusters",
        "n_labels",
        F.round("h_cluster", round_to).alias("h_cluster"),
        F.round("h_label", round_to).alias("h_label"),
        F.round("h_joint", round_to).alias("h_joint"),
        F.round(mi, round_to).alias("mi"),
        F.round(
            # try_divide inside the guard: the when() can be hoisted
            # (the CUPED incident) and denom = 0 is a real input
            F.when(
                (F.col("h_cluster") > 0) & (F.col("h_label") > 0),
                F.try_divide(F.lit(2.0) * mi, denom),
            ),
            round_to,
        ).alias("nmi"),
    )


def cluster_label_nmi_sql(
    table: str,
    vec_col: str,
    label_col: str,
    n_centroids: int = 8,
    dim: int = 64,
    round_to: int = 6,
) -> str:
    cents = seeded_centroids(dim, n_centroids)
    entries = ", ".join(
        "{'nd': -list_dot_product(v::DOUBLE[], ["
        + ", ".join(repr(x) for x in c)
        + f"]), 'i': {i}}}"
        for i, c in enumerate(cents)
    )
    term = (
        "CAST(CAST(CAST(CAST((-(CAST({c} AS DOUBLE) / CAST(n AS DOUBLE))"
        " * ln(CAST({c} AS DOUBLE) / CAST(n AS DOUBLE))) * CAST(ABS(-(CAST({c} AS DOUBLE) / CAST(n AS DOUBLE))"
        " * ln(CAST({c} AS DOUBLE) / CAST(n AS DOUBLE))) >= POWER(10.0, -(9+1)) AS INT) AS VARCHAR) AS DECIMAL(38,9)) AS VARCHAR) AS DOUBLE)"
    )
    return f"""
WITH __b AS (
  SELECT {vec_col}::DOUBLE[] AS v, {label_col} AS l
  FROM {table} WHERE {label_col} IS NOT NULL
),
__cells AS (
  SELECT (list_sort([{entries}]))[1].i AS c, l,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM __b GROUP BY c, l
),
__g AS (
  SELECT c, l, cnt,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n,
         CAST(SUM(cnt) OVER (PARTITION BY c) AS BIGINT) AS mc,
         CAST(SUM(cnt) OVER (PARTITION BY l) AS BIGINT) AS ml,
         ROW_NUMBER() OVER (PARTITION BY c ORDER BY l) AS rc,
         ROW_NUMBER() OVER (PARTITION BY l ORDER BY c) AS rl
  FROM __cells
),
__a AS (
  SELECT MAX(n) AS n,
         CAST(SUM(CASE WHEN rc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clusters,
         CAST(SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_labels,
         CAST(SUM(CASE WHEN rc = 1
                       THEN CAST({term.format(c='mc')} AS DECIMAL(38,9)) END)
              AS DOUBLE) AS h_cluster,
         CAST(SUM(CASE WHEN rl = 1
                       THEN CAST({term.format(c='ml')} AS DECIMAL(38,9)) END)
              AS DOUBLE) AS h_label,
         CAST(SUM(CAST({term.format(c='cnt')} AS DECIMAL(38,9))) AS DOUBLE)
           AS h_joint
  FROM __g
)
SELECT n, n_clusters, n_labels,
       CASE WHEN ABS(h_cluster) >= 1e16 THEN CAST((h_cluster) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((h_cluster) * CAST(ABS(h_cluster) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS h_cluster,
       CASE WHEN ABS(h_label) >= 1e16 THEN CAST((h_label) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((h_label) * CAST(ABS(h_label) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS h_label,
       CASE WHEN ABS(h_joint) >= 1e16 THEN CAST((h_joint) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((h_joint) * CAST(ABS(h_joint) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS h_joint,
       CASE WHEN ABS(h_cluster + h_label - h_joint) >= 1e16 THEN CAST((h_cluster + h_label - h_joint) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((h_cluster + h_label - h_joint) * CAST(ABS(h_cluster + h_label - h_joint) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS mi,
       CAST(CAST(CAST(CAST((CASE WHEN h_cluster > 0 AND h_label > 0
                  THEN (2.0 * (h_cluster + h_label - h_joint))
                       / (h_cluster + h_label) END) * CAST(ABS(CASE WHEN h_cluster > 0 AND h_label > 0
                  THEN (2.0 * (h_cluster + h_label - h_joint))
                       / (h_cluster + h_label) END) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) AS nmi
FROM __a
"""


def cosine_histogram(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    nbits: int = 4,
    dim: int = 64,
    n_bins: int = 10,
    round_to: int = 9,
    per_bucket_cap: int | None = None,
    candidate_pair_budget: int | None = None,
) -> DataFrame:
    """Candidate-pair cosine histogram for near-dup threshold
    calibration: ``(bin_lo, n_pairs, share)`` where ``bin_lo`` is the
    inclusive lower edge of a width-1/n_bins cosine bin (the top bin
    also takes cos = 1.0; bin 0 also takes the anti-correlated cos < 0
    pairs — LSH buckets collide same-sign patterns so negatives are a
    trace population, folded rather than given negative bin_lo rows)
    over the LSH-bucketed candidate pairs.

    The "where should the dedup threshold go" table: a healthy corpus
    shows a near-dup mode separated from the random-pair bulk; the
    valley between them is the threshold. Pairs come from the SAME
    LSH bucketing the dedup/ANN paths use (so the histogram describes
    exactly the candidate distribution those operators will see), each
    unordered pair counted once (id₁ < id₂ within a bucket). Zero-norm
    vectors are excluded (cosine undefined).

    Engine parity: binning floors the ALREADY-ROUNDED cosine (exact in
    both engines — the dedup band convention); counts are integers,
    shares one IEEE division each. Scale: bucket equi-join (the
    lsh_bucketed_neighbors posture — no all-pairs), bin-sized output.

    ``per_bucket_cap`` is the 100 TB path (r10, measured on the weak-
    scaling curve): at a FIXED hyperplane count the bucket population
    grows with the corpus and the candidate-pair stage is inherently
    quadratic (sf0.1→0.3 on the driver-shaped corpus: 3.4 s → 27.9 s).
    The cap elects at most ``per_bucket_cap`` rows per bucket by the
    deterministic (id, salt) hash draw (the cap_per_group/hash_fraction
    contract — any re-run, partitioning, or engine elects the same
    rows), bounding the pair stage at buckets × C(cap, 2) pairs
    REGARDLESS of corpus size. The histogram becomes a per-bucket
    uniform pair SAMPLE: within a bucket the sampled pairs are an
    unbiased draw of its pair population, so the shares that drive
    threshold calibration survive; raw counts no longer scale with the
    corpus (that is the point). Give the capped mode enough nbits that
    one bucket's window sort stays a fraction of a partition."""
    planes = hyperplanes(dim, nbits)
    # norm once per VECTOR, not once per PAIR: the pair stage below reuses
    # __nrm, so each candidate pair costs one dot + one divide instead of
    # three array walks (guide §2.3 "don't compute things you throw
    # away"; bit-identical — same expression on the same rows, see
    # functions.vectors fixed-form contract). The unrolled forms are
    # scale-gated ("unroll"): small inputs build the compact HOF
    # trees — identical values, ~1/50th the Expression nodes per task.
    fixed = scale_gate("unroll", df)
    nrm = (
        norm_fixed(F.col(vec_col), dim)
        if fixed
        else norm(as_double(F.col(vec_col)))
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _bucket_col(F.col(vec_col), planes, fixed=fixed).alias("bucket"),
        nrm.alias("__nrm"),
    ).where(F.col("__nrm") > 0)
    if per_bucket_cap is not None:
        if per_bucket_cap < 2:
            raise ValueError(f"need per_bucket_cap >= 2, got {per_bucket_cap}")
        from bullet_storm_spark.operators.sampling import hash_fraction

        wb = Window.partitionBy("bucket").orderBy(
            hash_fraction("id", "coshist"), F.col("id")
        )
        base = (
            base.withColumn("__r", F.row_number().over(wb))
            .where(F.col("__r") <= per_bucket_cap)
            .drop("__r")
        )
    if candidate_pair_budget is not None:
        from bullet_storm_spark.operators.pair_budget import (
            check_candidate_pair_budget,
        )

        # priced on the (post-cap, if any) bucket populations — the
        # exact pair volume the in-bucket join below will emit; the
        # guard is what makes the UNCAPPED mode (measured sf^1.89 at a
        # fixed hyperplane count, WEAK_SCALING.json) safe to run
        # unattended: over budget it names the hot buckets and the fix
        # (set per_bucket_cap, or raise nbits) instead of melting the
        # pair stage
        check_candidate_pair_budget(
            base.select("bucket"),
            ["bucket"],
            candidate_pair_budget,
            "cosine_histogram",
            "Set per_bucket_cap (unbiased per-bucket pair sample, "
            "corpus-size-independent cost) or raise nbits.",
        )
    # the probe side feeds the pair stage, whose cost is O(Σ C(bucket, 2))
    # dot products while its input is only O(N) rows — at bench scale the
    # single-row-group parquet scan leaves it ONE task under the broadcast
    # join (measured: the whole pair stage on one core). Hash-distribute
    # the probe rows on the high-cardinality id so the pair compute runs
    # at full width at any input partitioning (guide §2.5; the
    # embedding_neardup_pairs_lsh pin, same reasoning). CAPPED mode skips
    # the spread: the election bounds the pair stage at
    # buckets × C(cap, 2) pairs — measured at sf0.1, the 32-task exchange
    # cost more in task-overhead (deser + scheduling) than the entire
    # bounded pair compute (37 tasks / 3.8 s deserialize vs a
    # milliseconds-scale dot pass).
    a = base.select(
        F.col("id").alias("id1"),
        F.col("v").alias("v1"),
        F.col("__nrm").alias("n1"),
        "bucket",
    )
    if per_bucket_cap is None:
        a = a.repartition(
            df.sparkSession.sparkContext.defaultParallelism, "id1"
        )
    b = base.select(
        F.col("id").alias("id2"),
        F.col("v").alias("v2"),
        F.col("__nrm").alias("n2"),
        "bucket",
    )
    if fixed:
        pair_dot = dot_fixed(F.col("v1"), F.col("v2"), dim)
    else:
        pair_dot = dot(as_double(F.col("v1")), as_double(F.col("v2")))
    cos = F.round(pair_dot / (F.col("n1") * F.col("n2")), 6)
    binned = (
        a.join(b, "bucket")
        .where(F.col("id1") < F.col("id2"))
        .select(
            F.greatest(
                F.least(
                    F.floor(cos * n_bins).cast("long"), F.lit(n_bins - 1)
                ),
                F.lit(0),
            ).alias("__bin")
        )
        .groupBy("__bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    w = Window.partitionBy()
    return (
        binned.withColumn("__tot", F.sum("n_pairs").over(w).cast("long"))
        .select(
            F.round(
                F.col("__bin").cast("double") / F.lit(float(n_bins)), round_to
            ).alias("bin_lo"),
            "n_pairs",
            F.round(
                F.col("n_pairs").cast("double") / F.col("__tot").cast("double"),
                round_to,
            ).alias("share"),
        )
        .orderBy("bin_lo")
    )


def cosine_histogram_sql(
    table: str,
    id_col: str,
    vec_col: str,
    nbits: int = 4,
    dim: int = 64,
    n_bins: int = 10,
    round_to: int = 9,
    per_bucket_cap: int | None = None,
) -> str:
    planes = hyperplanes(dim, nbits)
    bucket = _bucket_sql("v", planes)
    cos = f"CAST(CAST(CAST(CAST(({cosine_sql('a.v', 'b.v')}) * CAST(ABS({cosine_sql('a.v', 'b.v')}) >= POWER(10.0, -(6+1)) AS INT) AS VARCHAR) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE)"
    if per_bucket_cap is not None:
        from bullet_storm_spark.operators.sampling import hash_fraction_sql

        u = hash_fraction_sql("id", "coshist")
        cap_clause = f""",
base AS (
  SELECT id, v, bucket FROM (
    SELECT id, v, bucket,
           row_number() OVER (PARTITION BY bucket ORDER BY {u}, id) AS __r
    FROM __all
  ) WHERE __r <= {int(per_bucket_cap)}
)"""
        base_name = "__all"
    else:
        cap_clause = ""
        base_name = "base"
    return f"""
WITH {base_name} AS (
  SELECT {id_col} AS id, {vec_col} AS v, {bucket} AS bucket
  FROM {table}
  WHERE sqrt(list_inner_product({vec_col}::DOUBLE[], {vec_col}::DOUBLE[])) > 0
){cap_clause},
__binned AS (
  SELECT GREATEST(LEAST(CAST(FLOOR({cos} * {n_bins}) AS BIGINT), {n_bins - 1}), 0) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM base a JOIN base b ON a.bucket = b.bucket AND a.id < b.id
  GROUP BY bin
)
SELECT CASE WHEN ABS(CAST(bin AS DOUBLE) / {float(n_bins)!r}) >= 1e16 THEN CAST((CAST(bin AS DOUBLE) / {float(n_bins)!r}) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((CAST(bin AS DOUBLE) / {float(n_bins)!r}) * CAST(ABS(CAST(bin AS DOUBLE) / {float(n_bins)!r}) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS bin_lo,
       n_pairs,
       CAST(CAST(CAST(CAST((CAST(n_pairs AS DOUBLE)
             / CAST(SUM(n_pairs) OVER () AS DOUBLE)) * CAST(ABS(CAST(n_pairs AS DOUBLE)
             / CAST(SUM(n_pairs) OVER () AS DOUBLE)) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) AS share
FROM __binned ORDER BY bin_lo
"""


def fisher_separation(
    df: DataFrame, vec_col: str, label_col: str, round_to: int = 6
) -> DataFrame:
    """One-row Fisher class-separation of the embedding space: ``(n,
    dim, n_labels, ss_between, ss_within, fisher_ratio)`` — the scatter
    view of the space-vs-labels question ``cluster_label_nmi`` answers
    in information terms (Fisher 1936 lineage; the trace criterion
    tr(S_B)/tr(S_W)):

        SS_between = Σ_l n_l·‖m_l − m‖²,  SS_within = Σ_l Σ_{i∈l}‖x_i − m_l‖²

    A ratio near 0 says the labels live nowhere in this space (don't
    cluster-sample by it); a large ratio says linear probes will be
    easy. NULL-label rows are excluded; ratio is NULL when SS_within
    is 0 (every vector equals its class mean).

    Engine parity: per-(label, dim) moments are exact decimals via the
    text hop (the centroid_drift convention); each label×dim scatter
    term is one fixed IEEE expression rounded to 9dp and summed in
    DECIMAL (order-free, the lm_score convention). One posexplode scan,
    one (label, dim) aggregation (labels×dims rows), one 1-row
    reduction."""
    base = df.where(F.col(label_col).isNotNull()).select(
        F.col(label_col).alias("__l"),
        F.posexplode(as_double(F.col(vec_col))).alias("dim", "__v"),
    )
    _vq9 = F.col("__v").cast("string").cast("decimal(18,9)")
    ld = base.groupBy("__l", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(_vq9.cast("decimal(38,9)")).cast("decimal(38,9)").alias("__s"),
        # square the (18,9) directly: (18,9)x(18,9) is (37,18) exact in
        # Spark; a (19,9) operand squares to (39,18), silently rescaled
        # (the eb_shrunk_rates lesson) — the (19,9) widening is DuckDB-only
        F.sum((_vq9 * _vq9))
        .cast("decimal(38,18)")
        .alias("__q"),
    )
    wd = Window.partitionBy("dim")
    g = (
        ld.withColumn("__gn", F.sum("__n").over(wd).cast("long"))
        .withColumn(
            "__gs", F.sum("__s").over(wd).cast("decimal(38,9)")
        )
    )
    s_d = F.col("__s").cast("string").cast("double")
    q_d = F.col("__q").cast("string").cast("double")
    gs_d = F.col("__gs").cast("string").cast("double")
    ml = s_d / F.col("__n").cast("double")
    gm = gs_d / F.col("__gn").cast("double")
    between_term = F.round(
        F.col("__n").cast("double") * ((ml - gm) * (ml - gm)), 9
    )
    within_term = F.round(
        F.greatest(q_d - (s_d * s_d) / F.col("__n").cast("double"), F.lit(0.0)),
        9,
    )
    agg = g.agg(
        F.max("__gn").alias("n"),
        (F.max("dim") + 1).cast("long").alias("dim"),
        F.count_distinct("__l").cast("long").alias("n_labels"),
        F.sum(between_term.cast("decimal(38,9)")).cast("double").alias("__b"),
        F.sum(within_term.cast("decimal(38,9)")).cast("double").alias("__w"),
    )
    return agg.select(
        "n",
        "dim",
        "n_labels",
        F.round(F.col("__b"), round_to).alias("ss_between"),
        F.round(F.col("__w"), round_to).alias("ss_within"),
        F.round(F.try_divide(F.col("__b"), F.col("__w")), round_to).alias(
            "fisher_ratio"
        ),
    )


def fisher_separation_sql(
    table: str, vec_col: str, label_col: str, round_to: int = 6
) -> str:
    vq9 = "CAST(CAST((v) * CAST(ABS(v) >= POWER(10.0, -(9+1)) AS INT) AS VARCHAR) AS DECIMAL(18,9))"
    return f"""
WITH __e AS (
  SELECT {label_col} AS l, CAST(i - 1 AS INTEGER) AS dim,
         CAST(({vec_col}::DOUBLE[])[i] AS DOUBLE) AS v
  FROM {table}, UNNEST(generate_series(1, len({vec_col}))) AS __u(i)
  WHERE {label_col} IS NOT NULL
),
__ld AS (
  SELECT l, dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST({vq9} AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS s,
         CAST(SUM(CAST({vq9} AS DECIMAL(19,9)) * CAST({vq9} AS DECIMAL(19,9)))
              AS DECIMAL(38,18)) AS q
  FROM __e GROUP BY l, dim
),
__g AS (
  SELECT *, CAST(SUM(n) OVER (PARTITION BY dim) AS BIGINT) AS gn,
         CAST(SUM(s) OVER (PARTITION BY dim) AS DECIMAL(38,9)) AS gs
  FROM __ld
),
__terms AS (
  SELECT gn, dim, l,
         CAST(CAST(CAST(CAST((CAST(n AS DOUBLE)
               * ((CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                   - CAST(CAST(gs AS VARCHAR) AS DOUBLE) / CAST(gn AS DOUBLE))
                  * (CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                     - CAST(CAST(gs AS VARCHAR) AS DOUBLE)
                       / CAST(gn AS DOUBLE)))) * CAST(ABS(CAST(n AS DOUBLE)
               * ((CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                   - CAST(CAST(gs AS VARCHAR) AS DOUBLE) / CAST(gn AS DOUBLE))
                  * (CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                     - CAST(CAST(gs AS VARCHAR) AS DOUBLE)
                       / CAST(gn AS DOUBLE)))) >= POWER(10.0, -(9+1)) AS INT) AS VARCHAR) AS DECIMAL(38,9)) AS VARCHAR) AS DOUBLE) AS bt,
         CAST(CAST(CAST(CAST((GREATEST(CAST(CAST(q AS VARCHAR) AS DOUBLE)
                        - (CAST(CAST(s AS VARCHAR) AS DOUBLE)
                           * CAST(CAST(s AS VARCHAR) AS DOUBLE))
                          / CAST(n AS DOUBLE), 0.0)) * CAST(ABS(GREATEST(CAST(CAST(q AS VARCHAR) AS DOUBLE)
                        - (CAST(CAST(s AS VARCHAR) AS DOUBLE)
                           * CAST(CAST(s AS VARCHAR) AS DOUBLE))
                          / CAST(n AS DOUBLE), 0.0)) >= POWER(10.0, -(9+1)) AS INT) AS VARCHAR) AS DECIMAL(38,9)) AS VARCHAR) AS DOUBLE) AS wt
  FROM __g
),
__a AS (
  SELECT MAX(gn) AS n,
         CAST(MAX(dim) + 1 AS BIGINT) AS dim,
         CAST(COUNT(DISTINCT l) AS BIGINT) AS n_labels,
         CAST(SUM(CAST(bt AS DECIMAL(38,9))) AS DOUBLE) AS b,
         CAST(SUM(CAST(wt AS DECIMAL(38,9))) AS DOUBLE) AS w
  FROM __terms
)
SELECT n, dim, n_labels,
       CASE WHEN ABS(b) >= 1e16 THEN CAST((b) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((b) * CAST(ABS(b) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS ss_between,
       CASE WHEN ABS(w) >= 1e16 THEN CAST((w) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((w) * CAST(ABS(w) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS ss_within,
       CASE WHEN ABS(CASE WHEN w <> 0.0 THEN b / w END) >= 1e16 THEN CAST((CASE WHEN w <> 0.0 THEN b / w END) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((CASE WHEN w <> 0.0 THEN b / w END) * CAST(ABS(CASE WHEN w <> 0.0 THEN b / w END) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS fisher_ratio
FROM __a
"""
