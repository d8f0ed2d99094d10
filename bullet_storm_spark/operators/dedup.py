"""Deduplication operators for training-data pipelines.

Exact dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard, and
embedding-cosine near-dup — each as a DataFrame transformation plus a DuckDB
SQL twin generated from the same parameters, so every pipeline is
oracle-checkable end-to-end (including the LSH candidate generation, which
the oracle replicates hash-for-hash rather than comparing against ground
truth).

Scale design (100 TB posture):
* exact dedup: one hash-partitioned window over the fingerprint — a single
  shuffle on a short key; skew-safe because md5 keys are uniform.
* MinHash LSH: signatures are pure column expressions (k md5s per shingle,
  codegen); candidate generation explodes to (band, band_hash) and
  self-joins — the classic shuffle-on-bucket plan whose cost is
  O(candidates), not O(n^2). Band width r and band count b tune the
  jaccard threshold s* ~ (1/b)^(1/r).
* SimHash: per-document pure column expression (no shuffle at all until
  pairing); pairing joins on rotated bit-bands of the hash.
* embedding near-dup: exact pairwise within blocks; the scalable variant is
  operators/similarity.py's LSH-bucketed join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from bullet_storm_spark.functions.text import (
    fingerprint,
    fingerprint_sql,
    shingles,
    shingles_from_tokens,
    shingles_sql,
    tokens,
)
from bullet_storm_spark.functions.vectors import cosine, cosine_sql

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fingerprint, keep): keep=True on the lowest id per fingerprint
    group — the canonical exact-dedup decision output."""
    fp = fingerprint(text_col).alias("fp")
    w = Window.partitionBy("fp")
    return (
        df.select(F.col(id_col), fp)
        .withColumn("keep", F.col(id_col) == F.min(id_col).over(w))
        .orderBy(id_col)
    )


def exact_dedup_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
SELECT {id_col}, fp, ({id_col} = MIN({id_col}) OVER (PARTITION BY fp)) AS keep
FROM (SELECT {id_col}, {fingerprint_sql(text_col)} AS fp FROM {table})
ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# MinHash signatures + LSH candidate pairs + exact-jaccard verify
# ---------------------------------------------------------------------------

def _tok_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token array), repartitioned so (a) downstream per-token work is
    parallel even when the source is one small file/partition, and (b) the
    exchange materializes the token arrays — otherwise CollapseProject
    inlines the regex split into every per-shingle lambda, re-tokenizing
    once per shingle (measured: quadratic blowup, ~10 ms/doc)."""
    return df.select(
        F.col(id_col).alias("__id"), tokens(text_col).alias("__toks")
    ).repartition(df.sparkSession.sparkContext.defaultParallelism, F.col("__id"))


def _minhash_sig_wide(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """(id, h0..h{k-1}) MinHash columns: sig[i] = min over shingles of
    md5(i || '|' || shingle). Deterministic and engine-portable.

    Physical shape matters here: a nested transform(seeds, ->
    array_min(transform(shingles, -> md5))) expression is interpreted (HOFs
    don't codegen) and gets re-inlined into every consumer — measured 10
    ms/doc. Exploding shingles to rows and hash-aggregating k mins instead
    keeps every md5 inside whole-stage codegen and parallelizes across
    cores/executors (the groupBy shuffle key is the doc id — the natural
    partitioning at any scale). ~40x faster at sf0.1, identical output.
    """
    return _sig_wide_from_toks(_tok_df(df, id_col, text_col), num_hashes, shingle_n)


_MOD = 1 << 32


def _sig_wide_from_toks(tok_df: DataFrame, num_hashes: int, shingle_n: int) -> DataFrame:
    """Kirsch-Mitzenmacher double hashing: ONE md5 per shingle supplies two
    32-bit halves (h1, h2); permutation i is (h1 + i*h2) mod 2^32. Same
    theoretical guarantees as k independent hashes at 1/k the hash cost —
    at 100 TB the md5 work dominates signature building, so this is the
    difference between k passes and one."""
    sh = shingles_from_tokens(F.col("__toks"), shingle_n)
    md5 = F.md5(F.col("__s"))
    h1 = F.conv(F.substring(md5, 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(md5, 9, 8), 16, 10).cast("bigint")
    sh_rows = tok_df.select("__id", F.explode(sh).alias("__s")).select(
        "__id", h1.alias("__h1"), h2.alias("__h2")
    )
    aggs = [
        F.min((F.col("__h1") + F.lit(i) * F.col("__h2")) % F.lit(_MOD)).alias(f"__h{i}")
        for i in range(num_hashes)
    ]
    return sh_rows.groupBy("__id").agg(*aggs)


def _hash_pairs_sql(text_col: str, shingle_n: int) -> str:
    """Per-document list of [h1, h2] 32-bit halves of one md5 per shingle
    (the DuckDB twin of the Kirsch-Mitzenmacher input)."""
    sh = shingles_sql(text_col, shingle_n)
    return (
        f"list_transform({sh}, s -> ["
        f"('0x' || substr(md5(s), 1, 8))::BIGINT, "
        f"('0x' || substr(md5(s), 9, 8))::BIGINT])"
    )


def _sig_from_pairs_sql(hp: str, num_hashes: int) -> str:
    """Signature list expression over an already-bound hash-pair column."""
    mins = ", ".join(
        f"list_min(list_transform({hp}, p -> (p[1] + {i} * p[2]) % {_MOD}))"
        for i in range(num_hashes)
    )
    return f"[{mins}]"


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, shingle_n: int = 1
) -> DataFrame:
    """(id, signature) with the signature flattened to one comma-joined
    string so the output is hash-comparable across engines. Documents with
    no shingles are excluded (in both programs)."""
    wide = _minhash_sig_wide(df, id_col, text_col, num_hashes, shingle_n)
    sig = F.concat_ws(",", *[F.col(f"__h{i}") for i in range(num_hashes)])
    return wide.select(
        F.col("__id").alias(id_col), sig.alias("signature")
    ).orderBy(id_col)


def minhash_signatures_sql(
    table: str, id_col: str, text_col: str, num_hashes: int = 16, shingle_n: int = 1
) -> str:
    hp = _hash_pairs_sql(text_col, shingle_n)
    sig = _sig_from_pairs_sql("hp", num_hashes)
    return (
        f"SELECT {id_col}, array_to_string({sig}, ',') AS signature "
        f"FROM (SELECT {id_col}, {hp} AS hp FROM {table}) "
        f"WHERE len(hp) > 0 ORDER BY {id_col}"
    )


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    threshold: float = 0.9,
    round_to: int = 6,
    candidate_pair_budget: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs: LSH banding proposes candidates, exact Jaccard
    on the shingle sets verifies >= threshold. Output (id_a, id_b, jaccard)
    ordered by (id_a, id_b).

    The full pipeline (signature -> bands -> candidate join -> verify) is
    one declarative plan; Spark shuffles only on (band, band_hash) and then
    on the candidate ids — never all-pairs.

    ``candidate_pair_budget`` prices the band join's candidate output
    (Σ C(s, 2) over band-bucket sizes — one cheap aggregation over the
    banded id rows) BEFORE any pair materializes and raises loudly when
    it exceeds the budget, naming the hot band (`operators.pair_budget`,
    the family-wide guard; `lsh_band_plan` remains the tuning report).
    """
    return minhash_lsh_pairs_unsorted(
        df, id_col, text_col, num_hashes, bands, shingle_n, threshold,
        round_to, candidate_pair_budget,
    ).orderBy("id_a", "id_b")


def minhash_lsh_pairs_unsorted(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    threshold: float = 0.9,
    round_to: int = 6,
    candidate_pair_budget: int | None = None,
) -> DataFrame:
    """:func:`minhash_lsh_pairs` without the final (id_a, id_b) sort —
    the form order-insensitive consumers (graph analytics, connected
    components, recall audits) should take: their first move is a
    shuffle/aggregate that destroys the ordering, so the range exchange
    + sort would be pure waste (guide §2.4, the determinism-only sort)."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    toks = _tok_df(df, id_col, text_col)
    wide = _sig_wide_from_toks(toks, num_hashes, shingle_n)

    band_hashes = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "",
                    *[
                        F.col(f"__h{b * rows_per_band + j}")
                        for j in range(rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )
    # explicit hash repartitions pin parallelism through the band join and
    # the verify stage: banded rows / candidate ids are byte-cheap but
    # feed compute-heavy stages (md5 band join, per-pair exact jaccard),
    # which AQE would otherwise coalesce onto few tasks (measured 2.4x on
    # the sf0.1 3-gram entry)
    par = df.sparkSession.sparkContext.defaultParallelism
    # each banded row also carries the full band-hash array (4 short
    # strings, linear in the corpus): at join time it lets "count each
    # candidate pair once" be an inline first-matching-band test instead
    # of a dropDuplicates that shuffles and hash-dedupes the QUADRATIC
    # candidate stream
    banded = (
        wide.select("__id", band_hashes.alias("__bhs"))
        .select("__id", "__bhs", F.posexplode("__bhs").alias("__band", "__bh"))
        .repartition(par, "__band", "__bh")
    )
    if candidate_pair_budget is not None:
        from bullet_storm_spark.operators.pair_budget import (
            check_candidate_pair_budget,
        )

        check_candidate_pair_budget(
            banded.select("__band", "__bh"),
            ["__band", "__bh"],
            candidate_pair_budget,
            "minhash_lsh_pairs",
            "Use fewer/wider bands (lsh_band_plan prices the "
            "factorizations), raise shingle_n, or dedup exact first.",
            block_col="__band",
        )
    left = banded.alias("l")
    right = banded.alias("r")
    # candidate generation shuffles on (band, band_hash) only — ids, no
    # payloads; the shingle arrays join back for surviving candidates only
    # first-matching-band filter: emit each unordered pair exactly once
    # (in the lowest band where the two signatures collide) — replaces the
    # dropDuplicates that shuffled and hash-deduped the quadratic
    # candidate stream with four string equalities per candidate row
    first_band = F.when(
        F.col("l.__bhs")[0] == F.col("r.__bhs")[0], F.lit(0)
    )
    for _b in range(1, bands):
        first_band = first_band.when(
            F.col("l.__bhs")[_b] == F.col("r.__bhs")[_b], F.lit(_b)
        )
    cand = (
        left.join(
            right,
            (F.col("l.__band") == F.col("r.__band"))
            & (F.col("l.__bh") == F.col("r.__bh"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .where(F.col("l.__band") == first_band)
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        # the explicit hash repartition still pins the per-pair jaccard
        # verify stage at full parallelism (AQE would coalesce the
        # byte-cheap candidate exchange and serialize the verify)
        .repartition(par, "id_a", "id_b")
    )
    sh_sets = toks.select(
        F.col("__id").alias("__sid"),
        shingles_from_tokens(F.col("__toks"), shingle_n).alias("__sh"),
    )
    jac = F.round(_jaccard(F.col("sh_a"), F.col("sh_b")), round_to)
    return (
        cand.join(sh_sets.select(F.col("__sid"), F.col("__sh").alias("sh_a")),
                  F.col("id_a") == F.col("__sid")).drop("__sid")
        .join(sh_sets.select(F.col("__sid"), F.col("__sh").alias("sh_b")),
              F.col("id_b") == F.col("__sid")).drop("__sid")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    threshold: float = 0.9,
    round_to: int = 6,
) -> str:
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    hp = _hash_pairs_sql(text_col, shingle_n)
    sig = _sig_from_pairs_sql("hp", num_hashes)
    sh = shingles_sql(text_col, shingle_n)
    band_arms = ", ".join(
        # DuckDB list slice is 1-based inclusive
        f"md5(array_to_string(sig[{b * r + 1}:{b * r + r}], ''))"
        for b in range(bands)
    )
    return f"""
WITH pairs AS (
  SELECT {id_col} AS id, {hp} AS hp, {sh} AS sh FROM {table}
), base AS (
  SELECT id, {sig} AS sig, sh FROM pairs
), nonempty AS (
  SELECT * FROM base WHERE len(sh) > 0
), banded AS (
  SELECT id, sh, unnest(range(1, {bands + 1})) AS band,
         unnest([{band_arms}]) AS bh
  FROM nonempty
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b, l.sh AS sh_a, r.sh AS sh_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bh = r.bh AND l.id < r.id
)
SELECT id_a, id_b,
       CAST(CAST(CAST(CAST((len(list_intersect(sh_a, sh_b))
             / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))::DOUBLE) * CAST(ABS(len(list_intersect(sh_a, sh_b))
             / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))::DOUBLE) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) AS jaccard
FROM cand
WHERE CAST(CAST(CAST(CAST((len(list_intersect(sh_a, sh_b))
            / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))::DOUBLE) * CAST(ABS(len(list_intersect(sh_a, sh_b))
            / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))::DOUBLE) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) >= {threshold}
ORDER BY id_a, id_b
"""


def deduplicate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    threshold: float = 0.9,
    exact_first: bool = True,
) -> DataFrame:
    """End-to-end dedup: the surviving rows after exact + near-duplicate
    removal. Survivor policy (deterministic): within each near-dup pair the
    higher id drops — i.e. a row survives iff it never appears as the
    greater id of a verified pair. Exact duplicates are near-dups with
    jaccard 1.0, so one pipeline covers both.

    ``exact_first`` (default) collapses exact duplicates BEFORE banding:
    one window over the content fingerprint keeps the minimum id per
    identical text. This does not change the survivor set — identical
    texts have identical shingle sets, so any pair the dropped copy would
    have verified, its kept representative (which has a smaller id)
    verifies too — but it bounds LSH bucket sizes by DISTINCT texts. That
    is the 100 TB guard: a viral document with n exact copies would
    otherwise put n rows in one (band, hash) bucket and generate O(n^2)
    candidates; after the collapse it contributes exactly one.

    Physically: fingerprint window (one shuffle on uniform md5 keys), the
    minhash pipeline over distinct texts produces the (small) pair set,
    and a broadcast anti-join removes the losers — the full table is
    scanned once, never joined to itself."""
    base = df
    if exact_first:
        w = Window.partitionBy("__fp")
        base = (
            df.withColumn("__fp", fingerprint(text_col))
            .withColumn("__keep", F.col(id_col) == F.min(F.col(id_col)).over(w))
            .where(F.col("__keep"))
            .drop("__fp", "__keep")
        )
    pairs = minhash_lsh_pairs_unsorted(
        base, id_col, text_col, num_hashes, bands, shingle_n, threshold
    )
    losers = pairs.select(F.col("id_b").alias("__loser")).distinct()
    return base.join(
        F.broadcast(losers), F.col(id_col) == F.col("__loser"), "left_anti"
    )


def deduplicate_sql(
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    threshold: float = 0.9,
    exact_first: bool = True,
) -> str:
    base = table
    if exact_first:
        base = (
            f"(SELECT * FROM {table} QUALIFY {id_col} = MIN({id_col}) "
            f"OVER (PARTITION BY {fingerprint_sql(text_col)}))"
        )
    pairs = minhash_lsh_pairs_sql(
        base, id_col, text_col, num_hashes, bands, shingle_n, threshold
    )
    return f"""
SELECT * FROM {base} AS base_t
WHERE {id_col} NOT IN (SELECT id_b FROM ({pairs}))
"""


# ---------------------------------------------------------------------------
# incremental dedup against a persisted index
# ---------------------------------------------------------------------------

def band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
) -> DataFrame:
    """The persistable corpus index: one row per (doc, band) with the band
    hash and the doc's shingle set — exactly what incremental arrivals must
    probe. Write it as parquet partitioned/bucketed by band_hash and
    day-over-day dedup becomes an append + a co-located join."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    toks = _tok_df(df, id_col, text_col)
    wide = _sig_wide_from_toks(toks, num_hashes, shingle_n)
    band_hashes = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "", *[F.col(f"__h{b * r + j}") for j in range(r)]
                )
            )
            for b in range(bands)
        ]
    )
    sh_sets = toks.select(
        "__id", shingles_from_tokens(F.col("__toks"), shingle_n).alias("__sh")
    )
    return (
        wide.select("__id", F.posexplode(band_hashes).alias("band", "band_hash"))
        .join(sh_sets, "__id")
        .select(
            F.col("__id").alias(id_col),
            "band",
            "band_hash",
            F.col("__sh").alias("shingles"),
        )
    )


def dedup_against_index(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    threshold: float = 0.9,
    round_to: int = 6,
) -> DataFrame:
    """Incremental dedup: rows of ``new_df`` that are near-duplicates of
    NOTHING in the index and of no earlier-id row within the batch.

    The production shape: the historical corpus is touched only through its
    band index (join on band_hash — no rescan of old text), and the new
    batch additionally self-dedups. Returns the surviving new rows;
    append band_index(survivors) to the store to complete the cycle."""
    new_index = band_index(new_df, id_col, text_col, num_hashes, bands, shingle_n)
    probe = new_index.select(
        F.col(id_col).alias("__nid"),
        "band",
        "band_hash",
        F.col("shingles").alias("__nsh"),
    )
    hist = index_df.select(
        "band", "band_hash", F.col("shingles").alias("__hsh")
    )
    jac = F.round(_jaccard(F.col("__nsh"), F.col("__hsh")), round_to)
    dup_vs_index = (
        probe.join(hist, ["band", "band_hash"])
        .select("__nid", jac.alias("__jac"))
        .where(F.col("__jac") >= threshold)
        .select(F.col("__nid").alias("__loser"))
        .distinct()
    )
    within = minhash_lsh_pairs_unsorted(
        new_df, id_col, text_col, num_hashes, bands, shingle_n, threshold, round_to
    ).select(F.col("id_b").alias("__loser"))
    losers = dup_vs_index.union(within).distinct()
    return new_df.join(
        F.broadcast(losers), F.col(id_col) == F.col("__loser"), "left_anti"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 48  # 48-bit keeps every intermediate in signed-64 range in
                   # both engines (12-hex-char md5 prefix -> int is < 2^48)
                   # while being ~2^16x more selective than 32-bit: at sf0.1
                   # the 32-bit fingerprint emitted 777k "pairs" from 5k docs
                   # (6% of all pairs — useless as a dedup signal and a
                   # pair-explosion at scale); 48-bit collapses that to the
                   # genuinely near-identical set


def simhash(df: DataFrame, id_col: str, text_col: str, shingle_n: int = 1) -> DataFrame:
    """(id, simhash), ordered by id — the declared-query surface. The
    banded pair/profile operators consume :func:`_simhash_unsorted`
    instead: the global orderBy executes a range Exchange + Sort that a
    downstream hash join immediately destroys (measured: one full extra
    exchange of the simhash table per reference)."""
    return _simhash_unsorted(df, id_col, text_col, shingle_n).orderBy(id_col)


def _simhash_unsorted(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 1
) -> DataFrame:
    """(id, simhash) — SIMHASH_BITS-bit (48) SimHash over shingle md5s: per
    bit, a +1/-1 vote per shingle; the output bit is 1 iff the vote sum is
    positive (equivalently, iff more than half the shingles have it set).

    Physical shape: explode shingles -> one SIMHASH_BITS-bit hash per row ->
    bit-plane counts packed TWO per 64-bit sum (plane 2k in the high 32
    bits, plane 2k+1 in the low 32 — no carry while a doc stays under 2^31
    shingles), so the per-doc aggregation runs SIMHASH_BITS/2 + 1 aggregates
    instead of SIMHASH_BITS (whole-stage codegen, one shuffle on the doc
    id). The expression form (SIMHASH_BITS interpreted list_filters over an
    inlined shingle array) measured ~35 ms/doc; this is the scalable plan.
    Documents with zero shingles are excluded (both programs)."""
    toks = _tok_df(df, id_col, text_col)
    sh = shingles_from_tokens(F.col("__toks"), shingle_n)
    h = F.conv(
        F.substring(F.md5(F.col("__s")), 1, SIMHASH_BITS // 4), 16, 10
    ).cast("bigint")
    rows = toks.select("__id", F.explode(sh).alias("__s")).select(
        "__id", h.alias("__h")
    )

    # The 25 packed-plane aggregates and the 48-term vote expression are
    # built as SQL strings parsed by ONE F.expr each: the equivalent
    # Column-API loops cost ~1.1 s of py4j round trips PER QUERY BUILD
    # (measured — hundreds of JVM calls), while string building is free
    # and the JVM parses the whole tree in one hop. The parsed
    # expressions analyze to the identical plan (same shiftright/&/
    # shiftleft/cast tree, same integer math), so results are unchanged
    # (oracle-pinned tri-scale).
    aggs = [
        F.expr(
            f"sum(shiftleft(cast(shiftright(__h, {2 * k}) & 1 as bigint), 32)"
            f" + (shiftright(__h, {2 * k + 1}) & 1))"
        ).alias(f"__p{k}")
        for k in range(SIMHASH_BITS // 2)
    ] + [F.count(F.lit(1)).alias("__n")]
    wide = rows.groupBy("__id").agg(*aggs)
    mask_lo = (1 << 32) - 1
    terms = ["cast(0 as bigint)"]
    for b in range(SIMHASH_BITS):
        k, low_half = divmod(b, 2)
        cnt = f"(__p{k} & {mask_lo})" if low_half else f"shiftright(__p{k}, 32)"
        # vote sum positive <=> 2 * count_of_set_bits > shingle count
        terms.append(f"shiftleft(cast(({cnt} * 2 > __n) as bigint), {b})")
    acc = F.expr(" + ".join(terms))
    return wide.select(F.col("__id").alias(id_col), acc.alias("simhash"))


def simhash_sql(table: str, id_col: str, text_col: str, shingle_n: int = 1) -> str:
    sh = shingles_sql(text_col, shingle_n)
    hs = (
        f"list_transform({sh}, "
        f"s -> ('0x' || substr(md5(s), 1, {SIMHASH_BITS // 4}))::BIGINT)"
    )
    terms = []
    for b in range(SIMHASH_BITS):
        cnt = f"len(list_filter(hs, h -> (h >> {b}) & 1 = 1))"
        terms.append(f"((({cnt}) * 2 > len(hs))::BIGINT << {b})")
    expr = " + ".join(terms)
    return (
        f"SELECT {id_col}, ({expr}) AS simhash "
        f"FROM (SELECT {id_col}, {hs} AS hs FROM {table}) "
        f"WHERE len(hs) > 0 ORDER BY {id_col}"
    )


SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 12


def _first_matching_band(l_sim, r_sim):
    """0-based index of the FIRST band where the two simhashes collide.

    Filtering the banded self-join on ``band == _first_matching_band(...)``
    emits each unordered candidate pair exactly once (in its lowest
    colliding band) with pure bit arithmetic, replacing the DISTINCT that
    had to shuffle and hash-dedupe the full quadratic candidate stream.
    Value-identical: the join guarantees at least one band matches, so the
    CASE always hits, and keeping one designated collision per pair yields
    the same pair set as collapsing them afterwards."""
    mask = (1 << SIMHASH_BAND_BITS) - 1

    def band_of(col, b):
        return F.shiftright(col, SIMHASH_BAND_BITS * b).bitwiseAND(F.lit(mask))

    first = F.when(band_of(l_sim, 0) == band_of(r_sim, 0), F.lit(0))
    for b in range(1, SIMHASH_BANDS):
        first = first.when(band_of(l_sim, b) == band_of(r_sim, b), F.lit(b))
    return first


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    shingle_n: int = 1,
    candidate_pair_budget: int | None = None,
) -> DataFrame:
    """Candidate pairs whose SimHashes differ in <= max_hamming bits.

    Blocking: 4 bands of 12 bits. Pigeonhole: a pair within hamming
    distance <= 3 has at most 3 differing bits, which can dirty at most 3
    of the 4 bands — so at least one band matches exactly, and banding has
    NO false negatives for max_hamming <= SIMHASH_BANDS - 1 (the
    reference's NO_FALSE_NEGATIVES posture, bullet-storm
    src/test/.../FilterBoltTest.java:791).

    Physical plan: each id explodes to (band, band_hash) rows and
    candidates come from ONE hash equi-join on (band, band_hash) — a
    shuffle/broadcast HASH join keyed on the band value, never a
    nested-loop. Pairs that collide in several bands are emitted once (in
    the lowest colliding band — an inline bit test, no distinct over the
    candidate stream); exact bit_count verifies the radius after
    blocking. Cost is O(sum of squared band-bucket sizes), not O(n^2):
    scale-safe (tests/test_plan_quality.py pins the no-BNLJ property).

    ``candidate_pair_budget`` automates the pre-flight
    (:func:`simhash_bucket_profile`): when set, one cheap aggregation
    prices the banded join's candidate output BEFORE any pair
    materializes and raises loudly (with the per-band workload and the
    hottest bucket) if it exceeds the budget — the weak-scaling run
    found the pair OUTPUT grows as sf^2.3 on a near-dup-dense corpus
    and one hot bucket can emit a multi-GB shuffle task; at 100 TB this
    guard turns that into an actionable error instead of a hung stage.
    """
    if max_hamming > SIMHASH_BANDS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the banding recall guarantee "
            f"({SIMHASH_BANDS} bands -> complete for <= {SIMHASH_BANDS - 1})"
        )
    hdf = _simhash_unsorted(df, id_col, text_col, shingle_n)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = F.array(
        *[
            F.shiftright(F.col("simhash"), SIMHASH_BAND_BITS * b).bitwiseAND(
                F.lit(mask)
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    blocked = hdf.select(
        F.col(id_col).alias("id"),
        F.col("simhash"),
        F.posexplode(bands).alias("band", "bh"),
    ).repartition(
        # pin the join partitioning: the banded rows are byte-cheap but the
        # candidate pairs they generate are compute-heavy, and AQE would
        # coalesce the small shuffle and serialize the pair stage
        # (measured 2x on sf0.1); an explicit hash repartition on the join
        # key feeds both sides with full parallelism
        df.sparkSession.sparkContext.defaultParallelism,
        "band",
        "bh",
    )
    if candidate_pair_budget is not None:
        from bullet_storm_spark.operators.pair_budget import (
            check_candidate_pair_budget,
        )

        check_candidate_pair_budget(
            blocked.select("band", "bh"),
            ["band", "bh"],
            candidate_pair_budget,
            "simhash_pairs",
            "Excise the hot buckets (boilerplate clusters) or dedup exact "
            "first; simhash_bucket_profile has the full workload table.",
            block_col="band",
        )
    l, r = blocked.alias("l"), blocked.alias("r")
    cand = l.join(
        r,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bh") == F.col("r.bh"))
        & (F.col("l.id") < F.col("r.id")),
    ).where(
        # emit each pair once, in its lowest colliding band — inline bit
        # test instead of a DISTINCT over the whole candidate stream
        F.col("l.band")
        == _first_matching_band(F.col("l.simhash"), F.col("r.simhash"))
    )
    ham = F.bit_count(
        F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    )
    return (
        cand.select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )


def simhash_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    shingle_n: int = 1,
) -> str:
    inner = simhash_sql(table, id_col, text_col, shingle_n)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return f"""
WITH h AS ({inner}),
blocked AS (
  SELECT {id_col} AS id, simhash, b.band,
         (simhash >> ({SIMHASH_BAND_BITS} * b.band)) & {mask} AS bh
  FROM h, (SELECT UNNEST(range({SIMHASH_BANDS})) AS band) b
)
SELECT DISTINCT l.id AS id_a, r.id AS id_b,
       bit_count(xor(l.simhash, r.simhash)) AS hamming
FROM blocked l JOIN blocked r
  ON l.band = r.band AND l.bh = r.bh AND l.id < r.id
WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# exact n-gram Jaccard pairs (block-bounded)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 1,
    threshold: float = 0.8,
    round_to: int = 6,
) -> DataFrame:
    """Exact all-pairs Jaccard >= threshold over the input (callers bound
    the block with a filter first — this operator is the *verifier*; at
    scale the candidate source is minhash_lsh_pairs/simhash blocks)."""
    sh = shingles(text_col, shingle_n)
    base = df.select(F.col(id_col).alias("id"), sh.alias("sh")).where(
        F.size("sh") > 0
    )
    l, r = base.alias("l"), base.alias("r")
    jac = F.round(_jaccard(F.col("l.sh"), F.col("r.sh")), round_to)
    return (
        l.join(r, F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    round_to: int = 6,
) -> DataFrame:
    """(id_a, id_b, containment, size_a, size_b): pairs where the SMALLER
    document's distinct-gram set is >= ``threshold`` contained in the
    larger's — |A∩B| / min(|A|, |B|). Jaccard misses exactly these:
    a short doc quoted whole inside a long one has tiny Jaccard but
    containment ~1 (quote/boilerplate-inclusion detection, the asymmetric
    face of near-dup).

    Same bounded-VERIFIER contract as ngram_jaccard_pairs: callers bound
    the block; at scale the candidate source is the winnowing fingerprint
    join (operators/winnow.py), whose shared-fingerprint guarantee is
    length-asymmetric by construction — unlike MinHash banding, which is
    calibrated to Jaccard and systematically misses contained pairs."""
    sh = shingles(text_col, shingle_n)
    base = df.select(F.col(id_col).alias("id"), sh.alias("sh")).where(
        F.size("sh") > 0
    )
    l, r = base.alias("l"), base.alias("r")
    inter = F.size(F.array_intersect(F.col("l.sh"), F.col("r.sh")))
    cont = F.round(
        inter / F.least(F.size(F.col("l.sh")), F.size(F.col("r.sh"))), round_to
    )
    return (
        l.join(r, F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            cont.alias("containment"),
            F.size(F.col("l.sh")).alias("size_a"),
            F.size(F.col("r.sh")).alias("size_b"),
        )
        .where(F.col("containment") >= threshold)
        .orderBy("id_a", "id_b")
    )


def ngram_containment_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    round_to: int = 6,
) -> str:
    sh = shingles_sql(text_col, shingle_n)
    cont = (
        "len(list_intersect(l.sh, r.sh))"
        " / LEAST(len(l.sh), len(r.sh))::DOUBLE"
    )
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {sh} AS sh FROM {table}
), nonempty AS (SELECT * FROM base WHERE len(sh) > 0)
SELECT l.id AS id_a, r.id AS id_b,
       CASE WHEN ABS({cont}) >= 1e16 THEN CAST(({cont}) AS DOUBLE) ELSE CAST(CAST(CAST(CAST(({cont}) * CAST(ABS({cont}) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS containment,
       CAST(len(l.sh) AS INTEGER) AS size_a,
       CAST(len(r.sh) AS INTEGER) AS size_b
FROM nonempty l JOIN nonempty r ON l.id < r.id
WHERE CASE WHEN ABS({cont}) >= 1e16 THEN CAST(({cont}) AS DOUBLE) ELSE CAST(CAST(CAST(CAST(({cont}) * CAST(ABS({cont}) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END >= {threshold}
ORDER BY id_a, id_b
"""


def ngram_jaccard_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    shingle_n: int = 1,
    threshold: float = 0.8,
    round_to: int = 6,
) -> str:
    sh = shingles_sql(text_col, shingle_n)
    jac = (
        "len(list_intersect(l.sh, r.sh)) / "
        "(len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)))::DOUBLE"
    )
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {sh} AS sh FROM {table}
), nonempty AS (SELECT * FROM base WHERE len(sh) > 0)
SELECT l.id AS id_a, r.id AS id_b, CASE WHEN ABS({jac}) >= 1e16 THEN CAST(({jac}) AS DOUBLE) ELSE CAST(CAST(CAST(CAST(({jac}) * CAST(ABS({jac}) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS jaccard
FROM nonempty l JOIN nonempty r ON l.id < r.id
WHERE CASE WHEN ABS({jac}) >= 1e16 THEN CAST(({jac}) AS DOUBLE) ELSE CAST(CAST(CAST(CAST(({jac}) * CAST(ABS({jac}) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END >= {threshold}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    round_to: int = 6,
) -> DataFrame:
    """Pairs with cosine >= threshold — EXACT all-pairs, so strictly a
    block *verifier*: callers must bound the input block (as the n-gram
    Jaccard verifier does); the scale path that generates candidates is
    embedding_neardup_pairs_lsh below (hyperplane-LSH buckets)."""
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    l, r = base.alias("l"), base.alias("r")
    cos = F.round(cosine(F.col("l.v"), F.col("r.v")), round_to)
    return (
        l.join(r, F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            cos.alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .orderBy("id_a", "id_b")
    )


def embedding_neardup_pairs_sql(
    table: str,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    round_to: int = 6,
) -> str:
    cos = f"CAST(CAST(CAST(CAST(({cosine_sql('l.v', 'r.v')}) * CAST(ABS({cosine_sql('l.v', 'r.v')}) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE)"
    return f"""
WITH base AS (SELECT {id_col} AS id, {vec_col} AS v FROM {table})
SELECT l.id AS id_a, r.id AS id_b, {cos} AS cos
FROM base l JOIN base r ON l.id < r.id
WHERE {cos} >= {threshold}
ORDER BY id_a, id_b
"""


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    nbits: int = 4,
    ntables: int = 4,
    dim: int = 64,
    round_to: int = 6,
    candidate_pair_budget: int | None = None,
) -> DataFrame:
    """Near-dup pairs via random-hyperplane LSH blocking + exact cosine
    verification inside buckets — the 100 TB shape for embedding dedup.

    ``candidate_pair_budget`` prices Σ C(s, 2) over the (table, bucket)
    populations before the pair join runs and raises loudly over budget,
    naming the hot table (`operators.pair_budget`); raise ``nbits`` to
    split hot buckets or excise the dense cluster it names.

    Each vector hashes into one bucket per hash table (ntables independent
    hyperplane sets); a pair is a candidate iff it collides in ANY table.
    Physically: posexplode to (table, bucket) rows, ONE hash equi-join on
    (table, bucket), dedup the id pair behind the join, then one exact
    cosine per unique candidate pair. Cost is O(sum of squared bucket
    sizes) — never the all-pairs nested loop (pinned by
    tests/test_plan_quality.py). Recall for cosine >= t under p_collide =
    (1 - theta/pi)^nbits per table, 1-(1-p)^ntables overall; raise ntables
    for recall, nbits for smaller buckets. Hyperplanes are deterministic
    seeded literals, so the DuckDB twin replicates the bucketing exactly
    and the approximate pipeline stays hash-checkable."""
    from bullet_storm_spark.functions.vectors import (
        as_double,
        dot,
        dot_fixed,
        norm,
        norm_fixed,
    )
    from bullet_storm_spark.operators.common import scale_gate
    from bullet_storm_spark.operators.similarity import (
        LSH_SEED,
        _bucket_col,
        hyperplanes,
    )

    # unrolled forms only at scale (the "unroll" scale gate): the
    # ntables × nbits × dim bucket chain is ~5k Expression nodes whose
    # per-task deserialization dominates a small corpus run; the HOF
    # twins are bit-identical
    fixed = scale_gate("unroll", df)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    buckets = F.array(
        *[
            _bucket_col(
                F.col("v"),
                hyperplanes(dim, nbits, seed=LSH_SEED + t),
                fixed=fixed,
            )
            for t in range(ntables)
        ]
    )
    # the blocking join and the pair dedup move ID PAIRS ONLY — the wide
    # vector payload would otherwise ride the candidate shuffle (measured
    # 260 MB at 500k candidates for 64-dim floats). Vectors re-attach
    # afterwards via two joins against the (comparatively tiny) vector
    # table, norms precomputed once per vector, so each unique candidate
    # pair costs exactly one dot-product pass.
    # pin the blocking join's parallelism: the (table, bucket) rows are
    # byte-cheap, but the join fans each bucket out to O(|bucket|^2)
    # candidates — left at scan parallelism (or a broadcast join), that
    # explosion runs on as few tasks as the parquet scan had (measured 3
    # tasks / 2.2x slower at sf0.1). Hash-distributing both sides on the
    # bucket key spreads it and makes the join co-partitioned.
    par = df.sparkSession.sparkContext.defaultParallelism
    blocked = base.select(
        "id", F.posexplode(buckets).alias("tbl", "bucket")
    ).repartition(par, "tbl", "bucket")
    if candidate_pair_budget is not None:
        from bullet_storm_spark.operators.pair_budget import (
            check_candidate_pair_budget,
        )

        check_candidate_pair_budget(
            blocked.select("tbl", "bucket"),
            ["tbl", "bucket"],
            candidate_pair_budget,
            "embedding_neardup_pairs_lsh",
            "Raise nbits (smaller buckets) or excise the dense cluster "
            "the hot bucket names; block_size_audit has the layout.",
            block_col="tbl",
        )
    l, r = blocked.alias("l"), blocked.alias("r")
    cand_ids = (
        l.join(
            r,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        # candidate rows are BYTE-cheap but COMPUTE-expensive (one 64-dim
        # dot each); AQE coalesces the few-MB id shuffle to one partition
        # and would serialize the dot stage (measured 4x slowdown). The
        # repartition must come BEFORE the pair dedup: placed after, the
        # optimizer elides it (the dedup's exchange already provides the
        # distribution) and the surviving ENSURE_REQUIREMENTS exchange is
        # AQE-coalesced right back — placed here, the dedup itself reads
        # the REPARTITION_BY_NUM exchange, which AQE must respect.
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism, "id_a", "id_b"
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    nrm = (
        norm_fixed(F.col("v"), dim)
        if fixed
        else norm(as_double(F.col("v")))
    )
    vecs = base.select("id", "v", nrm.alias("nrm"))
    a, b = vecs.alias("a"), vecs.alias("b")
    cand = cand_ids.join(a, F.col("id_a") == F.col("a.id")).join(
        b, F.col("id_b") == F.col("b.id")
    )
    # at scale, unrolled fixed-dim dot (bit-identical to the HOF form,
    # but compiled instead of one interpreted lambda frame per element —
    # functions.vectors fixed-form contract); compact HOF twin below the
    # size gate
    pair_dot = (
        dot_fixed(F.col("a.v"), F.col("b.v"), dim)
        if fixed
        else dot(as_double(F.col("a.v")), as_double(F.col("b.v")))
    )
    cos = F.round(pair_dot / (F.col("a.nrm") * F.col("b.nrm")), round_to)
    return (
        cand.select("id_a", "id_b", cos.alias("cos"))
        .where(F.col("cos") >= threshold)
        .orderBy("id_a", "id_b")
    )


def embedding_neardup_pairs_lsh_sql(
    table: str,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    nbits: int = 4,
    ntables: int = 4,
    dim: int = 64,
    round_to: int = 6,
) -> str:
    from bullet_storm_spark.operators.similarity import (
        LSH_SEED,
        _bucket_sql,
        hyperplanes,
    )

    arms = " UNION ALL ".join(
        f"SELECT id, {t} AS tbl, "
        f"{_bucket_sql('v', hyperplanes(dim, nbits, seed=LSH_SEED + t))} AS bucket "
        f"FROM base"
        for t in range(ntables)
    )
    # mirror the Spark association exactly: norms once per vector, candidate
    # ids deduped first, dot / (na * nb) per unique pair (NOT
    # list_cosine_similarity, whose internal association could differ)
    cos = (
        f"CAST(CAST(CAST(CAST((list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) "
        f"/ (a.nrm * b.nrm)) * CAST(ABS(list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) "
        f"/ (a.nrm * b.nrm)) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE)"
    )
    return f"""
WITH base AS (SELECT {id_col} AS id, {vec_col} AS v FROM {table}),
blocked AS ({arms}),
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM blocked l JOIN blocked r
    ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.id < r.id
),
vecs AS (
  SELECT id, v,
         sqrt(list_dot_product(v::DOUBLE[], v::DOUBLE[])) AS nrm
  FROM base
)
SELECT id_a, id_b, {cos} AS cos
FROM cand
JOIN vecs a ON cand.id_a = a.id
JOIN vecs b ON cand.id_b = b.id
WHERE {cos} >= {threshold}
ORDER BY id_a, id_b
"""


def compact_index(
    spark,
    index_path: str,
    out_path: str | None = None,
    partitions: int | None = None,
) -> None:
    """Rewrite a band index accumulated by incremental appends (e.g.
    `streaming.native.stream_dedup_incremental`: one small parquet file per
    micro-batch) into ``partitions`` files hash-clustered on band_hash, so
    probe joins read co-partitioned data instead of thousands of tiny
    files. Run periodically, like any LSM-ish compaction; writes to
    ``out_path`` (default: ``index_path + '.compact'``) — swap directories
    atomically outside Spark."""
    idx = spark.read.parquet(index_path)
    n = partitions or spark.sparkContext.defaultParallelism
    idx.repartition(n, "band", "band_hash").write.mode("overwrite").parquet(
        out_path or index_path + ".compact"
    )


# ---------------------------------------------------------------------------
# transitive dedup clusters (distributed connected components)
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over an undirected pair graph: returns
    ``(node, cluster)`` where ``cluster`` is the minimum node id in the
    component, for every node that appears in ``pairs``.

    Algorithm: min-label propagation with pointer jumping (path halving),
    the GraphFrames/Pregel shape expressed as plain DataFrame joins. Each
    round every node takes the minimum of its own label and its neighbors'
    labels (self-loop edges make this ONE hash equi-join + partial/final
    min aggregation on the pair graph), then follows its label to that
    node's label (one self equi-join on the label table). Propagation
    alone needs O(diameter) rounds; the halving step cuts chains
    geometrically, so convergence is O(log n) rounds in the worst case and
    1-2 rounds for the clique-like components LSH banding produces.

    Scale posture: every round shuffles only the pair graph and the label
    table — both O(candidate pairs), orders of magnitude smaller than the
    corpus at 100 TB (the corpus itself is never joined). Lineage is cut
    each round with a lazy localCheckpoint, materialized by the same
    convergence-count job, so the plan does not grow with iteration count
    and each round costs exactly one action. The label values
    are component-min ids, so the result is deterministic regardless of
    execution order.
    """
    # both orientations AND self-loops in ONE pass over the pair generator:
    # the union form re-ran the (expensive — minhash/linkage) upstream
    # lineage once per direction before the checkpoint. explode of the four
    # oriented/self structs yields the identical edge multiset from a single
    # scan, and the self-loops let the per-round propagate be ONE join+agg
    # (min over neighbors-including-self) instead of join+agg plus a second
    # left join back onto the label table
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
                    ),
                    F.struct(
                        F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
                    ),
                    F.struct(
                        F.col(src_col).alias("src"), F.col(src_col).alias("dst")
                    ),
                    F.struct(
                        F.col(dst_col).alias("src"), F.col(dst_col).alias("dst")
                    ),
                )
            ).alias("__e")
        )
        .select(F.col("__e.src").alias("src"), F.col("__e.dst").alias("dst"))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("cluster"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        prev = labels.select(
            F.col("node").alias("__pnode"), F.col("cluster").alias("__prev")
        )
        # propagate: min label over neighbors INCLUDING self (the self-loop
        # edges) — one equi-join + one aggregation; every node appears as a
        # src, so no left join back onto the label table is needed
        tentative = (
            edges.join(labels, F.col("dst") == F.col("node"))
            .groupBy("src")
            .agg(F.min("cluster").alias("cluster"))
            .select(F.col("src").alias("node"), "cluster")
        )
        # pointer jumping: follow the label to ITS label (path halving) —
        # labels always name nodes of the same component, so this is a hash
        # self-join on the small label table and strictly lowers chains
        hop = tentative.select(
            F.col("node").alias("__hnode"), F.col("cluster").alias("__hcluster")
        )
        stepped = (
            tentative.join(hop, F.col("cluster") == F.col("__hnode"), "left")
            .select(
                "node",
                F.coalesce(F.col("__hcluster"), F.col("cluster")).alias("cluster"),
            )
            .join(prev, F.col("node") == F.col("__pnode"))
            .select("node", "cluster", "__prev")
            # lazy checkpoint: materialized by the convergence count below,
            # so the lineage cut costs no extra job per round
            .localCheckpoint(eager=False)
        )
        changed = stepped.where(F.col("cluster") < F.col("__prev")).count()
        labels = stepped.select("node", "cluster")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    threshold: float = 0.9,
) -> DataFrame:
    """Transitive near-duplicate clustering: every row of ``df`` labeled
    with its duplicate-cluster id (the minimum id reachable through the
    verified MinHash-LSH pair graph), the cluster size, and whether the row
    is the cluster's canonical representative (the minimum id — the row a
    transitive dedup keeps).

    This is the missing closure over `deduplicate`'s pairwise policy: with
    pairs A~B and B~C but no verified A~C, pairwise loser-removal and
    cluster-canonical selection disagree; clustering makes the survivor
    set well-defined (one per component).

    Output: (id_col, cluster_id, cluster_size, is_canonical), ordered.

    Scale posture: exact copies collapse to their minimum-id representative
    FIRST (one fingerprint window — the viral-duplicate guard, see
    `deduplicate`), so the LSH pipeline and the label-propagation rounds
    run on the DISTINCT-text pair graph. Copies inherit their
    representative's component through the same window (no extra join:
    rep's label rides a broadcast), which is provably the same clustering —
    a copy is connected to its representative by a jaccard-1.0 edge, and
    the component minimum is always a representative (each group's min id
    is the representative). Cluster sizes count ALL rows via one map-side
    combined aggregation + broadcast-back of the (small) size table.
    """
    wfp = Window.partitionBy("__fp")
    base = df.withColumn("__fp", fingerprint(text_col)).withColumn(
        "__rep", F.min(F.col(id_col)).over(wfp)
    )
    reps_df = base.where(F.col(id_col) == F.col("__rep")).drop("__fp", "__rep")
    pairs = minhash_lsh_pairs_unsorted(
        reps_df, id_col, text_col, num_hashes, bands, shingle_n, threshold
    ).select("id_a", "id_b")
    comp = connected_components(pairs)
    lab = (
        base.select(F.col(id_col), F.col("__rep"))
        .join(F.broadcast(comp), F.col("__rep") == F.col("node"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster"), F.col("__rep")).alias("cluster_id"),
        )
    )
    # sizes via one window on cluster_id (not a broadcast join: the size
    # table has one row per cluster ~ per distinct text, far beyond
    # broadcast range at corpus scale)
    wsz = Window.partitionBy("cluster_id")
    return (
        lab.withColumn("cluster_size", F.count("*").over(wsz).cast("long"))
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
        .orderBy(id_col)
    )


def deduplicate_transitive(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    threshold: float = 0.9,
) -> DataFrame:
    """Transitive dedup filter: keep exactly one row per near-duplicate
    cluster (the minimum id). Unlike `deduplicate`'s pairwise loser policy
    — which can drop every member of a chain A~B~C except A *or* keep
    inconsistent sets depending on which pairs verified — the survivor set
    here is well-defined: the canonical representative of each connected
    component. Same single broadcast join against the corpus."""
    labels = dedup_clusters(
        df, id_col, text_col, num_hashes, bands, shingle_n, threshold
    )
    keep = labels.where(F.col("is_canonical")).select(F.col(id_col).alias("__keep"))
    return df.join(F.broadcast(keep), F.col(id_col) == F.col("__keep"), "left_semi")


def dedup_clusters_sql(
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    threshold: float = 0.9,
) -> str:
    """DuckDB twin of `dedup_clusters`: the same verified pair graph (the
    `minhash_lsh_pairs_sql` program, hash-for-hash), closed transitively
    with a recursive CTE (reachability), component label = min reachable
    id. Oracle-exact because both programs compute component minima, which
    are independent of traversal order."""
    pairs = minhash_lsh_pairs_sql(
        table, id_col, text_col, num_hashes, bands, shingle_n, threshold
    )
    # MATERIALIZED is load-bearing: the recursive step re-scans `edges`
    # every iteration, and without the hint DuckDB inlines the whole
    # minhash pipeline into each re-scan (measured 60 s -> <1 s at sf0.01)
    return f"""
WITH RECURSIVE base_pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM ({pairs})
), edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM base_pairs
  UNION
  SELECT id_b, id_a FROM base_pairs
), reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS node, LEAST(src, MIN(dst)) AS cluster
  FROM reach GROUP BY src
), sized AS (
  SELECT node, cluster, COUNT(*) OVER (PARTITION BY cluster) AS csize
  FROM comp
)
SELECT t.{id_col},
       COALESCE(s.cluster, t.{id_col}) AS cluster_id,
       COALESCE(s.csize, 1)::BIGINT AS cluster_size,
       t.{id_col} = COALESCE(s.cluster, t.{id_col}) AS is_canonical
FROM {table} t LEFT JOIN sized s ON t.{id_col} = s.node
ORDER BY t.{id_col}
"""


# ---------------------------------------------------------------------------
# LSH quality audit
# ---------------------------------------------------------------------------

def lsh_recall_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    threshold: float = 0.9,
    round_to: int = 6,
) -> DataFrame:
    """One-row audit of the MinHash-LSH pipeline against exact ground
    truth on a caller-bounded block: (exact_pairs, lsh_found, missed,
    recall). The LSH pipeline verifies candidates with the same exact
    Jaccard, so precision is 1.0 by construction and recall is the whole
    quality story — this is the measurement that justifies a banding
    config ((bands, rows) sets the S-curve) before a 100 TB run, on a
    sample small enough for the exact all-pairs verifier."""
    exact = ngram_jaccard_pairs(df, id_col, text_col, shingle_n, threshold, round_to)
    lsh = minhash_lsh_pairs_unsorted(
        df, id_col, text_col, num_hashes, bands, shingle_n, threshold, round_to
    )
    found = lsh.select("id_a", "id_b", F.lit(1).alias("__found"))
    return (
        exact.join(found, ["id_a", "id_b"], "left")
        .agg(
            F.count(F.lit(1)).alias("exact_pairs"),
            F.sum(F.coalesce(F.col("__found"), F.lit(0)))
            .cast("bigint")
            .alias("lsh_found"),
            F.sum(F.col("__found").isNull().cast("bigint")).alias("missed"),
            F.round(
                F.sum(F.coalesce(F.col("__found"), F.lit(0)))
                / F.nullif(F.count(F.lit(1)), F.lit(0)),
                round_to,
            ).alias("recall"),
        )
    )


def lsh_recall_audit_sql(
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    threshold: float = 0.9,
    round_to: int = 6,
) -> str:
    exact = ngram_jaccard_pairs_sql(table, id_col, text_col, shingle_n, threshold, round_to)
    lsh = minhash_lsh_pairs_sql(
        table, id_col, text_col, num_hashes, bands, shingle_n, threshold, round_to
    )
    return f"""
WITH exact_pairs AS (SELECT id_a, id_b FROM ({exact})),
lsh_pairs AS (SELECT id_a, id_b, 1 AS found FROM ({lsh}))
SELECT COUNT(*) AS exact_pairs,
       CAST(SUM(COALESCE(found, 0)) AS BIGINT) AS lsh_found,
       CAST(SUM(CASE WHEN found IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missed,
       CASE WHEN ABS(SUM(COALESCE(found, 0)) / NULLIF(COUNT(*), 0)) >= 1e16 THEN CAST((SUM(COALESCE(found, 0)) / NULLIF(COUNT(*), 0)) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((SUM(COALESCE(found, 0)) / NULLIF(COUNT(*), 0)) * CAST(ABS(SUM(COALESCE(found, 0)) / NULLIF(COUNT(*), 0)) >= POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE) END AS recall
FROM exact_pairs LEFT JOIN lsh_pairs USING (id_a, id_b)
"""


def editdistance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 20,
    prefix_len: int = 12,
    candidate_pair_budget: int | None = None,
) -> DataFrame:
    """(id_a, id_b, len_a, len_b, edit_distance): document pairs within
    ``max_dist`` Levenshtein edits, candidate-blocked by an exact match on
    the first ``prefix_len`` characters (classic prefix blocking from the
    record-linkage literature). Complements the token-set measures
    (MinHash Jaccard, TF-IDF cosine): edit distance sees character-level
    perturbations — typo rewrites, template fills — that token sets blur.

    DECLARED RECALL CONTRACT: only pairs agreeing on the prefix block are
    compared (a pair edited within its first ``prefix_len`` chars is
    missed); run after exact-dup collapse so a viral boilerplate prefix
    cannot concentrate one block (the same viral-duplicate guard as the
    MinHash path, dedup.py deduplicate(exact_first=True)).

    Scale shape: one equi-join on the prefix key moving (id, text, len);
    |len_a - len_b| <= max_dist prunes before the O(len^2) levenshtein,
    which runs only on surviving candidates inside codegen. Candidate
    volume is sum over blocks of size^2 — bounded by the prefix
    selectivity, never corpus-quadratic."""
    if max_dist < 0 or prefix_len < 1:
        raise ValueError(f"need max_dist >= 0 and prefix_len >= 1")
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__text"),
        F.length(text_col).cast("long").alias("__len"),
        F.substring(text_col, 1, int(prefix_len)).alias("__blk"),
    )
    if candidate_pair_budget is not None:
        from bullet_storm_spark.operators.pair_budget import (
            check_candidate_pair_budget,
        )

        # priced on the prefix blocks — each C(block, 2) candidate pays
        # an O(len^2) levenshtein, the family's most expensive verify
        check_candidate_pair_budget(
            base.select("__blk"),
            ["__blk"],
            candidate_pair_budget,
            "editdistance_pairs",
            "Raise prefix_len (finer blocks) or dedup exact first (a "
            "viral boilerplate prefix concentrates one block).",
        )
    right = base.select(
        F.col("__id").alias("__id_b"),
        F.col("__text").alias("__text_b"),
        F.col("__len").alias("__len_b"),
        "__blk",
    )
    return (
        base.join(right, "__blk")
        .where(
            (F.col("__id") < F.col("__id_b"))
            & (F.abs(F.col("__len") - F.col("__len_b")) <= int(max_dist))
        )
        .select(
            F.col("__id").alias("id_a"),
            F.col("__id_b").alias("id_b"),
            F.col("__len").alias("len_a"),
            F.col("__len_b").alias("len_b"),
            F.levenshtein(F.col("__text"), F.col("__text_b")).cast("long").alias(
                "edit_distance"
            ),
        )
        .where(F.col("edit_distance") <= int(max_dist))
        .orderBy("id_a", "id_b")
    )


def editdistance_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    max_dist: int = 20,
    prefix_len: int = 12,
) -> str:
    if max_dist < 0 or prefix_len < 1:
        raise ValueError(f"need max_dist >= 0 and prefix_len >= 1")
    return f"""
WITH __b AS (
  SELECT {id_col} AS id, {text_col} AS text,
         length({text_col})::BIGINT AS len,
         substr({text_col}, 1, {int(prefix_len)}) AS blk
  FROM {table}
)
SELECT a.id AS id_a, b.id AS id_b, a.len AS len_a, b.len AS len_b,
       levenshtein(a.text, b.text)::BIGINT AS edit_distance
FROM __b a JOIN __b b
  ON a.blk = b.blk AND a.id < b.id
WHERE abs(a.len - b.len) <= {int(max_dist)}
  AND levenshtein(a.text, b.text) <= {int(max_dist)}
ORDER BY id_a, id_b
"""


# --- LSH banding S-curve ---------------------------------------------------


def lsh_s_curve(
    spark,
    num_hashes: int = 64,
    bands: int = 16,
    grid: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """The analytic banding S-curve ``p(s) = 1 - (1 - s^r)^b`` for the
    (num_hashes, bands) MinHash-LSH configuration (MMDS ch. 3): the
    probability a pair with Jaccard similarity ``s`` collides in at
    least one band. ``(similarity, p_collision)`` at grid+1 points —
    the design-time companion to the MEASURED ``lsh_recall_audit``: the
    curve picks (b, r), the recall audit then validates the pick on the
    actual corpus.

    Config-only (no table input), computed as one engine expression over
    a generated range so the oracle twin exercises the identical
    POWER/ROUND chain."""
    if num_hashes % bands != 0:
        raise ValueError("lsh_s_curve: bands must divide num_hashes")
    r = num_hashes // bands
    rt = int(round_to)
    s = F.col("id").cast("double") / F.lit(float(grid))
    p = F.round(
        F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(s, F.lit(r)), F.lit(bands)), rt
    )
    return (
        spark.range(int(grid) + 1)
        .select(F.round(s, rt).alias("similarity"), p.alias("p_collision"))
        .orderBy("similarity")
    )


def lsh_s_curve_sql(
    num_hashes: int = 64, bands: int = 16, grid: int = 20, round_to: int = 6
) -> str:
    if num_hashes % bands != 0:
        raise ValueError("lsh_s_curve: bands must divide num_hashes")
    r = num_hashes // bands
    rt = int(round_to)
    return f"""
SELECT CASE WHEN ABS(CAST(i AS DOUBLE) / {float(grid)!r}) >= 1e16 THEN CAST((CAST(i AS DOUBLE) / {float(grid)!r}) AS DOUBLE) ELSE CAST(CAST(CAST(CAST((CAST(i AS DOUBLE) / {float(grid)!r}) * CAST(ABS(CAST(i AS DOUBLE) / {float(grid)!r}) >= POWER(10.0, -({rt}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{rt})) AS VARCHAR) AS DOUBLE) END AS similarity,
       CAST(CAST(CAST(CAST((1.0 - POWER(1.0 - POWER(CAST(i AS DOUBLE) / {float(grid)!r},
                                     {r}), {bands})) * CAST(ABS(1.0 - POWER(1.0 - POWER(CAST(i AS DOUBLE) / {float(grid)!r},
                                     {r}), {bands})) >= POWER(10.0, -({rt}+1)) AS INT) AS VARCHAR) AS DECIMAL(38,{rt})) AS VARCHAR) AS DOUBLE) AS p_collision
FROM range(0, {int(grid) + 1}) t(i)
ORDER BY similarity
"""


def lsh_band_plan(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """MEASURED banding-plan table: for every (bands, rows) factorization
    of ``num_hashes``, the candidate-pair workload the corpus would
    actually generate — ``(bands, rows_per_band, est_threshold,
    n_buckets, max_bucket, n_candidate_pairs)`` ordered by bands. The
    operational companion to the analytic ``lsh_s_curve``: the curve
    says what each (b, r) RECALLS, this says what it COSTS on this
    corpus (Σ C(bucket, 2) over occupied band buckets — exactly the
    equi-join output size of the pair stage), which is the number that
    decides whether a banding is runnable at 100 TB. ``est_threshold``
    is the standard (1/b)^(1/r) similarity knee, a plan literal computed
    once in Python so no transcendental crosses engines.

    Scale posture: the signature build is the shared one-md5-per-shingle
    hash aggregation; each config is one (band, band-signature) count
    aggregation over it (map-side combined) plus a config-sized
    reduction — bands·docs rows shuffled per config, no pair
    materialization anywhere."""
    if num_hashes < 2:
        raise ValueError(f"need num_hashes >= 2, got {num_hashes}")
    wide = _minhash_sig_wide(df, id_col, text_col, num_hashes, shingle_n)
    d = "decimal(38,0)"
    configs = [
        (bands, num_hashes // bands)
        for bands in range(2, num_hashes + 1)
        if num_hashes % bands == 0
    ]
    # ONE pass over the signature table for every configuration: explode
    # each doc into (config, band, band-signature) rows for ALL configs
    # at once, then a single two-level aggregation. The per-config-union
    # formulation re-ran the whole signature build (tokenize + shingle
    # md5 + 16-way min agg) once per configuration — measured 4 stages
    # x ~1.5-3 s executor time each at sf0.1, identical results.
    arms = [
        F.struct(
            F.lit(bands).alias("__bands"),
            F.lit(j).alias("__band"),
            F.concat_ws(
                ",", *[F.col(f"__h{j * r + i}") for i in range(r)]
            ).alias("__sig"),
        )
        for bands, r in configs
        for j in range(bands)
    ]
    buckets = (
        wide.select(F.explode(F.array(*arms)).alias("__b"))
        .select("__b.__bands", "__b.__band", "__b.__sig")
        .groupBy("__bands", "__band", "__sig")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    # est_threshold is a per-config Python literal ((1/b)^(1/r), computed
    # once driver-side so no transcendental crosses engines) — attach it
    # with a literal CASE over the config key
    est = None
    for bands, r in configs:
        lit = F.lit(float(round((1.0 / bands) ** (1.0 / r), round_to)))
        est = lit if est is None else F.when(
            F.col("bands") == bands, lit
        ).otherwise(est)
    summary = (
        buckets.groupBy(F.col("__bands").cast("long").alias("bands"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.max("__c").cast("long").alias("max_bucket"),
            F.sum(
                (
                    F.col("__c").cast(d)
                    * (F.col("__c") - F.lit(1)).cast(d)
                ).cast(d)
            ).cast(d).cast("long").alias("__pairs2"),
        )
        .select(
            "bands",
            F.expr(f"{num_hashes} div bands").cast("long").alias(
                "rows_per_band"
            ),
            est.alias("est_threshold"),
            "n_buckets",
            "max_bucket",
            F.expr("__pairs2 div 2").cast("long").alias("n_candidate_pairs"),
        )
    )
    return summary.orderBy("bands")


def lsh_band_plan_sql(
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    round_to: int = 6,
) -> str:
    if num_hashes < 2:
        raise ValueError(f"need num_hashes >= 2, got {num_hashes}")
    hp = _hash_pairs_sql(text_col, shingle_n)
    parts = []
    for bands in range(2, num_hashes + 1):
        if num_hashes % bands != 0:
            continue
        r = num_hashes // bands
        est = round((1.0 / bands) ** (1.0 / r), round_to)
        band_rows = ", ".join(
            "({j}, array_to_string([{mins}], ','))".format(
                j=j,
                mins=", ".join(
                    f"list_min(list_transform(hp, p -> (p[1] + {j * r + i} * p[2]) % {_MOD}))"
                    for i in range(r)
                ),
            )
            for j in range(bands)
        )
        parts.append(f"""
SELECT {bands}::BIGINT AS bands, {r}::BIGINT AS rows_per_band,
       CAST({est!r} AS DOUBLE) AS est_threshold,
       COUNT(*)::BIGINT AS n_buckets,
       MAX(c)::BIGINT AS max_bucket,
       CAST(CAST(SUM(CAST(CAST(c AS DECIMAL(38,0)) * CAST(c - 1 AS DECIMAL(38,0))
                 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS BIGINT) // 2
         AS n_candidate_pairs
FROM (
  SELECT band, sig, COUNT(*)::BIGINT AS c
  FROM (
    SELECT unnest([{band_rows}]) AS bs
    FROM (SELECT {hp} AS hp FROM {table})
    WHERE len(hp) > 0
  ) t(bs), LATERAL (SELECT bs[1] AS band, bs[2] AS sig) u
  GROUP BY band, sig
) b""")
    union = "\nUNION ALL\n".join(parts)
    return f"SELECT * FROM ({union}) ORDER BY bands"


def simhash_bucket_profile(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 1
) -> DataFrame:
    """Per-band bucket workload of the SimHash banding — the pre-flight
    that says whether ``simhash_pairs`` is runnable BEFORE any pair
    materializes: ``(band, n_buckets, n_docs, max_bucket,
    candidate_pairs)`` with ``candidate_pairs = Σ C(s, 2)`` over the
    band's bucket sizes, i.e. exactly the pair-join output the band will
    emit. The simhash twin of ``lsh_band_plan`` (which plans the minhash
    factorizations), motivated by a live r10 measurement: on the
    driver-shaped corpus the pair OUTPUT grows as sf^2.3 (WEAK_SCALING
    .json) and at sf3 a single hot band bucket emitted a multi-GB
    shuffle task — this report prices that before a 100 TB sweep, for
    the cost of one wordcount-shaped double aggregation (no join, no
    pair rows; ``max_bucket`` names the boilerplate cluster to excise).

    Engine parity: pure integer counts, ``s*(s-1)/2`` stays exact in
    BIGINT (a band bucket would need > 6e9 docs to overflow — the
    64-bit ceiling documents itself via the simhash space: 2^12 buckets
    per band)."""
    hdf = _simhash_unsorted(df, id_col, text_col, shingle_n)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = F.array(
        *[
            F.shiftright(F.col("simhash"), SIMHASH_BAND_BITS * b).bitwiseAND(
                F.lit(mask)
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    blocked = hdf.select(F.posexplode(bands).alias("band", "bh"))
    sizes = blocked.groupBy("band", "bh").agg(
        F.count(F.lit(1)).cast("long").alias("s")
    )
    return (
        sizes.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("s").cast("long").alias("n_docs"),
            F.max("s").cast("long").alias("max_bucket"),
            # s*(s-1) is even, so >>1 is the exact integer C(s,2) — a
            # double `/ 2` would round past 2^53
            F.sum(
                F.shiftright(
                    (F.col("s") * (F.col("s") - F.lit(1))).cast("long"), 1
                )
            )
            .cast("long")
            .alias("candidate_pairs"),
        )
        .orderBy("band")
    )


def simhash_bucket_profile_sql(
    table: str, id_col: str, text_col: str, shingle_n: int = 1
) -> str:
    inner = simhash_sql(table, id_col, text_col, shingle_n)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return f"""
WITH h AS ({inner}),
blocked AS (
  SELECT b.band,
         (simhash >> ({SIMHASH_BAND_BITS} * b.band)) & {mask} AS bh
  FROM h, (SELECT UNNEST(range({SIMHASH_BANDS})) AS band) b
),
sizes AS (
  SELECT band, bh, CAST(COUNT(*) AS BIGINT) AS s
  FROM blocked GROUP BY band, bh
)
SELECT band, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(s) AS BIGINT) AS n_docs,
       CAST(MAX(s) AS BIGINT) AS max_bucket,
       CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS candidate_pairs
FROM sizes GROUP BY band ORDER BY band
"""


def simhash_hamming_histogram(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 1,
    round_to: int = 9,
) -> DataFrame:
    """SimHash-radius calibration table: ``(hamming, n_pairs, share)``
    over the banded candidate pairs — where should ``max_hamming`` go on
    THIS corpus? The simhash twin of ``similarity.cosine_histogram``
    (which calibrates the embedding-cosine threshold): near-dups pile up
    at distance 0-3, the random-collision bulk sits near half the dirty
    bits, and the valley between them is the radius to run
    ``simhash_pairs`` with. Pairs come from the SAME 4x12-bit banding the
    dedup path uses, each unordered pair counted once (band collisions
    collapsed via DISTINCT on the id pair before counting), so the
    histogram describes exactly the candidate population that operator
    will verify.

    Engine parity: integer bit_count on identical simhashes, integer
    counts, one IEEE division per share. Scale: the banding equi-join
    (no BNLJ — the simhash_pairs posture), a pair-distinct shuffle, a
    64-row output."""
    hdf = _simhash_unsorted(df, id_col, text_col, shingle_n)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = F.array(
        *[
            F.shiftright(F.col("simhash"), SIMHASH_BAND_BITS * b).bitwiseAND(
                F.lit(mask)
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    blocked = hdf.select(
        F.col(id_col).alias("id"),
        F.col("simhash"),
        F.posexplode(bands).alias("band", "bh"),
    ).repartition(
        # the simhash_pairs AQE pin: banded rows are byte-cheap but the
        # pair stage is compute-heavy; keep the join fed at full width
        df.sparkSession.sparkContext.defaultParallelism,
        "band",
        "bh",
    )
    l, r = blocked.alias("l"), blocked.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        # first-matching-band filter: both full simhashes are present at
        # join time, so "count each unordered pair once" is an inline bit
        # test (keep the pair only in the LOWEST band where the two hashes
        # collide) instead of a DISTINCT that shuffles and hash-dedupes the
        # whole quadratic candidate stream
        .where(
            F.col("l.band")
            == _first_matching_band(F.col("l.simhash"), F.col("r.simhash"))
        )
        .select(
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).cast("long").alias("hamming"),
        )
    )
    w = Window.partitionBy()
    return (
        pairs.groupBy("hamming")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .withColumn("__tot", F.sum("n_pairs").over(w).cast("long"))
        .select(
            "hamming",
            "n_pairs",
            F.round(
                F.col("n_pairs").cast("double") / F.col("__tot").cast("double"),
                round_to,
            ).alias("share"),
        )
        .orderBy("hamming")
    )


def simhash_hamming_histogram_sql(
    table: str,
    id_col: str,
    text_col: str,
    shingle_n: int = 1,
    round_to: int = 9,
) -> str:
    inner = simhash_sql(table, id_col, text_col, shingle_n)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    share = "CAST(n_pairs AS DOUBLE) / CAST(SUM(n_pairs) OVER () AS DOUBLE)"
    guarded = (
        f"CAST(CAST(CAST(CAST(({share}) * CAST(ABS({share}) >= "
        f"POWER(10.0, -({round_to}+1)) AS INT) AS VARCHAR) AS "
        f"DECIMAL(38,{round_to})) AS VARCHAR) AS DOUBLE)"
    )
    return f"""
WITH h AS ({inner}),
blocked AS (
  SELECT {id_col} AS id, simhash, b.band,
         (simhash >> ({SIMHASH_BAND_BITS} * b.band)) & {mask} AS bh
  FROM h, (SELECT UNNEST(range({SIMHASH_BANDS})) AS band) b
),
__pairs AS (
  SELECT DISTINCT l.id AS id1, r.id AS id2,
         bit_count(xor(l.simhash, r.simhash))::BIGINT AS hamming
  FROM blocked l JOIN blocked r
    ON l.band = r.band AND l.bh = r.bh AND l.id < r.id
),
__hist AS (
  SELECT hamming, COUNT(*)::BIGINT AS n_pairs FROM __pairs GROUP BY hamming
)
SELECT hamming, n_pairs, {guarded} AS share
FROM __hist ORDER BY hamming
"""
