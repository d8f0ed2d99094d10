"""The scale gates (operators.common.scale_gate): unrolled fixed-dim
vector forms, hub checkpoints and spreading exchanges engage only past a
size threshold (the optimizer's size estimate against one entry of
SCALE_GATE_MIN_BYTES, read at call time), and BOTH branches of every
gated operator produce identical results. Tests force a branch by
patching that table.

Rationale (OPTIMIZATION_r11.md batch 10): the unrolled chains trade
per-row interpreted cost for a large expression tree whose per-task
deserialization and per-action planning dominate small inputs (measured
2-3x bench regressions at sf0.1); hub localCheckpoints trade N lineage
re-runs for an extra job + barrier that likewise loses below the
threshold; a spreading exchange costs more than the single-task sweep
it splits on a small input. The gates pick per frame; results cannot
depend on the branch.
"""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from bullet_storm_spark.operators.common import (
    SCALE_GATE_MIN_BYTES,
    hub_checkpoint,
    scale_gate,
)

# "off" must exceed Long.MaxValue (2^63-1): in-memory createDataFrame
# frames report defaultSizeInBytes = Long.MaxValue, so a 1 << 62
# threshold would still take the at-scale branch and a branch comparison
# would be vacuous (both labels running the same code). The gate
# comparison is Python-side, so unbounded ints work.
OFF, ON = 1 << 64, 0


@pytest.fixture()
def vec_df(spark):
    import random

    rng = random.Random(7)
    dim = 8
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)])
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "id long, v array<double>"), dim


def _force(monkeypatch, value, gates=("unroll", "hub")):
    """Set the named gates' thresholds for the rest of the test."""
    for gate in gates:
        monkeypatch.setitem(SCALE_GATE_MIN_BYTES, gate, value)


def test_unroll_gate_on_size(spark, monkeypatch, vec_df):
    pq = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df, _ = vec_df
    # parquet-backed frame: footer stats say it is tiny -> HOF branch
    assert scale_gate("unroll", pq) is False
    # in-memory (LogicalRDD-backed) frame: stats().sizeInBytes() succeeds
    # and returns defaultSizeInBytes = Long.MaxValue -> assume big, the
    # production posture (it does NOT raise)
    assert scale_gate("unroll", df) is True
    # threshold 0 -> unrolled branch
    _force(monkeypatch, ON, ("unroll",))
    assert scale_gate("unroll", pq) is True
    # ... and a threshold above Long.MaxValue forces the HOF branch on an
    # in-memory frame (the OFF contract above)
    _force(monkeypatch, OFF, ("unroll",))
    assert scale_gate("unroll", df) is False


def test_hub_checkpoint_gates_on_source_size(spark, monkeypatch):
    pq = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    hub = pq.groupBy("vec_id").count()
    out = hub_checkpoint(hub, pq)
    assert out is hub  # tiny parquet source: no checkpoint
    _force(monkeypatch, ON, ("hub",))
    out = hub_checkpoint(hub, pq)
    assert out is not hub  # checkpointed frame
    n = pq.count()
    assert sum(r["count"] for r in out.collect()) == n


def _collect_both(monkeypatch, build, df=None):
    """Collect the same operator output with the "unroll" and "hub"
    gates forced off ("hof", a threshold above Long.MaxValue — see OFF)
    and on ("fixed"). When ``df`` is passed, assert the two settings
    really take different branches."""
    rows = {}
    for label, thresh in (("hof", OFF), ("fixed", ON)):
        _force(monkeypatch, thresh)
        if df is not None:
            assert scale_gate("unroll", df) is (label == "fixed")
        rows[label] = sorted(map(repr, (tuple(r) for r in build().collect())))
    return rows


def test_lsh_bucketed_neighbors_branches_identical(
    spark, monkeypatch, vec_df
):
    from bullet_storm_spark.operators.similarity import (
        lsh_bucketed_neighbors,
    )

    df, dim = vec_df
    rows = _collect_both(
        monkeypatch,
        lambda: lsh_bucketed_neighbors(
            df, "id", "v", F.col("id") < 5, k=3, nbits=3, dim=dim
        ),
        df=df,
    )
    assert rows["hof"] == rows["fixed"]
    assert len(rows["hof"]) > 0


def test_cosine_histogram_branches_identical(spark, monkeypatch, vec_df):
    from bullet_storm_spark.operators.similarity import cosine_histogram

    df, dim = vec_df
    for cap in (None, 4):
        rows = _collect_both(
            monkeypatch,
            lambda: cosine_histogram(
                df, "id", "v", nbits=3, dim=dim, per_bucket_cap=cap
            ),
            df=df,
        )
        assert rows["hof"] == rows["fixed"]
        assert len(rows["hof"]) > 0


def test_embedding_neardup_pairs_branches_identical(
    spark, monkeypatch, vec_df
):
    from bullet_storm_spark.operators.dedup import embedding_neardup_pairs_lsh

    df, dim = vec_df
    rows = _collect_both(
        monkeypatch,
        lambda: embedding_neardup_pairs_lsh(
            df, "id", "v", threshold=0.5, nbits=3, ntables=2, dim=dim
        ),
        df=df,
    )
    assert rows["hof"] == rows["fixed"]


@pytest.fixture()
def ragged_vec_df(spark):
    """Vectors whose lengths straddle the declared dim (the ae25be8 bug
    class: a fixed-form caller promising dim=N over shorter/longer rows
    must still match the HOF branch bit-for-bit)."""
    import random

    rng = random.Random(23)
    dim = 8
    rows = []
    for i in range(48):
        n = dim + rng.choice([-2, -1, 0, 0, 1, 2])
        rows.append((i, [round(rng.uniform(-1, 1), 3) for _ in range(n)]))
    return spark.createDataFrame(rows, "id long, v array<double>"), dim


def test_short_vector_fuzz_lsh_bucketed(spark, monkeypatch, ragged_vec_df):
    from bullet_storm_spark.operators.similarity import (
        lsh_bucketed_neighbors,
    )

    df, dim = ragged_vec_df
    rows = _collect_both(
        monkeypatch,
        lambda: lsh_bucketed_neighbors(
            df, "id", "v", F.col("id") < 6, k=3, nbits=3, dim=dim
        ),
        df=df,
    )
    assert rows["hof"] == rows["fixed"]


def test_short_vector_fuzz_brute_force_and_hard_negatives(
    spark, monkeypatch, ragged_vec_df
):
    from bullet_storm_spark.operators.similarity import (
        brute_force_neighbors,
        hard_negatives,
    )

    df, dim = ragged_vec_df
    rows = _collect_both(
        monkeypatch,
        lambda: brute_force_neighbors(
            df, "id", "v", F.col("id") < 6, k=3, dim=dim
        ),
        df=df,
    )
    assert rows["hof"] == rows["fixed"]
    rows = _collect_both(
        monkeypatch,
        lambda: hard_negatives(
            df, "id", "v", F.col("id") < 4, lo=-0.5, hi=0.8, k=3, dim=dim
        ),
        df=df,
    )
    assert rows["hof"] == rows["fixed"]


def test_short_vector_fuzz_ivf_frozen(spark, monkeypatch, ragged_vec_df):
    from bullet_storm_spark.operators.similarity import ivf_neighbors_frozen

    df, dim = ragged_vec_df
    rows = _collect_both(
        monkeypatch,
        lambda: ivf_neighbors_frozen(
            df, "id", "v", F.col("id") < 6, k=3, nprobe=2, n_centroids=4,
            dim=dim,
        ),
        df=df,
    )
    assert rows["hof"] == rows["fixed"]


def test_short_vector_fuzz_neardup_and_quantized(
    spark, monkeypatch, ragged_vec_df
):
    from bullet_storm_spark.operators.dedup import embedding_neardup_pairs_lsh
    from bullet_storm_spark.operators.quantize import (
        quantized_neardup_pairs_lsh,
    )

    df, dim = ragged_vec_df
    rows = _collect_both(
        monkeypatch,
        lambda: embedding_neardup_pairs_lsh(
            df, "id", "v", threshold=0.3, nbits=3, ntables=2, dim=dim
        ),
        df=df,
    )
    assert rows["hof"] == rows["fixed"]
    # the quantized verify stage is an int64 matmul over UNIFORM-length
    # int8 vectors (np.vstack) — ragged input fails LOUDLY and
    # identically in both gate branches (fail-fast beats a silently
    # truncated verify; the pair_budget posture). Assert the parity.
    import pytest as _pytest

    from pyspark.errors.exceptions.captured import PythonException

    for thresh in (OFF, ON):
        _force(monkeypatch, thresh)
        with _pytest.raises(PythonException, match="dimensions|match"):
            quantized_neardup_pairs_lsh(
                df, "id", "v", threshold=0.3, nbits=3, ntables=2, dim=dim
            ).collect()
    # and on uniform-length input the branches are value-identical
    uni = df.sparkSession.createDataFrame(
        [(i, [round(0.07 * ((i * 13 + j * 7) % 29 - 14), 3) for j in range(dim)])
         for i in range(40)],
        "id long, v array<double>",
    )
    rows = _collect_both(
        monkeypatch,
        lambda: quantized_neardup_pairs_lsh(
            uni, "id", "v", threshold=0.3, nbits=3, ntables=2, dim=dim
        ),
        df=uni,
    )
    assert rows["hof"] == rows["fixed"]


def test_short_vector_fuzz_semantic_dedup(spark, monkeypatch, ragged_vec_df):
    from bullet_storm_spark.operators.semdedup import semantic_dedup

    df, dim = ragged_vec_df
    # centroids shorter AND longer than the data rows — the exact
    # ae25be8 incident shape (dim is derived from the centroids)
    for clen in (dim - 2, dim, dim + 1):
        cents = [
            [round(0.1 * (j + 1) * (c + 1), 3) for j in range(clen)]
            for c in range(3)
        ]
        rows = _collect_both(
            monkeypatch,
            lambda: semantic_dedup(df, "id", "v", centroids=cents),
            df=df,
        )
        assert rows["hof"] == rows["fixed"]


def test_bm25_and_series_hub_branches_identical(spark, monkeypatch):
    from bullet_storm_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (i, f"shared tokens alpha beta doc{i % 3} gamma delta " * 3)
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    rows = {}
    # OFF > Long.MaxValue: an in-memory frame's defaultSizeInBytes stat
    # is Long.MaxValue, so a 1 << 62 "off" threshold would still
    # checkpoint and the branch comparison would be vacuous
    for label, thresh in (("off", OFF), ("on", ON)):
        _force(monkeypatch, thresh, ("hub",))
        # prove the two settings really take different branches on this
        # in-memory frame (identity: gate-off returns the frame itself)
        probe = docs.limit(1)
        gated = hub_checkpoint(probe, docs)
        assert (gated is probe) == (label == "off")
        out = bm25_topk(docs, "doc_id", "text", [(1, "alpha beta")], k=5)
        rows[label] = sorted(map(repr, (tuple(r) for r in out.collect())))
    assert rows["off"] == rows["on"]
    assert len(rows["off"]) > 0


def test_arrow_spread_threshold_is_separate_and_higher():
    # r12: the Arrow/BLAS matmul paths spread far later than the SQL
    # pair-compute paths (numpy does ~100x the work per second, so the
    # spreading exchange overtakes its parallelism gain only on much
    # larger inputs — measured at the sf10 weak-scaling point). Pin the
    # split: a separate gate, well above the SQL spread.
    assert SCALE_GATE_MIN_BYTES["arrow_spread"] > SCALE_GATE_MIN_BYTES["spread"]


def _spread_both(monkeypatch, gate, build):
    """Collect ``build()`` with ``gate`` forced off and on. Only the "on"
    plan may hold a spreading (REPARTITION_BY_NUM) exchange, and the
    rows must be identical."""
    spread, rows = {}, {}
    for label, thresh in (("off", OFF), ("on", ON)):
        _force(monkeypatch, thresh, (gate,))
        out = build()
        plan = out._jdf.queryExecution().executedPlan().toString()
        spread[label] = "REPARTITION_BY_NUM" in plan
        rows[label] = sorted(map(repr, (tuple(r) for r in out.collect())))
    assert spread == {"off": False, "on": True}
    assert rows["off"] == rows["on"]
    assert len(rows["on"]) > 0


@pytest.fixture()
def narrow_vec_df(spark, vec_df):
    """vec_df scanned by fewer tasks than the session has cores, the
    input shape the spread gates exist for."""
    df, dim = vec_df
    narrow = df.coalesce(1)
    assert narrow.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    return narrow, dim


@pytest.mark.parametrize("with_dim", [False, True])
def test_brute_force_spread_branches_identical(
    monkeypatch, narrow_vec_df, with_dim
):
    from bullet_storm_spark.operators.similarity import brute_force_neighbors

    df, dim = narrow_vec_df
    _spread_both(
        monkeypatch,
        "spread",
        lambda: brute_force_neighbors(
            df, "id", "v", F.col("id") < 5, k=3, dim=dim if with_dim else None
        ),
    )


def test_brute_force_arrow_spread_branches_identical(monkeypatch, narrow_vec_df):
    from bullet_storm_spark.operators.similarity import (
        brute_force_neighbors_arrow,
    )

    df, _ = narrow_vec_df
    _spread_both(
        monkeypatch,
        "arrow_spread",
        lambda: brute_force_neighbors_arrow(df, "id", "v", F.col("id") < 5, k=3),
    )


def test_quantized_arrow_spread_branches_identical(monkeypatch, narrow_vec_df):
    from bullet_storm_spark.operators.quantize import quantized_neighbors_arrow

    df, _ = narrow_vec_df
    _spread_both(
        monkeypatch,
        "arrow_spread",
        lambda: quantized_neighbors_arrow(df, "id", "v", F.col("id") < 5, k=3),
    )


def test_one_reader_of_the_size_estimate():
    # every size-gated branch goes through operators.common.scale_gate:
    # one file reads the optimizer estimate, and no threshold is read
    # from the environment (tests patch SCALE_GATE_MIN_BYTES instead)
    src = pathlib.Path(__file__).resolve().parents[1] / "bullet_storm_spark"
    readers, env_knobs = [], []
    for path in sorted(src.rglob("*.py")):
        text = path.read_text()
        if re.search(r"optimizedPlan\(\)\s*\.\s*stats\(\)", text):
            readers.append(path.relative_to(src).as_posix())
        env_knobs += re.findall(r"""["'][A-Z0-9_]*_MIN_BYTES["']""", text)
    assert readers == ["operators/common.py"]
    assert env_knobs == []
