"""Round 13 (optimization round 2) pins: the LSH rework.

lsh_near_dup_pairs is one pipeline — Arrow bucketing (one vectorized
numpy pass) or the Catalyst fold when the hyperplanes are not portable,
a localCheckpoint'ed entry relation, and a grouped-numpy in-bucket
verify with Catalyst doing the exact round+threshold. These tests pin
(a) that it emits exactly the exact pair scan restricted to
bucket-collision candidates — the DuckDB oracle's definition — on the
edges (hot buckets at chunk boundaries, zero-norm vectors, int ids),
and (b) the default plan shapes the OPTIMIZATION_r13.md evidence
claims.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_cdc_msk_spark.operators import similarity as S

SF = "/root/testdata/sf0.01"


def _rows(df):
    return sorted((r.id1, r.id2, r.cos) for r in df.collect())


def _reference(emb, threshold, n_planes, n_tables, portable_dims=None):
    """The exact pair scan joined with the bucket-collision candidates
    (a self-join of the plain bucket relation on (table, bucket),
    id1 < id2, distinct); zero-norm vectors excluded — they pair with
    nothing."""
    nonzero = emb.filter(S.norm(S.as_double("embedding")) > 0)
    exact = S.near_dup_pairs_catalyst(nonzero, threshold)
    b = S.random_hyperplane_buckets(
        emb, n_planes, n_tables, portable_dims=portable_dims
    )
    cands = (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    return _rows(exact.join(cands, ["id1", "id2"]))


def _planted_bucket(spark, n: int, descending: bool):
    """``n`` copies of one 64-dim vector, so every row shares one bucket in
    every table, in a single partition whose row order is the id order
    given — the verify stage keeps that order inside the bucket."""
    ids = range(n - 1, -1, -1) if descending else range(n)
    vec = [float(i % 7 + 1) for i in range(64)]
    return spark.createDataFrame(
        [(i, vec) for i in ids], "vec_id long, embedding array<double>"
    ).coalesce(1)


def _emb(spark, planted: bool = False):
    if planted:
        from flink_cdc_msk_spark.plans.round10_extras import (
            _emb_with_planted_neardups,
        )

        return _emb_with_planted_neardups(spark, SF)
    from flink_cdc_msk_spark.sources.tables import load_tables

    return load_tables(spark, SF)["embeddings"]


def _with_zero_vectors(emb):
    """Three planted zero vectors: they share bucket 0 in every table,
    so the verify meets 0/0 on every pair that touches one."""
    emb = emb.select("vec_id", "embedding")
    zeros = emb.sparkSession.createDataFrame(
        [(10_000 + i, [0.0] * 64) for i in range(3)], emb.schema
    )
    return emb.unionByName(zeros)


def _with_int_ids(emb):
    return emb.select(F.col("vec_id").cast("int"), "embedding")


DENSE = dict(threshold=0.3, n_planes=4, n_tables=8)


@pytest.mark.parametrize(
    "kw",
    [
        # the dense registered regime (embedding_near_dup_lsh)
        dict(DENSE, portable_dims=64),
        # the hi registered regime (embedding_near_dup_lsh_hi's params;
        # needs the planted-clone corpus for a non-empty survivor set)
        dict(
            threshold=0.8,
            n_planes=10,
            n_tables=8,
            portable_dims=64,
            _planted=True,
        ),
        # non-portable (xxhash hyperplanes): arrow unavailable → the
        # entries come from the Catalyst fold
        dict(DENSE),
        # one hot bucket whose size is one past a verify chunk multiple,
        # smallest id last (the chunk-boundary case of the blas verify)
        dict(
            threshold=0.8, n_planes=4, n_tables=8, portable_dims=64,
            _planted_bucket=(257, True),
        ),
        dict(
            threshold=0.8, n_planes=4, n_tables=8, portable_dims=64,
            _planted_bucket=(513, True),
        ),
        # zero-norm vectors pair with nothing; int ids behave as long
        pytest.param(
            dict(DENSE, portable_dims=64, _corpus=_with_zero_vectors),
            id="zero_norm-portable",
        ),
        pytest.param(
            dict(DENSE, _corpus=_with_zero_vectors), id="zero_norm-fold"
        ),
        pytest.param(
            dict(DENSE, portable_dims=64, _corpus=_with_int_ids),
            id="int_ids-portable",
        ),
        pytest.param(dict(DENSE, _corpus=_with_int_ids), id="int_ids-fold"),
    ],
)
def test_lsh_forms_emit_identical_pairs(spark, kw):
    kw = dict(kw)
    bucket = kw.pop("_planted_bucket", None)
    corpus = kw.pop("_corpus", lambda emb: emb)
    emb = corpus(
        _planted_bucket(spark, *bucket)
        if bucket
        else _emb(spark, planted=kw.pop("_planted", False))
    )
    ref = _reference(emb, **kw)
    assert ref  # non-degenerate corpus
    assert _rows(S.lsh_near_dup_pairs(emb, **kw)) == ref


@pytest.mark.parametrize("n", [257, 513])
@pytest.mark.parametrize("descending", [False, True])
def test_blas_verify_keeps_every_pair_of_a_hot_bucket(spark, n, descending):
    """The blas verify walks a bucket in chunks of 256 rows; a bucket of
    256·k + 1 rows must still make its last row a chunk row, or every
    pair where that row holds the smaller id is lost."""
    pairs = S.lsh_near_dup_pairs(
        _planted_bucket(spark, n, descending),
        threshold=0.8, n_planes=4, n_tables=8, portable_dims=64,
    )
    assert pairs.count() == n * (n - 1) // 2


def test_lsh_default_plan_shape(spark):
    """The r13 default: 2 MapInArrow stages (bucketing + verify), ONE
    hash exchange on (table, bucket) feeding the verify plus the final
    round/filter projection — no SortMergeJoin, no salted self-join, no
    BatchEvalPython, and the checkpointed entry relation enters as a
    scan of an existing RDD."""
    df = S.lsh_near_dup_pairs(
        _emb(spark), threshold=0.3, n_planes=4, n_tables=8,
        portable_dims=64,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1  # the verify stage
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ExistingRDD" in plan or "LogicalRDD" in plan  # checkpoint
    # the bucketing MapInArrow ran at construction (eager checkpoint);
    # the executed plan reads its materialization, not the subtree
    assert plan.count("Exchange") == 1


def test_lsh_fold_default_plan_shape(spark):
    """Without ``portable_dims`` the entries come from the Catalyst fold
    and feed the same verify: one MapInArrow, one exchange on (table,
    bucket), no SortMergeJoin."""
    df = S.lsh_near_dup_pairs(
        _emb(spark), threshold=0.3, n_planes=4, n_tables=8
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1  # the verify stage
    assert "SortMergeJoin" not in plan
    assert "ExistingRDD" in plan or "LogicalRDD" in plan  # checkpoint
    assert plan.count("Exchange") == 1


def test_arrow_wide_entries_bit_identical_to_fold(spark):
    """The numpy bucketing stage must produce the SAME buckets, double
    vectors and norms as the Catalyst fold projections — left-deep
    sequential arithmetic both sides."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    T, P = 8, 4
    arrow = S._arrow_wide_entries(
        emb, P, T, "vec_id", "embedding", dims=64
    )
    fold = S.random_hyperplane_buckets(
        emb, P, T, "vec_id", "embedding", portable_dims=64,
        wide=True, carry_vec=("v", "nv"),
    )
    cols = ["id", "nv", "v"] + [f"tb{t}" for t in range(T)]
    a = sorted(map(str, arrow.select(*cols).collect()))
    # fold output is post-explode (T rows per id) — dedupe to the wide
    # row for the compare
    b = sorted(
        map(str, fold.select(*cols).distinct().collect())
    )
    assert a == b
