"""Round 13 (optimization round 2) pins: the LSH rework.

The default lsh_near_dup_pairs path changed shape this round — Arrow
bucketing (one vectorized numpy pass), localCheckpoint'ed entry
relation, and a grouped-numpy in-bucket verify with Catalyst doing the
exact round+threshold — so these tests pin (a) that every form still
emits the IDENTICAL pair set, and (b) the default plan shape the
OPTIMIZATION_r13.md evidence claims.
"""

from __future__ import annotations

import pytest

from flink_cdc_msk_spark.operators import similarity as S

SF = "/root/testdata/sf0.01"

LEGACY = dict(
    _entries_form="join", _salt_form="blanket", _verify_form="smj"
)


def _rows(df):
    return sorted((r.id1, r.id2, r.cos) for r in df.collect())


def _emb(spark, planted: bool = False):
    if planted:
        from flink_cdc_msk_spark.plans.round10_extras import (
            _emb_with_planted_neardups,
        )

        return _emb_with_planted_neardups(spark, SF)
    from flink_cdc_msk_spark.sources.tables import load_tables

    return load_tables(spark, SF)["embeddings"]


@pytest.mark.parametrize(
    "kw",
    [
        # the dense registered regime (embedding_near_dup_lsh)
        dict(threshold=0.3, n_planes=4, n_tables=8, portable_dims=64),
        # the hi registered regime (embedding_near_dup_lsh_hi's params;
        # needs the planted-clone corpus for a non-empty survivor set)
        dict(
            threshold=0.8,
            n_planes=10,
            n_tables=8,
            portable_dims=64,
            _emit_order="cos_first",
            _planted=True,
        ),
        # non-portable (xxhash hyperplanes): arrow unavailable → the
        # auto entries form is the hoisted Catalyst fold
        dict(threshold=0.3, n_planes=4, n_tables=8),
    ],
)
def test_lsh_forms_emit_identical_pairs(spark, kw):
    kw = dict(kw)
    emb = _emb(spark, planted=kw.pop("_planted", False))
    legacy = _rows(S.lsh_near_dup_pairs(emb, **kw, **LEGACY))
    assert legacy  # non-degenerate corpus
    assert _rows(S.lsh_near_dup_pairs(emb, **kw)) == legacy
    assert (
        _rows(S.lsh_near_dup_pairs(emb, _entries_form="fold", **kw))
        == legacy
    )
    # adaptive salt on the legacy SMJ verify path
    assert (
        _rows(
            S.lsh_near_dup_pairs(
                emb,
                _entries_form="fold",
                _salt_form="adaptive",
                _verify_form="smj",
                **kw,
            )
        )
        == legacy
    )


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


@pytest.mark.parametrize("gn", [257, 513])
def test_bucket_blas_pairs_planted_bucket_matches_brute_force(spark, gn):
    """The grouped-numpy verify walks each bucket in chunks of 256 rows.
    A bucket of 256·m + 1 rows has one row past the last full chunk; rows
    in a bucket are not ordered by id, so that row can hold the smaller
    id of its pairs and must be a chunk row itself. Planted here as the
    last row with the smallest id, checked against brute force."""
    import numpy as np

    rng = np.random.default_rng(gn)
    d = 4
    # two tight clusters: intra-cluster cosines > 0.95, inter < 0.2, so
    # no pair sits near the threshold
    axis = np.where(np.arange(gn) % 2 == 0, 0, 1)
    V = rng.normal(0.0, 0.02, (gn, d))
    V[np.arange(gn), axis] += 1.0
    ids = np.arange(gn, 0, -1, dtype=np.int64) * 10  # descending ids
    rows = [
        (int(ids[i]), [float(x) for x in V[i]],
         float(np.sqrt((V[i] * V[i]).sum())), 0, 0)
        for i in range(gn)
    ]
    entries = spark.createDataFrame(
        rows, "id long, v array<double>, nv double, table int, bucket int"
    ).coalesce(1)
    got = {(r.id1, r.id2) for r in S._bucket_blas_pairs(
        entries, n_tables=1, threshold=0.9
    ).collect()}

    U = V / np.linalg.norm(V, axis=1, keepdims=True)
    cos = U @ U.T
    ii, jj = np.nonzero((ids[:, None] < ids[None, :]) & (cos >= 0.9))
    expect = {(int(ids[i]), int(ids[j])) for i, j in zip(ii, jj)}
    assert np.abs(cos - 0.9).min() > 0.05
    smallest = int(ids.min())
    assert any(p[0] == smallest for p in expect)
    assert got == expect
