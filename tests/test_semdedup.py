"""SemDeDup semantic dedup: oracle parity, the within-cluster contract,
and deterministic assignment tie-breaks."""

from __future__ import annotations

from pyspark.sql import functions as F

from llm_training_data_pipeline_spark.operators import semdedup
from llm_training_data_pipeline_spark.plans import oracle
from llm_training_data_pipeline_spark.schemas import load_table
from tests.conftest import SF_DIR, assert_df_matches_oracle


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_pairs_match_oracle(spark, ddb):
    emb = load_table(spark, "embeddings", SF_DIR)
    got = semdedup.semdedup_pairs(emb, threshold=0.35, n_clusters=16)
    assert_df_matches_oracle(
        got, ddb, oracle.semdedup_pairs_sql(threshold=0.35, n_clusters=16)
    )


def test_stats_match_oracle(spark, ddb):
    emb = load_table(spark, "embeddings", SF_DIR)
    got = semdedup.semdedup_stats(emb, threshold=0.35, n_clusters=16)
    assert_df_matches_oracle(
        got, ddb, oracle.semdedup_stats_sql(threshold=0.35, n_clusters=16)
    )


def test_identical_vectors_in_same_cluster_pair(spark):
    # seeds = ids 0,1 (orthogonal); ids 2 and 3 both sit on seed 0's axis
    emb = _emb(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [2.0, 0.1]),
            (3, [3.0, 0.2]),
        ],
    )
    pairs = semdedup.semdedup_pairs(emb, threshold=0.9, n_clusters=2).collect()
    got = {(r["a_id"], r["b_id"]) for r in pairs}
    assert (2, 3) in got
    # the seed itself pairs with its near-copies too
    assert (0, 2) in got and (0, 3) in got


def test_cross_cluster_pairs_are_unseen(spark):
    # ids 2 and 3 are identical, but land in different clusters by
    # construction (each sits exactly on a different seed) — SemDeDup's
    # documented recall trade: no within-cluster pair is emitted.
    emb = _emb(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.0001]),
            (2, [1.0, 0.0]),
            (3, [1.0, 0.0001]),
        ],
    )
    # cluster 0 gets {0, 2}, cluster 1 gets {1, 3}; the identical
    # cross-cluster pairs (0,1)/(2,3) never meet.
    pairs = semdedup.semdedup_pairs(emb, threshold=0.999, n_clusters=2).collect()
    got = {(r["a_id"], r["b_id"]) for r in pairs}
    assert got == {(0, 2), (1, 3)}


def test_assignment_tie_breaks_to_lowest_cluster(spark):
    # two identical seeds: every vector ties on cosine; all must land in
    # cluster 0 (lowest id wins)
    emb = _emb(
        spark,
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.5, 0.5]), (3, [0.9, 0.1])],
    )
    assigned = semdedup.assign_clusters(emb, n_clusters=2)
    assert {r["cluster"] for r in assigned.collect()} == {0}


def test_custom_centroids_df(spark):
    emb = _emb(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 2.0])])
    cents = semdedup.seed_centroids(
        _emb(spark, [(10, [0.0, 1.0])]), n_clusters=1
    )
    assigned = semdedup.assign_clusters(emb, centroids=cents)
    rows = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    assert rows == {0: 0, 1: 0, 2: 0}
    pairs = semdedup.semdedup_pairs(emb, threshold=0.999, centroids=cents)
    assert {(r["a_id"], r["b_id"]) for r in pairs.collect()} == {(1, 2)}


def test_pair_join_is_equi_join_no_cartesian(spark):
    # read every execution: the centroid fan-out runs inside the eager
    # assignment checkpoint, the pair scan in the final collect
    from tools.driver_mimic import last_execution_id, plan_nodes_since

    emb = load_table(spark, "embeddings", SF_DIR)
    before = last_execution_id(spark)
    semdedup.semdedup_pairs(emb).collect()
    nodes = plan_nodes_since(spark, before)
    assert not any(d.startswith("CartesianProduct") for d in nodes)
    # centroid fan-out is a broadcast, the pair scan an equi hash join
    assert any(d.startswith("Broadcast") for d in nodes)


def test_stats_empty_corpus_yields_null_retention(spark):
    # Spark 4 ANSI would throw on 0/0 — the operator must return the
    # oracle's NULL instead of crashing
    emb = _emb(spark, []).filter("vec_id IS NOT NULL")
    row = semdedup.semdedup_stats(emb).collect()[0]
    assert row["n_vectors"] == 0 and row["retention"] is None


def test_recall_matches_oracle_and_floors(spark, ddb):
    emb = load_table(spark, "embeddings", SF_DIR)
    got = semdedup.semdedup_recall(emb, threshold=0.35, n_clusters=16)
    assert_df_matches_oracle(
        got, ddb, oracle.semdedup_recall_sql(threshold=0.35, n_clusters=16)
    )
    row = got.collect()[0]
    # near-random synthetic embeddings → recall near k-fold chance; the
    # floor trips if the cluster scan stops seeing its own pairs
    assert row["n_true_pairs"] > 0
    assert row["recall"] >= 0.10


def test_recall_is_one_with_single_cluster(spark):
    # one cluster = the exact scan; recall must be exactly 1
    emb = load_table(spark, "embeddings", SF_DIR)
    row = semdedup.semdedup_recall(emb, threshold=0.35, n_clusters=1).collect()[0]
    assert row["recall"] == 1.0


def test_incremental_drops_near_corpus_keeps_far(spark):
    corpus = _emb(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    new = _emb(
        spark,
        [
            (10, [2.0, 0.01]),   # near corpus 0 → dropped
            (11, [-1.0, 1.0]),   # far from both in its cluster → kept
        ],
    )
    out = {r["vec_id"] for r in semdedup.semdedup_against(
        new, corpus, threshold=0.9, n_clusters=2
    ).collect()}
    assert out == {11}


def test_incremental_is_batch_stable(spark):
    """Processing the new batch in two halves gives the same keep set as
    one batch: corpus-seeded centroids + corpus-only probes make the
    decision independent of batch composition."""
    emb = load_table(spark, "embeddings", SF_DIR)
    corpus = emb.filter("vec_id < 250")
    new = emb.filter("vec_id >= 250")
    whole = {r["vec_id"] for r in semdedup.semdedup_against(new, corpus).collect()}
    h1 = {r["vec_id"] for r in semdedup.semdedup_against(
        emb.filter("vec_id >= 250 and vec_id < 375"), corpus
    ).collect()}
    h2 = {r["vec_id"] for r in semdedup.semdedup_against(
        emb.filter("vec_id >= 375"), corpus
    ).collect()}
    assert whole == h1 | h2


def test_incremental_matches_oracle(spark, ddb):
    emb = load_table(spark, "embeddings", SF_DIR)
    got = semdedup.semdedup_against(
        emb.filter("vec_id >= 250"), emb.filter("vec_id < 250"),
        threshold=0.35, n_clusters=16,
    )
    assert_df_matches_oracle(
        got, ddb, oracle.semdedup_against_sql(split_id=250, threshold=0.35, n_clusters=16)
    )


def test_incremental_empty_corpus_keeps_everything(spark):
    """Bootstrap: the first batch ever has nothing to dedup against —
    every vector survives (cluster NULL), matching exact_dedup_against."""
    corpus = _emb(spark, []).filter("vec_id IS NOT NULL")
    new = _emb(spark, [(1, [1.0, 0.0]), (2, [1.0, 0.0])])
    out = semdedup.semdedup_against(new, corpus, threshold=0.1).collect()
    assert {r["vec_id"] for r in out} == {1, 2}
    assert all(r["cluster"] is None for r in out)


def test_refine_matches_oracle(spark, ddb):
    emb = load_table(spark, "embeddings", SF_DIR)
    assigned = semdedup.kmeans_refine(emb, iters=1)
    got = semdedup.pairs_from_assignment(assigned, threshold=0.35)
    assert_df_matches_oracle(
        got, ddb, oracle.semdedup_pairs_refined_sql(threshold=0.35)
    )


def test_refine_improves_within_cluster_cosine(spark):
    """One Lloyd step must not decrease the mean cosine to the assigned
    centroid (k-means' monotone objective), and on a fixture with real
    cluster structure offset from the seeds it strictly increases."""

    def mean_cos(assigned, cents):
        j = assigned.join(F.broadcast(cents), on="cluster")
        cos = F.when(
            (F.col("_n") == 0) | (F.col("_cn") == 0), F.lit(0.0)
        ).otherwise(
            F.aggregate(
                F.zip_with(F.col("_v"), F.col("_cv"), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / (F.col("_n") * F.col("_cn"))
        )
        return j.agg(F.avg(cos)).collect()[0][0]

    # two tight blobs, but the first two vectors (the seeds) sit at the
    # blob EDGES — the refined means move into the blob centers
    rows = [(0, [1.0, 0.3]), (1, [0.3, 1.0])]
    rows += [(i, [1.0, 0.05 * (i % 5)]) for i in range(2, 30)]
    rows += [(i, [0.05 * (i % 5), 1.0]) for i in range(30, 60)]
    emb = _emb(spark, rows)
    a0 = semdedup.assign_clusters(emb, n_clusters=2, materialize=True)
    c0 = semdedup.seed_centroids(emb, n_clusters=2)
    c1 = semdedup.refine_centroids(a0)
    a1 = semdedup.assign_clusters(emb, centroids=c1, materialize=True)
    before, after = mean_cos(a0, c0), mean_cos(a1, c1)
    assert after > before + 1e-4, (before, after)


def test_refine_vanishing_cluster(spark):
    """A seed cluster that attracts no members disappears from the
    refined centroid table — deterministically, not as NaN garbage."""
    # seeds 0 and 1 are identical: every vector ties to cluster 0
    emb = _emb(
        spark,
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.8, 0.05])],
    )
    a0 = semdedup.assign_clusters(emb, n_clusters=2, materialize=True)
    assert {r["cluster"] for r in a0.collect()} == {0}
    c1 = semdedup.refine_centroids(a0)
    assert [r["cluster"] for r in c1.collect()] == [0]
    # and the next assignment still covers every vector
    a1 = semdedup.assign_clusters(emb, centroids=c1)
    assert a1.count() == 4


def test_refine_mean_is_exact_integer_floor(spark):
    """The Lloyd mean is floor((2*su + n) / 2n) in pure long arithmetic:
    3 members at quantized units {1, 1, 2} average to floor(4/3 + 1/2
    adjustments) — pinned against hand arithmetic, including a negative
    component where truncating division would round the wrong way."""
    assigned = spark.createDataFrame(
        [
            (0, [0.000001, -0.000001], 1.0),
            (0, [0.000001, -0.000002], 1.0),
            (0, [0.000002, -0.000002], 1.0),
        ],
        "cluster int, _v array<double>, _n double",
    )
    [row] = semdedup.refine_centroids(assigned).collect()
    # dim0: su=4, n=3 -> floor((8+3)/6)=1 unit; dim1: su=-5 (floor of
    # negatives: -1,-2,-2), floor((-10+3)/6)=floor(-7/6)=-2 units
    assert row["_cv"] == [0.000001, -0.000002]


def test_auto_k_default_matches_scaled_k(spark):
    emb = load_table(spark, "embeddings", SF_DIR)
    k = semdedup.scaled_k(emb.count())
    auto = semdedup.seed_centroids(emb)  # default "auto"
    assert auto.count() == k
    explicit = semdedup.semdedup_pairs(emb, threshold=0.35, n_clusters=k)
    default = semdedup.semdedup_pairs(emb, threshold=0.35)
    assert sorted(map(tuple, default.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_cluster_balanced_sample_caps_and_singletons(spark):
    # seeds = ids 0,1 (orthogonal axes). Ids 2-9 all lie on seed 0's
    # axis -> cluster 0 has 9 members (cap floor(sqrt(9)) = 3); cluster 1
    # is the singleton seed (cap max(1, floor(sqrt(1))) = 1).
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])] + [
        (i, [float(i), 0.0]) for i in range(2, 10)
    ]
    got = semdedup.cluster_balanced_sample(_emb(spark, rows), n_clusters=2)
    by_cluster = {}
    for r in got.collect():
        by_cluster.setdefault(r.cluster, []).append(r)
    assert len(by_cluster[0]) == 3 and all(r.cap == 3 for r in by_cluster[0])
    assert len(by_cluster[1]) == 1 and by_cluster[1][0].cap == 1
    # every kept row is within its cap and ranks are 1..cap
    assert sorted(r.rank for r in by_cluster[0]) == [1, 2, 3]
    # all cluster-0 vectors are colinear with the centroid (cosine 1.0),
    # so the id tiebreak decides: the three lowest ids win
    assert sorted(r.vec_id for r in by_cluster[0]) == [0, 2, 3]


def test_threshold_sweep_monotone_and_matches_stats(spark):
    emb = load_table(spark, "embeddings", SF_DIR)
    sweep = {
        r.threshold: r
        for r in semdedup.semdedup_threshold_sweep(
            emb, thresholds=(0.35, 0.6, 0.8), n_clusters=16
        ).collect()
    }
    # dropping is monotone non-increasing in the threshold
    assert sweep[0.35].n_dropped >= sweep[0.6].n_dropped >= sweep[0.8].n_dropped
    assert sweep[0.35].retention <= sweep[0.6].retention <= sweep[0.8].retention
    # each row equals an independent semdedup_stats run at that threshold
    for t in (0.35, 0.8):
        ref = semdedup.semdedup_stats(emb, threshold=t, n_clusters=16).collect()[0]
        assert sweep[t].n_dup_pairs == ref.n_dup_pairs
        assert sweep[t].n_dropped == ref.n_dropped
        assert sweep[t].retention == ref.retention
