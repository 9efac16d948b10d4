"""ANN recall quantification (round-6): the approximate paths must state
and keep a measured recall floor against brute-force ground truth, so a
silently degrading ANN shows up as a red test, not a hunch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llm_training_data_pipeline_spark.operators.similarity import (
    RECALL_REPORT_METHODS,
    ann_lsh_topk,
    ann_recall,
    brute_force_topk,
)
from llm_training_data_pipeline_spark.schemas import load_table
from tests.conftest import SF_DIR

# Floors hold at both sf0.001 and sf0.01 (the report is fully seeded, so
# per-sf values are deterministic: p4_t8 measures 0.69 / 0.66). The synthetic embeddings are near-random (neighbor
# angles ~80°) — real embedding corpora cluster far tighter and recall
# runs much higher at the same config.
FLOORS = {
    "lsh_p4_t1": 0.10,
    "lsh_p4_t8": 0.50,
    "lsh_p6_t4": 0.10,
}


@pytest.fixture(scope="module")
def recall_by_method(spark):
    emb = load_table(spark, "embeddings", SF_DIR)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=10).select("q_id", "vec_id")
    out = {}
    for method, num_planes, num_tables in RECALL_REPORT_METHODS:
        approx = ann_lsh_topk(
            emb, queries, k=10, num_planes=num_planes, num_tables=num_tables
        ).select("q_id", "vec_id")
        out[method] = ann_recall(exact, approx).collect()[0]
    return out


def test_lsh_recall_floors(recall_by_method):
    for method, floor in FLOORS.items():
        assert recall_by_method[method]["recall"] >= floor, (
            method,
            recall_by_method[method]["recall"],
        )


def test_or_amplification_raises_recall(recall_by_method):
    """More tables at fixed planes must strictly help on this data."""
    assert (
        recall_by_method["lsh_p4_t8"]["recall"]
        > recall_by_method["lsh_p4_t1"]["recall"]
    )
    assert (
        recall_by_method["lsh_p6_t4"]["recall"]
        > recall_by_method["lsh_p6_t1"]["recall"]
    )


def test_multi_table_candidates_deduped(spark):
    """A pair colliding in several tables must appear once in the ranked
    output (DISTINCT on the identical rounded score)."""
    emb = load_table(spark, "embeddings", SF_DIR)
    queries = emb.filter(F.col("vec_id") < 10)
    res = ann_lsh_topk(emb, queries, k=10, num_planes=4, num_tables=8)
    n = res.count()
    n_distinct = res.select("q_id", "vec_id").distinct().count()
    assert n == n_distinct


def test_single_table_unchanged_by_extension(spark):
    """num_tables=1 must reproduce the r5 single-table results exactly
    (table 0 seed == seed) — the oracle-paired ann_lsh_topk query relies
    on this."""
    emb = load_table(spark, "embeddings", SF_DIR)
    queries = emb.filter(F.col("vec_id") < 10)
    a = ann_lsh_topk(emb, queries, k=5)
    b = ann_lsh_topk(emb, queries, k=5, num_tables=1)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_embedding_pairs_multi_table_superset(spark):
    """OR-amplified (t=4) candidate pairs must be a superset of the
    single-table pairs at the same planes/seed, with no duplicate rows."""
    from llm_training_data_pipeline_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    one = embedding_near_dup_pairs(emb, threshold=0.3, num_tables=1)
    four = embedding_near_dup_pairs(emb, threshold=0.3, num_tables=4)
    p1 = {(r["id_a"], r["id_b"]) for r in one.collect()}
    rows4 = four.collect()
    p4 = {(r["id_a"], r["id_b"]) for r in rows4}
    assert p1 <= p4
    assert len(rows4) == len(p4), "multi-table emitted duplicate pairs"
    assert len(p4) > len(p1), "amplification found no extra pairs at t=4"


def test_hard_negatives_ceiling_binds(spark):
    """The near-duplicate ceiling excludes the look-alike from the
    negative slots; everything returned scores below it, ranked desc."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        hard_negatives,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),          # query
        (1, [0.999, 0.04, 0.0, 0.0]),       # near-dup (cos ~0.999)
        (2, [0.7, 0.7, 0.0, 0.0]),          # hard negative (cos ~0.707)
        (3, [0.0, 1.0, 0.0, 0.0]),          # orthogonal
        (4, [-1.0, 0.0, 0.0, 0.0]),         # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id = 0")
    neg = hard_negatives(df, q, k=2, dup_ceiling=0.95).collect()
    got = [(r["rank"], r["vec_id"]) for r in sorted(neg, key=lambda r: r["rank"])]
    assert got == [(1, 2), (2, 3)], got  # near-dup 1 excluded, 2 then 3
    assert all(r["cosine"] < 0.95 for r in neg)
    # sanity: without the ceiling the near-dup would head the list
    top = brute_force_topk(df, q, k=1).collect()[0]
    assert top["vec_id"] == 1 and top["cosine"] >= 0.95


def test_ivf_seeded_full_probe_equals_brute_force(spark):
    """ivf_topk_seeded with n_probe == n_clusters scores every list, so
    it must equal brute_force_topk EXACTLY (same rounding, same
    tiebreak) — the IVF plumbing adds no approximation of its own."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_seeded,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    q = emb.filter(F.col("vec_id") < 6)
    ivf = ivf_topk_seeded(emb, q, k=4, n_clusters=8, n_probe=8)
    bf = brute_force_topk(emb, q, k=4)
    got = sorted(map(tuple, ivf.collect()))
    want = sorted(map(tuple, bf.collect()))
    assert got == want


def test_ivf_seeded_recall_reasonable_at_partial_probe(spark):
    """Partial probing keeps most of the exact top-k (same corpus/fixture
    discipline as test_ivf_recall_floor)."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_seeded,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    q = emb.filter(F.col("vec_id") < 10)
    ivf = ivf_topk_seeded(emb, q, k=5, n_clusters=16, n_probe=3)
    bf = brute_force_topk(emb, q, k=5)
    truth = {(r["q_id"], r["vec_id"]) for r in bf.collect()}
    got = {(r["q_id"], r["vec_id"]) for r in ivf.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, recall


def test_pq_seed_vectors_encode_to_own_code(spark):
    """A codebook seed's sub-vectors are distance-0 to themselves, so
    the first-ks vectors must encode to their own code in EVERY
    subspace — the identity that pins slicing, argmin, and the
    (d2, code) tiebreak all at once."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        pq_encode_rows,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    rows = (
        pq_encode_rows(emb, m=8, ks=16)
        .filter(F.col("vec_id") < 16)
        .collect()
    )
    assert len(rows) == 16 * 8
    # seed code == rank of vec_id among the first 16 (ids are dense here)
    ids = sorted({r["vec_id"] for r in rows})
    rank = {v: i for i, v in enumerate(ids)}
    for r in rows:
        assert r["code"] == rank[r["vec_id"]], r


def test_pq_codes_matches_row_form(spark):
    from llm_training_data_pipeline_spark.operators.similarity import (
        pq_codes,
        pq_encode_rows,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    rows = {
        (r["vec_id"], r["sub"]): r["code"]
        for r in pq_encode_rows(emb, m=8, ks=16).collect()
    }
    for r in pq_codes(emb, m=8, ks=16).collect():
        assert len(r["codes"]) == 8
        for sub, code in enumerate(r["codes"]):
            assert rows[(r["vec_id"], sub)] == code


def test_pq_topk_recall_floor_and_determinism(spark):
    """PQ/ADC recall@10 vs brute force on the near-random synthetic
    embeddings (neighbor angles ~80deg; real corpora cluster far
    tighter): measured 0.31 at sf0.001 — floor 0.25. Two runs must be
    identical (seeded codebook, integer distance units)."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        pq_topk,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=10).select("q_id", "vec_id")
    a = pq_topk(emb, queries, k=10, m=8, ks=16)
    b = pq_topk(emb, queries, k=10, m=8, ks=16)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    row = ann_recall(exact, a.select("q_id", "vec_id")).collect()[0]
    assert row["expected"] == 100
    assert row["recall"] >= 0.25, row["recall"]
    # every query returns exactly k candidates, self excluded
    per_q = a.groupBy("q_id").count().collect()
    assert all(r["count"] == 10 for r in per_q)
    assert a.filter(F.col("q_id") == F.col("vec_id")).count() == 0


def test_ivfpq_recall_and_pq_consistency(spark):
    """IVFPQ = PQ/ADC restricted to the probed lists: full probe
    (n_probe == n_clusters) must equal pq_topk EXACTLY (same codebook,
    same integer units — the list routing adds no approximation of its
    own); partial probe keeps a sane recall floor vs brute force."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        ivfpq_topk,
        pq_topk,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    queries = emb.filter(F.col("vec_id") < 10)
    full = ivfpq_topk(emb, queries, k=10, n_clusters=8, n_probe=8)
    flat = pq_topk(emb, queries, k=10)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, flat.collect()))
    exact = brute_force_topk(emb, queries, k=10).select("q_id", "vec_id")
    part = ivfpq_topk(emb, queries, k=10, n_clusters=8, n_probe=3)
    row = ann_recall(exact, part.select("q_id", "vec_id")).collect()[0]
    # double approximation (list routing x PQ codes) on near-random
    # vectors: measured 0.31 at sf0.001 — floor 0.2
    assert row["recall"] >= 0.2, row["recall"]


def test_ivfpq_residual_wins_on_clustered_loses_on_random(spark):
    """by_residual is a LEVER, not a free win (the FAISS guidance,
    measured here): on a genuinely clustered fixture the
    cluster-conditioned codes beat raw codes; on the near-random
    testdata embeddings they lose. Both directions pinned so a future
    'simplification' can't silently flip the default."""
    import hashlib

    from llm_training_data_pipeline_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        ivfpq_topk,
    )

    def noise(i, j):
        b = hashlib.md5(f"{i}:{j}".encode()).digest()
        return (b[0] / 255.0 - 0.5) * 0.1

    dim = 16
    centers = [[(1.0 if d % 4 == c else 0.1) for d in range(dim)] for c in range(4)]
    clustered = spark.createDataFrame(
        [(i, [centers[i % 4][d] + noise(i, d) for d in range(dim)])
         for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    q = clustered.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(clustered, q, k=10).select("q_id", "vec_id")

    def recall(br):
        part = ivfpq_topk(
            clustered, q, k=10, n_clusters=4, n_probe=1, m=4, ks=8,
            by_residual=br,
        )
        return ann_recall(exact, part.select("q_id", "vec_id")).collect()[0][
            "recall"
        ]

    plain, resid = recall(False), recall(True)
    assert resid > plain, (resid, plain)  # measured 0.54 vs 0.44
    assert resid >= 0.5

    rnd = load_table(spark, "embeddings", SF_DIR)
    qr = rnd.filter(F.col("vec_id") < 10)
    exact_r = brute_force_topk(rnd, qr, k=10).select("q_id", "vec_id")
    pr = ivfpq_topk(rnd, qr, k=10, n_clusters=8, n_probe=3)
    rr = ivfpq_topk(rnd, qr, k=10, n_clusters=8, n_probe=3, by_residual=True)
    p_rec = ann_recall(exact_r, pr.select("q_id", "vec_id")).collect()[0]["recall"]
    r_rec = ann_recall(exact_r, rr.select("q_id", "vec_id")).collect()[0]["recall"]
    assert p_rec > r_rec, (p_rec, r_rec)  # measured 0.31 vs 0.21


def test_pq_topk_plan_broadcasts_query_tables(spark):
    """The ADC scan side is the m-byte code index; the per-query
    distance tables must arrive by BROADCAST (nested-loop on the
    self-exclusion predicate), never by shuffling the code index — the
    plan property that makes PQ the RAM-resident 100-TB path."""
    from llm_training_data_pipeline_spark.operators.similarity import pq_topk

    emb = load_table(spark, "embeddings", SF_DIR)
    q = emb.filter(F.col("vec_id") < 3)
    df = pq_topk(emb, q, k=5)
    df.count()  # force execution so AQE finalizes the plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_plan_joins_lists_by_cluster(spark):
    """IVFPQ's candidate restriction is an equi-join on the cluster id
    with the probe side broadcast — the index is never shuffled and
    never cartesian-expanded."""
    from llm_training_data_pipeline_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, "embeddings", SF_DIR)
    q = emb.filter(F.col("vec_id") < 3)
    df = ivfpq_topk(emb, q, k=5, n_clusters=8, n_probe=2)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_pq_bucket_dedup_groups_identical_and_near_identical(spark):
    """Exact duplicates always share a PQ cell; a tiny perturbation
    (within quantization resolution) still does; a genuinely different
    vector does not. Counts follow the min-id-winner arithmetic."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        pq_bucket_dedup_stats,
    )

    base = [float(d % 7) / 7.0 for d in range(16)]
    near = [x + 0.001 for x in base]
    other = [float((d * 3) % 5) - 2.0 for d in range(16)]
    rows = (
        [(i, [float(v + i) for v in base]) for i in range(16)]  # seeds
        + [(100, base), (101, list(base)), (102, near), (103, other)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    row = pq_bucket_dedup_stats(df, m=4, ks=16).collect()[0]
    assert row["n_vectors"] == 20
    assert row["removable"] >= 2  # 101 and 102 collapse onto 100's cell
    assert row["n_buckets"] < 20
    assert row["removable_ppm"] == row["removable"] * 1_000_000 // 20


def test_pq_refined_codebook_recall_not_worse(spark):
    """VERDICT r9 #4: one exact-integer Lloyd step over the seeded
    codebook must not LOSE recall@10 vs the seeded baseline — pinned on
    both the clustered fixture (0.44 -> 0.45 measured) and the
    near-random testdata (0.31 -> 0.34 measured), so the refine path
    can't silently regress into a recall downgrade."""
    import hashlib

    from llm_training_data_pipeline_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        pq_codebook_refine,
        pq_topk,
    )

    def noise(i, j):
        b = hashlib.md5(f"{i}:{j}".encode()).digest()
        return (b[0] / 255.0 - 0.5) * 0.1

    dim = 16
    centers = [[(1.0 if d % 4 == c else 0.1) for d in range(dim)] for c in range(4)]
    clustered = spark.createDataFrame(
        [(i, [centers[i % 4][d] + noise(i, d) for d in range(dim)])
         for i in range(200)],
        "vec_id long, embedding array<double>",
    )

    def rec(corpus, qn, m, ks, cb):
        q = corpus.filter(F.col("vec_id") < qn)
        exact = brute_force_topk(corpus, q, k=10).select("q_id", "vec_id")
        a = pq_topk(corpus, q, k=10, m=m, ks=ks, codebook=cb)
        return ann_recall(exact, a.select("q_id", "vec_id")).collect()[0][
            "recall"
        ]

    seeded_c = rec(clustered, 10, 4, 8, None)
    refined_c = rec(
        clustered, 10, 4, 8, pq_codebook_refine(clustered, m=4, ks=8, iters=1)
    )
    assert refined_c >= seeded_c, (refined_c, seeded_c)

    rnd = load_table(spark, "embeddings", SF_DIR)
    seeded_r = rec(rnd, 10, 8, 16, None)
    refined_r = rec(
        rnd, 10, 8, 16, pq_codebook_refine(rnd, m=8, ks=16, iters=1)
    )
    assert refined_r >= seeded_r, (refined_r, seeded_r)
    assert refined_r >= 0.25


def test_pq_refined_codebook_keeps_shape(spark):
    """Refinement must return EXACTLY m x ks contiguous (sub, code) rows
    (empty cells keep their seed centroid) — the ADC lookup indexes by
    sub*c + code and a vanished code would shift every later subspace's
    entries."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        pq_codebook_refine,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    cb = pq_codebook_refine(emb, m=8, ks=16, iters=1)
    rows = cb.collect()
    assert len(rows) == 8 * 16
    assert {(r["sub"], r["code"]) for r in rows} == {
        (s, c) for s in range(8) for c in range(16)
    }


def test_pq_topk_small_corpus_stride_exact(spark):
    """ADVICE r9: with fewer corpus vectors than ks the codebook has
    fewer codes per subspace — the ADC stride must derive from the
    ACTUAL codebook size, verified here against a brute-force python
    replay of the table lookups."""
    import hashlib
    import math

    from llm_training_data_pipeline_spark.operators.similarity import (
        pq_codebook,
        pq_codes,
        pq_topk,
    )

    def comp(i, j):
        b = hashlib.md5(f"v{i}:{j}".encode()).digest()
        return b[0] / 255.0 - 0.5

    m, ks, dim = 4, 8, 16
    tiny = spark.createDataFrame(
        [(i, [comp(i, d) for d in range(dim)]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    tq = tiny.filter(F.col("vec_id") < 2)
    got: dict[int, list] = {}
    for r in pq_topk(tiny, tq, k=3, m=m, ks=ks).collect():
        got.setdefault(r["q_id"], []).append((r["rank"], r["vec_id"], r["adist_units"]))

    sd = dim // m
    cbmap = {
        (r["sub"], r["code"]): r["cent"]
        for r in pq_codebook(tiny, m=m, ks=ks).collect()
    }
    codes = {
        r["vec_id"]: r["codes"]
        for r in pq_codes(tiny, None, m=m, ks=ks).collect()
    }
    for r in tq.collect():
        qid, qv = r["vec_id"], r["embedding"]
        tab = {
            (sub, code): math.floor(
                sum(
                    (a - b) * (a - b)
                    for a, b in zip(qv[sub * sd:(sub + 1) * sd], cent)
                )
                * 1e8
            )
            for (sub, code), cent in cbmap.items()
        }
        exp = sorted(
            (sum(tab[(j, cds[j])] for j in range(m)), vid)
            for vid, cds in codes.items()
            if vid != qid
        )[:3]
        assert sorted(got[qid]) == [
            (i + 1, vid, du) for i, (du, vid) in enumerate(exp)
        ], qid


def test_pq_topk_codes_without_codebook_raises(spark):
    """A precomputed codes index without its codebook would silently
    score against freshly seeded centroids — must raise instead."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        pq_codes,
        pq_topk,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    q = emb.filter(F.col("vec_id") < 2)
    codes = pq_codes(emb, None, m=8, ks=16)
    with pytest.raises(ValueError, match="codebook"):
        pq_topk(emb, q, k=3, m=8, ks=16, codes=codes)


def test_ivfpq_accepts_refined_codebook(spark):
    """ADVICE r9 follow-through: ivfpq_topk accepts an external codebook
    (refined in RAW space when by_residual=False); full probe with the
    refined codebook must equal pq_topk with the same codebook exactly
    — the list routing still adds no approximation of its own."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        ivfpq_topk,
        pq_codebook_refine,
        pq_topk,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    q = emb.filter(F.col("vec_id") < 5)
    cb = pq_codebook_refine(emb, m=8, ks=16, iters=1)
    full = ivfpq_topk(
        emb, q, k=10, n_clusters=8, n_probe=8, codebook=cb
    )
    flat = pq_topk(emb, q, k=10, m=8, ks=16, codebook=cb)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, flat.collect())
    )


def test_pq_encode_expr_matches_batch_encode(spark):
    """The row-local literal-codebook encoder (the stateless streaming
    path) must produce the SAME codes as the broadcast-join batch
    encoder — same fold order, same smaller-code tiebreak."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        collect_pq_codebook,
        pq_codebook,
        pq_codes,
        pq_encode_expr,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    cb = pq_codebook(emb, m=8, ks=16)
    lit_cb = collect_pq_codebook(cb)
    assert len(lit_cb) == 8 and all(len(s) == 16 for s in lit_cb)
    expr_codes = {
        r["vec_id"]: list(r["codes"])
        for r in emb.select(
            "vec_id",
            pq_encode_expr(
                F.transform("embedding", lambda x: x.cast("double")),
                lit_cb,
            ).alias("codes"),
        ).collect()
    }
    batch_codes = {
        r["vec_id"]: list(r["codes"])
        for r in pq_codes(emb, cb, m=8, ks=16).collect()
    }
    assert expr_codes == batch_codes


def test_pq_encode_expr_streams_stateless(spark, tmp_path):
    """pq_encode_expr over readStream: append mode, no state store, and
    the streamed codes equal the batch codes — the streaming ANN index
    build."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        collect_pq_codebook,
        pq_codebook,
        pq_codes,
        pq_encode_expr,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    src = str(tmp_path / "src")
    emb.repartition(4).write.parquet(src)
    cb = pq_codebook(emb, m=8, ks=16)
    lit_cb = collect_pq_codebook(cb)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream.select(
        "vec_id",
        pq_encode_expr(
            F.transform("embedding", lambda x: x.cast("double")), lit_cb
        ).alias("codes"),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("pq_stream_codes")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["vec_id"]: list(r["codes"])
        for r in spark.table("pq_stream_codes").collect()
    }
    want = {
        r["vec_id"]: list(r["codes"])
        for r in pq_codes(emb, cb, m=8, ks=16).collect()
    }
    assert got == want


def test_hybrid_rrf_ivfpq_leg_contract(spark):
    """dense='ivfpq': the vec leg's ranks must be exactly ivfpq_topk's
    ranks (the leg is substituted, not re-derived), the fused frame
    keeps the brute variant's schema and k rows, and a bad `dense`
    raises eagerly. (Full-probe ivfpq == pq_topk is pinned separately;
    PQ is lossy vs brute, so set equality with the brute leg is NOT the
    contract.)"""
    from llm_training_data_pipeline_spark.operators.similarity import (
        hybrid_rrf_topk,
        ivfpq_topk,
    )

    docs = load_table(spark, "documents", SF_DIR)
    emb = load_table(spark, "embeddings", SF_DIR)
    terms = ("vector", "stream", "window")
    brute = hybrid_rrf_topk(docs, emb, list(terms), query_id=0, k=5, k_each=10)
    ann = hybrid_rrf_topk(
        docs, emb, list(terms), query_id=0, k=5, k_each=10,
        dense="ivfpq", n_clusters=8, n_probe=8,
    )
    b, a = brute.collect(), ann.collect()
    assert len(a) == len(b) == 5
    assert brute.columns == ann.columns
    # the vec leg IS ivfpq_topk's ranking, rank for rank
    qs = emb.filter(F.col("vec_id") == 0)
    leg = {
        r["vec_id"]: r["rank"]
        for r in ivfpq_topk(
            emb, qs, k=10, n_clusters=8, n_probe=8
        ).collect()
    }
    fused_vec = {
        r["doc_id"]: r["vec_rank"] for r in a if r["vec_rank"] is not None
    }
    assert fused_vec, "ivfpq leg contributed no candidates"
    for doc, vr in fused_vec.items():
        assert leg.get(doc) == vr, (doc, vr, leg.get(doc))
    with pytest.raises(ValueError, match="dense"):
        hybrid_rrf_topk(docs, emb, list(terms), dense="nope")


def test_collect_pq_codebook_rejects_malformed(spark):
    """ADVICE r10: a dropped subspace or ragged per-subspace code counts
    must raise a descriptive ValueError here, not an opaque IndexError
    inside pq_encode_expr or a silently wrong ADC stride."""
    import pytest as _pytest

    from llm_training_data_pipeline_spark.operators.similarity import (
        collect_pq_codebook,
    )

    def frame(rows):
        return spark.createDataFrame(
            rows, "sub int, code int, cent array<double>"
        )

    # missing subspace 1 of m=3
    with _pytest.raises(ValueError, match="missing subspaces"):
        collect_pq_codebook(
            frame([(0, 0, [0.0]), (2, 0, [0.0])])
        )
    # unequal code counts across subspaces
    with _pytest.raises(ValueError, match="unequal code counts"):
        collect_pq_codebook(
            frame([(0, 0, [0.0]), (0, 1, [1.0]), (1, 0, [0.0])])
        )
    # mixed centroid dimensions
    with _pytest.raises(ValueError, match="mixed dimensions"):
        collect_pq_codebook(
            frame([(0, 0, [0.0]), (1, 0, [0.0, 1.0])])
        )
    # empty frame
    with _pytest.raises(ValueError, match="empty"):
        collect_pq_codebook(frame([]))
    # well-formed passes
    out = collect_pq_codebook(
        frame([(0, 0, [0.0]), (0, 1, [1.0]), (1, 0, [2.0]), (1, 1, [3.0])])
    )
    assert out == [[[0.0], [1.0]], [[2.0], [3.0]]]


def test_pq_topk_rerank_full_shortlist_is_exact(spark):
    """Exact rerank over the FULL corpus shortlist is exact nearest
    neighbours: recall@10 vs the cosine ground truth is 1.0 (vectors
    are unit-norm, so L2 and cosine rank identically)."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        pq_topk,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    q = emb.filter(F.col("vec_id") < 5)
    n = emb.count()
    gt = brute_force_topk(emb, q, k=10).select("q_id", "vec_id")
    approx = pq_topk(emb, q, k=10, m=8, ks=16, rerank=n - 1)
    row = ann_recall(gt, approx.select("q_id", "vec_id")).collect()[0]
    assert row["recall"] == 1.0


def test_pq_topk_rerank_beats_bare_adc(spark):
    """The shipped-default shape (seeded m=16/ks=256 + 5*k rerank) must
    clear the recall floor the bare ADC scan misses — the r10 weak mark
    (recall@10 >= 0.7; measured 0.99 on this fixture)."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        pq_topk,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    q = emb.filter(F.col("vec_id") < 10)
    gt = brute_force_topk(emb, q, k=10).select("q_id", "vec_id").localCheckpoint(eager=True)
    bare = pq_topk(emb, q, k=10, m=8, ks=16)
    rr = pq_topk(emb, q, k=10, m=16, ks=256, rerank=50)
    r_bare = ann_recall(gt, bare.select("q_id", "vec_id")).collect()[0]["recall"]
    r_rr = ann_recall(gt, rr.select("q_id", "vec_id")).collect()[0]["recall"]
    assert r_rr >= 0.7, r_rr
    assert r_rr > r_bare


def test_pq_topk_rerank_validates_shortlist(spark):
    import pytest as _pytest

    from llm_training_data_pipeline_spark.operators.similarity import pq_topk

    emb = load_table(spark, "embeddings", SF_DIR)
    q = emb.filter(F.col("vec_id") < 3)
    with _pytest.raises(ValueError, match="rerank"):
        pq_topk(emb, q, k=10, rerank=5).collect()


def test_ivfpq_rerank_full_probe_equals_pq_rerank(spark):
    """Full-probe IVFPQ sees every candidate with the same global
    codebook, so its ADC shortlist — and therefore the exact rerank —
    must equal pq_topk's row for row."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        ivfpq_topk,
        pq_topk,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    q = emb.filter(F.col("vec_id") < 5)
    full = ivfpq_topk(
        emb, q, k=10, n_clusters=8, n_probe=8, m=8, ks=16, rerank=30
    )
    flat = pq_topk(emb, q, k=10, m=8, ks=16, rerank=30)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, flat.collect())
    )


def test_pq_recall_curve_values(spark):
    """The sizing table itself: monotone recall in the rerank direction
    per (m, ks), the shipped default >= 0.7, and code_bytes reporting
    the index cost."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        pq_recall_curve,
    )

    emb = load_table(spark, "embeddings", SF_DIR)
    q = emb.filter(F.col("vec_id") < 10)
    gt = brute_force_topk(emb, q, k=10).select("q_id", "vec_id").localCheckpoint(eager=True)
    configs = [(8, 16, 0, 0), (8, 16, 0, 50), (16, 256, 0, 50)]
    rows = {
        r["method"]: r
        for r in pq_recall_curve(emb, q, gt, k=10, configs=configs).collect()
    }
    assert rows["pq_m8_ks16_r0_rr50"]["recall"] > rows["pq_m8_ks16_r0"]["recall"]
    assert rows["pq_m16_ks256_r0_rr50"]["recall"] >= 0.7
    assert rows["pq_m8_ks16_r0"]["code_bytes"] == 8
    assert rows["pq_m16_ks256_r0_rr50"]["code_bytes"] == 16
    for r in rows.values():
        assert r["expected"] == 100
