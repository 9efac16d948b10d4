"""Dedup tests — reference pins (FIXTURES.md §A3) + oracle parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llm_training_data_pipeline_spark.operators.dedup import (
    MinHashConfig,
    embedding_near_dup_pairs,
    exact_dedup,
    exact_dedup_stats,
    media_exact_dedup,
    minhash_dedup,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    semi_join_keep,
    simhash_dedup,
    simhash_near_dup_pairs,
)

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog."),
    (2, "The quick brown fox jumps over the lazy dog."),
    (4, "Python is a great programming language."),
    (6, "Machine learning is transforming technology."),
]


def _df(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_4_to_3(spark):
    """Pinned reference assertion: batch {1,2,4,6} → 3 unique
    (/root/reference/tests/test_pipeline.py:89-104)."""
    out = exact_dedup(_df(spark)).select("doc_id").collect()
    ids = sorted(r[0] for r in out)
    assert ids == [1, 4, 6]  # min-id winner: 1 beats 2


def test_exact_dedup_case_insensitive(spark):
    """'Hello world' vs 'Hello World' collide (deduplicator.py:299-304)."""
    df = _df(spark, [(1, "Hello world"), (2, "Hello World")])
    assert [r[0] for r in exact_dedup(df).select("doc_id").collect()] == [1]


def test_exact_dedup_stats(spark):
    row = exact_dedup_stats(_df(spark)).collect()[0]
    assert row["total_documents"] == 4
    assert row["unique_documents"] == 3
    assert row["duplicate_documents"] == 1
    assert row["duplicate_clusters"] == 1


def test_media_exact_dedup_min_id_winner(spark):
    assets = spark.createDataFrame(
        [
            (3, bytearray(b"\x00\x01\x02")),
            (1, bytearray(b"\x00\x01\x02")),  # dup bytes — lower id wins
            (2, bytearray(b"\xff")),
            (4, bytearray(b"")),
        ],
        "asset_id long, payload binary",
    )
    got = {r["asset_id"]: (r["digest"], r["n_bytes"])
           for r in media_exact_dedup(assets).collect()}
    assert set(got) == {1, 2, 4}
    assert got[1][1] == 3 and got[4][1] == 0


def test_semi_join_keep(spark):
    df = _df(spark)
    keep = exact_dedup(df).select("doc_id")
    out = semi_join_keep(df, keep)
    assert out.count() == 3


def test_minhash_exact_dup_always_caught(spark):
    out = minhash_dedup(_df(spark))
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert ids == [1, 4, 6]


def test_minhash_near_dup_low_threshold(spark):
    rows = DOCS + [
        (3, "The quick brown fox leaps over the lazy dog."),
        (5, "Python is an excellent programming language."),
        (7, "Completely unrelated sentence about astronomy and galaxies far away."),
    ]
    cfg = MinHashConfig(num_perm=128, threshold=0.5, shingle_size=3, num_bands=32)
    pairs = minhash_candidate_pairs(_df(spark, rows), cfg=cfg)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup
    assert (1, 3) in got  # near dup at permissive threshold
    assert all(7 not in p for p in got)  # unrelated never matches


def test_minhash_far_docs_not_matched(spark):
    cfg = MinHashConfig(num_perm=64, threshold=0.8, shingle_size=5, num_bands=16)
    pairs = minhash_candidate_pairs(_df(spark), cfg=cfg).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(1, 2)}


def test_simhash_exact_and_near(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "the quick brown fox jumps over the lazy cat today"),
        (9, "totally different words about spacecraft navigation systems engineering"),
    ]
    # Every 16-bit chunk match is also two 8-bit chunk matches, so 8 bands
    # find a superset of 4 bands' pairs; on this fixture the sets agree.
    by_bands = {}
    for num_bands in (4, 8):
        pairs = simhash_near_dup_pairs(
            _df(spark, rows), max_hamming=12, num_bands=num_bands
        )
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
        assert got.get((1, 2)) == 0
        assert (1, 3) in got and got[(1, 3)] <= 12
        by_bands[num_bands] = got
    assert by_bands[8] == by_bands[4]
    out = simhash_dedup(_df(spark, rows), max_hamming=12)
    assert sorted(r["doc_id"] for r in out.select("doc_id").collect()) == [1, 9]


def test_ngram_jaccard_matches_oracle(spark, ddb):
    from tests.conftest import SF_DIR, assert_df_matches_oracle
    from llm_training_data_pipeline_spark.plans.oracle import ngram_jaccard_sql

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = ngram_jaccard_pairs(docs, block_col="source", n=2, threshold=0.3)
    assert_df_matches_oracle(out, ddb, ngram_jaccard_sql(n=2, threshold=0.3))


def test_ngram_jaccard_lsh_matches_oracle_and_blocked_subset(spark, ddb):
    """Default (unblocked) path: MinHash-band candidates + exact verify.
    Value-checked against the DuckDB replay; every emitted pair must
    carry the same exact Jaccard the all-pairs form would compute."""
    from tests.conftest import SF_DIR, assert_df_matches_oracle
    from llm_training_data_pipeline_spark.operators.dedup import MinHashConfig
    from llm_training_data_pipeline_spark.plans.oracle import ngram_jaccard_lsh_sql

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cfg = MinHashConfig(
        num_perm=16, threshold=0.5, shingle_size=5, num_bands=4, hash_family="md5"
    )
    out = ngram_jaccard_pairs(docs, n=2, threshold=0.3, cfg=cfg)
    assert_df_matches_oracle(out, ddb, ngram_jaccard_lsh_sql(n=2, threshold=0.3))


def test_ngram_jaccard_default_plan_has_no_block_self_join(spark):
    """The default plan joins on LSH band buckets, never a block column
    self-join or cartesian product."""
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = ngram_jaccard_pairs(docs, n=2, threshold=0.3)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "bucket" in plan


def test_embedding_near_dup_matches_oracle(spark, ddb):
    from tests.conftest import SF_DIR, assert_df_matches_oracle
    from llm_training_data_pipeline_spark.plans.oracle import embedding_near_dup_sql

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = embedding_near_dup_pairs(emb, block_col="label", threshold=0.8)
    assert_df_matches_oracle(out, ddb, embedding_near_dup_sql(threshold=0.8))


def test_embedding_ann_pairs_matches_oracle_no_cartesian(spark, ddb):
    """Default (unblocked) path: hyperplane-LSH bucket join + exact
    cosine verify — value-checked against the DuckDB replay of the same
    plane literals, and the physical plan has no CartesianProduct."""
    from tests.conftest import SF_DIR, assert_df_matches_oracle
    from llm_training_data_pipeline_spark.plans.oracle import embedding_ann_pairs_sql

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = embedding_near_dup_pairs(emb, threshold=0.3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert_df_matches_oracle(out, ddb, embedding_ann_pairs_sql(threshold=0.3))


def test_minhash_accuracy_vs_exact_jaccard_ground_truth(spark, ddb):
    """MinHash dedup vs DuckDB-computed EXACT all-pairs Jaccard on the real
    documents table: every strongly-similar pair (J >= 0.9) must be caught,
    and nothing weakly-similar (J < 0.7) may be dropped (threshold 0.8 with
    64 perms: estimator sigma ~ 0.05, so these margins are ~2 sigma)."""
    from tests.conftest import SF_DIR

    exact = ddb.execute("""
        WITH d AS (
          SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS s FROM documents
        ), g AS (
          SELECT doc_id, list_distinct(list_transform(
                   generate_series(1, length(s)-4), i -> substr(s, i, 5))) AS grams
          FROM d
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.grams, b.grams))) AS j
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.7
    """).fetchall()
    strong_losers = {b for a, b, j in exact if j >= 0.9}
    weakish = {(a, b) for a, b, j in exact}  # all pairs with J >= 0.7

    from llm_training_data_pipeline_spark.operators.dedup import MinHashConfig, minhash_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cfg = MinHashConfig(num_perm=64, threshold=0.8, shingle_size=5, num_bands=16)
    kept = {r["doc_id"] for r in minhash_dedup(docs, cfg=cfg).select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    dropped = all_ids - kept

    missed = strong_losers - dropped
    assert not missed, f"strong near-dups not caught: {missed}"
    # every dropped doc must be the larger id of SOME pair with J >= 0.7
    over_dropped = {d for d in dropped if not any(b == d for a, b in weakish)}
    assert not over_dropped, f"dropped without exact-Jaccard support: {over_dropped}"


def test_minhash_dedup_stats_single_plan(spark):
    from llm_training_data_pipeline_spark.operators.dedup import minhash_dedup_stats

    row = minhash_dedup_stats(_df(spark)).collect()[0]
    # fixture {1,2,4,6}: doc 2 is the exact dup of 1 → one loser, one
    # cluster led by winner 1; minhash_dedup keeps [1,4,6] on this fixture
    assert row["total_documents"] == row["unique_documents"] + row["duplicate_documents"]
    assert row["total_documents"] == 4
    assert row["duplicate_documents"] == 1
    assert row["duplicate_clusters"] == 1
    assert row["unique_documents"] == 3


def test_minhash_dedup_stats_no_dups(spark):
    from llm_training_data_pipeline_spark.operators.dedup import minhash_dedup_stats

    df = _df(
        spark,
        [
            (1, "Entirely unique content about astronomy and telescopes tonight."),
            (2, "A different passage concerning maritime navigation and tides."),
        ],
    )
    row = minhash_dedup_stats(df).collect()[0]
    assert row["total_documents"] == 2
    assert row["unique_documents"] == 2
    assert row["duplicate_documents"] == 0
    assert row["duplicate_clusters"] == 0


def test_dedup_clusters_transitive_chain(spark):
    from llm_training_data_pipeline_spark.operators.dedup import dedup_clusters

    # chain 1-2, 2-3, 3-4 plus island 10-11 → clusters {1,2,3,4}->1, {10,11}->10
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_clusters_direction_independent(spark):
    from llm_training_data_pipeline_spark.operators.dedup import dedup_clusters

    # edges given in "wrong" direction (big id first) must cluster the same
    pairs = spark.createDataFrame([(5, 1), (3, 5)], "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 3: 1, 5: 1}


def test_dedup_clusters_empty_pairs(spark):
    from llm_training_data_pipeline_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup_clusters(pairs).count() == 0


def test_md5_fold31_matches_reference_math(spark):
    """md5_fold31 == little-endian md5 digest bytes 8..15, mod M31 —
    the exact quantity DuckDB computes as md5_number_lower(s) % M31."""
    import hashlib

    from pyspark.sql import functions as F

    from llm_training_data_pipeline_spark.functions.hashing import (
        MERSENNE_31,
        md5_fold31,
    )

    vals = ["abc", "hello world", "日本語", ""]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", md5_fold31(F.col("s")).alias("h")).collect()
    }
    for v in vals:
        want = (
            int.from_bytes(hashlib.md5(v.encode()).digest()[8:16], "little")
            % MERSENNE_31
        )
        assert got[v] == want, v


def test_minhash_md5_family_same_dedup_behavior(spark):
    """Both hash families must catch exact duplicates; signatures differ."""
    from llm_training_data_pipeline_spark.operators.dedup import (
        MinHashConfig,
        minhash_dedup,
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 5),
            (2, "the quick brown fox jumps over the lazy dog " * 5),
            (3, "an entirely different document about orbital mechanics"),
        ],
        "doc_id long, text string",
    )
    for fam in ("xxhash64", "md5"):
        cfg = MinHashConfig(num_perm=16, num_bands=4, threshold=0.8, hash_family=fam)
        kept = sorted(r["doc_id"] for r in minhash_dedup(df, cfg=cfg).collect())
        assert kept == [1, 3], fam
    sx = minhash_signatures(df, cfg=MinHashConfig(num_perm=16, num_bands=4)).collect()
    sm = minhash_signatures(
        df, cfg=MinHashConfig(num_perm=16, num_bands=4, hash_family="md5")
    ).collect()
    assert sx[0]["minhash_sig"] != sm[0]["minhash_sig"]


def test_dedup_keep_best_prefers_high_score(spark):
    """Near-identical docs: the highest-score cluster member survives,
    regardless of id order; singleton docs pass through."""
    from llm_training_data_pipeline_spark.operators.dedup import (
        MinHashConfig,
        dedup_keep_best,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet forest towards the shining river every morning "
    ) * 3
    rows = [
        (1, base, 0.2),               # near-dup cluster, low score
        (2, base + "slight tail.", 0.9),  # same cluster, best score
        (3, base + "slight tail!", 0.5),
        (4, "completely different content about spark physical plans and "
            "shuffle exchanges in distributed query execution engines " * 3, 0.1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, score double")
    cfg = MinHashConfig(num_perm=32, threshold=0.5, num_bands=8)
    kept = sorted(
        r["doc_id"] for r in dedup_keep_best(df, "score", cfg=cfg).collect()
    )
    assert 2 in kept          # the best-quality duplicate wins
    assert 1 not in kept      # min-id alone would have kept 1
    assert 4 in kept          # non-duplicate untouched


def test_dedup_keep_best_tie_breaks_on_id(spark):
    from llm_training_data_pipeline_spark.operators.dedup import (
        MinHashConfig,
        dedup_keep_best,
    )

    text = ("identical duplicated content repeated for the minhash shingles "
            "to match exactly across copies of this document body ") * 3
    df = spark.createDataFrame(
        [(10, text, 0.7), (11, text, 0.7), (12, text, 0.7)],
        "doc_id long, text string, score double",
    )
    cfg = MinHashConfig(num_perm=32, threshold=0.5, num_bands=8)
    kept = [r["doc_id"] for r in dedup_keep_best(df, "score", cfg=cfg).collect()]
    assert kept == [10]


def test_signature_reuse_bit_identical(spark):
    """dedup_keep_best / dedup_clusters / minhash_dedup fed from a
    precomputed signature table (persisted-bucketed AND session-cached)
    must reproduce the raw-text path bit-for-bit (round-6 contract: one
    signature pass feeds every consumer at scale)."""
    import shutil

    from llm_training_data_pipeline_spark.operators.dedup import (
        MinHashConfig,
        cached_minhash_signatures,
        dedup_clusters,
        dedup_keep_best,
        minhash_bucket_stars,
        minhash_dedup,
        persist_minhash_signatures,
    )

    spark.sql("DROP TABLE IF EXISTS t_sig_reuse")
    shutil.rmtree("spark-warehouse/t_sig_reuse", ignore_errors=True)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = MinHashConfig(
        num_perm=16, threshold=0.5, shingle_size=5, num_bands=4, hash_family="md5"
    )
    persisted = persist_minhash_signatures(docs, "t_sig_reuse", cfg=cfg, num_buckets=4)
    cached = cached_minhash_signatures(docs, cfg=cfg, cache_key="sf0.001-test")
    # the cache returns the SAME materialized frame on a second call
    assert cached is cached_minhash_signatures(docs, cfg=cfg, cache_key="sf0.001-test")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    base_stars = minhash_bucket_stars(docs, cfg=cfg)
    base_clusters = rows(dedup_clusters(base_stars))
    base_keep = rows(dedup_keep_best(docs, "n_chars", cfg=cfg))
    base_dedup = rows(minhash_dedup(docs, cfg=cfg))

    for sig in (persisted, cached):
        stars = minhash_bucket_stars(docs, cfg=cfg, signatures=sig)
        assert rows(dedup_clusters(stars)) == base_clusters
        assert rows(dedup_keep_best(docs, "n_chars", cfg=cfg, signatures=sig)) == base_keep
        assert rows(minhash_dedup(docs, cfg=cfg, signatures=sig)) == base_dedup


def test_dedup_clusters_driver_path_equals_distributed(spark):
    """The size-adaptive driver union-find must produce the identical
    min-reachable-id labeling as the distributed propagation (it is an
    optimization, not an approximation) — including chains that span
    multiple pairs and isolated pairs."""
    from llm_training_data_pipeline_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 12), (20, 21), (40, 2), (2, 1), (50, 50)],
        "id_a long, id_b long",
    )
    fast = sorted(map(tuple, dedup_clusters(pairs).collect()))
    slow = sorted(
        map(tuple, dedup_clusters(pairs, driver_cc_max_edges=0).collect())
    )
    assert fast == slow
    labels = dict(fast)
    assert labels[12] == 3 and labels[5] == 3 and labels[9] == 3
    assert labels[21] == 20
    assert labels[40] == 1 and labels[2] == 1


def test_dedup_clusters_empty_pairs_both_paths(spark):
    from llm_training_data_pipeline_spark.operators.dedup import dedup_clusters

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup_clusters(empty).count() == 0
    assert dedup_clusters(empty, driver_cc_max_edges=0).count() == 0


def test_minhash_recall_matches_oracle_and_is_nonvacuous(spark, ddb):
    from llm_training_data_pipeline_spark.operators import dedup
    from llm_training_data_pipeline_spark.plans import oracle
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR, assert_df_matches_oracle

    docs = load_table(spark, "documents", SF_DIR)
    cfg = dedup.MinHashConfig(
        num_perm=16, threshold=0.5, shingle_size=5, num_bands=4, hash_family="md5"
    )
    got = dedup.minhash_recall(docs, cfg=cfg)
    assert_df_matches_oracle(
        got,
        ddb,
        oracle.minhash_recall_sql(
            num_perm=16, num_bands=4, threshold=0.5, shingle_size=5
        ),
    )
    row = got.collect()[0]
    assert row["n_true_pairs"] > 0, "fixture must contain true near-dups"
    # band stage can only lose pairs the verifier never sees
    assert row["n_emitted_caught"] <= row["n_band_caught"]


def test_minhash_recall_empty_truth_is_null(spark):
    from llm_training_data_pipeline_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "completely unique first text body"),
         (2, "nothing shared with the above at all")],
        "doc_id long, text string",
    )
    row = dedup.minhash_recall(docs).collect()[0]
    assert row["n_true_pairs"] == 0 and row["band_recall"] is None


def test_simhash_recall_matches_oracle_and_band_lossless(spark, ddb):
    from llm_training_data_pipeline_spark.operators import dedup
    from llm_training_data_pipeline_spark.plans import oracle
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR, assert_df_matches_oracle

    docs = load_table(spark, "documents", SF_DIR)
    got = dedup.simhash_recall(docs, max_hamming=3, num_bands=4, hash_family="md5")
    assert_df_matches_oracle(
        got, ddb, oracle.simhash_recall_sql(max_hamming=3, num_bands=4)
    )
    row = got.collect()[0]
    assert row["n_true_pairs"] > 0, "fixture must contain true near-dups"
    # identical docs always survive: hamming 0 <= 3
    assert row["recall"] >= 0.5


def test_prefix_dedup_collapses_tail_variants(spark):
    from llm_training_data_pipeline_spark.operators.dedup import (
        prefix_dedup,
        prefix_dedup_stats,
    )

    body = " ".join(f"w{i}" for i in range(80))  # > 256 chars of body
    docs = spark.createDataFrame(
        [
            (0, body + " original tail", "en", "s"),
            (1, body + " mirrored with a share widget footer", "en", "s"),
            (2, body.upper() + "   original tail", "en", "s"),  # case+ws only
            (3, "completely different document body", "en", "s"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    kept = prefix_dedup(docs, prefix_chars=256).collect()
    assert sorted(r.doc_id for r in kept) == [0, 3]  # min-id winner
    stats = prefix_dedup_stats(docs, prefix_chars=256).collect()[0]
    assert stats.total_docs == 4
    assert stats.distinct_prefixes == 2
    assert stats.prefix_removable == 2
    # exact dedup catches none of these (tails/case differ after the
    # prefix window... doc 2 differs from doc 0 only by case+spacing,
    # which exact_hash ALSO normalizes - but its tail spacing differs)
    assert stats.tail_variants_only == stats.prefix_removable - stats.exact_removable


def test_cc_gate_decision_pinned():
    """The driver/distributed size gate (r8 verdict #2): r9 warm-median
    re-measurement (4 runs each) shows the driver union-find wins at
    BOTH benched scales (sf0.1 1.96s vs 6.39s, sf1 3.28s vs 6.71s —
    the r8 single-run inversion was box noise), so the 2M-edge constant
    stands. Pin the decision function and the constant so a future
    change is a deliberate re-measurement, not drift."""
    from llm_training_data_pipeline_spark.operators.dedup import (
        DRIVER_CC_MAX_EDGES,
        _cc_use_driver,
    )

    assert DRIVER_CC_MAX_EDGES == 2_000_000
    # input is the symmetrized edge count (2 rows per pair)
    assert _cc_use_driver(2 * DRIVER_CC_MAX_EDGES, DRIVER_CC_MAX_EDGES)
    assert not _cc_use_driver(2 * DRIVER_CC_MAX_EDGES + 1, DRIVER_CC_MAX_EDGES)
    assert not _cc_use_driver(1, 0)  # forced-distributed override
    assert _cc_use_driver(0, 0)  # empty graph stays driver-side


def test_split_leakage_flags_cross_split_twins(spark):
    """A near-dup pair with one member in 'train' and one in 'test'
    must surface as an is_leak row; within-split pairs must not."""
    from llm_training_data_pipeline_spark.operators.dedup import (
        split_leakage_stats,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    splits = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train"), (4, "train"),
         (5, "val"), (6, "test")],
        "doc_id long, split string",
    )
    rows = {
        (r["split_lo"], r["split_hi"]): r
        for r in split_leakage_stats(pairs, splits).collect()
    }
    assert rows[("test", "train")]["is_leak"] is True
    assert rows[("test", "train")]["n_pairs"] == 1
    assert rows[("test", "train")]["n_docs"] == 2
    assert rows[("train", "train")]["is_leak"] is False
    assert rows[("test", "val")]["is_leak"] is True


def test_split_leakage_surfaces_untagged_docs(spark):
    """ADVICE r9: a pair whose doc is missing from the split table must
    appear under '(untagged)' (flagged as a leak row when the other side
    is tagged) — never silently vanish from the leakage audit."""
    from llm_training_data_pipeline_spark.operators.dedup import (
        split_leakage_stats,
    )

    pairs = spark.createDataFrame([(1, 2), (3, 9)], "id_a long, id_b long")
    splits = spark.createDataFrame(
        [(1, "train"), (2, "train"), (3, "test")], "doc_id long, split string"
    )
    rows = {
        (r["split_lo"], r["split_hi"]): r
        for r in split_leakage_stats(pairs, splits).collect()
    }
    assert ("(untagged)", "test") in rows, rows
    assert rows[("(untagged)", "test")]["n_pairs"] == 1
    assert rows[("(untagged)", "test")]["is_leak"] is True
    assert rows[("train", "train")]["n_pairs"] == 1
    # total pairs conserved: nothing dropped
    assert sum(r["n_pairs"] for r in rows.values()) == 2


def test_band_bucket_cap_bounds_hot_bucket(spark):
    """VERDICT r10 #2: a bucket fatter than the cap keeps exactly its
    ``cap`` smallest ids; pair volume from a verbatim-duplicate cluster
    collapses from C(n,2) to C(cap,2)."""
    from llm_training_data_pipeline_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_band_candidates,
        minhash_signatures,
    )

    n_dup, cap = 30, 8
    rows = [(i, "boilerplate cookie banner accept terms and conditions page")
            for i in range(n_dup)]
    rows += [(100 + i, f"genuinely unique document number {i} about topic {i * 7}")
             for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = MinHashConfig(num_perm=16, threshold=0.5, shingle_size=5, num_bands=4)
    sig = minhash_signatures(df, cfg=cfg).localCheckpoint(eager=True)

    banded = minhash_band_buckets(sig, cfg=cfg, max_bucket_size=cap)
    per_bucket = banded.groupBy("bucket").count().collect()
    assert max(r["count"] for r in per_bucket) <= cap
    # min-id keep: the capped duplicate bucket holds ids 0..cap-1
    kept_dup_ids = {
        r["doc_id"]
        for r in banded.filter(F.col("doc_id") < 100).distinct().collect()
    }
    assert kept_dup_ids == set(range(cap))

    unc = minhash_band_candidates(sig, cfg=cfg).count()
    capped = minhash_band_candidates(sig, cfg=cfg, max_bucket_size=cap).count()
    assert unc >= n_dup * (n_dup - 1) // 2
    assert capped < unc
    # the duplicate cluster contributes exactly C(cap,2) now
    dup_pairs = (
        minhash_band_candidates(sig, cfg=cfg, max_bucket_size=cap)
        .filter((F.col("id_a") < 100) & (F.col("id_b") < 100))
        .count()
    )
    assert dup_pairs == cap * (cap - 1) // 2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_bucket_size"):
        minhash_band_buckets(sig, cfg=cfg, max_bucket_size=1)


def test_band_cap_stats_accounting(spark):
    """Exact overflow accounting on a constructed hot bucket: every
    band of a verbatim cluster caps identically (identical signatures),
    so capped_buckets == num_bands and pairs_saved is exact."""
    from llm_training_data_pipeline_spark.operators.dedup import (
        band_cap_stats,
        minhash_signatures,
    )

    n_dup, cap = 30, 8
    rows = [(i, "boilerplate cookie banner accept terms and conditions page")
            for i in range(n_dup)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = MinHashConfig(num_perm=16, threshold=0.5, shingle_size=5, num_bands=4)
    sig = minhash_signatures(df, cfg=cfg)
    row = band_cap_stats(sig, cfg=cfg, max_bucket_size=cap).collect()[0]
    assert row["total_buckets"] == 4
    assert row["capped_buckets"] == 4
    assert row["total_memberships"] == 4 * n_dup
    assert row["dropped_memberships"] == 4 * (n_dup - cap)
    assert row["max_bucket_observed"] == n_dup
    expected_saved = 4 * (n_dup * (n_dup - 1) // 2 - cap * (cap - 1) // 2)
    assert row["pairs_saved"] == expected_saved


def test_minhash_cap_recall_near_dup_cluster(spark):
    """The recall trade the cap table exists to measure: near-dup (NOT
    verbatim) variants keep most recall under a generous cap because a
    doc trimmed from one hot band still meets its twins in other bands;
    pair volume shrinks. Verbatim clusters are the documented caveat
    (exact_dedup runs first in the pipeline)."""
    from llm_training_data_pipeline_spark.operators.dedup import (
        minhash_cap_recall,
    )

    base = (
        "the quarterly report shows strong revenue growth across all "
        "segments with particular strength in cloud services and "
        "subscription products while operating margins expanded"
    )
    rows = [(i, base + f" footnote {i}") for i in range(24)]
    rows += [(200 + i, f"wholly unrelated text number {i} discussing astronomy "
              f"planet {i * 13} and telescopes") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = MinHashConfig(num_perm=16, threshold=0.5, shingle_size=5, num_bands=4)
    out = {
        r["method"]: r
        for r in minhash_cap_recall(df, cfg=cfg, caps=(None, 8)).collect()
    }
    unc, c8 = out["uncapped"], out["cap8"]
    assert unc["n_true_pairs"] > 0
    assert c8["n_candidate_pairs"] < unc["n_candidate_pairs"]
    # The honest trade, pinned: a high-similarity cluster has CORRELATED
    # bands (P[band equal] = J^rows_per_band), so one fat cluster caps
    # near-identically in every band and its tail pairs vanish from the
    # PAIR output — recall collapses on exactly the boilerplate the cap
    # tames. That is why pair-volume capping is for pair-emitting
    # consumers (audits, similarity graphs); cluster CONNECTIVITY at
    # scale uses the linear star form below, which needs no cap.
    assert c8["band_recall"] < unc["band_recall"]
    assert unc["band_recall"] >= 0.9
    # star form: linear edges per bucket, every cluster member still
    # connected to the min-id root — dedup loses nothing while never
    # going quadratic in the bucket
    from llm_training_data_pipeline_spark.operators.dedup import (
        minhash_bucket_stars,
    )

    star_rows = [
        (r["id_a"], r["id_b"])
        for r in minhash_bucket_stars(df, cfg=cfg).collect()
    ]
    parent = {i: i for i in range(24)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in star_rows:
        if a < 200 and b < 200:
            parent[find(a)] = find(b)
    assert len({find(i) for i in range(24)}) == 1  # one component
    cluster_edges = sum(1 for a, b in star_rows if a < 200 and b < 200)
    assert cluster_edges < 24 * 23 // 2  # linear vs quadratic
    # determinism
    again = {
        r["method"]: r["n_candidate_pairs"]
        for r in minhash_cap_recall(df, cfg=cfg, caps=(None, 8)).collect()
    }
    assert again == {
        m: r["n_candidate_pairs"] for m, r in out.items()
    }


def test_capped_minhash_dedup_removes_hot_cluster(spark):
    """VERDICT r11 #2: the REMOVAL consumer must survive the band-bucket
    cap. A 30-member J~0.9 cluster has correlated bands, so under cap=8
    the capped PAIR path alone leaves its tail in no pair (r11 would
    keep 22 of them); minhash_dedup now unions verified star edges, so
    the cluster still dedups to exactly 1 survivor."""
    base = (
        "the quarterly report shows strong revenue growth across all "
        "segments with particular strength in cloud services and "
        "subscription products while operating margins expanded"
    )
    distinct = [
        "astronomy telescopes observe distant galaxies through adaptive optics",
        "marine biologists catalog coral species along the barrier reef",
        "the recipe calls for saffron cardamom and slow roasted almonds",
        "volcanic sediment layers record eruption chronology for geologists",
        "midfield pressing patterns decided the championship final yesterday",
        "quantum error correction codes stabilize fragile logical qubits",
        "renaissance fresco restoration requires mineral pigment analysis",
        "high speed rail timetables synchronize across alpine border hubs",
    ]
    rows = [(i, base + f" footnote {i}") for i in range(30)]
    rows += [(200 + i, t) for i, t in enumerate(distinct)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = MinHashConfig(num_perm=16, threshold=0.5, shingle_size=5, num_bands=4)
    survivors = {
        r["doc_id"]
        for r in minhash_dedup(df, cfg=cfg, max_bucket_size=8).collect()
    }
    assert len(survivors & set(range(30))) == 1, survivors
    assert 0 in survivors  # min-id wins
    # distinct docs untouched
    assert set(range(200, 208)) <= survivors
    # and capped == uncapped here (the cap may only ever change which
    # PAIRS are emitted, never which docs a hot cluster keeps)
    uncapped = {r["doc_id"] for r in minhash_dedup(df, cfg=cfg).collect()}
    assert survivors == uncapped


def test_capped_minhash_dedup_verbatim_cluster_no_exact_pass(spark):
    """ADVICE r11 #1: algo=minhash_lsh never runs exact_dedup first, so
    a verbatim cluster larger than the cap (identical signatures -> ALL
    bands cap identically) must still be removed by the capped path on
    its own. Star edges reach every member; est-Jaccard = 1 verifies."""
    rows = [(i, "exact duplicate boilerplate text repeated everywhere "
             "with enough length to shingle properly") for i in range(20)]
    rows += [(100, "a completely different document about marine biology "
              "and coral reef ecosystems in the pacific")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = MinHashConfig(num_perm=16, threshold=0.5, shingle_size=5, num_bands=4)
    survivors = {
        r["doc_id"]
        for r in minhash_dedup(df, cfg=cfg, max_bucket_size=4).collect()
    }
    assert survivors == {0, 100}


def test_pipeline_capped_minhash_dedup_hot_cluster(spark):
    """The pipeline path end-to-end: deduplication.max_band_bucket set,
    one hot near-dup cluster -> 1 survivor (VERDICT r11 #2 done-check)."""
    from llm_training_data_pipeline_spark.plans.config import PipelineConfig
    from llm_training_data_pipeline_spark.plans.pipeline import run_pipeline

    base = (
        "the annual shareholder letter describes capital allocation "
        "priorities including buybacks dividends and targeted "
        "acquisitions across the core operating segments"
    )
    standalone = [
        "volcano geology sediment layers record eruption chronology",
        "orchard keepers graft heritage apple varieties each spring",
        "submarine cables route petabits beneath the atlantic shelf",
        "ballet choreography notation preserves nineteenth century staging",
        "desert locust swarms track seasonal wind convergence zones",
    ]
    rows = [(i, base + f" appendix {i}", "s") for i in range(30)]
    rows += [(200 + i, t, "s") for i, t in enumerate(standalone)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    cfg = PipelineConfig({
        "cleaning": {"min_length_chars": 10},
        "deduplication": {
            "enabled": True, "algorithm": "minhash_lsh",
            "num_permutations": 16, "threshold": 0.5,
            "shingle_size": 5, "num_bands": 4, "max_band_bucket": 8,
        },
        "quality": {"enabled": False},
        "tokenization": {"enabled": False},
    })
    summary = run_pipeline(spark, df, cfg, None)
    # 1 cluster survivor + 5 distinct docs
    assert summary["stages"]["dedup"]["rows"] == 6


def test_eval_leakage_ppm_string_ids(spark):
    """ADVICE r11 #2: the empty-array explode fallback must type itself
    from the id columns — string-id corpora used to fail analysis on the
    hardcoded array<long> cast."""
    from llm_training_data_pipeline_spark.operators.dedup import (
        eval_leakage_ppm,
    )

    splits = spark.createDataFrame(
        [("a", "eval"), ("b", "eval"), ("c", "train")],
        "doc_id string, split string",
    )
    pairs = spark.createDataFrame(
        [("a", "c"), ("b", "zz")], "id_a string, id_b string"
    )
    row = eval_leakage_ppm(pairs, splits).collect()[0]
    assert row["eval_docs"] == 2
    assert row["leaked_eval_docs"] == 2
    assert row["leakage_ppm"] == 1_000_000


def test_eval_leakage_ppm_exact_values(spark):
    """Unit pin for the gate's metric: leaked eval docs counted
    distinct, untagged twins count as non-eval (leak-safe), exact
    floor-ppm arithmetic."""
    from llm_training_data_pipeline_spark.operators.dedup import (
        eval_leakage_ppm,
    )

    splits = spark.createDataFrame(
        [(1, "eval"), (2, "eval"), (3, "eval"), (4, "train"), (5, "train")],
        "doc_id long, split string",
    )
    # doc 1 leaks twice (two train twins) -> counted once; doc 2 pairs
    # with an UNTAGGED doc 99 -> still a leak; doc 3 pairs only with
    # another eval doc -> not a leak
    pairs = spark.createDataFrame(
        [(1, 4), (1, 5), (2, 99), (1, 3)], "id_a long, id_b long"
    )
    row = eval_leakage_ppm(pairs, splits).collect()[0]
    assert row["eval_docs"] == 3
    assert row["leaked_eval_docs"] == 2
    assert row["leakage_ppm"] == 2 * 1_000_000 // 3

    # no pairs -> zero ppm
    empty = spark.createDataFrame([], "id_a long, id_b long")
    row0 = eval_leakage_ppm(empty, splits).collect()[0]
    assert (row0["leaked_eval_docs"], row0["leakage_ppm"]) == (0, 0)
