"""Deduplication operators (SURVEY.md §2.3, D1-D9 + engine extensions).

Reference semantics: /root/reference/src/processing/deduplicator.py. The
reference is an order-dependent in-memory index (first-seen wins,
deduplicator.py:150-180); a distributed dataflow has no insertion order, so
every variant here uses the deterministic **min-id winner**: a document is
dropped iff it matches some document with a smaller id. This is pinned in
tests and documented as the one deliberate semantic deviation.

Variants:
- ``exact_dedup``            D8: md5 of normalized text, windowed first-wins
- ``media_exact_dedup``      D8 over opaque binary payloads (raw-byte md5)
- ``minhash_dedup``          D1-D5: shingle → native MinHash → LSH band join
- ``simhash_dedup``          engine extension: 64-bit SimHash + hamming bands
- ``ngram_jaccard_pairs``    exact n-gram Jaccard verify over LSH-band
                             candidates (blocked form kept as oracle anchor)
- ``embedding_near_dup``     cosine near-dup over hyperplane-LSH buckets
                             (blocked form kept as oracle anchor)

Scale notes (100 TB): every join here keys on a hash/bucket column — a plain
shuffle join that AQE can skew-split. The LSH band join explodes ``b`` rows
per doc (b ≈ 8-32), so shuffle volume is O(b·n·r); candidate pairs are
verified with signature-estimated Jaccard before any doc is dropped, and the
final keep-side is a broadcast-able anti-join on the (small) drop-list.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from llm_training_data_pipeline_spark.functions.hashing import (
    hamming64,
    lsh_bands,
    signature_jaccard,
)
from llm_training_data_pipeline_spark.functions.text import (
    char_ngrams,
    char_shingles,
    strip_ws,
    whitespace_tokens,
    word_ngrams_from_tokens,
)


# --- D8: exact hash dedup -------------------------------------------------


def exact_hash(text: Column) -> Column:
    """md5 of ``text.strip().lower()`` (deduplicator.py:299-304)."""
    return F.md5(F.encode(F.lower(strip_ws(text)), "UTF-8"))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest-id row per normalized-text hash (first-wins).

    One shuffle on the digest; ``row_number`` beats ``dropDuplicates`` here
    because the winner must be *deterministic* (min id), not arbitrary.
    """
    w = Window.partitionBy("_h").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_h", exact_hash(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def media_exact_dedup(
    df: DataFrame, payload_col: str = "payload", id_col: str = "asset_id"
) -> DataFrame:
    """Byte-identical asset dedup: ``exact_dedup``'s min-id winner per
    md5 of a BINARY payload column (no text normalization). The shuffle
    ships (digest, id), never the payload bytes. Appends ``digest`` and
    ``n_bytes``."""
    w = Window.partitionBy("digest").orderBy(id_col)
    return (
        df.withColumn("digest", F.md5(F.col(payload_col)))
        .withColumn("n_bytes", F.length(F.col(payload_col)).cast("long"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """DeduplicationResult aggregate (deduplicator.py:29-43): totals +
    cluster count, computed map-side-combinable (no window needed)."""
    h = exact_hash(F.col(text_col))
    per_hash = df.groupBy(h.alias("_h")).agg(F.count(F.lit(1)).alias("n"))
    return per_hash.agg(
        F.sum("n").cast("long").alias("total_documents"),
        F.count(F.lit(1)).cast("long").alias("unique_documents"),
        (F.sum("n") - F.count(F.lit(1))).cast("long").alias("duplicate_documents"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).cast("long").alias("duplicate_clusters"),
    )


def semi_join_keep(df: DataFrame, keep_ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """D9 glue: keep original rows whose id survived dedup (main.py:250-256).

    ``left_semi`` lets Spark broadcast the id-list side when small.
    """
    return df.join(keep_ids.select(id_col), on=id_col, how="left_semi")


# --- D1-D5: MinHash LSH dedup --------------------------------------------


@dataclass(frozen=True)
class MinHashConfig:
    """Mirrors MinHashDeduplicator knobs (deduplicator.py:59-91)."""

    num_perm: int = 128
    threshold: float = 0.8
    shingle_size: int = 5
    num_bands: int = 16  # bands * rows_per_band == num_perm
    # "xxhash64" (fast, default) or "md5" (slower; bit-for-bit reproducible
    # in the DuckDB oracle via md5_number_lower — see hashing.md5_fold31)
    hash_family: str = "xxhash64"

    @property
    def rows_per_band(self) -> int:
        assert self.num_perm % self.num_bands == 0
        return self.num_perm // self.num_bands


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: MinHashConfig = MinHashConfig(),
    *,
    sig_col: str = "minhash_sig",
) -> DataFrame:
    """D1+D2: shingle and sign each document → the (id, signature)
    table, the reusable artifact of D2.

    Shape: explode shingles → xxhash64 each ONCE → one hash-aggregate with
    ``num_perm`` map-side-combinable ``min`` expressions → assemble the
    signature array. This avoids nested higher-order lambdas, which Catalyst
    inlines (re-evaluating the shingle hash per permutation — O(perms x
    shingle_len) regex work per row). The aggregate shuffles only
    (id, num_perm x 8 bytes) per doc — tiny next to the corpus.
    """
    from llm_training_data_pipeline_spark.functions.hashing import (
        MERSENNE_31,
        _HASH_FOLD,
        _perm_params,
    )

    a, b = _perm_params(cfg.num_perm, seed=42)
    # stage the normalized text as a column: char_ngrams over a raw text
    # expression would re-run the lowercase+collapse regex once per gram
    from llm_training_data_pipeline_spark.operators.scale import ensure_parallelism

    normed = df.select(
        F.col(id_col),
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ").alias("_norm"),
    )
    # the shingle explode + per-shingle hash below is the CPU-heavy stage;
    # partitioned on id so the min-aggregate reuses the exchange
    normed = ensure_parallelism(normed, id_col)
    # no array_distinct: min() is duplicate-insensitive, so signatures are
    # identical over the multiset, and the O(len^2) per-doc dedup is saved
    shingles = char_ngrams(F.col("_norm"), cfg.shingle_size)
    from llm_training_data_pipeline_spark.functions.hashing import md5_fold31

    sh = normed.select(F.col(id_col), F.explode(shingles).alias("_sh"))
    if cfg.hash_family == "md5":
        # md5+conv per shingle is ~20x the cost of xxhash64, and shingle
        # occurrences repeat massively across a corpus (char n-gram
        # vocabulary saturates). Hash each DISTINCT shingle once and join
        # back — min() per permutation is unchanged, so signatures are
        # bit-identical; the hash count drops from sum(|doc|) to |vocab|.
        # The vocab side is broadcast (char-5-gram vocabularies stay small
        # relative to corpus growth); the oracle-replay md5 family is the
        # correctness path — production scale uses the xxhash64 family,
        # which hashes inline.
        vocab = sh.select("_sh").distinct().select(
            "_sh", md5_fold31(F.col("_sh")).alias("_h")
        )
        exploded = sh.join(F.broadcast(vocab), on="_sh").select(F.col(id_col), "_h")
    else:
        exploded = sh.select(
            F.col(id_col), F.pmod(F.xxhash64("_sh"), F.lit(_HASH_FOLD)).alias("_h")
        )
    # one SQL string parsed once JVM-side instead of num_perm × ~6 py4j
    # Column calls: building 32 min(pmod(...)) Columns the py4j way costs
    # ~0.3-0.4s of pure DRIVER time per invocation — irrelevant for a
    # one-shot batch query, but the dominant term on a per-micro-batch
    # floor (the foreachBatch incremental deduper builds this plan every
    # trigger). L-suffixed literals keep every operand bigint, so the
    # arithmetic is bit-identical to the Column form it replaces.
    sig_expr = (
        "array("
        + ",".join(
            f"min(pmod({a[i]}L * _h + {b[i]}L, {MERSENNE_31}L))"
            for i in range(cfg.num_perm)
        )
        + ")"
    )
    return exploded.groupBy(id_col).agg(F.expr(sig_expr).alias(sig_col))


def _signature_source(
    df: DataFrame,
    text_col: str,
    id_col: str,
    cfg: MinHashConfig,
    signatures: DataFrame | None,
) -> DataFrame:
    """``signatures`` when the caller passes a precomputed, materialized
    (id, minhash_sig) table, else the signature table of ``df``
    MATERIALIZED (eager localCheckpoint). Every consumer reads the
    signatures on several branches (band self-join, join-backs), and a
    lazy frame re-runs the whole shingle+aggregate pipeline per branch
    (measured ~9x); lazy persist still lets concurrent branches of one
    job race and recompute it."""
    if signatures is not None:
        return signatures
    return minhash_signatures(df, text_col, id_col, cfg).localCheckpoint(eager=True)


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: MinHashConfig = MinHashConfig(),
    *,
    signatures: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """D4 candidate generation: LSH band self-join → (id_a < id_b) pairs with
    signature-estimated Jaccard.

    Plan shape (the scale-critical part):
    1. signature table MATERIALIZED (``_signature_source``) — the band
       self-join references it twice and downstream joins twice more.
       For repeated runs on a cluster, prefer ``persist_minhash_signatures``
       + ``minhash_candidate_pairs_from_signatures`` — a bucketed table
       survives across jobs and joins by id without an Exchange;
    2. the self-join ships only (id, bucket) — signatures are joined back
       by id for the surviving candidate pairs, so shuffle width stays
       16 bytes/row instead of 16 + 8*num_perm;
    3. verification is the signature-estimated Jaccard >= threshold.

    ``signatures``: a precomputed, already-materialized (id, minhash_sig)
    table (``cached_minhash_signatures`` / ``persist_minhash_signatures``)
    — skips the signature pass entirely; output is bit-identical.
    """
    sig = _signature_source(df, text_col, id_col, cfg, signatures)
    cand = (
        minhash_band_candidates(sig, id_col, cfg, max_bucket_size)
        if max_bucket_size is not None
        else None
    )
    return minhash_candidate_pairs_from_signatures(
        sig, id_col, cfg, candidates=cand
    )


# Session-scoped signature store: one signature pass per (application,
# dataset key, config), shared by every downstream consumer in the session
# (candidate pairs, dedup, clustering, keep-best, n-gram verify). At 100 TB
# the signature pass dominates every one of those consumers, so computing
# it once per dataset — or loading it from a bucketed table via
# ``persist_minhash_signatures`` — is the difference between one corpus
# scan and five. Entries from stopped sessions are keyed away by
# applicationId (their checkpoint blocks die with the session).
_SIG_CACHE: dict[tuple[str, str, MinHashConfig], DataFrame] = {}


def cached_minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: MinHashConfig = MinHashConfig(),
    *,
    cache_key: str,
) -> DataFrame:
    """Compute + materialize (eager localCheckpoint) the signature table
    once per (SparkSession, ``cache_key``, cfg) and return the same
    materialized DataFrame to every caller. ``cache_key`` must identify
    the input dataset (e.g. its path) — the cache trusts it blindly.
    Bit-identical to ``minhash_signatures`` by construction."""
    spark = df.sparkSession
    key = (spark.sparkContext.applicationId, cache_key, cfg)
    sig = _SIG_CACHE.get(key)
    if sig is None:
        sig = _signature_source(df, text_col, id_col, cfg, None)
        _SIG_CACHE[key] = sig
    return sig


def persist_minhash_signatures(
    df: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: MinHashConfig = MinHashConfig(),
    num_buckets: int = 8,
) -> DataFrame:
    """Cluster-grade signature persistence: write the (id, signature) table
    bucketed+sorted by id and return the bucketed scan.

    This is the durable alternative to the in-job ``localCheckpoint`` —
    executor-local checkpoint blocks die with the job, while a bucketed
    table is reusable across jobs (incremental dedup probes, re-runs,
    verification joins) and every equi-join on ``id_col`` against another
    same-bucketed table plans WITHOUT an Exchange on this side
    (tests/test_scale.py asserts the no-shuffle plan).
    """
    from llm_training_data_pipeline_spark.sources.sinks import write_bucketed

    sig = minhash_signatures(df, text_col, id_col, cfg)
    write_bucketed(sig, table, id_col, n_buckets=num_buckets, sort_col=id_col)
    return df.sparkSession.table(table)


def _band_bucket_expr(cfg: MinHashConfig) -> Column:
    """Join/group key for one exploded LSH band (column ``band``).

    md5 (oracle-replay) family: the EXACT band value rendered as a
    string — the DuckDB oracle buckets by band equality, so a 64-bit
    hash collision on the Spark side would merge unrelated buckets and
    break the bit-exact compare (vanishingly rare, but star roots and
    candidate sets are directly sensitive to it). The production
    xxhash64 family keeps the 8-byte hashed bucket: far cheaper to
    shuffle, and a collision merely adds one spurious candidate that
    downstream verification drops.
    """
    if cfg.hash_family == "md5":
        # the band struct itself: struct equality is exact, and the
        # (int, 4×long) struct shuffles narrower than a rendered string
        return F.col("band")
    return F.xxhash64(F.col("band.band_id"), F.col("band.band_sig"))


def minhash_band_buckets(
    sig: DataFrame,
    id_col: str = "doc_id",
    cfg: MinHashConfig = MinHashConfig(),
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(id, bucket) table — one row per (doc, LSH band).

    ``max_bucket_size`` (VERDICT r10 #2): deterministically keep only
    the ``max_bucket_size`` smallest ids of an over-populated band
    bucket. A boilerplate band shared by 100k documents is quadratic
    WITHIN its bucket at real scale (5e9 pairs from one bucket); the
    cap bounds every bucket's pair contribution at cap^2/2 while the
    min-id keep rule stays replayable. Dropped memberships usually cost
    little recall — a document trimmed from one bucket still meets its
    true near-twins in its other ``num_bands - 1`` bands
    (``minhash_cap_recall`` measures exactly this). The caveat: a
    HIGH-similarity cluster has correlated bands (P[band equal] =
    J^rows_per_band) — a verbatim cluster (identical signatures) is the
    extreme — so the cluster caps to near-identical min-ids in every
    band at once and its tail members emit NO pairs. The capped pair
    path is therefore for pair-EMITTING consumers only (recall audits,
    similarity graphs, pair exports) where bounding output volume is
    the point; the *removal* consumer (``minhash_dedup``) unions these
    pairs with verified ``minhash_bucket_stars`` hub edges, which reach
    every bucket member in O(k) with no cap (VERDICT r11 #2).
    Rank-filter form so
    Spark inserts WindowGroupLimit — each task pre-trims to the cap
    before the per-bucket sort; no single-task funnel on a dominant
    bucket."""
    banded = sig.withColumn(
        "band",
        F.explode(lsh_bands(F.col("minhash_sig"), cfg.num_bands, cfg.rows_per_band)),
    ).select(F.col(id_col), _band_bucket_expr(cfg).alias("bucket"))
    if max_bucket_size is not None:
        if max_bucket_size < 2:
            raise ValueError(
                f"max_bucket_size must be >= 2 (a 1-member bucket emits "
                f"no pairs): {max_bucket_size}"
            )
        w = Window.partitionBy("bucket").orderBy(F.col(id_col).asc())
        banded = (
            banded.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_bucket_size)
            .drop("_rn")
        )
    return banded


def band_cap_stats(
    sig: DataFrame,
    id_col: str = "doc_id",
    cfg: MinHashConfig = MinHashConfig(),
    max_bucket_size: int = 64,
) -> DataFrame:
    """One-row overflow accounting for a band-bucket cap BEFORE paying
    for the capped join: buckets over the cap, memberships the cap
    would drop, the largest observed bucket, and the exact pair-volume
    saving (sum over capped buckets of C(n,2) - C(cap,2)) — the number
    that says whether boilerplate bands are about to go quadratic.
    Two map-side-combinable aggregates, no window, no join.

    Pair arithmetic stays in LONG integers end to end (n*(n-1) and
    cap*(cap-1) are both even, so the halving is an exact shiftright —
    no double division that loses exactness past 2^53, ADVICE r11 #4).
    Magnitude bound: n*(n-1) overflows bigint at n ≈ 3.04e9 members in
    ONE bucket — above any real corpus's single-band population (100 TB
    ≈ 1e11 docs spread over ~1e9+ buckets)."""
    if max_bucket_size < 2:
        raise ValueError(f"max_bucket_size must be >= 2: {max_bucket_size}")
    per = (
        minhash_band_buckets(sig, id_col, cfg)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    cap = F.lit(max_bucket_size).cast("long")
    over = F.col("n") > cap
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("total_buckets"),
        F.sum(F.when(over, 1).otherwise(0)).cast("long").alias("capped_buckets"),
        F.sum("n").cast("long").alias("total_memberships"),
        F.sum(F.when(over, F.col("n") - cap).otherwise(0))
        .cast("long")
        .alias("dropped_memberships"),
        F.max("n").cast("long").alias("max_bucket_observed"),
        F.sum(
            F.when(
                over,
                F.shiftright(
                    F.col("n") * (F.col("n") - 1) - cap * (cap - 1), 1
                ),
            ).otherwise(0)
        )
        .cast("long")
        .alias("pairs_saved"),
    )


def minhash_band_candidates(
    sig: DataFrame,
    id_col: str = "doc_id",
    cfg: MinHashConfig = MinHashConfig(),
    max_bucket_size: int | None = None,
    distinct_pairs: bool = True,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH band — the
    raw candidate set, before any similarity verification. Per-bucket
    joins, never all-pairs; the shuffle ships (id, bucket) only.
    ``max_bucket_size`` caps each bucket's contribution (see
    ``minhash_band_buckets``).

    ``distinct_pairs=False`` skips the pair-level ``distinct()`` — a full
    shuffle of the candidate set (measured 4.5s of the sf1 minhash_dedup
    row; duplicate rate is only the multi-band co-occurrence, ~1% on the
    bench corpus). Correct ONLY for consumers that reduce pairs to a
    per-id existence decision downstream (the dedup loser set's
    ``distinct(id_b)``), never for pair-emitting queries."""
    banded = minhash_band_buckets(sig, id_col, cfg, max_bucket_size)
    pairs = (
        banded.alias("a")
        .join(banded.alias("b"), on="bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
    )
    return pairs.distinct() if distinct_pairs else pairs


def minhash_candidate_pairs_from_signatures(
    sig: DataFrame,
    id_col: str = "doc_id",
    cfg: MinHashConfig = MinHashConfig(),
    *,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """D4 band self-join + est-Jaccard verify over a precomputed
    (id, minhash_sig) table — the signature source decides the reuse
    strategy (localCheckpoint in-job, bucketed table across jobs).
    ``candidates``: a precomputed (id_a, id_b) band-candidate table, so
    callers that also consume the raw candidate set (the recall audit)
    run the band self-join once, not per consumer."""
    cand = candidates if candidates is not None else minhash_band_candidates(sig, id_col, cfg)
    sig_a = sig.select(F.col(id_col).alias("id_a"), F.col("minhash_sig").alias("_sa"))
    sig_b = sig.select(F.col(id_col).alias("id_b"), F.col("minhash_sig").alias("_sb"))
    pairs = (
        cand.join(sig_a, on="id_a")
        .join(sig_b, on="id_b")
        .select(
            "id_a",
            "id_b",
            signature_jaccard(F.col("_sa"), F.col("_sb")).alias("est_jaccard"),
        )
    )
    return pairs.filter(F.col("est_jaccard") >= cfg.threshold)


def minhash_bucket_stars(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: MinHashConfig = MinHashConfig(),
    *,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Clustering-specific candidate edges: ONE STAR PER LSH BUCKET
    (bucket-min → member) instead of the all-pairs bucket clique.

    For connected-component extraction the star is connectivity-
    equivalent to the clique (every bucket member reaches every other
    through the bucket root), but emits O(k) edges per k-member bucket
    instead of O(k²) — the difference between a 10k-member hot bucket
    contributing 10k edges vs 50M. Banding itself is the similarity
    test here (no per-pair est-Jaccard verify — pair-level verification
    would have to run on the clique and is what ``minhash_candidate_pairs``
    is for); the propagation fixpoint (min reachable id) is unchanged.

    Plan: signatures → (id, bucket) explode → per-bucket min via one
    partial-aggregable groupBy → self-join back on bucket. No signature
    join-back, no quadratic pair set. Reference anchor:
    deduplicator.py:205-214 (cluster counting this extends).
    """
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(df, text_col, id_col, cfg)
    )
    banded = minhash_band_buckets(sig, id_col, cfg)
    if signatures is None:
        # the roots aggregate and the member join both read the banded
        # table — without materialization each branch recomputes the whole
        # shingle+md5 signature pipeline (same measured ~2x as
        # minhash_candidate_pairs). With a precomputed (materialized)
        # signature table the re-derivation per branch is just the band
        # explode — cheaper than a second checkpoint write.
        banded = banded.localCheckpoint(eager=True)
    roots = banded.groupBy("bucket").agg(F.min(id_col).alias("_root"))
    return (
        banded.join(roots, on="bucket")
        .filter(F.col(id_col) != F.col("_root"))
        .select(F.col("_root").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: MinHashConfig = MinHashConfig(),
    *,
    signatures: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """D5: drop every doc that near-matches a smaller-id doc (min-id wins).

    ``max_bucket_size`` (VERDICT r11 #2): the *removal* consumer must NOT
    rely on the capped pair path alone — high-similarity clusters have
    CORRELATED bands (P[band equal] = J^rows_per_band), so one fat
    near-dup cluster caps to near-identical min-ids in every band and its
    tail members appear in no pair at all: they would silently survive.
    (Verbatim-duplicate clusters are the extreme case — identical
    signatures cap identically in ALL bands — so this also covers
    exact-dup-heavy corpora with no separate exact pass, ADVICE r11 #1.)

    When the cap is set, losers therefore come from the UNION of
    - the capped pair path (exact within-cap semantics: chains among the
      ``max_bucket_size`` smallest ids of each bucket still resolve), and
    - the STAR form (``minhash_bucket_stars``): per-bucket hub edges
      root=min(id) → member, O(k) per k-member bucket with no cap needed,
      each edge verified by est-Jaccard >= threshold before it removes.
    Every star loser genuinely near-matches a smaller-id doc (the bucket
    root), so min-id-wins semantics are preserved; a hot cluster's tail
    now always reaches the root and is removed. The capped PAIR path
    stays what it is good for: pair-emitting consumers (recall audits,
    similarity graphs) where bounded output volume is the point.
    Uncapped behavior is unchanged (single pair path, bit-identical).

    Either way the band candidates skip the pair-level distinct
    (``distinct_pairs=False``): the loser set reduces pairs to
    distinct(id_b), so it would be a redundant full shuffle of the
    candidate set (~1% duplicate pairs on the bench corpus)."""
    sig = _signature_source(df, text_col, id_col, cfg, signatures)
    pairs = minhash_candidate_pairs_from_signatures(
        sig, id_col, cfg,
        candidates=minhash_band_candidates(
            sig, id_col, cfg, max_bucket_size, distinct_pairs=False
        ),
    )
    losers = pairs.select(F.col("id_b").alias(id_col))
    if max_bucket_size is not None:
        star_pairs = minhash_candidate_pairs_from_signatures(
            sig, id_col, cfg,
            candidates=minhash_bucket_stars(
                df, text_col, id_col, cfg, signatures=sig
            ),
        )
        losers = losers.unionByName(star_pairs.select(F.col("id_b").alias(id_col)))
    return df.join(losers.distinct(), on=id_col, how="left_anti")


def minhash_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: MinHashConfig = MinHashConfig(),
) -> DataFrame:
    """DeduplicationResult for the MinHash variant (D5/D7).

    Fully lazy single-plan form: the pairs table is read ONCE (explode each
    pair into its two endpoints, then per-id winner/loser flags), so no
    cache or driver-side counting loop is needed — the caller's one action
    computes total, duplicates, and clusters together.
    """
    pairs = minhash_candidate_pairs(df, text_col, id_col, cfg)
    per_id = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("id"),
                        F.lit(1).alias("w"),
                        F.lit(0).alias("l"),
                    ),
                    F.struct(
                        F.col("id_b").alias("id"),
                        F.lit(0).alias("w"),
                        F.lit(1).alias("l"),
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
        .groupBy("id")
        .agg(F.max("w").alias("won"), F.max("l").alias("lost"))
    )
    # clusters = distinct "winner" docs that defeated someone and are not
    # themselves losers (min-id cluster representative)
    stats = per_id.agg(
        F.coalesce(F.sum("lost"), F.lit(0)).cast("long").alias("duplicate_documents"),
        F.coalesce(
            F.sum(F.when((F.col("won") == 1) & (F.col("lost") == 0), 1)), F.lit(0)
        )
        .cast("long")
        .alias("duplicate_clusters"),
    )
    totals = df.agg(F.count(F.lit(1)).cast("long").alias("total_documents"))
    return totals.crossJoin(stats).select(
        "total_documents",
        (F.col("total_documents") - F.col("duplicate_documents"))
        .cast("long")
        .alias("unique_documents"),
        "duplicate_documents",
        "duplicate_clusters",
    )


# --- SimHash dedup (engine extension; reference declares but never
# implements `deduplication.algorithm: simhash`, pipeline_config.yaml:34) ---


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    out_col: str = "simhash",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Slim ``(id, simhash)`` fingerprint table via explode + 64 bit-vote
    aggregates — the computation behind ``with_simhash`` WITHOUT the
    join-back onto the full document frame. Zero-token documents (which
    ``with_simhash`` surfaces as NULL fingerprints) have no row here;
    they can never band-collide, so every pair/dedup consumer is
    unaffected (r14: the join-back forced the whole corpus — text
    included — through an extra join both sides of the downstream band
    self-join re-ran).

    Same explode-aggregate shape as ``with_minhash`` and for the same
    reason: a single higher-order expression re-evaluates the token hash
    array once per bit position. Here each token is hashed ONCE; the 64
    per-bit vote sums are map-side-combinable aggregate expressions.

    ``hash_family="md5"`` derives the 64 bits from the md5 digest instead
    of xxhash64 so the DuckDB oracle can replay the fingerprint exactly
    (slower; default stays xxhash64).
    """
    from llm_training_data_pipeline_spark.operators.scale import ensure_parallelism

    seed = 42
    tokens = whitespace_tokens(F.lower(F.col(text_col)))
    base = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), F.explode(tokens).alias("_t")
    )
    if hash_family == "md5":
        # oracle-replicable bits: little-endian md5 digest bytes 8..15
        # (DuckDB md5_number_lower); byte k staged once, bit b = byte
        # b//8 >> (b%8). 8 conv calls per token instead of 64.
        hexed = base.select(
            F.col(id_col), F.md5(F.encode("_t", "UTF-8")).alias("_hx")
        )
        ex = hexed.select(
            F.col(id_col),
            *[
                F.conv(F.substring("_hx", 17 + 2 * k, 2), 16, 10)
                .cast("long")
                .alias(f"_y{k}")
                for k in range(8)
            ],
        )

        def _bit(b: int) -> Column:
            return F.shiftright(F.col(f"_y{b // 8}"), b % 8).bitwiseAND(F.lit(1))

    else:
        ex = base.select(F.col(id_col), F.xxhash64("_t", F.lit(seed)).alias("_h"))

        def _bit(b: int) -> Column:
            return F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1))

    votes = ex.groupBy(id_col).agg(
        *[F.sum(_bit(b).cast("long") * 2 - 1).alias(f"_b{b}") for b in range(64)]
    )
    fingerprint = None
    for b in range(64):
        bit = F.when(F.col(f"_b{b}") > 0, F.lit(1 << b if b < 63 else -(1 << 63)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = bit if fingerprint is None else fingerprint.bitwiseOR(bit)
    return votes.select(F.col(id_col), fingerprint.alias(out_col))


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    out_col: str = "simhash",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Column-append contract over ``simhash_table``: every input column
    passes through, ``out_col`` carries the 64-bit fingerprint (NULL for
    zero-token documents, which have no vote row)."""
    sh = simhash_table(
        df, text_col, id_col, out_col=out_col, hash_family=hash_family
    )
    return df.join(sh, on=id_col, how="left")


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    num_bands: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit fingerprint into
    ``num_bands`` chunks (any equal chunk → candidate, guaranteed complete
    for hamming <= num_bands-1), verify exact hamming distance.

    The slim fingerprint table is MATERIALIZED (eager localCheckpoint)
    before the band self-join: the join references it on both sides, so
    a lazy frame re-runs the whole explode + 64-vote aggregate per side
    (the r14 plan audit showed the full fingerprint pipeline duplicated
    — the same measured pitfall ``minhash_candidate_pairs`` documents).
    Zero-token docs have no fingerprint row; they banded as NULL chunks
    before, which never satisfy the equality join, so the pair set is
    identical.

    The shuffle ships (band chunk, id, fingerprint) only; pair volume is
    bounded by genuine chunk collisions, the same LSH scaling argument
    as MinHash banding."""
    sh = simhash_table(df, text_col, id_col, hash_family=hash_family)
    sh = sh.localCheckpoint(eager=True)
    bits_per = 64 // num_bands
    mask = (1 << bits_per) - 1
    banded = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftrightunsigned("simhash", i * bits_per)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for i in range(num_bands)
                ]
            )
        ).alias("band"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on=[F.col("a.band") == F.col("b.band")])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    losers = (
        simhash_near_dup_pairs(df, text_col, id_col, max_hamming, hash_family=hash_family)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(losers, on=id_col, how="left_anti")


# --- blocked exact n-gram Jaccard (SQL-expressible correctness anchor) ----


def _word_gram_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    block_col: str | None = None,
) -> DataFrame:
    """(id[, _blk], _grams) — distinct word n-grams per document.

    Tokens are staged as a column first: the gram builder references the
    token array once per gram (see ``word_ngrams_from_tokens``)."""
    staged = df.select(
        F.col(id_col),
        *([F.col(block_col).alias("_blk")] if block_col else []),
        whitespace_tokens(F.lower(F.col(text_col))).alias("_toks"),
    )
    return staged.select(
        F.col(id_col),
        *([F.col("_blk")] if block_col else []),
        word_ngrams_from_tokens(F.col("_toks"), n).alias("_grams"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    n: int = 2,
    threshold: float = 0.6,
    cfg: MinHashConfig | None = None,
    *,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity pairs.

    Default (``block_col=None``): candidates come from MinHash LSH bands
    (``ngram_jaccard_pairs_lsh``) — the corpus-scale path, quadratic
    only within LSH buckets. With ``block_col``: the classic blocked
    similarity join (equi-join on the block bounds the pair explosion) —
    fully SQL-expressible, kept as the small-input oracle-parity anchor,
    but a popular block value makes it a quadratic shuffle at scale.

    NOTE (r5 behavior change, kept): the default ``block_col`` used to be
    ``'source'``; default-arg callers now get the LSH path, whose
    candidate recall at the default 16-perm/4-band config is below 1 for
    pairs judged by word-2-gram Jaccard — a deliberate scale-for-recall
    trade. Pass ``block_col='source'`` to recover the old exhaustive
    blocked behavior.
    """
    if block_col is None:
        return ngram_jaccard_pairs_lsh(
            df,
            text_col,
            id_col,
            n=n,
            threshold=threshold,
            cfg=cfg or MinHashConfig(),
            signatures=signatures,
        )
    g = _word_gram_table(df, text_col, id_col, n, block_col)
    a, b = g.alias("a"), g.alias("b")
    # ONE set operation per pair (r15, guide §1.2): _grams is distinct
    # per doc, so |a∩b| == |a|+|b|−|a∪b| exactly in integers — the
    # array_intersect pass re-built the same hash set array_union
    # already pays for; jaccard values are bit-identical
    union = F.size(F.array_union(F.col("a._grams"), F.col("b._grams")))
    inter = (
        F.size(F.col("a._grams")) + F.size(F.col("b._grams")) - union
    )
    return (
        a.join(b, on="_blk")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col("_blk").alias(block_col),
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    threshold: float = 0.6,
    cfg: MinHashConfig = MinHashConfig(),
    *,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """LSH-candidate exact n-gram Jaccard — D4-style similarity
    (reference deduplicator.py:150-180) at corpus scale.

    Candidate pairs are generated from MinHash band buckets (per-bucket
    joins, never all-pairs) and the exact word-n-gram Jaccard is
    computed ONLY for candidates — so the quadratic term is bounded by
    LSH bucket sizes, not by block or corpus size. Recall is the LSH
    band recall (tune ``cfg.num_bands``/``num_perm`` for the target
    similarity); with ``cfg.hash_family="md5"`` the candidate set and
    the verification are both DuckDB-replayable bit-for-bit.
    """
    sig = _signature_source(df, text_col, id_col, cfg, signatures)
    cand = minhash_band_candidates(sig, id_col, cfg)
    g = _word_gram_table(df, text_col, id_col, n)
    ga = g.select(F.col(id_col).alias("id_a"), F.col("_grams").alias("_ga"))
    gb = g.select(F.col(id_col).alias("id_b"), F.col("_grams").alias("_gb"))
    # |a∩b| from sizes + ONE array_union (see ngram_jaccard_pairs):
    # _grams is distinct per doc, values bit-identical
    union = F.size(F.array_union(F.col("_ga"), F.col("_gb")))
    inter = F.size(F.col("_ga")) + F.size(F.col("_gb")) - union
    return (
        cand.join(ga, on="id_a")
        .join(gb, on="id_b")
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- embedding cosine near-dup --------------------------------------------


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    threshold: float = 0.95,
    *,
    num_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    num_tables: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Cosine near-dup pairs over an embedding column.

    Default (``block_col=None``): candidates share a random-hyperplane
    LSH bucket (sign pattern of ``num_planes`` seeded plane dots, the
    same buckets as ``similarity.ann_lsh_topk``) in at least one of
    ``num_tables`` independent tables; exact cosine is verified only on
    candidates — per table each vector lands in exactly one bucket, so
    the join is quadratic per bucket (~num_tables·|corpus|/2^planes),
    never all-pairs. Single-table recall for a pair at angle θ is
    (1-θ/π)^planes; OR-amplification lifts it to 1-(1-(1-θ/π)^planes)^t
    at linearly higher cost (the measured tradeoff is the oracle-paired
    ``ann_recall_report`` query). Pairs colliding in several tables
    carry identical rounded cosines and collapse via DISTINCT.

    With ``block_col``: blocked equi-join (quadratic within a block —
    the oracle-parity anchor). No call plans a CartesianProduct.

    ``max_bucket_size`` (VERDICT r13 #6 — the minhash band-cap
    treatment): deterministically keep only the ``max_bucket_size``
    smallest ids of each (table, bucket) before the self-join, bounding
    every bucket's pair contribution at cap²/2. A dense embedding
    region that lands 100k vectors in one bucket is quadratic there at
    real scale; a vector trimmed from one table's hot bucket still
    meets its near-twins in the other ``num_tables - 1`` tables (the
    same OR-amplification that gives multi-table recall —
    ``embedding_cap_recall`` measures exactly this). Rank-filter form
    so Spark plans WindowGroupLimit (no single-task funnel on a hot
    bucket; pinned in test_plan_shape). Only applies to the LSH-bucket
    path (ignored under ``block_col``, which exists for oracle parity on
    tiny inputs).

    Vectors are cast to DOUBLE before arithmetic so results are
    bit-stable across engines, and norms are STAGED per row before the
    join — ``cosine_similarity`` inline would recompute both norms per
    pair (the usual expression-duplication pitfall), tripling the
    pair-side flops.
    """
    from llm_training_data_pipeline_spark.functions.vectors import dot_product, l2_norm

    vecs = df.select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).withColumn("_n", l2_norm(F.col("_v")))
    multi_table = False
    if block_col is None:
        from llm_training_data_pipeline_spark.operators.similarity import (
            _hyperplanes,
            lsh_bucket,
            table_seed,
        )

        if num_tables <= 1:
            planes = _hyperplanes(dim, num_planes, seed)
            vecs = vecs.withColumn("_bkt", lsh_bucket(F.col("_v"), planes))
        else:
            multi_table = True
            entries = F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        lsh_bucket(
                            F.col("_v"),
                            _hyperplanes(dim, num_planes, table_seed(seed, t)),
                        ).alias("b"),
                    )
                    for t in range(num_tables)
                ]
            )
            vecs = vecs.withColumn("_tb", F.explode(entries)).select(
                F.col(id_col),
                "_v",
                "_n",
                F.col("_tb.t").alias("_t"),
                F.col("_tb.b").alias("_bkt"),
            )
        if max_bucket_size is not None:
            if max_bucket_size < 2:
                raise ValueError(
                    f"max_bucket_size must be >= 2 (a 1-member bucket "
                    f"emits no pairs): {max_bucket_size}"
                )
            part = ["_t", "_bkt"] if multi_table else ["_bkt"]
            w = Window.partitionBy(*part).orderBy(F.col(id_col).asc())
            vecs = (
                vecs.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= max_bucket_size)
                .drop("_rn")
            )
    a, b = vecs.alias("a"), vecs.alias("b")
    if block_col:
        joined = a.join(b, on=[F.col(f"a.{block_col}") == F.col(f"b.{block_col}")])
    elif multi_table:
        joined = a.join(
            b,
            on=[
                F.col("a._t") == F.col("b._t"),
                F.col("a._bkt") == F.col("b._bkt"),
            ],
        )
    else:
        joined = a.join(b, on=[F.col("a._bkt") == F.col("b._bkt")])
    cos = F.when(
        (F.col("a._n") == 0) | (F.col("b._n") == 0), F.lit(0.0)
    ).otherwise(dot_product(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n")))
    out_cols = [
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(cos, 6).alias("cosine"),
    ]
    if block_col:
        out_cols.insert(0, F.col(f"a.{block_col}").alias(block_col))
    out = (
        joined.filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(*out_cols)
        .filter(F.col("cosine") >= threshold)
    )
    return out.distinct() if multi_table else out


def embedding_cap_recall(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.3,
    caps: tuple[int | None, ...] = (None, 32, 8),
    *,
    num_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    num_tables: int = 4,
) -> DataFrame:
    """The (table, bucket) cap's recall/cost table for embedding LSH
    pairs (VERDICT r13 #6 — the ``minhash_cap_recall`` twin): one row
    per cap setting — candidate-pair volume next to recall against the
    SAME exact-cosine ground truth, so the "how much pair volume does
    capping hot buckets save, for how much recall" trade reads off one
    hash-checked table.

    Truth = every pair with rounded cosine >= threshold, via a
    broadcast nested-loop join (the ``brute_force_topk`` shape, never a
    CartesianProduct node). Unlike the minhash audit there is no
    band/emit recall split: verification uses the SAME rounded cosine
    as the truth, so a true pair among the candidates is always
    emitted — ``n_caught`` counts both.
    """
    from llm_training_data_pipeline_spark.functions.vectors import dot_product, l2_norm

    vecs = (
        df.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        )
        .withColumn("_n", l2_norm(F.col("_v")))
        .localCheckpoint(eager=True)
    )
    a, b = vecs.alias("a"), vecs.alias("b")
    cos = F.when(
        (F.col("a._n") == 0) | (F.col("b._n") == 0), F.lit(0.0)
    ).otherwise(
        dot_product(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n"))
    )
    truth = (
        a.join(F.broadcast(b), F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    out: DataFrame | None = None
    for cap in caps:
        # threshold -2.0 keeps every bucket-join pair (cosine >= -1):
        # one pass yields candidates AND, filtered, the emitted pairs
        cand = embedding_near_dup_pairs(
            df,
            vec_col,
            id_col,
            threshold=-2.0,
            num_planes=num_planes,
            dim=dim,
            seed=seed,
            num_tables=num_tables,
            max_bucket_size=cap,
        ).localCheckpoint(eager=True)
        tot = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
        n_cand = cand.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidate_pairs")
        )
        hits = truth.join(cand, on=["id_a", "id_b"], how="left_semi").agg(
            F.count(F.lit(1)).cast("long").alias("n_caught")
        )
        row = (
            tot.crossJoin(n_cand)
            .crossJoin(hits)
            .select(
                F.lit("uncapped" if cap is None else f"cap{cap}").alias("method"),
                F.lit(-1 if cap is None else cap).cast("int").alias(
                    "max_bucket_size"
                ),
                "n_candidate_pairs",
                "n_true_pairs",
                "n_caught",
                F.when(
                    F.col("n_true_pairs") == 0, F.lit(None).cast("double")
                )
                .otherwise(
                    F.round(
                        F.col("n_caught") / F.col("n_true_pairs").cast("double"),
                        4,
                    )
                )
                .alias("recall"),
            )
            .localCheckpoint(eager=True)
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out


# --- incremental dedup against an existing corpus -------------------------


def exact_dedup_against(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep new docs whose normalized-text digest is NOT in the corpus,
    then dedup the survivors among themselves (min-id winner).

    The batch form of the reference's incremental ``is_duplicate`` probe
    (deduplicator.py:150-180) for the "new shard vs existing corpus" case:
    an anti-join on the digest (broadcast-able when the corpus digest set is
    small; hash-shuffled otherwise) followed by the standard exact dedup.
    """
    seen = corpus.select(exact_hash(F.col(text_col)).alias("_h")).distinct()
    fresh = (
        new_docs.withColumn("_h", exact_hash(F.col(text_col)))
        .join(seen, on="_h", how="left_anti")
        .drop("_h")
    )
    return exact_dedup(fresh, text_col, id_col)


def _driver_union_find(rows: list, id_a: str, id_b: str) -> list[tuple[int, int]]:
    """Min-label connected components of a small edge list, driver-side:
    classic union-find with path compression, then min-id per component.
    Output is identical to the distributed propagation fixpoint (same
    unique min-reachable-id labeling; pinned in tests/test_dedup.py)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = int(r[id_a]), int(r[id_b])
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # root is already the component minimum: unions always hang the larger
    # root under the smaller one, so every tree root is its component min
    return [(node, find(node)) for node in parent]


# Above this many candidate pairs the transitive closure runs as the
# distributed label propagation; below it, the edge list is collected and
# solved with driver-side union-find. Near-dup cluster graphs are tiny
# relative to the corpus (edges exist only among near-duplicates), so the
# driver path is the overwhelmingly common case even at corpus scale —
# the same size-adaptive strategy GraphFrames/AQE-style planners use.
# 2M edges ≈ 32 MB collected — comfortable; the distributed path has no
# size limit.
#
# Crossover re-measured r9 (the r8 single-run "inversion at sf1" was
# box noise): warm medians over 4 runs, driver vs forced-distributed —
# sf0.1 1.96s vs 6.39s, sf1 3.28s vs 6.71s. The driver path wins at
# both benched scales; the distributed path's fixed cost (~5 propagation
# jobs + convergence collects) dominates until the edge list itself is
# collect-hostile, which is what this constant bounds.
DRIVER_CC_MAX_EDGES = 2_000_000


def _cc_use_driver(n_symmetric_edges: int, driver_cc_max_edges: int) -> bool:
    """The size-gate decision, factored out so tests pin it: the input
    is the count of the SYMMETRIZED edge list (2 rows per pair)."""
    return n_symmetric_edges <= 2 * driver_cc_max_edges


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_cc_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Transitive closure of near-duplicate pairs → ``(doc_id,
    cluster_id)`` where ``cluster_id`` is the minimum doc id reachable
    through any chain of pairs (the duplicate-*cluster* extraction the
    reference only counts, deduplicator.py:205-214).

    Size-adaptive: the deduplicated undirected edge set is counted once
    (cheap — it is checkpointed anyway for the propagation loop); at or
    under ``driver_cc_max_edges`` the closure is solved with driver-side
    union-find (milliseconds, zero Spark rounds) and the labels are
    parallelized back. Larger graphs run the distributed min-label
    propagation below. Both paths produce the identical min-reachable-id
    labeling — the driver path is an optimization, not an approximation
    (equality pinned in tests/test_dedup.py).

    Min-label propagation with pointer jumping: every node starts
    labeled with itself; each round (a) pulls the minimum label across
    its neighbors, then (b) jumps to its label's label
    (``label ← label(label)``). Neighbor-min alone needs
    graph-diameter rounds (a 19-deep chain at sf0.1 took 19 joins);
    the jump halves remaining chain depth every round, so convergence
    is O(log diameter) — the same round-count bound as the
    large-star/small-star contraction, with one extra self-join per
    round instead of a re-built edge set. The unique fixpoint is the
    min reachable id either way, independent of evaluation order.
    ``localCheckpoint`` truncates lineage between rounds; ``max_iter``
    is a safety bound.

    Convergence is detected via ``sum(label)``, which strictly decreases
    until fixpoint (labels only ever decrease). The sum runs over
    ``decimal(38,0)`` — a billion nodes with ~1e10 ids already exceed
    int64, and Spark 4 ANSI mode throws on overflow instead of wrapping.
    """
    sym = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    edges = sym.union(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint(eager=True)  # reused every round
    if _cc_use_driver(edges.count(), driver_cc_max_edges):
        labeled = _driver_union_find(
            edges.collect(), "src", "dst"
        )
        spark = pairs.sparkSession
        return spark.createDataFrame(
            labeled, "doc_id long, cluster_id long"
        )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    _label_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    row = labels.agg(_label_sum.alias("s")).collect()[0]
    if row["s"] is None:  # no pairs → no clusters
        return labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
        )
    prev_sum = row["s"]
    # Two propagation steps per materialization: the checkpoint + collect
    # convergence check carry fixed per-round job overhead, so batching
    # steps trades a little duplicated lineage for half the rounds
    # (measured on the sf0.1 star graph: 11 rounds/5.1s at 1 step,
    # 6 rounds/4.2s at 2, 3 steps regresses — lineage growth wins out).
    # The pointer jump runs ONCE per round (after the second prop step),
    # not once per step: the r14 schedule sweep on the same graph
    # measured prop+jump/prop+jump at 6 rounds / 4.5-7.6s vs
    # prop/prop+jump at the SAME 6 rounds / 3.5s — the second jump's
    # two extra label-sized shuffles bought no rounds. One jump per
    # round still halves remaining chain depth every round, keeping
    # convergence O(log diameter); the fixpoint (and therefore the
    # labeling) is schedule-independent because labels only decrease
    # and the sum check only stops on a full no-change round.
    steps_per_round = 2
    from pyspark.sql import Observation

    for _ in range(max_iter):
        merged = labels
        for step in range(steps_per_round):
            prop = edges.join(
                merged.withColumnRenamed("node", "dst"), on="dst"
            ).select(F.col("src").alias("node"), "label")
            merged = (
                merged.unionByName(prop).groupBy("node").agg(F.min("label").alias("label"))
            )
            if step != steps_per_round - 1:
                continue
            # pointer jump: label ← label(label). Every label value is a
            # node id (labels start as node→node and min-merge only moves
            # existing ids around), so the left join misses only at the
            # fixpoint root. Measured: no-jump converges in graph-diameter
            # rounds, one jump per round halves remaining chain depth.
            jump = merged.select(
                F.col("node").alias("label"), F.col("label").alias("_jlabel")
            )
            merged = merged.join(jump, on="label", how="left").select(
                "node", F.coalesce("_jlabel", "label").alias("label")
            )
        # the convergence sum rides the checkpoint's own action as an
        # Observation instead of a separate agg+collect job — one job
        # and one full labels scan saved per round (r14; values
        # identical, the observed sum IS the same _label_sum)
        obs = Observation()
        new_labels = merged.observe(obs, _label_sum.alias("s")).localCheckpoint(
            eager=True
        )
        new_sum = obs.get["s"]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _main() -> None:
    """Module demo: exact + MinHash dedup stats on the sf0.001 documents."""
    from llm_training_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="dedup-demo")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact_dedup_stats(docs).show(truncate=False)
    minhash_dedup_stats(docs, cfg=MinHashConfig(num_perm=64, num_bands=16)).show(
        truncate=False
    )


if __name__ == "__main__":
    _main()


def dedup_keep_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: MinHashConfig = MinHashConfig(),
    *,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup removal that keeps the HIGHEST-``score_col`` member of
    each duplicate cluster (ties → smallest id) instead of the smallest
    id — the curated-corpus policy: when a document exists in several
    versions, keep the best one, not an arbitrary one.

    The reference keeps first-seen (deduplicator.py:167-169, insertion-
    order-dependent); ``minhash_dedup`` replaces that with the
    deterministic min-id winner; this variant upgrades the winner rule
    to quality-aware while staying fully deterministic.

    Plan: star edges per LSH bucket → connected components
    (``dedup_clusters``) → one ranking window per cluster. Docs in no
    cluster pass through untouched (left join, cluster label defaults
    to the doc itself). Window partitions are cluster-sized — bounded by
    near-dup group sizes, never corpus-sized.

    ``signatures``: a precomputed materialized signature table
    (``cached_minhash_signatures`` / ``persist_minhash_signatures``) —
    at 100 TB the signature pass dominates, so feed every consumer from
    one pass instead of re-scanning raw text per call. Bit-identical
    output either way (pinned in tests/test_dedup.py).
    """
    stars = minhash_bucket_stars(df, text_col, id_col, cfg, signatures=signatures)
    clusters = dedup_clusters(stars).withColumnRenamed("doc_id", id_col)
    # Decide winners on SLIM rows (guide §8): the ranking needs only
    # (cluster, score, id), and only CLUSTERED docs compete — the old
    # form shuffled the whole corpus (text included) through a window
    # whose singleton partitions always ranked 1. Docs in no cluster are
    # never losers, so the anti-join passes them through untouched —
    # identical rows (oracle ⊕), full-width shuffle gone; the loser set
    # (cluster members minus winners) is near-dup-sized, so the
    # anti-join's build side broadcasts at any realistic dup rate.
    member_scores = clusters.join(df.select(id_col, score_col), on=id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    losers = (
        member_scores.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") > 1)
        .select(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def minhash_recall(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: MinHashConfig = MinHashConfig(),
    *,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """One-row recall audit of the MinHash pipeline against EXACT
    distinct-shingle Jaccard ground truth at ``cfg.threshold`` — the
    same discipline as ``similarity.ann_recall`` / ``semdedup_recall``:
    every approximate path in the engine states a measured recall.

    Two stages are audited separately, because they lose different
    pairs: ``band_recall`` (does a true pair share ANY LSH band?) and
    ``emit_recall`` (does it also survive the est-Jaccard verify —
    the estimator's variance at 16 perms can reject true pairs a band
    caught).

    Ground truth cost is ``sum over shingles of df(s)^2`` via the
    shingle equi-join (never an all-pairs cross join); at 100 TB run
    the audit on a uniform sample — the recall estimate stays unbiased
    because both sides see the same sample.

    This is the uncapped row of ``minhash_cap_recall``.
    """
    return minhash_cap_recall(
        df, text_col, id_col, cfg, caps=(None,), signatures=signatures
    ).select(
        "n_true_pairs",
        "n_band_caught",
        "n_emitted_caught",
        "band_recall",
        "emit_recall",
    )


def _shingle_jaccard_truth(
    df: DataFrame,
    text_col: str,
    id_col: str,
    cfg: MinHashConfig,
) -> DataFrame:
    """Exact distinct-shingle Jaccard >= threshold pairs — the ground
    truth both recall audits score against (cost = sum over shingles of
    df(s)^2 via the shingle equi-join, never all-pairs; at 100 TB run
    on a uniform sample — unbiased because both sides see the same
    sample). Returns a MATERIALIZED (id_a, id_b) frame."""
    sgs = (
        df.select(
            F.col(id_col),
            F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ").alias("_norm"),
        )
        .select(
            F.col(id_col),
            F.explode(
                char_shingles(F.col("_norm"), cfg.shingle_size, pre_normalized=True)
            ).alias("_sg"),
        )
        .localCheckpoint(eager=True)
    )
    sizes = sgs.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("_sz"))
    a = sgs.select(F.col(id_col).alias("id_a"), "_sg")
    b = sgs.select(F.col(id_col).alias("id_b"), "_sg")
    inter = (
        a.join(b, on="_sg")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_i"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sa"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_sb"))
    return (
        inter.join(sa, on="id_a")
        .join(sb, on="id_b")
        .filter(
            F.col("_i")
            / (F.col("_sa") + F.col("_sb") - F.col("_i")).cast("double")
            >= F.lit(cfg.threshold)
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )


def minhash_cap_recall(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: MinHashConfig = MinHashConfig(),
    caps: tuple[int | None, ...] = (None, 16, 4),
    *,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """The band-bucket cap's recall/cost table (VERDICT r10 #2): one
    row per cap setting — candidate-pair volume (the cost the cap
    bounds) next to band/emit recall against the SAME exact Jaccard
    ground truth, so the "how much pair volume does capping boilerplate
    bands save, for how much recall" trade reads off one hash-checked
    table. Truth and signatures are computed ONCE; each cap re-runs
    only the banded self-join (exactly what the knob changes).
    """
    # truth via _shingle_jaccard_truth: the exploded shingle table is
    # materialized there because it feeds three branches (sizes + both
    # join sides) in ONE job — unchecked, the explode and corpus scan
    # run three times
    truth = _shingle_jaccard_truth(df, text_col, id_col, cfg)
    sig = _signature_source(df, text_col, id_col, cfg, signatures)
    out: DataFrame | None = None
    for cap in caps:
        band = minhash_band_candidates(sig, id_col, cfg, cap).localCheckpoint(
            eager=True
        )
        emitted = minhash_candidate_pairs_from_signatures(
            sig, id_col, cfg, candidates=band
        ).select("id_a", "id_b")
        tot = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
        n_cand = band.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidate_pairs")
        )
        band_hits = truth.join(band, on=["id_a", "id_b"], how="left_semi").agg(
            F.count(F.lit(1)).cast("long").alias("n_band_caught")
        )
        emit_hits = truth.join(
            emitted, on=["id_a", "id_b"], how="left_semi"
        ).agg(F.count(F.lit(1)).cast("long").alias("n_emitted_caught"))

        def _recall(num: str) -> Column:
            return F.when(
                F.col("n_true_pairs") == 0, F.lit(None).cast("double")
            ).otherwise(
                F.round(F.col(num) / F.col("n_true_pairs").cast("double"), 4)
            )

        row = (
            tot.crossJoin(n_cand)
            .crossJoin(band_hits)
            .crossJoin(emit_hits)
            .select(
                F.lit("uncapped" if cap is None else f"cap{cap}").alias(
                    "method"
                ),
                F.lit(-1 if cap is None else cap).cast("int").alias(
                    "max_bucket_size"
                ),
                "n_candidate_pairs",
                "n_true_pairs",
                "n_band_caught",
                "n_emitted_caught",
                _recall("n_band_caught").alias("band_recall"),
                _recall("n_emitted_caught").alias("emit_recall"),
            )
            .localCheckpoint(eager=True)
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out


def simhash_recall(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    num_bands: int = 4,
    cos_threshold: float | None = None,
    hash_family: str = "md5",
) -> DataFrame:
    """One-row recall audit of SimHash against EXACT token-count-vector
    cosine ground truth — completing the audited-approximation quartet
    (ANN, SemDeDup, MinHash, SimHash).

    SimHash's hamming distance estimates the angle between token-count
    vectors (h/64 ~ theta/pi), so ``max_hamming`` targets pairs with
    cosine >= cos(pi*max_hamming/64) — the default ``cos_threshold``.
    With ``num_bands > max_hamming`` the band stage is lossless by
    pigeonhole, so what this audits is the ESTIMATOR's variance: a
    64-bit fingerprint of a short document routinely mis-ranks angles,
    and the measured recall says by how much.

    Ground truth is the exact sparse cosine via a word equi-join
    (cost sum over words of df(w)^2 — stopword-skewed; AQE splits the
    hot keys). At 100 TB run the audit on a uniform sample; the
    estimate stays unbiased because both sides see the same sample.
    """
    import math

    t = (
        cos_threshold
        if cos_threshold is not None
        else round(math.cos(math.pi * max_hamming / 64), 9)
    )
    # materialized: the word-count table feeds three branches (norms +
    # both join sides) in one job — see minhash_recall
    wc = (
        df.select(
            F.col(id_col),
            F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("_w"),
        )
        .groupBy(id_col, "_w")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint(eager=True)
    )
    norms = wc.groupBy(id_col).agg(
        F.sum(F.col("_c") * F.col("_c")).cast("long").alias("_n2")
    )
    a = wc.select(F.col(id_col).alias("id_a"), "_w", F.col("_c").alias("_ca"))
    b = wc.select(F.col(id_col).alias("id_b"), "_w", F.col("_c").alias("_cb"))
    dots = (
        a.join(b, on="_w")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("_ca") * F.col("_cb")).cast("long").alias("_dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("_n2").alias("_na2"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("_n2").alias("_nb2"))
    truth = (
        dots.join(na, on="id_a")
        .join(nb, on="id_b")
        .filter(
            F.col("_dot")
            / F.sqrt(F.col("_na2").cast("double") * F.col("_nb2"))
            >= F.lit(t)
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    emitted = simhash_near_dup_pairs(
        df,
        text_col,
        id_col,
        max_hamming=max_hamming,
        num_bands=num_bands,
        hash_family=hash_family,
    ).select("id_a", "id_b")
    tot = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    hits = truth.join(emitted, on=["id_a", "id_b"], how="left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_caught")
    )
    return tot.crossJoin(hits).select(
        "n_true_pairs",
        "n_caught",
        F.when(F.col("n_true_pairs") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(F.col("n_caught") / F.col("n_true_pairs").cast("double"), 4)
        )
        .alias("recall"),
    )


# --- Soft dedup: downweight duplicates instead of dropping them -----------
#
# Hard dedup (D5/D8) deletes every non-winner; soft dedup keeps all rows
# and assigns each a sampling weight 1/n over its duplicate group, so the
# duplicated CONTENT contributes one document's worth of training mass no
# matter how many copies the crawl found. This is the standard
# "downweight, don't drop" alternative in LLM corpus curation (the
# reference's deduplicator.py:299-304 only drops; this extends the same
# digest/cluster machinery). Weights are integer ppm (1_000_000 div n) —
# exact on both engines, summable without float drift.


def exact_soft_dedup_weights(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc ``(id, n_copies, soft_weight_ppm)`` over the exact-content
    digest groups of D8.

    Plan: project to ``(id, digest)`` first, then ONE hash shuffle for the
    unordered count window — no join-back, and the shuffle carries two
    columns, not the document text. Duplicate multiplicity is the only
    skew (a k-copy group is k rows in one partition), which is exactly
    the quantity being measured.
    """
    w = Window.partitionBy("_h")
    return (
        df.select(F.col(id_col), exact_hash(F.col(text_col)).alias("_h"))
        .withColumn("n_copies", F.count(F.lit(1)).over(w).cast("long"))
        .select(
            id_col,
            "n_copies",
            F.expr("1000000 div n_copies").cast("long").alias("soft_weight_ppm"),
        )
    )


def cluster_soft_dedup_weights(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    carry: Sequence[str] = (),
) -> DataFrame:
    """Near-dup soft weights: ``1/|cluster|`` ppm over ``dedup_clusters``
    labels; docs outside every cluster keep full weight (singleton).

    The cluster-size table is tiny (one row per near-dup cluster) so the
    size join broadcasts; the label join is id-to-id. Composes with any
    pair graph the clusterer accepts (MinHash bands, SimHash, n-gram
    Jaccard).

    ``carry`` lets a consumer ride extra ``df`` columns through the ONE
    label join instead of re-joining the weights back onto the corpus by
    id afterwards (each doc has exactly one weight row, so carrying a
    column through is join-equivalent by construction).
    """
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("_sz")
    )
    labeled = clusters.join(F.broadcast(sizes), on="cluster_id").select(
        F.col("doc_id").alias(id_col), "_sz"
    )
    return (
        df.select(id_col, *carry)
        .join(labeled, on=id_col, how="left")
        .select(
            id_col,
            *carry,
            F.coalesce(F.col("_sz"), F.lit(1)).cast("long").alias("cluster_size"),
            F.expr("1000000 div coalesce(_sz, 1)").cast("long").alias(
                "soft_weight_ppm"
            ),
        )
    )


def soft_dedup_mass(
    df: DataFrame,
    weights: DataFrame,
    by: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Effective-corpus-size report: per group, raw docs vs the
    soft-weighted document mass (ppm-summed, exact) and how many rows sit
    in multi-copy groups. ``sum(soft_weight_ppm)/1e6`` is "how many
    documents' worth of unique content" — the number a mixture planner
    should budget against, not the raw row count.
    """
    size_col = "n_copies" if "n_copies" in weights.columns else "cluster_size"
    # A weights table that already carries the group column (built with
    # cluster_soft_dedup_weights(carry=[by])) needs no join-back: it has
    # exactly one row per doc, so re-joining df by id is the identity.
    if by in weights.columns:
        joined = weights
    else:
        joined = df.select(id_col, by).join(weights, on=id_col)
    return (
        joined.groupBy(by)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("soft_weight_ppm").cast("long").alias("effective_docs_ppm"),
            F.sum(F.when(F.col(size_col) > 1, 1).otherwise(0))
            .cast("long")
            .alias("downweighted_docs"),
        )
        .orderBy(by)
    )


def novelty_weights(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Similarity-weighted soft dedup: each doc keeps its NOVEL fraction,
    ``1e6 − max est-Jaccard ppm`` against any smaller-id near-dup partner
    (first copy of any content keeps full weight; an 80%-similar later
    copy keeps 200k ppm). The graded refinement of
    ``cluster_soft_dedup_weights``'s flat 1/|cluster|: two 95%-similar
    docs and two 55%-similar docs stop being downweighted identically.

    ``pairs`` is any verified pair table ``(id_a, id_b, est_jaccard)``
    with ``id_a < id_b`` (e.g. ``minhash_candidate_pairs``). One
    pair-table aggregate + one slim left join; docs in no pair keep
    1e6 via the coalesce.
    """
    worst = pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.max("est_jaccard").alias("_mj")
    )
    dup_ppm = F.coalesce(
        F.floor(F.col("_mj") * F.lit(1e6)).cast("long"), F.lit(0)
    )
    return (
        df.select(id_col)
        .join(worst, on=id_col, how="left")
        .select(
            id_col,
            dup_ppm.alias("max_dup_ppm"),
            (F.lit(1_000_000) - dup_ppm).cast("long").alias("novelty_ppm"),
        )
    )


def prefix_dedup(
    df: DataFrame,
    prefix_chars: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the smallest-id row per normalized-PREFIX hash: the mirror
    page whose body is identical but whose tail differs (appended
    footers, share widgets, timestamps — the classic syndication shape
    exact dedup misses and MinHash only catches above its threshold).
    Digest = md5 of the first ``prefix_chars`` characters of the
    whitespace-collapsed, lowercased text, so tail-only variants
    collapse into one canonical doc. Same one-shuffle min-id-winner
    plan as ``exact_dedup``; the digest is 16 bytes regardless of
    document size.
    """
    w = Window.partitionBy("_h").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_h", prefix_hash(F.col(text_col), prefix_chars))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def prefix_hash(text: Column, prefix_chars: int = 256) -> Column:
    """md5 of the whitespace-collapsed lowercased first
    ``prefix_chars`` characters — collapsing BEFORE slicing so
    formatting-only differences inside the window don't split keys."""
    collapsed = F.regexp_replace(F.lower(strip_ws(text)), r"\s+", " ")
    return F.md5(F.encode(F.substring(collapsed, 1, prefix_chars), "UTF-8"))


def prefix_dedup_stats(
    df: DataFrame, prefix_chars: int = 256, text_col: str = "text"
) -> DataFrame:
    """One-row report for the prefix pass: docs, distinct prefixes,
    removable tail-variants, and how many of those exact dedup would
    ALSO have caught (the marginal value of the prefix key is the
    difference). Two map-side-combinable aggregates, no window."""
    ph = prefix_hash(F.col(text_col), prefix_chars)
    eh = exact_hash(F.col(text_col))
    per_prefix = df.groupBy(ph.alias("_p")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct(eh).cast("long").alias("n_exact"),
    )
    return per_prefix.agg(
        F.sum("n").cast("long").alias("total_docs"),
        F.count(F.lit(1)).cast("long").alias("distinct_prefixes"),
        (F.sum("n") - F.count(F.lit(1))).cast("long").alias("prefix_removable"),
        (F.sum("n") - F.sum("n_exact")).cast("long").alias("exact_removable"),
        (F.sum("n_exact") - F.count(F.lit(1)))
        .cast("long")
        .alias("tail_variants_only"),
    )


def split_leakage_stats(
    pairs: DataFrame,
    splits: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Near-duplicate pairs crossing a dataset split — the eval-leakage
    audit exact decontamination misses: a test document whose near-twin
    sits in train inflates eval scores without any verbatim overlap
    (Lee et al. 2021 measured multi-point benchmark gains from exactly
    this). One row per unordered split combination: pair count, distinct
    docs involved, and the ``is_leak`` flag (different splits).

    Docs missing from ``splits`` surface as the ``(untagged)`` split
    value instead of silently dropping their pairs — an inner join here
    would undercount in exactly the audit meant to catch silent leakage
    (ADVICE r9); an ``(untagged)``-involving row is a coverage bug to
    chase, not a pair to hide.

    Plan: the pair table (near-dups only — tiny next to the corpus)
    left-joins the split tags on each side, then two hash aggregates;
    the docs-involved count explodes the 2-element id array per pair, so
    nothing scales beyond the pair volume already paid for.
    """
    a = splits.select(F.col(id_col).alias("id_a"), F.col(split_col).alias("_sa"))
    b = splits.select(F.col(id_col).alias("id_b"), F.col(split_col).alias("_sb"))
    untag = F.lit("(untagged)")
    tagged = (
        pairs.select("id_a", "id_b")
        .join(a, on="id_a", how="left")
        .join(b, on="id_b", how="left")
        .withColumn("_sa", F.coalesce("_sa", untag))
        .withColumn("_sb", F.coalesce("_sb", untag))
        .select(
            F.least("_sa", "_sb").alias("split_lo"),
            F.greatest("_sa", "_sb").alias("split_hi"),
            "id_a",
            "id_b",
        )
    )
    n_pairs = tagged.groupBy("split_lo", "split_hi").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    n_docs = (
        tagged.select(
            "split_lo", "split_hi", F.explode(F.array("id_a", "id_b")).alias("_id")
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count_distinct("_id").cast("long").alias("n_docs"))
    )
    return (
        n_pairs.join(n_docs, on=["split_lo", "split_hi"])
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            "n_docs",
            (F.col("split_lo") != F.col("split_hi")).alias("is_leak"),
        )
        .orderBy("split_lo", "split_hi")
    )


def eval_leakage_ppm(
    pairs: DataFrame,
    splits: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
    eval_value: str = "eval",
) -> DataFrame:
    """The enforcement form of the leakage audit (VERDICT r10 #5):
    one row — eval docs, eval docs with a near-dup twin OUTSIDE the
    eval split, and that count as exact ppm of the eval set. This is
    the number a pipeline GATE compares against ``max_leakage_ppm``:
    ``split_leakage_stats`` tells you where leakage lives; this tells
    you whether the holdout is shippable.

    Docs missing from ``splits`` count as non-eval (the leak-safe
    reading: an untagged twin still invalidates the eval doc). Plan:
    the pair table left-joins tags on both sides (pair-volume-bounded),
    one distinct on leaked eval ids, two tiny aggregates.
    """
    a = splits.select(F.col(id_col).alias("id_a"), F.col(split_col).alias("_sa"))
    b = splits.select(F.col(id_col).alias("id_b"), F.col(split_col).alias("_sb"))
    tagged = (
        pairs.select("id_a", "id_b")
        .join(a, on="id_a", how="left")
        .join(b, on="id_b", how="left")
    )
    ev = F.lit(eval_value)
    leaked = (
        tagged.select(
            F.explode(
                F.when(
                    (F.col("_sa") == ev) & (F.coalesce("_sb", F.lit("")) != ev),
                    F.array("id_a"),
                )
                .when(
                    (F.col("_sb") == ev) & (F.coalesce("_sa", F.lit("")) != ev),
                    F.array("id_b"),
                )
                # empty fallback typed from the actual id columns, not a
                # hardcoded array<long> — string-id corpora (schemas.py
                # documents.doc_id variants) would otherwise fail analysis
                # with mismatched when/otherwise branch types (ADVICE r11)
                .otherwise(F.slice(F.array("id_a"), 1, 0))
            ).alias("_id")
        )
        .agg(F.count_distinct("_id").cast("long").alias("leaked_eval_docs"))
    )
    total = splits.filter(F.col(split_col) == ev).agg(
        F.count(F.lit(1)).cast("long").alias("eval_docs")
    )
    return total.crossJoin(leaked).select(
        "eval_docs",
        "leaked_eval_docs",
        F.when(F.col("eval_docs") == 0, F.lit(0))
        .otherwise(
            (F.col("leaked_eval_docs") * F.lit(1_000_000)) / F.col("eval_docs")
        )
        .cast("long")
        .alias("leakage_ppm"),
    )
