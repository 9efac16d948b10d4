"""Broadcast Bloom filter for incremental dedup at corpus scale.

The exact incremental dedup (``dedup.exact_dedup_against_corpus``) is an
anti-join: every new document shuffles against the historical digest
table. At 100 TB of history that join is the dominant cost even though
almost every new document is NOT a duplicate. The classic fix is a
Bloom filter over the historical digests, broadcast to executors: rows
whose digest is definitely-absent (the overwhelming majority) skip the
join entirely; only maybe-present rows — false-positive-rate of the
filter times the batch, plus the true duplicates — reach the exact
anti-join. No false negatives: a true duplicate can never pass the
pre-filter, so the composition is bit-identical to the plain anti-join
(pinned in tests).

Construction is Spark-first: the k bit positions are computed JVM-side
with ``xxhash64(col, seed)`` (codegen, no Python in the row path); the
only Python is a ``mapInPandas`` stage that ORs positions into one
numpy bitmap per partition, and a driver fold ORing the handful of
partition bitmaps. Scala Spark exposes ``stat.bloomFilter`` with the
same architecture; PySpark does not, hence this module.

Sizing: ``optimal_num_bits(n, fpr)`` gives the textbook m for n keys at
a target false-positive rate (~9.6 bits/key at 1%). A billion-digest
history at 1% is ~1.2 GB — still broadcastable; shard by digest prefix
above that.
"""

from __future__ import annotations

import math
import threading
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

__all__ = [
    "BloomFilter",
    "optimal_num_bits",
    "optimal_num_hashes",
    "build_bloom_filter",
    "with_bloom_maybe_contains",
    "bloom_incremental_new_docs",
]


@dataclass(frozen=True)
class BloomFilter:
    """Packed bitmap + parameters. ``bits`` is a little-bit-order packed
    uint8 array of length ceil(num_bits/8)."""

    bits: bytes
    num_bits: int
    num_hashes: int

    def might_contain_positions(self, pos: np.ndarray) -> np.ndarray:
        """Vectorized membership for an (n, k) position matrix."""
        arr = np.frombuffer(self.bits, dtype=np.uint8)
        byte_idx = pos >> 3
        bit_mask = np.left_shift(1, (pos & 7).astype(np.uint8), dtype=np.uint8)
        return ((arr[byte_idx] & bit_mask) != 0).all(axis=1)


def optimal_num_bits(n_keys: int, fpr: float = 0.01) -> int:
    """Textbook m = -n·ln(p)/ln(2)², rounded up to a whole byte."""
    m = int(math.ceil(-n_keys * math.log(fpr) / (math.log(2) ** 2)))
    return max(64, (m + 7) // 8 * 8)


def optimal_num_hashes(num_bits: int, n_keys: int) -> int:
    """Textbook k = (m/n)·ln(2)."""
    return max(1, int(round(num_bits / max(n_keys, 1) * math.log(2))))


def _positions(col: Column, num_bits: int, num_hashes: int) -> Column:
    """ARRAY<LONG> of the k bit positions for a value — pure JVM
    expressions (xxhash64 is codegen'd; pmod keeps positions
    non-negative)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(num_bits))
            for seed in range(num_hashes)
        ]
    )


def build_bloom_filter(
    df: DataFrame,
    col: str,
    num_bits: int,
    num_hashes: int | None = None,
    expected_keys: int | None = None,
) -> BloomFilter:
    """Distributed Bloom construction: JVM-hashed positions → one numpy
    bitmap per partition (``mapInPandas``) → driver OR-fold over the
    partition bitmaps. Data volume to the driver is
    ``num_partitions × num_bits/8`` bytes, independent of row count.
    """
    if num_hashes is None:
        num_hashes = optimal_num_hashes(
            num_bits, expected_keys if expected_keys else max(df.count(), 1)
        )
    n_bytes = (num_bits + 7) // 8
    pos_df = df.select(_positions(F.col(col), num_bits, num_hashes).alias("pos"))

    def _partition_bitmap(batches):
        bits = np.zeros(n_bytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            seen = True
            p = np.concatenate(pdf["pos"].to_numpy())
            np.bitwise_or.at(bits, p >> 3, np.left_shift(1, (p & 7).astype(np.uint8), dtype=np.uint8))
        if seen:
            yield pd.DataFrame({"bitmap": [bits.tobytes()]})

    parts = pos_df.mapInPandas(_partition_bitmap, "bitmap binary").collect()
    merged = np.zeros(n_bytes, dtype=np.uint8)
    for row in parts:
        merged |= np.frombuffer(row["bitmap"], dtype=np.uint8)
    return BloomFilter(bits=merged.tobytes(), num_bits=num_bits, num_hashes=num_hashes)


# One Spark broadcast per (application, filter) — repeated per-batch
# calls against the same corpus snapshot must NOT ship (or pin) the
# bitmap again; entries hold the filter alive so id() stays unique.
# BOUNDED: the per-call path (bloom=None) builds a fresh filter each
# time, so an uncapped cache pins one bitmap per batch for the process
# lifetime (~1.2 GB per billion-digest snapshot). LRU over the last
# few snapshots; evicted broadcasts are unpersisted (executor copies
# freed; Spark re-ships lazily if a still-live plan touches one).
_BC_CACHE_MAX = 8
_BC_CACHE: OrderedDict = OrderedDict()
_BC_LOCK = threading.Lock()


def _broadcast_once(spark, bloom: BloomFilter):
    key = (spark.sparkContext.applicationId, id(bloom))
    with _BC_LOCK:
        hit = _BC_CACHE.get(key)
        if hit is not None:
            _BC_CACHE.move_to_end(key)
            return hit[1]
    # Ship OUTSIDE the lock: holding it across a multi-GB broadcast
    # would serialize unrelated filters from other driver threads. The
    # same-filter race is resolved by a second check — the loser
    # discards its duplicate broadcast.
    bc = spark.sparkContext.broadcast(bloom)
    with _BC_LOCK:
        hit = _BC_CACHE.get(key)
        if hit is not None:  # lost the race for this same filter
            _BC_CACHE.move_to_end(key)
            winner = hit[1]
            loser = bc
        else:
            _BC_CACHE[key] = (bloom, bc)
            winner, loser = bc, None
            while len(_BC_CACHE) > _BC_CACHE_MAX:
                _old_key, (_f, old_bc) = _BC_CACHE.popitem(last=False)
                try:
                    old_bc.unpersist(blocking=False)
                except Exception:
                    pass  # context already stopped
    if loser is not None:
        try:
            loser.unpersist(blocking=False)
        except Exception:
            pass
    return winner


def with_bloom_maybe_contains(
    df: DataFrame, col: str, bloom: BloomFilter, flag_col: str = "maybe_dup"
) -> DataFrame:
    """Add a boolean: could ``col`` be in the filter? False is definitive
    (not present); True needs the exact check. Positions are JVM-hashed;
    the bitmap probe is one vectorized numpy gather per Arrow batch. The
    bitmap broadcast is cached per (SparkSession, filter): the intended
    shape is one filter per corpus snapshot probed by many batches, and
    a fresh broadcast per call would pin one bitmap copy per batch for
    the session's lifetime."""
    spark = df.sparkSession
    bc = _broadcast_once(spark, bloom)

    @F.pandas_udf(BooleanType())
    def _probe(pos: pd.Series) -> pd.Series:
        b = bc.value
        if len(pos) == 0:
            return pd.Series([], dtype=bool)
        mat = np.stack(pos.to_numpy())
        return pd.Series(b.might_contain_positions(mat))

    return df.withColumn(
        flag_col,
        _probe(_positions(F.col(col), bloom.num_bits, bloom.num_hashes)),
    )


def bloom_incremental_new_docs(
    new_docs: DataFrame,
    corpus: DataFrame,
    key_col: str = "digest",
    bloom: BloomFilter | None = None,
    num_bits: int | None = None,
) -> DataFrame:
    """Incremental dedup of a new batch against a historical corpus:
    keep exactly the new rows whose ``key_col`` is absent from the
    corpus — bit-identical to ``new_docs.join(corpus, key, 'left_anti')``
    (pinned in tests), but only the Bloom-maybe rows ever reach the
    join. Pass a prebuilt ``bloom`` (built once per corpus snapshot and
    reused across batches — the intended production shape) or let one
    be built at 1% FPR.

    The flagged frame feeds two union branches; lazy, the batch scan and
    the k-hash probe would run twice (Spark has no common-subexpression
    reuse across union branches), defeating the point of the pre-filter
    — so it is checkpointed once.
    """
    if bloom is None:
        n = corpus.count()
        bloom = build_bloom_filter(
            corpus, key_col, num_bits or optimal_num_bits(n), expected_keys=n
        )
    flagged = with_bloom_maybe_contains(new_docs, key_col, bloom)
    # streaming frames cannot checkpoint (and the microbatch engine
    # already materializes each batch once) — the lazy composition is
    # the only valid shape there
    if not new_docs.isStreaming:
        flagged = flagged.localCheckpoint(eager=True)
    definitely_new = flagged.filter(~F.col("maybe_dup")).drop("maybe_dup")
    maybe = flagged.filter(F.col("maybe_dup")).drop("maybe_dup")
    checked = maybe.join(
        corpus.select(key_col).distinct(), on=key_col, how="left_anti"
    )
    return definitely_new.unionByName(checked)
