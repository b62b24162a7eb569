"""Deterministic range planning + collision-free segment→partition mapping.

Two scale-critical pieces of the index build:

1. ``plan_boundaries``: sample the sort key ``(conv_id, turn_idx)`` with a
   deterministic hash filter (single columnar scan, no count pass) and cut it
   into ``num_segments`` range boundaries. Stored in the manifest so re-runs
   and resumes partition identically.
2. ``collision_free_skeys``: ``df.repartition(n, col)`` places a row in
   partition ``murmur3(col) pmod n`` — with segment ids 0..n-1 as keys,
   hash collisions put 2-4 segments in one partition and leave others empty
   (balls-in-bins), a 2-4× straggler tax on the build's only wide shuffle.
   We instead shuffle on a *shuffle key* per segment chosen so that every
   segment lands in its own partition. The Murmur3 below mirrors Spark's
   ``Murmur3Hash`` for a single 32-bit int with seed 42 (same algorithm as
   ``org.apache.spark.sql.catalyst.expressions.Murmur3Hash`` — public
   Murmur3_x86_32); ``tests/test_builder.py`` asserts parity with ``F.hash``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def murmur3_int32(value: int, seed: int = 42) -> int:
    """Murmur3_x86_32 of one 32-bit int, as Spark's ``F.hash`` computes it
    (signed 32-bit result)."""
    k1 = (value & _M32) * 0xCC9E2D51 & _M32
    k1 = _rotl(k1, 15)
    k1 = (k1 * 0x1B873593) & _M32
    h1 = seed ^ k1
    h1 = _rotl(h1, 13)
    h1 = (h1 * 5 + 0xE6546B64) & _M32
    # fmix with total length 4 bytes
    h1 ^= 4
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def collision_free_skeys(n: int) -> list[int]:
    """skeys[i] = smallest int k with murmur3(k) pmod n == i, for i in 0..n-1.

    ``repartition(n, skey)`` then maps segment i → partition i exactly
    (1 segment per task, no stragglers, no empty tasks). Coupon-collector
    bounds make the scan ~n·ln(n); driver-side cost is microseconds per key.
    """
    if n <= 1:
        return [0] * max(n, 1)
    keys: dict[int, int] = {}
    k = 0
    while len(keys) < n:
        b = murmur3_int32(k) % n
        if b < 0:
            b += n
        if b not in keys:
            keys[b] = k
        k += 1
        if k > 1000 * n + 10000:  # unreachable in practice
            raise RuntimeError(f"could not cover {n} shuffle buckets")
    return [keys[i] for i in range(n)]


def sort_key_expr(index_sort: tuple = ()):
    """Sortable single-string key equivalent to ordering by
    ``(*index_sort, conv_id, turn_idx)``.

    ``index_sort`` columns (the ``IndexWriterConfig.setIndexSort`` analogue)
    must be NON-NEGATIVE integer expressions — they are zero-padded to a
    fixed width so string order == numeric order; (conv_id, turn_idx) stays
    the final tie-break, keeping docIDs total-ordered and deterministic."""
    from pyspark.sql import functions as F

    parts = []
    for c in index_sort:
        parts.extend([F.lpad(F.col(c).cast("string"), 19, "0"),
                      F.lit("\x01")])
    return F.concat(
        *parts,
        F.col("conv_id"),
        F.lit("\x01"),
        F.lpad(F.col("turn_idx").cast("string"), 10, "0"),
    )


def plan_boundaries(df, num_segments: int, sample_mod: int = 101,
                    target_per_segment: int = 200, _stats: dict | None = None,
                    index_sort: tuple = ()):
    """Deterministic range boundaries over the sort key — the driver never
    materializes more than O(num_segments) keys.

    Two-stage, fully distributed sampling (both stages are deterministic hash
    filters, so re-runs and resumes plan identical boundaries regardless of
    partitioning):

    1. ``xxhash64(key) % sample_mod == 0`` pre-sample + a distributed count
       of the survivors (one light columnar scan; nothing collected).
    2. A second, salted hash filter thins the pre-sample down to
       ``~target_per_segment × num_segments`` keys; ONLY those reach the
       driver for the quantile cut. At 10^12 turns stage 1 keeps ~10^10 keys
       distributed, and the driver still sees only ~200 × num_segments.

    Falls back to the full key set when the corpus is too small for the
    requested segment count: one collect capped below ``2 × budget`` keys
    (the count the thinning would keep whole anyway), no count over every
    key. ``_stats`` (tests): records how many keys were actually collected
    to the driver.
    """
    from pyspark.sql import functions as F

    if num_segments <= 1:
        return []
    budget = max(target_per_segment * num_segments, 4 * num_segments)
    keys_df = df.select(sort_key_expr(index_sort).alias("k"))
    sampled = keys_df.filter(F.pmod(F.xxhash64("k"), F.lit(sample_mod)) == 0)
    n_sample = sampled.count()
    sample = None
    if n_sample < 4 * num_segments and sample_mod > 1:
        # past the cap (duplicate-heavy keys the pre-sample missed) thin
        # every key as below
        cap = 2 * budget - 1
        small = keys_df.limit(cap + 1).toPandas()["k"]
        if len(small) <= cap:
            sample, n_sample = small.sort_values().to_numpy(), len(small)
        else:
            sampled, n_sample = keys_df, keys_df.count()
    if n_sample == 0:
        return []
    thin_mod = max(1, n_sample // budget)
    while sample is None:
        if thin_mod > 1:
            thin = sampled.filter(
                F.pmod(F.xxhash64(F.concat(F.col("k"), F.lit("\x02b"))),
                       F.lit(thin_mod)) == 0
            )
        else:
            thin = sampled
        sample = thin.toPandas()["k"].sort_values().to_numpy()
        if sample.size < num_segments and thin_mod > 1:
            # degenerate thinning (heavily duplicated keys hash together):
            # deterministically relax the filter and retry — O(log) scans
            # worst case, driver collection still bounded by the filter
            sample, thin_mod = None, max(1, thin_mod // 8)
    if _stats is not None:
        _stats["collected"] = int(sample.size)
        _stats["pre_sample"] = int(n_sample)
    if sample.size == 0:
        return []
    qs = [int(round(i * sample.size / num_segments)) for i in range(1, num_segments)]
    return sorted({str(sample[min(q, sample.size - 1)]) for q in qs})


def segment_col(boundaries: list[str], index_sort: tuple = ()):
    """Arrow-vectorized searchsorted of the sort key over the boundary list."""
    from pyspark.sql.functions import pandas_udf

    barr = np.array(boundaries, dtype=object)

    @pandas_udf("int")
    def seg(key: pd.Series) -> pd.Series:
        if barr.size == 0:
            return pd.Series(np.zeros(len(key), dtype=np.int32))
        idx = np.searchsorted(barr, key.to_numpy(dtype=object), side="left")
        return pd.Series(idx.astype(np.int32))

    return seg(sort_key_expr(index_sort))


def skey_col(skeys: list[int]):
    """Collision-free shuffle key for an existing ``segment`` column."""
    from pyspark.sql import functions as F

    return F.element_at(
        F.array(*[F.lit(int(k)).cast("int") for k in skeys]),
        F.col("segment") + 1,
    )
