"""Size-aware partitioning for byte-skewed tables (media payloads).

Row-count partitioning assumes rows are the same size; a multimodal
table mixes 2 KB thumbnails with 200 MB videos, so count-balanced
partitions are byte-skewed and the largest partition dominates stage
wall-clock (the straggler problem flagged in operators/multimodal.py).

`size_balanced_partitions` rebalances by BYTES with two tiers:
- small rows hash into `ceil(total_bytes / target_bytes)` buckets —
  expected bytes per bucket ≈ target (law of large numbers; one
  aggregate job to size the bucket count, no global sort);
- rows whose single payload is ≥ target each get a DEDICATED bucket
  (a 200 MB video never shares a partition it would overflow; the
  window ordering them is over these few rows only, never the corpus).

This is the map-side shape that survives 100 TB: one bounded agg, one
hash shuffle, no global ordering of the full table.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


FAN_OUT_BYTES_PER_TASK = 64 * 1024


def fan_out(df: DataFrame, *keys: str, min_tasks: int | None = None,
            bytes_per_task: int = FAN_OUT_BYTES_PER_TASK) -> DataFrame:
    """Scale-adaptive scan widening for compute-heavy map stages.

    Unsplittable input is the one skew the scan cannot fix itself
    (optimization guide §2.5): a table that arrives as a single parquet
    row group — or any file count below the core count — plans as ONE
    scan task, so every downstream narrow stage (codec decode, shingle
    explode, partial aggregation) runs serially no matter how many
    cores the cluster has. The guide's remedy is "repartition
    immediately after the read", made adaptive here:

    - If the current plan already yields >= the target partitions,
      this is a NO-OP — at production scale a table is thousands of
      splits and no exchange is added.
    - Otherwise repartition to the target. With `keys` (pass a
      high-cardinality column like the row id) the exchange hash
      partitions — deterministic placement, no sort-before-repartition
      pass; without keys it falls back to round-robin.

    The target is an explicit `min_tasks` as given (a floor: the size
    cap never lowers it), else `min(defaultParallelism,
    ceil(input_bytes / bytes_per_task))` — SIZE-CAPPED (guide §2,
    r13): widening exists to break 1-task serialization, and its
    benefit saturates long before its per-task cost stops growing.
    Measured on the LZW codec stage (581 KB corpus, 32 cores): width
    32 costs ~100 ms of extra COLD time per task past the plateau
    (Python worker spawn burst) and ~5 ms per task steady, while the
    per-KB compute is ~3.8 ms — cold breakeven ≈ 26 KB/task, so the
    64 KB default keeps ~2.5× margin. 32c cold 4.63 s (uncapped 32
    tasks) → 2.35 s (capped ~10); steady 0.70 → 0.60; the serial
    no-widening extreme is 2.2 s STEADY, so the cap must never
    collapse to 1 task on compute-heavy small inputs — 16 MB/task
    (the naive §2.2 shuffle sizing) would do exactly that. At scale
    the cap is inert: any input above cores×64 KB widens to full
    parallelism (and real tables arrive as many splits, so the whole
    call no-ops). Input bytes come from the optimizer's size estimate
    (`optimizedPlan().stats().sizeInBytes`) — already computed for
    planning; on a stats failure the cap is skipped rather than
    guessed, with one logged warning.

    The explicit partition COUNT matters: AQE never coalesces a
    user-specified numPartitions, while a bare repartition(col) at this
    data size would be coalesced right back to one partition.

    Known limits (apply it to SCAN-descended inputs only):
    - The probe reads the PRE-AQE physical plan, so a shuffle-descended
      input reports spark.sql.shuffle.partitions even when AQE will
      coalesce it to 1 at runtime — the widening silently no-ops there.
    - The .rdd probe forces a physical-plan translation on the driver
      per call — a fixed planning cost paid even when the result is a
      no-op. Call fan_out once per pipeline, on the scan side.
    """
    target = min_tasks or df.sparkSession.sparkContext.defaultParallelism
    if bytes_per_task and not min_tasks:
        try:
            size = int(str(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            ))
            target = min(target, max(1, -(-size // bytes_per_task)))
        except Exception as e:  # stats unavailable — widen uncapped
            logging.getLogger(__name__).warning(
                "fan_out: no size estimate (%s); widening to %d tasks "
                "uncapped", e, target)
    if df.rdd.getNumPartitions() >= target:
        return df
    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)


def size_balanced_partitions(df: DataFrame, key_col: str, size_col: str,
                             target_bytes: int) -> DataFrame:
    """Repartition `df` so each partition holds ≈ `target_bytes` of
    `size_col`, with oversized rows isolated one-per-partition.

    Deterministic: bucket ids derive from xxhash64(key_col) and the
    byte sizes, not from input partitioning. Returns the repartitioned
    frame with a `__bucket` column (callers may drop it after writing).
    """
    total, n_big = df.select(
        F.sum(F.when(F.col(size_col) < target_bytes, F.col(size_col))
              .otherwise(F.lit(0))).alias("small_bytes"),
        F.sum(F.when(F.col(size_col) >= target_bytes, 1).otherwise(0)).alias("n_big"),
    ).collect()[0]
    small_bytes = int(total or 0)
    n_big = int(n_big or 0)
    n_small = max(1, math.ceil(small_bytes / target_bytes))

    big_w = W.orderBy(key_col)  # over the few oversized rows only
    small = df.filter(F.col(size_col) < target_bytes).withColumn(
        "__bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_small)).cast("int")
    )
    big = df.filter(F.col(size_col) >= target_bytes).withColumn(
        "__bucket", (F.lit(n_small) + F.row_number().over(big_w) - 1).cast("int")
    )
    out = small.unionByName(big)
    return out.repartition(n_small + n_big, "__bucket")


def zorder_key(df: DataFrame, cols: list[str], bits: int = 10):
    """Z-order (Morton) curve key over `cols`: per-column min/max
    normalization to `bits`-bit buckets, then bit interleaving.

    Sorting/range-partitioning by this key clusters rows so that EVERY
    listed column's values are locally contiguous — each output file
    spans a small box of the multi-dimensional space, so file-level
    min/max statistics prune scans on ANY of the columns, not just the
    leading sort key (the Delta/Iceberg OPTIMIZE ZORDER layout,
    expressed as plain expressions).

    Returns (df_with_bounds, key_column): bounds come from one 1-row
    aggregate broadcast into the plan — no global sort, no sampling.
    """
    out, buckets = _bucketize(df, cols, bits)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, bucket in enumerate(buckets):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(buckets) + i))
    return out, z


def _bucketize(df: DataFrame, cols: list[str], bits: int):
    """Shared space-filling-curve prep: min/max-normalize every column
    to a `bits`-bit integer bucket. Bounds come from one 1-row
    aggregate broadcast into the plan — no global sort, no sampling."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).cast("double").alias(f"__mn_{c}"),
                 F.max(c).cast("double").alias(f"__mx_{c}")]
    bounds = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(bounds))
    top = (1 << bits) - 1
    buckets = []
    for c in cols:
        mn, mx = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
        span = F.when(mx > mn, mx - mn).otherwise(F.lit(1.0))
        frac = (F.col(c).cast("double") - mn) / span
        buckets.append(F.least(
            F.floor(frac * (top + 1)).cast("long"), F.lit(top)
        ))
    return out, buckets


def hilbert_index(coords, bits: int):
    """Hilbert curve index of integer coordinate rows — the numpy core
    (vectorized Skilling 2004 "Programming the Hilbert curve"
    axes→transpose transform, then MSB-first bit interleave of the
    transpose words). `coords` is an (n, d) int array of `bits`-bit
    buckets; returns (n,) int64 keys in [0, 2^(d·bits)).

    Unlike the Morton key, every unit step along the Hilbert curve
    moves exactly ONE coordinate by 1 (no diagonal jumps across the
    space), so consecutive rows land in genuinely adjacent cells and
    each range-partitioned file covers a tighter min/max box — the
    property the adjacency pytest pins exhaustively at bits=4.
    """
    import numpy as np

    X = np.ascontiguousarray(coords, dtype=np.uint64).copy()
    n, d = X.shape
    if d * bits > 62:
        raise ValueError("d*bits must fit a signed 64-bit key")
    M = np.uint64(1) << np.uint64(bits - 1)
    Q = M
    while Q > np.uint64(1):
        P = Q - np.uint64(1)
        for i in range(d):
            hi = (X[:, i] & Q) != 0
            X[hi, 0] ^= P                                  # invert
            t = (X[~hi, 0] ^ X[~hi, i]) & P                # exchange
            X[~hi, 0] ^= t
            X[~hi, i] ^= t
        Q >>= np.uint64(1)
    for i in range(1, d):                                  # Gray encode
        X[:, i] ^= X[:, i - 1]
    t = np.zeros(n, dtype=np.uint64)
    Q = M
    while Q > np.uint64(1):
        hi = (X[:, d - 1] & Q) != 0
        t[hi] ^= Q - np.uint64(1)
        Q >>= np.uint64(1)
    for i in range(d):
        X[:, i] ^= t
    key = np.zeros(n, dtype=np.uint64)
    for j in range(bits - 1, -1, -1):                      # interleave
        for i in range(d):
            key = (key << np.uint64(1)) | (
                (X[:, i] >> np.uint64(j)) & np.uint64(1)
            )
    return key.astype("int64")


def hilbert_key(df: DataFrame, cols: list[str], bits: int = 10):
    """Hilbert-curve key over `cols`: same min/max bucket normalization
    as zorder_key, then the Skilling transform. Same contract as
    zorder_key: returns (df_with_bounds, key_column).

    The transform is an Arrow-vectorized pandas_udf over the bucket
    integers rather than unrolled expressions: the Skilling rounds
    rewrite X[0] conditionally (bits-1)·d times, and each rewrite
    references the previous X[0] twice — as inline expressions the
    tree doubles per round (2^((bits-1)·d) nodes for Catalyst). The
    numpy core is a few hundred bitwise ops per Arrow batch, and the
    key is only ever computed write-side (OPTIMIZE), never on the
    query path.
    """
    out, buckets = _bucketize(df, cols, bits)

    # no type hints: pandas_udf cannot infer from a *args signature —
    # the returnType string pins SCALAR long
    @F.pandas_udf("long")
    def _hkey(*bucket_cols):
        import numpy as np
        import pandas as pd

        # NULL clustered values arrive as NaN: mirror the Morton path
        # (NULL bucket → NULL key, repartitionByRange groups the null
        # keys together) instead of faulting on the int64 conversion
        coords = np.column_stack(
            [c.to_numpy(dtype="float64", na_value=np.nan)
             for c in bucket_cols]
        )
        ok = ~np.isnan(coords).any(axis=1)
        keys = pd.array([pd.NA] * len(coords), dtype="Int64")
        if ok.any():
            keys[ok] = hilbert_index(coords[ok].astype("int64"), bits)
        return pd.Series(keys)

    return out, _hkey(*buckets)


def zorder_write(df: DataFrame, cols: list[str], path: str,
                 n_files: int = 16, bits: int = 10) -> None:
    """Materialize `df` as `n_files` parquet files range-partitioned by
    the Z-order key: each file covers a compact box in every `cols`
    dimension, so min/max stats prune on any of them."""
    keyed, z = zorder_key(df, cols, bits)
    (
        keyed.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .drop("__z", *[c for c in keyed.columns if c.startswith("__mn_")
                       or c.startswith("__mx_")])
        .write.mode("overwrite").parquet(path)
    )
