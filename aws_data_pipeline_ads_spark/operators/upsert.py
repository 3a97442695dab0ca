"""MERGE INTO semantics (upsert) without a table format.

The lakehouse primitive every incremental pipeline needs: apply a batch
of changes to a keyed target — update rows whose key matches, insert the
rest — expressed as a pure DataFrame transform (full-outer-join-free:
an anti-join union is one shuffle cheaper and never widens rows).

    merged = source ∪ (target ⟕anti source)        -- source wins on key

Scale shape: both legs hash-partition on the key; the anti join is the
only join and its build side is the CHANGE BATCH (typically small →
broadcast), so the target never reshuffles twice. With a real table
format (Delta/Iceberg) this becomes engine MERGE; the semantics pinned
here (and by the oracle twin q_merge_upsert) are identical.

`streaming_upsert_sink` runs the same merge per micro-batch via
foreachBatch — the standard Structured Streaming upsert pattern:
checkpointing makes the batch ids exactly-once, and each batch rewrites
the keyed snapshot transactionally (write-new-then-swap).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, source: DataFrame,
                 key: str, broadcast_source: bool = True) -> DataFrame:
    """Update-else-insert `source` rows into `target` by `key`.

    Whole-row semantics (matched rows are replaced by the source row);
    both inputs must share a schema. Duplicate keys within `source` are
    the caller's contract to resolve first (dedup.latest_by_key).
    """
    if target.columns != source.columns:
        raise ValueError(
            f"schema mismatch: target {target.columns} vs source {source.columns}"
        )
    probe = source.select(key)
    if broadcast_source:
        probe = F.broadcast(probe)
    kept = target.join(probe, key, "left_anti")
    return kept.unionByName(source)


def streaming_upsert_sink(stream_df: DataFrame, target_path: str,
                          checkpoint_dir: str, key: str) -> None:
    """Maintain a keyed parquet snapshot from a stream of change rows.

    Each micro-batch merges into the current snapshot and atomically
    replaces it (write to a versioned directory, then overwrite the
    live one — parquet has no transaction log, so the swap IS the
    commit point). Trigger.AvailableNow drains and stops, matching the
    reference's daily-batch cadence.
    """
    spark = stream_df.sparkSession

    def _merge(batch: DataFrame, batch_id: int) -> None:
        # ONLY a missing target means "first batch": any other read
        # failure must fail the batch, not replace the whole snapshot
        try:
            merged = merge_upsert(spark.read.parquet(target_path), batch, key)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            merged = batch
        staged = f"{target_path}__staged_{batch_id}"
        merged.write.mode("overwrite").parquet(staged)
        # re-read the staged copy and overwrite the live path: parquet
        # reads are lazy, so writing directly over target_path would
        # read-while-overwriting the same files.
        spark.read.parquet(staged).write.mode("overwrite").parquet(target_path)

    q = (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def snapshot_diff(old: DataFrame, new: DataFrame, key: str,
                  content_cols: list[str]) -> DataFrame:
    """Change-data-capture between two corpus snapshots: one row per
    key that was `added`, `removed`, or `changed` (unchanged keys drop).

    The operand a versioned-lake pipeline runs after every rebuild —
    "what did this crawl/filter revision actually do to the corpus?" —
    and the input a downstream incremental consumer (index refresh,
    re-embedding, re-tokenization) reads instead of reprocessing the
    world. With a table format this is Delta CDF / Iceberg changelog;
    the semantics are pinned here engine-independently.

    Scale shape: each side reduces to (key, md5(content)) BEFORE the
    join, so the full-outer join — the only shuffle — carries 16-byte
    hashes, never document bodies; at 100 TB the exchange is the key
    space, not the corpus. Output: key, change, old_hash, new_hash.
    """
    content = F.md5(F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in content_cols]
    ))
    o = old.select(F.col(key).alias("__ok"), content.alias("old_hash"))
    n = new.select(F.col(key).alias("__nk"), content.alias("new_hash"))
    j = o.join(n, F.col("__ok") == F.col("__nk"), "full_outer")
    change = (
        F.when(F.col("__ok").isNull(), F.lit("added"))
        .when(F.col("__nk").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
    )
    return (
        j.select(
            F.coalesce(F.col("__ok"), F.col("__nk")).alias(key),
            change.alias("change"),
            "old_hash",
            "new_hash",
        )
        .filter(F.col("change").isNotNull())
    )
