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

The versioned form is lakelog's LakeTable.merge: the same semantics
committed through the log, rewriting only the files that can hold a
source key; lakelog.lake_upsert_sink runs it per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, source: DataFrame,
                 key: str) -> DataFrame:
    """Update-else-insert `source` rows into `target` by `key`.

    Whole-row semantics (matched rows are replaced by the source row);
    both inputs must share a schema. Duplicate keys within `source` are
    the caller's contract to resolve first (dedup.latest_by_key).
    """
    if target.columns != source.columns:
        raise ValueError(
            f"schema mismatch: target {target.columns} vs source {source.columns}"
        )
    kept = target.join(F.broadcast(source.select(key)), key, "left_anti")
    return kept.unionByName(source)


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

    `key` must be unique on each side. NULL keys are exempt: a
    NULL-keyed row never matches, so each is reported on its own, as
    `removed` from `old` or `added` to `new`.
    """
    content = F.md5(F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in content_cols]
    ))
    o = old.select(F.col(key).alias("__ok"), content.alias("old_hash"))
    n = new.select(F.col(key).alias("__nk"), content.alias("new_hash"))
    j = o.join(n, F.col("__ok") == F.col("__nk"), "full_outer")
    # a present row's hash is never NULL (md5 over coalesced strings),
    # so a NULL hash marks the side the row is absent from; the key
    # cannot, as a NULL-keyed row never joins and both keys are NULL
    change = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
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
