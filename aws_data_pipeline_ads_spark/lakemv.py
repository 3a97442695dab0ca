"""Incrementally-maintained materialized aggregates over LakeTables.

The missing downstream half of the lakehouse tier: GROUP BY reporting
views over 100 TB source tables that a refresh keeps current WITHOUT
re-aggregating the world — the job Delta Live Tables / incremental
view maintenance does, pinned here engine-independently with the
classic counting algorithm (delta rules): every source row that
appeared contributes +1, every row that disappeared contributes -1,
changed rows contribute both, and the per-group running state absorbs
the signed delta. Aggregate classes, each with the maintenance that
class admits:

* COUNT / SUM / AVG (sum/count) — signed-delta incremental.
* VAR / STDDEV (`sumsq=`) — algebraic: signed Σm² rides the same
  deltas; VAR_POP = sumsq/n − (sum/n)².
* MIN / MAX (`minmax=`) — NOT invertible: delta-scoped partial
  recompute (only the delta's touched groups rescan, and the rescan
  itself is FILE-PRUNED through the commit log's per-file min/max
  stats on the group columns when the source is clustered by group).
* COUNT(DISTINCT x) (`distinct=`) — NOT invertible either (deleting
  one occurrence of a value cannot tell whether another survives):
  same delta-scoped, file-pruned partial recompute, exact by
  construction. The mergeable-sketch alternative (a KMV state column)
  is deliberately NOT offered — `distinct_mode` other than "exact"
  refuses loudly (UnsupportedAggregateError) rather than silently
  degrading an exact view to an approximation.
* Two-table join (`LakeJoinMaterializedView`) — fact ⋈ dim maintained
  on BOTH sides by Δ(F⋈D) = ΔF⋈D_new ∪ F_old⋈ΔD with broadcast deltas.
* k-dim star/snowflake (`LakeStarMaterializedView`) — fact ⋈ a TREE
  of many-to-one dims (each joining the fact or another dim), the
  reporting shape of the repo's own flagship query
  (lineitem⋈orders⋈customer⋈nation⋈region). Each fact-attached
  subtree composes dim-side into one mapping M_j; the refresh applies
  Δ(F⋈M₁⋈…⋈Mₘ) = ΔF⋈M_new ∪ F_old⋈Δ(M) where Δ(M) is computed
  entirely over dims — the fact is scanned AT MOST ONCE per refresh
  no matter how many dims revised. Unsupported join shapes (non-inner,
  many-to-many) refuse loudly with UnsupportedJoinShapeError.

Charter scope (SURVEY §2C lakehouse family; the reference — a row-loop
Lambda ETL, lambda_function.py — has no views at all).

Scale shape:

* The delta between two source versions is FILE-PRUNED first: commits
  are immutable file lists, so files shared by both versions (under
  identical deferred-delete coverage) are never opened — a fixed-size
  append's refresh scans the appended files, not the table (measured
  in SCALE10X.md). What remains reduces to (key, group, measures, md5)
  and both sides, signed ±1, union into ONE key window (one exchange
  of narrow rows, never document bodies) that cancels unchanged keys;
  everything after it is delta-sized.
* Refresh spans are COMPACTION-AWARE (signed_span_delta): signed
  deltas compose additively, so the span folds into per-segment diffs
  that skip row-preserving compaction commits entirely — an OPTIMIZE
  landing between refreshes no longer destroys file pruning.
* The state table holds one row per group (tiny at any source size)
  and is itself a LakeTable: versioned, time-travelable, restorable,
  object-store-safe through the same CommitBackend seam.
* Refresh bookkeeping rides the commit log: each refresh commit
  carries txn_id "mv-refresh:<source_version>", so the view knows
  exactly which source version it reflects, a replayed refresh is
  answered from the log (exactly-once), and a concurrent refresher
  loses the exclusive-create like any other writer.

Exact arithmetic: sums are decimal(38,6) end to end (the repo's
dec-sum convention) — the incremental state is bit-identical to a
full GROUP BY recompute, which is precisely the invariant
q_lake_mv_refresh's oracle checks.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from aws_data_pipeline_ads_spark.lakelog import CommitBackend, LakeTable

_DEC = "decimal(38,6)"
_TXN_PREFIX = "mv-refresh:"
_JOIN_TXN_PREFIX = "mvj-refresh:"
_STAR_TXN_PREFIX = "mvs-refresh:"

# Driver-side cap on the touched-group set collected for recompute
# file pruning: past this many distinct touched groups the collect is
# skipped and the recompute conservatively opens every head file (the
# pre-r10 behavior). Group-key state is "tiny at any source size" by
# the view contract, so real views sit far below this.
_PRUNE_MAX_GROUPS = 10_000


class UnsupportedAggregateError(ValueError):
    """An aggregate mode this view class deliberately refuses (for
    example a sketch-approximate COUNT(DISTINCT) state) — named so the
    refusal is loud and greppable, never a silent downgrade."""


class DuplicateKeyError(ValueError):
    """A snapshot side of a signed delta carries a duplicate non-NULL
    key. The delta pairs each key's one old row with its one new row:
    a duplicate key leaves rows unpaired, so ± pairs no longer cancel
    — SILENT state corruption (counts can even stay right while sums
    drift, the worst failure mode). Detected on the delta-sized pruned
    sides at every refresh and refused loudly, naming the side; fix
    the source's key (or pre-deduplicate) and rebuild the view."""


class UnsupportedJoinShapeError(ValueError):
    """A join shape incremental maintenance does not support: anything
    many-to-many (a duplicate dim join key multiplies fact rows through
    the key-diff, corrupting the signed counts), RIGHT/FULL outer
    joins (the dim side is not key-unique-per-row in the output, so
    the fact-delta rule breaks), and non-inner joins on the k-dim star
    view (NULL extension mid-chain does not compose through the folded
    mapping). INNER and LEFT are supported on the two-table view
    (LakeJoinMaterializedView how=); everything else refuses loudly at
    construction / refresh instead of drifting from a full recompute."""


# -- version-delta primitives (shared by single-table and join views) --------

# Marker embedded in the in-plan duplicate-key raise_error message so
# action-site wrappers (typed_dup_errors) can re-raise the typed
# DuplicateKeyError. Contains "not unique" — the phrase the public
# error contract (and its tests) match on.
_DUP_MARKER = "signed-delta key not unique"


@contextlib.contextmanager
def typed_dup_errors():
    """Translate the in-plan duplicate-key guard's execution error into
    the typed DuplicateKeyError. The guard lives inside the delta plan
    (one pass, no extra job — see signed_frame_delta), so it surfaces
    as a generic Spark execution error. The refresh() methods use it
    as a decorator (@typed_dup_errors()); consumers that ACTION a lazy
    signed delta themselves (feed_changes / feed_changes_cdc deltas)
    use it as a context manager:

        with typed_dup_errors():
            delta.collect()
    """
    try:
        yield
    except DuplicateKeyError:
        raise
    except Exception as e:  # noqa: BLE001 — inspect and re-raise
        msg = str(e)
        i = msg.find(_DUP_MARKER)
        if i >= 0:
            raise DuplicateKeyError(msg[i:].split("\n", 1)[0]) from e
        raise


def _file_pred_signatures(entry: dict) -> dict[str, tuple]:
    """file → canonical signature of the deferred-delete predicates
    covering it in this version (same scoping as LakeTable.read)."""
    import json as _json

    deferred = [d if ("ranges" in d or "keys" in d)
                else {"ranges": d, "files": entry["files"]}
                for d in entry.get("deferred_deletes", [])]
    covers = [(set(d["files"]),
               _json.dumps({k: d[k] for k in ("ranges", "keys")
                            if k in d}, sort_keys=True))
              for d in deferred]
    return {f: tuple(sorted(sig for fs, sig in covers if f in fs))
            for f in entry["files"]}


def _version_delta_sides(source: LakeTable, v_old: int, v_new: int):
    """The two version snapshots REDUCED to the files that differ.

    Commits are immutable file lists, so a file present in both
    versions under identical deferred-delete coverage contributes
    IDENTICAL rows to both sides — and with a per-snapshot-unique key,
    none of its keys can also appear in a differing file. Those files
    cancel out of the key-diff wholesale and are never opened: a
    fixed-size append's refresh scans the appended files, not the
    table (measured in SCALE10X.md — the property that makes
    incremental refresh viable at 100 TB). Files whose predicate
    coverage CHANGED (a deferred delete landed between the versions)
    stay in the diff on both sides."""
    e_old = source._read_entry(v_old)
    e_new = source._read_entry(v_new)
    sig_old = _file_pred_signatures(e_old)
    sig_new = _file_pred_signatures(e_new)
    prunable = {f for f in set(e_old["files"]) & set(e_new["files"])
                if sig_old[f] == sig_new[f]}

    def side(version: int, entry: dict) -> DataFrame:
        return source.read_version_files(
            version, [f for f in entry["files"] if f not in prunable])

    return side(v_old, e_old), side(v_new, e_new)


def signed_frame_delta(old_side: DataFrame, new_side: DataFrame,
                       key: str, cols: list[str]) -> DataFrame:
    """Signed row delta between two arbitrary snapshots sharing a
    per-snapshot-unique key: `cols` + __sign (+1 appeared / -1
    disappeared), in one pass. The sides, tagged -1 and +1, union into
    one frame; one window over the key counts each side's rows and
    brackets their content hashes. A key with exactly one old and one
    new row under the same hash is unchanged, and both rows cancel;
    every other row is kept with its sign.

    The content hash is the JSON encoding of a struct, not a
    separator-joined concat: concat_ws cannot distinguish NULL from ''
    (both coalesce to the same bytes — a NULL→'' flip would slip past
    the delta), and values containing the separator could collide
    across columns. JSON escapes control characters and
    ignoreNullFields=false emits an explicit null, so the encoding is
    injective on the row.

    Duplicate keys: a non-NULL key with two rows on one side cannot be
    paired, and the view state would drift SILENTLY (sums drift while
    counts can still cancel). The same window counts the rows, so the
    guard raises inside the delta plan, with no extra job, naming the
    side. Action sites that promise the typed DuplicateKeyError wrap
    themselves with typed_dup_errors.

    NULL keys: a NULL-keyed row has no cross-snapshot identity, so it
    never cancels: the old side emits -1 and the new side +1
    unconditionally. An unchanged NULL-keyed row contributes a
    cancelling ± pair to the group aggregate and a changed, appeared
    or disappeared one exactly its net effect. No uniqueness is
    required of NULL keys; the window also partitions them by content
    hash, so they do not all land in one task."""
    internal = {"__k", "__h", "__sign", "__no", "__nn", "__lo", "__hi"}
    reserved = internal & (set(cols) | {key})
    if reserved:
        raise ValueError(
            f"signed delta: column name(s) {sorted(reserved)} collide "
            f"with the delta's internal columns {sorted(internal)} — "
            f"rename the source column(s)")
    content = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols]),
                              {"ignoreNullFields": "false"}))
    k, sign = F.col("__k"), F.col("__sign")
    both = old_side.select(
        F.col(key).alias("__k"), *cols, content.alias("__h"),
        F.lit(-1).alias("__sign")).unionByName(new_side.select(
            F.col(key).alias("__k"), *cols, content.alias("__h"),
            F.lit(1).alias("__sign")))
    w = W.partitionBy(k, F.when(k.isNull(), F.col("__h")))
    counted = both.select(
        "*", F.count(F.when(sign < 0, 1)).over(w).alias("__no"),
        F.count(F.when(sign > 0, 1)).over(w).alias("__nn"),
        F.min("__h").over(w).alias("__lo"),
        F.max("__h").over(w).alias("__hi"))

    def dup(side_name: str, n: str):
        return F.raise_error(F.concat(
            F.lit(f"{_DUP_MARKER}: delta key {key!r} is not unique on "
                  f"the {side_name} side: value "),
            k.cast("string"), F.lit(" occurs "), F.col(n).cast("string"),
            F.lit(" times — the signed delta cannot pair its rows and "
                  "would corrupt the view state; use a key that is "
                  "unique per snapshot (NULL keys are exempt) or "
                  "pre-deduplicate the source")))

    keep = (F.when(k.isNull(), F.lit(True))
            .when(F.col("__no") > 1, dup("old", "__no"))
            .when(F.col("__nn") > 1, dup("new", "__nn"))
            .otherwise((F.col("__no") + F.col("__nn") < 2)
                       | (F.col("__lo") != F.col("__hi"))))
    return counted.where(keep).select(*cols, "__sign")


def signed_version_delta(source: LakeTable, key: str, cols: list[str],
                         v_old: int, v_new: int,
                         prep=None) -> DataFrame:
    """Signed row delta between two versions of `source`: `cols` +
    __sign (+1 appeared / -1 disappeared). File-level pruning first
    (_version_delta_sides), then the key-diff (signed_frame_delta —
    unchanged keys cancel, NULL keys never do). File
    pruning stays sound for NULL-keyed rows because a row never leaves
    its file without a rewrite: a NULL row held only in files both
    versions share is identical on both sides and prunes with them.

    `prep`, when given, maps each (pruned) side DataFrame before the
    key diff — the hook derived-column views use to bucket raw columns
    (it must be DETERMINISTIC and preserve the key column, or
    unchanged rows stop cancelling)."""
    old_side, new_side = _version_delta_sides(source, v_old, v_new)
    if prep is not None:
        old_side, new_side = prep(old_side), prep(new_side)
    return signed_frame_delta(old_side, new_side, key, cols)


def _sq_expr(m: str):
    """Exact-and-portable square: the double multiply is one IEEE op
    (bit-identical in any engine; measure magnitudes stay well under
    2^53), then one decimal(38,6) rounding — so signed sums of squares
    hash-match a DuckDB twin computing the same two steps."""
    d = F.col(m).cast("double")
    return (d * d).cast(_DEC)


def _nullsafe_eq(left: str, right: str, cols: list[str]):
    cond = None
    for g in cols:
        eq = F.col(f"{left}.{g}").eqNullSafe(F.col(f"{right}.{g}"))
        cond = eq if cond is None else cond & eq
    return cond


def signed_span_delta(source: LakeTable, key: str, cols: list[str],
                      v_old: int, v_new: int,
                      prep=None) -> DataFrame | None:
    """Signed delta over a multi-commit span, COMPACTION-AWARE.

    A compaction rewrites every file without changing effective rows
    (it even materializes pending deferred deletes — the parent's read
    applies the same predicates), so a single endpoint diff across one
    would find zero shared files and degenerate to a full two-snapshot
    scan whose rows all cancel: correct, but table-sized. Signed
    deltas compose additively — delta(a,c) ≡ delta(a,b) ⊎ delta(b,c) —
    so the span folds into per-segment diffs that SKIP row-preserving
    compaction commits entirely, keeping file pruning effective on
    every remaining segment. Returns None when every commit in the
    span is a compaction (no data change at all)."""
    segments: list[tuple[int, int]] = []
    a = v_old
    for v in range(v_old + 1, v_new + 1):
        if source._read_entry(v).get("op") == "compact":
            if v - 1 > a:
                segments.append((a, v - 1))
            a = v
    if v_new > a:
        segments.append((a, v_new))
    if not segments:
        return None
    out = None
    for lo, hi in segments:
        d = signed_version_delta(source, key, cols, lo, hi, prep=prep)
        out = d if out is None else out.unionByName(d)
    return out


def _delta_aggregate(delta: DataFrame, group_cols: list[str],
                     measures: list[str],
                     sumsq: list[str] | None = None) -> DataFrame:
    """Per-group signed aggregate of a delta: n_rows plus per-measure
    signed non-null count and decimal sum."""
    aggs = [F.sum("__sign").cast("long").alias("n_rows")]
    for m in measures:
        aggs.append(
            F.sum(F.when(F.col(m).isNotNull(), F.col("__sign"))
                  .otherwise(F.lit(0)))
            .cast("long").alias(f"n_{m}"))
        aggs.append(
            F.sum(F.col(m).cast(_DEC) * F.col("__sign"))
            .cast(_DEC).alias(f"sum_{m}"))
        if m in (sumsq or []):
            aggs.append(
                F.sum(_sq_expr(m) * F.col("__sign"))
                .cast(_DEC).alias(f"sumsq_{m}"))
    return delta.groupBy(*group_cols).agg(*aggs)


def _merge_group_state(state: DataFrame, d: DataFrame,
                       group_cols: list[str],
                       measures: list[str],
                       sumsq: list[str] | None = None) -> DataFrame:
    """state ⊕ delta, null-safe on the group key (a NULL group is a
    legal group); groups whose count hits zero drop out."""
    s, dd = state.alias("s"), d.alias("d")
    cond = None
    for g in group_cols:
        eq = F.col(f"s.{g}").eqNullSafe(F.col(f"d.{g}"))
        cond = eq if cond is None else cond & eq
    j = s.join(dd, cond, "full_outer")
    sel = [F.coalesce(F.col(f"s.{g}"), F.col(f"d.{g}")).alias(g)
           for g in group_cols]
    n_rows = (F.coalesce(F.col("s.n_rows"), F.lit(0))
              + F.coalesce(F.col("d.n_rows"), F.lit(0)))
    sel.append(n_rows.alias("n_rows"))
    for m in measures:
        c, k = f"sum_{m}", f"n_{m}"
        n_m = (F.coalesce(F.col(f"s.{k}"), F.lit(0))
               + F.coalesce(F.col(f"d.{k}"), F.lit(0)))
        sel.append(n_m.alias(k))
        merged = (F.coalesce(F.col(f"s.{c}"), F.lit(0).cast(_DEC))
                  + F.coalesce(F.col(f"d.{c}"), F.lit(0).cast(_DEC)))
        # SQL SUM over zero non-null values is NULL, not 0 — the
        # non-null count decides, exactly as a full recompute would
        sel.append(F.when(n_m == 0, F.lit(None).cast(_DEC))
                   .otherwise(merged).cast(_DEC).alias(c))
        if m in (sumsq or []):
            q = f"sumsq_{m}"
            merged_q = (F.coalesce(F.col(f"s.{q}"), F.lit(0).cast(_DEC))
                        + F.coalesce(F.col(f"d.{q}"), F.lit(0).cast(_DEC)))
            sel.append(F.when(n_m == 0, F.lit(None).cast(_DEC))
                       .otherwise(merged_q).cast(_DEC).alias(q))
    return j.select(*sel).where(F.col("n_rows") > 0)


def _recompute_stitch(merged: DataFrame, state: DataFrame,
                      scoped: DataFrame, touched: DataFrame,
                      group_cols: list[str], minmax: list[str],
                      distinct: list[str]) -> DataFrame:
    """Attach the non-invertible columns (min_/max_/nd_) to the merged
    invertible state: recompute them over `scoped` (the source — or
    current join — already narrowed to the head) for exactly the
    `touched` groups, keep the stored values everywhere else. Shared by
    all three view classes; `touched`, the recompute output, and the
    old-state side are delta-/group-cardinality-sized, so every join
    broadcasts."""
    scoped = scoped.alias("x").join(
        F.broadcast(touched.alias("t")),
        _nullsafe_eq("x", "t", group_cols), "leftsemi")
    aggs = []
    for m in minmax:
        aggs.append(F.min(F.col(m)).alias(f"min_{m}"))
        aggs.append(F.max(F.col(m)).alias(f"max_{m}"))
    for m in distinct:
        aggs.append(F.countDistinct(F.col(m)).alias(f"nd_{m}"))
    rec = (scoped.groupBy(*group_cols).agg(*aggs)
           .withColumn("__touched", F.lit(1)))
    rc_cols = ([c for m in minmax for c in (f"min_{m}", f"max_{m}")]
               + [f"nd_{m}" for m in distinct])
    old = state.select(*group_cols, *rc_cols)
    j = (merged.alias("m")
         .join(F.broadcast(old.alias("s")),
               _nullsafe_eq("m", "s", group_cols), "left")
         .join(F.broadcast(rec.alias("r")),
               _nullsafe_eq("m", "r", group_cols), "left"))
    sel = [F.col(f"m.{c}") for c in merged.columns]
    for c in rc_cols:
        # a surviving touched group always has a recompute row (it
        # exists in the head); an untouched group keeps its values
        sel.append(F.when(F.col("r.__touched").isNotNull(),
                          F.col(f"r.{c}"))
                   .otherwise(F.col(f"s.{c}")).alias(c))
    return j.select(*sel)


def _stamp_group_key(state: DataFrame, group_cols: list[str],
                     enabled: bool) -> DataFrame:
    """With state_key=True, stamp `mv_key` — the injective JSON hash of
    the group tuple (NULL-safe, same encoding as the delta hash),
    unique per snapshot by the GROUP BY contract. Makes the view's
    state table a legal delta SOURCE for a downstream view
    (hierarchical continuous aggregates); deterministic from the group
    columns alone, so re-stamping is idempotent and unchanged groups
    keep stable identities across refreshes."""
    if not enabled:
        return state
    return state.withColumn(
        "mv_key",
        F.md5(F.to_json(F.struct(*[F.col(g) for g in group_cols]),
                        {"ignoreNullFields": "false"})))


def _guard_state_key(state_key: bool, *col_sets) -> None:
    if state_key and any("mv_key" in s for s in col_sets):
        raise ValueError(
            "state_key=True stamps a column named 'mv_key' — it "
            "cannot also be a group/measure/derived column")


def _prune_files_by_stats(table: LakeTable, version: int,
                          col_values: dict[str, list | None]
                          ) -> list[str]:
    """The subset of `version`'s files whose commit-log stat box can
    hold ANY candidate value for EVERY constrained column — the shared
    driver-side core of recompute file pruning. `col_values` maps a
    column to its candidate values, or None when that column cannot
    prune (over-cap set, NULL among the values — parquet min/max stats
    say nothing about NULLs — or incomparable types). Conservative in
    every direction: missing stats keep the file, incomparable stats
    keep the file, an unconstrained column keeps everything."""
    import bisect

    entry = table._read_entry(version)
    stats = entry.get("stats", {})
    sk = table._stat_key
    vals: dict[str, list | None] = {}
    for c, vs in col_values.items():
        if vs is None:
            vals[c] = None
            continue
        keyed = {sk(v) for v in vs}
        try:
            vals[c] = sorted(keyed) if None not in keyed else None
        except TypeError:
            vals[c] = None

    def may_hold(per_col: dict) -> bool:
        for c, cv in vals.items():
            if cv is None or c not in per_col:
                continue  # unprunable column / no stat
            lo, hi = per_col[c]
            try:
                i = bisect.bisect_left(cv, lo)
                if i >= len(cv) or cv[i] > hi:
                    return False  # no candidate value in the box
            except TypeError:
                continue  # stat incomparable → might match
        return True

    return [f for f in entry["files"] if may_hold(stats.get(f, {}))]


class LakeMaterializedView:
    """A GROUP BY (count + exact sums) view over `source`, materialized
    as its own LakeTable at `path` and refreshed incrementally.

    State schema: group_cols..., n_rows long, then per measure
    n_<m> long (non-null count) and sum_<m> decimal(38,6), then per
    `minmax` measure min_<m>/max_<m> in the source column's type. The
    non-null count is load-bearing, not a convenience: SQL SUM over a
    group whose remaining values are all NULL is NULL, and a signed
    running sum alone cannot distinguish that from a legitimate 0 —
    sum_<m> is stored as NULL exactly when n_<m> is 0, keeping the
    state bit-identical to a full recompute. True AVG(m) is
    sum_<m>/n_<m> (per-column count, not n_rows). AVG itself is
    deliberately not stored — it would break additivity.

    MIN/MAX (`minmax=`) and COUNT(DISTINCT) (`distinct=`, `nd_<m>`
    columns) are NOT invertible — deleting a group's current extremum,
    or one occurrence of a value, cannot be answered by any signed
    running state — so they are maintained by the standard fallback
    (Delta/DLT do the same): delta-scoped partial recompute. Each
    refresh recomputes them from the new source head for EXACTLY the
    groups present in the delta (a semi-join on the delta's distinct
    group set — delta-cardinality, broadcastable); untouched groups
    keep their stored values. The head scan is FILE-PRUNED through the
    commit log's per-file min/max stats on the group columns: when the
    source is clustered by group (optimize_zorder / range layout on
    the group columns), only files whose stat box can hold a touched
    group are opened — the opened-file count is recorded on
    `last_recompute_files` so tests and SCALE10X can assert the
    bound. Unclustered sources fall back to the full head file list
    (row-pruned by the semi-join, the pre-r10 worst case) — still
    never a global re-aggregation, and exact by construction.

    distinct_mode selects how `distinct=` columns are maintained:

    * "exact" (default): nd_<m> long via delta-scoped partial
      recompute (above) — exact under ANY revision, worst case one
      filtered head scan per refresh.
    * "kmv": a BOTTOM-K SKETCH state column kmv_<m> (array of the
      KMV_K smallest md5 digests of the distinct values, Bar-Yossef et
      al.) plus nd_<m>_est double — the estimate is exact while the
      group holds < KMV_K distinct values (the sketch IS the set) and
      (k−1)/U_(k) beyond. Refresh MERGES delta sketches into the state
      (bottom-k of the union — set algebra, bit-deterministic), so an
      append NEVER rescans the head: this is the 100 TB fast path the
      exact mode's recompute scan cannot offer. The trade is named
      loudly: sketches are not invertible, so a refresh whose delta
      carries ANY disappeared row (delete/update/overwrite — or a
      NULL-keyed row, which the delta re-emits as a ± pair every
      refresh) raises UnsupportedAggregateError instead of silently
      over-counting; use "exact" for revision-bearing sources. The
      digest/estimator arithmetic is engine-portable (md5 + one IEEE
      division, operators/sketches.py), so a DuckDB oracle reproduces
      the estimates bit-exactly. Other modes (e.g. "hll": registers
      are library-specific, no portable oracle) refuse at
      construction.

    `derive` (name → deterministic SQL expression over source columns)
    makes the view a CONTINUOUS AGGREGATE in the TimescaleDB sense:
    group by a time bucket / band / normalization the source doesn't
    materialize (e.g. {"day": "date_format(date_trunc('day', ts),
    'yyyy-MM-dd')"}). Derivation applies before hashing on every path
    (full build, both delta sides, recompute scans), so a revision
    that leaves every derived/measure value unchanged cancels out of
    the delta entirely — bucketing shrinks deltas, never grows them.
    Derived group columns have no commit-log stats, so the partial-
    recompute file pruning simply skips them (conservative; raw group
    columns still prune).

    `state_key=True` stamps every committed state with `mv_key` — the
    injective JSON hash of the group tuple (same NULL-safe encoding as
    the delta hash), unique per snapshot by the GROUP BY contract.
    That makes the view's state table a legal SOURCE for another view:
    HIERARCHICAL continuous aggregates (day cagg → month cagg, the
    TimescaleDB 2.9 shape) stack by pointing the downstream view at
    `upstream.table` with `key="mv_key"` and summing the upstream
    n_/sum_ columns as measures. The cascade's refresh delta is
    CHANGED-GROUPS-sized, never data-sized: the upstream state is
    group-cardinality-sized to begin with, and unchanged group rows
    hash-cancel out of the downstream key-diff even though each
    upstream refresh rewrites its files (overwrite commits share no
    files — the diff reads both state snapshots, which are aggregate-
    not data-sized).
    """

    def __init__(self, spark: SparkSession, source: LakeTable, path: str,
                 key: str, group_cols: list[str], measures: list[str],
                 backend: CommitBackend | None = None,
                 minmax: list[str] | None = None,
                 sumsq: list[str] | None = None,
                 distinct: list[str] | None = None,
                 distinct_mode: str = "exact",
                 derive: dict[str, str] | None = None,
                 state_key: bool = False):
        # `key` must be unique per source snapshot (the table's primary
        # key — the same contract LakeTable.merge holds): the delta
        # cancels a key's old and new row only when each side holds
        # exactly one, and refuses a duplicate key loudly.
        # NULL keys are the one sanctioned exception: they carry no
        # cross-version identity, so the delta never cancels them and
        # emits unconditional ± rows (signed_frame_delta) — any
        # number of NULL-keyed rows is maintained correctly.
        if not group_cols:
            raise ValueError("materialized view needs >=1 group column")
        overlap = set(group_cols) & (set(measures) | set(minmax or [])
                                     | set(distinct or []))
        if overlap:
            raise ValueError(f"columns cannot be both group and "
                             f"measure: {sorted(overlap)}")
        extra = set(sumsq or []) - set(measures)
        if extra:
            raise ValueError(
                f"sumsq columns must also be measures (variance needs "
                f"the sum and the non-null count): {sorted(extra)}")
        if distinct_mode not in ("exact", "kmv"):
            raise UnsupportedAggregateError(
                f"distinct_mode={distinct_mode!r} is not implemented: "
                f"'exact' (delta-scoped partial recompute, any "
                f"revision) and 'kmv' (mergeable bottom-k sketch, "
                f"append-only, engine-portable estimator) are. An HLL "
                f"state would have no portable oracle (registers are "
                f"library-specific) — refused rather than silently "
                f"unverifiable")
        for name in (derive or {}):
            if name.startswith("__"):
                raise ValueError(f"derived column names starting with "
                                 f"'__' are reserved: {name!r}")
            if name == key:
                raise ValueError(
                    f"derived column {name!r} would shadow the key — "
                    f"the delta joins on the SOURCE key column")
        _guard_state_key(state_key, group_cols, measures,
                         minmax or [], distinct or [], derive or {})
        self.spark = spark
        self.source = source
        self.key = key
        self.group_cols = list(group_cols)
        self.measures = list(measures)
        self.minmax = list(minmax or [])
        self.sumsq = list(sumsq or [])
        self.distinct = list(distinct or [])
        self.distinct_mode = distinct_mode
        self.derive = dict(derive or {})
        self.state_key = state_key
        self.table = LakeTable(spark, path, backend=backend)
        # file list the most recent partial recompute actually opened
        # (None until a refresh needed one) — observability for the
        # pruning bound, asserted by tests and SCALE10X
        self.last_recompute_files: list[str] | None = None

    # -- bookkeeping ---------------------------------------------------------

    def last_refreshed(self) -> int | None:
        """The source version the current view state reflects (from the
        newest refresh commit's txn_id), or None if never built."""
        for h in reversed(self.table.history()):
            txn = h.get("txn_id") or ""
            if txn.startswith(_TXN_PREFIX):
                return int(txn[len(_TXN_PREFIX):])
        return None

    def read(self) -> DataFrame:
        return self.table.read()

    # -- aggregation shapes --------------------------------------------------

    def _sum_col(self, m: str) -> str:
        return f"sum_{m}"

    def _cnt_col(self, m: str) -> str:
        return f"n_{m}"

    def _derived(self, df: DataFrame) -> DataFrame:
        """Apply the view's derived-column expressions (`derive`:
        name → SQL expression over source columns — time buckets,
        bands, normalizations). The expressions must be DETERMINISTIC:
        they run independently on each delta side, and a value that
        differs between runs would stop unchanged rows from
        cancelling. Hashing happens AFTER derivation, so a source
        revision that leaves every derived/measure value unchanged
        contributes nothing to the delta — bucketing can only shrink
        the delta, never grow it."""
        for name, expr in self.derive.items():
            df = df.withColumn(name, F.expr(expr))
        return df

    def _stamp_key(self, state: DataFrame) -> DataFrame:
        return _stamp_group_key(state, self.group_cols, self.state_key)

    def _full_aggregate(self, df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for m in self.measures:
            aggs.append(F.count(F.col(m)).alias(self._cnt_col(m)))
            aggs.append(F.sum(F.col(m).cast(_DEC)).alias(self._sum_col(m)))
            if m in self.sumsq:
                aggs.append(F.sum(_sq_expr(m)).alias(f"sumsq_{m}"))
        for m in self.minmax:
            aggs.append(F.min(F.col(m)).alias(f"min_{m}"))
            aggs.append(F.max(F.col(m)).alias(f"max_{m}"))
        if self.distinct_mode == "exact":
            for m in self.distinct:
                aggs.append(F.countDistinct(F.col(m)).alias(f"nd_{m}"))
        base = df.groupBy(*self.group_cols).agg(*aggs)
        if self.distinct and self.distinct_mode == "kmv":
            for m in self.distinct:
                base = self._attach_kmv(base, self._kmv_arrays(df, m), m)
        return base

    # -- KMV sketch state (distinct_mode="kmv") --------------------------------

    def _kmv_arrays(self, df: DataFrame, m: str) -> DataFrame:
        """Per-group bottom-k digest array of df's distinct `m` values:
        (group_cols..., kmv_<m> array<string> ascending, <= KMV_K).
        Built by the bounded two-pass rank in operators/sketches.py —
        never a whole-group sort on one reducer."""
        from aws_data_pipeline_ads_spark.operators.sketches import (
            KMV_K,
            kmv_sketch,
        )

        sk = kmv_sketch(df.select(*self.group_cols, m),
                        self.group_cols, m, KMV_K)
        return sk.groupBy(*self.group_cols).agg(
            F.sort_array(F.collect_list("h")).alias(f"kmv_{m}"))

    def _kmv_est(self, m: str):
        """Estimator column over kmv_<m>: exact size while the sketch
        is not full (it IS the distinct set then), (k−1)/U_(k)
        otherwise — md5 + one IEEE division, engine-portable
        (operators/sketches.kmv_distinct computes the same)."""
        from aws_data_pipeline_ads_spark.operators.sampling import (
            hex_u32_sql,
        )
        from aws_data_pipeline_ads_spark.operators.sketches import KMV_K

        a = F.col(f"kmv_{m}")
        u = (F.expr(hex_u32_sql(f"element_at(kmv_{m}, {KMV_K})"))
             .cast("double") / F.lit(4294967296.0))
        return (F.when(F.size(a) < KMV_K, F.size(a).cast("double"))
                .otherwise(F.round(F.lit(float(KMV_K - 1)) / u, 6))
                .alias(f"nd_{m}_est"))

    def _attach_kmv(self, frame: DataFrame, sketch: DataFrame,
                    m: str, old: DataFrame | None = None) -> DataFrame:
        """Attach kmv_<m> + nd_<m>_est to `frame` (null-safe on the
        group key). With `old` given, the new state is the bottom-k of
        the UNION of the stored and delta sketches (set algebra —
        bit-deterministic); groups absent from both get the empty
        sketch (estimate 0, matching COUNT(DISTINCT) of no values)."""
        from aws_data_pipeline_ads_spark.operators.sketches import KMV_K

        empty = F.array().cast("array<string>")
        j = frame.alias("m").join(
            F.broadcast(sketch.alias("d")),
            _nullsafe_eq("m", "d", self.group_cols), "left")
        sel = [F.col(f"m.{c}") for c in frame.columns]
        if old is not None:
            j = j.join(
                F.broadcast(old.select(*self.group_cols,
                                       f"kmv_{m}").alias("s")),
                _nullsafe_eq("m", "s", self.group_cols), "left")
            merged = F.slice(
                F.array_sort(F.array_distinct(F.concat(
                    F.coalesce(F.col(f"s.kmv_{m}"), empty),
                    F.coalesce(F.col(f"d.kmv_{m}"), empty)))),
                1, KMV_K)
        else:
            merged = F.coalesce(F.col(f"d.kmv_{m}"), empty)
        return (j.select(*sel, merged.alias(f"kmv_{m}"))
                .withColumn(f"nd_{m}_est", self._kmv_est(m)))

    def _apply_kmv(self, merged: DataFrame, state: DataFrame,
                   delta: DataFrame) -> DataFrame:
        """Merge the (all-+) delta's sketches into the stored ones —
        the append fast path: no head rescan, ever."""
        plus = delta.where(F.col("__sign") == 1)
        for m in self.distinct:
            merged = self._attach_kmv(merged, self._kmv_arrays(plus, m),
                                      m, old=state)
        return merged

    def _delta_sides(self, v_old: int, v_new: int):
        return _version_delta_sides(self.source, v_old, v_new)

    def _delta_cols(self) -> list[str]:
        return list(dict.fromkeys(self.group_cols + self.measures
                                  + self.minmax + self.distinct))

    def _delta(self, v_old: int, v_new: int) -> DataFrame:
        """Signed delta rows between two source versions: group cols +
        measures + sign (+1 appeared / -1 disappeared); see
        signed_version_delta."""
        return signed_version_delta(self.source, self.key,
                                    self._delta_cols(), v_old, v_new,
                                    prep=self._derived)

    # -- refresh -------------------------------------------------------------

    @typed_dup_errors()
    def refresh(self) -> int:
        """Bring the view up to the source head. First call builds the
        full aggregate; later calls apply only the signed delta since
        the last refresh. Returns the source version now reflected.
        Idempotent per source version (txn-guarded commit)."""
        head = self.source.current_version()
        if head is None:
            raise ValueError("source table has no commits to aggregate")
        last = self.last_refreshed()
        txn = f"{_TXN_PREFIX}{head}"
        if last is None:
            state = self._stamp_key(self._full_aggregate(
                self._derived(self.source.read(head))))
            self.table.commit(state, "overwrite", txn_id=txn)
            return head
        if last == head:
            return head
        if last > head:
            raise ValueError(
                f"view reflects source version {last}, but the source "
                f"head is {head} — source was restored/rewound past the "
                f"view; rebuild it (drop the view table) instead of "
                f"applying a negative-range delta")

        delta = signed_span_delta(self.source, self.key,
                                  self._delta_cols(), last, head,
                                  prep=self._derived)
        state = self.table.read()
        if delta is None:
            # the whole span is row-preserving compaction — no data
            # change; re-commit the state so the txn records head
            self.table.commit(state, "overwrite", txn_id=txn)
            return head
        if self.distinct and self.distinct_mode == "kmv":
            # sketches are not invertible: a disappeared row cannot be
            # subtracted from a bottom-k state. Refuse loudly (the
            # delta-sized check is one narrow action), never over-count.
            # The check is NET per identical row content, not raw-sign
            # existence: NULL-keyed rows never cancel in the key diff
            # and come as unconditional ± pairs every span
            # (signed_frame_delta), so an UNCHANGED NULL-keyed row
            # carries a cancelling pair — net 0, harmless (± cancels
            # in every signed aggregate and re-inserting a value
            # already in a bottom-k sketch is a no-op). Only a
            # net-negative content group is a true
            # disappearance a sketch cannot retract.
            neg = (delta.groupBy(*self._delta_cols())
                   .agg(F.sum("__sign").alias("__net"))
                   .where(F.col("__net") < 0).limit(1).collect())
            if neg:
                raise UnsupportedAggregateError(
                    f"distinct_mode='kmv' view saw a disappeared row in "
                    f"the refresh delta (source revised between versions "
                    f"{last} and {head}) — a bottom-k sketch cannot "
                    f"retract values; rebuild the view (drop its table) "
                    f"or use distinct_mode='exact' for revision-bearing "
                    f"sources")
        d = self._full_aggregate_of_delta(delta)
        merged = self._merge_state(state, d)
        if self.minmax or (self.distinct
                           and self.distinct_mode == "exact"):
            merged = self._apply_recompute(merged, state, delta, head)
        if self.distinct and self.distinct_mode == "kmv":
            merged = self._apply_kmv(merged, state, delta)
        self.table.commit(self._stamp_key(merged), "overwrite",
                          txn_id=txn)
        return head

    def _full_aggregate_of_delta(self, delta: DataFrame) -> DataFrame:
        return _delta_aggregate(delta, self.group_cols, self.measures,
                                self.sumsq)

    def _nullsafe_group_eq(self, left: str, right: str):
        return _nullsafe_eq(left, right, self.group_cols)

    def _scoped_head_scan(self, touched: DataFrame, head: int) -> DataFrame:
        """The source head narrowed to the delta's touched groups —
        FILE-pruned first, then ROW-pruned.

        File pruning: the commit log records per-file min/max stats
        per column (lakelog._collect_footer_stats). A file whose stat box on
        the group columns cannot hold ANY touched group value provably
        contributes no touched-group row and is never opened. The
        touched set is collected driver-side (group-cardinality-sized
        by the view contract; past _PRUNE_MAX_GROUPS the collect is
        skipped and every head file is kept — conservative, never
        wrong). A touched tuple with a NULL group value keeps every
        file: parquet min/max stats say nothing about NULLs.

        Row pruning: whatever files open still pass through the
        broadcast semi-join, so the scan is exact regardless of how
        well the stats pruned."""
        rows = touched.limit(_PRUNE_MAX_GROUPS + 1).collect()
        if len(rows) <= _PRUNE_MAX_GROUPS:
            col_values = {g: [r[g] for r in rows]
                          for g in self.group_cols}
            files = _prune_files_by_stats(self.source, head, col_values)
        else:
            files = self.source._read_entry(head)["files"]
        self.last_recompute_files = list(files)
        return self._derived(
            self.source.read_version_files(head, files))

    def _apply_recompute(self, merged: DataFrame, state: DataFrame,
                         delta: DataFrame, head: int) -> DataFrame:
        """Attach the non-invertible columns (min_/max_/nd_) to the
        merged invertible state.

        Delete a group's current MAX — or one occurrence of a distinct
        value — and no signed running value can answer; only the
        group's surviving rows can. So: recompute from the source head
        for exactly the groups the delta touched (file-pruned then
        semi-join-scoped — _scoped_head_scan), keep stored values
        everywhere else (_recompute_stitch)."""
        touched = delta.select(*self.group_cols).distinct()
        scoped = self._scoped_head_scan(touched, head)
        exact_nd = (self.distinct if self.distinct_mode == "exact"
                    else [])
        return _recompute_stitch(merged, state, scoped, touched,
                                 self.group_cols, self.minmax,
                                 exact_nd)

    def _merge_state(self, state: DataFrame, d: DataFrame) -> DataFrame:
        return _merge_group_state(state, d, self.group_cols,
                                  self.measures, self.sumsq)


class LakeJoinMaterializedView:
    """A GROUP BY (count + exact sums) view over FACT ⋈ DIM — the
    star-join reporting shape — materialized as its own LakeTable and
    refreshed incrementally on BOTH sides by the classic join delta
    rule (signed multisets):

        Δ(F ⋈ D) = ΔF ⋈ D_new  ∪  F_old ⋈ ΔD

    (expand (F_old+ΔF)⋈(D_old+ΔD) and cancel F_old⋈D_old; the ΔF⋈ΔD
    cross term is absorbed by joining ΔF against D at its NEW version).
    Each joined delta row carries its side's sign; the per-group state
    absorbs the signed aggregate exactly like the single-table view.

    Contracts: `fact_key` unique per fact snapshot, `join_key` unique
    per dim snapshot (many-to-one) — the same uniqueness the delta's
    key-diff needs. Group/measure columns may come from either side
    (resolved against the schemas; ambiguous names refuse).
    MIN/MAX (`minmax=`) and exact COUNT(DISTINCT) (`distinct=`) are
    maintained by delta-scoped partial recompute over the CURRENT join
    (non-invertible, same trade as the single-table view); sketch
    distinct modes refuse loudly.

    `how` selects the join: "inner" (default), "left" (LEFT OUTER —
    unmatched fact rows NULL-extend the dim columns, so dim-side group
    columns may legally be NULL groups), "right" (RIGHT OUTER —
    unmatched dim rows NULL-extend the fact columns) or "full" (FULL
    OUTER — both). The left-join dim-revision delta generalizes the
    inner rule uniformly: per changed dim key, emit the fact rows' NEW
    contribution (+, joined against the new image — or NULL-extended
    when the key disappeared) and retract the OLD one (−, old image —
    or the NULL extension the key replaced when it appeared); see
    _left_flip_delta.

    RIGHT/FULL add the dual rule: the preserved dim side's
    NULL-extended rows carry no fact_key identity, so their presence
    is maintained from the join-key MATCH COUNT instead — a dim key's
    NULL extension exists iff its fact match count is zero, and a fact
    delta flips it exactly when the count crosses 0 (one extra
    broadcast-filtered count scan of the old fact per fact-delta
    refresh; see _fact_cnt_cross). The dim-revision delta for RIGHT is
    the exact mirror of the fact-delta rule (_right_dim_delta: each
    signed dim row multiplies into its old-fact matches, or
    NULL-extends when unmatched); FULL composes the LEFT flip delta
    (fact-preserved rows swap images) with the zero-match dim rows'
    signed NULL extensions (_full_dim_null_ext). The telescoping order
    is fixed — dim step against F_old, fact step against D_new — so
    interleaved revisions on both sides compose exactly.

    Scale shape:
    * ΔF and ΔD are file-pruned version deltas (delta-sized for
      append-shaped revisions).
    * ΔF ⋈ D_new: the delta broadcasts; the dim side reads at head
      (dims are the small side of a star by construction).
    * F_old ⋈ ΔD: the delta broadcasts, so the fact side never
      shuffles — it scans once, filtered by the broadcast hash join
      to ΔD's join keys. A dim revision therefore costs one fact scan
      (no exchange); an unchanged dim costs nothing. This is the
      standard IVM trade (DBToaster/Materialize make the same one) —
      avoiding the scan entirely would need a join-key index over the
      fact files, which the commit log's per-file stats provide only
      when the fact is clustered by join key.
    * Refresh bookkeeping rides txn ids "mvj-refresh:<vF>:<vD>" —
      exactly-once per (fact, dim) version pair, replay answered from
      the log.

    `state_key=True` stamps mv_key on every committed state (see
    LakeMaterializedView): a join view can feed a downstream
    single-table rollup view — hierarchical aggregates over a star.
    """

    def __init__(self, spark: SparkSession, fact: LakeTable,
                 dim: LakeTable, path: str, fact_key: str, join_key: str,
                 group_cols: list[str], measures: list[str],
                 backend: CommitBackend | None = None,
                 minmax: list[str] | None = None,
                 sumsq: list[str] | None = None,
                 distinct: list[str] | None = None,
                 distinct_mode: str = "exact",
                 how: str = "inner",
                 state_key: bool = False):
        if how not in ("inner", "left", "right", "full"):
            raise UnsupportedJoinShapeError(
                f"how={how!r} is not maintainable incrementally: "
                f"'inner', 'left', 'right' and 'full' are")
        if not group_cols:
            raise ValueError("materialized view needs >=1 group column")
        overlap = set(group_cols) & (set(measures) | set(minmax or [])
                                     | set(distinct or []))
        if overlap:
            raise ValueError(f"columns cannot be both group and "
                             f"measure: {sorted(overlap)}")
        extra = set(sumsq or []) - set(measures)
        if extra:
            raise ValueError(
                f"sumsq columns must also be measures: {sorted(extra)}")
        if distinct_mode != "exact":
            raise UnsupportedAggregateError(
                f"distinct_mode={distinct_mode!r} is not implemented on "
                f"join/star views: only 'exact' is. The single-table "
                f"view's 'kmv' sketch state is append-only, but a dim "
                f"revision re-emits joined fact rows as ± pairs — every "
                f"dim change would trip the sketch's disappeared-row "
                f"refusal, so the mode is refused here outright")
        self.spark = spark
        self.fact = fact
        self.dim = dim
        self.fact_key = fact_key
        self.join_key = join_key
        self.group_cols = list(group_cols)
        self.measures = list(measures)
        self.minmax = list(minmax or [])
        self.sumsq = list(sumsq or [])
        self.distinct = list(distinct or [])
        self.how = how
        _guard_state_key(state_key, group_cols, measures,
                         minmax or [], distinct or [])
        self.state_key = state_key
        self.table = LakeTable(spark, path, backend=backend)

    # -- bookkeeping ---------------------------------------------------------

    def last_refreshed(self) -> tuple[int, int] | None:
        """(fact_version, dim_version) the current state reflects."""
        for h in reversed(self.table.history()):
            txn = h.get("txn_id") or ""
            if txn.startswith(_JOIN_TXN_PREFIX):
                vf, vd = txn[len(_JOIN_TXN_PREFIX):].split(":")
                return int(vf), int(vd)
        return None

    def read(self) -> DataFrame:
        return self.table.read()

    # -- column-side resolution ----------------------------------------------

    def _split_sides(self) -> tuple[list[str], list[str]]:
        """(fact-side, dim-side) partition of group+measure columns,
        resolved against the head schemas. The join key counts as a
        fact-side column (it exists on both; the join equates them)."""
        fact_cols = set(self.fact.read().columns)
        dim_cols = set(self.dim.read().columns)
        f_side, d_side = [], []
        for c in dict.fromkeys(self.group_cols + self.measures
                               + self.minmax + self.distinct):
            if c == self.join_key:
                f_side.append(c)
            elif c in fact_cols and c in dim_cols:
                raise ValueError(
                    f"column {c!r} exists in both fact and dim — rename "
                    f"one side before building the view")
            elif c in fact_cols:
                f_side.append(c)
            elif c in dim_cols:
                d_side.append(c)
            else:
                raise ValueError(f"column {c!r} in neither fact nor dim")
        return f_side, d_side

    # -- refresh -------------------------------------------------------------

    def _joined(self, f_df: DataFrame, d_df: DataFrame,
                broadcast_side: str | None = None,
                how: str | None = None) -> DataFrame:
        how = how or self.how
        f_side, d_side = self._split_sides()
        f = f_df.select(self.join_key, *[c for c in f_side
                                         if c != self.join_key],
                        *(["__sign"] if "__sign" in f_df.columns else []))
        d = d_df.select(self.join_key, *d_side,
                        *(["__sign"] if "__sign" in d_df.columns else []))
        if broadcast_side == "fact" and how == "inner":
            f = F.broadcast(f)
        elif broadcast_side is not None and how in ("inner", "left"):
            # a LEFT join cannot build its hash table on the preserved
            # fact side — broadcast the dim regardless of the hint.
            # RIGHT/FULL get no hint at all: a broadcast-hash join
            # cannot build on a preserved side (Spark would have to
            # broadcast the FACT), so the one place they run a full
            # two-sided join — the first build — is left to Catalyst
            # (SMJ/shuffled-hash); every incremental path below joins
            # delta-scoped frames instead
            d = F.broadcast(d)
        return f.join(d, self.join_key, how)

    def _pruned_f_old(self, lf: int, keys_df: DataFrame) -> DataFrame:
        """F_old for a delta-scoped step, FILE-pruned on the JOIN KEY:
        every dim-revision/count-scan step below only consumes fact
        rows whose join key appears in the (delta-sized) key set, so
        when the fact is clustered by join key the commit log's
        per-file min/max (+ Bloom when indexed) excludes most files
        before a byte is read — closing the one documented linear cost
        of the outer-join/star dim-revision path (SCALE.md r11). The
        key set collects driver-side under the shared cap; over-cap or
        unclustered stats conservatively read every file (pruning can
        keep extra files, never drop needed ones). `last_fold_files`
        records the opened list for the SCALE10X experiments."""
        jk = self.join_key
        rows = (keys_df.select(jk).where(F.col(jk).isNotNull())
                .distinct().limit(_PRUNE_MAX_GROUPS + 1).collect())
        entry = self.fact._read_entry(lf)
        if len(rows) <= _PRUNE_MAX_GROUPS:
            # Bloom-aware when the fact carries a join-key bloom index
            # (_keyset_cover subsumes the stat-box check)
            files = self.fact._keyset_cover(entry, jk,
                                            [r[0] for r in rows])
        else:
            files = list(entry["files"])
        self.last_fold_files = list(files)
        if not files:
            return self.spark.createDataFrame(
                [], self.fact.read(lf).schema)
        return self.fact.read_version_files(lf, files)

    def _left_flip_delta(self, f_old: DataFrame, d_d: DataFrame,
                         f_side: list[str],
                         d_side: list[str]) -> DataFrame:
        """F_old ⟕ D_new − F_old ⟕ D_old restricted to the dim keys ΔD
        touched — the LEFT-join dim-revision delta.

        Per changed key the signed dim delta carries a + row (new
        image) and/or a − row (old image); fold them into one
        (new_img, old_img) pair per key, where a MISSING image IS the
        NULL extension. Every fact row holding a touched key then
        emits exactly two signed rows — (+, new image) and (−, old
        image), NULL struct fields projecting to NULL dim columns —
        which covers all three cases uniformly: an appeared key
        retracts the NULL-extended rows and adds joined ones, a
        disappeared key does the reverse, a changed key swaps images.
        One broadcast of the (delta-sized) image table, one
        hash-filtered fact scan, zero exchanges — the same cost as the
        inner dim-revision path. NULL dim keys never equality-match a
        fact row, so they are invisible to the view in both versions
        and their image row joins nothing."""
        jk = self.join_key
        images = d_d.groupBy(jk).agg(
            F.max(F.when(F.col("__sign") == 1,
                         F.struct(*d_side))).alias("__new"),
            F.max(F.when(F.col("__sign") == -1,
                         F.struct(*d_side))).alias("__old"))
        f_keep = [c for c in f_side if c != jk]
        both = (f_old.select(jk, *f_keep)
                .join(F.broadcast(images), jk, "inner"))
        e = F.explode(F.array(
            F.struct(F.lit(1).alias("__sign"),
                     F.col("__new").alias("__img")),
            F.struct(F.lit(-1).alias("__sign"),
                     F.col("__old").alias("__img")))).alias("__e")
        return (both.select(jk, *f_keep, e)
                .select(jk, *f_keep,
                        *[F.col(f"__e.__img.{c}").alias(c)
                          for c in d_side],
                        F.col("__e.__sign").alias("__sign")))

    def _null_fact_lits(self, f_old: DataFrame,
                        f_keep: list[str]) -> list:
        """Typed NULL literals for the fact-side observed columns — the
        fact half of a dim-preserved NULL extension."""
        return [F.lit(None).cast(f_old.schema[c].dataType).alias(c)
                for c in f_keep]

    def _fact_cnt_cross(self, f_old: DataFrame, d_f: DataFrame,
                        head_d: int) -> DataFrame:
        """Dim-side NULL-extension corrections for a FACT delta
        (right/full only): a dim key's NULL-extended row exists iff its
        fact match count is zero, so it flips exactly when ΔF moves the
        count across 0 — retracted (−) on 0→>0, added (+) on >0→0.

        Cost shape: the signed per-key count comes from ΔF
        (delta-sized); the old count is ONE broadcast-semi-filtered
        scan of F_old aggregated per key (no exchange — the map-side
        partial aggregate collapses to ≤|ΔF keys| rows); the crossing
        set is delta-sized and broadcasts into D_new. This count scan
        is the irreducible price of outer-join IVM without a
        key-indexed fact (DBToaster's mc relation, Materialize's
        reduction state — we recompute it delta-scoped instead of
        storing it)."""
        jk = self.join_key
        f_side, d_side = self._split_sides()
        f_keep = [c for c in f_side if c != jk]
        dn = (d_f.where(F.col(jk).isNotNull())
              .groupBy(jk).agg(F.sum("__sign").alias("__dn")))
        c0 = (f_old.select(jk).where(F.col(jk).isNotNull())
              .join(F.broadcast(dn.select(jk)), jk, "semi")
              .groupBy(jk).agg(F.count(F.lit(1)).alias("__c0")))
        old_n = F.coalesce(F.col("__c0"), F.lit(0))
        cross = (dn.join(c0, jk, "left")
                 .select(F.col(jk), old_n.alias("__c0"),
                         (old_n + F.col("__dn")).alias("__c1"))
                 .where(((F.col("__c0") == 0) & (F.col("__c1") > 0))
                        | ((F.col("__c0") > 0) & (F.col("__c1") == 0)))
                 .select(F.col(jk),
                         F.when(F.col("__c0") == 0, F.lit(-1))
                         .otherwise(F.lit(1)).alias("__sign")))
        # a crossing key NULL-extends only while the dim actually holds
        # it — keys absent from D_new never had an extension to flip
        return (self.dim.read(head_d).select(jk, *d_side)
                .join(F.broadcast(cross), jk, "inner")
                .select(F.col(jk), *self._null_fact_lits(f_old, f_keep),
                        *d_side, F.col("__sign")))

    def _right_dim_delta(self, f_old: DataFrame, d_d: DataFrame,
                         f_side: list[str],
                         d_side: list[str]) -> DataFrame:
        """Δ_dim for RIGHT OUTER — the mirror of the fact-delta rule:
        each signed dim row multiplies into its F_old matches (the
        joined rows it creates or retracts), or NULL-extends the fact
        side when unmatched. Two broadcast-filtered F_old scans (rows +
        matched-key set), both pruned to ΔD's keys; the matched-key
        set is ≤|ΔD| rows, so the anti probe broadcasts."""
        jk = self.join_key
        f_keep = [c for c in f_side if c != jk]
        keys = d_d.select(jk).where(F.col(jk).isNotNull()).distinct()
        f_hit = (f_old.select(jk, *f_keep)
                 .join(F.broadcast(keys), jk, "semi"))
        dd = d_d.select(jk, *d_side, "__sign")
        inner = (f_hit.join(F.broadcast(dd), jk, "inner")
                 .select(F.col(jk), *f_keep, *d_side, F.col("__sign")))
        matched = f_hit.select(jk).distinct()
        unmatched = (dd.join(F.broadcast(matched), jk, "left_anti")
                     .select(F.col(jk),
                             *self._null_fact_lits(f_old, f_keep),
                             *d_side, F.col("__sign")))
        return inner.unionByName(unmatched)

    def _full_dim_null_ext(self, f_old: DataFrame, d_d: DataFrame,
                           f_side: list[str],
                           d_side: list[str]) -> DataFrame:
        """FULL OUTER's dim-side extension delta: signed ΔD rows whose
        key matches NOTHING in F_old (NULL dim keys included — they
        never equality-match) are themselves view rows, NULL-extended
        on the fact side. Keys WITH F_old matches ride
        _left_flip_delta — their content lives in the joined rows."""
        jk = self.join_key
        f_keep = [c for c in f_side if c != jk]
        keys = d_d.select(jk).where(F.col(jk).isNotNull()).distinct()
        matched = (f_old.select(jk)
                   .join(F.broadcast(keys), jk, "semi").distinct())
        return (d_d.select(jk, *d_side, "__sign")
                .join(F.broadcast(matched), jk, "left_anti")
                .select(F.col(jk), *self._null_fact_lits(f_old, f_keep),
                        *d_side, F.col("__sign")))

    # fact-delta join shape per view `how`: the non-matching ΔF rows of
    # a RIGHT view contribute nothing (inner), a FULL view's are
    # fact-preserved (left); corrections handle the dim-side extensions
    _FACT_DELTA_HOW = {"inner": "inner", "left": "left",
                       "right": "inner", "full": "left"}

    @typed_dup_errors()
    def refresh(self) -> tuple[int, int]:
        """Bring the view up to both source heads. First call builds
        the full join aggregate; later calls apply the signed join
        delta. Returns the (fact, dim) versions now reflected."""
        head_f = self.fact.current_version()
        head_d = self.dim.current_version()
        if head_f is None or head_d is None:
            raise ValueError("both sources need >=1 commit")
        last = self.last_refreshed()
        txn = f"{_JOIN_TXN_PREFIX}{head_f}:{head_d}"
        if last is None:
            state = _stamp_group_key(
                self._full_aggregate(
                    self._joined(self.fact.read(head_f),
                                 self.dim.read(head_d), "dim")),
                self.group_cols, self.state_key)
            self.table.commit(state, "overwrite", txn_id=txn)
            return head_f, head_d
        lf, ld = last
        if (lf, ld) == (head_f, head_d):
            return last
        if lf > head_f or ld > head_d:
            raise ValueError(
                f"view reflects (fact={lf}, dim={ld}) but heads are "
                f"(fact={head_f}, dim={head_d}) — a source was rewound "
                f"past the view; rebuild it (drop the view table)")

        f_side, d_side = self._split_sides()
        f_cols = list(dict.fromkeys([self.join_key] + f_side))
        d_cols = list(dict.fromkeys([self.join_key] + d_side))
        parts = []
        if head_f > lf:                       # ΔF against D_new
            d_f = signed_span_delta(self.fact, self.fact_key,
                                    f_cols, lf, head_f)
            if d_f is not None:
                parts.append(self._joined(
                    d_f, self.dim.read(head_d), "fact",
                    how=self._FACT_DELTA_HOW[self.how]))
                if self.how in ("right", "full"):
                    parts.append(self._fact_cnt_cross(
                        self._pruned_f_old(lf, d_f), d_f, head_d))
        if head_d > ld:                       # ΔD against F_old
            d_d = signed_span_delta(self.dim, self.join_key,
                                    d_cols, ld, head_d)
            # every ΔD step consumes only F_old rows whose join key is
            # in ΔD — one file-pruned read shared by the parts
            f_old = (self._pruned_f_old(lf, d_d)
                     if d_d is not None else None)
            if d_d is not None and self.how == "left":
                if d_side:  # no dim column observed → ΔD cannot move
                    parts.append(self._left_flip_delta(
                        f_old, d_d, f_side, d_side))
            elif d_d is not None and self.how == "right":
                parts.append(self._right_dim_delta(
                    f_old, d_d, f_side, d_side))
            elif d_d is not None and self.how == "full":
                if d_side:  # fact-preserved rows swap dim images
                    parts.append(self._left_flip_delta(
                        f_old, d_d, f_side, d_side))
                parts.append(self._full_dim_null_ext(
                    f_old, d_d, f_side, d_side))
            elif d_d is not None:
                parts.append(self._joined(f_old, d_d, "dim"))
        if not parts:
            # both spans are row-preserving compaction — no data change
            self.table.commit(self.table.read(), "overwrite",
                              txn_id=txn)
            return head_f, head_d
        delta = parts[0]
        for p in parts[1:]:
            delta = delta.unionByName(p)
        d = _delta_aggregate(delta, self.group_cols, self.measures,
                             self.sumsq)
        state = self.table.read()
        merged = _merge_group_state(state, d, self.group_cols,
                                    self.measures, self.sumsq)
        if self.minmax or self.distinct:
            merged = self._apply_recompute(merged, state, delta,
                                           head_f, head_d)
        self.table.commit(
            _stamp_group_key(merged, self.group_cols, self.state_key),
            "overwrite", txn_id=txn)
        return head_f, head_d

    def _full_aggregate(self, df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for m in self.measures:
            aggs.append(F.count(F.col(m)).alias(f"n_{m}"))
            aggs.append(F.sum(F.col(m).cast(_DEC)).alias(f"sum_{m}"))
            if m in self.sumsq:
                aggs.append(F.sum(_sq_expr(m)).alias(f"sumsq_{m}"))
        for m in self.minmax:
            aggs.append(F.min(F.col(m)).alias(f"min_{m}"))
            aggs.append(F.max(F.col(m)).alias(f"max_{m}"))
        for m in self.distinct:
            aggs.append(F.countDistinct(F.col(m)).alias(f"nd_{m}"))
        return df.groupBy(*self.group_cols).agg(*aggs)

    def _apply_recompute(self, merged: DataFrame, state: DataFrame,
                         delta: DataFrame, head_f: int,
                         head_d: int) -> DataFrame:
        """Join-view extrema / distinct counts: delta-scoped partial
        recompute over the CURRENT join (F_head ⋈ D_head semi-filtered
        to the delta's touched groups — a dim re-pointing moves whole
        groups, and the signed delta carries rows for both the drained
        and the filled group, so `touched` covers both). Untouched
        groups keep stored values (_recompute_stitch, shared with the
        other views)."""
        touched = delta.select(*self.group_cols).distinct()
        joined = self._joined(self.fact.read(head_f),
                              self.dim.read(head_d), "dim")
        return _recompute_stitch(merged, state, joined, touched,
                                 self.group_cols, self.minmax,
                                 self.distinct)


class LakeStarMaterializedView:
    """A GROUP BY (count + exact sums) view over FACT ⋈ D₁ ⋈ … ⋈ Dₖ —
    the k-dim star/snowflake reporting shape (the repo's own flagship
    query, lineitem⋈orders⋈customer⋈nation⋈region, is exactly this) —
    materialized as its own LakeTable and refreshed incrementally on
    EVERY side.

    `dims` is a list of (table, left_key, right_key[, parent]) edges:
    dim i joins its parent (the fact when parent == -1, an EARLIER dim
    index otherwise — so the join graph is a tree rooted at the fact)
    on parent.left_key == dim.right_key, INNER and many-to-one. That
    tree factors into fact-attached SUBTREES; each subtree composes
    dim-side into one mapping M_j keyed by its root dim's key
    (many-to-one composes, so M_j has at most one row per key), and
    the view is F ⋈ M₁ ⋈ … ⋈ Mₘ. The refresh applies the two-table
    delta rule once per side:

        Δ(F ⋈ M) = ΔF ⋈ M_new  ∪  F_old ⋈ Δ(M)

    where Δ(M) — the signed diff of each subtree's composed mapping —
    is computed ENTIRELY over dims (signed_frame_delta of M_old vs
    M_new, dim-sized work), and F_old ⋈ Δ(M) is realized as: filter
    F_old to the rows whose root keys hit any Δ(M_j) key set
    (broadcast markers), then emit those survivor rows joined against
    ALL M_old with sign -1 and against ALL M_new with sign +1 —
    unchanged-mapping survivors produce cancelling ± pairs, changed
    ones exactly their net effect. Consequences at 100 TB:

    * The fact is scanned AT MOST ONCE per refresh no matter how many
      dims revised (ΔF is a file-pruned version delta, not a scan; the
      survivor pass is one scan filtered by broadcast key sets, and
      the survivor set — delta fan-out sized — is persisted for its
      two M joins). A refresh where only dims revised and Δ(M) proves
      empty (revisions didn't touch view-relevant columns) skips the
      fact entirely.
    * Per-refresh dim-side cost is O(|composed mappings|) — the
      standard IVM trade (DBToaster / Materialize make the same one):
      dims are the small side of a star by construction, and the
      composed M_j never touches the fact.
    * MIN/MAX (`minmax=`) and exact COUNT(DISTINCT) (`distinct=`) add
      the delta-scoped head recompute join (one more fact scan,
      touched groups only) — the same non-invertible-aggregate trade
      as the other view classes; sketch distinct modes refuse loudly.

    Refused loudly (UnsupportedJoinShapeError): any `how` other than
    "inner" (a left join's NULL-extended rows do not follow this
    signed delta rule), and many-to-many joins — every dim's join key
    is uniqueness-checked at full build and re-checked at each refresh
    for the dims that advanced (dim-sized work; a duplicate key would
    silently multiply fact rows through the delta). NULL join keys are
    legal and never match, exactly like the inner join itself.

    Contracts: `fact_key` unique per fact snapshot (NULL-keyed fact
    rows are maintained via the unconditional ± route,
    signed_frame_delta). Group/measure columns may come from the fact
    or any dim; ambiguous names refuse at resolution, as does any
    projected-name collision between tables (the composed joins select
    by name). Refresh bookkeeping rides txn ids
    "mvs-refresh:<vF>:<vD1>:…:<vDk>" — exactly-once per version
    vector, replay answered from the log.
    """

    def __init__(self, spark: SparkSession, fact: LakeTable,
                 dims: list[tuple], path: str, fact_key: str,
                 group_cols: list[str], measures: list[str],
                 backend: CommitBackend | None = None,
                 minmax: list[str] | None = None,
                 sumsq: list[str] | None = None,
                 distinct: list[str] | None = None,
                 distinct_mode: str = "exact",
                 how: str = "inner",
                 state_key: bool = False):
        if how != "inner":
            raise UnsupportedJoinShapeError(
                f"how={how!r}: incremental star maintenance supports "
                f"INNER many-to-one joins only — a {how} join's "
                f"NULL-extended rows do not follow the signed delta "
                f"rule Δ(F⋈M)=ΔF⋈M_new ∪ F_old⋈ΔM; maintain an inner "
                f"view and derive the outer result at read time, or "
                f"recompute")
        if not dims:
            raise ValueError("star view needs >=1 dim (use "
                             "LakeMaterializedView for a single table)")
        if not group_cols:
            raise ValueError("materialized view needs >=1 group column")
        overlap = set(group_cols) & (set(measures) | set(minmax or [])
                                     | set(distinct or []))
        if overlap:
            raise ValueError(f"columns cannot be both group and "
                             f"measure: {sorted(overlap)}")
        extra = set(sumsq or []) - set(measures)
        if extra:
            raise ValueError(
                f"sumsq columns must also be measures: {sorted(extra)}")
        if distinct_mode != "exact":
            raise UnsupportedAggregateError(
                f"distinct_mode={distinct_mode!r} is not implemented on "
                f"join/star views: only 'exact' is. The single-table "
                f"view's 'kmv' sketch state is append-only, but a dim "
                f"revision re-emits joined fact rows as ± pairs — every "
                f"dim change would trip the sketch's disappeared-row "
                f"refusal, so the mode is refused here outright")
        norm: list[tuple] = []
        for i, spec in enumerate(dims):
            if len(spec) == 3:
                tbl, lk, rk = spec
                parent = -1
            elif len(spec) == 4:
                tbl, lk, rk, parent = spec
            else:
                raise ValueError(
                    f"dim {i}: expected (table, left_key, right_key"
                    f"[, parent]), got {len(spec)} elements")
            if not (parent == -1 or 0 <= parent < i):
                raise ValueError(
                    f"dim {i}: parent must be -1 (the fact) or an "
                    f"EARLIER dim index, got {parent}")
            norm.append((tbl, lk, rk, parent))
        self.spark = spark
        self.fact = fact
        self._dims = norm
        self.fact_key = fact_key
        self.group_cols = list(group_cols)
        self.measures = list(measures)
        self.minmax = list(minmax or [])
        self.sumsq = list(sumsq or [])
        self.distinct = list(distinct or [])
        _guard_state_key(state_key, group_cols, measures,
                         minmax or [], distinct or [])
        self.state_key = state_key
        self.table = LakeTable(spark, path, backend=backend)
        # files the most recent non-invertible recompute opened (None
        # until a refresh needed one) — observability for the pruning
        # bound, like the single-table view
        self.last_recompute_files: list[str] | None = None

    # -- bookkeeping ---------------------------------------------------------

    def last_refreshed(self) -> tuple[int, ...] | None:
        """(fact_version, dim_1_version, …) the state reflects."""
        for h in reversed(self.table.history()):
            txn = h.get("txn_id") or ""
            if txn.startswith(_STAR_TXN_PREFIX):
                return tuple(int(x) for x in
                             txn[len(_STAR_TXN_PREFIX):].split(":"))
        return None

    def read(self) -> DataFrame:
        return self.table.read()

    # -- resolution (lazy: sources may be committed after construction) -------

    def _resolve(self) -> dict:
        """Column-side resolution + join-tree layout against the head
        schemas. Recomputed per refresh so schema evolution on any
        source is picked up; refuses ambiguity and name collisions
        (the composed joins select by name)."""
        fact_cols = set(self.fact.read().columns)
        dim_cols = [set(t.read().columns) for t, _, _, _ in self._dims]
        wanted = list(dict.fromkeys(self.group_cols + self.measures
                                    + self.minmax + self.distinct))
        for c in wanted:
            if c.startswith("__"):
                raise ValueError(f"column names starting with '__' are "
                                 f"reserved by the view: {c!r}")
        n = len(self._dims)
        relevant: dict[int, list[str]] = {i: [] for i in range(n)}
        fact_relevant: list[str] = []
        for c in wanted:
            owners = ([-1] if c in fact_cols else []) + [
                i for i in range(n) if c in dim_cols[i]]
            if len(owners) > 1:
                raise ValueError(
                    f"column {c!r} exists in more than one source "
                    f"(fact=-1/dim indexes {owners}) — rename before "
                    f"building the view")
            if not owners:
                raise ValueError(f"column {c!r} in neither fact nor "
                                 f"any dim")
            if owners[0] == -1:
                fact_relevant.append(c)
            else:
                relevant[owners[0]].append(c)
        children: dict[int, list[int]] = {i: [] for i in range(n)}
        roots: list[int] = []
        child_lks: dict[int, list[str]] = {i: [] for i in range(n)}
        for i, (tbl, lk, rk, parent) in enumerate(self._dims):
            if rk not in dim_cols[i]:
                raise ValueError(
                    f"dim {i}: join key {rk!r} is not a column of the "
                    f"dim ({sorted(dim_cols[i])[:8]}…)")
            pcols = fact_cols if parent == -1 else dim_cols[parent]
            if lk not in pcols:
                raise ValueError(
                    f"dim {i}: left key {lk!r} is not a column of its "
                    f"parent ({'fact' if parent == -1 else parent})")
            if parent == -1:
                roots.append(i)
            else:
                children[parent].append(i)
                child_lks[parent].append(lk)

        def dfs(i: int, acc: list[int]) -> list[int]:
            acc.append(i)
            for c in children[i]:
                dfs(c, acc)
            return acc

        subtrees = {r: dfs(r, []) for r in roots}
        fact_proj = list(dict.fromkeys(
            fact_relevant + [self._dims[r][1] for r in roots]))
        per_table = [("fact", fact_proj)] + [
            (f"dim {i}", list(dict.fromkeys(relevant[i] + child_lks[i])))
            for i in range(n)]
        seen: dict[str, str] = {}
        for tname, cols in per_table:
            for c in cols:
                if c in seen and seen[c] != tname:
                    raise ValueError(
                        f"projected column name {c!r} appears in both "
                        f"{seen[c]} and {tname} — rename one side")
                seen[c] = tname
        return {"roots": roots, "subtrees": subtrees,
                "relevant": relevant, "child_lks": child_lks,
                "fact_proj": fact_proj}

    # -- composed dim mappings -------------------------------------------------

    def _compose(self, root: int, versions: list[int],
                 res: dict) -> DataFrame:
        """The subtree's dims folded into ONE mapping keyed by the
        root dim's join key (aliased __sk<root>): at most one row per
        key (many-to-one composes), columns = the subtree's
        view-relevant columns. Entirely dim-sided — never touches the
        fact."""
        m = None
        for i in res["subtrees"][root]:
            tbl, lk, rk, parent = self._dims[i]
            keep = list(dict.fromkeys(res["relevant"][i]
                                      + res["child_lks"][i]))
            d = tbl.read(versions[i]).select(
                F.col(rk).alias(f"__rk{i}"), *[F.col(c) for c in keep])
            if i == root:
                m = d
            else:
                m = m.join(d, F.col(lk) == F.col(f"__rk{i}"),
                           "inner").drop(f"__rk{i}")
        out = [F.col(f"__rk{root}").alias(f"__sk{root}")]
        out += [F.col(c) for i in res["subtrees"][root]
                for c in res["relevant"][i]]
        return m.select(*out)

    def _fold_fact(self, x: DataFrame, mappings: dict[int, DataFrame],
                   res: dict) -> DataFrame:
        for root in res["roots"]:
            lk = self._dims[root][1]
            x = x.join(mappings[root],
                       F.col(lk) == F.col(f"__sk{root}"),
                       "inner").drop(f"__sk{root}")
        return x

    def _pruned_survivor_base(self, lf: int,
                              d_ms: dict[int, "DataFrame"],
                              res: dict) -> DataFrame:
        """F_old for the survivor pass, FILE-pruned on the roots' LEFT
        KEYS: a survivor row's root key must hit SOME changed root's
        Δ(M_r) key set, so a file is skippable only when EVERY changed
        root's key set misses its stat box / Bloom (union-of-covers —
        the OR dual of _prune_files_by_stats' AND). On a fact
        clustered by a revised root's join key this bounds the
        dim-revision scan the same way _scoped_fact_head bounds the
        recompute one; over-cap key sets or unclustered stats keep
        every file. `last_fold_files` records the opened list for the
        SCALE10X experiments."""
        entry = self.fact._read_entry(lf)
        keep: set | None = set()
        for r, dm in d_ms.items():
            sk = f"__sk{r}"
            keys = (dm.select(sk).where(F.col(sk).isNotNull())
                    .distinct().limit(_PRUNE_MAX_GROUPS + 1).collect())
            if len(keys) > _PRUNE_MAX_GROUPS:
                keep = None                   # unbounded → no pruning
                break
            keep |= set(self.fact._keyset_cover(
                entry, self._dims[r][1], [k[0] for k in keys]))
        files = (list(entry["files"]) if keep is None
                 else [f for f in entry["files"] if f in keep])
        self.last_fold_files = list(files)
        if not files:
            return self.spark.createDataFrame(
                [], self.fact.read(lf).schema)
        return self.fact.read_version_files(lf, files)

    def _scoped_fact_head(self, touched: DataFrame, head_f: int,
                          m_new: dict[int, DataFrame],
                          res: dict) -> DataFrame:
        """The fact head narrowed for the non-invertible recompute —
        FILE-pruned by ROOT-KEY PROPAGATION, then (in the caller) the
        fold's inner joins and the stitch's semi-join row-prune it to
        exactly the touched groups.

        A needed fact row belongs to a touched group, so for every
        subtree that carries group columns its root key must lie in
        K_j = { keys of M_j_new rows whose group columns match a
        touched group } — computed DIM-side (mapping-sized), collected
        with the same cap as the single-table pruner, and turned into
        per-file stats pruning on the fact's root LEFT-KEY columns
        (plus direct pruning on fact-side group columns). On a fact
        clustered by join key this bounds the recompute scan the same
        way group clustering bounds the single-table one; unclustered
        or over-cap cases conservatively keep every file. Exactness
        never depends on the pruning (column-wise relaxation of the
        tuple constraint — may keep extra files, never drops needed
        ones; NULL-keyed fact rows are never needed, inner join)."""
        fact_cols = set(self.fact.read().columns)
        col_values: dict[str, list | None] = {}
        fact_groups = [c for c in self.group_cols if c in fact_cols]
        if fact_groups:
            rows = (touched.select(*fact_groups).distinct()
                    .limit(_PRUNE_MAX_GROUPS + 1).collect())
            for g in fact_groups:
                col_values[g] = (None if len(rows) > _PRUNE_MAX_GROUPS
                                 else [r[g] for r in rows])
        for r in res["roots"]:
            g_r = [c for i in res["subtrees"][r]
                   for c in res["relevant"][i] if c in self.group_cols]
            if not g_r:
                continue  # subtree carries no group column: no constraint
            t_r = touched.select(*g_r).distinct()
            keys = (m_new[r].alias("m")
                    .join(F.broadcast(t_r.alias("t")),
                          _nullsafe_eq("m", "t", g_r), "leftsemi")
                    .select(f"__sk{r}")
                    .limit(_PRUNE_MAX_GROUPS + 1).collect())
            lk = self._dims[r][1]
            col_values[lk] = (None if len(keys) > _PRUNE_MAX_GROUPS
                              else [k[0] for k in keys])
        if col_values:
            files = _prune_files_by_stats(self.fact, head_f, col_values)
        else:
            files = self.fact._read_entry(head_f)["files"]
        self.last_recompute_files = list(files)
        if not files:
            return (self.spark.createDataFrame(
                [], self.fact.read(head_f).schema)
                .select(*res["fact_proj"]))
        return (self.fact.read_version_files(head_f, files)
                .select(*res["fact_proj"]))

    def _check_many_to_one(self, i: int, version: int) -> None:
        tbl, lk, rk, parent = self._dims[i]
        dup = (tbl.read(version).where(F.col(rk).isNotNull())
               .groupBy(rk).agg(F.count(F.lit(1)).alias("__c"))
               .where(F.col("__c") > 1).limit(1).collect())
        if dup:
            raise UnsupportedJoinShapeError(
                f"dim {i} ({tbl.path}) is MANY-TO-MANY at version "
                f"{version}: join key {rk}={dup[0][rk]!r} occurs "
                f"{dup[0]['__c']} times — incremental star maintenance "
                f"requires each dim key unique per snapshot (duplicate "
                f"keys would multiply fact rows through the signed "
                f"delta); dedup the dim or recompute the view")

    # -- aggregation ------------------------------------------------------------

    def _full_aggregate(self, df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for m in self.measures:
            aggs.append(F.count(F.col(m)).alias(f"n_{m}"))
            aggs.append(F.sum(F.col(m).cast(_DEC)).alias(f"sum_{m}"))
            if m in self.sumsq:
                aggs.append(F.sum(_sq_expr(m)).alias(f"sumsq_{m}"))
        for m in self.minmax:
            aggs.append(F.min(F.col(m)).alias(f"min_{m}"))
            aggs.append(F.max(F.col(m)).alias(f"max_{m}"))
        for m in self.distinct:
            aggs.append(F.countDistinct(F.col(m)).alias(f"nd_{m}"))
        return df.groupBy(*self.group_cols).agg(*aggs)

    # -- refresh -----------------------------------------------------------------

    @typed_dup_errors()
    def refresh(self) -> tuple[int, ...]:
        """Bring the view up to every source head. First call builds
        the full star aggregate (after many-to-one checks on every
        dim); later calls apply the signed star delta. Returns the
        (fact, dim…) version vector now reflected. Idempotent per
        version vector (txn-guarded commit)."""
        head_f = self.fact.current_version()
        head_d = [t.current_version() for t, _, _, _ in self._dims]
        if head_f is None or any(v is None for v in head_d):
            raise ValueError("every source needs >=1 commit")
        heads = (head_f, *head_d)
        txn = _STAR_TXN_PREFIX + ":".join(str(v) for v in heads)
        res = self._resolve()
        last = self.last_refreshed()
        if last is None:
            for i in range(len(self._dims)):
                self._check_many_to_one(i, head_d[i])
            m_new = {r: self._compose(r, head_d, res)
                     for r in res["roots"]}
            joined = self._fold_fact(
                self.fact.read(head_f).select(*res["fact_proj"]),
                m_new, res)
            self.table.commit(
                _stamp_group_key(self._full_aggregate(joined),
                                 self.group_cols, self.state_key),
                "overwrite", txn_id=txn)
            return heads
        if last == heads:
            return heads
        lf, *ld = last
        if lf > head_f or any(a > b for a, b in zip(ld, head_d)):
            raise ValueError(
                f"view reflects versions {last} but heads are {heads} "
                f"— a source was rewound past the view; rebuild it "
                f"(drop the view table)")
        for i in range(len(self._dims)):
            if head_d[i] > ld[i]:
                self._check_many_to_one(i, head_d[i])

        persisted: list[DataFrame] = []
        try:
            m_new = {r: self._compose(r, head_d, res).persist()
                     for r in res["roots"]}
            persisted.extend(m_new.values())
            parts: list[DataFrame] = []
            if head_f > lf:                          # ΔF ⋈ M_new
                d_f = signed_span_delta(self.fact, self.fact_key,
                                        res["fact_proj"], lf, head_f)
                if d_f is not None:
                    parts.append(self._fold_fact(F.broadcast(d_f),
                                                 m_new, res))
            changed = [r for r in res["roots"]
                       if any(head_d[i] > ld[i]
                              for i in res["subtrees"][r])]
            d_ms: dict[int, DataFrame] = {}
            m_old: dict[int, DataFrame] = {}
            for r in changed:
                m_o = self._compose(r, ld, res)
                rel = [c for i in res["subtrees"][r]
                       for c in res["relevant"][i]]
                dm = signed_frame_delta(
                    m_o, m_new[r], f"__sk{r}",
                    [f"__sk{r}"] + rel).persist()
                persisted.append(dm)
                if not dm.isEmpty():
                    d_ms[r] = dm
            if d_ms:                                  # F_old ⋈ Δ(M)
                for r in res["roots"]:
                    m_old[r] = (self._compose(r, ld, res)
                                if r in d_ms or r in changed
                                else m_new[r])
                f_old = (self._pruned_survivor_base(lf, d_ms, res)
                         .select(*res["fact_proj"]))
                hits = []
                for r, dm in d_ms.items():
                    sk = f"__sk{r}"
                    kf = (dm.select(sk).where(F.col(sk).isNotNull())
                          .distinct()
                          .withColumn(f"__hit{r}", F.lit(1)))
                    f_old = f_old.join(
                        F.broadcast(kf),
                        F.col(self._dims[r][1]) == F.col(sk),
                        "left").drop(sk)
                    hits.append(f"__hit{r}")
                cond = None
                for h in hits:
                    c = F.col(h).isNotNull()
                    cond = c if cond is None else cond | c
                surv = f_old.where(cond).drop(*hits).persist()
                persisted.append(surv)
                parts.append(self._fold_fact(surv, m_old, res)
                             .withColumn("__sign", F.lit(-1)))
                parts.append(self._fold_fact(surv, m_new, res)
                             .withColumn("__sign", F.lit(1)))
            if not parts:
                # nothing but compaction / irrelevant-column revisions
                # — no data change for this view; record the heads
                self.table.commit(self.table.read(), "overwrite",
                                  txn_id=txn)
                return heads
            delta = parts[0]
            for p in parts[1:]:
                delta = delta.unionByName(p)
            d = _delta_aggregate(delta, self.group_cols, self.measures,
                                 self.sumsq)
            state = self.table.read()
            merged = _merge_group_state(state, d, self.group_cols,
                                        self.measures, self.sumsq)
            if self.minmax or self.distinct:
                touched = delta.select(*self.group_cols).distinct()
                joined_head = self._fold_fact(
                    self._scoped_fact_head(touched, head_f, m_new, res),
                    m_new, res)
                merged = _recompute_stitch(merged, state, joined_head,
                                           touched, self.group_cols,
                                           self.minmax, self.distinct)
            self.table.commit(
                _stamp_group_key(merged, self.group_cols,
                                 self.state_key),
                "overwrite", txn_id=txn)
            return heads
        finally:
            for df in persisted:
                df.unpersist()


def lake_mv_sink(stream_df: DataFrame, view,
                 checkpoint_dir: str,
                 app_id: str | None = None,
                 ingest: LakeTable | None = None) -> None:
    """Streaming ingest that keeps a materialized view CURRENT: each
    micro-batch appends to the view's ingest table (query-scoped txn —
    exactly-once, lakelog._run_scoped_sink) and then refreshes the
    view incrementally. A crash between the append and the refresh
    self-heals: refresh() is idempotent per source version vector (its
    commit txn is keyed by the version(s) it reflects), so the next
    batch — or the next drain — applies the missing delta and nothing
    else. The end-to-end contract a 100 TB landing-table +
    reporting-view pair needs from one checkpointed query.

    Works for every view class: a LakeMaterializedView ingests into
    its `source` by default; for a join/star view pass the streamed
    table explicitly (`ingest=view.fact` for the usual
    fact-is-the-stream shape — dims keep revising out-of-band and the
    next refresh absorbs both sides)."""
    from aws_data_pipeline_ads_spark.lakelog import _run_scoped_sink

    tbl = ingest if ingest is not None else view.source

    def commit_and_refresh(batch: DataFrame, bid: int, aid: str) -> None:
        tbl.commit(batch, "append",
                   txn_id=f"{aid}:mv-append-{bid}", retries=3)
        view.refresh()

    _run_scoped_sink(stream_df, checkpoint_dir, commit_and_refresh, app_id)
