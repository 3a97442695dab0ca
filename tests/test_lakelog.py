"""Versioned lake commit log: time travel, atomic publish, exactly-once
replay, MERGE/compaction/CDC committing through the log
(aws_data_pipeline_ads_spark/lakelog.py)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from aws_data_pipeline_ads_spark.catalog import load_table
from aws_data_pipeline_ads_spark.lakelog import (
    ConcurrentWriteError,
    ConditionalPutCommitBackend,
    LakeTable,
    lake_upsert_sink,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(params=["posix", "condput"])
def mk_table(request, spark):
    """LakeTable factory running every test against BOTH commit
    backends: POSIX O_EXCL (local/HDFS) and the conditional-PUT object
    store (the S3 `If-None-Match: *` model — flat keys, no rename, no
    directories). Proves the commit protocol relies on no POSIX-only
    behavior. condput shares ONE in-memory store per path: two writers
    on the same table must see each other's commits, exactly as they
    would through the real store."""
    if request.param == "posix":
        return lambda path: LakeTable(spark, path)
    stores: dict[str, ConditionalPutCommitBackend] = {}

    def make(path: str) -> LakeTable:
        backend = stores.setdefault(path, ConditionalPutCommitBackend())
        return LakeTable(spark, path, backend=backend)

    return make


def _entry(t: LakeTable, version: int) -> dict:
    """A version's raw log entry through the table's own backend (a
    direct open() would be POSIX-only)."""
    return json.loads(t.backend.get(t._entry_path(version)))


def test_commit_append_time_travel_history(spark, sf_dir, tmp_path, mk_table):
    """overwrite → append → overwrite: every version stays readable at
    its pinned content (time travel), the head tracks the latest, and
    history records the ops in order."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    assert t.current_version() is None
    with pytest.raises(ValueError, match="no commits"):
        t.read()

    a = docs.filter(F.col("doc_id") % 3 == 0)
    b = docs.filter(F.col("doc_id") % 3 == 1)
    v0 = t.commit(a, "overwrite")
    v1 = t.commit(b, "append")
    v2 = t.commit(b, "overwrite")
    assert (v0, v1, v2) == (0, 1, 2)
    assert t.current_version() == 2
    assert _rows(t.read(0)) == _rows(a)
    assert _rows(t.read(1)) == _rows(a.unionByName(b))
    assert _rows(t.read(2)) == _rows(b)
    assert _rows(t.read()) == _rows(b)  # head
    ops = [h["op"] for h in t.history()]
    assert ops == ["overwrite", "append", "overwrite"]
    with pytest.raises(ValueError, match="version 9"):
        t.read(9)
    # append shares the prior version's files — no copy of old data
    f0 = set(_entry(t, 0)["files"])
    f1 = set(_entry(t, 1)["files"])
    assert f0 < f1


def test_concurrent_writer_refusal(spark, sf_dir, tmp_path, mk_table, monkeypatch):
    """Two writers race for the same version number: exactly one wins
    the exclusive-create; the loser — whose transform was computed
    against the now-stale head — gets ConcurrentWriteError (a silent
    land on N+2 would be a lost update), and the winner's commit is
    untouched. A retry that re-reads the head succeeds."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    other = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.limit(5))
    # interleave: while t's merge is writing its data files, the other
    # writer lands version 1 first
    orig = t._write_files

    def hijack(df, cmap=None):
        files = orig(df, cmap=cmap)
        if other.current_version() == 0:
            other.commit(docs.limit(2))
        return files

    monkeypatch.setattr(t, "_write_files", hijack)
    with pytest.raises(ConcurrentWriteError, match="version 1"):
        t.merge(docs.limit(3).withColumn("text", F.lit("x")), "doc_id")
    # the winner's commit survived; loser's retry lands version 2
    assert t.current_version() == 1
    assert len(_rows(t.read())) == 2
    assert t.merge(docs.limit(3).withColumn("text", F.lit("x")),
                   "doc_id") == 2


def test_txn_exactly_once_replay(spark, sf_dir, tmp_path, mk_table):
    """A commit carrying a txn_id is idempotent: the replay returns the
    original version and writes nothing new — the foreachBatch
    crash-replay contract."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    v = t.commit(docs.limit(10), txn_id="job-1")
    again = t.commit(docs.limit(99), txn_id="job-1")  # replay: ignored
    assert (v, again) == (0, 0)
    assert t.current_version() == 0
    assert len(_rows(t.read())) == 10
    # merge replay too
    src = docs.limit(3).withColumn("text", F.lit("changed"))
    v1 = t.merge(src, "doc_id", txn_id="merge-1")
    v2 = t.merge(src, "doc_id", txn_id="merge-1")
    assert (v1, v2) == (1, 1)


def test_merge_and_diff_through_log(spark, sf_dir, tmp_path, mk_table):
    """MERGE commits copy-on-write (old version intact) and diff(v0,v1)
    equals snapshot_diff over the two reads — CDC straight from the
    log, matching the q_snapshot_diff machinery."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    base = docs.filter(F.col("doc_id") % 5 != 0)
    t.commit(base)
    changed = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .withColumn("text", F.upper(F.col("text")))
    )
    t.merge(changed, "doc_id")
    # old version unchanged (copy-on-write)
    assert _rows(t.read(0)) == _rows(base)
    d = t.diff(0, 1, "doc_id", ["text"])
    got = {r.doc_id: r.change for r in d.collect()}
    base_ids = {r.doc_id for r in base.select("doc_id").collect()}
    chg_ids = {r.doc_id for r in changed.select("doc_id").collect()}
    # every %7 doc joined in: added if absent from base, else changed
    # (unless its text was already upper — sf docs always have lower)
    for i in chg_ids:
        assert got[i] == ("added" if i not in base_ids else "changed")
    assert set(got) == chg_ids  # nothing else moved


def test_compact_preserves_content_and_history(spark, sf_dir, tmp_path, mk_table):
    """Compaction is just another commit: fewer files, identical rows,
    and the fragmented prior version still reads (no swap gap)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.repartition(16))  # fragment
    n_before = _entry(t, 0)["n_files"]
    v = t.compact(target_bytes=1 << 30)
    n_after = _entry(t, v)["n_files"]
    assert n_after < n_before and n_after == 1
    assert _rows(t.read(v)) == _rows(t.read(0)) == _rows(docs)
    assert t.history()[-1]["op"] == "compact"


def test_vacuum_retention(spark, sf_dir, tmp_path, mk_table):
    """vacuum(keep_last=1) deletes files only old versions reference:
    time travel to them fails, the head is untouched, and files shared
    with the head survive."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.filter(F.col("doc_id") % 2 == 0))
    t.commit(docs.filter(F.col("doc_id") % 2 == 1), "append")  # shares v0 files
    t.commit(docs.limit(7))  # head: fresh files only
    head_rows = _rows(t.read())
    n = t.vacuum(keep_last=1)
    assert n > 0
    assert _rows(t.read()) == head_rows
    # v0's files were only referenced by retired versions → gone
    v0_files = _entry(t, 0)["files"]
    assert not any(os.path.exists(f) for f in v0_files)
    with pytest.raises(Exception):
        t.read(0).collect()
    # shared-file safety: keep_last=2 over a fresh table with an append
    t2 = mk_table(str(tmp_path / "tbl2"))
    t2.commit(docs.limit(5))
    t2.commit(docs.limit(3), "append")
    assert t2.vacuum(keep_last=2) == 0  # both versions retained


def test_streaming_upsert_through_log_exactly_once(spark, sf_dir, tmp_path, mk_table):
    """lake_upsert_sink: each micro-batch is one MERGE commit with
    txn_id=batch_id; a second drain over the same checkpoint adds no
    commits, and a manual replay of a batch's txn is a no-op."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    land = tmp_path / "landing"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(land / "s1"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(land / "s2"))
    from aws_data_pipeline_ads_spark import streaming

    t = mk_table(str(tmp_path / "tbl"))
    stream = streaming.documents_stream(spark, str(land),
                                        max_files_per_trigger=1)
    lake_upsert_sink(stream, t, str(tmp_path / "ck"), "doc_id")
    head = t.current_version()
    assert head is not None
    assert _rows(t.read().select("doc_id", "text")) == _rows(docs)
    # second drain, same checkpoint: no new input → no new commits
    stream = streaming.documents_stream(spark, str(land),
                                        max_files_per_trigger=1)
    lake_upsert_sink(stream, t, str(tmp_path / "ck"), "doc_id")
    assert t.current_version() == head
    # crash-replay of batch 0's txn: answered from the log (txn ids are
    # scoped by the query id Spark pins in the checkpoint)
    qid = json.loads((tmp_path / "ck" / "metadata").read_text())["id"]
    assert t.merge(docs.limit(1), "doc_id",
                   txn_id=f"{qid}:stream-batch-0") <= head
    assert t.current_version() == head


def test_schema_drift_refused_and_evolution(spark, sf_dir, tmp_path, mk_table):
    """Schema tier: every commit pins its schema in the log entry;
    appends are validated against it BEFORE any file lands. Drift
    (added column) is refused by default; evolve=True widens the table
    — old files read the new column as null, and time travel returns
    each version's OWN schema (v0 never shows the evolved column)."""
    from aws_data_pipeline_ads_spark.lakelog import SchemaMismatchError

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    a = docs.filter(F.col("doc_id") % 2 == 0)
    t.commit(a, "overwrite")

    widened = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "lang", F.lit("en"))
    # refusal happens before any data file is written
    n_data_dirs = len(os.listdir(tmp_path / "tbl" / "data"))
    with pytest.raises(SchemaMismatchError, match="adds columns \\['lang'\\]"):
        t.commit(widened, "append")
    assert t.current_version() == 0
    assert len(os.listdir(tmp_path / "tbl" / "data")) == n_data_dirs

    v1 = t.commit(widened, "append", evolve=True)
    assert v1 == 1
    head = t.read()
    assert set(head.columns) == {"doc_id", "text", "lang"}
    by_parity = {r.doc_id % 2: r.lang for r in head.collect()}
    assert by_parity[0] is None and by_parity[1] == "en"  # old files → null
    # time travel: v0 keeps its original two-column schema
    assert set(t.read(0).columns) == {"doc_id", "text"}
    # column ORDER is free (name-based resolution under a pinned
    # schema), and an append may OMIT committed columns — the standard
    # partial-producer append; its rows read the omitted column as null
    reordered = a.select("text", "doc_id")
    v2 = t.commit(reordered, "append")
    assert _rows(t.read(v2).select("doc_id", "text")) == _rows(
        a.unionByName(a).unionByName(
            docs.filter(F.col("doc_id") % 2 == 1)).select("doc_id", "text"))
    assert set(t.read(v2).columns) == {"doc_id", "text", "lang"}


def test_schema_type_change_refused(spark, sf_dir, tmp_path, mk_table):
    """A type change is refused even under evolve=True — no widening
    semantics makes it safe (a footer-resolved read would coerce or
    null depending on which file won). An overwrite commit may change
    schema freely: it IS the rewrite."""
    from aws_data_pipeline_ads_spark.lakelog import SchemaMismatchError

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs, "overwrite")
    retyped = docs.withColumn("doc_id", F.col("doc_id").cast("string"))
    with pytest.raises(SchemaMismatchError, match="changes column types"):
        t.commit(retyped, "append", evolve=True)
    v = t.commit(retyped, "overwrite")
    assert t.read(v).schema["doc_id"].dataType.typeName() == "string"


def test_data_skipping_scan(spark, sf_dir, tmp_path, mk_table):
    """File-skipping: commit a range-clustered snapshot, scan a narrow
    key range — the driver prunes files from the LOG's per-file min/max
    stats alone (no footer reads, no tasks), results equal the full
    filter, and strictly fewer files are opened. Files without a
    recorded stat are conservatively kept."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    # range-clustered layout → per-file doc_id ranges are disjoint
    t.commit(docs.repartitionByRange(8, "doc_id"), "overwrite")
    entry = _entry(t, 0)
    assert len(entry["files"]) == 8
    assert all("doc_id" in s for s in entry["stats"].values())

    lo, hi = 100, 140
    scanned = t.scan({"doc_id": (lo, hi)})
    expect = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
    assert _rows(scanned) == _rows(expect)
    assert 0 < len(scanned.inputFiles()) < 8  # pruned, not scanned-all
    # half-open ranges
    assert _rows(t.scan({"doc_id": (None, 10)})) == _rows(
        docs.filter(F.col("doc_id") <= 10))
    n_all = docs.count()
    assert t.scan({"doc_id": (None, None)}).count() == n_all
    # a column with no recorded stats (strings ARE recorded; fake one
    # by scanning an unknown-stats column name → every file kept)
    assert t.scan({"text": (" ", "\U0010ffff")}).count() == n_all

    # append keeps per-file stats for old AND new files
    extra = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    t.commit(extra.repartitionByRange(4, "doc_id"), "append")
    entry1 = _entry(t, 1)
    assert len(entry1["stats"]) == 12
    s2 = t.scan({"doc_id": (100000 + lo, 100000 + hi)})
    assert s2.count() == expect.count()
    assert 0 < len(s2.inputFiles()) < 12


def test_optimize_zorder_multicolumn_skipping(spark, sf_dir, tmp_path, mk_table):
    """OPTIMIZE ZORDER as a commit: after clustering on (doc_id,
    n_chars), scan() prunes files for a narrow range on EITHER column
    (every file covers a compact box, so both dimensions' min/max are
    selective), with exact results; history records the op and the
    pre-optimize version still reads."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "text")
    t = mk_table(str(tmp_path / "tbl"))
    # commit in a layout clustered by NEITHER column's hash → stats
    # boxes are wide and pruning would be impossible
    t.commit(docs.repartition(16, "text"))
    v = t.optimize_zorder(["doc_id", "n_chars"], n_files=16)
    assert t.history()[-1]["op"] == "zorder" and v == 1
    assert _rows(t.read(1).select("doc_id")) == _rows(docs.select("doc_id"))

    mx_id = docs.agg(F.max("doc_id")).collect()[0][0]
    mx_ch = docs.agg(F.max("n_chars")).collect()[0][0]
    for col, hi in (("doc_id", mx_id // 8), ("n_chars", mx_ch // 8)):
        s = t.scan({col: (None, hi)})
        assert _rows(s) == _rows(docs.filter(F.col(col) <= hi))
        assert 0 < len(s.inputFiles()) < 16, col
    # the unclustered version cannot prune (wide boxes keep all files)
    wide = t.scan({"doc_id": (None, mx_id // 8)}, version=0)
    assert _rows(wide) == _rows(docs.filter(F.col("doc_id") <= mx_id // 8))


def test_changes_multiversion_cdc_feed(spark, sf_dir, tmp_path, mk_table):
    """changes(v_from, v_to): the concatenation of consecutive diffs,
    each row tagged with the version that introduced it — an
    incremental consumer's 'everything since N' read."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.filter(F.col("doc_id") % 2 == 0))
    t.merge(docs.filter(F.col("doc_id") % 4 == 1), "doc_id")        # adds
    t.merge(docs.filter(F.col("doc_id") % 4 == 0)
            .withColumn("text", F.upper("text")), "doc_id")         # changes
    feed = t.changes(0, 2, "doc_id", ["text"]).collect()
    by_ver = {}
    for r in feed:
        by_ver.setdefault(r.version, []).append((r.doc_id, r.change))
    assert set(by_ver) == {1, 2}
    assert all(c == "added" and d % 4 == 1 for d, c in by_ver[1])
    assert all(c == "changed" and d % 4 == 0 for d, c in by_ver[2])
    # equivalence with the pairwise diffs
    assert sorted((r.doc_id, r.change) for r in feed) == sorted(
        [(r.doc_id, r.change) for r in t.diff(0, 1, "doc_id", ["text"]).collect()]
        + [(r.doc_id, r.change) for r in t.diff(1, 2, "doc_id", ["text"]).collect()])
    with pytest.raises(ValueError, match="v_from < v_to"):
        t.changes(2, 2, "doc_id", ["text"])


def test_timestamp_data_skipping(spark, sf_dir, tmp_path, mk_table):
    """Time-range skipping — the dominant 100 TB predicate: events
    committed range-clustered on ts carry per-file ISO-microsecond
    min/max in the log; a narrow time window prunes files with exact
    results, and a tz-aware bound (normalized to UTC) prunes
    identically to the naive-UTC one."""
    import datetime as dt

    from aws_data_pipeline_ads_spark.catalog import load_table as lt

    ev = lt(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(ev.repartitionByRange(8, "ts"))
    entry = _entry(t, 0)
    assert all(isinstance(s["ts"][0], str) and "T" in s["ts"][0]
               for s in entry["stats"].values())

    lo_r, hi_r = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    cut = lo_r + (hi_r - lo_r) / 8
    s = t.scan({"ts": (None, cut)})
    assert _rows(s) == _rows(ev.filter(F.col("ts") <= cut))
    assert 0 < len(s.inputFiles()) < 8
    # tz-aware bound prunes identically (UTC-normalized stat key)
    aware = cut.replace(tzinfo=dt.timezone.utc).astimezone(
        dt.timezone(dt.timedelta(hours=-5)))
    s2 = t.scan({"ts": (None, aware)})
    assert len(s2.inputFiles()) == len(s.inputFiles())
    assert s2.count() == s.count()


def test_log_checkpoint_consolidation(spark, sf_dir, tmp_path, mk_table):
    """checkpoint(expire=True): per-version entry files collapse into
    one atomically-swapped checkpoint; reads, time travel, history,
    txn replay, scan stats, and the NEXT commit's version numbering
    all survive — the O(versions) log walk becomes O(1)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.filter(F.col("doc_id") % 2 == 0)
             .repartitionByRange(4, "doc_id"), txn_id="job-a")
    t.commit(docs.filter(F.col("doc_id") % 2 == 1), "append")
    t.merge(docs.limit(5).withColumn("text", F.lit("x")), "doc_id",
            txn_id="job-b")
    rows_head = _rows(t.read())
    rows_v0 = _rows(t.read(0))

    assert t.checkpoint() == 2
    # per-version files gone; only the checkpoint remains
    assert sorted(t.backend.list(t.log_dir)) == ["_checkpoint.json"]
    assert t.current_version() == 2
    assert _rows(t.read()) == rows_head
    assert _rows(t.read(0)) == rows_v0          # time travel via checkpoint
    assert [h["op"] for h in t.history()] == ["overwrite", "append", "merge"]
    # txn replay across the checkpoint: original versions answered
    assert t.commit(docs.limit(99), txn_id="job-a") == 0
    assert t.merge(docs.limit(9), "doc_id", txn_id="job-b") == 2
    # scan stats preserved through the checkpoint
    s = t.scan({"doc_id": (None, 5)}, version=0)
    assert _rows(s) == _rows(docs.filter(
        (F.col("doc_id") % 2 == 0) & (F.col("doc_id") <= 5)))
    assert 0 < len(s.inputFiles()) < 4
    # next commit numbers past the checkpointed head
    assert t.commit(docs.limit(3)) == 3
    assert _rows(t.read(2)) == rows_head  # pre-checkpoint head intact
    with pytest.raises(ValueError, match="version 9"):
        t.read(9)


def test_scan_naive_datetime_bound_hostile_os_tz(spark, sf_dir, tmp_path,
                                                 mk_table):
    """A NAIVE datetime scan bound must mean the same instant to the
    pruner and to the exact F.lit filter. PySpark converts naive
    datetimes through time.mktime — the OS timezone (TZ env), not the
    session tz — while file stats are UTC instants; a pruner reading
    the naive value as UTC would, under a non-UTC process zone, prune
    files whose rows the filter keeps (silent row loss, the r6 advice
    find). Flip the OS zone in-process (tzset — the datetime→Catalyst
    conversion and collect() both happen Python-side) and check scan()
    equals the plain filter while still pruning."""
    import time as _time

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(ev.repartitionByRange(8, "ts"))
    prev_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        # collect() returns naive datetimes in OS-local (NY) wall time
        # — exactly the bound a user would pass back into scan()
        lo_r, hi_r = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
        low_cut = lo_r + (hi_r - lo_r) / 8             # lower eighth
        high_cut = hi_r - (hi_r - lo_r) / 8            # upper eighth
        for cut in (low_cut, high_cut):
            assert cut.tzinfo is None
            # BOTH directions must equal the plain filter (the r6 bug
            # silently dropped rows on exactly this shape)...
            s_le = t.scan({"ts": (None, cut)})
            assert _rows(s_le) == _rows(ev.filter(F.col("ts") <= cut))
            s_ge = t.scan({"ts": (cut, None)})
            assert _rows(s_ge) == _rows(ev.filter(F.col("ts") >= cut))
            # ...and the selective side of each cut still prunes
            selective = s_le if cut is low_cut else s_ge
            assert 0 < len(selective.inputFiles()) < 8
    finally:
        if prev_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev_tz
        _time.tzset()


def test_checkpoint_publish_is_compare_and_swap(spark, sf_dir,
                                                tmp_path, mk_table):
    """Checkpoint publication is CAS (put_if_match), closing the
    lost-update race a plain overwrite leaves open: a STALE concurrent
    checkpoint landing after the winner must lose outright — with
    last-writer-wins it would clobber the newer snapshot AFTER the
    newer writer already expired the per-version JSONs only its own
    checkpoint covered, making committed versions vanish and the
    visible head regress."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.limit(4))
    t.commit(docs.limit(2), "append")
    t.commit(docs.limit(6))                      # head = v2
    rows_v2 = _rows(t.read(2))

    # winner checkpoints through v2 and expires the per-version JSONs
    assert t.checkpoint(expire=True) == 2
    published = t.backend.get(t._checkpoint_path())

    # a stale competitor (built against the PRE-winner state: expected
    # = None, snapshot through v1 only) now tries to publish: the CAS
    # must refuse — under plain overwrite this exact write would have
    # erased v2 from the log (its JSON is already expired)
    competitor = {"through": 1,
                  "entries": {str(v): json.loads(published)["entries"][str(v)]
                              for v in (0, 1)}}
    assert t.backend.put_if_match(
        t._checkpoint_path(), json.dumps(competitor), None) is False
    assert t.backend.get(t._checkpoint_path()) == published

    # a fresh reader still sees the true head through the checkpoint
    t2 = mk_table(str(tmp_path / "tbl"))
    assert t2.current_version() == 2
    assert _rows(t2.read(2)) == rows_v2
    assert _rows(t2.read(0)) == _rows(docs.limit(4))  # via checkpoint


def test_checkpoint_cas_loser_retries_with_superset(spark, sf_dir,
                                                    tmp_path, mk_table):
    """A checkpoint writer that LOSES the CAS retries from the fresh
    state: its rebuilt snapshot folds in the winner's entries (via
    _versions/_read_entry over checkpoint + listed files), so the
    republished checkpoint is a superset — no committed version's
    metadata is lost, head never regresses."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.limit(4))
    t.commit(docs.limit(2), "append")            # head = v1

    orig = t.backend.put_if_match
    state = {"raced": False}

    def interleave(path, data, expected):
        # first attempt: a competitor (v0-only snapshot) publishes
        # between our read and our CAS — we must lose
        if not state["raced"]:
            state["raced"] = True
            competitor = {"through": 0,
                          "entries": {"0": t._read_entry(0)}}
            assert orig(path, json.dumps(competitor), expected)
            return orig(path, data, expected)  # stale expected → False
        return orig(path, data, expected)

    t.backend.put_if_match = interleave
    assert t.checkpoint(expire=True) == 1        # retried, won 2nd CAS
    t.backend.put_if_match = orig

    ck = json.loads(t.backend.get(t._checkpoint_path()))
    assert ck["through"] == 1
    assert set(ck["entries"]) == {"0", "1"}      # superset of the winner
    t2 = mk_table(str(tmp_path / "tbl"))
    assert t2.current_version() == 1
    assert _rows(t2.read(1)) == _rows(t.read(1))


def test_legacy_entry_append_resolves_footer_schema(spark, sf_dir,
                                                    tmp_path, mk_table):
    """Appending onto a PRE-SCHEMA-TIER log entry (hand-built/older
    log, no pinned schema) must not blindly pin the incoming df.schema
    over legacy files: the committed schema is resolved from the
    existing files' footers and the drift gate applies — a type-drifted
    append is refused, a widened one needs evolve=True."""
    from aws_data_pipeline_ads_spark.lakelog import SchemaMismatchError

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.limit(10))
    # strip the schema pin, simulating a legacy entry
    e = _entry(t, 0)
    del e["schema"]
    t.backend.delete(t._entry_path(0))
    assert t.backend.put_if_absent(t._entry_path(0), json.dumps(e))

    retyped = docs.limit(3).withColumn("doc_id",
                                       F.col("doc_id").cast("string"))
    with pytest.raises(SchemaMismatchError, match="changes column types"):
        t.commit(retyped, "append")
    widened = docs.limit(3).withColumn("lang", F.lit("en"))
    with pytest.raises(SchemaMismatchError, match="adds columns"):
        t.commit(widened, "append")
    v1 = t.commit(widened, "append", evolve=True)
    got = t.read(v1)
    assert set(got.columns) == {"doc_id", "text", "lang"}
    assert got.count() == 13
    # and the new version is schema-pinned going forward
    assert "schema" in _entry(t, v1)


def test_empty_table_maintenance_guards(spark, tmp_path, mk_table):
    """compact()/optimize_zorder() on a table with no commits raise the
    same clear ValueError as read()/checkpoint() — not a TypeError from
    formatting version None."""
    t = mk_table(str(tmp_path / "tbl"))
    with pytest.raises(ValueError, match="no commits"):
        t.compact()
    with pytest.raises(ValueError, match="no commits"):
        t.optimize_zorder(["doc_id"])


def test_delete_cow_partial_rewrite(spark, sf_dir, tmp_path, mk_table):
    """Row-level DELETE: results equal the negated filter, files whose
    stat box cannot contain matching rows are SHARED byte-for-byte with
    the prior version (never rewritten), the old version still reads in
    full (time travel), and a txn_id makes the delete replay-safe."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.repartitionByRange(8, "doc_id"))
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    lo, hi = mx // 3, 2 * mx // 3

    v1 = t.delete({"doc_id": (lo, hi)}, txn_id="del-1")
    assert v1 == 1 and t.history()[-1]["op"] == "delete"
    assert _rows(t.read()) == _rows(
        docs.filter((F.col("doc_id") < lo) | (F.col("doc_id") > hi)))
    assert _rows(t.read(0)) == _rows(docs)  # old version intact
    # CoW sharing: most files outside the deleted key band survive
    # verbatim in the new file list; at least one was rewritten
    f0, f1 = set(_entry(t, 0)["files"]), set(_entry(t, 1)["files"])
    shared = f0 & f1
    assert shared and f1 - f0, (len(shared), len(f1 - f0))
    # stats carried over for shared files → scan still prunes
    s = t.scan({"doc_id": (None, lo - 1)})
    assert 0 < len(s.inputFiles()) < len(f1)
    # replay: same txn returns the committed version, no new commit
    assert t.delete({"doc_id": (0, mx)}, txn_id="del-1") == 1
    assert t.current_version() == 1
    # a row with NULL in the ranged column never matches → survives
    t2 = mk_table(str(tmp_path / "tbl2"))
    nulls = spark.createDataFrame(
        [(1, "a"), (None, "keep-me"), (9, "z")], "doc_id long, text string")
    t2.commit(nulls)
    t2.delete({"doc_id": (0, 100)})
    assert [r.text for r in t2.read().collect()] == ["keep-me"]
    with pytest.raises(ValueError, match="bounded range"):
        t2.delete({"doc_id": (None, None)})


def test_restore_rolls_back_without_losing_history(spark, sf_dir,
                                                   tmp_path, mk_table):
    """restore(v): the head becomes v's exact snapshot as a NEW commit
    — zero data copied (file lists identical), the bad commit stays
    readable, and subsequent commits number past the restore."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs)
    t.commit(docs.limit(3))                     # the "bad" overwrite
    v2 = t.restore(0, txn_id="undo-1")
    assert v2 == 2 and t.history()[-1]["op"] == "restore"
    assert _rows(t.read()) == _rows(docs)
    assert _entry(t, 2)["files"] == _entry(t, 0)["files"]  # shared
    assert len(_rows(t.read(1))) == 3           # forensics intact
    assert t.restore(0, txn_id="undo-1") == 2   # replay-safe
    # restored stats still drive data skipping on the new head
    assert "stats" in _entry(t, 2)
    assert t.commit(docs.limit(5)) == 3


def test_update_cow_partial_rewrite(spark, sf_dir, tmp_path, mk_table):
    """Row-level UPDATE: matched rows get the SET expression, all other
    rows pass through bit-identical; files outside the key band are
    shared with the prior version; NULL in the ranged column never
    matches; txn replay is a no-op."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.repartitionByRange(8, "doc_id"))
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    lo, hi = mx // 3, 2 * mx // 3

    v1 = t.update({"doc_id": (lo, hi)}, {"n_chars": F.lit(-1).cast("long")},
                  txn_id="upd-1")
    assert v1 == 1 and t.history()[-1]["op"] == "update"
    expect = docs.withColumn(
        "n_chars",
        F.when((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi),
               F.lit(-1).cast("long")).otherwise(F.col("n_chars")))
    assert _rows(t.read()) == _rows(expect)
    assert _rows(t.read(0)) == _rows(docs)            # time travel
    f0, f1 = set(_entry(t, 0)["files"]), set(_entry(t, 1)["files"])
    assert (f0 & f1) and (f1 - f0)                    # CoW sharing
    assert t.update({"doc_id": (0, mx)}, {"n_chars": "0"},
                    txn_id="upd-1") == 1              # replay
    # SQL-string expressions work too
    t.update({"doc_id": (None, lo - 1)}, {"n_chars": "n_chars * 10"})
    got = {r.doc_id: r.n_chars for r in t.read().collect()}
    base = {r.doc_id: r.n_chars for r in docs.collect()}
    for d, n in base.items():
        want = -1 if lo <= d <= hi else (n * 10 if d < lo else n)
        assert got[d] == want, d
    with pytest.raises(ValueError, match="unknown column"):
        t.update({"doc_id": (0, 1)}, {"nope": "1"})


def test_bloom_point_lookup_skips_files(spark, sf_dir, tmp_path, mk_table):
    """Per-file bloom index: on a layout NOT clustered by the probed
    column the min/max boxes keep every file, but scan_point's bloom
    probe opens only the file(s) that can hold the key — exact results,
    needle-in-a-haystack contract. The index survives append (inherited
    bloom_cols), delete (partial rewrite), compact, and restore."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    # hash-partitioned on text → every file's doc_id [min,max] spans
    # the whole domain, min/max pruning is useless by construction
    t.commit(docs.repartition(16, "text"), bloom_cols=["doc_id"])
    e = _entry(t, 0)
    assert e["bloom_cols"] == ["doc_id"]
    assert len(e["blooms"]) == len(e["files"])

    target = docs.agg(F.max("doc_id")).collect()[0][0] // 2
    s = t.scan_point({"doc_id": target})
    assert _rows(s) == _rows(docs.filter(F.col("doc_id") == target))
    n_total = len(e["files"])
    assert 0 < len(s.inputFiles()) < n_total  # bloom did the skipping
    # plain scan() (min/max only) cannot prune this layout
    assert len(t.scan({"doc_id": (target, target)}).inputFiles()) == n_total
    # absent key: typically zero files opened, always zero rows
    assert t.scan_point({"doc_id": -12345}).count() == 0

    # append WITHOUT restating bloom_cols: index inherited + extended
    extra = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 10_000_000)
    t.commit(extra, "append")
    e1 = _entry(t, 1)
    assert e1["bloom_cols"] == ["doc_id"] and len(e1["blooms"]) > len(e["blooms"])
    s2 = t.scan_point({"doc_id": target})
    assert _rows(s2) == _rows(docs.filter(F.col("doc_id") == target))
    assert len(s2.inputFiles()) < len(e1["files"])
    # delete rewrites only affected files and refreshes their blooms
    t.delete({"doc_id": (target, target)})
    assert t.scan_point({"doc_id": target}).count() == 0
    assert "blooms" in _entry(t, 2)
    # compact keeps the index alive (recomputed over the new layout)
    t.compact(target_bytes=1 << 30)
    e3 = _entry(t, 3)
    assert e3["bloom_cols"] == ["doc_id"] and len(e3["blooms"]) == len(e3["files"])
    # restore brings back the pre-delete index verbatim
    t.restore(1)
    assert _rows(t.scan_point({"doc_id": target})) == _rows(
        docs.filter(F.col("doc_id") == target))


def test_metadata_only_stats(spark, sf_dir, tmp_path, mk_table):
    """stats(): COUNT(*)/MIN/MAX from the log alone — values equal the
    full-scan aggregates after every commit kind (overwrite, append,
    delete, update, merge, compact, restore), and a pre-row_counts
    entry refuses rather than guesses."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = mk_table(str(tmp_path / "tbl"))

    def check():
        s = t.stats()
        df = t.read()
        n, mn, mx = df.agg(F.count("*"), F.min("doc_id"),
                           F.max("doc_id")).collect()[0]
        assert s["rows"] == n
        assert s["min"]["doc_id"] == mn and s["max"]["doc_id"] == mx

    t.commit(docs.repartitionByRange(4, "doc_id"))
    check()
    extra = docs.limit(7).withColumn("doc_id", F.col("doc_id") + 500_000)
    t.commit(extra, "append")
    check()
    mx0 = docs.agg(F.max("doc_id")).collect()[0][0]
    t.delete({"doc_id": (0, mx0 // 4)})
    check()
    t.update({"doc_id": (mx0 // 2, mx0)}, {"n_chars": "0"})
    check()
    t.merge(docs.limit(3).withColumn("n_chars", F.lit(1).cast("long")),
            "doc_id")
    check()
    t.compact(target_bytes=1 << 30)
    check()
    t.restore(0)
    check()
    # legacy entry without counts → loud refusal
    e = _entry(t, 0)
    del e["row_counts"]
    t.backend.delete(t._entry_path(0))
    assert t.backend.put_if_absent(t._entry_path(0), json.dumps(e))
    with pytest.raises(ValueError, match="no row counts"):
        t.stats(version=0)


def test_append_retry_merges_onto_new_head(spark, sf_dir, tmp_path,
                                           mk_table, monkeypatch):
    """Appends never conflict: with retries, an append that loses the
    version race re-merges its ALREADY-WRITTEN files onto the winner's
    head and republishes — no byte rewritten (data lands exactly once),
    no ConcurrentWriteError escapes, and the final snapshot holds both
    writers' rows. Overwrite refuses the retry knob (losing a race on a
    snapshot replacement must be re-decided by the caller)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    other = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.filter(F.col("doc_id") % 3 == 0))

    writes = 0
    orig = t._write_files

    def hijack(df, cmap=None):
        nonlocal writes
        writes += 1
        files = orig(df, cmap=cmap)
        if other.current_version() == 0:  # competitor wins version 1
            other.commit(docs.filter(F.col("doc_id") % 3 == 1), "append")
        return files

    monkeypatch.setattr(t, "_write_files", hijack)
    appended = docs.filter(F.col("doc_id") % 3 == 2)
    v = t.commit(appended, "append", retries=2)
    assert v == 2 and writes == 1          # data written exactly once
    assert _rows(t.read()) == _rows(docs)  # all three thirds landed
    # row-count metadata survived the re-merge
    assert t.stats()["rows"] == docs.count()
    with pytest.raises(ValueError, match="mode='append'"):
        t.commit(docs, "overwrite", retries=1)


def test_lake_append_sink_exactly_once(spark, sf_dir, tmp_path, mk_table):
    """lake_append_sink: each micro-batch is one append commit with
    txn_id=batch_id; a second drain over the same checkpoint adds no
    commits and a manual replay of a batch txn is a no-op."""
    from aws_data_pipeline_ads_spark import streaming
    from aws_data_pipeline_ads_spark.lakelog import lake_append_sink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    land = tmp_path / "landing"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(land / "s1"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(land / "s2"))
    t = mk_table(str(tmp_path / "tbl"))
    stream = streaming.documents_stream(spark, str(land),
                                        max_files_per_trigger=1)
    lake_append_sink(stream, t, str(tmp_path / "ck"))
    head = t.current_version()
    assert head is not None
    assert _rows(t.read()) == _rows(docs)
    assert [h["op"] for h in t.history()].count("append") >= 1
    # second drain, same checkpoint: no new input → no new commits
    stream = streaming.documents_stream(spark, str(land),
                                        max_files_per_trigger=1)
    lake_append_sink(stream, t, str(tmp_path / "ck"))
    assert t.current_version() == head
    # crash-replay of batch 0's txn: answered from the log. The txn id
    # is scoped by the streaming query's persistent id (read back from
    # the checkpoint, where Spark pins it).
    qid = json.loads((tmp_path / "ck" / "metadata").read_text())["id"]
    assert t.commit(docs.limit(1), "append",
                    txn_id=f"{qid}:append-batch-0") <= head
    assert t.current_version() == head
    # a DIFFERENT producer's batch 0 is NOT a replay: same batch
    # number, different query id → commits normally (the r7 silent-drop
    # hazard: unscoped batch ids made producer #2's data vanish)
    v = t.commit(docs.limit(1), "append",
                 txn_id="other-producer:append-batch-0")
    assert v == head + 1


def test_deferred_delete_merge_on_read(spark, sf_dir, tmp_path, mk_table):
    """delete(defer=True): an O(1) commit — the file list is untouched
    (no data dir grows), yet every read path hides the rows instantly
    (read/scan/scan_point/time-travel semantics); appends keep the
    predicate; stats() refuses while pending; compact() materializes
    the deletes and clears them; the pre-delete version still shows the
    rows (time travel)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.repartitionByRange(8, "doc_id"), bloom_cols=["doc_id"])
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    lo, hi = mx // 3, 2 * mx // 3
    n_dirs = len(os.listdir(tmp_path / "tbl" / "data"))

    v1 = t.delete({"doc_id": (lo, hi)}, txn_id="gdpr-1", defer=True)
    assert v1 == 1 and t.history()[-1]["op"] == "delete-defer"
    # O(1): same file list, not one new data directory
    assert _entry(t, 1)["files"] == _entry(t, 0)["files"]
    assert len(os.listdir(tmp_path / "tbl" / "data")) == n_dirs
    surviving = docs.filter((F.col("doc_id") < lo) | (F.col("doc_id") > hi))
    assert _rows(t.read()) == _rows(surviving)
    assert _rows(t.read(0)) == _rows(docs)            # time travel
    # scan and point-lookup read through the predicate too
    assert _rows(t.scan({"doc_id": (None, mx)})) == _rows(surviving)
    assert t.scan_point({"doc_id": (lo + hi) // 2}).count() == 0
    # replay-safe
    assert t.delete({"doc_id": (0, mx)}, txn_id="gdpr-1", defer=True) == 1
    # stats refuses while pending
    with pytest.raises(ValueError, match="deferred deletes"):
        t.stats()
    # append: new rows land, predicate still covers the old files
    extra = docs.limit(4).withColumn("doc_id", F.col("doc_id") + 900_000)
    t.commit(extra, "append")
    assert _rows(t.read()) == _rows(surviving.unionByName(extra))
    # compact materializes and clears
    t.compact(target_bytes=1 << 30)
    e = _entry(t, t.current_version())
    assert "deferred_deletes" not in e
    assert _rows(t.read()) == _rows(surviving.unionByName(extra))
    assert t.stats()["rows"] == surviving.count() + 4  # stats work again
    # typed (datetime) bounds refuse the deferred path
    import datetime as dt

    with pytest.raises(ValueError, match="JSON-native"):
        t.delete({"doc_id": (dt.datetime(2024, 1, 1), None)}, defer=True)


def test_bloom_key_canonicalization(spark, sf_dir, tmp_path, mk_table):
    """A numpy integer or float-spelled probe of an int bloom column
    must hit the same bits the writer set (a repr() split would be a
    false NEGATIVE — skipping a file that holds the value); and a
    partial-producer append lacking the bloom column commits cleanly
    (its file just carries no bloom — conservative keep)."""
    import numpy as np

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.repartition(8, "text"), bloom_cols=["doc_id"])
    target = docs.agg(F.max("doc_id")).collect()[0][0] // 2
    want = _rows(t.scan_point({"doc_id": int(target)}))
    assert want  # the doc exists
    assert _rows(t.scan_point({"doc_id": np.int64(target)})) == want
    assert _rows(t.scan_point({"doc_id": float(target)})) == want
    # append WITHOUT the bloom column: commit succeeds, lookups intact
    t.commit(spark.createDataFrame([("orphan",)], "text string"), "append")
    assert _rows(t.scan_point({"doc_id": int(target)})) == want


def test_update_simultaneous_set_semantics(spark, tmp_path, mk_table):
    """SQL UPDATE semantics: every SET right-hand side and the
    predicate evaluate against the ORIGINAL row — a SET on the ranged
    column must not flip the predicate for later columns, and a column
    swap must read pre-update values."""
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame(
        [(1, 10, 100), (5, 50, 500), (20, 70, 700)],
        "k long, a long, b long"))
    # SET touches the ranged column k AND other columns; swap a/b
    t.update({"k": (0, 9)}, {"k": "k + 1000", "a": "b", "b": "a"})
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(20, 70, 700),            # outside range: untouched
                   (1001, 100, 10),          # k bumped, a/b swapped
                   (1005, 500, 50)]


def test_incremental_compaction_rewrites_only_small_files(spark, sf_dir,
                                                          tmp_path,
                                                          mk_table):
    """compact(incremental=True): right-sized files are shared
    byte-for-byte, only the small-file tail merges; rows identical;
    pending deferred deletes are preserved (untouched files still hold
    the rows physically) yet reads stay filtered; a table with <2 small
    files is a no-op returning the current version."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.coalesce(1))                           # one big file
    t.commit(docs.limit(40).repartition(8), "append")    # small tail
    e0 = _entry(t, 1)
    big = max(e0["files"], key=os.path.getsize)
    target = 2 * os.path.getsize(big) // 3  # big >= target/2 > small
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    t.delete({"doc_id": (0, mx // 10)}, defer=True)      # pending MoR
    before = _rows(t.read())

    v = t.compact(target_bytes=target, incremental=True)
    e = _entry(t, v)
    assert t.history()[-1]["op"] == "compact"
    assert big in e["files"]                             # shared
    assert len(e["files"]) < len(e0["files"])            # tail merged
    assert _rows(t.read()) == before                     # rows identical
    assert e.get("deferred_deletes")                     # MoR preserved
    # idempotent re-application over the merged (already-filtered) files
    assert _rows(t.read()) == _rows(t.read(v))
    # a compacted table with nothing small left: no-op, same version
    t2 = mk_table(str(tmp_path / "tbl2"))
    t2.commit(docs.coalesce(1))
    assert t2.compact(target_bytes=10, incremental=True) == 0
    assert t2.current_version() == 0


def test_deferred_delete_scoped_to_snapshot_files(spark, sf_dir, tmp_path,
                                                  mk_table):
    """Snapshot semantics (the per-file deletion-vector contract): a
    deferred delete covers the files that existed when it committed —
    rows APPENDED into the same key range afterwards are new data and
    stay visible; an update() moving a row into the range keeps it
    visible (its rewritten file is not covered); a fully-materialized
    predicate drops out of the entry."""
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame(
        [(k, k * 10) for k in range(20)], "k long, v long"))
    t.delete({"k": (5, 9)}, defer=True)
    assert sorted(r.k for r in t.read().collect()) == \
        [k for k in range(20) if not 5 <= k <= 9]
    # append INTO the deleted range: new data, must be visible
    t.commit(spark.createDataFrame([(7, 700)], "k long, v long"), "append")
    got = {r.k: r.v for r in t.read().collect()}
    assert got[7] == 700
    # update() moving a surviving row INTO the range keeps it visible
    t.update({"k": (15, 15)}, {"k": "6"})
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert (6, 150) in got and (15, 150) not in got
    # CoW-delete the full 0..20 range: every covered file is rewritten,
    # the deferred predicate is fully materialized and leaves the entry,
    # and no rows remain (keys never exceeded 20)
    t.delete({"k": (0, 20)})
    e = _entry(t, t.current_version())
    assert not e.get("deferred_deletes")
    assert t.read().count() == 0


def test_restore_refuses_vacuumed_version(spark, sf_dir, tmp_path,
                                          mk_table):
    """restore() must refuse a version whose data files were vacuumed —
    publishing a head that points at deleted files would fail at scan
    time instead of commit time."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.limit(10))
    t.commit(docs.limit(3))
    t.vacuum(keep_last=1)
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(0)
    assert t.current_version() == 1  # nothing published


def test_update_unknown_column_fails_even_when_pruned(spark, tmp_path,
                                                      mk_table):
    """A typo'd SET column raises even when the stats split leaves no
    affected file (the bug: validation lived inside `if affected`)."""
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, 2)], "k long, v long"))
    with pytest.raises(ValueError, match="unknown column"):
        t.update({"k": (10**12, 10**12 + 1)}, {"nope": "0"})
    assert t.current_version() == 0  # no no-op commit published


def test_bloom_cols_is_a_table_property(spark, sf_dir, tmp_path, mk_table):
    """A routine overwrite must not silently drop the bloom index: the
    new snapshot inherits bloom_cols (and rebuilds the blooms);
    bloom_cols=[] clears it explicitly."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.repartition(8, "text"), bloom_cols=["doc_id"])
    t.commit(docs.limit(50).repartition(8, "text"))  # plain overwrite
    e = _entry(t, 1)
    assert e["bloom_cols"] == ["doc_id"] and e["blooms"]
    target = docs.limit(50).agg(F.max("doc_id")).collect()[0][0]
    s = t.scan_point({"doc_id": target})
    assert s.count() >= 1 and len(s.inputFiles()) < 8
    t.commit(docs.limit(5), bloom_cols=[])           # explicit clear
    assert "bloom_cols" not in _entry(t, 2)


def test_lost_race_discards_unpublished_files(spark, sf_dir, tmp_path,
                                              mk_table, monkeypatch):
    """An append that loses its race with retries exhausted discards
    the data files it wrote (no entry will ever reference them): after
    the failure, every parquet file on disk is referenced by some log
    entry — vacuum-reclaimable, no permanent orphans."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    other = mk_table(str(tmp_path / "tbl"))
    t.commit(docs.limit(5))
    orig = t._write_files

    def hijack(df, cmap=None):
        files = orig(df, cmap=cmap)
        other.commit(docs.limit(2), "append")  # competitor always wins
        return files

    monkeypatch.setattr(t, "_write_files", hijack)
    with pytest.raises(ConcurrentWriteError):
        t.commit(docs.limit(3), "append", retries=0)
    monkeypatch.setattr(t, "_write_files", orig)
    referenced = set()
    for v in t._versions():
        referenced.update(t._read_entry(v)["files"])
    on_disk = {
        os.path.join(dp, f)
        for dp, _dirs, fs in os.walk(tmp_path / "tbl" / "data")
        for f in fs if f.endswith(".parquet")
    }
    assert on_disk <= referenced  # no orphans survive the lost race


def test_bloom_timestamp_probe_hostile_os_tz(spark, sf_dir, tmp_path,
                                             mk_table):
    """A naive-datetime probe of a TIMESTAMP bloom column under a
    non-UTC process zone must hit the bits the (UTC-instant) writer
    set: the probe localizes like F.lit does (review find — _stat_key
    alone would key the naive wall time and falsely skip the file
    holding the value)."""
    import time as _time

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    t = mk_table(str(tmp_path / "tbl"))
    # hash-partitioned on event_id → every file's ts box spans the whole
    # range; only the bloom can prune
    t.commit(ev.repartition(8, "event_id"), bloom_cols=["ts"])
    prev_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        row = ev.limit(1).collect()[0]   # ts: naive, OS-local (NY) wall
        assert row.ts.tzinfo is None
        s = t.scan_point({"ts": row.ts})
        ids = {r.event_id for r in s.collect()}
        assert row.event_id in ids       # the row is found...
        assert 0 < len(s.inputFiles()) <= 8
    finally:
        if prev_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev_tz
        _time.tzset()


def test_hilbert_index_is_a_unit_step_space_filling_curve():
    """Exhaustive correctness of the Skilling transform at bits=4, d=2:
    the 256 cell keys are a permutation of 0..255 (space-filling
    bijection), and walking the curve in key order moves exactly ONE
    coordinate by exactly 1 per step (the unit-step locality Morton
    lacks — Morton's diagonal jumps are why Hilbert boxes are tighter).
    Plus a d=3 bijection check."""
    import numpy as np

    from aws_data_pipeline_ads_spark.operators.partitioning import (
        hilbert_index,
    )

    grid = np.array([(x, y) for x in range(16) for y in range(16)])
    keys = hilbert_index(grid, bits=4)
    assert sorted(keys) == list(range(256))
    walk = grid[np.argsort(keys)]
    steps = np.abs(np.diff(walk, axis=0))
    assert (steps.sum(axis=1) == 1).all()

    g3 = np.array([(x, y, z) for x in range(8) for y in range(8)
                   for z in range(8)])
    k3 = hilbert_index(g3, bits=3)
    assert sorted(k3) == list(range(512))
    w3 = g3[np.argsort(k3)]
    assert (np.abs(np.diff(w3, axis=0)).sum(axis=1) == 1).all()


def test_optimize_zorder_hilbert_curve_skipping(spark, sf_dir, tmp_path,
                                                mk_table):
    """curve='hilbert': same OPTIMIZE commit protocol and exact
    results as Morton, pruning on EITHER clustered column, and — on
    the same data, params, and workload — the Hilbert layout opens no
    MORE files than the Morton layout (unit-step locality ⇒ per-file
    boxes at least as tight)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "text")
    hm = {}
    for curve in ("hilbert", "morton"):
        t = mk_table(str(tmp_path / curve))
        t.commit(docs.repartition(16, "text"))
        v = t.optimize_zorder(["doc_id", "n_chars"], n_files=16,
                              curve=curve)
        assert t.history()[-1]["op"] == "zorder" and v == 1
        assert _rows(t.read(1).select("doc_id")) == _rows(
            docs.select("doc_id"))
        mx_id = docs.agg(F.max("doc_id")).collect()[0][0]
        mx_ch = docs.agg(F.max("n_chars")).collect()[0][0]
        opened = 0
        for col, hi in (("doc_id", mx_id // 8), ("n_chars", mx_ch // 8)):
            s = t.scan({col: (None, hi)})
            assert _rows(s) == _rows(docs.filter(F.col(col) <= hi)), curve
            n = len(s.inputFiles())
            assert 0 < n < 16, (curve, col)
            opened += n
        hm[curve] = opened
    assert hm["hilbert"] <= hm["morton"], hm

    import pytest

    with pytest.raises(ValueError, match="unknown curve"):
        mk_table(str(tmp_path / "bad")).optimize_zorder(
            ["doc_id"], curve="peano")


def test_metadata_only_sum_propagates_all_commit_kinds(spark, sf_dir,
                                                       tmp_path, mk_table):
    """sum_cols tables: stats()['sum'] — answered from the log's
    per-file decimal sums, zero files opened — equals the full-scan
    SUM(CAST(col AS DECIMAL(38,6))) after EVERY commit kind, with CoW
    rewrites rescanning only their rewritten files (shared files carry
    their recorded sums verbatim). sum_cols behaves as a table
    property: appends and transforms inherit it; a sum-less table
    reports no 'sum' entries."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = mk_table(str(tmp_path / "tbl"))

    def check():
        got = t.stats()["sum"]["n_chars"]
        want = t.read().agg(
            F.sum(F.col("n_chars").cast("decimal(38,6)"))
            .cast("double")).collect()[0][0]
        assert got == want, (got, want)

    t.commit(docs.repartitionByRange(4, "doc_id"), sum_cols=["n_chars"])
    check()
    extra = docs.limit(7).withColumn("doc_id", F.col("doc_id") + 500_000)
    t.commit(extra, "append")              # inherits the property
    check()
    mx0 = docs.agg(F.max("doc_id")).collect()[0][0]
    t.delete({"doc_id": (0, mx0 // 4)})    # CoW: shared sums carried
    check()
    t.update({"doc_id": (mx0 // 2, mx0)}, {"n_chars": "0"})
    check()
    t.merge(docs.limit(3).withColumn("n_chars", F.lit(1).cast("long")),
            "doc_id")
    check()
    t.optimize_zorder(["doc_id", "n_chars"], n_files=4)
    check()
    t.compact(target_bytes=1 << 30)
    check()
    t.restore(0)
    check()
    # untouched-file sharing really happened: the delete entry (v2)
    # reuses recorded sums for every file it shares with v1
    e1, e2 = _entry(t, 1), _entry(t, 2)
    shared = set(e1["files"]) & set(e2["files"])
    assert shared and all(e2["sums"][f] == e1["sums"][f] for f in shared)
    # sums survive a checkpointed log walk (entries copied verbatim;
    # expire deletes the per-version JSONs the checkpoint covers)
    t.checkpoint()
    check()
    # a table without sum_cols reports no sums
    t2 = mk_table(str(tmp_path / "plain"))
    t2.commit(docs.limit(5))
    assert t2.stats()["sum"] == {}


def test_metadata_sum_null_semantics(spark, tmp_path, mk_table):
    """SQL SUM edge cases through the log: an all-NULL column sums to
    None (not 0.0 — the full-scan twin returns NULL), a mixed column
    ignores its nulls, and both match the scan exactly."""
    from pyspark.sql import Row

    t = mk_table(str(tmp_path / "tbl"))
    rows = [Row(k=1, all_null=None, mixed=2.5),
            Row(k=2, all_null=None, mixed=None),
            Row(k=3, all_null=None, mixed=4.25)]
    df = spark.createDataFrame(rows, "k long, all_null double, mixed double")
    t.commit(df.repartition(2), sum_cols=["all_null", "mixed"])
    s = t.stats()["sum"]
    assert s["all_null"] is None
    want = df.agg(F.sum(F.col("mixed").cast("decimal(38,6)"))
                  .cast("double")).collect()[0][0]
    assert s["mixed"] == want == 6.75


def test_sum_partial_producer_and_avg_and_hilbert_nulls(spark, tmp_path,
                                                        mk_table):
    """Three review-hardening cases: (a) an append whose df OMITS a
    committed sum column (legal per _merged_schema) commits cleanly and
    the column's metadata SUM still equals the full-scan twin; (b)
    stats()['avg'] is true SQL AVG(col) = SUM/COUNT(col), not sum/rows,
    on a null-bearing column; (c) OPTIMIZE curve='hilbert' tolerates
    NULL clustered values exactly like Morton (NULL key rows grouped,
    no fault), rows preserved."""
    from pyspark.sql import Row

    t = mk_table(str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [Row(k=1, x=1.5), Row(k=2, x=None), Row(k=3, x=4.5)],
        "k long, x double")
    t.commit(base, sum_cols=["x"])
    extra = spark.createDataFrame([Row(k=9), Row(k=10)], "k long")
    t.commit(extra, "append")                     # omits committed col x
    s = t.stats()
    full = t.read()
    want_sum = full.agg(F.sum(F.col("x").cast("decimal(38,6)"))
                        .cast("double")).collect()[0][0]
    want_avg = full.agg((F.sum(F.col("x").cast("decimal(38,6)"))
                         .cast("double")
                         / F.count("x")).cast("double")).collect()[0][0]
    assert s["sum"]["x"] == want_sum == 6.0
    assert s["avg"]["x"] == want_avg == 3.0       # /COUNT(x)=2, not /rows=5

    docs = spark.createDataFrame(
        [Row(a=i, b=(None if i % 7 == 0 else i * 2)) for i in range(50)],
        "a long, b long")
    th = mk_table(str(tmp_path / "h"))
    th.commit(docs.repartition(4))
    th.optimize_zorder(["a", "b"], n_files=4, curve="hilbert")
    assert sorted(r.a for r in th.read().collect()) == list(range(50))


def _file_rows(lo, hi, spark):
    return spark.createDataFrame(
        [(k, k * 3 % 17, f"s{k % 11}", k % 5, k % 7, k * 2)
         for k in range(lo, hi)],
        "k long, v long, s string, w long, g int, d long")


def test_file_records_follow_their_files(spark, tmp_path, monkeypatch):
    """A file's log records (min/max stats, row count, bloom, decimal
    sum) are built once, from one footer open, by the commit that
    wrote the file, and then follow it unchanged through every op that
    commits: each listed file's records equal those of the entry that
    first listed it (a dropped column's bloom and sum excepted), no
    entry holds a record for a file it does not list, and stats()
    equals a full-scan aggregate whenever no delete is pending. The
    sequence empties one file (a CoW delete of a whole appended file),
    whose 0-row footer must not be reopened by the bloom/sum
    collectors."""
    import collections

    import pyarrow.parquet as pq

    opened: collections.Counter = collections.Counter()
    real_pf = pq.ParquetFile

    def counting_pf(path, *a, **kw):
        opened[path] += 1
        return real_pf(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting_pf)
    kinds = ("stats", "row_counts", "blooms", "sums")
    first: dict = {}        # file -> {kind: record} when first listed
    dropped: set = set()    # physical names whose bloom/sum was dropped

    def rows(lo, hi, wide=False):
        df = _file_rows(lo, hi, spark)
        return df.withColumn("g", F.col("g").cast("long")) if wide else df

    def check(t, n_sums):
        e = t._read_entry(t.current_version())
        files = e["files"]
        assert set(e["row_counts"]) == set(files)
        assert set(e["sums"]) == set(files)
        for kind in kinds:
            assert set(e.get(kind, {})) <= set(files), kind
        for f in files:
            now = {k: e.get(k, {}).get(f) for k in kinds}
            if f not in first:
                first[f] = now
                continue
            want = dict(first[f])
            for k in ("blooms", "sums"):
                if want[k] is not None:
                    want[k] = {c: r for c, r in want[k].items()
                               if c not in dropped}
            assert now == want, (e["op"], f)
        if e.get("deferred_deletes"):
            return
        s, df = t.stats(), t.read()
        assert s["rows"] == df.count()
        for c in s["min"]:
            assert (s["min"][c], s["max"][c]) == tuple(
                df.agg(F.min(c), F.max(c)).first()), c
        assert len(s["sum"]) == n_sums
        for c, got in s["sum"].items():
            assert got == df.agg(F.sum(F.col(c).cast("decimal(38,6)"))
                                 .cast("double")).first()[0], c

    t = LakeTable(spark, str(tmp_path / "tbl"))
    t.commit(rows(0, 60).repartition(3, "k"), bloom_cols=["k", "w"],
             sum_cols=["v", "w"])
    check(t, 2)
    t.commit(rows(100, 110).coalesce(1), "append")
    check(t, 2)
    ops = [
        lambda: t.delete({"k": (100, 109)}),     # empties the appended file
        lambda: t.merge(rows(5, 8).withColumn("v", F.lit(99).cast("long")),
                        "k"),
        lambda: t.merge_clauses(rows(60, 65).unionByName(rows(20, 22)),
                                "k", matched_update={"v": "src_v + 1"}),
        lambda: t.delete({"k": (0, 3)}),
        lambda: t.delete({"k": (40, 45)}, defer=True),
        lambda: t.delete_keys("k", [10, 11]),
        lambda: t.delete_keys("k", [62, 63], defer=True),
        lambda: t.update({"k": (20, 30)}, {"v": "v + 5"}),
        lambda: t.update({"k": (30, 35)}, {"v": "v + 1"}, defer=True),
        lambda: t.compact(target_bytes=1 << 30, incremental=True),
        lambda: t.compact(target_bytes=1 << 30),
        lambda: t.optimize_zorder(["k", "v"], n_files=3),
        lambda: t.set_constraint("vpos", "v >= 0"),
        lambda: t.drop_constraint("vpos"),
        lambda: t.set_property("owner", "ads"),
        lambda: t.drop_property("owner"),
        lambda: t.set_generated_column("d", "k * 2"),
        lambda: t.commit(rows(200, 205).drop("d"), "append"),
        lambda: t.drop_generated("d"),
        lambda: t.restore(3),
        lambda: t.rename_column("w", "w2"),
        lambda: t.widen_column("g", "long"),
    ]
    for op in ops:
        op()
        check(t, 2)
    t.drop_column("w2")
    dropped.add("w")
    check(t, 1)
    assert t._read_entry(t.current_version())["bloom_cols"] == ["k"]
    t.commit(rows(300, 304, wide=True).drop("w"), "append")
    check(t, 1)
    c = t.clone(str(tmp_path / "clone"))
    check(c, 1)
    c.commit(rows(400, 403, wide=True).drop("w"), "append")
    check(c, 1)
    # every footer was opened exactly once: when its file was indexed
    assert set(opened) == set(first)
    assert set(opened.values()) == {1}, {
        f: n for f, n in opened.items() if n > 1}


def test_sum_cols_declared_on_append_wait_for_full_rewrite(spark, tmp_path):
    """Records are built for new files only, so a sum column first
    declared on an append over older files has sums in the appended
    files alone: stats() leaves that column out — through a CoW delete
    too, which never backfills the files it shares — and reports it
    again, equal to the full scan, once a full compact() has rewritten
    every file."""
    t = LakeTable(spark, str(tmp_path / "tbl"))
    t.commit(_file_rows(0, 40, spark).repartition(2, "k"))
    t.commit(_file_rows(100, 110, spark), "append", sum_cols=["v"])
    assert "v" not in t.stats()["sum"]
    t.delete({"k": (100, 102)})
    assert "v" not in t.stats()["sum"]
    t.compact(target_bytes=1 << 30)
    want = t.read().agg(F.sum(F.col("v").cast("decimal(38,6)"))
                        .cast("double")).first()[0]
    assert t.stats()["sum"] == {"v": want}


def test_empty_reads_run_no_tasks(spark, tmp_path):
    """An empty read — a version's empty file subset (an append
    delta's old side) or a scan() whose stats prune every file — has
    zero partitions, so it schedules no empty tasks, and keeps the
    version's pinned schema."""
    t = LakeTable(spark, str(tmp_path / "tbl"))
    v = t.commit(_file_rows(0, 20, spark).repartition(2, "k"))
    empty = t.read_version_files(v, [])
    assert empty.rdd.getNumPartitions() == 0
    assert empty.schema == t.read().schema
    pruned = t.scan({"k": (1000, 2000)})
    assert pruned.rdd.getNumPartitions() == 0
    assert pruned.count() == 0


def test_hadoop_fs_data_plane_maintenance_cycle(spark, sf_dir, tmp_path):
    """The maintenance ops that touch data files directly (compact's
    size binning, vacuum's deletes, restore's vacuumed-file guard,
    orphan discard) route through the DataPlane seam. Run a full cycle
    with HadoopFsDataPlane — Spark's own Hadoop FileSystem, the same
    resolution path s3a://hdfs:// take in production — over file://
    paths and check it agrees with the LocalDataPlane semantics."""
    from aws_data_pipeline_ads_spark.lakelog import HadoopFsDataPlane

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = LakeTable(spark, str(tmp_path / "tbl"),
                  data_plane=HadoopFsDataPlane(spark))
    t.commit(docs.repartition(6))                # v0: 6 small files
    rows_v0 = _rows(t.read())
    assert t.compact(target_bytes=1 << 30) == 1  # v1: size() binned all
    assert len(t._read_entry(1)["files"]) == 1
    assert _rows(t.read()) == rows_v0
    t.commit(docs.limit(3), "overwrite")         # v2
    assert t.restore(1) == 3                     # exists() guard passes
    assert _rows(t.read()) == rows_v0
    # vacuum keeps the head (v3 == v1's files); v0's six originals die
    assert t.vacuum(keep_last=1) >= 6
    assert _rows(t.read()) == rows_v0            # head still readable
    # restoring past the vacuum refuses via data_plane.exists()
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(0)


def test_tags_pin_read_restore_and_survive_checkpoint(spark, sf_dir,
                                                      tmp_path, mk_table):
    """Named immutable version refs: tag at a version, read/restore by
    name while the head moves on, immutability refusal (force moves via
    CAS), and tags resolve through a checkpoint that expired the
    per-version entry files."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs)                                   # v0
    assert t.tag("release-1") == 0
    t.commit(docs.limit(3), "overwrite")             # v1
    assert t.tags() == {"release-1": 0}
    assert _rows(t.read("release-1")) == _rows(docs)
    # immutable: re-pointing the published name refuses...
    with pytest.raises(ValueError, match="immutable"):
        t.tag("release-1", 1)
    # ...force moves it, and back
    assert t.tag("release-1", 1, force=True) == 1
    assert t.tag("release-1", 0, force=True) == 0
    # tagging a nonexistent version / bad names refuse
    with pytest.raises(ValueError, match="does not exist"):
        t.tag("nope", 99)
    with pytest.raises(ValueError, match="invalid tag name"):
        t.tag("../escape")
    # restore by tag: head returns to the tagged snapshot
    assert t.restore("release-1") == 2
    assert _rows(t.read()) == _rows(docs)
    # tags survive checkpoint(expire=True)
    t.checkpoint(expire=True)
    assert t.resolve_tag("release-1") == 0
    assert _rows(t.read("release-1")) == _rows(docs)
    t.delete_tag("release-1")
    with pytest.raises(ValueError, match="no tag"):
        t.read("release-1")


def test_vacuum_retains_tagged_versions(spark, sf_dir, tmp_path, mk_table):
    """A tag is a retention promise: vacuum(keep_last=1) must NOT
    reclaim a tagged old snapshot's files; deleting the tag releases
    them to the next vacuum."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs)                                   # v0 (tagged)
    t.tag("audit")
    t.commit(docs.limit(4), "overwrite")             # v1
    t.commit(docs.limit(2), "overwrite")             # v2 = head
    assert t.vacuum(keep_last=1) >= 0
    # the tagged snapshot is still fully readable...
    assert _rows(t.read("audit")) == _rows(docs)
    # ...but v1 (untagged, not head) was reclaimed
    with pytest.raises(Exception):
        t.read(1).collect()
    # releasing the tag lets the next vacuum reclaim v0's files
    t.delete_tag("audit")
    assert t.vacuum(keep_last=1) > 0
    gone = [f for f in _entry(t, 0)["files"]
            if not t.data_plane.exists(f)]
    assert gone


def test_commit_audited_write_audit_publish(spark, sf_dir, tmp_path,
                                            mk_table):
    """WAP: a failing audit restores the prior head (the bad version
    stays readable for forensics); a passing audit keeps the commit; a
    raising check propagates after the rollback."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    n_full = docs.count()
    t.commit(docs)                                       # v0 good
    # audit floor: at least 90% of the current row count must survive
    floor = int(n_full * 0.9)

    def enough_rows(df):
        return df.count() >= floor

    # bad overwrite (1% subset) → rejected, head restored to v0's data
    with pytest.raises(ValueError, match="audit rejected version 1"):
        t.commit_audited(docs.filter(F.col("doc_id") % 97 == 0),
                         check=enough_rows)
    assert _rows(t.read()) == _rows(docs)                # restored
    assert t.current_version() == 2                      # restore commit
    assert len(_rows(t.read(1))) < floor                 # forensics
    # good overwrite passes and stays
    v = t.commit_audited(docs.filter(F.col("doc_id") % 97 != 0),
                         check=enough_rows)
    assert v == 3 and t.current_version() == 3
    # a RAISING check also rolls back, then propagates
    with pytest.raises(RuntimeError, match="boom"):
        t.commit_audited(docs.limit(1),
                         check=lambda df: (_ for _ in ()).throw(
                             RuntimeError("boom")))
    assert _rows(t.read()) == _rows(t.read(3))


def test_hadoop_walk_preserves_callers_addressing_form(spark, sf_dir,
                                                       tmp_path):
    """ADVICE r8: walk() results land verbatim in commit entries, so
    they must keep resolving against the store the caller addressed.
    An explicit-scheme caller (s3a://bucket/…, here file://…) gets
    full URIs back — stripping to toUri().getPath() would drop scheme
    and authority, re-rooting every committed path onto the default
    FS. A scheme-less caller keeps getting plain paths."""
    from aws_data_pipeline_ads_spark.lakelog import HadoopFsDataPlane

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = tmp_path / "walked"
    docs.repartition(3).write.parquet(str(d))
    dp = HadoopFsDataPlane(spark)

    plain = dp.walk(str(d))
    assert plain and all(p.startswith("/") for p in plain)
    assert not any("/_" in p.rsplit("/", 1)[-1] or
                   p.rsplit("/", 1)[-1].startswith(("_", "."))
                   for p in plain)

    uri = dp.walk(f"file://{d}")
    assert len(uri) == len(plain)
    assert all(p.startswith("file:/") for p in uri)
    # same files, same order — only the addressing form differs
    assert [p.rsplit("/", 1)[-1] for p in uri] \
        == [p.rsplit("/", 1)[-1] for p in plain]
    # and the URIs are directly loadable (what a scan of the committed
    # entry would do)
    assert spark.read.parquet(*uri).count() == docs.count()

    # ADVICE r9: Hadoop accepts SINGLE-SLASH URIs (file:/x, hdfs:/x,
    # s3a:/bucket/x) that contain no "://" — the decision must come
    # from the parsed scheme, not a substring, or these get stripped
    # and re-rooted onto the default FS
    single = dp.walk(f"file:{d}")
    assert len(single) == len(plain)
    assert all(p.startswith("file:/") for p in single)
    assert spark.read.parquet(*single).count() == docs.count()


def test_commit_audited_concurrent_writer_not_clobbered(spark, sf_dir,
                                                        tmp_path, mk_table):
    """ADVICE r8: if another commit lands between the audited version
    and the restore, auto-restoring would silently supersede it (its
    rows vanish from the new head). The failed audit must refuse to
    restore and leave the log for explicit resolution."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = mk_table(str(tmp_path / "tbl"))
    t.commit(docs)                                       # v0 good
    t2 = LakeTable(spark, str(tmp_path / "tbl"), backend=t.backend)

    def failing_audit_with_concurrent_writer(df):
        t2.commit(docs.limit(7), "overwrite")            # v2 lands mid-audit
        return False

    with pytest.raises(RuntimeError, match="concurrent writer advanced"):
        t.commit_audited(docs.limit(1),
                         check=failing_audit_with_concurrent_writer)
    # the concurrent writer's commit is still the head — not superseded
    assert t.current_version() == 2
    assert len(_rows(t.read())) == 7
    # same guard on the raising-check path
    def raising_audit_with_concurrent_writer(df):
        t2.commit(docs.limit(3), "overwrite")
        raise ArithmeticError("audit crashed")

    with pytest.raises(RuntimeError, match="concurrent writer advanced"):
        t.commit_audited(docs.limit(1),
                         check=raising_audit_with_concurrent_writer)
    assert len(_rows(t.read())) == 3
    # with no interference the normal restore path still runs
    with pytest.raises(ValueError, match="audit rejected"):
        t.commit_audited(docs.limit(1), check=lambda df: False)
    assert len(_rows(t.read())) == 3
