"""LakeMaterializedView: incremental refresh == full recompute.

The single invariant that matters: after ANY sequence of source
commits (append, CoW delete/update, overwrite), an incrementally
refreshed view is bit-identical — decimal sums included — to a full
GROUP BY recompute over the source head.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aws_data_pipeline_ads_spark.catalog import load_table
from aws_data_pipeline_ads_spark.lakelog import (
    ConditionalPutCommitBackend,
    LakeTable,
)
from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView


def _rows(df):
    return sorted(
        tuple(r) for r in df.collect()
    )


def _recompute(src_df):
    return src_df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_chars").alias("n_n_chars"),
        F.sum(F.col("n_chars").cast("decimal(38,6)")).alias("sum_n_chars"),
    )


@pytest.fixture
def src(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    t = LakeTable(spark, str(tmp_path / "src"))
    t.commit(docs.filter(F.col("doc_id") % 3 < 2)
             .repartitionByRange(8, "doc_id"))
    return t, docs


def _mk_view(spark, t, tmp_path):
    return LakeMaterializedView(
        spark, t, str(tmp_path / "mv"), key="doc_id",
        group_cols=["lang"], measures=["n_chars"])


def test_full_build_matches_recompute(spark, sf_dir, tmp_path, src):
    t, docs = src
    mv = _mk_view(spark, t, tmp_path)
    assert mv.refresh() == 0
    assert _rows(mv.read()) == _rows(_recompute(t.read()))
    assert mv.last_refreshed() == 0


def test_incremental_append_delete_update(spark, sf_dir, tmp_path, src):
    t, docs = src
    mv = _mk_view(spark, t, tmp_path)
    mv.refresh()

    # append the missing third, refresh → matches recompute
    t.commit(docs.filter(F.col("doc_id") % 3 == 2), "append")
    assert mv.refresh() == 1
    assert _rows(mv.read()) == _rows(_recompute(t.read()))

    # CoW range delete
    t.delete({"doc_id": (10, 19)})
    assert mv.refresh() == 2
    assert _rows(mv.read()) == _rows(_recompute(t.read()))

    # CoW update (changed rows contribute -old and +new)
    t.update({"doc_id": (30, 49)}, {"n_chars": F.lit(7)})
    assert mv.refresh() == 3
    assert _rows(mv.read()) == _rows(_recompute(t.read()))

    # several commits between refreshes fold into ONE delta
    t.commit(docs.filter(F.col("doc_id") % 3 == 2)
             .withColumn("doc_id", F.col("doc_id") + 1_000_000), "append")
    t.delete({"doc_id": (0, 5)})
    assert mv.refresh() == 5
    assert _rows(mv.read()) == _rows(_recompute(t.read()))


def test_refresh_is_idempotent_and_txn_guarded(spark, sf_dir, tmp_path, src):
    t, _ = src
    mv = _mk_view(spark, t, tmp_path)
    mv.refresh()
    head = mv.table.current_version()
    assert mv.refresh() == 0                 # up to date: no new commit
    assert mv.table.current_version() == head
    # a crash-replay of the same refresh txn is answered from the log
    assert mv.table.commit(
        mv.read().limit(1), "overwrite", txn_id="mv-refresh:0") == head


def test_all_null_group_sum_returns_to_null(spark, tmp_path):
    """Remove the only non-null measure row of a group: its running
    sum must come back as NULL (SQL SUM over all-nulls), not 0 — the
    per-measure non-null count distinguishes the two."""
    t = LakeTable(spark, str(tmp_path / "src"))
    rows = [Row(doc_id=1, lang="xx", n_chars=10),
            Row(doc_id=2, lang="xx", n_chars=None),
            Row(doc_id=3, lang="yy", n_chars=4)]
    t.commit(spark.createDataFrame(rows, "doc_id long, lang string, "
                                         "n_chars long"))
    mv = _mk_view(spark, t, tmp_path)
    mv.refresh()
    t.delete({"doc_id": (1, 1)})             # xx keeps only the NULL row
    mv.refresh()
    got = {r["lang"]: r for r in mv.read().collect()}
    assert got["xx"]["n_rows"] == 1
    assert got["xx"]["n_n_chars"] == 0
    assert got["xx"]["sum_n_chars"] is None  # NOT 0
    assert float(got["yy"]["sum_n_chars"]) == 4.0
    assert _rows(mv.read()) == _rows(_recompute(t.read()))


def test_group_dropout_and_reappearance(spark, tmp_path):
    """A group whose count hits zero drops out of the state entirely,
    and comes back correct if rows reappear later."""
    t = LakeTable(spark, str(tmp_path / "src"))
    t.commit(spark.createDataFrame(
        [Row(doc_id=1, lang="zz", n_chars=5),
         Row(doc_id=2, lang="ww", n_chars=6)],
        "doc_id long, lang string, n_chars long"))
    mv = _mk_view(spark, t, tmp_path)
    mv.refresh()
    t.delete({"doc_id": (1, 1)})
    mv.refresh()
    assert [r["lang"] for r in mv.read().collect()] == ["ww"]
    t.commit(spark.createDataFrame(
        [Row(doc_id=9, lang="zz", n_chars=11)],
        "doc_id long, lang string, n_chars long"), "append")
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute(t.read()))


def test_restore_is_a_forward_delta(spark, sf_dir, tmp_path, src):
    t, docs = src
    mv = _mk_view(spark, t, tmp_path)
    t.commit(docs.filter(F.col("doc_id") % 3 == 2)       # unique keys
             .limit(3), "append")                        # v1
    mv.refresh()
    t.restore(0)                             # head becomes v2...
    mv.refresh()                             # ...which is FORWARD: fine
    assert _rows(mv.read()) == _rows(_recompute(t.read()))


def test_object_store_backend(spark, sf_dir, tmp_path, src):
    """The view state table runs on the conditional-PUT backend like
    any other LakeTable (the seam composes)."""
    t, _ = src
    mv = LakeMaterializedView(
        spark, t, str(tmp_path / "mv"), key="doc_id",
        group_cols=["lang"], measures=["n_chars"],
        backend=ConditionalPutCommitBackend())
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute(t.read()))


def test_lake_mv_sink_streaming_refresh(spark, sf_dir, tmp_path):
    """Streaming ingest keeps the view current: every micro-batch is
    one source append + one incremental refresh; a second drain over
    the same checkpoint adds nothing; a source commit that lands
    WITHOUT a refresh (simulated crash between append and refresh) is
    healed by the next refresh."""
    from aws_data_pipeline_ads_spark import streaming
    from aws_data_pipeline_ads_spark.lakemv import lake_mv_sink

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    land = tmp_path / "landing"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(land / "s1"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(land / "s2"))
    t = LakeTable(spark, str(tmp_path / "src"))
    mv = LakeMaterializedView(
        spark, t, str(tmp_path / "mv"), key="doc_id",
        group_cols=["lang"], measures=["n_chars"])

    stream = streaming.documents_stream(
        spark, str(land), max_files_per_trigger=1
    ).select("doc_id", "lang", "n_chars")
    lake_mv_sink(stream, mv, str(tmp_path / "ck"))
    assert mv.last_refreshed() == t.current_version()
    assert _rows(mv.read()) == _rows(_recompute(t.read()))
    assert _rows(t.read()) == _rows(docs)

    # second drain, same checkpoint: no input → no commits, no refresh
    src_head, mv_head = t.current_version(), mv.table.current_version()
    stream = streaming.documents_stream(
        spark, str(land), max_files_per_trigger=1
    ).select("doc_id", "lang", "n_chars")
    lake_mv_sink(stream, mv, str(tmp_path / "ck"))
    assert (t.current_version(), mv.table.current_version()) \
        == (src_head, mv_head)

    # crash between append and refresh: source moves, view lags...
    t.commit(docs.limit(5).withColumn("doc_id",
                                      F.col("doc_id") + 10_000_000),
             "append")
    assert mv.last_refreshed() < t.current_version()
    # ...and the next refresh (what the next batch would run) heals it
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute(t.read()))


@pytest.mark.parametrize("backend_kind", ["posix", "condput"])
def test_mv_refresh_exactly_once_under_concurrent_writers(
        spark, tmp_path, backend_kind, monkeypatch):
    """Two producers appending the SAME source (append auto-retry on
    ConcurrentWriteError) interleaved with refreshes, plus a RACING
    second refresher that beats the first one's state commit — the
    writer-vs-refresh interleaving the lakelog suite alone never
    exercises. Exactly-once must hold on both commit backends: every
    batch lands once (no lost updates), the lost refresh's replay is
    answered from the txn log without re-applying the delta, and the
    final view equals a full recompute."""
    import random

    from aws_data_pipeline_ads_spark.lakelog import ConcurrentWriteError

    rng = random.Random(1107)
    if backend_kind == "condput":
        shared = ConditionalPutCommitBackend()
        mk = lambda: shared                    # noqa: E731 (one store)
        mv_backend = ConditionalPutCommitBackend()
        mk_mv = lambda: mv_backend             # noqa: E731
    else:
        mk = lambda: None                      # noqa: E731 (posix dflt)
        mk_mv = lambda: None                   # noqa: E731

    src = str(tmp_path / "src")
    t1 = LakeTable(spark, src, backend=mk())
    t2 = LakeTable(spark, src, backend=mk())
    mv = LakeMaterializedView(
        spark, t1, str(tmp_path / "mv"), key="doc_id",
        group_cols=["lang"], measures=["n_chars"], backend=mk_mv())
    mv_racer = LakeMaterializedView(
        spark, t2, str(tmp_path / "mv"), key="doc_id",
        group_cols=["lang"], measures=["n_chars"], backend=mk_mv())

    next_id = [0]

    def batch(n):
        rows = [Row(doc_id=next_id[0] + i,
                    lang=("aa", "bb", "cc")[(next_id[0] + i) % 3],
                    n_chars=(next_id[0] + i) % 37) for i in range(n)]
        next_id[0] += n
        return spark.createDataFrame(
            rows, "doc_id long, lang string, n_chars long")

    t1.commit(batch(5))
    mv.refresh()

    # writer-race injection: some of t1's publish attempts lose to a
    # competitor batch t2 sneaks in first (reentrancy-guarded — the
    # condput backend instance is SHARED, as one object store would be)
    state = {"busy": False, "race_next": False, "lost": 0}
    real_put = t1.backend.put_if_absent

    def racing_put(path, data):
        if state["race_next"] and not state["busy"]:
            state["race_next"] = False
            state["busy"] = True
            try:
                t2.commit(batch(rng.randint(1, 3)), "append", retries=0)
            finally:
                state["busy"] = False
        ok = real_put(path, data)
        if not ok:
            state["lost"] += 1
        return ok

    monkeypatch.setattr(t1.backend, "put_if_absent", racing_put)
    for step in range(10):
        op = rng.choice(["a1", "a1", "a2", "r"])
        if op == "a1":
            state["race_next"] = rng.random() < 0.6
            t1.commit(batch(rng.randint(1, 4)), "append", retries=3)
            state["race_next"] = False
        elif op == "a2":
            state["busy"] = True   # plain competitor append, no race
            t2.commit(batch(rng.randint(1, 4)), "append", retries=3)
            state["busy"] = False
        else:
            mv.refresh()
            assert _rows(mv.read()) == _rows(_recompute(t1.read()))
    monkeypatch.undo()
    # the race really fired: t1 lost ≥1 version race and retried
    assert state["lost"] >= 1

    # no lost updates: every committed row is present exactly once
    assert t1.read().count() == next_id[0]
    assert t1.read().select("doc_id").distinct().count() == next_id[0]

    # refresher-vs-refresher race: mv computes its state, mv_racer
    # publishes the SAME head first; mv's overwrite loses and the
    # retry must be answered from the txn log (no double-apply)
    t1.commit(batch(3), "append")
    real_mv_put = mv.table.backend.put_if_absent
    raced = {"done": False}

    def racing_state_put(path, data):
        if not raced["done"]:
            raced["done"] = True
            mv_racer.refresh()
        return real_mv_put(path, data)

    monkeypatch.setattr(mv.table.backend, "put_if_absent",
                        racing_state_put)
    head = t1.current_version()
    try:
        got = mv.refresh()
    except ConcurrentWriteError:
        got = mv.refresh()          # replay: answered from the txn log
    monkeypatch.undo()
    assert got == head
    assert mv.last_refreshed() == head
    # exactly-once: the state advanced ONE version for this head, and
    # the view equals a recompute (a double-applied delta would not)
    assert _rows(mv.read()) == _rows(_recompute(t1.read()))
    replay_v = mv.table.current_version()
    assert mv.refresh() == head                 # idempotent
    assert mv.table.current_version() == replay_v


def test_delta_distinguishes_null_from_empty_string(spark, tmp_path):
    """ADVICE r8: the change detector must not hash NULL and '' to the
    same bytes — a group flip NULL→'' (or a measure-bearing column
    doing the same) would slip past the delta and silently diverge the
    view from a full recompute."""
    t = LakeTable(spark, str(tmp_path / "src"))
    t.commit(spark.createDataFrame(
        [Row(doc_id=1, lang=None, n_chars=10),
         Row(doc_id=2, lang="", n_chars=3),
         Row(doc_id=3, lang="aa", n_chars=4)],
        "doc_id long, lang string, n_chars long"))
    mv = _mk_view(spark, t, tmp_path)
    mv.refresh()

    def _nrows(df):  # None-safe sort (a NULL group is a legal group)
        return sorted((tuple(r) for r in df.collect()), key=repr)

    # NULL → '' on the group column: same concat_ws bytes, real change
    t.update({"doc_id": (1, 1)}, {"lang": F.lit("")})
    mv.refresh()
    assert _nrows(mv.read()) == _nrows(_recompute(t.read()))
    got = {r["lang"]: r["n_rows"] for r in mv.read().collect()}
    assert got == {"": 2, "aa": 1}  # the NULL group is gone
    # and back: '' → NULL on one of the two '' rows
    t.update({"doc_id": (2, 2)}, {"lang": F.lit(None).cast("string")})
    mv.refresh()
    assert _nrows(mv.read()) == _nrows(_recompute(t.read()))
    # a separator-collision shape on the measure side: values embedding
    # the old '\x1f' separator must not cancel across columns
    t2 = LakeTable(spark, str(tmp_path / "src2"))
    t2.commit(spark.createDataFrame(
        [Row(doc_id=1, lang="x\x1fy", n_chars=None)],
        "doc_id long, lang string, n_chars long"))
    mv2 = LakeMaterializedView(
        spark, t2, str(tmp_path / "mv2"), key="doc_id",
        group_cols=["lang"], measures=["n_chars"])
    mv2.refresh()
    t2.update({"doc_id": (1, 1)},
              {"lang": F.lit("x"), "n_chars": F.lit(121)})
    mv2.refresh()
    assert _rows(mv2.read()) == _rows(
        t2.read().groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("n_chars").alias("n_n_chars"),
            F.sum(F.col("n_chars").cast("decimal(38,6)"))
            .alias("sum_n_chars")))


def _recompute_mm(src_df):
    return src_df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_chars").alias("n_n_chars"),
        F.sum(F.col("n_chars").cast("decimal(38,6)")).alias("sum_n_chars"),
        F.min("n_chars").alias("min_n_chars"),
        F.max("n_chars").alias("max_n_chars"),
    )


def test_minmax_deleting_current_extremum(spark, tmp_path):
    """The case signed counts cannot answer: delete a group's current
    MAX row — the new MAX must come from the group's surviving rows
    (delta-scoped partial recompute), and untouched groups must keep
    their stored extrema."""
    t = LakeTable(spark, str(tmp_path / "src"))
    t.commit(spark.createDataFrame(
        [Row(doc_id=1, lang="xx", n_chars=100),   # xx's max
         Row(doc_id=2, lang="xx", n_chars=3),
         Row(doc_id=3, lang="xx", n_chars=7),
         Row(doc_id=4, lang="yy", n_chars=50)],   # untouched group
        "doc_id long, lang string, n_chars long"))
    mv = LakeMaterializedView(
        spark, t, str(tmp_path / "mv"), key="doc_id",
        group_cols=["lang"], measures=["n_chars"], minmax=["n_chars"])
    mv.refresh()
    got = {r["lang"]: r for r in mv.read().collect()}
    assert (got["xx"]["min_n_chars"], got["xx"]["max_n_chars"]) == (3, 100)

    t.delete({"doc_id": (1, 1)})                  # kill xx's max
    mv.refresh()
    got = {r["lang"]: r for r in mv.read().collect()}
    assert (got["xx"]["min_n_chars"], got["xx"]["max_n_chars"]) == (3, 7)
    assert (got["yy"]["min_n_chars"], got["yy"]["max_n_chars"]) == (50, 50)
    assert _rows(mv.read()) == _rows(_recompute_mm(t.read()))

    t.delete({"doc_id": (2, 2)})                  # now kill xx's MIN
    mv.refresh()
    got = {r["lang"]: r for r in mv.read().collect()}
    assert (got["xx"]["min_n_chars"], got["xx"]["max_n_chars"]) == (7, 7)
    assert _rows(mv.read()) == _rows(_recompute_mm(t.read()))


def test_minmax_incremental_matches_recompute(spark, sf_dir, tmp_path, src):
    """Full invariant over append/delete/update with extrema riding
    along: incremental == full recompute, min/max included."""
    t, docs = src
    mv = LakeMaterializedView(
        spark, t, str(tmp_path / "mv"), key="doc_id",
        group_cols=["lang"], measures=["n_chars"], minmax=["n_chars"])
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute_mm(t.read()))

    t.commit(docs.filter(F.col("doc_id") % 3 == 2), "append")
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute_mm(t.read()))

    # force a new per-group max, then delete exactly those rows — the
    # extremum the view holds is destroyed and must fall back
    t.update({"doc_id": (50, 69)}, {"n_chars": F.lit(999_999)})
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute_mm(t.read()))
    assert mv.read().agg(F.max("max_n_chars")).collect()[0][0] == 999_999
    t.delete({"doc_id": (50, 69)})
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute_mm(t.read()))
    assert mv.read().agg(F.max("max_n_chars")).collect()[0][0] < 999_999

    # all-NULL group: extrema must be NULL, like a full recompute
    t.commit(spark.createDataFrame(
        [Row(doc_id=10_000_001, lang="nullgrp", n_chars=None)],
        "doc_id long, lang string, n_chars long"), "append")
    mv.refresh()
    got = {r["lang"]: r for r in mv.read().collect()}
    assert got["nullgrp"]["min_n_chars"] is None
    assert got["nullgrp"]["max_n_chars"] is None
    assert _rows(mv.read()) == _rows(_recompute_mm(t.read()))


def test_delta_is_file_pruned(spark, sf_dir, tmp_path):
    """A fixed-size append's refresh must SCAN only the appended files:
    files shared by both versions never open (the 100 TB viability
    property, measured at 10x in SCALE10X.md). A deferred delete that
    lands between the versions changes shared files' effective rows —
    those files must stay in the diff."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    t = LakeTable(spark, str(tmp_path / "src"))
    t.commit(docs.filter(F.col("doc_id") < 400)
             .repartitionByRange(8, "doc_id"))             # v0: 8 files
    mv = _mk_view(spark, t, tmp_path)
    mv.refresh()
    t.commit(docs.filter(F.col("doc_id") >= 400).coalesce(1),
             "append")                                      # v1: +1 file
    old_side, new_side = mv._delta_sides(0, 1)
    assert old_side.inputFiles() == []                      # all common
    new_files = set(new_side.inputFiles())
    assert len(new_files) == 1                              # only the append
    v0 = {f.split("/")[-1] for f in t._read_entry(0)["files"]}
    assert {f.split("/")[-1] for f in new_files}.isdisjoint(v0)
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute(t.read()))

    # deferred delete: same file lists, different effective rows — the
    # covered files must NOT be pruned out of the diff
    t.delete({"doc_id": (0, 49)}, defer=True)               # v2
    old_side, new_side = mv._delta_sides(1, 2)
    assert len(old_side.inputFiles()) > 0
    assert len(new_side.inputFiles()) > 0
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute(t.read()))


# -- join materialized view ---------------------------------------------------

def _recompute_join(f_df, d_df):
    return (f_df.join(d_df, "lang").groupBy("region").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_chars").alias("n_n_chars"),
        F.sum(F.col("n_chars").cast("decimal(38,6)")).alias("sum_n_chars")))


@pytest.fixture
def join_srcs(spark, sf_dir, tmp_path):
    from aws_data_pipeline_ads_spark.lakemv import LakeJoinMaterializedView

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    fact = LakeTable(spark, str(tmp_path / "fact"))
    fact.commit(docs.filter(F.col("doc_id") % 3 < 2)
                .repartitionByRange(8, "doc_id"))
    dim = LakeTable(spark, str(tmp_path / "dim"))
    dim.commit(spark.createDataFrame(
        [Row(lang=lg, region=("apac" if i % 2 else "emea"),
             dim_id=i) for i, lg in enumerate(sorted(langs))],
        "lang string, region string, dim_id long"))
    mv = LakeJoinMaterializedView(
        spark, fact, dim, str(tmp_path / "mvj"), fact_key="doc_id",
        join_key="lang", group_cols=["region"], measures=["n_chars"])
    return fact, dim, mv, docs


def test_join_mv_full_build(spark, join_srcs):
    fact, dim, mv, docs = join_srcs
    assert mv.refresh() == (0, 0)
    assert _rows(mv.read()) == _rows(_recompute_join(fact.read(),
                                                     dim.read()))
    assert mv.last_refreshed() == (0, 0)
    assert mv.refresh() == (0, 0)            # up to date: no new commit


def test_join_mv_fact_revisions(spark, join_srcs):
    fact, dim, mv, docs = join_srcs
    mv.refresh()
    fact.commit(docs.filter(F.col("doc_id") % 3 == 2), "append")
    assert mv.refresh() == (1, 0)
    assert _rows(mv.read()) == _rows(_recompute_join(fact.read(),
                                                     dim.read()))
    fact.delete({"doc_id": (10, 39)})
    fact.update({"doc_id": (50, 69)}, {"n_chars": F.lit(5)})
    assert mv.refresh() == (3, 0)            # two commits, one delta
    assert _rows(mv.read()) == _rows(_recompute_join(fact.read(),
                                                     dim.read()))


def test_join_mv_dim_revision_moves_groups(spark, join_srcs):
    """The F_old ⋈ ΔD path: re-pointing a dim row moves every joined
    fact row's group — signed counts must drain one group and fill the
    other exactly."""
    fact, dim, mv, docs = join_srcs
    mv.refresh()
    first_lang = sorted(
        r["lang"] for r in dim.read().select("lang").collect())[0]
    dim.update({"dim_id": (0, 0)}, {"region": F.lit("moved")})
    assert mv.refresh() == (0, 1)
    assert _rows(mv.read()) == _rows(_recompute_join(fact.read(),
                                                     dim.read()))
    got = {r["region"]: r["n_rows"] for r in mv.read().collect()}
    expect = {r["region"]: r["n_rows"]
              for r in _recompute_join(fact.read(), dim.read()).collect()}
    assert got == expect and "moved" in got
    # a dim DELETE drops the joined rows entirely (inner join)
    dim.delete({"dim_id": (0, 0)})
    assert mv.refresh() == (0, 2)
    assert _rows(mv.read()) == _rows(_recompute_join(fact.read(),
                                                     dim.read()))
    assert "moved" not in {r["region"] for r in mv.read().collect()}
    assert first_lang  # fixture sanity


def test_join_mv_both_sides_one_refresh(spark, join_srcs):
    fact, dim, mv, docs = join_srcs
    mv.refresh()
    fact.commit(docs.filter(F.col("doc_id") % 3 == 2), "append")
    dim.update({"dim_id": (1, 2)}, {"region": F.lit("latam")})
    fact.delete({"doc_id": (0, 25)})
    assert mv.refresh() == (2, 1)
    assert _rows(mv.read()) == _rows(_recompute_join(fact.read(),
                                                     dim.read()))


def test_join_mv_guards(spark, sf_dir, tmp_path):
    from aws_data_pipeline_ads_spark.lakemv import LakeJoinMaterializedView

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    fact = LakeTable(spark, str(tmp_path / "f"))
    fact.commit(docs)
    dim = LakeTable(spark, str(tmp_path / "d"))
    # ambiguous column: n_chars on both sides must refuse
    dim.commit(spark.createDataFrame(
        [Row(lang="aa", region="x", n_chars=1)],
        "lang string, region string, n_chars long"))
    mv = LakeJoinMaterializedView(
        spark, fact, dim, str(tmp_path / "mvj"), fact_key="doc_id",
        join_key="lang", group_cols=["region"], measures=["n_chars"])
    with pytest.raises(ValueError, match="both fact and dim"):
        mv.refresh()
    with pytest.raises(ValueError, match="group"):
        LakeJoinMaterializedView(
            spark, fact, dim, str(tmp_path / "mvj2"), fact_key="doc_id",
            join_key="lang", group_cols=[], measures=["n_chars"])


def test_sumsq_variance_is_exactly_maintained(spark, sf_dir, tmp_path, src):
    """Variance is ALGEBRAIC: sumsq_<m> = Σm² maintained by signed
    deltas must stay bit-identical to a full recompute through
    append/delete/update — and the derived VAR_POP must match
    var_pop() on the head exactly (the square is one IEEE double
    multiply then one decimal rounding on both paths)."""
    t, docs = src
    mv = LakeMaterializedView(
        spark, t, str(tmp_path / "mv"), key="doc_id",
        group_cols=["lang"], measures=["n_chars"], sumsq=["n_chars"])

    def recompute():
        d = F.col("n_chars").cast("double")
        return t.read().groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("n_chars").alias("n_n_chars"),
            F.sum(F.col("n_chars").cast("decimal(38,6)"))
            .alias("sum_n_chars"),
            F.sum((d * d).cast("decimal(38,6)")).alias("sumsq_n_chars"))

    mv.refresh()
    assert _rows(mv.read()) == _rows(recompute())
    t.commit(docs.filter(F.col("doc_id") % 3 == 2), "append")
    t.delete({"doc_id": (10, 39)})
    t.update({"doc_id": (50, 69)}, {"n_chars": F.lit(7)})
    mv.refresh()
    assert _rows(mv.read()) == _rows(recompute())
    # derived VAR_POP from the maintained state == Spark's var_pop
    got = {r["lang"]: (float(r["sumsq_n_chars"]) / r["n_n_chars"]
                       - (float(r["sum_n_chars"]) / r["n_n_chars"]) ** 2)
           for r in mv.read().collect()}
    expect = {r["lang"]: r["v"] for r in t.read().groupBy("lang").agg(
        F.var_pop("n_chars").alias("v")).collect()}
    for lang, v in expect.items():
        assert got[lang] == pytest.approx(v, rel=1e-9), lang
    # sumsq must also be a measure
    with pytest.raises(ValueError, match="sumsq"):
        LakeMaterializedView(
            spark, t, str(tmp_path / "mv2"), key="doc_id",
            group_cols=["lang"], measures=[], sumsq=["n_chars"])


def test_join_mv_minmax_and_sumsq(spark, join_srcs, tmp_path):
    """Join-view extrema via delta-scoped recompute over the CURRENT
    join: deleting the fact rows holding a group's max, and re-pointing
    a dim row (drain+fill), both land on recomputed extrema; sumsq
    rides along signed."""
    from aws_data_pipeline_ads_spark.lakemv import LakeJoinMaterializedView

    fact, dim, _mv, docs = join_srcs

    def recompute():
        d = F.col("n_chars").cast("double")
        return fact.read().join(dim.read(), "lang").groupBy("region").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("n_chars").alias("n_n_chars"),
            F.sum(F.col("n_chars").cast("decimal(38,6)"))
            .alias("sum_n_chars"),
            F.sum((d * d).cast("decimal(38,6)")).alias("sumsq_n_chars"),
            F.min("n_chars").alias("min_n_chars"),
            F.max("n_chars").alias("max_n_chars"))

    mv = LakeJoinMaterializedView(
        spark, fact, dim, str(tmp_path / "mvj_mm"), fact_key="doc_id",
        join_key="lang", group_cols=["region"], measures=["n_chars"],
        minmax=["n_chars"], sumsq=["n_chars"])
    mv.refresh()
    assert _rows(mv.read()) == _rows(recompute())

    # plant a sentinel max then delete exactly those fact rows
    fact.update({"doc_id": (30, 49)}, {"n_chars": F.lit(999_999)})
    mv.refresh()
    assert mv.read().agg(F.max("max_n_chars")).collect()[0][0] == 999_999
    fact.delete({"doc_id": (30, 49)})
    mv.refresh()
    assert _rows(mv.read()) == _rows(recompute())
    assert mv.read().agg(F.max("max_n_chars")).collect()[0][0] < 999_999

    # dim re-pointing drains one region and fills another — extrema on
    # BOTH sides of the move must recompute
    dim.update({"dim_id": (0, 1)}, {"region": F.lit("moved")})
    mv.refresh()
    assert _rows(mv.read()) == _rows(recompute())


def test_refresh_is_compaction_aware(spark, sf_dir, tmp_path):
    """A compaction between refreshes rewrites every file without
    changing rows — the span delta must SKIP it (signed deltas compose
    additively across segments), scanning only the genuinely appended
    files instead of degenerating to a full two-snapshot diff."""
    from aws_data_pipeline_ads_spark.lakemv import signed_span_delta

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    t = LakeTable(spark, str(tmp_path / "src"))
    t.commit(docs.filter(F.col("doc_id") < 300)
             .repartitionByRange(8, "doc_id"))             # v0
    mv = _mk_view(spark, t, tmp_path)
    mv.refresh()
    t.commit(docs.filter((F.col("doc_id") >= 300)
                         & (F.col("doc_id") < 400)).coalesce(1),
             "append")                                      # v1
    assert t.compact(target_bytes=1 << 30) == 2            # v2: rewrite all
    t.commit(docs.filter(F.col("doc_id") >= 400).coalesce(1),
             "append")                                      # v3

    # the span delta reads ONLY the two appended files — the 8 v0
    # files (segment 0→1) and the compacted file (segment 2→3) prune
    d = signed_span_delta(t, "doc_id", ["lang", "n_chars"], 0, 3)
    assert len(d.inputFiles()) == 2
    assert mv.refresh() == 3
    assert _rows(mv.read()) == _rows(_recompute(t.read()))

    # an all-compaction span is a pure bookkeeping refresh
    assert t.compact(target_bytes=1 << 30) == 4
    assert signed_span_delta(t, "doc_id", ["lang", "n_chars"], 3, 4) is None
    assert mv.refresh() == 4
    assert mv.last_refreshed() == 4
    assert _rows(mv.read()) == _rows(_recompute(t.read()))

    # deferred delete then compact (which MATERIALIZES it): the delete
    # segment carries the change, the compact still skips
    t.delete({"doc_id": (0, 49)}, defer=True)               # v5
    assert t.compact(target_bytes=1 << 30) == 6             # v6
    assert mv.refresh() == 6
    assert _rows(mv.read()) == _rows(_recompute(t.read()))


def test_refresh_across_schema_evolution(spark, tmp_path):
    """An evolve-append that widens the source schema must not break
    the view: each version's read resolves columns from the LOG, old
    files read the new column as NULL, and the view's own columns keep
    matching a full recompute."""
    t = LakeTable(spark, str(tmp_path / "src"))
    t.commit(spark.createDataFrame(
        [Row(doc_id=1, lang="aa", n_chars=10),
         Row(doc_id=2, lang="bb", n_chars=4)],
        "doc_id long, lang string, n_chars long"))
    mv = _mk_view(spark, t, tmp_path)
    mv.refresh()
    t.commit(spark.createDataFrame(
        [Row(doc_id=3, lang="aa", n_chars=7, source="crawl")],
        "doc_id long, lang string, n_chars long, source string"),
        "append", evolve=True)
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute(
        t.read().select("doc_id", "lang", "n_chars")))


def test_refresh_across_checkpoint_expiry(spark, tmp_path):
    """checkpoint(expire=True) folds per-version entry files into the
    checkpoint — the span walker's _read_entry calls must keep
    resolving through it, or any long-lived view would break the first
    time its source log is checkpointed."""
    t = LakeTable(spark, str(tmp_path / "src"))
    t.commit(spark.createDataFrame(
        [Row(doc_id=1, lang="aa", n_chars=5)],
        "doc_id long, lang string, n_chars long"))
    mv = _mk_view(spark, t, tmp_path)
    mv.refresh()
    t.commit(spark.createDataFrame(
        [Row(doc_id=2, lang="bb", n_chars=7)],
        "doc_id long, lang string, n_chars long"), "append")
    t.commit(spark.createDataFrame(
        [Row(doc_id=3, lang="aa", n_chars=2)],
        "doc_id long, lang string, n_chars long"), "append")
    t.checkpoint(expire=True)
    assert mv.refresh() == 2
    assert _rows(mv.read()) == _rows(_recompute(t.read()))


# -- COUNT(DISTINCT) views (r10) ---------------------------------------------

def _recompute_distinct(src_df):
    return src_df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_chars").alias("n_n_chars"),
        F.sum(F.col("n_chars").cast("decimal(38,6)")).alias("sum_n_chars"),
        F.countDistinct("n_chars").alias("nd_n_chars"),
    )


def test_distinct_count_incremental(spark, sf_dir, tmp_path, src):
    """COUNT(DISTINCT x) is non-invertible — maintained by the same
    delta-scoped partial recompute as MIN/MAX. The decisive case: a
    DELETE that removes one occurrence of a value must reduce the
    distinct count only when no other occurrence survives — something
    no signed running value can answer."""
    t, docs = src
    mv = LakeMaterializedView(
        spark, t, str(tmp_path / "mvd"), key="doc_id",
        group_cols=["lang"], measures=["n_chars"],
        distinct=["n_chars"])
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute_distinct(t.read()))

    t.commit(docs.filter(F.col("doc_id") % 3 == 2), "append")
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute_distinct(t.read()))

    # collapse a range to one value: distinct count must DROP
    before = {r["lang"]: r["nd_n_chars"] for r in mv.read().collect()}
    t.update({"doc_id": (30, 79)}, {"n_chars": F.lit(7)})
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute_distinct(t.read()))
    after = {r["lang"]: r["nd_n_chars"] for r in mv.read().collect()}
    assert sum(after.values()) < sum(before.values())

    # delete-reduces-distinct: remove rows carrying unique values
    t.delete({"doc_id": (100, 199)})
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute_distinct(t.read()))


def test_distinct_sketch_mode_refused(spark, tmp_path):
    """Modes with no portable oracle (HLL registers) refuse at
    construction on the single-table view; the join/star views refuse
    every non-exact mode including 'kmv' (a dim revision re-emits
    joined rows as ± pairs, tripping the sketch refusal every time)."""
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeJoinMaterializedView,
        UnsupportedAggregateError,
    )

    t = LakeTable(spark, str(tmp_path / "s"))
    with pytest.raises(UnsupportedAggregateError, match="hll"):
        LakeMaterializedView(
            spark, t, str(tmp_path / "mv"), key="doc_id",
            group_cols=["lang"], measures=[], distinct=["n_chars"],
            distinct_mode="hll")
    d = LakeTable(spark, str(tmp_path / "d"))
    with pytest.raises(UnsupportedAggregateError, match="kmv"):
        LakeJoinMaterializedView(
            spark, t, d, str(tmp_path / "mvj"), fact_key="doc_id",
            join_key="lang", group_cols=["region"], measures=[],
            distinct=["n_chars"], distinct_mode="kmv")


# -- file-pruned partial recompute (r10) --------------------------------------

def test_recompute_scan_is_file_pruned_on_clustered_source(
        spark, sf_dir, tmp_path):
    """When the source is CLUSTERED by the group columns, the MIN/MAX
    (and nd_) head recompute opens only the files whose commit-log
    stat box can hold a touched group — the bounded-refresh property
    at 100 TB. `last_recompute_files` records exactly what was opened;
    exactness is re-asserted after deleting the planted extremum."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    t = LakeTable(spark, str(tmp_path / "src"))
    # group-clustered layout: each file holds 1-2 langs
    t.commit(docs.repartitionByRange(8, "lang", "doc_id"))
    mv = LakeMaterializedView(
        spark, t, str(tmp_path / "mv"), key="doc_id",
        group_cols=["lang"], measures=["n_chars"],
        minmax=["n_chars"], distinct=["n_chars"])
    mv.refresh()
    n_files = len(t._read_entry(t.current_version())["files"])
    assert n_files >= 4  # layout sanity: pruning has something to skip

    # touch rows of ONE lang (plant a sentinel max, then remove it)
    one_id = docs.where(F.col("lang") == "de").agg(
        F.min("doc_id")).collect()[0][0]
    t.update({"doc_id": (one_id, one_id)}, {"n_chars": F.lit(999_999)})
    mv.refresh()
    assert mv.last_recompute_files is not None
    assert 0 < len(mv.last_recompute_files) < n_files
    t.delete({"doc_id": (one_id, one_id)})
    mv.refresh()
    assert len(mv.last_recompute_files) < n_files
    got = {r["lang"]: (r["min_n_chars"], r["max_n_chars"],
                       r["nd_n_chars"])
           for r in mv.read().collect()}
    exp = {r["lang"]: (r["mn"], r["mx"], r["nd"]) for r in
           t.read().groupBy("lang").agg(
               F.min("n_chars").alias("mn"),
               F.max("n_chars").alias("mx"),
               F.countDistinct("n_chars").alias("nd")).collect()}
    assert got == exp
    assert 999_999 not in {v[1] for v in got.values()}


def test_recompute_unclustered_source_keeps_all_files(
        spark, sf_dir, tmp_path):
    """An UNCLUSTERED source (every file spans every group) must fall
    back to the full head file list — pruning is an optimization,
    never a correctness bet."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    t = LakeTable(spark, str(tmp_path / "src"))
    t.commit(docs.repartitionByRange(8, "doc_id"))  # all langs per file
    mv = LakeMaterializedView(
        spark, t, str(tmp_path / "mv"), key="doc_id",
        group_cols=["lang"], measures=["n_chars"], minmax=["n_chars"])
    mv.refresh()
    t.update({"doc_id": (50, 59)}, {"n_chars": F.lit(999_999)})
    mv.refresh()
    t.delete({"doc_id": (50, 59)})
    mv.refresh()
    got = {r["lang"]: r["max_n_chars"] for r in mv.read().collect()}
    exp = {r["lang"]: r["mx"] for r in t.read().groupBy("lang").agg(
        F.max("n_chars").alias("mx")).collect()}
    assert got == exp


# -- NULL-keyed source rows (r10, ADVICE item) ---------------------------------

def test_null_keyed_rows_are_maintained(spark, tmp_path):
    """A NULL-keyed source row has no cross-version identity; the
    delta never cancels it and emits it as unconditional ± rows
    (signed_frame_delta) instead of silently dropping it from both
    sides. Appear / disappear / unchanged must all reconcile
    with a full recompute."""
    t = LakeTable(spark, str(tmp_path / "src"))
    t.commit(spark.createDataFrame(
        [Row(doc_id=1, lang="aa", n_chars=5),
         Row(doc_id=None, lang="aa", n_chars=100)],
        "doc_id long, lang string, n_chars long"))
    mv = _mk_view(spark, t, tmp_path)
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute(t.read()))
    # NULL row counted by the full build
    assert {r["lang"]: r["n_rows"] for r in mv.read().collect()} == {
        "aa": 2}

    # append another NULL-keyed row → must be visible to the refresh
    t.commit(spark.createDataFrame(
        [Row(doc_id=None, lang="bb", n_chars=7)],
        "doc_id long, lang string, n_chars long"), "append")
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute(t.read()))

    # overwrite that drops one NULL row and keeps the other
    t.commit(spark.createDataFrame(
        [Row(doc_id=1, lang="aa", n_chars=5),
         Row(doc_id=None, lang="aa", n_chars=100)],
        "doc_id long, lang string, n_chars long"), "overwrite")
    mv.refresh()
    assert _rows(mv.read()) == _rows(_recompute(t.read()))
    assert {r["lang"] for r in mv.read().collect()} == {"aa"}


# -- k-dim star / snowflake views (r10) ----------------------------------------

def _recompute_star(f_df, o_df, c_df, n_df, r_df):
    return (f_df
            .join(o_df, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(c_df, F.col("o_custkey") == F.col("c_custkey"))
            .join(n_df, F.col("c_nationkey") == F.col("n_nationkey"))
            .join(r_df, F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("r_name", "c_mktsegment").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count("l_extendedprice").alias("n_l_extendedprice"),
                F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
                .alias("sum_l_extendedprice")))


@pytest.fixture
def star_srcs(spark, sf_dir, tmp_path):
    """The flagship 5-way shape: lineitem ⋈ orders ⋈ customer ⋈
    nation ⋈ region as a CHAIN of many-to-one dims."""
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeStarMaterializedView,
    )

    from pyspark.sql import Window

    # (l_orderkey, l_linenumber) is NOT unique in the synthetic corpus
    # — disambiguate with a deterministic ordinal (the delta's key window
    # refuses duplicate keys loudly; see test_duplicate_fact_key_refused)
    rn = F.row_number().over(
        Window.partitionBy("l_orderkey", "l_linenumber")
        .orderBy("l_extendedprice")) - 1
    li = load_table(spark, sf_dir, "lineitem").select(
        ((F.col("l_orderkey") * 8 + F.col("l_linenumber")) * 8
         + rn).alias("l_key"),
        "l_orderkey", "l_extendedprice")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name")
    fact = LakeTable(spark, str(tmp_path / "fact"))
    t_o = LakeTable(spark, str(tmp_path / "o"))
    t_c = LakeTable(spark, str(tmp_path / "c"))
    t_n = LakeTable(spark, str(tmp_path / "n"))
    t_r = LakeTable(spark, str(tmp_path / "r"))
    fact.commit(li.filter(F.col("l_orderkey") % 3 < 2)
                .repartitionByRange(8, "l_key"))
    t_o.commit(orders)
    t_c.commit(cust)
    t_n.commit(nation)
    t_r.commit(region)
    mv = LakeStarMaterializedView(
        spark, fact,
        [(t_o, "l_orderkey", "o_orderkey"),
         (t_c, "o_custkey", "c_custkey", 0),
         (t_n, "c_nationkey", "n_nationkey", 1),
         (t_r, "n_regionkey", "r_regionkey", 2)],
        str(tmp_path / "mvs"), fact_key="l_key",
        group_cols=["r_name", "c_mktsegment"],
        measures=["l_extendedprice"])
    return fact, (t_o, t_c, t_n, t_r), mv, li


def _star_recompute_now(fact, dims):
    t_o, t_c, t_n, t_r = dims
    return _recompute_star(fact.read(), t_o.read(), t_c.read(),
                           t_n.read(), t_r.read())


def test_star_mv_full_build(spark, star_srcs):
    fact, dims, mv, li = star_srcs
    assert mv.refresh() == (0, 0, 0, 0, 0)
    assert _rows(mv.read()) == _rows(_star_recompute_now(fact, dims))
    assert mv.last_refreshed() == (0, 0, 0, 0, 0)
    assert mv.refresh() == (0, 0, 0, 0, 0)   # up to date: replay no-op


def test_star_mv_two_dims_and_fact_one_refresh(spark, star_srcs):
    """The r9-verdict-demanded case: ONE refresh absorbing a fact
    append + revisions of TWO different dims — the telescoped delta
    ΔF⋈M_new ∪ F_old⋈Δ(M) must land bit-identical to a full re-join,
    with the fact scanned at most once for the dim side."""
    fact, dims, mv, li = star_srcs
    t_o, t_c, t_n, t_r = dims
    mv.refresh()
    fact.commit(li.filter(F.col("l_orderkey") % 3 == 2), "append")
    t_o.update({"o_orderkey": (100, 199)}, {"o_custkey": F.lit(1)})
    t_c.update({"c_custkey": (10, 19)}, {"c_mktsegment": F.lit("MOVED")})
    assert mv.refresh() == (1, 1, 1, 0, 0)
    assert _rows(mv.read()) == _rows(_star_recompute_now(fact, dims))
    assert "MOVED" in {r["c_mktsegment"] for r in mv.read().collect()}


def test_star_mv_deep_chain_revision(spark, star_srcs):
    """Revising a dim DEEP in the chain (nation re-pointing to a new
    region) changes the composed mapping of every customer above it —
    Δ(M) is computed dim-side and the group moves follow."""
    fact, dims, mv, li = star_srcs
    t_o, t_c, t_n, t_r = dims
    mv.refresh()
    t_n.update({"n_nationkey": (0, 5)}, {"n_regionkey": F.lit(0)})
    assert mv.refresh() == (0, 0, 0, 1, 0)
    assert _rows(mv.read()) == _rows(_star_recompute_now(fact, dims))
    # fact delete + deep-dim delete in one refresh
    fact.delete({"l_orderkey": (200, 499)})
    t_r.delete({"r_regionkey": (4, 4)})
    assert mv.refresh() == (1, 0, 0, 1, 1)
    assert _rows(mv.read()) == _rows(_star_recompute_now(fact, dims))


def test_star_mv_irrelevant_dim_revision_skips_fact(spark, star_srcs,
                                                    tmp_path):
    """A dim revision that does not touch any view-relevant column
    yields an EMPTY Δ(M) — the refresh must record the new heads
    without re-scanning the fact (state unchanged, version advanced)."""
    fact, dims, mv, li = star_srcs
    t_o, t_c, t_n, t_r = dims
    mv.refresh()
    before = _rows(mv.read())
    # c_nationkey/c_mktsegment untouched: add rows to CUSTOMER that no
    # fact row references (new custkeys) — composed mapping rows appear
    # but no fact row joins them, still a real Δ(M) case; then a pure
    # no-op revision: rewriting orders with identical content
    t_o.commit(t_o.read(), "overwrite")
    assert mv.refresh() == (0, 1, 0, 0, 0)
    assert _rows(mv.read()) == before


def test_star_mv_guards(spark, sf_dir, tmp_path):
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeStarMaterializedView,
        UnsupportedJoinShapeError,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    fact = LakeTable(spark, str(tmp_path / "f"))
    fact.commit(docs)
    dim = LakeTable(spark, str(tmp_path / "d"))
    dim.commit(spark.createDataFrame(
        [Row(lang="aa", region="x"), Row(lang="aa", region="y")],
        "lang string, region string"))

    # non-inner joins refuse at construction
    with pytest.raises(UnsupportedJoinShapeError, match="inner"):
        LakeStarMaterializedView(
            spark, fact, [(dim, "lang", "lang")], str(tmp_path / "m1"),
            "doc_id", ["region"], ["n_chars"], how="left")
    # forward / self parent refs refuse at construction
    with pytest.raises(ValueError, match="EARLIER"):
        LakeStarMaterializedView(
            spark, fact, [(dim, "lang", "lang", 0)],
            str(tmp_path / "m2"), "doc_id", ["region"], ["n_chars"])
    # many-to-many dim refuses LOUDLY at build time
    mv = LakeStarMaterializedView(
        spark, fact, [(dim, "lang", "lang")], str(tmp_path / "m3"),
        "doc_id", ["region"], ["n_chars"])
    with pytest.raises(UnsupportedJoinShapeError, match="MANY-TO-MANY"):
        mv.refresh()
    # ...and at refresh time when a previously-unique dim goes bad
    dim2 = LakeTable(spark, str(tmp_path / "d2"))
    dim2.commit(spark.createDataFrame(
        [Row(lang="aa", region="x")], "lang string, region string"))
    mv2 = LakeStarMaterializedView(
        spark, fact, [(dim2, "lang", "lang")], str(tmp_path / "m4"),
        "doc_id", ["region"], ["n_chars"])
    mv2.refresh()
    dim2.commit(spark.createDataFrame(
        [Row(lang="aa", region="y")], "lang string, region string"),
        "append")
    with pytest.raises(UnsupportedJoinShapeError, match="MANY-TO-MANY"):
        mv2.refresh()
    # ambiguous relevant column refuses at resolution
    dim3 = LakeTable(spark, str(tmp_path / "d3"))
    dim3.commit(spark.createDataFrame(
        [Row(lang="aa", n_chars=1)], "lang string, n_chars long"))
    mv3 = LakeStarMaterializedView(
        spark, fact, [(dim3, "lang", "lang")], str(tmp_path / "m5"),
        "doc_id", ["lang"], ["n_chars"])
    with pytest.raises(ValueError, match="more than one source"):
        mv3.refresh()


def test_star_mv_minmax(spark, star_srcs):
    """Star extrema: delta-scoped recompute over the CURRENT join —
    destroy a group's max through the fact side, the recompute must
    answer from surviving joined rows."""
    fact, dims, mv, li = star_srcs
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeStarMaterializedView,
    )

    t_o, t_c, t_n, t_r = dims
    mm = LakeStarMaterializedView(
        spark, fact,
        [(t_o, "l_orderkey", "o_orderkey"),
         (t_c, "o_custkey", "c_custkey", 0),
         (t_n, "c_nationkey", "n_nationkey", 1),
         (t_r, "n_regionkey", "r_regionkey", 2)],
        str(mv.table.path) + "_mm", fact_key="l_key",
        group_cols=["r_name", "c_mktsegment"],
        measures=["l_extendedprice"], minmax=["l_extendedprice"])
    mm.refresh()
    fact.update({"l_orderkey": (50, 69)},
                {"l_extendedprice": F.lit(9_999_999.0)})
    mm.refresh()
    fact.delete({"l_orderkey": (50, 69)})
    mm.refresh()
    exp = (_star_recompute_now(fact, dims)
           .collect())
    exp_max = {(r["r_name"], r["c_mktsegment"]) for r in exp}
    got = mm.read().collect()
    assert {(r["r_name"], r["c_mktsegment"]) for r in got} == exp_max
    mx = {(r["r_name"], r["c_mktsegment"]): r["max_l_extendedprice"]
          for r in got}
    full = {(r["r_name"], r["c_mktsegment"]): r["mx"] for r in
            fact.read()
            .join(t_o.read(), F.col("l_orderkey") == F.col("o_orderkey"))
            .join(t_c.read(), F.col("o_custkey") == F.col("c_custkey"))
            .join(t_n.read(),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .join(t_r.read(),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("r_name", "c_mktsegment")
            .agg(F.max("l_extendedprice").alias("mx")).collect()}
    assert mx == full
    assert all(v < 9_999_999.0 for v in mx.values())


# -- distinct= parity on join and star views (r10) ------------------------------

def test_join_mv_distinct_count(spark, join_srcs, tmp_path):
    """Exact COUNT(DISTINCT) on the two-table join view: a dim
    re-pointing moves whole groups (drain + fill), and a fact update
    collapsing values must REDUCE a group's distinct count — both via
    the delta-scoped recompute over the CURRENT join."""
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeJoinMaterializedView,
        UnsupportedAggregateError,
    )

    fact, dim, _mv, docs = join_srcs
    mv = LakeJoinMaterializedView(
        spark, fact, dim, str(tmp_path / "mvjd"), fact_key="doc_id",
        join_key="lang", group_cols=["region"], measures=["n_chars"],
        distinct=["n_chars"])
    mv.refresh()

    def recompute():
        return (fact.read().join(dim.read(), "lang").groupBy("region")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.count("n_chars").alias("n_n_chars"),
                     F.sum(F.col("n_chars").cast("decimal(38,6)"))
                     .alias("sum_n_chars"),
                     F.countDistinct("n_chars").alias("nd_n_chars")))

    assert _rows(mv.read()) == _rows(recompute())
    before = {r["region"]: r["nd_n_chars"] for r in mv.read().collect()}
    fact.update({"doc_id": (0, 120)}, {"n_chars": F.lit(7)})
    dim.update({"dim_id": (0, 0)}, {"region": F.lit("moved")})
    mv.refresh()
    assert _rows(mv.read()) == _rows(recompute())
    after = {r["region"]: r["nd_n_chars"] for r in mv.read().collect()}
    assert sum(after.values()) < sum(before.values())
    with pytest.raises(UnsupportedAggregateError, match="exact"):
        LakeJoinMaterializedView(
            spark, fact, dim, str(tmp_path / "x"), fact_key="doc_id",
            join_key="lang", group_cols=["region"], measures=[],
            distinct=["n_chars"], distinct_mode="kmv")


def test_star_mv_distinct_count(spark, star_srcs):
    """Exact COUNT(DISTINCT) on the k-dim star view through a fact
    value-collapse and a deep-dim revision in one refresh."""
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeStarMaterializedView,
    )

    fact, dims, mv, li = star_srcs
    t_o, t_c, t_n, t_r = dims
    nd = LakeStarMaterializedView(
        spark, fact,
        [(t_o, "l_orderkey", "o_orderkey"),
         (t_c, "o_custkey", "c_custkey", 0),
         (t_n, "c_nationkey", "n_nationkey", 1),
         (t_r, "n_regionkey", "r_regionkey", 2)],
        str(mv.table.path) + "_nd", fact_key="l_key",
        group_cols=["r_name"], measures=["l_extendedprice"],
        distinct=["l_extendedprice"])
    nd.refresh()

    def recompute():
        return (fact.read()
                .join(t_o.read(), F.col("l_orderkey") == F.col("o_orderkey"))
                .join(t_c.read(), F.col("o_custkey") == F.col("c_custkey"))
                .join(t_n.read(),
                      F.col("c_nationkey") == F.col("n_nationkey"))
                .join(t_r.read(),
                      F.col("n_regionkey") == F.col("r_regionkey"))
                .groupBy("r_name")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.count("l_extendedprice").alias("n_l_extendedprice"),
                     F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
                     .alias("sum_l_extendedprice"),
                     F.countDistinct("l_extendedprice")
                     .alias("nd_l_extendedprice")))

    assert _rows(nd.read()) == _rows(recompute())
    before = {r["r_name"]: r["nd_l_extendedprice"]
              for r in nd.read().collect()}
    fact.update({"l_orderkey": (0, 299)},
                {"l_extendedprice": F.lit(1.0)})
    t_n.update({"n_nationkey": (0, 3)}, {"n_regionkey": F.lit(0)})
    nd.refresh()
    assert _rows(nd.read()) == _rows(recompute())
    after = {r["r_name"]: r["nd_l_extendedprice"]
             for r in nd.read().collect()}
    assert sum(after.values()) < sum(before.values())


def test_lake_mv_sink_star_fact_stream(spark, sf_dir, tmp_path):
    """Streaming ingest into a STAR view's fact: each micro-batch is
    one fact append + one incremental star refresh (dims revise
    out-of-band; the next batch's refresh absorbs both sides)."""
    from aws_data_pipeline_ads_spark import streaming
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeStarMaterializedView,
        lake_mv_sink,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    land = tmp_path / "landing"
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(land / "s1"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(land / "s2"))
    fact = LakeTable(spark, str(tmp_path / "fact"))
    dim = LakeTable(spark, str(tmp_path / "dim"))
    dim.commit(spark.createDataFrame(
        [Row(lang=lg, region=("apac" if i % 2 else "emea"))
         for i, lg in enumerate(sorted(langs))],
        "lang string, region string"))
    mv = LakeStarMaterializedView(
        spark, fact, [(dim, "lang", "lang")], str(tmp_path / "mv"),
        fact_key="doc_id", group_cols=["region"], measures=["n_chars"])

    stream = streaming.documents_stream(
        spark, str(land), max_files_per_trigger=1
    ).select("doc_id", "lang", "n_chars")
    lake_mv_sink(stream, mv, str(tmp_path / "ck"), ingest=mv.fact)
    assert mv.last_refreshed() == (fact.current_version(),
                                   dim.current_version())
    expect = (fact.read().join(dim.read(), "lang").groupBy("region")
              .agg(F.count(F.lit(1)).alias("n_rows"),
                   F.count("n_chars").alias("n_n_chars"),
                   F.sum(F.col("n_chars").cast("decimal(38,6)"))
                   .alias("sum_n_chars")))
    assert _rows(mv.read()) == _rows(expect)
    # a dim revision between drains is absorbed by the next refresh
    dim.update({"lang": (sorted(langs)[0], sorted(langs)[0])},
               {"region": F.lit("moved")})
    mv.refresh()
    expect = (fact.read().join(dim.read(), "lang").groupBy("region")
              .agg(F.count(F.lit(1)).alias("n_rows"),
                   F.count("n_chars").alias("n_n_chars"),
                   F.sum(F.col("n_chars").cast("decimal(38,6)"))
                   .alias("sum_n_chars")))
    assert _rows(mv.read()) == _rows(expect)
    assert "moved" in {r["region"] for r in mv.read().collect()}


def test_signed_frame_delta_dup_guard_in_plan(spark):
    """The duplicate-key guard is part of the delta plan (the same key
    window that pairs the rows counts them), not an eager pre-collect —
    zero extra jobs per delta. Unique keys flow through silently; a
    duplicate key on either side raises ON MATERIALIZATION with the
    loud marker message, naming the side."""
    from aws_data_pipeline_ads_spark.lakemv import signed_frame_delta

    old = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b")], "k long, v string")
    new = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="B"), Row(k=3, v="c")],
        "k long, v string")
    d = signed_frame_delta(old, new, "k", ["k", "v"])
    got = {(r["k"], r["v"], r["__sign"]) for r in d.collect()}
    assert got == {(2, "b", -1), (2, "B", 1), (3, "c", 1)}

    dup = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=1, v="x")], "k long, v string")
    with pytest.raises(Exception, match="not unique on the new side"):
        signed_frame_delta(old, dup, "k", ["k", "v"]).collect()
    with pytest.raises(Exception, match="not unique on the old side"):
        signed_frame_delta(dup, new, "k", ["k", "v"]).collect()


def _signed_diff_model(old, new):
    """Pure-Python signed diff: a non-NULL key whose row is equal on
    both sides cancels; every other row carries its sign; NULL-keyed
    rows never cancel."""
    from collections import Counter

    out = Counter()
    o = {r[0]: r for r in old if r[0] is not None}
    n = {r[0]: r for r in new if r[0] is not None}
    for k in o.keys() | n.keys():
        if o.get(k) != n.get(k):
            out.update([o[k] + (-1,)] if k in o else [])
            out.update([n[k] + (1,)] if k in n else [])
    out.update(r + (-1,) for r in old if r[0] is None)
    out.update(r + (1,) for r in new if r[0] is None)
    return out


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_signed_frame_delta_matches_python_model(spark, seed):
    """Two arms, one answer: signed_frame_delta on random snapshot
    pairs equals the pure-Python signed diff as a multiset. The pairs
    hold unchanged, changed, appeared and disappeared keys, NULL-keyed
    rows (some identical on both sides, some repeated on one side) and
    NULL values, including a NULL↔'' flip."""
    import random
    from collections import Counter

    from aws_data_pipeline_ads_spark.lakemv import signed_frame_delta

    rng = random.Random(seed)
    vals = [None, "", "a", "b"]
    old = [(k, rng.choice(vals), rng.choice([None, 1, 2]))
           for k in range(40)]
    new = []
    for k, v, x in old:
        fate = rng.random()
        if fate < 0.4:
            new.append((k, v, x))                          # unchanged
        elif fate < 0.55:
            new.append((k, "" if v is None else None, x))  # NULL↔'' etc.
        elif fate < 0.7:
            new.append((k, v, None if x is not None else 3))
        # else: disappeared
    new += [(k, rng.choice(vals), rng.choice([None, 5]))   # appeared
            for k in range(40, 40 + rng.randint(1, 10))]
    nulls = [(None, rng.choice(vals), rng.choice([None, 7]))
             for _ in range(4)]
    old += nulls[:3] + nulls[:1]
    new += nulls[1:]
    rng.shuffle(new)
    schema = "k long, v string, x long"
    d = signed_frame_delta(spark.createDataFrame(old, schema),
                           spark.createDataFrame(new, schema),
                           "k", ["k", "v", "x"])
    got = Counter(tuple(r) for r in d.collect())
    assert got == _signed_diff_model(old, new)


def test_signed_version_delta_append_plan_is_one_pass(spark, tmp_path):
    """An append's delta scans the appended file once (the old side is
    empty after file pruning) and shuffles once, hash-partitioned on
    the key, with no join."""
    from aws_data_pipeline_ads_spark import plans
    from aws_data_pipeline_ads_spark.lakemv import signed_version_delta

    t = LakeTable(spark, str(tmp_path / "src"))
    schema = "doc_id long, lang string, n_chars long"
    t.commit(spark.createDataFrame(
        [Row(doc_id=i, lang="aa", n_chars=i) for i in range(20)],
        schema).repartition(2))
    t.commit(spark.createDataFrame(
        [Row(doc_id=i, lang="bb", n_chars=i) for i in range(20, 30)],
        schema).coalesce(1), "append")
    (appended,) = set(t._read_entry(1)["files"]) - set(
        t._read_entry(0)["files"])
    d = signed_version_delta(t, "doc_id", ["doc_id", "lang", "n_chars"],
                             0, 1)
    plan = plans.physical_plan(d)
    assert plan.count("FileScan") == 1
    assert [f.split("/")[-1] for f in d.inputFiles()] == [
        appended.split("/")[-1]]
    assert "Join" not in plan
    assert plans.count_shuffle_exchanges(d) == 1
    assert plan.count("Exchange hashpartitioning(__k") == 1
    assert sorted((r["doc_id"], r["__sign"]) for r in d.collect()) == [
        (i, 1) for i in range(20, 30)]


def test_duplicate_fact_key_refused(spark, tmp_path):
    """The key contract is GUARDED, not just documented: a duplicate
    non-NULL key on either delta side would leave its rows unpaired in
    the key diff and corrupt sums while counts still cancel — the worst
    silent failure. The refresh must refuse loudly instead. (Found the
    hard way: (l_orderkey, l_linenumber) is not unique in the
    synthetic lineitem; an update-delta over that key silently lost
    sum mass before the guard existed.)"""
    from aws_data_pipeline_ads_spark.lakemv import DuplicateKeyError

    t = LakeTable(spark, str(tmp_path / "src"))
    t.commit(spark.createDataFrame(
        [Row(doc_id=1, lang="aa", n_chars=5),
         Row(doc_id=1, lang="aa", n_chars=9),   # duplicate key!
         Row(doc_id=2, lang="bb", n_chars=7)],
        "doc_id long, lang string, n_chars long"))
    mv = _mk_view(spark, t, tmp_path)
    mv.refresh()                       # full build: no delta, no guard
    t.commit(spark.createDataFrame(
        [Row(doc_id=3, lang="aa", n_chars=2)],
        "doc_id long, lang string, n_chars long"), "append")
    # the old side of the (unpruned) delta never opens the duplicate's
    # file on an append... engineer a rewrite so it does
    t.update({"doc_id": (1, 2)}, {"n_chars": F.lit(4)})
    with pytest.raises(DuplicateKeyError, match="not unique"):
        mv.refresh()


# -- derived group columns: continuous aggregates (r10) --------------------------

def test_derived_bucket_continuous_aggregate(spark, sf_dir, tmp_path):
    """derive=: the view groups by a bucket the source never
    materializes (n_chars // 100 length band). Every aggregate class
    rides the derived group through append / update / delete,
    including the non-invertible recompute (whose semi-join is on the
    DERIVED column); an update that moves rows BETWEEN buckets drains
    one and fills the other."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    t = LakeTable(spark, str(tmp_path / "src"))
    t.commit(docs.filter(F.col("doc_id") % 3 < 2)
             .repartitionByRange(8, "doc_id"))
    mv = LakeMaterializedView(
        spark, t, str(tmp_path / "mv"), key="doc_id",
        group_cols=["band"], measures=["n_chars"],
        minmax=["n_chars"], distinct=["lang"],
        derive={"band": "CAST(n_chars DIV 100 AS BIGINT)"})

    def recompute():
        return (t.read()
                .withColumn("band", F.expr("CAST(n_chars DIV 100 AS BIGINT)"))
                .groupBy("band").agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.count("n_chars").alias("n_n_chars"),
                    F.sum(F.col("n_chars").cast("decimal(38,6)"))
                    .alias("sum_n_chars"),
                    F.min("n_chars").alias("min_n_chars"),
                    F.max("n_chars").alias("max_n_chars"),
                    F.countDistinct("lang").alias("nd_lang")))

    mv.refresh()
    assert _rows(mv.read()) == _rows(recompute())
    t.commit(docs.filter(F.col("doc_id") % 3 == 2), "append")
    mv.refresh()
    assert _rows(mv.read()) == _rows(recompute())
    # move rows BETWEEN derived buckets (band drain + fill)
    t.update({"doc_id": (40, 99)}, {"n_chars": F.lit(950)})
    mv.refresh()
    assert _rows(mv.read()) == _rows(recompute())
    assert 9 in {r["band"] for r in mv.read().collect()}
    t.delete({"doc_id": (40, 99)})
    mv.refresh()
    assert _rows(mv.read()) == _rows(recompute())

    # reserved / shadowing names refuse at construction
    with pytest.raises(ValueError, match="reserved"):
        LakeMaterializedView(
            spark, t, str(tmp_path / "x1"), key="doc_id",
            group_cols=["lang"], measures=[], derive={"__b": "1"})
    with pytest.raises(ValueError, match="shadow"):
        LakeMaterializedView(
            spark, t, str(tmp_path / "x2"), key="doc_id",
            group_cols=["lang"], measures=[], derive={"doc_id": "1"})


def test_star_mv_two_subtrees_both_revised(spark, sf_dir, tmp_path):
    """A TRUE star (two dims joining the fact directly on different
    keys = two fact-attached subtrees), both revised in ONE refresh:
    the survivor pass must OR the two broadcast key-set markers and
    scan the fact once; groups drain/fill across BOTH dimensions."""
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeStarMaterializedView,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    users = (ev.select("user_id").distinct()
             .withColumn("cohort", F.concat(
                 F.lit("c"), (F.col("user_id") % 3).cast("string"))))
    types = (ev.select(F.col("event_type").alias("etype")).distinct()
             .withColumn("channel", F.concat(
                 F.lit("ch"), (F.length("etype") % 2).cast("string"))))
    fact = LakeTable(spark, str(tmp_path / "fact"))
    t_u = LakeTable(spark, str(tmp_path / "users"))
    t_t = LakeTable(spark, str(tmp_path / "types"))
    fact.commit(ev.filter(F.col("event_id") % 3 < 2)
                .repartitionByRange(8, "event_id"))
    t_u.commit(users)
    t_t.commit(types)
    mv = LakeStarMaterializedView(
        spark, fact,
        [(t_u, "user_id", "user_id"),       # subtree 1 (shared name ok:
                                            # right key renames to __rk0)
         (t_t, "event_type", "etype")],     # subtree 2
        str(tmp_path / "mv"), fact_key="event_id",
        group_cols=["cohort", "channel"], measures=["value"])
    mv.refresh()

    def recompute():
        return (fact.read()
                .join(t_u.read(), "user_id")
                .join(t_t.read(),
                      F.col("event_type") == F.col("etype"))
                .groupBy("cohort", "channel").agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.count("value").alias("n_value"),
                    F.sum(F.col("value").cast("decimal(38,6)"))
                    .alias("sum_value")))

    assert _rows(mv.read()) == _rows(recompute())
    # revise BOTH subtrees + the fact between refreshes
    fact.commit(ev.filter(F.col("event_id") % 3 == 2), "append")
    t_u.update({"user_id": (0, 20)}, {"cohort": F.lit("moved")})
    t_t.update({"etype": ("a", "m")}, {"channel": F.lit("chX")})
    mv.refresh()
    assert _rows(mv.read()) == _rows(recompute())
    got = {(r["cohort"], r["channel"]) for r in mv.read().collect()}
    assert any(c == "moved" for c, _ in got)
    assert any(ch == "chX" for _, ch in got)
    # delete a dim row entirely: inner join drops its fact rows
    t_t.delete({"etype": ("a", "m")})
    mv.refresh()
    assert _rows(mv.read()) == _rows(recompute())


def test_star_mv_recompute_prunes_fact_by_root_keys(spark, sf_dir,
                                                    tmp_path):
    """Star non-invertible recompute, FILE-pruned by root-key
    propagation: touched groups map dim-side to the key set K of the
    subtree's composed mapping, and the fact head scan opens only
    files whose root-left-key stat box intersects K. Fact clustered by
    join key + cohorts aligned to key ranges → a one-cohort revision
    opens a bounded file fraction; exactness re-asserted after the
    planted extremum is destroyed."""
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeStarMaterializedView,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value")
    users = (ev.select("user_id").distinct()
             .withColumn("cohort", F.concat(
                 F.lit("c"), F.floor(F.col("user_id") / 2).cast("string"))))
    fact = LakeTable(spark, str(tmp_path / "fact"))
    dim = LakeTable(spark, str(tmp_path / "dim"))
    # fact CLUSTERED BY JOIN KEY: cohort ranges align with files
    fact.commit(ev.repartitionByRange(8, "user_id", "event_id"))
    dim.commit(users)
    mv = LakeStarMaterializedView(
        spark, fact, [(dim, "user_id", "user_id")],
        str(tmp_path / "mv"), fact_key="event_id",
        group_cols=["cohort"], measures=["value"], minmax=["value"])
    mv.refresh()
    n_files = len(fact._read_entry(fact.current_version())["files"])
    assert n_files >= 4

    # plant a sentinel max inside ONE cohort's key range, then delete it
    one = ev.where(F.col("user_id") < 2).agg(
        F.min("event_id")).collect()[0][0]
    fact.update({"event_id": (one, one)}, {"value": F.lit(9e9)})
    mv.refresh()
    assert mv.last_recompute_files is not None
    assert 0 < len(mv.last_recompute_files) < n_files
    fact.delete({"event_id": (one, one)})
    mv.refresh()
    assert len(mv.last_recompute_files) < n_files
    got = {r["cohort"]: r["max_value"] for r in mv.read().collect()}
    exp = {r["cohort"]: r["mx"] for r in
           fact.read().join(dim.read(), "user_id").groupBy("cohort")
           .agg(F.max("value").alias("mx")).collect()}
    assert got == exp
    assert all(v < 9e9 for v in got.values())


# -- LEFT OUTER join view: NULL extension maintained incrementally -----------

def _rows_ns(df):
    # None-safe sort: a NULL group is a legal left-join group
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda t: tuple((v is None, v) for v in t))


def _recompute_left(f_df, d_df):
    return (f_df.join(d_df, "lang", "left").groupBy("region").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_chars").alias("n_n_chars"),
        F.sum(F.col("n_chars").cast("decimal(38,6)")).alias("sum_n_chars")))


@pytest.fixture
def left_srcs(spark, sf_dir, tmp_path):
    """Fact over ALL langs, dim over only the even-indexed half — so
    the left join NULL-extends a real slice from the first build."""
    from aws_data_pipeline_ads_spark.lakemv import LakeJoinMaterializedView

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    langs = sorted(r["lang"]
                   for r in docs.select("lang").distinct().collect())
    fact = LakeTable(spark, str(tmp_path / "fact"))
    fact.commit(docs.filter(F.col("doc_id") % 3 < 2)
                .repartitionByRange(8, "doc_id"))
    dim = LakeTable(spark, str(tmp_path / "dim"))
    dim.commit(spark.createDataFrame(
        [Row(lang=lg, region=("apac" if i % 4 else "emea"), dim_id=i)
         for i, lg in enumerate(langs) if i % 2 == 0],
        "lang string, region string, dim_id long"))
    mv = LakeJoinMaterializedView(
        spark, fact, dim, str(tmp_path / "mvl"), fact_key="doc_id",
        join_key="lang", group_cols=["region"], measures=["n_chars"],
        how="left")
    return fact, dim, mv, docs, langs


def test_left_join_mv_full_build_null_extends(spark, left_srcs):
    fact, dim, mv, docs, langs = left_srcs
    mv.refresh()
    assert _rows_ns(mv.read()) == _rows_ns(_recompute_left(fact.read(),
                                                     dim.read()))
    # the odd-indexed langs really NULL-extend
    assert any(r["region"] is None for r in mv.read().collect())


def test_left_join_mv_dim_appear_flips_null_group(spark, left_srcs):
    """A dim key APPEARING must retract its facts' NULL-extended rows
    and add joined ones — the flip no inner-join delta rule covers."""
    fact, dim, mv, docs, langs = left_srcs
    mv.refresh()
    null_before = {r["region"]: r["n_rows"]
                   for r in mv.read().collect()}.get(None, 0)
    missing = langs[1]                       # odd index: not in dim
    dim.commit(spark.createDataFrame(
        [Row(lang=missing, region="newly", dim_id=999)],
        "lang string, region string, dim_id long"), "append")
    assert mv.refresh() == (0, 1)
    assert _rows_ns(mv.read()) == _rows_ns(_recompute_left(fact.read(),
                                                     dim.read()))
    got = {r["region"]: r["n_rows"] for r in mv.read().collect()}
    assert got.get("newly", 0) > 0
    assert got.get(None, 0) == null_before - got["newly"]


def test_left_join_mv_dim_delete_flips_back(spark, left_srcs):
    """A dim key DISAPPEARING must move its joined facts BACK to the
    NULL extension (an inner view would drop them entirely)."""
    fact, dim, mv, docs, langs = left_srcs
    mv.refresh()
    total_before = sum(r["n_rows"] for r in mv.read().collect())
    dim.delete({"dim_id": (0, 0)})
    assert mv.refresh() == (0, 1)
    assert _rows_ns(mv.read()) == _rows_ns(_recompute_left(fact.read(),
                                                     dim.read()))
    # left join preserves every fact row: total row count unchanged
    assert sum(r["n_rows"] for r in mv.read().collect()) == total_before


def test_left_join_mv_both_sides_one_refresh(spark, left_srcs):
    """Fact append (with orphan keys) + dim re-point + dim insert +
    fact delete absorbed in one refresh."""
    fact, dim, mv, docs, langs = left_srcs
    mv.refresh()
    fact.commit(docs.filter(F.col("doc_id") % 3 == 2), "append")
    dim.update({"dim_id": (2, 4)}, {"region": F.lit("moved")})
    dim.commit(spark.createDataFrame(
        [Row(lang=langs[3], region="late", dim_id=998)],
        "lang string, region string, dim_id long"), "append")
    fact.delete({"doc_id": (0, 25)})
    mv.refresh()
    assert _rows_ns(mv.read()) == _rows_ns(_recompute_left(fact.read(),
                                                     dim.read()))


def test_left_join_mv_minmax_distinct_across_flips(spark, left_srcs,
                                                   tmp_path):
    """Non-invertible columns recompute over the CURRENT left join —
    extrema and distinct counts must be right for the NULL group too,
    across appear/disappear flips."""
    from aws_data_pipeline_ads_spark.lakemv import LakeJoinMaterializedView

    fact, dim, _, docs, langs = left_srcs
    mv = LakeJoinMaterializedView(
        spark, fact, dim, str(tmp_path / "mvl2"), fact_key="doc_id",
        join_key="lang", group_cols=["region"], measures=["n_chars"],
        minmax=["n_chars"], distinct=["n_chars"], how="left")
    mv.refresh()

    def recompute():
        return (fact.read().join(dim.read(), "lang", "left")
                .groupBy("region").agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.count("n_chars").alias("n_n_chars"),
                    F.sum(F.col("n_chars").cast("decimal(38,6)"))
                    .alias("sum_n_chars"),
                    F.min("n_chars").alias("min_n_chars"),
                    F.max("n_chars").alias("max_n_chars"),
                    F.countDistinct("n_chars").alias("nd_n_chars")))

    assert _rows_ns(mv.read()) == _rows_ns(recompute())
    dim.commit(spark.createDataFrame(
        [Row(lang=langs[1], region="newly", dim_id=999)],
        "lang string, region string, dim_id long"), "append")
    fact.update({"doc_id": (30, 49)}, {"n_chars": F.lit(1)})
    mv.refresh()
    assert _rows_ns(mv.read()) == _rows_ns(recompute())
    dim.delete({"dim_id": (0, 2)})
    mv.refresh()
    assert _rows_ns(mv.read()) == _rows_ns(recompute())


def test_join_mv_refuses_unmaintainable_shapes(spark, sf_dir, tmp_path):
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeJoinMaterializedView,
        UnsupportedJoinShapeError,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    fact = LakeTable(spark, str(tmp_path / "f"))
    fact.commit(docs)
    dim = LakeTable(spark, str(tmp_path / "d"))
    dim.commit(spark.createDataFrame(
        [Row(lang="aa", region="x")], "lang string, region string"))
    for how in ("left_anti", "semi", "cross"):
        with pytest.raises(UnsupportedJoinShapeError, match="how="):
            LakeJoinMaterializedView(
                spark, fact, dim, str(tmp_path / "mvx"),
                fact_key="doc_id", join_key="lang",
                group_cols=["region"], measures=["n_chars"], how=how)


# -- RIGHT / FULL OUTER join views: dim-preserved NULL extensions -------------

def _recompute_outer(f_df, d_df, how):
    return (f_df.join(d_df, "lang", how).groupBy("region").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_chars").alias("n_n_chars"),
        F.sum(F.col("n_chars").cast("decimal(38,6)")).alias("sum_n_chars")))


@pytest.fixture(params=["right", "full"])
def outer_srcs(spark, sf_dir, tmp_path, request):
    """Fact over 2/3 of the docs; dim over the even-indexed half of the
    real langs PLUS two never-matching synthetic langs and one
    NULL-keyed row — so the dim-preserved side NULL-extends a real
    slice from the first build, and the fact side (full only) has
    unmatched rows too."""
    from aws_data_pipeline_ads_spark.lakemv import LakeJoinMaterializedView

    how = request.param
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    langs = sorted(r["lang"]
                   for r in docs.select("lang").distinct().collect())
    fact = LakeTable(spark, str(tmp_path / "fact"))
    fact.commit(docs.filter(F.col("doc_id") % 3 < 2)
                .repartitionByRange(8, "doc_id"))
    dim = LakeTable(spark, str(tmp_path / "dim"))
    dim_rows = [Row(lang=lg, region=("apac" if i % 4 else "emea"),
                    dim_id=i)
                for i, lg in enumerate(langs) if i % 2 == 0]
    dim_rows += [Row(lang="zz-never1", region="ghost", dim_id=95),
                 Row(lang="zz-never2", region="ghost", dim_id=96),
                 Row(lang=None, region="nullkey", dim_id=97)]
    dim.commit(spark.createDataFrame(
        dim_rows, "lang string, region string, dim_id long"))
    mv = LakeJoinMaterializedView(
        spark, fact, dim, str(tmp_path / "mvo"), fact_key="doc_id",
        join_key="lang", group_cols=["region"], measures=["n_chars"],
        how=how)
    return fact, dim, mv, docs, langs, how


def test_outer_join_mv_full_build(spark, outer_srcs):
    fact, dim, mv, docs, langs, how = outer_srcs
    mv.refresh()
    assert _rows_ns(mv.read()) == _rows_ns(
        _recompute_outer(fact.read(), dim.read(), how))
    got = {r["region"]: r["n_rows"] for r in mv.read().collect()}
    # unmatched dim rows (synthetic langs + NULL key) really extend
    assert got.get("ghost") == 2 and got.get("nullkey") == 1
    # full additionally preserves the odd-lang fact rows as NULL groups
    assert (None in got) == (how == "full")


def test_outer_join_mv_fact_crossings(spark, outer_srcs):
    """A fact append creating the FIRST match for a dim key must
    retract its NULL extension; deleting the LAST match restores it —
    the 0↔>0 count crossings (_fact_cnt_cross)."""
    fact, dim, mv, docs, langs, how = outer_srcs
    mv.refresh()
    fact.commit(spark.createDataFrame(
        [Row(doc_id=9000001, lang="zz-never1", n_chars=7),
         Row(doc_id=9000002, lang="zz-never1", n_chars=11)],
        "doc_id long, lang string, n_chars long"), "append")
    assert mv.refresh() == (1, 0)
    assert _rows_ns(mv.read()) == _rows_ns(
        _recompute_outer(fact.read(), dim.read(), how))
    got = {r["region"]: r for r in mv.read().collect()}
    # zz-never1 now matched (2 joined rows), zz-never2 still extended
    assert got["ghost"]["n_rows"] == 3
    assert got["ghost"]["n_n_chars"] == 2
    # deleting the last matching rows flips the extension back
    fact.delete({"doc_id": (9000001, 9000002)})
    assert mv.refresh() == (2, 0)
    assert _rows_ns(mv.read()) == _rows_ns(
        _recompute_outer(fact.read(), dim.read(), how))
    got = {r["region"]: r for r in mv.read().collect()}
    assert got["ghost"]["n_rows"] == 2
    assert got["ghost"]["n_n_chars"] == 0


def test_outer_join_mv_dim_revisions(spark, outer_srcs):
    """Dim appear (matched and unmatched keys), disappear, and
    re-point absorbed incrementally."""
    fact, dim, mv, docs, langs, how = outer_srcs
    mv.refresh()
    # appear: one key with fact matches, one without
    dim.commit(spark.createDataFrame(
        [Row(lang=langs[1], region="newly", dim_id=998),
         Row(lang="zz-never3", region="ghost", dim_id=999)],
        "lang string, region string, dim_id long"), "append")
    mv.refresh()
    assert _rows_ns(mv.read()) == _rows_ns(
        _recompute_outer(fact.read(), dim.read(), how))
    got = {r["region"]: r for r in mv.read().collect()}
    assert got["newly"]["n_rows"] > 0
    assert got["ghost"]["n_rows"] == 3
    # re-point: move some matched dim keys to another region
    dim.update({"dim_id": (0, 4)}, {"region": F.lit("moved")})
    mv.refresh()
    assert _rows_ns(mv.read()) == _rows_ns(
        _recompute_outer(fact.read(), dim.read(), how))
    # disappear: drop an unmatched AND a matched dim key
    dim.delete({"dim_id": (95, 95)})
    dim.delete({"dim_id": (998, 998)})
    mv.refresh()
    assert _rows_ns(mv.read()) == _rows_ns(
        _recompute_outer(fact.read(), dim.read(), how))
    got = {r["region"]: r for r in mv.read().collect()}
    assert got["ghost"]["n_rows"] == 2          # zz-never1 gone
    assert "newly" not in got


def test_outer_join_mv_both_sides_one_refresh(spark, outer_srcs):
    fact, dim, mv, docs, langs, how = outer_srcs
    mv.refresh()
    fact.commit(docs.filter(F.col("doc_id") % 3 == 2), "append")
    dim.update({"dim_id": (2, 4)}, {"region": F.lit("moved")})
    dim.commit(spark.createDataFrame(
        [Row(lang=langs[3], region="late", dim_id=998)],
        "lang string, region string, dim_id long"), "append")
    fact.delete({"doc_id": (0, 25)})
    mv.refresh()
    assert _rows_ns(mv.read()) == _rows_ns(
        _recompute_outer(fact.read(), dim.read(), how))


def test_outer_join_mv_minmax_distinct_across_flips(spark, outer_srcs,
                                                    tmp_path):
    from aws_data_pipeline_ads_spark.lakemv import LakeJoinMaterializedView

    fact, dim, _, docs, langs, how = outer_srcs
    mv = LakeJoinMaterializedView(
        spark, fact, dim, str(tmp_path / "mvo2"), fact_key="doc_id",
        join_key="lang", group_cols=["region"], measures=["n_chars"],
        minmax=["n_chars"], distinct=["n_chars"], how=how)
    mv.refresh()

    def recompute():
        return (fact.read().join(dim.read(), "lang", how)
                .groupBy("region").agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.count("n_chars").alias("n_n_chars"),
                    F.sum(F.col("n_chars").cast("decimal(38,6)"))
                    .alias("sum_n_chars"),
                    F.min("n_chars").alias("min_n_chars"),
                    F.max("n_chars").alias("max_n_chars"),
                    F.countDistinct("n_chars").alias("nd_n_chars")))

    assert _rows_ns(mv.read()) == _rows_ns(recompute())
    fact.commit(spark.createDataFrame(
        [Row(doc_id=9000001, lang="zz-never2", n_chars=3)],
        "doc_id long, lang string, n_chars long"), "append")
    fact.update({"doc_id": (30, 49)}, {"n_chars": F.lit(1)})
    mv.refresh()
    assert _rows_ns(mv.read()) == _rows_ns(recompute())
    dim.delete({"dim_id": (0, 2)})
    mv.refresh()
    assert _rows_ns(mv.read()) == _rows_ns(recompute())


# -- KMV-sketch distinct state (distinct_mode="kmv", append-only) -------------

def _kmv_py(values, k=256):
    """Independent bottom-k + estimator twin (pure Python/hashlib)."""
    import hashlib

    hs = sorted({hashlib.md5(str(v).encode()).hexdigest()
                 for v in values if v is not None})[:k]
    if len(hs) < k:
        return hs, float(len(hs))
    u = int(hs[k - 1][:8], 16) / 2 ** 32
    return hs, round((k - 1) / u, 6)


def test_kmv_distinct_appends_match_recompute(spark, tmp_path):
    """Append-only refreshes: the merged sketch state must equal the
    bottom-k of the FULL data (set algebra, bit-exact), the estimator
    must match an independent Python twin — including the (k-1)/U_(k)
    branch (group g0 holds 1200 distinct values > KMV_K=256) — and no
    head rescan happens (the kmv path never calls _scoped_head_scan)."""
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    rows = [Row(doc_id=i, lang=("g0" if i % 3 else "g1"),
                n_chars=(i * 7 if i % 3 else i % 40)) for i in range(1800)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    t = LakeTable(spark, str(tmp_path / "src"))
    mv = LakeMaterializedView(
        spark, t, str(tmp_path / "mv"), key="doc_id",
        group_cols=["lang"], measures=["n_chars"],
        distinct=["n_chars"], distinct_mode="kmv")
    t.commit(df.filter(F.col("doc_id") < 600).repartition(4))
    mv.refresh()                                   # full build
    t.commit(df.filter((F.col("doc_id") >= 600)
                       & (F.col("doc_id") < 1200)), "append")
    mv.refresh()                                   # sketch merge 1
    t.commit(df.filter(F.col("doc_id") >= 1200), "append")
    mv.refresh()                                   # sketch merge 2
    assert mv.last_recompute_files is None         # never rescanned

    got = {r["lang"]: r for r in mv.read().collect()}
    data = {}
    for r in df.collect():
        data.setdefault(r["lang"], []).append(r["n_chars"])
    assert set(got) == set(data)
    for g, vals in data.items():
        hs, est = _kmv_py(vals)
        assert list(got[g][f"kmv_n_chars"]) == hs, g
        assert got[g]["nd_n_chars_est"] == est, g
        assert got[g]["n_rows"] == len(vals)
    # the big group really exercised the estimator branch
    assert len(set(data["g0"])) > 256
    assert got["g0"]["nd_n_chars_est"] != float(len(set(data["g0"])))
    # ...and the estimate is within 3 standard errors (~1/sqrt(k-1))
    exact = len(set(data["g0"]))
    assert abs(got["g0"]["nd_n_chars_est"] - exact) <= 3 * exact / 15.97


def test_kmv_estimate_exact_below_k(spark, tmp_path):
    """While a group holds < KMV_K distinct values the sketch IS the
    set: the estimate equals the exact distinct count."""
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    rows = [Row(doc_id=i, lang="aa", n_chars=i % 17) for i in range(100)]
    t = LakeTable(spark, str(tmp_path / "src"))
    t.commit(spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long"))
    mv = LakeMaterializedView(
        spark, t, str(tmp_path / "mv"), key="doc_id",
        group_cols=["lang"], measures=[], distinct=["n_chars"],
        distinct_mode="kmv")
    mv.refresh()
    r = mv.read().collect()[0]
    assert r["nd_n_chars_est"] == 17.0
    assert len(r["kmv_n_chars"]) == 17


def test_kmv_refuses_revisions(spark, tmp_path):
    """Sketches cannot retract: a delta with ANY disappeared row
    (delete / update) refuses loudly instead of over-counting."""
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeMaterializedView,
        UnsupportedAggregateError,
    )

    rows = [Row(doc_id=i, lang="aa", n_chars=i) for i in range(50)]
    t = LakeTable(spark, str(tmp_path / "src"))
    t.commit(spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long"))
    mv = LakeMaterializedView(
        spark, t, str(tmp_path / "mv"), key="doc_id",
        group_cols=["lang"], measures=[], distinct=["n_chars"],
        distinct_mode="kmv")
    mv.refresh()
    t.delete({"doc_id": (10, 19)})
    with pytest.raises(UnsupportedAggregateError, match="disappeared"):
        mv.refresh()
    # the view state is untouched by the refused refresh
    assert mv.last_refreshed() == 0
    t2 = LakeTable(spark, str(tmp_path / "src2"))
    t2.commit(spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long"))
    mv2 = LakeMaterializedView(
        spark, t2, str(tmp_path / "mv2"), key="doc_id",
        group_cols=["lang"], measures=[], distinct=["n_chars"],
        distinct_mode="kmv")
    mv2.refresh()
    t2.update({"doc_id": (5, 5)}, {"n_chars": F.lit(999)})
    with pytest.raises(UnsupportedAggregateError, match="disappeared"):
        mv2.refresh()


def test_kmv_null_key_rows_do_not_wedge_growing_source(spark, tmp_path):
    """NULL-keyed source rows never cancel in the key diff and come as
    unconditional ± pairs (signed_frame_delta) — so whenever their file
    is on both diff sides (snapshot-style overwrite producers, CoW
    rewrites of neighboring rows), an UNCHANGED NULL-keyed row used to
    trip the kmv no-retraction gate and wedge every refresh (the r10
    advice find; the error's own 'rebuild the view' suggestion did not
    help — the rebuilt view failed the next refresh identically). The
    gate is now NET per row content: cancelling ± pairs pass, true
    disappearances still refuse."""
    rows = [Row(doc_id=(None if i % 7 == 0 else i), lang="aa",
                n_chars=i % 23) for i in range(60)]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long")
    t = LakeTable(spark, str(tmp_path / "src"))
    mv = LakeMaterializedView(
        spark, t, str(tmp_path / "mv"), key="doc_id",
        group_cols=["lang"], measures=["n_chars"],
        distinct=["n_chars"], distinct_mode="kmv")
    t.commit(df.filter(F.coalesce(F.col("doc_id"), F.lit(1)) < 30))
    mv.refresh()
    # snapshot producer: OVERWRITE with old rows (NULL keys included,
    # byte-identical) + 30 new — logically append-only, but no file is
    # shared so every NULL row re-emits as a ± pair in the delta
    t.commit(df)
    mv.refresh()                    # used to raise UnsupportedAggregate
    t.commit(spark.createDataFrame(
        [Row(doc_id=None, lang="aa", n_chars=999)],
        "doc_id long, lang string, n_chars long"), "append")
    mv.refresh()                    # NULL-keyed append itself also lands
    got = mv.read().collect()[0]
    all_vals = [r.n_chars for r in rows] + [999]
    hs, est = _kmv_py(all_vals)
    assert got["n_rows"] == 61
    assert list(got["kmv_n_chars"]) == hs
    assert got["nd_n_chars_est"] == est
    # a TRUE disappearance (net-negative content) still refuses loudly
    from aws_data_pipeline_ads_spark.lakemv import UnsupportedAggregateError

    t.delete({"n_chars": (999, 999)})
    with pytest.raises(UnsupportedAggregateError, match="disappeared"):
        mv.refresh()


# -- hierarchical continuous aggregates (state_key= MV stacking) --------------

def test_hierarchical_cagg_stacks_exactly(spark, sf_dir, tmp_path):
    """A downstream view over an UPSTREAM VIEW'S state table (day cagg
    → band rollup, the TimescaleDB hierarchical shape): state_key=True
    stamps mv_key (injective group-tuple hash) so the upstream state
    is a legal delta source; after every source revision, refreshing
    the cascade must equal a flat one-level recompute — counts, exact
    decimal sums, and the summed upstream counts all bit-identical."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    t = LakeTable(spark, str(tmp_path / "src"))
    t.commit(docs.filter(F.col("doc_id") % 3 < 2)
             .repartitionByRange(8, "doc_id"))
    up = LakeMaterializedView(
        spark, t, str(tmp_path / "up"), key="doc_id",
        group_cols=["lang", "band"], measures=["n_chars"],
        derive={"band": "CAST(n_chars DIV 100 AS BIGINT)"},
        state_key=True)
    down = LakeMaterializedView(
        spark, up.table, str(tmp_path / "down"), key="mv_key",
        group_cols=["lang"], measures=["n_rows", "sum_n_chars"])

    def flat():
        # one-level recompute of what the CASCADE should express
        return (t.read().groupBy("lang").agg(
            F.count(F.lit(1)).cast("decimal(38,6)").alias("total_rows"),
            F.sum(F.col("n_chars").cast("decimal(38,6)"))
            .alias("total_chars")))

    def cascade():
        return down.read().select(
            "lang", F.col("sum_n_rows").alias("total_rows"),
            F.col("sum_sum_n_chars").cast("decimal(38,6)")
            .alias("total_chars"))

    up.refresh()
    down.refresh()
    assert _rows(cascade()) == _rows(flat())
    # source revisions ripple through BOTH refreshes incrementally
    t.commit(docs.filter(F.col("doc_id") % 3 == 2), "append")
    up.refresh()
    down.refresh()
    assert _rows(cascade()) == _rows(flat())
    t.update({"doc_id": (40, 99)}, {"n_chars": F.lit(950)})
    t.delete({"doc_id": (200, 299)})
    up.refresh()
    down.refresh()
    assert _rows(cascade()) == _rows(flat())
    # mv_key is unique per upstream snapshot (the downstream delta's
    # duplicate guard would refuse otherwise) and stable across
    # refreshes for unchanged groups
    keys = [r["mv_key"] for r in up.read().select("mv_key").collect()]
    assert len(keys) == len(set(keys))
    # name collision refuses at construction
    with pytest.raises(ValueError, match="mv_key"):
        LakeMaterializedView(
            spark, t, str(tmp_path / "x3"), key="doc_id",
            group_cols=["mv_key"], measures=[], state_key=True)


def test_hierarchical_over_join_view(spark, join_srcs, tmp_path):
    """state_key= on the JOIN view: a star reporting view feeds a
    downstream single-table rollup (region cagg → global totals) —
    the cascade must equal the flat one-level recompute after both
    sides revise."""
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeJoinMaterializedView,
        LakeMaterializedView,
    )

    fact, dim, _, docs = join_srcs
    up = LakeJoinMaterializedView(
        spark, fact, dim, str(tmp_path / "upj"), fact_key="doc_id",
        join_key="lang", group_cols=["region"], measures=["n_chars"],
        state_key=True)
    down = LakeMaterializedView(
        spark, up.table, str(tmp_path / "downj"), key="mv_key",
        group_cols=["region"], measures=["n_rows", "sum_n_chars"])
    up.refresh()
    down.refresh()

    def flat():
        return (fact.read().join(dim.read(), "lang")
                .groupBy("region").agg(
                    F.count(F.lit(1)).cast("decimal(38,6)")
                    .alias("total_rows"),
                    F.sum(F.col("n_chars").cast("decimal(38,6)"))
                    .alias("total_chars")))

    def cascade():
        return down.read().select(
            "region", F.col("sum_n_rows").alias("total_rows"),
            F.col("sum_sum_n_chars").cast("decimal(38,6)")
            .alias("total_chars"))

    assert _rows(cascade()) == _rows(flat())
    fact.commit(docs.filter(F.col("doc_id") % 3 == 2), "append")
    dim.update({"dim_id": (0, 1)}, {"region": F.lit("moved")})
    up.refresh()
    down.refresh()
    assert _rows(cascade()) == _rows(flat())


def test_hierarchical_over_star_view(spark, star_srcs, tmp_path):
    """state_key= on the STAR view: the flagship 5-way star MV feeds a
    downstream rollup (per-(region, segment) -> per-region totals);
    the cascade must equal the flat recompute after the fact and a
    dim revise."""
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeMaterializedView,
        LakeStarMaterializedView,
    )

    fact, (t_o, t_c, t_n, t_r), _, li = star_srcs
    up = LakeStarMaterializedView(
        spark, fact,
        [(t_o, "l_orderkey", "o_orderkey"),
         (t_c, "o_custkey", "c_custkey", 0),
         (t_n, "c_nationkey", "n_nationkey", 1),
         (t_r, "n_regionkey", "r_regionkey", 2)],
        str(tmp_path / "upstar"), fact_key="l_key",
        group_cols=["r_name", "c_mktsegment"],
        measures=["l_extendedprice"], state_key=True)
    down = LakeMaterializedView(
        spark, up.table, str(tmp_path / "downstar"), key="mv_key",
        group_cols=["r_name"],
        measures=["n_rows", "sum_l_extendedprice"])

    def flat():
        return (fact.read()
                .join(t_o.read(), F.col("l_orderkey") == F.col("o_orderkey"))
                .join(t_c.read(), F.col("o_custkey") == F.col("c_custkey"))
                .join(t_n.read(), F.col("c_nationkey") == F.col("n_nationkey"))
                .join(t_r.read(), F.col("n_regionkey") == F.col("r_regionkey"))
                .groupBy("r_name").agg(
                    F.count(F.lit(1)).cast("decimal(38,6)")
                    .alias("rows_total"),
                    F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
                    .alias("m_total")))

    def cascade():
        return down.read().select(
            "r_name", F.col("sum_n_rows").alias("rows_total"),
            F.col("sum_sum_l_extendedprice").cast("decimal(38,6)")
            .alias("m_total"))

    up.refresh()
    down.refresh()
    assert _rows(cascade()) == _rows(flat())
    # fact delete + customer segment move ripple through both levels
    fact.delete({"l_orderkey": (100, 399)})
    t_c.update({"c_custkey": (10, 19)}, {"c_mktsegment": F.lit("MOVED")})
    up.refresh()
    down.refresh()
    assert _rows(cascade()) == _rows(flat())


# -- join-key file pruning of the dim-revision fact scan (r12) ----------------

@pytest.mark.parametrize("how", ["inner", "left", "right", "full"])
def test_dim_revision_fact_scan_file_pruned_on_clustered_fact(
        spark, tmp_path, how):
    """On a fact CLUSTERED BY JOIN KEY, a dim revision's F_old step
    opens only the files whose stat box can hold the revised keys —
    the one documented linear cost of the dim-revision path, closed
    when the clustering makes the commit-log stats selective. The
    refreshed view stays bit-identical to a flat recompute."""
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeJoinMaterializedView,
    )

    n = 4000
    fact_df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") / 10).cast("long").alias("cat_id"),
        (F.col("id") % 37).cast("long").alias("val"))
    fact = LakeTable(spark, str(tmp_path / "fact"))
    fact.commit(fact_df.repartitionByRange(8, "cat_id"))
    n_files = len(fact._read_entry(0)["files"])
    assert n_files >= 8
    dim_df = spark.range(n // 10).select(
        F.col("id").alias("cat_id"),
        F.concat(F.lit("g"), (F.col("id") % 5).cast("string"))
        .alias("grp"))
    dim = LakeTable(spark, str(tmp_path / "dim"))
    dim.commit(dim_df)
    mv = LakeJoinMaterializedView(
        spark, fact, dim, str(tmp_path / f"mv_{how}"),
        fact_key="doc_id", join_key="cat_id", group_cols=["grp"],
        measures=["val"], how=how)
    mv.refresh()

    def flat():
        return (fact.read().join(dim.read(), "cat_id", how)
                .groupBy("grp").agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.count("val").alias("n_val"),
                    F.sum(F.col("val").cast("decimal(38,6)"))
                    .alias("sum_val")))

    # dim revision touching ONE join key → the F_old step must open a
    # FRACTION of the clustered fact's files
    dim.update({"cat_id": (7, 7)}, {"grp": F.lit("g9")})
    mv.refresh()
    assert _rows(mv.read()) == _rows(flat())
    assert 0 < len(mv.last_fold_files) < n_files
    # right/full: a fact append's count-scan step is pruned the same
    if how in ("right", "full"):
        fact.commit(spark.range(3).select(
            (F.col("id") + 100_000).alias("doc_id"),
            (F.col("id") + 13).alias("cat_id"),
            F.lit(1).cast("long").alias("val")), "append")
        mv.refresh()
        assert _rows(mv.read()) == _rows(flat())
        assert 0 < len(mv.last_fold_files) < n_files


def test_star_dim_revision_survivor_scan_file_pruned(spark, tmp_path):
    """The star view's survivor pass (F_old ⋈ Δ(M)) is file-pruned by
    the revised roots' key sets on a join-key-clustered fact."""
    from aws_data_pipeline_ads_spark.lakemv import (
        LakeStarMaterializedView,
    )

    n = 4000
    fact_df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") / 10).cast("long").alias("cat_id"),
        (F.col("id") % 37).cast("long").alias("val"))
    fact = LakeTable(spark, str(tmp_path / "fact"))
    fact.commit(fact_df.repartitionByRange(8, "cat_id"))
    n_files = len(fact._read_entry(0)["files"])
    dim_df = spark.range(n // 10).select(
        F.col("id").alias("cat_id"),
        F.concat(F.lit("g"), (F.col("id") % 5).cast("string"))
        .alias("grp"))
    dim = LakeTable(spark, str(tmp_path / "dim"))
    dim.commit(dim_df)
    mv = LakeStarMaterializedView(
        spark, fact, [(dim, "cat_id", "cat_id")],
        str(tmp_path / "mvs"), fact_key="doc_id",
        group_cols=["grp"], measures=["val"])
    mv.refresh()
    dim.update({"cat_id": (7, 7)}, {"grp": F.lit("g9")})
    mv.refresh()
    flat = (fact.read().join(dim.read(), "cat_id")
            .groupBy("grp").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count("val").alias("n_val"),
                F.sum(F.col("val").cast("decimal(38,6)"))
                .alias("sum_val")))
    assert _rows(mv.read()) == _rows(flat)
    assert 0 < len(mv.last_fold_files) < n_files
