"""Measured scale-up evidence: the heaviest declared queries at 1× vs 10×.

SCALE.md argues each heavy operator's plan shape survives a 100×
scale-up; this tool converts the argument into measurement. It
synthesizes a deterministic 10× corpus from sf0.1 (no RNG — per-copy
token prefixing), runs the heaviest declared queries once per scale in
one session (each query's serving indexes built by an untimed build()
at both scales before any timed rep, like bench.py), and
writes SCALE10X.md with:

* wall-clock at 1× and 10× and the growth factor (target ≲ linear —
  a factor materially above 10 gets a diagnosis, not a pass),
* the shuffle-exchange count at both scales, asserted EQUAL — a plan
  that grows new exchanges with data size is a scale bug regardless
  of wall-clock.

Corpus construction (deterministic, disjoint per copy):
* documents ×10: copy i prefixes every token with `s{i}_` and offsets
  doc_id by i·10⁷. Disjoint vocabularies keep the near-dup/term-stats
  profile of each copy identical to the base corpus, so total work is
  exactly 10× the base — the clean linearity probe (replicating text
  verbatim would instead inflate cross-copy near-dup pairs
  quadratically, a data property, not an operator property).
* events ×10: user_id offset by i·10⁷ per copy (sessions are per-user,
  so the session profile is preserved exactly).
Non-scaled tables are symlinked from the base sf_dir.

Usage: python tools/scale10x.py [base_sf_dir] [out_md]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

QUERIES = [
    "q_decontaminate", "q_line_dedup", "q_curation_pipeline",
    "q_minhash_lsh", "q_neardup_verified", "q_bm25_terms",
    "q_simhash_pairs", "q_session_gap",
    # r7 sketch/fingerprint tiers: disjoint per-copy vocabularies keep
    # the winnow pair profile per copy and grow each source's shingle
    # space 10× (the KMV sketch build is the data-sized part; the pair
    # fusion stays 20×20-bounded)
    "q_kmv_jaccard", "q_winnow_pairs",
    # r7 heavy tiers added per the r7 verdict: the heaps fit's
    # data-sized stage is the nested md5-bucket distinct count; hybrid
    # search serves BM25 from the term-bucket-pruned postings index
    # (the dense half reads the UNSCALED embeddings table — only the
    # sparse half grows, so sub-linear factors here are expected); the
    # MP3 triage is a linear Arrow-batched header walk
    "q_heaps_fit", "q_hybrid_search", "q_audio_mp3",
    # r8 tiers (r9 verdict task 5): the tokenizer's corpus-scale stage
    # is per-word-instance memoized Viterbi (training is prebuilt
    # write-side, like BM25); seasonal decomposition's data-sized work
    # is the persist_tracked hour-bucket groupBy + key window; chat
    # flatten / preference pairs are single-shuffle struct-ordered
    # groupBys — the SFT-prep shapes that must not grow exchanges
    "q_unigram_tokenize", "q_seasonal_decompose", "q_chat_flatten",
    "q_preference_pairs",
]

# Lake data-skipping queries: besides wall-clock and exchange count
# (which must stay 0 — the driver prunes from the log, no shuffle),
# the FRACTION of committed files the scan opens must hold at 10× —
# the whole 100 TB story is that a bounded predicate opens a bounded
# fraction of the table, independent of table size.
LAKE_QUERIES = ["q_lake_pruned_scan", "q_lake_zorder_scan",
                "q_lake_time_scan", "q_lake_hilbert_scan"]

# Metadata-only lake aggregates: COUNT/SUM/AVG answered straight from
# the commit-log entry. The contract at 10× is stronger than pruning —
# ZERO files opened and ZERO shuffles at both scales; wall-clock is
# O(log entry read), independent of table data size.
META_QUERIES = ["q_lake_sum_agg"]

COPIES = 10
OFFSET = 10_000_000


def build_corpus(spark, base: str, out: str) -> None:
    docs = spark.read.parquet(f"{base}/documents.parquet")
    scaled = None
    for i in range(COPIES):
        c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * OFFSET))
        c = c.withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda t: F.concat(F.lit(f"s{i}_"), t),
                ),
                " ",
            ),
        )
        scaled = c if scaled is None else scaled.unionByName(c)
    scaled.repartition(32).write.parquet(f"{out}/documents.parquet")

    ev = spark.read.parquet(f"{base}/events.parquet")
    sev = None
    for i in range(COPIES):
        c = ev.withColumn("user_id", F.col("user_id") + F.lit(i * OFFSET))
        sev = c if sev is None else sev.unionByName(c)
    sev.repartition(32).write.parquet(f"{out}/events.parquet")

    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "embeddings"):
        src = f"{base}/{t}.parquet"
        dst = f"{out}/{t}.parquet"
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)


def run_once(df) -> float:
    """Time one full execution, then drop any persist_tracked caches the
    query pinned: Spark's CacheManager dedupes identical logical plans,
    so without the release a second build() of a caching query (the KMV
    sketch, the verified-neardup token arrays) would serve its
    data-sized stage from memory and fake a flat scale factor."""
    from aws_data_pipeline_ads_spark.operators.cache import release_caches

    t0 = time.time()
    df.write.mode("overwrite").format("noop").save()
    dt = time.time() - t0
    release_caches()
    return dt


def lake_files(spark, sf_dir: str, name: str, df) -> tuple[int, int]:
    """(files the scan opens, files the committed head holds) — the
    pruned fraction opened/total is the scale-invariant the lake tier
    promises."""
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.queries import text_q

    idx_fn = {"q_lake_pruned_scan": text_q.lakescan_index,
              "q_lake_hilbert_scan": text_q.lakehilbert_index,
              "q_lake_zorder_scan": text_q.lakezorder_index,
              "q_lake_time_scan": text_q.laketime_index}[name]
    t = LakeTable(spark, f"{idx_fn(spark, sf_dir)}/tbl")
    return len(df.inputFiles()), len(t.read().inputFiles())


def mv_refresh_experiment(spark, base: str, big: str) -> list[tuple]:
    """The incremental-MV claim, measured: a FIXED-size append's
    refresh must cost the same against a 10× source table as against
    the 1× table (delta-scaled, not table-scaled). For each scale:
    commit the corpus, full-build the view, then 3× (append the SAME
    500-row batch with fresh keys → time refresh()); also record how
    many files each refresh's delta actually scanned (must equal the
    appended files, not the table's)."""
    import shutil
    import tempfile

    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    out = []
    for label, sf_dir in (("1×", base), ("10×", big)):
        root = tempfile.mkdtemp(prefix="scale10x_mv_")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang", "n_chars")
        batch = (spark.read.parquet(f"{base}/documents.parquet")
                 .select("doc_id", "lang", "n_chars")
                 .orderBy("doc_id").limit(500))
        t = LakeTable(spark, f"{root}/tbl")
        t.commit(docs.repartition(32))
        mv = LakeMaterializedView(
            spark, t, f"{root}/mv", key="doc_id",
            group_cols=["lang"], measures=["n_chars"])
        t0 = time.time()
        mv.refresh()                                  # full build
        full_s = time.time() - t0
        total_files = len(t.read().inputFiles())
        times, scanned = [], []
        for rep in range(3):
            t.commit(batch.withColumn(
                "doc_id",
                F.col("doc_id") + F.lit(900_000_000 + rep * 1_000_000)),
                "append")
            old_side, new_side = mv._delta_sides(
                mv.last_refreshed(), t.current_version())
            scanned.append(len(old_side.inputFiles())
                           + len(new_side.inputFiles()))
            t0 = time.time()
            mv.refresh()
            times.append(time.time() - t0)
        shutil.rmtree(root, ignore_errors=True)
        med = sorted(times)[1]
        print(f"# mv_refresh {label}: full {full_s:.2f}s  fixed-append "
              f"refresh {med:.2f}s (reps {[round(x, 2) for x in times]})  "
              f"delta scanned {max(scanned)}/{total_files} files",
              file=sys.stderr)
        out.append((f"{label} single-table", full_s, med, max(scanned),
                    total_files))

    # join view: fixed-size FACT append against a 1×/10× fact table —
    # ΔF broadcasts and joins the (unscaled) dim at head; refresh must
    # stay flat like the single-table case. The LEFT variant's dim
    # covers only half the langs (real NULL extension) — ΔF ⟕ D_new is
    # the same broadcast shape, so it must stay flat too.
    from aws_data_pipeline_ads_spark.lakemv import LakeJoinMaterializedView

    for how in ("inner", "left"):
        for label, sf_dir in (("1×", base), ("10×", big)):
            root = tempfile.mkdtemp(prefix="scale10x_mvj_")
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                "doc_id", "lang", "n_chars")
            langs = sorted(r[0] for r in
                           docs.select("lang").distinct().collect())
            if how == "left":
                langs = langs[::2]
            batch = (spark.read.parquet(f"{base}/documents.parquet")
                     .select("doc_id", "lang", "n_chars")
                     .orderBy("doc_id").limit(500))
            fact = LakeTable(spark, f"{root}/fact")
            fact.commit(docs.repartition(32))
            dim = LakeTable(spark, f"{root}/dim")
            dim.commit(spark.createDataFrame(
                [(lg, f"r{i % 3}") for i, lg in enumerate(langs)],
                "lang string, region string"))
            mv = LakeJoinMaterializedView(
                spark, fact, dim, f"{root}/mv", fact_key="doc_id",
                join_key="lang", group_cols=["region"],
                measures=["n_chars"], how=how)
            t0 = time.time()
            mv.refresh()
            full_s = time.time() - t0
            total_files = len(fact.read().inputFiles())
            times = []
            for rep in range(3):
                fact.commit(batch.withColumn(
                    "doc_id",
                    F.col("doc_id") + F.lit(900_000_000 + rep * 1_000_000)),
                    "append")
                t0 = time.time()
                mv.refresh()
                times.append(time.time() - t0)
            shutil.rmtree(root, ignore_errors=True)
            med = sorted(times)[1]
            kind = "join" if how == "inner" else "LEFT join"
            print(f"# mvj_refresh {how} {label}: full {full_s:.2f}s  "
                  f"fixed-append refresh {med:.2f}s "
                  f"(reps {[round(x, 2) for x in times]})", file=sys.stderr)
            out.append((f"{label} {kind} (fact append)", full_s, med, 1,
                        total_files))
    return out


def mv_kmv_experiment(spark, base: str, big: str) -> list[tuple]:
    """The KMV-sketch MV claim, measured: on an UNCLUSTERED source,
    exact COUNT(DISTINCT) maintenance must rescan the head on every
    refresh (no stats to prune by — the pre-r10 worst case), while the
    kmv sketch state merges the delta's sketch and opens ZERO head
    files — so the kmv refresh stays flat at 10× table size while the
    exact refresh grows with the table. For each scale: commit the
    corpus unclustered, build BOTH views, then 3× (append the same
    500-row batch → time both refreshes, record the exact view's
    last_recompute_files and assert the kmv view never rescans)."""
    import shutil
    import tempfile

    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    # untimed JIT ramp: both view shapes (sketch windows, array ops,
    # recompute stitch) compile on a tiny table first, or the 1× arm —
    # which runs first — pays codegen costs the 10× arm never sees
    warm_root = tempfile.mkdtemp(prefix="scale10x_mvkmv_warm_")
    warm_docs = (spark.read.parquet(f"{base}/documents.parquet")
                 .select("doc_id", "lang", "n_chars").limit(2000))
    wt = LakeTable(spark, f"{warm_root}/tbl")
    wt.commit(warm_docs.repartition(4))
    for wmode, wpath in (("exact", "mv_e"), ("kmv", "mv_k")):
        wmv = LakeMaterializedView(
            spark, wt, f"{warm_root}/{wpath}", key="doc_id",
            group_cols=["lang"], measures=["n_chars"],
            distinct=["n_chars"], distinct_mode=wmode)
        wmv.refresh()
    wt.commit(warm_docs.withColumn(
        "doc_id", F.col("doc_id") + F.lit(800_000_000)), "append")
    for wmode, wpath in (("exact", "mv_e"), ("kmv", "mv_k")):
        LakeMaterializedView(
            spark, wt, f"{warm_root}/{wpath}", key="doc_id",
            group_cols=["lang"], measures=["n_chars"],
            distinct=["n_chars"], distinct_mode=wmode).refresh()
    shutil.rmtree(warm_root, ignore_errors=True)

    out = []
    for label, sf_dir in (("1×", base), ("10×", big)):
        root = tempfile.mkdtemp(prefix="scale10x_mvkmv_")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang", "n_chars")
        batch = (spark.read.parquet(f"{base}/documents.parquet")
                 .select("doc_id", "lang", "n_chars")
                 .orderBy("doc_id").limit(500))
        t = LakeTable(spark, f"{root}/tbl")
        t.commit(docs.repartition(32))
        mv_ex = LakeMaterializedView(
            spark, t, f"{root}/mv_exact", key="doc_id",
            group_cols=["lang"], measures=["n_chars"],
            distinct=["n_chars"])
        mv_kmv = LakeMaterializedView(
            spark, t, f"{root}/mv_kmv", key="doc_id",
            group_cols=["lang"], measures=["n_chars"],
            distinct=["n_chars"], distinct_mode="kmv")
        mv_ex.refresh()
        mv_kmv.refresh()
        total_files = len(t.read().inputFiles())
        t_ex, t_kmv, rescanned = [], [], []
        for rep in range(3):
            t.commit(batch.withColumn(
                "doc_id",
                F.col("doc_id") + F.lit(900_000_000 + rep * 1_000_000)),
                "append")
            t0 = time.time()
            mv_ex.refresh()
            t_ex.append(time.time() - t0)
            rescanned.append(len(mv_ex.last_recompute_files))
            t0 = time.time()
            mv_kmv.refresh()
            t_kmv.append(time.time() - t0)
        assert mv_kmv.last_recompute_files is None  # never rescanned
        shutil.rmtree(root, ignore_errors=True)
        med_ex, med_kmv = sorted(t_ex)[1], sorted(t_kmv)[1]
        print(f"# mv_kmv {label}: exact refresh {med_ex:.2f}s "
              f"(head rescan {max(rescanned)}/{total_files} files)  "
              f"kmv refresh {med_kmv:.2f}s (0 head files)",
              file=sys.stderr)
        out.append((label, med_ex, max(rescanned), med_kmv, total_files))
    return out


def mv_minmax_prune_experiment(spark, base: str, big: str) -> list[tuple]:
    """The r10 claim, measured: a MIN/MAX view's delta-scoped head
    RECOMPUTE is file-pruned through the commit log's per-file group
    stats when the source is clustered by group. For each scale:
    commit the corpus range-partitioned by (lang, doc_id), full-build
    a minmax view, then 3× (CoW-update ONE doc of one lang → time
    refresh(), record last_recompute_files). The opened-file FRACTION
    must stay bounded at 10× (the files that can hold the touched
    lang), never the whole table."""
    import shutil
    import tempfile

    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    out = []
    for label, sf_dir in (("1×", base), ("10×", big)):
        root = tempfile.mkdtemp(prefix="scale10x_mvmm_")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang", "n_chars")
        t = LakeTable(spark, f"{root}/tbl")
        t.commit(docs.repartitionByRange(32, "lang", "doc_id"))
        mv = LakeMaterializedView(
            spark, t, f"{root}/mv", key="doc_id",
            group_cols=["lang"], measures=["n_chars"],
            minmax=["n_chars"])
        t0 = time.time()
        mv.refresh()
        full_s = time.time() - t0
        total_files = len(t.read().inputFiles())
        one_lang = docs.select("lang").orderBy("lang").limit(1).collect()[
            0][0]
        ids = [r[0] for r in docs.where(F.col("lang") == one_lang)
               .select("doc_id").orderBy("doc_id").limit(5).collect()]
        times, opened = [], []
        for rep in range(5):
            t.update({"doc_id": (ids[rep], ids[rep])},
                     {"n_chars": F.lit(999_999 + rep)})
            t0 = time.time()
            mv.refresh()
            times.append(time.time() - t0)
            opened.append(len(mv.last_recompute_files))
        shutil.rmtree(root, ignore_errors=True)
        # median of 5: the first rep carries first-touch JIT/footer
        # costs the later ones don't — 3 reps let one outlier win
        med = sorted(times)[2]
        print(f"# mv_minmax_prune {label}: full {full_s:.2f}s  "
              f"one-group-update refresh {med:.2f}s "
              f"(reps {[round(x, 2) for x in times]})  recompute opened "
              f"{max(opened)}/{total_files} files", file=sys.stderr)
        out.append((label, full_s, med, max(opened), total_files))
    return out


def lake_api_experiment(spark, base: str, big: str) -> dict:
    """The r10 lake APIs measured at 1× vs 10× (r10 verdict item 6):

    * feed_changes: a consumer LAGGING by 3 fixed 500-row appends must
      pay for the LAG's files, never the table — the delta is
      file-pruned through shared-file cancellation.
    * delete_keys: copy-on-write rewrites only the stats/bloom-covered
      files (bounded fraction on a key-clustered table); defer=True is
      an O(1) metadata commit at any size.
    * commit_expect: splitting a fixed batch (valid commit +
      quarantine append) costs batch-sized work, not table-sized.
    * star MV: a fixed fact append refreshes delta-scaled (flat); a
      revised DEEP dim (dim-of-dim) costs ONE broadcast-filtered fact
      scan — table-sized wall at worst linear, dim-sized everything
      else.
    """
    import shutil
    import tempfile

    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeStarMaterializedView

    out: dict[str, list] = {"feed": [], "delk": [], "expect": [],
                            "star": []}
    for label, sf_dir in (("1×", base), ("10×", big)):
        root = tempfile.mkdtemp(prefix="scale10x_api_")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang", "n_chars")
        batch = (spark.read.parquet(f"{base}/documents.parquet")
                 .select("doc_id", "lang", "n_chars")
                 .orderBy("doc_id").limit(500))
        t = LakeTable(spark, f"{root}/tbl")
        t.commit(docs.repartitionByRange(32, "doc_id"),
                 bloom_cols=["doc_id"])
        total_files = len(t.read().inputFiles())

        # -- feed_changes consumer lag ---------------------------------
        _, h0 = t.feed_changes("c1", "doc_id")   # initial load offset
        t.ack_feed("c1", h0)
        for rep in range(3):
            t.commit(batch.withColumn(
                "doc_id",
                F.col("doc_id") + F.lit(900_000_000 + rep * 1_000_000)),
                "append")
        t0 = time.time()
        delta, head = t.feed_changes("c1", "doc_id")
        feed_files = len(delta.inputFiles())
        run_once(delta)
        feed_s = time.time() - t0
        t.ack_feed("c1", head)
        print(f"# feed_changes {label}: lag-3 delta {feed_s:.2f}s, "
              f"{feed_files}/{total_files + 3} files", file=sys.stderr)
        out["feed"].append((label, feed_s, feed_files, total_files + 3))

        # -- delete_keys: CoW bounded rewrite vs O(1) defer -------------
        ids = [r[0] for r in docs.select("doc_id")
               .orderBy("doc_id").limit(40).collect()][::13][:3]
        before = set(t._read_entry(t.current_version())["files"])
        t0 = time.time()
        t.delete_keys("doc_id", ids)
        cow_s = time.time() - t0
        after = set(t._read_entry(t.current_version())["files"])
        rewritten = len(before - after)
        t0 = time.time()
        t.delete_keys("doc_id", [x + 1 for x in ids], defer=True)
        defer_s = time.time() - t0
        print(f"# delete_keys {label}: CoW {cow_s:.2f}s rewrote "
              f"{rewritten}/{len(before)} files; defer {defer_s:.3f}s "
              f"(0 files)", file=sys.stderr)
        out["delk"].append((label, cow_s, rewritten, len(before),
                            defer_s))

        # -- merge_clauses: cover-scoped three-way merge ------------------
        mkeys = [r[0] for r in docs.select("doc_id")
                 .orderBy("doc_id").limit(60).collect()][::19][:3]
        msrc = spark.createDataFrame(
            [(k, "aa", 1, "u") for k in mkeys[:2]]
            + [(mkeys[2], "aa", 0, "d"),
               (960_000_001, "aa", 5, "u")],
            "doc_id long, lang string, n_chars long, act string")
        mb = set(t._read_entry(t.current_version())["files"])
        t0 = time.time()
        t.merge_clauses(msrc, "doc_id",
                        matched_update={"n_chars": "src_n_chars"},
                        matched_delete="src_act = 'd'",
                        insert_condition="act = 'u'")
        merge_s = time.time() - t0
        ma = set(t._read_entry(t.current_version())["files"])
        out.setdefault("merge", []).append(
            (label, merge_s, len(mb - ma), len(mb)))
        print(f"# merge_clauses {label}: {merge_s:.2f}s rewrote "
              f"{len(mb - ma)}/{len(mb)} files", file=sys.stderr)

        # -- commit_expect: fixed-batch split ----------------------------
        eb = batch.withColumn("doc_id",
                              F.col("doc_id") + F.lit(990_000_000))
        t0 = time.time()
        m = t.commit_expect(eb, {"not_tenth": "doc_id % 10 > 0"},
                            mode="append")
        exp_s = time.time() - t0
        print(f"# commit_expect {label}: {exp_s:.2f}s "
              f"(committed {m['rows_committed']}, quarantined "
              f"{m['rows_quarantined']})", file=sys.stderr)
        out["expect"].append((label, exp_s, m["rows_committed"],
                              m["rows_quarantined"]))

        # -- star MV: fact append (flat) + deep-dim revision (one scan) --
        langs = sorted(r[0] for r in
                       docs.select("lang").distinct().collect())
        fact = LakeTable(spark, f"{root}/fact")
        fact.commit(docs.repartition(32))
        d1 = LakeTable(spark, f"{root}/d1")
        d1.commit(spark.createDataFrame(
            [(lg, f"r{i % 4}", i) for i, lg in enumerate(langs)],
            "lang string, region string, d1_id long"))
        d2 = LakeTable(spark, f"{root}/d2")   # DEEP: joins d1
        d2.commit(spark.createDataFrame(
            [(f"r{i}", f"zone{i % 2}", i) for i in range(4)],
            "region string, zone string, d2_id long"))
        smv = LakeStarMaterializedView(
            spark, fact, [(d1, "lang", "lang", -1),
                          (d2, "region", "region", 0)],
            f"{root}/smv", fact_key="doc_id",
            group_cols=["zone"], measures=["n_chars"])
        t0 = time.time()
        smv.refresh()
        full_s = time.time() - t0
        fa = []
        for rep in range(3):
            fact.commit(batch.withColumn(
                "doc_id",
                F.col("doc_id") + F.lit(970_000_000 + rep * 1_000_000)),
                "append")
            t0 = time.time()
            smv.refresh()
            fa.append(time.time() - t0)
        dd = []
        for rep in range(3):
            d2.update({"d2_id": (rep % 4, rep % 4)},
                      {"zone": F.lit(f"moved{rep}")})
            t0 = time.time()
            smv.refresh()
            dd.append(time.time() - t0)
        shutil.rmtree(root, ignore_errors=True)
        fa_med, dd_med = sorted(fa)[1], sorted(dd)[1]
        print(f"# star_mv {label}: full {full_s:.2f}s  fact-append "
              f"refresh {fa_med:.2f}s  deep-dim-revision refresh "
              f"{dd_med:.2f}s", file=sys.stderr)
        out["star"].append((label, full_s, fa_med, dd_med))
    return out


def cdc_experiment(spark, base: str, big: str) -> dict:
    """The r11/r12 CDC + replication surface at 1× vs 10× (r11 verdict
    task 9) plus the r12 dim-revision fact-scan pruning (task 7):

    * feed_changes_cdc: after a FIXED revision set (500-row append +
      bounded update + bounded delete) lands on a table of either
      size, the classified delta must be delta-sized — files read =
      the revision's files, wall flat, exchange count identical.
    * replicate_to: the initial full sync is data-sized BY DESIGN
      (reported, not flatness-gated); the incremental sync after the
      fixed revisions must be flat, its target-side merge rewrite
      cover-scoped.
    * join-MV dim revision on a join-key-clustered fact: one revised
      dim key opens a FRACTION of the fact's files (_pruned_f_old) —
      the r11-documented linear cost, closed.
    """
    import shutil
    import tempfile

    from aws_data_pipeline_ads_spark import plans
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeJoinMaterializedView

    out: dict[str, list] = {"cdc": [], "repl": [], "dimprune": []}
    for label, sf_dir in (("1×", base), ("10×", big)):
        root = tempfile.mkdtemp(prefix="scale10x_cdc_")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang", "n_chars")
        batch = (spark.read.parquet(f"{base}/documents.parquet")
                 .select("doc_id", "lang", "n_chars")
                 .orderBy("doc_id").limit(500))
        src = LakeTable(spark, f"{root}/src")
        src.commit(docs.repartitionByRange(32, "doc_id"),
                   bloom_cols=["doc_id"])
        total_files = len(src.read().inputFiles())
        rep = LakeTable(spark, f"{root}/rep")
        t0 = time.time()
        src.replicate_to(rep, "dr", "doc_id")      # data-sized by design
        init_s = time.time() - t0
        _, h0 = src.feed_changes("cls", "doc_id")  # classifier consumer
        src.ack_feed("cls", h0)

        # fixed-size revision set, independent of table size
        src.commit(batch.withColumn(
            "doc_id", F.col("doc_id") + F.lit(930_000_000)), "append")
        src.update({"doc_id": (10, 200)}, {"n_chars": F.lit(1)})
        src.delete({"doc_id": (300, 400)})

        cdc, head = src.feed_changes_cdc("cls", "doc_id")
        cdc_files = len(cdc.inputFiles())
        cdc_sh = plans.count_shuffle_exchanges(cdc)
        t0 = time.time()
        run_once(cdc)
        cdc_s = time.time() - t0
        src.ack_feed("cls", head)
        head_files = len(src.read().inputFiles())
        print(f"# feed_changes_cdc {label}: {cdc_s:.2f}s, "
              f"{cdc_files}/{head_files} files, {cdc_sh} shuffles",
              file=sys.stderr)
        out["cdc"].append((label, cdc_s, cdc_files, head_files, cdc_sh))

        rb = set(rep._read_entry(rep.current_version())["files"])
        t0 = time.time()
        src.replicate_to(rep, "dr", "doc_id")      # incremental sync
        sync_s = time.time() - t0
        ra = set(rep._read_entry(rep.current_version())["files"])
        print(f"# replicate_to {label}: initial {init_s:.2f}s, "
              f"incremental {sync_s:.2f}s rewrote {len(rb - ra)}/"
              f"{len(rb)} replica files", file=sys.stderr)
        out["repl"].append((label, init_s, sync_s, len(rb - ra),
                            len(rb)))

        # join-MV dim revision on a cat-clustered fact: one revised
        # key must open a fraction of the fact's files
        fact = LakeTable(spark, f"{root}/fact")
        fact.commit(docs.withColumn(
            "cat_id", (F.col("doc_id") / 10).cast("long"))
            .repartitionByRange(32, "cat_id"))
        fact_files = len(fact.read().inputFiles())
        dim = LakeTable(spark, f"{root}/dim")
        dim.commit(fact.read().select("cat_id").distinct().select(
            "cat_id", F.concat(F.lit("g"), (F.col("cat_id") % 5)
                               .cast("string")).alias("grp")))
        jmv = LakeJoinMaterializedView(
            spark, fact, dim, f"{root}/jmv", fact_key="doc_id",
            join_key="cat_id", group_cols=["grp"],
            measures=["n_chars"])
        jmv.refresh()
        dd = []
        for rep_i in range(3):
            dim.update({"cat_id": (rep_i, rep_i)},
                       {"grp": F.lit(f"moved{rep_i}")})
            t0 = time.time()
            jmv.refresh()
            dd.append(time.time() - t0)
        opened = len(jmv.last_fold_files)
        dd_med = sorted(dd)[1]
        print(f"# jmv_dim_prune {label}: dim-revision refresh "
              f"{dd_med:.2f}s opened {opened}/{fact_files} fact files",
              file=sys.stderr)
        out["dimprune"].append((label, dd_med, opened, fact_files))
        shutil.rmtree(root, ignore_errors=True)
    return out


def mapping_experiment(spark, base: str, big: str) -> dict:
    """The r12 column-mapping/type-widening surface at 1× vs 10×:

    * rename_column / widen_column / drop_column: each must be ONE
      metadata commit — wall flat at 10×, ZERO data files opened or
      written (the whole point vs a rewrite, which would be 10×).
    * scan on the RENAMED column: the per-file stats were collected
      under the physical name — pruning must keep the same opened
      fraction after the rename (driver-side dict translation).
    * fixed-size append after the rename: batch-sized (flat), the
      logical→physical write mapping costs a plan-only rename.
    """
    import tempfile

    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    out: dict[str, list] = {"meta": [], "scan": [], "append": []}
    for label, sf_dir in (("1×", base), ("10×", big)):
        root = tempfile.mkdtemp(prefix="scale10x_map_")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang", F.col("n_chars").cast("int").alias("n_chars"))
        batch = (spark.read.parquet(f"{base}/documents.parquet")
                 .select("doc_id", "lang",
                         F.col("n_chars").cast("int").alias("n_chars"))
                 .orderBy("doc_id").limit(500))
        t = LakeTable(spark, f"{root}/tbl")
        # cluster by the column that will be RENAMED, so the post-
        # rename pruned scan has a layout to prune
        t.commit(docs.repartitionByRange(32, "n_chars"))
        total_files = len(t.read().inputFiles())
        files_before = set(t._read_entry(t.current_version())["files"])
        t0 = time.time()
        t.rename_column("n_chars", "chars")
        ren_s = time.time() - t0
        t0 = time.time()
        t.widen_column("chars", "long")
        wid_s = time.time() - t0
        t0 = time.time()
        t.drop_column("lang")
        drop_s = time.time() - t0
        files_after = set(t._read_entry(t.current_version())["files"])
        rewrote = len(files_before ^ files_after)  # must be 0
        print(f"# column_map {label}: rename {ren_s:.3f}s widen "
              f"{wid_s:.3f}s drop {drop_s:.3f}s, {rewrote} files touched "
              f"of {total_files}", file=sys.stderr)
        out["meta"].append((label, ren_s, wid_s, drop_s, rewrote,
                            total_files))

        # scan on the RENAMED+widened column: exercises the
        # logical→physical stat-key translation, not an identity map
        lo = int(docs.agg(F.min("n_chars")).collect()[0][0])
        scan = t.scan({"chars": (lo, lo + 50)})
        opened = len(scan.inputFiles())
        t0 = time.time()
        run_once(scan)
        scan_s = time.time() - t0
        print(f"# column_map scan {label}: {scan_s:.2f}s, "
              f"{opened}/{total_files} files", file=sys.stderr)
        out["scan"].append((label, scan_s, opened, total_files))

        # fixed append under the new logical names
        b = batch.withColumnsRenamed({"n_chars": "chars"}).drop("lang") \
            .withColumn("chars", F.col("chars").cast("long")) \
            .withColumn("doc_id", F.col("doc_id") + F.lit(900_000_000))
        t0 = time.time()
        t.commit(b, "append")
        app_s = time.time() - t0
        print(f"# column_map append {label}: {app_s:.2f}s",
              file=sys.stderr)
        out["append"].append((label, app_s))
    return out


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "SCALE10X.md"
    big = "/tmp/spark_graft_scale10x"

    from aws_data_pipeline_ads_spark import plans
    from aws_data_pipeline_ads_spark.queries import REGISTRY
    from aws_data_pipeline_ads_spark.session import get_session

    spark = get_session("scale10x")
    if not os.path.exists(f"{big}/documents.parquet"):
        os.makedirs(big, exist_ok=True)
        t0 = time.time()
        build_corpus(spark, base, big)
        print(f"# 10x corpus built in {time.time()-t0:.1f}s at {big}",
              file=sys.stderr)
    # JIT ramp (same rationale as bench.py's warmup)
    run_once(REGISTRY["q_agg_rollup"].build(spark, base))
    run_once(REGISTRY["q_agg_rollup"].build(spark, base))

    rows = []
    for name in QUERIES:
        d1 = REGISTRY[name].build(spark, base)
        d10 = REGISTRY[name].build(spark, big)
        s1 = plans.count_shuffle_exchanges(d1)
        s10 = plans.count_shuffle_exchanges(d10)
        # median of 3 per scale, interleaved, after one untimed warm rep
        # per scale (first-touch index/footer reads otherwise land on
        # whichever scale runs first and fake a sub-linear factor)
        run_once(d1)
        run_once(d10)
        r1, r10 = [], []
        for _ in range(3):
            r1.append(run_once(REGISTRY[name].build(spark, base)))
            r10.append(run_once(REGISTRY[name].build(spark, big)))
        t1 = sorted(r1)[1]
        t10 = sorted(r10)[1]
        factor = t10 / t1 if t1 else float("inf")
        flag = "" if s1 == s10 else "  ⚠ NEW EXCHANGES"
        print(f"# {name}: 1x {t1:.2f}s  10x {t10:.2f}s  factor "
              f"{factor:.1f}  shuffles {s1}->{s10}{flag}", file=sys.stderr)
        rows.append((name, t1, t10, factor, s1, s10))

    lake_rows = []
    for name in LAKE_QUERIES:
        d1 = REGISTRY[name].build(spark, base)
        d10 = REGISTRY[name].build(spark, big)
        s1 = plans.count_shuffle_exchanges(d1)
        s10 = plans.count_shuffle_exchanges(d10)
        o1, n1 = lake_files(spark, base, name, d1)
        o10, n10 = lake_files(spark, big, name, d10)
        run_once(d1)
        run_once(d10)
        r1, r10 = [], []
        for _ in range(3):
            r1.append(run_once(REGISTRY[name].build(spark, base)))
            r10.append(run_once(REGISTRY[name].build(spark, big)))
        t1, t10 = sorted(r1)[1], sorted(r10)[1]
        frac1, frac10 = o1 / n1, o10 / n10
        # the contract: zero exchanges at both scales, and the opened
        # fraction does not degrade materially at 10×
        ok = (s1 == s10 == 0) and frac10 <= frac1 * 1.5 and frac10 < 1.0
        flag = "" if ok else "  ⚠ SKIPPING DEGRADED"
        print(f"# {name}: 1x {t1:.2f}s ({o1}/{n1} files)  10x {t10:.2f}s "
              f"({o10}/{n10} files)  shuffles {s1}->{s10}{flag}",
              file=sys.stderr)
        lake_rows.append((name, t1, t10, o1, n1, o10, n10, s1, s10, ok))

    meta_rows = []
    for name in META_QUERIES:
        d1 = REGISTRY[name].build(spark, base)
        d10 = REGISTRY[name].build(spark, big)
        s1 = plans.count_shuffle_exchanges(d1)
        s10 = plans.count_shuffle_exchanges(d10)
        o1, o10 = len(d1.inputFiles()), len(d10.inputFiles())
        run_once(d1)
        run_once(d10)
        r1, r10 = [], []
        for _ in range(3):
            r1.append(run_once(REGISTRY[name].build(spark, base)))
            r10.append(run_once(REGISTRY[name].build(spark, big)))
        t1, t10 = sorted(r1)[1], sorted(r10)[1]
        ok = s1 == s10 == 0 and o1 == o10 == 0
        flag = "" if ok else "  ⚠ NOT METADATA-ONLY"
        print(f"# {name}: 1x {t1:.2f}s  10x {t10:.2f}s  files "
              f"{o1}/{o10}  shuffles {s1}->{s10}{flag}", file=sys.stderr)
        meta_rows.append((name, t1, t10, o1, o10, s1, s10, ok))

    mv_rows = mv_refresh_experiment(spark, base, big)
    mm_rows = mv_minmax_prune_experiment(spark, base, big)
    kmv_rows = mv_kmv_experiment(spark, base, big)
    api_rows = lake_api_experiment(spark, base, big)
    cdc_rows = cdc_experiment(spark, base, big)
    map_rows = mapping_experiment(spark, base, big)
    spark.stop()

    lines = [
        "# SCALE10X — measured 1× → 10× scaling of the heaviest declared "
        "queries",
        "",
        f"Auto-generated by `tools/scale10x.py` (base {base}; 10× corpus: "
        f"{COPIES} deterministic disjoint-vocabulary copies of documents, "
        f"{COPIES} disjoint-user copies of events; serving indexes "
        "prebuilt write-side for both scales; per scale: one untimed "
        "warm rep then the median of 3 timed reps, interleaved, in one "
        "warmed session).",
        "",
        "A factor near 10 on a 32-thread local box is linear scaling; "
        "factors below 10 mean the base run was dominated by fixed "
        "per-query overhead (scheduling, codegen) that the larger input "
        "amortizes. One construction caveat: the per-copy token PREFIX "
        "inflates total characters ~15.5× (measured: 1.49M → 23.0M "
        "chars) while rows grow exactly 10× — so char-linear queries "
        "(regex scoring, tokenization) may legitimately land between "
        "10× and 15.5× and are still linear in input bytes. `shuffles` "
        "must be IDENTICAL at both scales — a plan that grows exchanges "
        "with data is a scale bug regardless of wall-clock.",
        "",
        "| query | 1× sec | 10× sec | factor | shuffles 1× | shuffles 10× |",
        "|---|---|---|---|---|---|",
    ]
    for name, t1, t10, factor, s1, s10 in rows:
        mark = "" if s1 == s10 else " ⚠"
        lines.append(
            f"| {name} | {t1:.2f} | {t10:.2f} | {factor:.1f}× | {s1} | "
            f"{s10}{mark} |"
        )
    worst = max(r[3] for r in rows)
    lines += [
        "",
        f"Worst growth factor: **{worst:.1f}×** over a 10× corpus; "
        f"{sum(1 for r in rows if r[4] != r[5])} queries changed their "
        "exchange count (must be 0).",
        "",
        "## Lake data-skipping tier",
        "",
        "The scale-invariant here is the OPENED-FILE FRACTION: the "
        "driver prunes the commit-log file list before Spark opens "
        "anything, so a bounded predicate must open a bounded fraction "
        "of the table at any size — and the plan carries ZERO shuffle "
        "exchanges at both scales.",
        "",
        "| query | 1× sec | 10× sec | files 1× | files 10× | "
        "shuffles | skipping holds |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, t1, t10, o1, n1, o10, n10, s1, s10, ok in lake_rows:
        lines.append(
            f"| {name} | {t1:.2f} | {t10:.2f} | {o1}/{n1} | {o10}/{n10} "
            f"| {s1}→{s10} | {'yes' if ok else '**NO**'} |"
        )
    lines += [
        "",
        f"{sum(1 for r in lake_rows if not r[9])} lake queries degraded "
        "their pruned fraction or grew exchanges (must be 0).",
        "",
        "## Metadata-only lake aggregates",
        "",
        "COUNT/SUM/AVG answered straight from the commit-log entry: "
        "ZERO data files opened and ZERO shuffles at BOTH scales — "
        "wall-clock is one log-entry read, O(log) in table size, not "
        "O(data).",
        "",
        "| query | 1× sec | 10× sec | files opened 1×/10× | shuffles "
        "| metadata-only holds |",
        "|---|---|---|---|---|---|",
    ]
    for name, t1, t10, o1, o10, s1, s10, ok in meta_rows:
        lines.append(
            f"| {name} | {t1:.2f} | {t10:.2f} | {o1}/{o10} "
            f"| {s1}→{s10} | {'yes' if ok else '**NO**'} |"
        )
    lines += [
        "",
        f"{sum(1 for r in meta_rows if not r[7])} metadata-only queries "
        "opened files or shuffled (must be 0).",
        "",
        "## Incremental materialized view: refresh scales with the "
        "DELTA, not the table",
        "",
        "Each scale commits its corpus, full-builds the view, then "
        "appends the SAME fixed 500-row batch 3× and times each "
        "incremental refresh. The full build is table-sized (expected "
        "~10× apart); the fixed-append refresh must stay ~FLAT across "
        "scales, and the delta must scan only the appended files "
        "(lakemv file-pruned deltas).",
        "",
        "| scale | full build sec | fixed-append refresh sec (median "
        "of 3) | delta files scanned / table files |",
        "|---|---|---|---|",
    ]
    for label, full_s, med, scanned, total in mv_rows:
        lines.append(f"| {label} | {full_s:.2f} | {med:.2f} "
                     f"| {scanned}/{total} |")
    for i in range(0, len(mv_rows) - 1, 2):
        one, ten = mv_rows[i], mv_rows[i + 1]
        ratio = ten[2] / one[2] if one[2] else 0
        kind = one[0].split(" ", 1)[1]
        lines += [
            "",
            f"Fixed-delta {kind} refresh cost at 10× table size: "
            f"**{ratio:.1f}×** the 1× cost (target ≈ 1; a table-scaled "
            f"refresh would read ~10×); the delta scanned "
            f"{ten[3]}/{ten[4]} files at 10× — the appended files "
            "only, never the table.",
        ]
    one, ten = mm_rows
    frac1 = one[3] / one[4] if one[4] else 0
    frac10 = ten[3] / ten[4] if ten[4] else 0
    lines += [
        "",
        "## MIN/MAX recompute scan: FILE-PRUNED on a group-clustered "
        "source (r10)",
        "",
        "The non-invertible extrema recompute rescans the head for the "
        "delta's touched groups; since r10 that scan is file-pruned "
        "through the commit log's per-file group-column stats "
        "(lakemv._scoped_head_scan). Each scale commits the corpus "
        "range-partitioned by (lang, doc_id), full-builds a minmax "
        "view, then CoW-updates ONE document of one lang 3× and times "
        "each refresh, recording last_recompute_files.",
        "",
        "| scale | full build sec | one-group-update refresh sec "
        "(median of 3) | recompute opened / table files |",
        "|---|---|---|---|",
        f"| 1× | {one[1]:.2f} | {one[2]:.2f} | {one[3]}/{one[4]} |",
        f"| 10× | {ten[1]:.2f} | {ten[2]:.2f} | {ten[3]}/{ten[4]} |",
        "",
        f"Opened-file fraction {frac1:.2f} at 1× vs {frac10:.2f} at "
        f"10× — the files that can hold the touched group, never the "
        f"table (an unpruned recompute would open "
        f"{ten[4]}/{ten[4]}). Refresh cost at 10×: "
        f"**{(ten[2] / one[2] if one[2] else 0):.1f}×** the 1× cost.",
    ]
    k1, k10 = kmv_rows
    lines += [
        "",
        "## KMV-sketch distinct state vs exact recompute on an "
        "UNCLUSTERED source (r10)",
        "",
        "Exact COUNT(DISTINCT) maintenance must rescan the head each "
        "refresh — and with no group clustering the stats cannot prune, "
        "so the rescan is the WHOLE table (the documented worst case). "
        "The kmv sketch state (distinct_mode='kmv') merges the delta's "
        "bottom-k sketch instead and opens ZERO head files, so a fixed "
        "500-row append's refresh stays flat at 10× table size.",
        "",
        "| scale | exact refresh sec (head files rescanned) | kmv "
        "refresh sec (head files) |",
        "|---|---|---|",
        f"| 1× | {k1[1]:.2f} ({k1[2]}/{k1[4]}) | {k1[3]:.2f} (0) |",
        f"| 10× | {k10[1]:.2f} ({k10[2]}/{k10[4]}) | {k10[3]:.2f} (0) |",
        "",
        f"Exact-mode refresh grows "
        f"**{(k10[1] / k1[1] if k1[1] else 0):.1f}×** at 10× (it "
        f"rescans {k10[2]}/{k10[4]} files); the kmv refresh is "
        f"**{(k10[3] / k1[3] if k1[3] else 0):.1f}×** (target ≈ 1, "
        "zero head files at both scales) — the append-only fast path "
        "for distinct counts at 100 TB.",
    ]
    f1, f10 = api_rows["feed"]
    k1d, k10d = api_rows["delk"]
    e1, e10 = api_rows["expect"]
    s1r, s10r = api_rows["star"]
    lines += [
        "",
        "## r10 lake APIs at 10× (change feed, key-set delete, "
        "expectations, star MV)",
        "",
        "### feed_changes: delivery cost scales with the consumer's "
        "LAG, not the table",
        "",
        "A consumer acked at the post-build head, then 3 fixed 500-row "
        "appends land; its next delta must read the LAG's files only "
        "(shared files cancel out of the span diff wholesale).",
        "",
        "| scale | lag-3 delta sec | files read / table files |",
        "|---|---|---|",
        f"| 1× | {f1[1]:.2f} | {f1[2]}/{f1[3]} |",
        f"| 10× | {f10[1]:.2f} | {f10[2]}/{f10[3]} |",
        "",
        f"Delta read {f10[2]} files at 10× (the appended files), "
        f"factor **{(f10[1] / f1[1] if f1[1] else 0):.1f}×** wall "
        "(target ≈ 1 — lag-sized, table-size-independent).",
        "",
        "### delete_keys: CoW rewrites the covered files; defer is "
        "O(1) metadata",
        "",
        "3-id takedown on a doc_id-range-clustered, bloom-indexed "
        "table: stats+bloom tighten the cover driver-side, so the "
        "rewrite touches the handful of covering files at any size; "
        "defer=True publishes one metadata commit, zero files.",
        "",
        "| scale | CoW sec | files rewritten / table | defer sec |",
        "|---|---|---|---|",
        f"| 1× | {k1d[1]:.2f} | {k1d[2]}/{k1d[3]} | {k1d[4]:.3f} |",
        f"| 10× | {k10d[1]:.2f} | {k10d[2]}/{k10d[3]} | "
        f"{k10d[4]:.3f} |",
        "",
        f"Rewritten-file count {k1d[2]} → {k10d[2]} at 10× (the "
        f"covering files, never the table); defer stays "
        f"**{(k10d[4] / k1d[4] if k1d[4] else 0):.1f}×** "
        "(metadata-only at both scales).",
        "",
        "### merge_clauses: the three-clause MERGE rewrite is "
        "cover-scoped",
        "",
        "A 4-row source (2 updates, 1 delete, 1 insert) merged into "
        "the same clustered, bloom-indexed table — the stats+bloom "
        "key cover bounds the rewrite exactly like delete_keys:",
        "",
        "| scale | merge sec | files rewritten / table |",
        "|---|---|---|",
        f"| 1× | {api_rows['merge'][0][1]:.2f} | "
        f"{api_rows['merge'][0][2]}/{api_rows['merge'][0][3]} |",
        f"| 10× | {api_rows['merge'][1][1]:.2f} | "
        f"{api_rows['merge'][1][2]}/{api_rows['merge'][1][3]} |",
        "",
        f"Factor **{(api_rows['merge'][1][1] / api_rows['merge'][0][1] if api_rows['merge'][0][1] else 0):.1f}×**; "
        "rewritten-file count stays the key cover at both scales; "
        "merge() is the update-all/insert-all case of the same "
        "cover-scoped rewrite.",
        "",
        "### commit_expect: the expectations split is batch-sized",
        "",
        "A fixed 500-row batch with one rule (10% violations → "
        "quarantine sibling append + valid commit):",
        "",
        "| scale | split-commit sec | committed | quarantined |",
        "|---|---|---|---|",
        f"| 1× | {e1[1]:.2f} | {e1[2]} | {e1[3]} |",
        f"| 10× | {e10[1]:.2f} | {e10[2]} | {e10[3]} |",
        "",
        f"Factor **{(e10[1] / e1[1] if e1[1] else 0):.1f}×** (target "
        "≈ 1: the batch is persisted once and read three ways — "
        "table size never enters).",
        "",
        "### star MV: fact appends stay delta-scaled; a revised DEEP "
        "dim costs one filtered fact scan",
        "",
        "fact ⋈ d1 ⋈ d2 with d2 a dim-of-dim; fixed 500-row fact "
        "appends, then single-row d2 zone re-points (the mapping "
        "change that drains/fills whole groups):",
        "",
        "| scale | full build sec | fact-append refresh sec | "
        "deep-dim-revision refresh sec |",
        "|---|---|---|---|",
        f"| 1× | {s1r[1]:.2f} | {s1r[2]:.2f} | {s1r[3]:.2f} |",
        f"| 10× | {s10r[1]:.2f} | {s10r[2]:.2f} | {s10r[3]:.2f} |",
        "",
        f"Fact-append refresh factor "
        f"**{(s10r[2] / s1r[2] if s1r[2] else 0):.1f}×** (target ≈ 1 "
        "— ΔF broadcasts against the composed dim mappings); deep-dim "
        f"revision factor "
        f"**{(s10r[3] / s1r[3] if s1r[3] else 0):.1f}×** against a "
        "10× fact — Δ(M) is computed entirely over dims and F_old is "
        "read ONCE through the broadcast root-key filter, so at worst "
        "linear (one scan), with every exchange dim-sized.",
        "",
        "## r11/r12 CDC + replication surface at 10×",
        "",
        "### feed_changes_cdc: row classification is DELTA-sized",
        "",
        "After a fixed revision set (500-row append + bounded CoW "
        "update + bounded delete) on a table of either size, the "
        "classified change feed reads the revision's files — never "
        "the table — and its plan's exchange count is pinned "
        "identical (the classification window partitions by key over "
        "delta-sized input):",
        "",
        "| scale | classify+drain sec | files read / head files | "
        "shuffles |",
        "|---|---|---|---|",
        f"| 1× | {cdc_rows['cdc'][0][1]:.2f} | "
        f"{cdc_rows['cdc'][0][2]}/{cdc_rows['cdc'][0][3]} | "
        f"{cdc_rows['cdc'][0][4]} |",
        f"| 10× | {cdc_rows['cdc'][1][1]:.2f} | "
        f"{cdc_rows['cdc'][1][2]}/{cdc_rows['cdc'][1][3]} | "
        f"{cdc_rows['cdc'][1][4]} |",
        "",
        f"Factor **{(cdc_rows['cdc'][1][1] / cdc_rows['cdc'][0][1] if cdc_rows['cdc'][0][1] else 0):.1f}×** wall; "
        "exchange count "
        + ("IDENTICAL"
           if cdc_rows['cdc'][0][4] == cdc_rows['cdc'][1][4]
           else "**CHANGED ⚠**")
        + " at both scales.",
        "",
        "### replicate_to: the initial sync is data-sized BY DESIGN; "
        "every later sync is delta-sized",
        "",
        "| scale | initial full sync sec | incremental sync sec | "
        "replica files rewritten / total |",
        "|---|---|---|---|",
        f"| 1× | {cdc_rows['repl'][0][1]:.2f} | "
        f"{cdc_rows['repl'][0][2]:.2f} | "
        f"{cdc_rows['repl'][0][3]}/{cdc_rows['repl'][0][4]} |",
        f"| 10× | {cdc_rows['repl'][1][1]:.2f} | "
        f"{cdc_rows['repl'][1][2]:.2f} | "
        f"{cdc_rows['repl'][1][3]}/{cdc_rows['repl'][1][4]} |",
        "",
        f"Incremental-sync factor "
        f"**{(cdc_rows['repl'][1][2] / cdc_rows['repl'][0][2] if cdc_rows['repl'][0][2] else 0):.1f}×** "
        "(target ≈ 1: the feed delta is revision-sized and the "
        "target-side merge_clauses rewrite is cover-scoped through "
        "the replica's stats).",
        "",
        "### join-MV dim revision: the F_old scan is FILE-PRUNED on a "
        "join-key-clustered fact (r12)",
        "",
        "The r11-documented linear cost — F_old scanned once per dim "
        "revision — closed when the fact is clustered by join key: "
        "_pruned_f_old bounds the read through the commit log's "
        "per-file min/max before a byte moves. One revised dim key "
        "on a 32-file cat-clustered fact:",
        "",
        "| scale | dim-revision refresh sec | fact files opened / "
        "total |",
        "|---|---|---|",
        f"| 1× | {cdc_rows['dimprune'][0][1]:.2f} | "
        f"{cdc_rows['dimprune'][0][2]}/{cdc_rows['dimprune'][0][3]} |",
        f"| 10× | {cdc_rows['dimprune'][1][1]:.2f} | "
        f"{cdc_rows['dimprune'][1][2]}/{cdc_rows['dimprune'][1][3]} |",
        "",
        f"Opened-file fraction "
        f"{cdc_rows['dimprune'][0][2]}/{cdc_rows['dimprune'][0][3]} → "
        f"{cdc_rows['dimprune'][1][2]}/{cdc_rows['dimprune'][1][3]} "
        f"at 10×; refresh factor "
        f"**{(cdc_rows['dimprune'][1][1] / cdc_rows['dimprune'][0][1] if cdc_rows['dimprune'][0][1] else 0):.1f}×** "
        "(target ≈ 1 — the opened set is key-cover-sized, not "
        "table-sized).",
        "",
        "## Column mapping + type widening (r12): metadata-only at "
        "any size",
        "",
        "rename_column / widen_column / drop_column are each ONE log "
        "write — zero data files opened or touched at either scale "
        "(a rewrite-based rename would be 10× slower at 10×); the "
        "pruned scan after the rename+widen keeps its opened-file "
        "count (stats stay keyed by the stable physical name); a "
        "fixed 500-row append under the new logical names stays "
        "batch-sized:",
        "",
        "| scale | rename sec | widen sec | drop sec | files touched "
        "/ total | pruned scan sec (files) | append sec |",
        "|---|---|---|---|---|---|---|",
        f"| 1× | {map_rows['meta'][0][1]:.3f} | "
        f"{map_rows['meta'][0][2]:.3f} | {map_rows['meta'][0][3]:.3f} | "
        f"{map_rows['meta'][0][4]}/{map_rows['meta'][0][5]} | "
        f"{map_rows['scan'][0][1]:.2f} ({map_rows['scan'][0][2]}/"
        f"{map_rows['scan'][0][3]}) | {map_rows['append'][0][1]:.2f} |",
        f"| 10× | {map_rows['meta'][1][1]:.3f} | "
        f"{map_rows['meta'][1][2]:.3f} | {map_rows['meta'][1][3]:.3f} | "
        f"{map_rows['meta'][1][4]}/{map_rows['meta'][1][5]} | "
        f"{map_rows['scan'][1][1]:.2f} ({map_rows['scan'][1][2]}/"
        f"{map_rows['scan'][1][3]}) | {map_rows['append'][1][1]:.2f} |",
        "",
        "Files touched by the three schema operations must be 0/0 at "
        "both scales"
        + (" — CONFIRMED."
           if map_rows['meta'][0][4] == map_rows['meta'][1][4] == 0
           else " — **VIOLATED ⚠**."),
    ]
    lines.append("")
    with open(out_md, "w") as f:
        f.write("\n".join(lines))
    print(f"# wrote {out_md}", file=sys.stderr)


if __name__ == "__main__":
    main()
