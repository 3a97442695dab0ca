"""Skew-salting and bucketed co-located join tests: the operators whose
whole purpose is 100 TB behavior. Correctness is asserted against the
unsalted/unbucketed formulation; plan shape is asserted for the
shuffle-elimination claims."""

from __future__ import annotations

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from aws_data_pipeline_ads_spark import plans
from aws_data_pipeline_ads_spark.catalog import load_table
from aws_data_pipeline_ads_spark.operators import bucketing, skew


@pytest.fixture(scope="module")
def skewed_df(spark):
    """90% of rows share one key — the shape that melts a naive groupBy."""
    hot = spark.range(900).select(
        F.lit("hot").alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    cold = spark.range(100).select(
        F.concat(F.lit("c"), F.col("id") % 10).alias("k"),
        (F.col("id") % 5).cast("double").alias("v"),
    )
    return hot.unionAll(cold)


def test_salted_agg_matches_plain(spark, skewed_df):
    plain = {
        r.k: (r.n_rows, r.total)
        for r in skewed_df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("total"),
        )
        .collect()
    }
    salted = {
        r.k: (r.n_rows, r.total)
        for r in skew.salted_sum_count(skewed_df, ["k"], "v", n_salts=8).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark, skewed_df):
    dim = spark.createDataFrame(
        [Row(k="hot", tag="H")] + [Row(k=f"c{i}", tag=f"T{i}") for i in range(10)]
    )
    plain = sorted(
        (r.k, r.v, r.tag) for r in skewed_df.join(dim, ["k"], "inner").collect()
    )
    salted = sorted(
        (r.k, r.v, r.tag)
        for r in skew.salted_join(skewed_df, dim, ["k"], n_salts=8).collect()
    )
    assert salted == plain


def test_salted_left_join_preserves_unmatched(spark, skewed_df):
    dim = spark.createDataFrame([Row(k="hot", tag="H")])  # cold keys unmatched
    out = skew.salted_join(skewed_df, dim, ["k"], n_salts=4, how="left")
    assert out.count() == skewed_df.count()
    assert out.filter(F.col("tag").isNull()).count() == 100


def test_salt_spreads_hot_key(spark, skewed_df):
    n_buckets = (
        skew.with_salt(skewed_df, 8)
        .filter(F.col("k") == "hot")
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_buckets >= 4  # hot key's rows really spread across salts


def test_top_keys_finds_hot(spark, skewed_df):
    top = skew.top_keys(skewed_df, ["k"], 1).collect()
    assert top[0].k == "hot" and top[0].n_rows == 900


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path_factory):
    """Both sides bucketed by the join key → sort-merge join with zero
    shuffle exchanges; the write-time shuffle is amortized."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    bucketing.write_bucketed(orders, "b_orders", ["o_custkey"], 8)
    bucketing.write_bucketed(
        customer.withColumnRenamed("c_custkey", "o_custkey"),
        "b_customer", ["o_custkey"], 8,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketing.colocated_join(spark, "b_orders", "b_customer",
                                          ["o_custkey"])
        assert plans.count_shuffle_exchanges(joined) == 0
        assert plans.uses_sort_merge_or_shuffled_hash(joined)
        # same rows as the straight join
        plain = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
        assert joined.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_ivf_index_partition_pruning(spark, sf_dir, tmp_path):
    """ivf_write + ivf_topk_pruned: same answer as in-memory IVF, and
    the scan carries a PartitionFilters entry on list_id (unprobed
    inverted lists are never read from storage)."""
    from aws_data_pipeline_ads_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qv = similarity.fixed_query_vector()
    centroids = similarity.train_centroids(emb, 8)
    idx = str(tmp_path / "ivf")
    similarity.ivf_write(emb, centroids, idx)
    pruned = similarity.ivf_topk_pruned(spark, idx, qv, centroids, 10, n_probe=3)
    in_mem = similarity.ivf_topk(emb, qv, 10, centroids=centroids, n_probe=3)
    assert [(r.vec_id, r.score) for r in pruned.collect()] == [
        (r.vec_id, r.score) for r in in_mem.collect()
    ]
    fplan = plans.formatted_plan(pruned)
    assert "PartitionFilters" in fplan and "list_id" in fplan


def test_size_balanced_partitions(spark):
    """Byte-balanced repartitioning: small rows land in ≈target-byte
    buckets, oversized rows get dedicated partitions, nothing is lost,
    and the assignment is deterministic across re-runs."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from aws_data_pipeline_ads_spark.operators.partitioning import (
        size_balanced_partitions,
    )

    target = 10_000
    rows = [Row(doc_id=i, n_bytes=500 + (i * 37) % 900) for i in range(400)]
    rows += [Row(doc_id=1000 + j, n_bytes=25_000 + j) for j in range(3)]  # oversized
    df = spark.createDataFrame(rows)

    out = size_balanced_partitions(df, "doc_id", "n_bytes", target)
    got = out.select("doc_id", "n_bytes", "__bucket").collect()
    assert len(got) == len(rows)  # nothing dropped or duplicated
    assert len({r.doc_id for r in got}) == len(rows)

    by_bucket: dict[int, list] = {}
    for r in got:
        by_bucket.setdefault(r["__bucket"], []).append(r)
    # every oversized row is alone in its bucket
    for r in got:
        if r.n_bytes >= target:
            assert len(by_bucket[r["__bucket"]]) == 1
    # small buckets stay within a constant factor of target
    small_sums = [
        sum(x.n_bytes for x in v)
        for v in by_bucket.values()
        if all(x.n_bytes < target for x in v)
    ]
    assert max(small_sums) <= 3 * target  # hash-balance bound, not exact
    n_small_buckets = len(small_sums)
    expected = -(-sum(r.n_bytes for r in rows if r.n_bytes < target) // target)
    assert n_small_buckets <= expected  # bucket count sized from total bytes

    again = size_balanced_partitions(df, "doc_id", "n_bytes", target)
    assert sorted((r.doc_id, r["__bucket"]) for r in again.collect()) == \
        sorted((r.doc_id, r["__bucket"]) for r in got)

    # physical partitioning follows the bucket column
    n_parts = out.withColumn("pid", F.spark_partition_id()) \
        .select("__bucket", "pid").distinct()
    per_bucket = n_parts.groupBy("__bucket").count().collect()
    assert all(r['count'] == 1 for r in per_bucket)  # bucket never split


def test_fan_out_size_cap(spark, sf_dir):
    """fan_out widening is size-capped (r13): tiny inputs must not be
    sprayed across defaultParallelism tasks (Python-worker spawn burst,
    measured 2-4x cold loss at 32 cores), while inputs above
    cores*bytes_per_task widen to full parallelism unchanged."""
    from aws_data_pipeline_ads_spark.catalog import load_table
    from aws_data_pipeline_ads_spark.operators.partitioning import fan_out

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents")
    size = int(str(
        docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))

    # cap binds: a bytes_per_task above the input size caps the target
    # at 1 task, so widening is a no-op (same plan partitioning back)
    capped = fan_out(docs, "doc_id", bytes_per_task=size + 1)
    assert capped.rdd.getNumPartitions() == docs.rdd.getNumPartitions()

    # cap inert: bytes_per_task=1 -> cap >= size >> cores, so the
    # widening reaches full parallelism exactly as before the cap
    wide = fan_out(docs, "doc_id", bytes_per_task=1)
    assert wide.rdd.getNumPartitions() == max(
        par, docs.rdd.getNumPartitions())

    # intermediate: the target is exactly min(par, ceil(size/bytes_per_task))
    half = -(-size // ((size // max(2, min(par, 4))) or 1))
    mid = fan_out(docs, "doc_id",
                  bytes_per_task=(size // max(2, min(par, 4))) or 1)
    assert mid.rdd.getNumPartitions() == max(
        docs.rdd.getNumPartitions(), min(par, half))

    # an explicit min_tasks is a floor the size cap never lowers
    n = docs.rdd.getNumPartitions() + 2
    floor = fan_out(docs, "doc_id", min_tasks=n, bytes_per_task=size + 1)
    assert floor.rdd.getNumPartitions() == n

    # results are partitioning-invariant under the cap
    assert sorted(r.doc_id for r in capped.select("doc_id").collect()) == \
        sorted(r.doc_id for r in wide.select("doc_id").collect())


def test_interval_join_binned_equals_naive_and_no_nested_loop(spark):
    """Binned interval join == naive theta join, but plans as a hash/
    sort-merge equi-join instead of BroadcastNestedLoopJoin."""
    import datetime as dt

    from pyspark.sql import Row

    from aws_data_pipeline_ads_spark.operators import relational

    t0 = dt.datetime(2024, 1, 1)
    points = spark.createDataFrame(
        [Row(pid=i, ts=t0 + dt.timedelta(minutes=17 * i)) for i in range(60)]
    )
    intervals = spark.createDataFrame(
        [
            Row(iid=j, start=t0 + dt.timedelta(hours=j),
                end=t0 + dt.timedelta(hours=j, minutes=90))
            for j in range(12)
        ]
    )
    binned = relational.interval_join(points, "ts", intervals, "start", "end",
                                      bin_seconds=3600)
    naive = points.join(
        intervals,
        (points.ts >= intervals.start) & (points.ts < intervals.end),
    )
    got = sorted((r.pid, r.iid) for r in binned.collect())
    want = sorted((r.pid, r.iid) for r in naive.collect())
    assert got == want and len(got) > 0
    p = plans.physical_plan(binned)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert plans.uses_broadcast_join(binned) or plans.uses_sort_merge_or_shuffled_hash(binned)

    # how='left' keeps unmatched points null-extended (the range
    # predicate is part of the join condition, not a post-filter) and
    # matches the naive left theta join exactly.
    left_binned = relational.interval_join(points, "ts", intervals, "start",
                                           "end", bin_seconds=3600, how="left")
    left_naive = points.join(
        intervals,
        (points.ts >= intervals.start) & (points.ts < intervals.end),
        "left",
    )
    got_l = sorted((r.pid, r.iid) for r in left_binned.collect())
    want_l = sorted((r.pid, r.iid) for r in left_naive.collect())
    assert got_l == want_l
    assert any(iid is None for _, iid in got_l)  # unmatched points survive
    assert len(got_l) > len(got)

    # right/full would emit unmatched intervals once per exploded bin
    import pytest as _pytest
    with _pytest.raises(ValueError, match="inner.*left"):
        relational.interval_join(points, "ts", intervals, "start", "end",
                                 how="right")


def test_zorder_layout_prunes_on_both_dims(spark, tmp_path):
    """Z-order files cover compact boxes in BOTH dimensions: a filter on
    the NON-leading dimension touches a fraction of files, where an
    x-sorted layout must touch all of them."""
    from pyspark.sql import functions as F

    from aws_data_pipeline_ads_spark.operators.partitioning import zorder_write

    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    zpath = str(tmp_path / "zorder")
    xpath = str(tmp_path / "xsort")
    zorder_write(df, ["x", "y"], zpath, n_files=16)
    df.repartitionByRange(16, "x").write.mode("overwrite").parquet(xpath)

    def files_touched(path):
        got = (
            spark.read.parquet(path)
            .filter((F.col("y") >= 8) & (F.col("y") < 16))  # y-only box
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )
        return got

    z_files = files_touched(zpath)
    x_files = files_touched(xpath)
    assert x_files == 16  # x-sorted layout: every file holds all y values
    assert z_files <= 8, f"zorder should cluster y too, touched {z_files}"
    # same rows survive either layout
    assert spark.read.parquet(zpath).count() == n


def test_semdedup_kmeans_matches_numpy_reference(spark, sf_dir):
    """semdedup_keep_kmeans (ivf_assign clusters + first-seen-wins drop)
    == a direct numpy implementation of the same rule, row for row."""
    import numpy as np

    from aws_data_pipeline_ads_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = similarity.train_centroids(emb, 8)
    got = {
        (r.vec_id, r.cluster)
        for r in similarity.semdedup_keep_kmeans(emb, centroids, 0.25).collect()
    }

    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([list(map(float, r.embedding)) for r in rows])
    cents = np.array(centroids)
    cunit = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    munit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = munit @ cunit.T
    k = len(centroids)
    # ties to the LARGEST centroid index — same rule as ivf_assign
    assign = (k - 1) - np.argmax(sims[:, ::-1], axis=1)
    want = set()
    for cid in range(k):
        members = np.where(assign == cid)[0]  # vec_id-ascending
        m = munit[members] @ munit[members].T
        for j, row_idx in enumerate(members):
            if not (m[j, :j] >= 0.25).any():
                want.add((int(ids[row_idx]), cid))
    assert got == want and len(want) > 0


def test_semdedup_lsh_keep_is_prefix_closed(spark, sf_dir):
    """Every dropped vector has an EARLIER kept-or-dropped neighbor in
    its bucket; the first vector of every bucket is always kept."""
    from pyspark.sql import functions as F

    from aws_data_pipeline_ads_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kept = similarity.semdedup_keep(emb, 0.25)
    firsts = (
        similarity.lsh_bucket_ids(emb)
        .groupBy("bucket")
        .agg(F.min("vec_id").alias("vec_id"))
    )
    kept_ids = {r.vec_id for r in kept.collect()}
    assert {r.vec_id for r in firsts.collect()} <= kept_ids


def test_lsh_index_partition_pruning(spark, sf_dir, tmp_path):
    """lsh_write + lsh_topk_pruned: same answer as inline lsh_bucket_topk
    (with and without multi-probe), and the scan prunes on bucket."""
    from aws_data_pipeline_ads_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qv = similarity.fixed_query_vector()
    idx = str(tmp_path / "lsh")
    similarity.lsh_write(emb, idx)
    for mp in (0, 2):
        pruned = similarity.lsh_topk_pruned(spark, idx, qv, 10, multi_probe=mp)
        inline = similarity.lsh_bucket_topk(emb, qv, 10, multi_probe=mp)
        assert [(r.vec_id, r.score) for r in pruned.collect()] == [
            (r.vec_id, r.score) for r in inline.collect()
        ]
    fplan = plans.formatted_plan(similarity.lsh_topk_pruned(spark, idx, qv, 10))
    assert "PartitionFilters" in fplan and "bucket" in fplan


def test_sq8_quantized_tier(spark, sf_dir):
    """(a) the quantized index really is int8 (array<tinyint> — the 4×
    scan-bandwidth claim); (b) quantized values stay in [-127, 127];
    (c) the shortlist+rerank answer equals brute-force exact top-k at
    this corpus/query (quantization error < shortlist headroom)."""
    from pyspark.sql import functions as F

    from aws_data_pipeline_ads_spark.catalog import load_table
    from aws_data_pipeline_ads_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.sq8_quantize(emb)
    assert q.schema["qvec"].dataType.simpleString() == "array<tinyint>"
    bounds = q.select(
        F.min(F.array_min("qvec")).alias("lo"),
        F.max(F.array_max("qvec")).alias("hi"),
    ).collect()[0]
    assert -127 <= bounds.lo and bounds.hi <= 127
    qv = similarity.fixed_query_vector()
    got = [r.vec_id for r in similarity.sq8_topk(emb, qv, 10).collect()]
    exact = [r.vec_id for r in similarity.cosine_topk(emb, qv, 10).collect()]
    assert got == exact


def test_compaction_unpartitioned(spark, sf_dir, tmp_path):
    """40 tiny files → ~ideal file count; row multiset preserved; swap
    leaves no staging/trash residue."""
    import os

    from pyspark.sql import functions as F

    from aws_data_pipeline_ads_spark.catalog import load_table
    from aws_data_pipeline_ads_spark.operators import compaction

    path = str(tmp_path / "frag")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(40).write.parquet(path)

    def digest(p):
        df = spark.read.parquet(p)
        return df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
        ).collect()[0]

    before_digest = digest(path)
    target = 512 * 1024
    report = compaction.compact_files(spark, path, target_bytes=target)
    assert report["before"]["n_files"] == 40
    assert report["after"]["n_files"] < 40
    assert report["after"]["n_files"] <= report["before"]["ideal_files"] + 1
    assert digest(path) == before_digest
    assert report["after"]["total_bytes"] > 0
    assert not os.path.exists(path + ".compact-staging")
    assert not os.path.exists(path + ".pre-compact")


def test_compaction_partitioned_preserves_layout(spark, sf_dir, tmp_path):
    """Hive-partitioned table: partition dirs survive, per-dir file
    count shrinks toward its own ceil(bytes/target), rows preserved."""
    import os

    from pyspark.sql import functions as F

    from aws_data_pipeline_ads_spark.catalog import load_table
    from aws_data_pipeline_ads_spark.operators import compaction

    path = str(tmp_path / "fragp")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("long"))  # parquet-stable for the digest
    ev.repartition(12).write.partitionBy("event_type").parquet(path)

    def per_dir_counts(p):
        out = {}
        for d in os.listdir(p):
            if d.startswith("event_type="):
                out[d] = len([f for f in os.listdir(os.path.join(p, d))
                              if f.endswith(".parquet")])
        return out

    before_counts = per_dir_counts(path)
    assert all(n >= 10 for n in before_counts.values())
    n_before = spark.read.parquet(path).count()
    compaction.compact_files(spark, path, target_bytes=1 << 20,
                             partition_cols=("event_type",))
    after_counts = per_dir_counts(path)
    assert set(after_counts) == set(before_counts)  # same partition dirs
    assert all(n <= 3 for n in after_counts.values()), after_counts
    assert spark.read.parquet(path).count() == n_before


def test_corpus_shuffle_write_streams_permutation(spark, sf_dir, tmp_path):
    """Materialized shuffle: shard dirs hold position-ordered rows, the
    permutation is a bijection over the corpus, and re-running with the
    same salt reproduces it exactly (different salt ≠ same order)."""
    from pyspark.sql import functions as F

    from aws_data_pipeline_ads_spark.catalog import load_table
    from aws_data_pipeline_ads_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    path = str(tmp_path / "shuffled")
    sampling.corpus_shuffle_write(docs, path, "doc_id", n_shards=4)
    back = spark.read.parquet(path)
    n = docs.count()
    assert back.count() == n
    assert back.select("doc_id").distinct().count() == n  # bijection
    # within every shard file, physical row order == pos order
    for shard in range(4):
        rows = spark.read.parquet(f"{path}/shard={shard}").select("pos").collect()
        ps = [r.pos for r in rows]
        assert ps == sorted(ps) and ps[0] == 1 and ps[-1] == len(ps)
    # reproducibility + salt sensitivity
    a = sampling.corpus_shuffle(docs, "doc_id", 4).select("doc_id", "shard", "pos")
    b = sampling.corpus_shuffle(docs, "doc_id", 4).select("doc_id", "shard", "pos")
    assert a.exceptAll(b).count() == 0
    c = sampling.corpus_shuffle(docs, "doc_id", 4, salt="epoch1").select(
        "doc_id", "shard", "pos")
    assert c.exceptAll(a).count() > 0


# ---------------------------------------------------------------------------
# Broadcast bloom runtime prefilter (operators/bloom.py)
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_low_fp(spark):
    """Every build-side value passes the prefilter (bloom guarantee);
    disjoint probe values mostly don't (FP rate well under the ~1%
    design point at this load factor)."""
    from aws_data_pipeline_ads_spark.operators import bloom

    build = spark.range(2000).select(
        F.concat(F.lit("in-"), F.col("id")).alias("v"))
    words = bloom.bloom_words(build, "v")
    kept_in = bloom.bloom_prefilter(build, "v", words)
    assert kept_in.count() == 2000  # no false negatives, ever
    probe = spark.range(20000).select(
        F.concat(F.lit("out-"), F.col("id")).alias("v"))
    fp = bloom.bloom_prefilter(probe, "v", words).count()
    assert fp / 20000 < 0.01


def test_bloom_prefilter_is_broadcast_only(spark):
    """The k word-table joins are all broadcast — probing adds ZERO
    shuffles to the big side."""
    from aws_data_pipeline_ads_spark.operators import bloom

    build = spark.range(100).select(F.concat(F.lit("b"), F.col("id")).alias("v"))
    words = bloom.bloom_words(build, "v")
    probe = spark.range(1000).select(F.concat(F.lit("p"), F.col("id")).alias("v"))
    filtered = bloom.bloom_prefilter(probe, "v", words)
    plan = plans.physical_plan(filtered)
    assert plan.count("BroadcastHashJoin") >= 4
    assert not plans.uses_sort_merge_or_shuffled_hash(filtered)
    # the only exchange is the words-table aggregate, never the probe side
    assert plans.count_shuffle_exchanges(words) <= 1


def test_decontaminate_bloom_equals_exact(spark, sf_dir):
    """Bloom-prefiltered decontamination is bit-identical to the plain
    exact anti-join (false positives die in the verify join).

    The two results are compared as collected sorted lists (two
    independent actions), NOT as one combined exceptAll plan: weaving
    both lineages into a single plan trips a Spark 4.1.2 AQE
    exchange-reuse defect (wrong reuse across the union arms of
    exceptAll's rewrite) that returns one side as empty. Each
    implementation self-diffs clean (f.exceptAll(f') == 0) and the
    combined diff is exact with exchange reuse disabled —
    test_decontaminate_bloom_combined_diff pins that, and SCALE.md
    documents the hazard."""
    from aws_data_pipeline_ads_spark.operators import bloom, contamination

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 101 == 7)
    corpus = docs.filter(F.col("doc_id") % 101 != 7)
    fast = bloom.decontaminate_bloom(corpus, bench, k=5).select("doc_id")
    exact = contamination.decontaminate(corpus, bench, k=5).select("doc_id")
    fast_ids = sorted(r.doc_id for r in fast.collect())
    exact_ids = sorted(r.doc_id for r in exact.collect())
    assert len(fast_ids) > 0
    assert fast_ids == exact_ids


def test_decontaminate_bloom_combined_diff(spark, sf_dir):
    """The combined exceptAll diff of the two decontamination lineages
    is empty when exchange reuse is off — isolating the Spark AQE
    wrong-reuse defect documented in SCALE.md. If this test starts
    passing WITH reuse enabled (the third assert flips), the upstream
    bug is fixed and the sibling test can go back to exceptAll."""
    from aws_data_pipeline_ads_spark.operators import bloom, contamination

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 101 == 7)
    corpus = docs.filter(F.col("doc_id") % 101 != 7)
    fast = bloom.decontaminate_bloom(corpus, bench, k=5).select("doc_id")
    exact = contamination.decontaminate(corpus, bench, k=5).select("doc_id")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        assert fast.exceptAll(exact).count() == 0
        assert exact.exceptAll(fast).count() == 0
    finally:
        spark.conf.set("spark.sql.exchange.reuse", "true")


# ---------------------------------------------------------------------------
# Product quantization tier (similarity.pq_*)
# ---------------------------------------------------------------------------


def test_pq_codes_shape_and_determinism(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_train(emb)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    books2 = similarity.pq_train(emb)
    assert books == books2  # bounded-sample training is deterministic
    c1 = sorted(map(tuple, similarity.pq_encode(emb, books).collect()))
    c2 = sorted(map(tuple, similarity.pq_encode(emb, books).collect()))
    assert c1 == c2 and len(c1) == emb.count()
    codes = [list(r[1]) for r in c1]
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in codes)


def test_pq_topk_recall_and_degenerate_exact(spark, sf_dir):
    """ADC shortlist + exact rerank finds most true neighbors; a
    shortlist covering the corpus degenerates to exact brute force."""
    from aws_data_pipeline_ads_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qv = similarity.fixed_query_vector()
    brute = [r.vec_id for r in similarity.cosine_topk(emb, qv, 10).collect()]
    books = similarity.pq_train(emb)
    approx = [
        r.vec_id
        for r in similarity.pq_topk(emb, qv, 10, books=books).collect()
    ]
    recall = len(set(brute) & set(approx)) / 10
    assert recall >= 0.6, f"PQ recall {recall} too low"
    n = emb.count()
    full = similarity.pq_topk(
        emb, qv, 10, shortlist_mult=(n // 10) + 1, books=books
    ).collect()
    exact = similarity.cosine_topk(emb, qv, 10).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in exact]


def test_pq_served_equals_inline(spark, sf_dir, tmp_path):
    """pq_write → pq_topk_served is bit-identical to the inline PQ
    pipeline (the index stores the same codes pq_encode computes, and
    the rehydrated codebooks round-trip exactly)."""
    from aws_data_pipeline_ads_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qv = similarity.fixed_query_vector()
    books = similarity.pq_train(emb)
    idx = str(tmp_path / "pq")
    similarity.pq_write(emb, books, idx)
    assert similarity.pq_read_books(spark, idx) == books
    served = similarity.pq_topk_served(spark, idx, emb, qv, 10).collect()
    inline = similarity.pq_topk(emb, qv, 10, books=books).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in inline]
    assert len(served) == 10


def test_ivfpq_index_prunes_and_degenerates_to_pq(spark, sf_dir, tmp_path):
    """ivfpq_write + ivfpq_topk: full probe equals the flat PQ serving
    path (same codes, same codebooks), and a pruned probe carries a
    list_id PartitionFilter so unprobed lists are never read."""
    from aws_data_pipeline_ads_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qv = similarity.fixed_query_vector()
    centroids = similarity.train_centroids(emb, 8)
    books = similarity.pq_train(emb)
    idx = str(tmp_path / "ivfpq")
    similarity.ivfpq_write(emb, centroids, books, idx)
    full = similarity.ivfpq_topk(
        spark, idx, emb, qv, centroids, 10, n_probe=8
    ).collect()
    flat_idx = str(tmp_path / "pq")
    similarity.pq_write(emb, books, flat_idx)
    flat = similarity.pq_topk_served(spark, flat_idx, emb, qv, 10).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in flat]
    pruned = similarity.ivfpq_topk(spark, idx, emb, qv, centroids, 10, n_probe=3)
    fplan = plans.formatted_plan(pruned)
    assert "PartitionFilters" in fplan and "list_id" in fplan
    got = pruned.collect()
    brute = similarity.cosine_topk(emb, qv, 10).collect()
    recall = len({r.vec_id for r in got} & {r.vec_id for r in brute}) / 10
    assert recall >= 0.5


def test_ivfpq_layout_probe_refuses_unreadable_meta(spark, tmp_path):
    """Only a MISSING meta table means the raw-codes layout; an
    unreadable one raises instead of silently scoring a residual
    index as raw codes."""
    from aws_data_pipeline_ads_spark.operators import similarity

    assert similarity._ivfpq_is_residual(spark, str(tmp_path / "old")) \
        is False
    spark.createDataFrame([(True,)], "residual boolean").write.parquet(
        str(tmp_path / "res" / "meta"))
    assert similarity._ivfpq_is_residual(spark, str(tmp_path / "res"))
    bad = tmp_path / "bad" / "meta"
    bad.mkdir(parents=True)
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as exc:
        similarity._ivfpq_is_residual(spark, str(tmp_path / "bad"))
    assert "PATH_NOT_FOUND" not in str(exc.value)


def test_ivfpq_residual_encoding(spark, sf_dir, tmp_path):
    """The IVFADC residual layout (codes of û − c[list], r11):

    1. Quantization quality: residual codebooks reconstruct strictly
       better than raw-vector codebooks at EQUAL m/n_codes — the
       recall driver at scale, measured noise-free as reconstruction
       MSE over the whole corpus (top-10 recall on a 500-vector
       synthetic corpus is too granular to order two ~0.55-MSE codecs).
    2. Exactness anchor: a shortlist covering the corpus makes the
       exact rerank equal brute force bit-for-bit.
    3. The pruned probe still carries the list_id PartitionFilter and
       holds the recall floor of the raw layout.
    """
    import numpy as np

    from aws_data_pipeline_ads_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qv = similarity.fixed_query_vector()
    centroids = similarity.train_centroids(emb, 8)
    raw_books = similarity.pq_train(emb)
    res_books = similarity.ivfpq_train_residual(emb, centroids)

    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    x = np.array([list(r.embedding) for r in rows], dtype=float)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)
    raw_rec = similarity._pq_reconstruct_np(x, raw_books)
    assign = similarity._assign_np(x, centroids)
    cents = np.array(centroids)
    resid = x - cents[assign]
    res_rec = cents[assign] + similarity._pq_reconstruct_np(resid,
                                                            res_books)
    raw_mse = float(((x - raw_rec) ** 2).sum(1).mean())
    res_mse = float(((x - res_rec) ** 2).sum(1).mean())
    assert res_mse < raw_mse, (res_mse, raw_mse)

    idx = str(tmp_path / "ivfpq_res")
    similarity.ivfpq_write(emb, centroids, res_books, idx, residual=True)
    assert similarity._ivfpq_is_residual(spark, idx)
    n = emb.count()
    covering = similarity.ivfpq_topk(
        spark, idx, emb, qv, centroids, 10, n_probe=8,
        shortlist_mult=(n // 10) + 1).collect()
    exact = similarity.cosine_topk(emb, qv, 10).collect()
    assert [tuple(r) for r in covering] == [tuple(r) for r in exact]

    pruned = similarity.ivfpq_topk(spark, idx, emb, qv, centroids, 10,
                                   n_probe=3)
    fplan = plans.formatted_plan(pruned)
    assert "PartitionFilters" in fplan and "list_id" in fplan
    got = pruned.collect()
    recall = len({r.vec_id for r in got}
                 & {r.vec_id for r in exact}) / 10
    assert recall >= 0.5


def test_incremental_index_append_equals_rebuild(spark, sf_dir,
                                                 tmp_path):
    """Index maintenance without rebuilds (r11): build each serving
    index on HALF the corpus, append the other half, and assert the
    served top-k is bit-identical to a full rebuild with the same
    artifacts — for LSH, IVF, and residual IVF-PQ. Also: the pruned
    probe still carries its partition filter after the append (the
    appended files landed inside the partition dirs, not beside
    them)."""
    from aws_data_pipeline_ads_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    qv = similarity.fixed_query_vector()

    # LSH
    inc, full = str(tmp_path / "lsh_inc"), str(tmp_path / "lsh_full")
    similarity.lsh_write(half_a, inc)
    similarity.lsh_append(half_b, inc)
    similarity.lsh_write(emb, full)
    got = similarity.lsh_topk_pruned(spark, inc, qv, 10).collect()
    exp = similarity.lsh_topk_pruned(spark, full, qv, 10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]

    # IVF (frozen centroids trained on the FULL corpus for both)
    cents = similarity.train_centroids(emb, 8)
    inc, full = str(tmp_path / "ivf_inc"), str(tmp_path / "ivf_full")
    similarity.ivf_write(half_a, cents, inc)
    similarity.ivf_append(half_b, cents, inc)
    similarity.ivf_write(emb, cents, full)
    got = similarity.ivf_topk_pruned(spark, inc, qv, cents, 10,
                                     n_probe=3)
    fplan = plans.formatted_plan(got)
    assert "PartitionFilters" in fplan and "list_id" in fplan
    exp = similarity.ivf_topk_pruned(spark, full, qv, cents, 10,
                                     n_probe=3).collect()
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in exp]

    # residual IVF-PQ (frozen centroids + books)
    books = similarity.ivfpq_train_residual(emb, cents)
    inc = str(tmp_path / "ivfpq_inc")
    full = str(tmp_path / "ivfpq_full")
    similarity.ivfpq_write(half_a, cents, books, inc, residual=True)
    similarity.ivfpq_append(half_b, cents, books, inc)
    similarity.ivfpq_write(emb, cents, books, full, residual=True)
    got = similarity.ivfpq_topk(spark, inc, emb, qv, cents, 10,
                                n_probe=3).collect()
    exp = similarity.ivfpq_topk(spark, full, emb, qv, cents, 10,
                                n_probe=3).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]


def test_bloom_served_equals_inline(spark, sf_dir, tmp_path):
    """bloom_write → decontaminate_served is bit-identical to the
    self-contained decontaminate_bloom (same hash geometry rehydrated
    from the index meta)."""
    from aws_data_pipeline_ads_spark.operators import bloom
    from aws_data_pipeline_ads_spark.operators.dedup import doc_shingle_sets

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 101 == 7)
    corpus = docs.filter(F.col("doc_id") % 101 != 7)
    idx = str(tmp_path / "bloom")
    bench_sh = doc_shingle_sets(bench, k=5).select("tok").distinct()
    bloom.bloom_write(bench_sh, "tok", idx)
    served = sorted(
        r.doc_id for r in bloom.decontaminate_served(
            spark, idx, corpus, bench, k=5).select("doc_id").collect()
    )
    inline = sorted(
        r.doc_id for r in bloom.decontaminate_bloom(
            corpus, bench, k=5).select("doc_id").collect()
    )
    assert served == inline and len(served) > 0


def test_bloom_served_refuses_stale_benchmark(spark, sf_dir, tmp_path):
    """A filter built from a DIFFERENT benchmark shingle set must not
    serve: shingles the benchmark gained after bloom_write would be
    dropped by the prefilter before the exact verify join, silently
    keeping contaminated docs (a stale-subset filter breaks the
    no-false-negatives guarantee). The index meta carries a build-set
    fingerprint; decontaminate_served raises on mismatch."""
    import pytest

    from aws_data_pipeline_ads_spark.operators import bloom
    from aws_data_pipeline_ads_spark.operators.dedup import doc_shingle_sets

    docs = load_table(spark, sf_dir, "documents")
    stale_bench = docs.filter(F.col("doc_id") % 101 == 7)
    # The benchmark later GAINS documents (mod-13 widens the set).
    live_bench = docs.filter(
        (F.col("doc_id") % 101 == 7) | (F.col("doc_id") % 101 == 13)
    )
    corpus = docs.filter(F.col("doc_id") % 101 != 7)
    idx = str(tmp_path / "bloom_stale")
    stale_sh = doc_shingle_sets(stale_bench, k=5).select("tok").distinct()
    bloom.bloom_write(stale_sh, "tok", idx)
    with pytest.raises(ValueError, match="different benchmark"):
        bloom.decontaminate_served(spark, idx, corpus, live_bench, k=5)
    # The matching benchmark still serves.
    assert bloom.decontaminate_served(
        spark, idx, corpus, stale_bench, k=5).count() > 0


def test_pca_matches_numpy_full_decomposition(spark, sf_dir):
    """The distributed one-scan covariance + driver eigh must equal a
    plain numpy PCA over the collected corpus: same explained-variance
    ladder (descending), orthonormal sign-canonical components, and
    per-vector projections equal to 1e-5 (operator rounds to 6dp)."""
    import numpy as np

    from aws_data_pipeline_ads_spark.operators import pca

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca.pca_train(emb, k=8)
    comps = np.array(model["components"])
    # orthonormal, variance descending
    assert np.allclose(comps @ comps.T, np.eye(len(comps)), atol=1e-6)
    assert all(a >= b - 1e-12 for a, b in
               zip(model["explained"], model["explained"][1:]))
    # reference: numpy PCA on the collected vectors, same sign rule
    m = np.array([r.embedding for r in emb.select("embedding").collect()],
                 dtype=np.float64)
    cov = np.cov(m, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:8]
    for j, i in enumerate(order):
        v = vecs[:, i]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        assert np.allclose(comps[j], v, atol=1e-6), f"component {j}"
        assert model["explained"][j] == pytest.approx(float(vals[i]), abs=1e-9)
    # projections match numpy end-to-end
    got = {r.vec_id: np.array(r.pca) for r in
           pca.pca_project(emb, model, k=8).select("vec_id", "pca").collect()}
    want = (m - m.mean(axis=0)) @ comps.T
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    for row, vid in zip(want, ids):
        assert np.allclose(got[vid], row, atol=1e-5)


def test_cms_mergeable_and_overcount_only(spark, sf_dir):
    """The CMS grid is cell-wise mergeable (build on two disjoint
    halves, add cells → identical to one build over the union) and
    every estimate bounds the exact count from above — the properties
    the 100 TB shard-then-merge pattern relies on."""
    from aws_data_pipeline_ads_spark.operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    )
    full = {(r.seed, r.bucket): r.c
            for r in sketches.cms_build(tok, "tok").collect()}
    half_a = sketches.cms_build(tok.filter(F.col("doc_id") % 2 == 0), "tok")
    half_b = sketches.cms_build(tok.filter(F.col("doc_id") % 2 == 1), "tok")
    merged: dict = {}
    for r in half_a.collect() + half_b.collect():
        merged[(r.seed, r.bucket)] = merged.get((r.seed, r.bucket), 0) + r.c
    assert merged == full
    hh = sketches.cms_heavy_hitters(tok.select("tok"), "tok", k=50).collect()
    assert len(hh) > 0
    assert all(r.est_count >= r.exact_count for r in hh)


def test_opq_full_shortlist_exact_and_pruned_recall(spark, sf_dir):
    """OPQ (PCA-rotated PQ): the rotation is orthonormal and uncentered,
    so the exact-cosine rerank over a corpus-wide shortlist is
    bit-identical to brute force; the default pruned shortlist keeps
    recall@10 usable."""
    from aws_data_pipeline_ads_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qv = similarity.fixed_query_vector()
    opq = similarity.opq_train(emb)
    n = emb.count()
    full = similarity.opq_topk(emb, qv, 10, opq=opq,
                               shortlist_mult=n).collect()
    brute = similarity.cosine_topk(emb, qv, 10).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in brute]
    got = similarity.opq_topk(emb, qv, 10, opq=opq).collect()
    recall = len({r.vec_id for r in got} & {r.vec_id for r in brute}) / 10
    assert recall >= 0.5
    # determinism across invocations (training included)
    opq2 = similarity.opq_train(emb)
    assert opq2["books"] == opq["books"]
    assert opq2["rotation"]["components"] == opq["rotation"]["components"]
