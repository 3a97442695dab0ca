"""Embedding similarity search over array<float> columns.

- cosine_scores / cosine_topk: brute-force cosine against a fixed query
  vector — entirely built-in higher-order functions (zip_with +
  aggregate fold), no Python in the loop, one narrow scan, and for
  top-k a TakeOrderedAndProject (no global sort).
- cosine_neardup_pairs: blocked pairwise cosine (exact).
- lsh_bucket_topk: the 100 TB path — random-hyperplane LSH bucketing
  so each query probes one bucket instead of the full corpus.
"""

from __future__ import annotations

import math

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_data_pipeline_ads_spark.functions import cosine_similarity, vec_dot, vec_norm

EMBED_DIM = 64


def fixed_query_vector(dim: int = EMBED_DIM) -> list[float]:
    """Deterministic literal query vector (shared with the SQL oracle)."""
    return [round(math.sin(i + 1.0), 6) for i in range(dim)]


def _qv_col(qv: list[float]):
    """array<double> literal built from ONE parsed expression string.

    F.array(*[F.lit(x) ...]) costs a py4j round-trip per element — for a
    64-dim vector times 16 centroids that was ~1s of DRIVER time per
    query build (measured), dwarfing the 0.3s of actual execution. A
    single expr() string is one round-trip; Spark's parser produces the
    identical correctly-rounded doubles (asserted in tests)."""
    return F.expr("array(" + ",".join(f"{float(x)!r}D" for x in qv) + ")")


def cosine_scores(embeddings: DataFrame, qv: list[float],
                  vec_col: str = "embedding") -> DataFrame:
    """Cosine similarity of every vector against the query vector.

    Zero-norm vectors (cosine undefined, 0/0→NaN — and NaN ORDERING
    differs across engines) score NULL instead: desc sorts place nulls
    last in both Spark and DuckDB, so degenerate rows rank behind every
    real score deterministically."""
    emb = F.col(vec_col).cast("array<double>")
    qnorm = math.sqrt(sum(x * x for x in qv))
    denom = vec_norm(emb) * F.lit(qnorm)
    score = F.when(denom != 0, vec_dot(emb, _qv_col(qv)) / denom)
    return embeddings.select("vec_id", score.alias("score"))


def cosine_topk(embeddings: DataFrame, qv: list[float], k: int = 10) -> DataFrame:
    """Brute-force top-k: ORDER BY score DESC + LIMIT k plans as
    TakeOrderedAndProject — each partition keeps a k-heap, driver merges
    k*numPartitions rows. Scales linearly in corpus size."""
    return (
        cosine_scores(embeddings, qv)
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("score", 6).alias("score"))
    )


def rrf_fuse(sparse: DataFrame, dense: DataFrame, k: int = 10,
             c: int = 60) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval result lists — the
    standard hybrid-search combiner (Cormack et al.: rrf = Σ 1/(c+r)
    over the lists a doc appears in, c=60).

    Inputs are already-truncated top-N lists (doc_id, score), one from
    a sparse scorer (BM25) and one from a dense scorer (cosine); each
    is re-ranked here by (score DESC, doc_id) so the rank — and
    therefore the fused score — is a deterministic function of the
    rounded scores, engine-reproducible. Docs on one list only get the
    single term.

    Scale shape: both inputs are k-bounded serving outputs (the heavy
    lifting — postings pruning, ANN probes — happened upstream), so
    the windows and the fusion run over ≤2N rows; this is a
    driver-scale fusion regardless of corpus size. The list merge is a
    union + per-doc max aggregation rather than a FULL OUTER join:
    doc_id is unique within each ranked list, so max-of-one-side-each
    is exactly the outer join's row set, for one hash exchange instead
    of the join's two sort exchanges (guide §2.4; full-outer cannot
    broadcast, so it would sort-merge even at ≤2N rows).
    """
    from pyspark.sql import Window as W

    def ranked(df: DataFrame, name: str) -> DataFrame:
        w = W.orderBy(F.desc("score"), F.asc("doc_id"))
        return df.select(
            "doc_id", F.row_number().over(w).cast("long").alias(name)
        )

    ua = ranked(sparse, "r").select(
        "doc_id", F.col("r").alias("sparse_rank"),
        F.lit(None).cast("long").alias("dense_rank"))
    ub = ranked(dense, "r").select(
        "doc_id", F.lit(None).cast("long").alias("sparse_rank"),
        F.col("r").alias("dense_rank"))
    f = ua.unionByName(ub).groupBy("doc_id").agg(
        F.max("sparse_rank").alias("sparse_rank"),
        F.max("dense_rank").alias("dense_rank"),
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(c) + F.col("sparse_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("dense_rank")), F.lit(0.0))
    return (
        f.select(
            "doc_id", "sparse_rank", "dense_rank",
            F.round(rrf, 6).alias("rrf_score"), rrf.alias("__raw"),
        )
        .orderBy(F.desc("__raw"), F.asc("doc_id"))
        .limit(k)
        .drop("__raw")
    )


def cosine_neardup_pairs(embeddings: DataFrame, threshold: float = 0.25) -> DataFrame:
    """Exact pairwise cosine within a blocking key (label).

    Blocking bounds the candidate space; at 100 TB replace `label` with
    an LSH bucket (see lsh_bucket_topk) and keep this as the verifier.
    """
    e = embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    a, b = e.alias("a"), e.alias("b")
    score = cosine_similarity(F.col("a.emb"), F.col("b.emb"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            score.alias("score"),
        )
        .filter(F.col("score") >= threshold)
        .select("vec_a", "vec_b", F.round("score", 6).alias("score"))
    )


def hyperplanes(n_planes: int, dim: int = EMBED_DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no RNG dependency)."""
    return [
        [round(math.sin(0.7 * p + 1.3 * i + 0.5), 6) for i in range(dim)]
        for p in range(n_planes)
    ]


def lsh_bucket_ids(embeddings: DataFrame, n_planes: int = 8,
                   vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) bucket id per vector.

    sign(v·h_p) per plane → n_planes-bit bucket. Vectors in the same
    bucket are cosine-close with high probability; ANN probes buckets
    instead of the corpus. Entirely codegen'd expressions.
    """
    emb = F.col(vec_col).cast("array<double>")
    bucket = F.lit(0).cast("long")
    for p, h in enumerate(hyperplanes(n_planes)):
        bit = F.when(vec_dot(emb, _qv_col(h)) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket + bit.cast("long")
    return embeddings.withColumn("bucket", bucket)


def lsh_bucket_topk(embeddings: DataFrame, qv: list[float], k: int = 10,
                    n_planes: int = 8, multi_probe: int = 0) -> DataFrame:
    """ANN top-k: score only vectors in the query's LSH bucket(s).

    `multi_probe` adds the buckets within Hamming distance 1 whose
    flipped hyperplane has the SMALLEST |q·h| margin — the planes the
    query sits closest to, i.e. the most likely to have split true
    neighbors away. multi_probe=m probes 1+m buckets: recall recovers
    toward brute force while still scanning ~(1+m)/2^n_planes of the
    corpus. This is the standard multi-probe LSH trade (probe more,
    hash less) and the 100 TB recall knob.
    """
    probes = lsh_probe_buckets(qv, n_planes, multi_probe)
    bucketed = lsh_bucket_ids(embeddings, n_planes)
    return (
        cosine_scores(bucketed.filter(F.col("bucket").isin(probes)), qv)
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("score", 6).alias("score"))
    )


def train_centroids(embeddings: DataFrame, n_centroids: int = 16,
                    vec_col: str = "embedding", n_iter: int = 4,
                    sample_per_centroid: int = 256) -> list[list[float]]:
    """Deterministic IVF training: seed centroids (first n_centroids
    vectors by vec_id) refined by `n_iter` fixed Lloyd's iterations over
    a deterministic SAMPLE of the corpus.

    Sampling is how production IVF trains (FAISS uses ~256 vectors per
    centroid): centroid quality converges long before the full corpus is
    seen, so training cost is O(K × sample) regardless of corpus size —
    the property that makes this viable at 100 TB. The sample is
    `vec_id % m == 0` with m chosen to yield ≈ n_centroids ×
    sample_per_centroid rows — reproducible across runs and partitions,
    unlike rand()-based sampling.

    Determinism: the sample is collected ORDERED by vec_id (fixed
    summation order), iterations are a fixed count, and assignment ties
    break to the largest centroid index — matching
    _nearest_centroid_expr's array_max tie-break on the serving side.
    Centroid components are rounded to 9 decimals. Empty lists keep
    their previous centroid.

    Scale: ONE bounded collect (the K × sample_per_centroid sample —
    ~2 MB at the defaults, broadcast-dim cost class) and the Lloyd's
    loop runs vectorized in numpy driver-side. The full corpus is never
    collected and never re-scanned per iteration; corpus-side work
    (assignment, serving) stays in Spark.
    """
    import numpy as np

    rows = (
        embeddings.select("vec_id", F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy("vec_id")
        .limit(n_centroids)
        .collect()
    )
    centroids = [list(r.v) for r in rows]
    if n_iter <= 0:
        return centroids
    target = n_centroids * sample_per_centroid
    n = embeddings.count()
    m = max(1, n // target)
    sample = np.array(
        [
            r.v
            for r in embeddings.filter(F.col("vec_id") % m == 0)
            .select("vec_id", F.col(vec_col).cast("array<double>").alias("v"))
            .orderBy("vec_id")
            .collect()
        ]
    )
    sample_unit = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    cents = np.array(centroids)
    k = len(centroids)
    for _ in range(n_iter):
        cunit = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        sims = sample_unit @ cunit.T
        # ties to the LARGEST index, matching the Spark-side expr
        assign = (k - 1) - np.argmax(sims[:, ::-1], axis=1)
        new = cents.copy()
        for i in range(k):
            members = sample[assign == i]
            if len(members):
                new[i] = np.round(members.mean(axis=0), 9)
        cents = new
    return [list(map(float, c)) for c in cents]


def _nearest_centroid_expr(emb, centroids: list[list[float]]):
    """Expression: index of the max-cosine centroid for `emb`.

    Builds a (score, idx) struct per centroid and takes array_max —
    struct comparison is lexicographic, so ties break to the LARGEST
    index; deterministic either way. K centroid dot products per row,
    all codegen'd.
    """
    cmat = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")" for c in centroids
        )
        + ")"
    )
    cnorms = _qv_col([math.sqrt(sum(x * x for x in c)) for c in centroids])
    # Zero-norm guard: a degenerate vector scores -2 (< any cosine) for
    # every centroid, so it lands deterministically in the largest-index
    # list instead of ANSI-erroring the whole assignment job.
    scored = F.transform(
        cmat,
        lambda c, i: F.struct(
            F.when(
                vec_norm(emb) * F.element_at(cnorms, i + 1) != 0,
                vec_dot(emb, c) / (vec_norm(emb) * F.element_at(cnorms, i + 1)),
            ).otherwise(F.lit(-2.0)).alias("s"),
            i.cast("int").alias("i"),
        ),
    )
    return F.array_max(scored)["i"]


def ivf_assign(embeddings: DataFrame, centroids: list[list[float]],
               vec_col: str = "embedding") -> DataFrame:
    """IVF list assignment: each vector gets the id of its nearest
    centroid (`list_id`). At 100 TB this is the partitioning key — write
    the corpus bucketed by list_id and ANN queries prune to n_probe
    buckets at scan time."""
    emb = F.col(vec_col).cast("array<double>")
    return embeddings.withColumn("list_id", _nearest_centroid_expr(emb, centroids))


def ivf_write(embeddings: DataFrame, centroids: list[list[float]],
              path: str, vec_col: str = "embedding") -> None:
    """Materialize the corpus as an IVF index: parquet partitioned by
    `list_id`. This is the 100 TB serving layout — each inverted list is
    a partition directory, so a query touching n_probe lists reads
    n_probe/K of the data at the FILE level (partition pruning), not
    post-scan.

    The repartition on the partition key before the write matters:
    without it every map task writes a file into every list directory
    (tasks × K small files — the dynamic-partition small-files
    anti-pattern); with it each list's rows converge on one task. At
    100 TB use repartition(n, "list_id") with n >> K so a big list
    spreads over several files."""
    ivf_assign(embeddings, centroids, vec_col).repartition("list_id").write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(path)


def ivf_topk_pruned(spark, path: str, qv: list[float],
                    centroids: list[list[float]], k: int = 10,
                    n_probe: int = 4) -> DataFrame:
    """ANN top-k over an ivf_write index: the list_id filter prunes
    partitions at planning time (verify: PartitionFilters in the scan),
    so unprobed lists are never read from storage."""
    qnorm = math.sqrt(sum(x * x for x in qv))
    order = sorted(
        range(len(centroids)),
        key=lambda i: (
            -sum(a * b for a, b in zip(qv, centroids[i]))
            / (qnorm * math.sqrt(sum(x * x for x in centroids[i]))),
            i,
        ),
    )
    probe = order[:n_probe]
    corpus = spark.read.parquet(path).filter(F.col("list_id").isin(probe))
    return (
        cosine_scores(corpus, qv)
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("score", 6).alias("score"))
    )


def ivf_topk(embeddings: DataFrame, qv: list[float], k: int = 10,
             centroids: list[list[float]] | None = None,
             n_centroids: int = 16, n_probe: int = 4) -> DataFrame:
    """IVF ANN top-k: probe only the n_probe inverted lists whose
    centroids are nearest the query.

    n_probe == n_centroids degenerates to exact brute force (the test
    anchor); smaller n_probe trades recall for a ~n_probe/n_centroids
    scan fraction. Centroid scoring happens driver-side over K floats;
    the corpus-side work is one codegen'd scan of the probed lists.
    """
    if centroids is None:
        centroids = train_centroids(embeddings, n_centroids)
    qnorm = math.sqrt(sum(x * x for x in qv))
    csims = sorted(
        range(len(centroids)),
        key=lambda i: (
            -sum(a * b for a, b in zip(qv, centroids[i]))
            / (qnorm * math.sqrt(sum(x * x for x in centroids[i]))),
            i,
        ),
    )
    probe = csims[:n_probe]
    assigned = ivf_assign(embeddings, centroids)
    return (
        cosine_scores(assigned.filter(F.col("list_id").isin(probe)), qv)
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("score", 6).alias("score"))
    )


def _drop_later_neighbors(clustered: DataFrame, cluster_col: str,
                          threshold: float) -> DataFrame:
    """Within each cluster, drop every vector that has an EARLIER
    (lower vec_id) vector at cosine >= threshold.

    The greedy first-seen-wins rule from SemDeDup (Abbas et al. 2023):
    deterministic, one self-join, no iteration. It can over-drop along
    similarity chains (a~b, b~c, a!~c drops both b and c) — when
    component-exact semantics matter, feed the pairs into
    graph.connected_components (the document near-dup path) instead.

    Plan shape: equi-join on the cluster id with the id-order and
    cosine predicates as residuals, anti side = survivors. Linear in
    sum(cluster_size^2) — the cluster granularity, not the corpus, is
    the knob that bounds the quadratic term.
    """
    a, c = clustered.alias("a"), clustered.alias("c")
    return a.join(
        c,
        (F.col(f"a.{cluster_col}") == F.col(f"c.{cluster_col}"))
        & (F.col("c.vec_id") < F.col("a.vec_id"))
        & (cosine_similarity(F.col("a.emb"), F.col("c.emb")) >= threshold),
        "left_anti",
    )


def semdedup_keep(embeddings: DataFrame, threshold: float = 0.25,
                  n_planes: int = 8, vec_col: str = "embedding") -> DataFrame:
    """SemDeDup with hyperplane-LSH clustering: cluster the corpus by
    8-bit random-hyperplane signature, keep only vectors with no
    earlier same-cluster neighbor at cosine >= threshold.

    The LSH clustering (vs the paper's k-means) keeps the whole
    operator closed-form — the hyperplanes are literals, so the exact
    same computation is expressible in ANSI SQL and the driver's DuckDB
    oracle verifies the full pipeline end-to-end (bucket bits, cosine,
    keep rule). semdedup_keep_kmeans is the paper-faithful variant.

    Scale: buckets shrink ~2x per added plane; raise n_planes with
    corpus size to hold sum(bucket^2) linear. One shuffle (the
    self-join exchange on bucket); the signature is pure codegen.
    """
    b = lsh_bucket_ids(embeddings, n_planes, vec_col).select(
        "vec_id", "label", "bucket",
        F.col(vec_col).cast("array<double>").alias("emb"),
    )
    return _drop_later_neighbors(b, "bucket", threshold).select(
        "vec_id", "label", "bucket"
    )


def semdedup_keep_kmeans(embeddings: DataFrame,
                         centroids: list[list[float]],
                         threshold: float = 0.25,
                         vec_col: str = "embedding") -> DataFrame:
    """Paper-faithful SemDeDup: k-means clusters (ivf_assign over
    Lloyd-trained centroids) + the same first-seen-wins keep rule.

    Not SQL-expressible (the centroids come from training), so the
    declared query uses the LSH variant; this one is pinned by pytest
    against a numpy reference at sf0.001.
    """
    b = ivf_assign(embeddings, centroids, vec_col).select(
        "vec_id", "label", F.col("list_id").alias("cluster"),
        F.col(vec_col).cast("array<double>").alias("emb"),
    )
    return _drop_later_neighbors(b, "cluster", threshold).select(
        "vec_id", "label", "cluster"
    )


def lsh_write(embeddings: DataFrame, path: str, n_planes: int = 8,
              vec_col: str = "embedding") -> None:
    """Materialize the corpus as an LSH index: parquet partitioned by
    `bucket`. Like ivf_write, this is the serving layout — bucket
    assignment (n_planes dot products per vector) is paid ONCE at
    index-build time, not once per query; a probe reads only its
    bucket's partition directories (file-level pruning). Repartition on
    bucket first — see ivf_write on the small-files anti-pattern."""
    lsh_bucket_ids(embeddings, n_planes, vec_col).repartition("bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(path)


def lsh_append(new_embeddings: DataFrame, path: str, n_planes: int = 8,
               vec_col: str = "embedding") -> None:
    """INCREMENTAL index maintenance: assign only the NEW vectors and
    append them into the existing bucket-partitioned layout (dynamic
    partition append — untouched buckets' files are never rewritten).
    The hyperplanes are a deterministic function of n_planes, so
    append-then-serve is BIT-IDENTICAL to a full rebuild
    (pytest-pinned) — the property that lets a 100 TB vector lake
    ingest continuously without rebuilding its index. Small-file
    accretion across many appends is the standard OPTIMIZE problem:
    compact per-bucket on the same cadence as any streaming table."""
    lsh_bucket_ids(new_embeddings, n_planes, vec_col).repartition(
        "bucket").write.mode("append").partitionBy("bucket").parquet(path)


def ivf_append(new_embeddings: DataFrame, centroids: list[list[float]],
               path: str, vec_col: str = "embedding") -> None:
    """INCREMENTAL IVF maintenance: assign new vectors against the
    index's ORIGINAL trained centroids (the FAISS posture — the coarse
    quantizer is frozen at train time; appended vectors land in the
    nearest existing list) and append into the list_id-partitioned
    layout. Identical serving results to a rebuild WITH THE SAME
    centroids (pytest-pinned). Distribution drift degrades recall
    gracefully, not correctness — retraining cadence is the policy
    knob, exactly as in production FAISS/Milvus deployments."""
    ivf_assign(new_embeddings, centroids, vec_col).repartition(
        "list_id").write.mode("append").partitionBy("list_id").parquet(path)


def ivfpq_append(new_embeddings: DataFrame,
                 centroids: list[list[float]],
                 books: list[list[list[float]]], path: str,
                 vec_col: str = "embedding") -> None:
    """INCREMENTAL IVF-PQ maintenance: encode only the new vectors
    with the index's frozen centroids + codebooks — residual or raw
    per the index's own meta table — and append their codes into the
    partitioned codes layout. Serving equals a same-artifact rebuild
    (pytest-pinned)."""
    spark = new_embeddings.sparkSession
    if _ivfpq_is_residual(spark, path):
        lst = _ivfpq_residual_codes(new_embeddings, centroids, books,
                                    vec_col)
    else:
        assigned = ivf_assign(new_embeddings, centroids,
                              vec_col).select("vec_id", "list_id")
        lst = pq_encode(new_embeddings, books, vec_col).join(assigned,
                                                             "vec_id")
    (lst.repartition("list_id").write.mode("append")
     .partitionBy("list_id").parquet(f"{path}/codes"))


def lsh_probe_buckets(qv: list[float], n_planes: int = 8,
                      multi_probe: int = 0) -> list[int]:
    """The query's bucket plus the `multi_probe` smallest-margin
    Hamming-1 neighbors — driver-side over n_planes floats."""
    margins = []
    qbucket = 0
    for p, h in enumerate(hyperplanes(n_planes)):
        dot = sum(a * b for a, b in zip(qv, h))
        if dot >= 0:
            qbucket |= 1 << p
        margins.append((abs(dot), p))
    probes = [qbucket]
    for _, p in sorted(margins)[:multi_probe]:
        probes.append(qbucket ^ (1 << p))
    return probes


def lsh_topk_pruned(spark, path: str, qv: list[float], k: int = 10,
                    n_planes: int = 8, multi_probe: int = 0) -> DataFrame:
    """ANN top-k over an lsh_write index: identical answers to
    lsh_bucket_topk (same buckets, same scores — pinned by pytest), but
    the bucket filter prunes PARTITIONS at planning time instead of
    recomputing n_planes dot products per row per query. This is the
    serving path: inline bucketing costs ~n_planes× the arithmetic of
    the brute scan it is supposed to beat."""
    probes = lsh_probe_buckets(qv, n_planes, multi_probe)
    corpus = spark.read.parquet(path).filter(F.col("bucket").isin(probes))
    return (
        cosine_scores(corpus, qv)
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.round("score", 6).alias("score"))
    )


# -- SQ8 scalar quantization -------------------------------------------------
#
# At 100 TB the brute-force scan is memory-bandwidth-bound: float32×64
# is 256 bytes/vector. Symmetric per-vector int8 quantization cuts the
# scanned index to 64 bytes/vector (+8 for the scale) — a 4× bandwidth
# win — and because cosine is scale-invariant the per-vector scales
# CANCEL in the quantized score, so scoring is pure integer arithmetic
# (exact, order-invariant, engine-identical). Accuracy is recovered by
# an exact-cosine rerank over a small shortlist: the full-precision
# vectors are probed only for shortlist_mult*k candidates (a broadcast
# semi join), never scanned.


def sq8_quantize(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5) ∈ [-127, 127] (half-up — deterministic
    and identical across engines, unlike banker's rounding helpers).
    Emits array<tinyint> — the 4×-smaller scan this tier exists for."""
    emb = F.col(vec_col).cast("array<double>")
    return (
        embeddings.withColumn(
            "__s",
            F.greatest(
                F.array_max(F.transform(emb, lambda x: F.abs(x))),
                F.lit(1e-30),
            ) / F.lit(127.0),
        )
        .select(
            "vec_id",
            F.transform(
                emb, lambda x: F.floor(x / F.col("__s") + F.lit(0.5)).cast("tinyint")
            ).alias("qvec"),
        )
    )


def quantize_vector(qv: list[float]) -> list[int]:
    """Driver-side twin of sq8_quantize for the query literal."""
    s = max(max(abs(x) for x in qv), 1e-30) / 127.0
    return [int(math.floor(x / s + 0.5)) for x in qv]


def _int_dot(a, b):
    """Integer dot product as a bigint fold (exact, order-invariant)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("bigint") * y.cast("bigint"))),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def sq8_scores(embeddings: DataFrame, qv: list[float]) -> DataFrame:
    """Quantized cosine: dot(qa, qq) / (|qa| |qq|) — the per-vector
    scales cancel, so the whole score is integer sums + one sqrt."""
    qq = quantize_vector(qv)
    qq_col = F.expr("array(" + ",".join(str(i) for i in qq) + ")")
    q = sq8_quantize(embeddings)
    dot = _int_dot(F.col("qvec"), qq_col)
    na = F.sqrt(_int_dot(F.col("qvec"), F.col("qvec")).cast("double"))
    nb = math.sqrt(sum(i * i for i in qq))
    denom = na * F.lit(nb)
    # zero-norm guard: same null-not-NaN rule as cosine_scores
    return q.select("vec_id", F.when(denom != 0, dot / denom).alias("qscore"))


def sq8_topk(embeddings: DataFrame, qv: list[float], k: int = 10,
             shortlist_mult: int = 4) -> DataFrame:
    """Quantized-scan shortlist + exact rerank.

    1. TakeOrdered shortlist_mult*k candidates by quantized cosine over
       the int8 index (the only full scan — 4× less bandwidth).
    2. Exact cosine ONLY for the shortlist: the candidate ids broadcast
       into a semi join against the full-precision table, so float
       vectors are probed, not scanned.
    Ties break on vec_id for determinism."""
    shortlist = (
        sq8_scores(embeddings, qv)
        .orderBy(F.desc("qscore"), F.asc("vec_id"))
        .limit(shortlist_mult * k)
        .select("vec_id")
    )
    probed = embeddings.join(F.broadcast(shortlist), "vec_id", "left_semi")
    return cosine_topk(probed, qv, k)


def hard_negative_pairs(embeddings: DataFrame, k: int = 3,
                        n_planes: int = 8) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k most-cosine-similar vectors with a DIFFERENT label — the
    "looks the same, isn't" pairs a metric-learning loss needs.

    All-pairs mining is quadratic; the LSH bucket is the blocking key
    (the semdedup argument: near vectors collide, so the hard negatives
    are in the anchor's bucket with high probability; raise n_planes
    with corpus size to hold sum(bucket²) linear). Equi self-join on
    the bucket with a label-mismatch residual, per-anchor top-k via a
    window over the candidate set — every step closed-form, so the
    DuckDB oracle verifies bucket bits, cosine, and ranking end-to-end.
    """
    from pyspark.sql import Window as W

    b = lsh_bucket_ids(embeddings, n_planes).select(
        "vec_id", "label", "bucket",
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    a, c = b.alias("a"), b.alias("c")
    score = cosine_similarity(F.col("a.emb"), F.col("c.emb"))
    cands = (
        a.join(c, (F.col("a.bucket") == F.col("c.bucket"))
               & (F.col("a.label") != F.col("c.label")))
        .select(
            F.col("a.vec_id").alias("anchor"),
            F.col("a.label").alias("anchor_label"),
            F.col("c.vec_id").alias("negative"),
            F.round(score, 6).alias("score"),
        )
    )
    w = W.partitionBy("anchor").orderBy(F.desc("score"), F.asc("negative"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor", "anchor_label", "negative", "score",
                F.col("rank").cast("int").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) tier: m-subspace codes + ADC shortlist
# ---------------------------------------------------------------------------


def pq_train(embeddings: DataFrame, m: int = 8, n_codes: int = 16,
             vec_col: str = "embedding", n_iter: int = 4,
             sample_per_code: int = 64) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks (Jégou et al. 2011): split the
    unit-normalized vector into `m` contiguous subspaces and run a
    fixed number of Lloyd's iterations per subspace with L2 metric.

    Same scale posture as train_centroids: ONE bounded, deterministic
    sample collect (`vec_id % step == 0`, ordered), all iterations
    vectorized in numpy driver-side, corpus never re-scanned. Codebook
    entries round to 9 decimals so the literal arrays the serving
    expressions embed are engine-exact. Returns codebooks[m][n_codes][d/m].
    """
    import numpy as np

    n = embeddings.count()
    step = max(1, n // (n_codes * sample_per_code))
    rows = (
        embeddings.filter(F.col("vec_id") % step == 0)
        .select("vec_id", F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy("vec_id")
        .collect()
    )
    sample = np.array([r.v for r in rows])
    norms = np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-30)
    sample = sample / norms
    if sample.shape[1] % m:
        raise ValueError(f"dim {sample.shape[1]} not divisible by m={m}")
    if len(sample) == 0:
        raise ValueError("pq_train: empty training sample")
    return _train_books_np(sample, m, n_codes, n_iter)


def _train_books_np(sample, m: int, n_codes: int,
                    n_iter: int = 4) -> list[list[list[float]]]:
    """Driver-side Lloyd's over an already-normalized numpy sample —
    the shared trainer behind pq_train and the OPQ alternating loop.
    Deterministic: first-rows seed, ties to the LARGEST index
    (mirroring _pq_assign_expr)."""
    import numpy as np

    d = sample.shape[1]
    ds = d // m
    # A sample smaller than the requested codebook can't seed n_codes
    # distinct centroids (tiny corpus, or a sparse vec_id domain where
    # `% step == 0` undersamples); clamp rather than index past the
    # seed rows — serving iterates the actual book length, so a
    # shorter codebook degrades recall gracefully instead of raising.
    k = min(n_codes, len(sample))
    books = []
    for i in range(m):
        sub = sample[:, i * ds:(i + 1) * ds]
        cents = sub[:k].copy()  # deterministic seed: first rows
        for _ in range(n_iter):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            # ties to the LARGEST index, matching _pq_assign_expr
            assign = (k - 1) - np.argmin(d2[:, ::-1], axis=1)
            for c in range(k):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append([[round(float(x), 9) for x in c] for c in cents])
    return books


def _pq_reconstruct_np(sample, books: list[list[list[float]]]):
    """Encode-then-decode a normalized numpy sample against the given
    codebooks (same tie rule as serving) — the OPQ loop's X̂."""
    import numpy as np

    m = len(books)
    d = sample.shape[1]
    ds = d // m
    out = np.empty_like(sample)
    for i, book in enumerate(books):
        cents = np.array(book)
        sub = sample[:, i * ds:(i + 1) * ds]
        d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = (len(cents) - 1) - np.argmin(d2[:, ::-1], axis=1)
        out[:, i * ds:(i + 1) * ds] = cents[assign]
    return out


def _unit_expr(emb):
    """Row-normalized copy of an array<double> column (zero-norm clamped)."""
    nrm = F.greatest(F.sqrt(vec_dot(emb, emb)), F.lit(1e-30))
    return F.transform(emb, lambda x: x / nrm)


def _pq_assign_expr(sub, book: list[list[float]]):
    """Index of the min-L2 codeword for a subvector — struct(−dist, idx)
    array_max, ties to the LARGEST index (train-side mirrored)."""
    entries = []
    for idx, c in enumerate(book):
        c_col = _qv_col(c)
        diff = F.zip_with(sub, c_col, lambda x, y: (x - y) * (x - y))
        d2 = F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v)
        entries.append(F.struct((-d2).alias("s"), F.lit(idx).alias("i")))
    return F.array_max(F.array(*entries)).getField("i").cast("tinyint")


def pq_encode(embeddings: DataFrame,
              books: list[list[list[float]]],
              vec_col: str = "embedding") -> DataFrame:
    """(vec_id, codes array<tinyint>): m bytes per vector — a 32×
    compression of a 64-dim float column. Pure codegen expressions
    (m × n_codes L2 folds per row), zero Python in the data path."""
    ds = len(books[0][0])
    emb = F.col(vec_col).cast("array<double>")
    unit = embeddings.select(
        "vec_id", _unit_expr(emb).alias("__u")
    )
    codes = [
        _pq_assign_expr(F.slice(F.col("__u"), i * ds + 1, ds), book)
        for i, book in enumerate(books)
    ]
    return unit.select("vec_id", F.array(*codes).alias("codes"))


def pq_scores(codes_df: DataFrame, books: list[list[list[float]]],
              qv: list[float]) -> DataFrame:
    """Asymmetric-distance (ADC) scores: per row, sum of m table
    lookups — the distance tables dot(q̂_sub, codeword) are computed
    driver-side once per query and embedded as literal arrays, so the
    scan does no vector math at all."""
    qn = math.sqrt(sum(x * x for x in qv)) or 1e-30
    q = [x / qn for x in qv]
    ds = len(books[0][0])
    adc = F.lit(0.0)
    for i, book in enumerate(books):
        qsub = q[i * ds:(i + 1) * ds]
        table = [sum(a * b for a, b in zip(qsub, c)) for c in book]
        lookup = F.element_at(
            _qv_col(table), F.element_at("codes", i + 1).cast("int") + 1
        )
        adc = adc + lookup
    return codes_df.select("vec_id", adc.alias("adc"))


def pq_topk(embeddings: DataFrame, qv: list[float], k: int = 10,
            m: int = 8, n_codes: int = 16, shortlist_mult: int = 4,
            books: list[list[list[float]]] | None = None) -> DataFrame:
    """PQ shortlist + exact rerank (the sq8_topk posture, 8× smaller
    scan than even int8): ADC TakeOrdered picks shortlist_mult*k
    candidates from the codes table; exact cosine probes only those
    via a broadcast semi join. Approximate by nature (recall < 1) —
    recall vs brute force is pytest-pinned; shortlist_mult covering
    the corpus degenerates to exact brute force."""
    if books is None:
        books = pq_train(embeddings, m=m, n_codes=n_codes)
    codes = pq_encode(embeddings, books)
    shortlist = (
        pq_scores(codes, books, qv)
        .orderBy(F.desc("adc"), F.asc("vec_id"))
        .limit(shortlist_mult * k)
        .select("vec_id")
    )
    probed = embeddings.join(F.broadcast(shortlist), "vec_id", "left_semi")
    return cosine_topk(probed, qv, k)


def pq_write(embeddings: DataFrame, books: list[list[list[float]]],
             path: str, vec_col: str = "embedding") -> None:
    """Materialize the PQ index: the 8-byte codes table plus the
    codebooks, self-contained under one path (the serving-index pattern
    of ivf_write/bm25_write — built once write-side, scanned by every
    query). The codes table is the ONLY corpus-sized artifact and it is
    32× smaller than the float column it encodes."""
    spark = embeddings.sparkSession
    pq_encode(embeddings, books, vec_col).write.mode("overwrite").parquet(
        f"{path}/codes"
    )
    rows = [
        (i, j, c)
        for i, book in enumerate(books)
        for j, c in enumerate(book)
    ]
    spark.createDataFrame(
        rows, schema="sub int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/books")


def pq_read_books(spark, path: str) -> list[list[list[float]]]:
    """Rehydrate codebooks from a pq_write index (bounded: m × n_codes
    rows)."""
    rows = spark.read.parquet(f"{path}/books").collect()
    m = max(r.sub for r in rows) + 1
    k = max(r.code for r in rows) + 1
    books: list[list[list[float]]] = [[None] * k for _ in range(m)]
    for r in rows:
        books[r.sub][r.code] = list(r.centroid)
    return books


def pq_topk_served(spark, path: str, embeddings: DataFrame,
                   qv: list[float], k: int = 10,
                   shortlist_mult: int = 4) -> DataFrame:
    """pq_topk over a materialized index: the ADC scan reads the codes
    parquet (no re-encode of the corpus per query); exact rerank probes
    the full-precision table for the broadcast shortlist only.
    Bit-identical to the inline operator given the same codebooks
    (pinned by test_pq_served_equals_inline)."""
    books = pq_read_books(spark, path)
    codes = spark.read.parquet(f"{path}/codes")
    shortlist = (
        pq_scores(codes, books, qv)
        .orderBy(F.desc("adc"), F.asc("vec_id"))
        .limit(shortlist_mult * k)
        .select("vec_id")
    )
    probed = embeddings.join(F.broadcast(shortlist), "vec_id", "left_semi")
    return cosine_topk(probed, qv, k)


def _assign_np(unit, centroids: list[list[float]]):
    """Numpy twin of _nearest_centroid_expr over ROW-NORMALIZED
    vectors: max-cosine assignment, ties to the LARGEST index, zero
    norms to the largest index (the -2 guard's destination)."""
    import numpy as np

    c = np.array(centroids)
    cn = np.maximum(np.linalg.norm(c, axis=1), 1e-30)
    scores = (unit @ c.T) / cn[None, :]
    k = len(centroids)
    return (k - 1) - np.argmax(scores[:, ::-1], axis=1)


def ivfpq_train_residual(embeddings: DataFrame,
                         centroids: list[list[float]], m: int = 8,
                         n_codes: int = 16, vec_col: str = "embedding",
                         sample_per_code: int = 64
                         ) -> list[list[list[float]]]:
    """Train PQ codebooks on IVF RESIDUALS û − c[assign(û)] — the
    FAISS IVFADC shape (Jégou et al. 2011 §IV-B). Residuals of a
    clustered corpus are far tighter per subspace than raw vectors
    (the coarse quantizer has already absorbed the between-list
    variance), so at equal m/n_codes the codes reconstruct better and
    recall strictly improves over raw-vector codes.

    One codebook set POOLED across lists (the FAISS default —
    per-list books would be K× the training and table-building cost
    for marginal gain). Same bounded deterministic sample rule and
    driver-side Lloyd's as pq_train; assignment mirrors
    _nearest_centroid_expr via _assign_np."""
    import numpy as np

    n = embeddings.count()
    step = max(1, n // (n_codes * sample_per_code))
    rows = (
        embeddings.filter(F.col("vec_id") % step == 0)
        .select("vec_id", F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy("vec_id")
        .collect()
    )
    if not rows:
        raise ValueError("ivfpq_train_residual: empty training sample")
    sample = np.array([r.v for r in rows])
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True),
                         1e-30)
    assign = _assign_np(sample, centroids)
    resid = sample - np.array(centroids)[assign]
    return _train_books_np(resid, m, n_codes)


def _centroid_mat_lit(centroids: list[list[float]]):
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
            for c in centroids
        )
        + ")"
    )


def _ivfpq_residual_codes(embeddings: DataFrame,
                          centroids: list[list[float]],
                          books: list[list[list[float]]],
                          vec_col: str) -> DataFrame:
    """(vec_id, list_id, codes): PQ codes of û − c[list_id]. Pure
    codegen — unit-normalize, one K-way centroid argmax, one literal
    matrix lookup, m × n_codes L2 folds; zero Python in the data
    path."""
    ds = len(books[0][0])
    emb = F.col(vec_col).cast("array<double>")
    base = embeddings.select(
        "vec_id", _unit_expr(emb).alias("__u"),
        _nearest_centroid_expr(emb, centroids).alias("list_id"))
    cvec = F.element_at(_centroid_mat_lit(centroids),
                        F.col("list_id") + 1)
    base = base.select(
        "vec_id", "list_id",
        F.zip_with("__u", cvec, lambda x, y: x - y).alias("__r"))
    codes = [
        _pq_assign_expr(F.slice(F.col("__r"), i * ds + 1, ds), book)
        for i, book in enumerate(books)
    ]
    return base.select("vec_id", "list_id", F.array(*codes).alias("codes"))


def ivfpq_write(embeddings: DataFrame, centroids: list[list[float]],
                books: list[list[list[float]]], path: str,
                vec_col: str = "embedding",
                residual: bool = False) -> None:
    """The FAISS-style composite index: PQ codes partitioned by IVF
    list. Storage per vector is m bytes of codes; a query touching
    n_probe lists reads n_probe/K of the codes table AT THE FILE LEVEL
    (partition pruning) and does zero vector math in the scan (ADC).
    The two training artifacts (coarse centroids, subspace codebooks)
    are the same bounded driver-side products used by the standalone
    IVF and PQ tiers.

    residual=True is the IVFADC layout: codes encode û − c[list]
    (books from ivfpq_train_residual), recorded in the index's meta
    table so serving picks the matching ADC decomposition. The raw
    layout remains for the degenerate flat-PQ-equivalence anchor."""
    if residual:
        lst = _ivfpq_residual_codes(embeddings, centroids, books,
                                    vec_col)
    else:
        assigned = ivf_assign(embeddings, centroids, vec_col).select(
            "vec_id", "list_id"
        )
        lst = pq_encode(embeddings, books, vec_col).join(assigned,
                                                         "vec_id")
    (
        lst.repartition("list_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(f"{path}/codes")
    )
    spark = embeddings.sparkSession
    spark.createDataFrame(
        [(i, j, c) for i, book in enumerate(books) for j, c in enumerate(book)],
        schema="sub int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/books")
    spark.createDataFrame(
        [(bool(residual),)], schema="residual boolean"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _ivfpq_is_residual(spark, path: str) -> bool:
    """Pre-meta indexes (raw codes) have no meta table. Only a MISSING
    meta means raw codes: any other read failure raises, or a residual
    index would be scored as raw codes and rank silently wrong."""
    try:
        meta = spark.read.parquet(f"{path}/meta")
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return False
    return bool(meta.collect()[0]["residual"])


def ivfpq_topk(spark, path: str, embeddings: DataFrame, qv: list[float],
               centroids: list[list[float]], k: int = 10,
               n_probe: int = 4, shortlist_mult: int = 4) -> DataFrame:
    """ANN top-k over an ivfpq_write index: probe the n_probe nearest
    lists (file-level pruning on list_id), rank candidates by ADC over
    their 8-byte codes, exact-cosine rerank on the broadcast shortlist.
    Raw layout: n_probe == K degenerates to pq_topk_served over the
    whole corpus (the test anchor).

    Residual layout (IVFADC): dot(q̂, û) = dot(q̂, c[list]) +
    dot(q̂, û − c[list]) — the first term is a K-entry literal lookup
    on the partition column, the second the usual m subspace table
    lookups with tables built from the RESIDUAL codebooks. Still zero
    vector math in the scan; the per-list constant keeps ADC ranks
    comparable ACROSS probed lists."""
    books = pq_read_books(spark, f"{path}")
    qnorm = math.sqrt(sum(x * x for x in qv))
    order = sorted(
        range(len(centroids)),
        key=lambda i: (
            -sum(a * b for a, b in zip(qv, centroids[i]))
            / (qnorm * math.sqrt(sum(x * x for x in centroids[i]))),
            i,
        ),
    )
    probe = order[:n_probe]
    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("list_id").isin(probe)
    )
    if _ivfpq_is_residual(spark, path):
        qn = qnorm or 1e-30
        qhat = [x / qn for x in qv]
        consts = [sum(a * b for a, b in zip(qhat, c)) for c in centroids]
        ds = len(books[0][0])
        adc = F.element_at(_qv_col(consts),
                           F.col("list_id").cast("int") + 1)
        for i, book in enumerate(books):
            qsub = qhat[i * ds:(i + 1) * ds]
            table = [sum(a * b for a, b in zip(qsub, c)) for c in book]
            adc = adc + F.element_at(
                _qv_col(table), F.element_at("codes", i + 1).cast("int") + 1
            )
        shortlist = (
            codes.select("vec_id", adc.alias("adc"))
            .orderBy(F.desc("adc"), F.asc("vec_id"))
            .limit(shortlist_mult * k)
            .select("vec_id")
        )
    else:
        shortlist = (
            pq_scores(codes, books, qv)
            .orderBy(F.desc("adc"), F.asc("vec_id"))
            .limit(shortlist_mult * k)
            .select("vec_id")
        )
    probed = embeddings.join(F.broadcast(shortlist), "vec_id", "left_semi")
    return cosine_topk(probed, qv, k)


# ---------------------------------------------------------------------------
# OPQ-style rotated product quantization (PCA-initialized)
# ---------------------------------------------------------------------------


def _eigenvalue_allocation(explained: list[float], m: int) -> list[int]:
    """Parametric OPQ's balanced subspace assignment (Ge et al. 2013
    §4, "eigenvalue allocation"): a raw PCA rotation piles nearly all
    the variance into the first subspaces, so their codebooks saturate
    while the tail subspaces quantize noise — exactly the recall
    collapse the naive PCA-then-PQ tier shows. Instead, walk the
    eigenvalues in descending order and greedily hand each dimension
    to the subspace whose current variance PRODUCT (sum of logs) is
    smallest among those not yet full. Deterministic (ties break on
    the lowest bucket index). Returns a permutation of range(d):
    position p of the output holds the ORIGINAL component index whose
    rotated coordinate should land in slot p, with subspace i owning
    slots [i*d/m, (i+1)*d/m)."""
    import math as _math

    d = len(explained)
    cap = d // m
    buckets: list[list[int]] = [[] for _ in range(m)]
    logsum = [0.0] * m
    for dim in range(d):  # explained[] is already variance-descending
        open_ = [i for i in range(m) if len(buckets[i]) < cap]
        tgt = min(open_, key=lambda i: (logsum[i], i))
        buckets[tgt].append(dim)
        logsum[tgt] += _math.log(max(explained[dim], 1e-12))
    return [dim for b in buckets for dim in b]


def opq_train(embeddings: DataFrame, m: int = 8, n_codes: int = 16,
              vec_col: str = "embedding", n_opt: int = 3,
              sample_per_code: int = 64) -> dict:
    """Train the rotated-PQ tier — full OPQ (Ge et al. 2013):

    1. **Init** — a full-d PCA rotation whose components are PERMUTED
       by eigenvalue allocation (§4 of the paper) so each of the m PQ
       subspaces receives a balanced share of the variance.
    2. **Alternating (Gauss-Seidel) refinement** — for n_opt rounds:
       rotate the sample, train codebooks, encode-decode to get the
       reconstruction X̂, then re-estimate the rotation as the
       orthogonal Procrustes solution R = UVᵀ of svd(XᵀX̂). Entirely
       driver-side over the SAME bounded deterministic sample pq_train
       uses (`vec_id % step == 0`, ordered) — the corpus is scanned
       once for the sample and never again during training.

    Every intermediate rotation is orthogonal (a permutation of an
    orthonormal basis, then Procrustes solutions), and it is applied
    UNCENTERED, so it preserves norms and dot products exactly — the
    final rerank can score ORIGINAL vectors and stay bit-identical to
    brute force over the shortlist. Deterministic end-to-end (no random
    init anywhere; numpy SVD of a fixed matrix).
    Returns {"rotation": model, "books": [...]} where model["components"]
    rows are the final rotation matrix (rounded to 9 decimals so the
    serving expressions embed engine-exact literals) and the books were
    trained against that rounded rotation."""
    import numpy as np

    from aws_data_pipeline_ads_spark.operators import pca

    row = embeddings.select(vec_col).first()
    if row is None:
        raise ValueError("opq_train: empty embedding table")
    d = len(row[0])
    model = pca.pca_train(embeddings, k=d, vec_col=vec_col)
    perm = _eigenvalue_allocation(model["explained"], m)
    rot = np.array([model["components"][i] for i in perm])  # rows = C
    # the same bounded deterministic sample rule as pq_train
    n = embeddings.count()
    step = max(1, n // (n_codes * sample_per_code))
    rows = (
        embeddings.filter(F.col("vec_id") % step == 0)
        .select("vec_id", F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy("vec_id")
        .collect()
    )
    x = np.array([r.v for r in rows])
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)
    for _ in range(n_opt):
        y = x @ rot.T
        books = _train_books_np(y, m, n_codes)
        recon = _pq_reconstruct_np(y, books)
        # orthogonal Procrustes: rotation R minimizing ||X R − X̂||_F
        u, _s, vt = np.linalg.svd(x.T @ recon)
        rot = (u @ vt).T  # rows = new C
    comps = [[round(float(w), 9) for w in r] for r in rot]
    # final books against the ROUNDED rotation — the exact literals the
    # serving projection embeds, so train and serve see the same space
    final_rot = np.array(comps)
    books = _train_books_np(x @ final_rot.T, m, n_codes)
    return {
        "rotation": {"mean": model["mean"], "components": comps,
                     "explained": [model["explained"][i] for i in perm]},
        "books": books,
    }


def _rotate_vec(qv: list[float], model: dict) -> list[float]:
    """Driver-side rotation of the query vector (tiny: d × d)."""
    return [
        sum(float(w) * float(x) for w, x in zip(c, qv))
        for c in model["components"]
    ]


def opq_topk(embeddings: DataFrame, qv: list[float], k: int = 10,
             opq: dict | None = None, shortlist_mult: int = 8,
             vec_col: str = "embedding") -> DataFrame:
    """ANN top-k via rotated PQ: rotate the corpus (pure codegen dot
    products), ADC-score the 8-byte codes against the ROTATED query,
    exact-cosine rerank the broadcast shortlist against the ORIGINAL
    vectors — rotation invariance makes the rerank arithmetic identical
    to brute force, so a full-width shortlist IS the exact answer
    (pytest anchor). Default shortlist is 8×k (vs pq_topk's 4×): ADC
    over 8-byte codes makes shortlist scoring nearly free, and the
    wider rerank buys the rotated tier recall headroom on corpora where
    the rotation's variance compaction misleads individual subspaces
    (recall@10 floor pytest-pinned)."""
    from aws_data_pipeline_ads_spark.operators import pca

    if opq is None:
        opq = opq_train(embeddings, vec_col=vec_col)
    model, books = opq["rotation"], opq["books"]
    rotated = pca.pca_project(
        embeddings, model, k=len(model["components"]), vec_col=vec_col,
        out_col="__rot", center=False, round_to=None,
    ).select("vec_id", F.col("__rot").alias(vec_col))
    codes = pq_encode(rotated, books, vec_col)
    shortlist = (
        pq_scores(codes, books, _rotate_vec(qv, model))
        .orderBy(F.desc("adc"), F.asc("vec_id"))
        .limit(shortlist_mult * k)
        .select("vec_id")
    )
    probed = embeddings.join(F.broadcast(shortlist), "vec_id", "left_semi")
    return cosine_topk(probed, qv, k)
