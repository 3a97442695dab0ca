"""Embedding similarity queries over `embeddings` (LLM-data ops)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from aws_data_pipeline_ads_spark.catalog import load_table
from aws_data_pipeline_ads_spark.operators import similarity
from aws_data_pipeline_ads_spark.queries.registry import query

_QV = similarity.fixed_query_vector()
_QV_SQL = "[" + ", ".join(repr(x) for x in _QV) + "]::DOUBLE[]"
_QNORM = repr(math.sqrt(sum(x * x for x in _QV)))

# Oracle computes the same sequential-fold arithmetic as the Spark
# builder: double dot products over the float32-exact values. Zero-norm
# vectors score NULL (matching cosine_scores' guard) — the unguarded
# 0/0 is NaN, which DuckDB sorts AHEAD of every real score in DESC
# order while Spark's NULL sorts last; the guard plus explicit NULLS
# LAST keeps both engines deterministic if a degenerate vector appears.
_KNN_ORACLE = (
    "WITH scored AS (SELECT vec_id, "
    "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
    "CAST(embedding AS DOUBLE[])) > 0 THEN "
    f"list_dot_product(CAST(embedding AS DOUBLE[]), {_QV_SQL}) / "
    f"(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) * {_QNORM}) "
    "ELSE NULL END AS raw_score FROM embeddings) "
    "SELECT vec_id, round(raw_score, 6) AS score FROM scored "
    "ORDER BY raw_score DESC NULLS LAST, vec_id LIMIT 10"
)

_NEARDUP_ORACLE = (
    "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb "
    "FROM embeddings) "
    "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
    "round(list_cosine_similarity(a.emb, b.emb), 6) AS score "
    "FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id "
    "WHERE list_cosine_similarity(a.emb, b.emb) >= 0.25"
)


@query(
    "q_embedding_knn",
    oracle=_KNN_ORACLE,
    bench=True,
    doc="2C similarity: brute-force cosine top-k vs a fixed query vector "
        "(TakeOrderedAndProject — linear scan, k-heap per partition)",
)
def q_embedding_knn(spark, sf_dir):
    return similarity.cosine_topk(load_table(spark, sf_dir, "embeddings"), _QV, 10)


@query(
    "q_embedding_neardup",
    oracle=_NEARDUP_ORACLE,
    doc="2C similarity: blocked pairwise cosine near-dup (label blocks); "
        "LSH variant is q_embedding_ann",
)
def q_embedding_neardup(spark, sf_dir):
    return similarity.cosine_neardup_pairs(load_table(spark, sf_dir, "embeddings"), 0.25)


# Materialized ANN indexes per sf_dir: bucket/list assignment is paid
# once at index-build time and every query serves from the pruned
# layout — the production serving shape (inline bucketing costs
# ~n_planes× the arithmetic of the brute scan it is meant to beat;
# measured 2.1s inline vs ~0.3s served at sf0.1). Same answers as the
# inline forms (pytest-pinned). Routing through queries.indexcache
# lets bench.py's per-query subprocess isolation share one build.
from aws_data_pipeline_ads_spark.queries.indexcache import index_path as _index_path


# q_embedding_ann promoted from rows-only to a FULL value-hash oracle
# (r10): "approximate" means approximate w.r.t. brute force, not
# nondeterministic — the hyperplanes are 6-dp literals
# (similarity.hyperplanes), the probe bucket is a Python-computed
# constant (lsh_probe_buckets), and the cosine arithmetic is the same
# sequential-fold double math the q_embedding_knn oracle already
# hash-matches. DuckDB recomputes the bucket assignment per vector and
# the bucket-filtered top-k exactly.
_PLANES_SQL = [
    "[" + ", ".join(repr(x) for x in h) + "]::DOUBLE[]"
    for h in similarity.hyperplanes(8)
]
_QBUCKET = similarity.lsh_probe_buckets(_QV, 8, 0)[0]
_ANN_ORACLE = (
    "WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, ("
    + " + ".join(
        f"CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {ps}) "
        f">= 0 THEN {1 << p} ELSE 0 END"
        for p, ps in enumerate(_PLANES_SQL)
    )
    + ") AS bucket FROM embeddings), "
    "scored AS (SELECT vec_id, "
    "CASE WHEN list_dot_product(emb, emb) > 0 THEN "
    f"list_dot_product(emb, {_QV_SQL}) / "
    f"(sqrt(list_dot_product(emb, emb)) * {_QNORM}) "
    f"ELSE NULL END AS raw_score FROM b WHERE bucket = {_QBUCKET}) "
    "SELECT vec_id, round(raw_score, 6) AS score FROM scored "
    "ORDER BY raw_score DESC NULLS LAST, vec_id LIMIT 10"
)


@query(
    "q_embedding_ann",
    oracle=_ANN_ORACLE,
    bench=True,
    doc="2C similarity scale path: random-hyperplane LSH served from a "
        "bucket-partitioned index (lsh_write, built once per corpus) — "
        "the probe prunes partitions at plan time instead of "
        "recomputing n_planes dot products per row per query. "
        "Hash-verified end-to-end: the oracle re-derives every "
        "vector's bucket from the same 6-dp plane literals and "
        "replays the bucket-filtered cosine top-k, so a wrong bucket "
        "assignment in the index, a wrong probe, or a scoring drift "
        "all fail the gate",
)
def q_embedding_ann(spark, sf_dir):
    idx = _index_path(
        "lsh", sf_dir,
        lambda p: similarity.lsh_write(load_table(spark, sf_dir, "embeddings"), p),
    )
    return similarity.lsh_topk_pruned(spark, idx, _QV, 10)


# ---------------------------------------------------------------------------
# Invariants oracles for the trained-quantizer tiers (r12 promotion,
# the q_embedding_pca / q_unigram_tok_vocab move): the codebooks are
# TRAINED per corpus, so a static SQL string cannot embed them — but
# the contracts that make a product quantizer a product quantizer are
# data-anchored and engine-replayable. Each tier returns ONE row:
#  * exact anchors DuckDB replays bit-for-bit (corpus size + the
#    decimal-exact sum of the brute-force top-10 scores — the same
#    sequential-fold cosine arithmetic q_embedding_knn already
#    hash-matches), anchoring the data read and scoring math;
#  * contract booleans computed over the DISTRIBUTED serving path:
#    recall@10 floor vs brute force (end-to-end quality — a broken
#    codebook, encoder or ADC table craters it), corpus-covering
#    shortlist == brute force row-for-row (the degenerate-exact
#    identity, rerank + join plumbing), the distributed encoder's
#    codes == an independent pure-Python argmin mirror on a bounded
#    deterministic sample, and ADC arithmetic cross-checks.
# The full recall/MSE battery stays pytest-pinned (test_scale_ops).
_ANN_ANCHOR_SQL = (
    "WITH scored AS (SELECT vec_id, "
    "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
    "CAST(embedding AS DOUBLE[])) > 0 THEN "
    f"list_dot_product(CAST(embedding AS DOUBLE[]), {_QV_SQL}) / "
    f"(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
    f"CAST(embedding AS DOUBLE[]))) * {_QNORM}) "
    "ELSE NULL END AS raw_score FROM embeddings), "
    "top AS (SELECT round(raw_score, 6) AS score FROM scored "
    "ORDER BY raw_score DESC NULLS LAST, vec_id LIMIT 10) "
)


def _ann_invariants_oracle(bools: list[str]) -> str:
    """n_vecs + brute_top_sum replayed exactly; booleans must all be
    TRUE on the Spark side for the hash to match."""
    return (
        _ANN_ANCHOR_SQL
        + "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) "
        "AS n_vecs, "
        "(SELECT CAST(SUM(CAST(score AS DECIMAL(38,12))) AS DOUBLE) "
        "FROM top) AS brute_top_sum, "
        + ", ".join(f"TRUE AS {b}" for b in bools)
    )


def _fold_dot(a, b) -> float:
    """Pure-Python mirror of functions.vec_dot's sequential left fold
    (same addend order → bitwise-equal doubles)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _unit_py(v) -> list[float]:
    """Mirror of similarity._unit_expr: greatest(sqrt(Σx²), 1e-30)."""
    acc = 0.0
    for x in v:
        acc = acc + x * x
    n = max(math.sqrt(acc), 1e-30)
    return [x / n for x in v]


def _pq_code_py(u: list[float], books) -> list[int]:
    """Mirror of similarity._pq_assign_expr: per subspace, the min-L2
    codeword with ties to the LARGEST index, distances as the same
    sequential fold."""
    ds = len(books[0][0])
    out = []
    for i, book in enumerate(books):
        sub = u[i * ds:(i + 1) * ds]
        best = None
        for idx, c in enumerate(book):
            d2 = 0.0
            for x, y in zip(sub, c):
                d2 = d2 + (x - y) * (x - y)
            key = (-d2, idx)
            if best is None or key > best:
                best = key
        out.append(best[1])
    return out


def _adc_py(codes: list[int], books, qv: list[float]) -> float:
    """Mirror of similarity.pq_scores: normalize q, per-subspace
    driver-side tables, sequential lookup sum."""
    qn = math.sqrt(sum(x * x for x in qv)) or 1e-30
    q = [x / qn for x in qv]
    ds = len(books[0][0])
    adc = 0.0
    for i, book in enumerate(books):
        qsub = q[i * ds:(i + 1) * ds]
        table = [sum(a * b for a, b in zip(qsub, c)) for c in book]
        adc = adc + table[codes[i]]
    return adc


_ANN_SAMPLE = 48  # bounded deterministic sample for the code mirrors


def _sample_vecs(emb) -> list:
    """First _ANN_SAMPLE vectors by vec_id — deterministic, bounded."""
    return (emb.select("vec_id",
                       F.col("embedding").cast("array<double>")
                       .alias("v"))
            .orderBy("vec_id").limit(_ANN_SAMPLE).collect())


def _recall_and_covering(served, brute, covering, floor: int):
    """served/brute/covering are collected top-k rows (vec_id, score).
    recall_ok: |served ∩ brute| ≥ floor. covering_exact_ok: the
    corpus-covering shortlist run equals brute force row-for-row."""
    recall_ok = len({r.vec_id for r in served}
                    & {r.vec_id for r in brute}) >= floor
    key = lambda r: r.vec_id                      # noqa: E731
    cov_ok = ([(r.vec_id, r.score) for r in sorted(covering, key=key)]
              == [(r.vec_id, r.score) for r in sorted(brute, key=key)])
    return recall_ok, cov_ok


def _ann_row(emb, n_vecs: int, bools: dict):
    """Assemble the one-row invariants result: distributed decimal-
    exact brute-top-sum anchor + the contract booleans as literals
    (collected checks, same bounded-driver posture as q_embedding_pca)."""
    brute_sum = similarity.cosine_topk(emb, _QV, 10).agg(
        F.sum(F.col("score").cast("decimal(38,12)"))
        .cast("double").alias("brute_top_sum"))
    return brute_sum.select(
        F.lit(int(n_vecs)).cast("long").alias("n_vecs"),
        "brute_top_sum",
        *[F.lit(bool(v)).alias(k) for k, v in bools.items()])



# Trained centroids per sf_dir: IVF trains ONCE offline and serves many
# queries; training is deterministic (decimal sums, fixed iterations) so
# memoizing is purely an amortization, not a semantic change. The
# centroids ride along inside the ivf index dir (centroids.json) so
# serving processes that didn't train (bench subprocesses) reload the
# exact trained values instead of re-running Lloyd's.
_CENTROIDS: dict[str, list[list[float]]] = {}


def _ivf_index(spark, sf_dir: str) -> str:
    def build(p: str) -> None:
        import json

        cents = similarity.train_centroids(
            load_table(spark, sf_dir, "embeddings"), 16
        )
        similarity.ivf_write(load_table(spark, sf_dir, "embeddings"), cents, p)
        with open(f"{p}/_centroids.json", "w") as f:
            json.dump(cents, f)

    return _index_path("ivf", sf_dir, build)


def _trained_centroids(spark, sf_dir: str) -> list[list[float]]:
    if sf_dir not in _CENTROIDS:
        import json

        with open(f"{_ivf_index(spark, sf_dir)}/_centroids.json") as f:
            _CENTROIDS[sf_dir] = json.load(f)
    return _CENTROIDS[sf_dir]


@query(
    "q_embedding_ivf",
    oracle=None,  # approximate by construction → rows-only check
    bench=True,
    doc="2C similarity scale path: IVF served from the list_id-"
        "partitioned layout (ivf_write over 16 Lloyd-trained "
        "centroids, built once per corpus); the 4-list probe prunes "
        "unprobed inverted lists at the FILE level",
)
def q_embedding_ivf(spark, sf_dir):
    idx = _ivf_index(spark, sf_dir)
    cents = _trained_centroids(spark, sf_dir)
    return similarity.ivf_topk_pruned(spark, idx, _QV, cents, 10, n_probe=4)


@query(
    "q_embedding_ivf_check",
    # r12: the benched q_embedding_ivf serving plan stays rows-only
    # (its top-k depends on per-corpus trained centroids no static SQL
    # can embed) — this unbenched twin hash-gates its CONTRACTS at
    # driver time, the q_approx_distinct/_check split pattern. IVF
    # serves EXACT vectors from the probed lists, so unlike PQ the
    # within-probe identity is strict equality with no shortlist
    # caveat: served(4-probe) == cosine top-k restricted to the probed
    # lists, row for row.
    oracle=_ann_invariants_oracle(
        ["probe_exact_ok", "full_probe_exact_ok"]),
    doc="2C similarity: contract gate for the benched IVF serving "
        "tier — (1) the 4-probe served top-k equals the exact cosine "
        "top-k RESTRICTED to the probed lists row-for-row (list "
        "pruning is the ONLY approximation: assignment, partitioned "
        "read, probe order and scoring are all exact), and (2) the "
        "full-probe run equals global brute force (the "
        "q_embedding_ivf_full identity, re-pinned here beside the "
        "pruned contract); exact corpus anchors (n + decimal brute-"
        "top-10 sum) ride the same hash",
)
def q_embedding_ivf_check(spark, sf_dir):
    idx = _ivf_index(spark, sf_dir)
    cents = _trained_centroids(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    served = similarity.ivf_topk_pruned(
        spark, idx, _QV, cents, 10, n_probe=4).collect()
    brute = similarity.cosine_topk(emb, _QV, 10).collect()
    qnorm0 = math.sqrt(sum(x * x for x in _QV))
    order = sorted(
        range(len(cents)),
        key=lambda i: (
            -sum(a * b for a, b in zip(_QV, cents[i]))
            / (qnorm0 * math.sqrt(sum(x * x for x in cents[i]))),
            i))
    probed_ids = (spark.read.parquet(idx)
                  .where(F.col("list_id").isin(order[:4]))
                  .select("vec_id"))
    probe_brute = similarity.cosine_topk(
        emb.join(F.broadcast(probed_ids), "vec_id", "left_semi"),
        _QV, 10).collect()
    key = lambda r: r.vec_id                      # noqa: E731
    probe_exact = (
        [(r.vec_id, r.score) for r in sorted(served, key=key)]
        == [(r.vec_id, r.score) for r in sorted(probe_brute, key=key)])
    full = similarity.ivf_topk_pruned(
        spark, idx, _QV, cents, 10, n_probe=len(cents)).collect()
    full_exact = (
        [(r.vec_id, r.score) for r in sorted(full, key=key)]
        == [(r.vec_id, r.score) for r in sorted(brute, key=key)])
    return _ann_row(emb, n, {
        "probe_exact_ok": probe_exact,
        "full_probe_exact_ok": full_exact})


@query(
    "q_embedding_ivf_full",
    # n_probe = n_centroids reads every inverted list → exact brute
    # force, so the plain cosine-top-k SQL is an exact twin. This
    # hash-verifies the IVF SERVING machinery (centroid training,
    # list assignment, partitioned-index read, probe scoring) in the
    # driver window; the pruned 4-probe variant stays rows-only by
    # nature and is pytest-pinned against this one.
    oracle=_KNN_ORACLE,
    doc="2C similarity: IVF at full probe width (n_probe = K = 16) over "
        "the materialized list_id-partitioned index — degenerates to "
        "exact top-k, oracle-verifying the whole serving path",
)
def q_embedding_ivf_full(spark, sf_dir):
    idx = _ivf_index(spark, sf_dir)
    cents = _trained_centroids(spark, sf_dir)
    return similarity.ivf_topk_pruned(spark, idx, _QV, cents, 10, n_probe=16)


def _plane_sql(h: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in h) + "]::DOUBLE[]"


# Bucket id from literal hyperplanes — the same 8 sign bits the Spark
# side computes (similarity.lsh_bucket_ids), expressed in DuckDB SQL.
_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(emb, {_plane_sql(h)}) >= 0.0 "
    f"THEN {1 << p} ELSE 0 END)"
    for p, h in enumerate(similarity.hyperplanes(8))
)

_SEMDEDUP_ORACLE = (
    "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb "
    "FROM embeddings), "
    f"b AS (SELECT vec_id, label, emb, {_BUCKET_SQL} AS bucket FROM e) "
    "SELECT a.vec_id, a.label, a.bucket FROM b a "
    "WHERE NOT EXISTS (SELECT 1 FROM b c WHERE c.bucket = a.bucket "
    "AND c.vec_id < a.vec_id "
    "AND list_cosine_similarity(a.emb, c.emb) >= 0.25)"
)


@query(
    "q_semdedup",
    oracle=_SEMDEDUP_ORACLE,
    doc="LLM dedup tier: SemDeDup (cluster, then first-seen-wins drop "
        "of same-cluster cosine near-dups). LSH clustering keeps every "
        "step closed-form so the DuckDB oracle verifies bucket bits, "
        "cosine, and keep rule end-to-end; the k-means variant "
        "(semdedup_keep_kmeans) is pytest-pinned vs numpy.",
)
def q_semdedup(spark, sf_dir):
    return similarity.semdedup_keep(
        load_table(spark, sf_dir, "embeddings"), 0.25
    )


# SQ8: the quantization (max|x|/127 scale, half-up rounding) and the
# integer-cosine shortlist are bit-deterministic, so the oracle runs the
# IDENTICAL two-stage plan — quantize → integer-cosine shortlist →
# exact-cosine rerank — and the final rows match exactly.
_SQ8_ORACLE = (
    "WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, "
    "GREATEST(list_max(list_transform(CAST(embedding AS DOUBLE[]), "
    "x -> abs(x))), 1e-30) / 127.0 AS sc FROM embeddings), "
    "q AS (SELECT vec_id, emb, list_transform(emb, "
    "x -> CAST(floor(x / sc + 0.5) AS BIGINT)) AS qvec FROM s), "
    "qq AS (SELECT list_transform({qv}, "
    "x -> CAST(floor(x / (GREATEST(list_max(list_transform({qv}, "
    "y -> abs(y))), 1e-30) / 127.0) + 0.5) AS BIGINT)) AS v), "
    "short AS (SELECT vec_id, emb FROM q, qq "
    "ORDER BY CASE WHEN list_dot_product(qvec, qvec) > 0 THEN "
    "list_dot_product(qvec, qq.v) / "
    "(sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(qq.v, qq.v))) "
    "ELSE NULL END DESC NULLS LAST, vec_id LIMIT 40) "
    "SELECT vec_id, round(CASE WHEN list_dot_product(emb, emb) > 0 THEN "
    "list_dot_product(emb, {qv}) / "
    "(sqrt(list_dot_product(emb, emb)) * {qnorm}) ELSE NULL END, 6) AS score "
    "FROM short ORDER BY CASE WHEN list_dot_product(emb, emb) > 0 THEN "
    "list_dot_product(emb, {qv}) / "
    "(sqrt(list_dot_product(emb, emb)) * {qnorm}) ELSE NULL END "
    "DESC NULLS LAST, vec_id LIMIT 10"
).format(qv=_QV_SQL, qnorm=_QNORM)


@query(
    "q_embedding_sq8",
    oracle=_SQ8_ORACLE,
    doc="2C similarity quantized tier: per-vector symmetric int8 "
        "quantization (scales cancel out of cosine → pure integer "
        "shortlist scoring over a 4×-smaller scan) + exact-cosine "
        "rerank probing only shortlist_mult*k full-precision vectors "
        "(similarity.sq8_topk)",
)
def q_embedding_sq8(spark, sf_dir):
    return similarity.sq8_topk(load_table(spark, sf_dir, "embeddings"), _QV, 10)


_HARDNEG_ORACLE = (
    "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb "
    "FROM embeddings), "
    f"b AS (SELECT vec_id, label, emb, {_BUCKET_SQL} AS bucket FROM e), "
    "cands AS (SELECT a.vec_id AS anchor, a.label AS anchor_label, "
    "c.vec_id AS negative, "
    "round(list_cosine_similarity(a.emb, c.emb), 6) AS score "
    "FROM b a JOIN b c ON a.bucket = c.bucket AND a.label <> c.label) "
    "SELECT anchor, anchor_label, negative, score, CAST(rank AS INT) AS rank "
    "FROM (SELECT *, row_number() OVER (PARTITION BY anchor "
    "ORDER BY score DESC, negative) AS rank FROM cands) WHERE rank <= 3"
)


@query(
    "q_hard_negatives",
    oracle=_HARDNEG_ORACLE,
    doc="contrastive-training data op: per-anchor top-3 most-similar "
        "DIFFERENT-label vectors, blocked by LSH bucket (the quadratic "
        "is bounded per bucket; n_planes is the scale knob) — every "
        "step closed-form, oracle-verified end-to-end "
        "(similarity.hard_negative_pairs)",
)
def q_hard_negatives(spark, sf_dir):
    return similarity.hard_negative_pairs(
        load_table(spark, sf_dir, "embeddings"), 3
    )


_PQ_BOOKS: dict[str, list] = {}


def _pq_books(spark, sf_dir: str) -> list:
    """Codebooks per sf_dir (training is deterministic, so caching is a
    pure speedup — same bounded-collect posture as _trained_centroids).
    Persisted as books.json through the index cache so serving
    processes reload the trained values instead of retraining."""
    if sf_dir not in _PQ_BOOKS:
        import json

        def build(p: str) -> None:
            books = similarity.pq_train(load_table(spark, sf_dir, "embeddings"))
            with open(f"{p}/books.json", "w") as f:
                json.dump(books, f)

        with open(f"{_index_path('pqbooks', sf_dir, build)}/books.json") as f:
            _PQ_BOOKS[sf_dir] = json.load(f)
    return _PQ_BOOKS[sf_dir]


@query(
    "q_embedding_pq",
    # Promoted to an invariants hash oracle (r12, the q_embedding_pca
    # move — trained literals differ per sf_dir, so a static SQL
    # cannot replay the codes themselves; the CONTRACTS are replayed
    # instead, see _ann_invariants_oracle).
    oracle=_ann_invariants_oracle(
        ["recall_floor_ok", "covering_exact_ok", "codes_argmin_ok",
         "adc_tables_ok"]),
    doc="2C similarity scale path: product quantization (Jégou et al. "
        "2011) — m=8 subspace codebooks trained driver-side on a "
        "bounded deterministic sample, corpus encoded to 8-byte codes "
        "by pure codegen L2-argmin folds, queries scored via ADC "
        "table lookups (no vector math in the scan), exact-cosine "
        "rerank on the broadcast shortlist (similarity.pq_topk). "
        "Hash-gated since r12 on exact corpus anchors (n + decimal "
        "brute-top-10 score sum) plus the PQ contracts computed over "
        "the distributed path: recall@10 ≥ 0.6 vs brute force at a "
        "10%-of-corpus ADC shortlist (scale-normalized), "
        "corpus-covering shortlist == brute row-for-row, the codegen "
        "encoder's codes == a pure-Python argmin mirror on a bounded "
        "sample, and the ADC lookup sum == its mirror; full battery "
        "in tests/test_scale_ops.py",
)
def q_embedding_pq(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir)
    n = emb.count()
    # scale-normalized recall: a 10%-of-corpus ADC shortlist (a fixed
    # 4×k one is corpus-size-dependent — 40 candidates of 2000 at
    # sf0.1 legitimately recalls less than 40 of 500)
    served = similarity.pq_topk(
        emb, _QV, 10, books=books,
        shortlist_mult=max(4, -(-n // 100))).collect()
    brute = similarity.cosine_topk(emb, _QV, 10).collect()
    covering = similarity.pq_topk(
        emb, _QV, 10, books=books,
        shortlist_mult=n // 10 + 1).collect()
    recall_ok, cov_ok = _recall_and_covering(served, brute, covering, 6)
    sample = _sample_vecs(emb)
    ids = [r.vec_id for r in sample]
    exp = {r.vec_id: _pq_code_py(_unit_py(r.v), books) for r in sample}
    codes_df = similarity.pq_encode(emb, books)
    got = {r.vec_id: list(r.codes) for r in
           codes_df.where(F.col("vec_id").isin(ids)).collect()}
    codes_ok = all(got.get(i) == exp[i] for i in ids)
    got_adc = {r.vec_id: r.adc for r in
               similarity.pq_scores(codes_df, books, _QV)
               .where(F.col("vec_id").isin(ids)).collect()}
    adc_ok = all(
        abs(got_adc.get(i, float("inf")) - _adc_py(exp[i], books, _QV))
        < 1e-12 for i in ids)
    return _ann_row(emb, n, {
        "recall_floor_ok": recall_ok, "covering_exact_ok": cov_ok,
        "codes_argmin_ok": codes_ok, "adc_tables_ok": adc_ok})


def _pca_model(spark, sf_dir: str) -> dict:
    """16-component PCA model per corpus (exact full-corpus covariance;
    training is deterministic, so caching through the index cache is
    amortization — serving processes reload the trained json)."""
    import json

    from aws_data_pipeline_ads_spark.operators import pca

    def build(p: str) -> None:
        model = pca.pca_train(load_table(spark, sf_dir, "embeddings"), k=16)
        with open(f"{p}/model.json", "w") as f:
            json.dump(model, f)

    with open(f"{_index_path('pcamodel', sf_dir, build)}/model.json") as f:
        return json.load(f)


_PCA_K = 8


@query(
    "q_embedding_pca",
    # Promoted to an invariants hash oracle (r11, the
    # q_unigram_tok_vocab move): the eigendecomposition itself has no
    # SQL twin AND the trained literals differ per sf_dir (a static
    # oracle string cannot embed them), but the CONTRACTS that make a
    # PCA a PCA are data-anchored and engine-replayable —
    # * exact corpus moments (count, Σx, Σx² in decimal) anchor the
    #   data read on both engines;
    # * the projected-variance identity Σ‖proj‖²/n == Σ explainedⱼ
    #   ties the DISTRIBUTED projection (codegen fold over component
    #   literals) to the driver-side eigenvalues — a wrong component
    #   literal, a centering slip, or a covariance bug all break it;
    # * mean-zero projections pin the model mean to the data mean;
    # * orthonormality + descending explained pin the decomposition.
    # The full per-vector projection stays numpy-equality-pinned in
    # tests/test_pca.py.
    oracle=(
        "WITH flat AS (SELECT unnest(CAST(embedding AS DOUBLE[])) AS v "
        "FROM embeddings) "
        "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) "
        "AS n_vecs, "
        "CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS sum_val_all, "
        "CAST(SUM(CAST(v*v AS DECIMAL(38,6))) AS DOUBLE) AS sum_sq_all, "
        "TRUE AS mean0_ok, TRUE AS projvar_ok, "
        "TRUE AS orthonormal_ok, TRUE AS explained_desc_ok "
        "FROM flat"
    ),
    doc="2C similarity: distributed PCA — EXACT full-corpus covariance "
        "via one Arrow-batched scan (a partial Gram row per batch, "
        "componentwise-mergeable), driver-side eigh on the 64x64 "
        "matrix, sign-canonicalized components embedded as literals, "
        "projection as pure codegen aggregate dot products (zero "
        "Python, zero shuffle). The dim-reduction/whitening stage a "
        "vector lake runs before PQ/ANN (operators/pca.py). "
        "Hash-gated since r11 on exact corpus moments + the projected-"
        "variance≡eigenvalue identity computed over the distributed "
        "projection (see oracle comment); per-vector projections stay "
        "numpy-equality-pinned in tests/test_pca.py",
)
def q_embedding_pca(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import pca

    model = _pca_model(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    # exact data anchors, replayed by the oracle in the same decimal
    flat = emb.select(
        F.explode(F.col("embedding").cast("array<double>")).alias("v"))
    dec = "decimal(38,6)"
    anchors = flat.agg(
        (F.count("v") / F.lit(len(model["mean"])))
        .cast("long").alias("n_vecs"),
        F.sum(F.col("v").cast(dec)).cast("double").alias("sum_val_all"),
        F.sum((F.col("v") * F.col("v")).cast(dec))
        .cast("double").alias("sum_sq_all"))
    # distributed projection stats → the variance identity booleans
    proj = pca.pca_project(emb, model, k=_PCA_K, round_to=None)
    cols = [F.element_at("pca", j + 1).alias(f"p{j}")
            for j in range(_PCA_K)]
    pagg = proj.select(*cols).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"p{j}").alias(f"s{j}") for j in range(_PCA_K)],
        *[F.sum(F.col(f"p{j}") * F.col(f"p{j}")).alias(f"q{j}")
          for j in range(_PCA_K)])
    mean0 = None
    projvar = None
    for j in range(_PCA_K):
        m_ok = F.abs(F.col(f"s{j}") / F.col("n")) < 1e-4
        ev = float(model["explained"][j])
        v_ok = (F.abs(F.col(f"q{j}") / F.col("n") - F.lit(ev))
                < F.lit(max(1e-6 * max(ev, 0.0), 1e-9)))
        mean0 = m_ok if mean0 is None else (mean0 & m_ok)
        projvar = v_ok if projvar is None else (projvar & v_ok)
    # ONE bounded row (two booleans) — collected instead of
    # cross-joined so the declared plan stays free of nested-loop
    # joins (tests/test_plans.py gates those); same bounded-driver
    # posture as the model training itself
    crow = pagg.select(mean0.alias("mean0_ok"),
                       projvar.alias("projvar_ok")).collect()[0]
    # model-side contracts (bounded: k×d literals, checked driver-side)
    comps = model["components"]
    dots = [
        sum(a * b for a, b in zip(comps[i], comps[j]))
        for i in range(len(comps)) for j in range(i, len(comps))
    ]
    ortho = all(
        abs(d - (1.0 if i == j else 0.0)) < 1e-6
        for (i, j), d in zip(
            [(i, j) for i in range(len(comps))
             for j in range(i, len(comps))], dots)
    )
    desc = all(a >= b - 1e-12 for a, b in
               zip(model["explained"], model["explained"][1:]))
    return anchors.select(
        "n_vecs", "sum_val_all", "sum_sq_all",
        F.lit(bool(crow["mean0_ok"])).alias("mean0_ok"),
        F.lit(bool(crow["projvar_ok"])).alias("projvar_ok"),
        F.lit(bool(ortho)).alias("orthonormal_ok"),
        F.lit(bool(desc)).alias("explained_desc_ok"))


_IVFPQ_RES_BOOKS: dict = {}


def _ivfpq_res_books(spark, sf_dir: str) -> list:
    """RESIDUAL codebooks per sf_dir (trained on û − c[list], the
    FAISS IVFADC shape) — same cache posture as _pq_books."""
    if sf_dir not in _IVFPQ_RES_BOOKS:
        import json

        def build(p: str) -> None:
            books = similarity.ivfpq_train_residual(
                load_table(spark, sf_dir, "embeddings"),
                _trained_centroids(spark, sf_dir))
            with open(f"{p}/books.json", "w") as f:
                json.dump(books, f)

        with open(f"{_index_path('ivfpqresbooks', sf_dir, build)}"
                  f"/books.json") as f:
            _IVFPQ_RES_BOOKS[sf_dir] = json.load(f)
    return _IVFPQ_RES_BOOKS[sf_dir]


def _ivf_list_py(v: list[float], centroids) -> int:
    """Mirror of similarity._nearest_centroid_expr: max-cosine list,
    ties to the LARGEST index, zero norms scored -2."""
    acc = 0.0
    for x in v:
        acc = acc + x * x
    vn = math.sqrt(acc)
    best = None
    for i, c in enumerate(centroids):
        cn = math.sqrt(sum(x * x for x in c))
        s = _fold_dot(v, c) / (vn * cn) if vn * cn != 0 else -2.0
        key = (s, i)
        if best is None or key > best:
            best = key
    return best[1]


@query(
    "q_embedding_ivfpq",
    # Promoted to an invariants hash oracle (r12) — see q_embedding_pq.
    # Global recall is NOT pinned here: with 3/16 probed lists the
    # coarse quantizer legitimately misses global top-10 members on
    # this corpus (2-5/10 measured, scale-varying) — the honest IVF
    # contract is that pruning is the ONLY approximation: within the
    # probed lists, serving is exact (probe_exact_ok) and the ADC
    # shortlist finds the within-probe winners (probe_recall_ok,
    # measured 7-9/10 across scales, floor 6).
    oracle=_ann_invariants_oracle(
        ["probe_recall_ok", "probe_exact_ok", "covering_exact_ok",
         "codes_index_ok", "adc_decomp_ok"]),
    doc="2C similarity scale path: the FAISS IVFADC composite — PQ "
        "codes of the RESIDUAL û − c[list] partitioned by IVF list "
        "(ivfpq_write residual=True, built once per corpus; residual "
        "codebooks from ivfpq_train_residual reconstruct strictly "
        "better than raw-vector codes at equal m/n_codes). A 3-probe "
        "query reads 3/8 of the 8-byte-per-vector codes table at the "
        "file level and ranks by dot(q̂,c[list]) — a K-entry literal "
        "lookup on the partition column — plus m residual-table ADC "
        "lookups (zero vector math in the scan); exact-cosine reranks "
        "the broadcast shortlist (similarity.ivfpq_topk). Hash-gated "
        "since r12 on exact corpus anchors plus: within-probe "
        "recall@10 ≥ 0.6 (the ADC shortlist finds the probed lists' "
        "true winners), probe-covering == probe-restricted brute "
        "row-for-row (pruning is the ONLY approximation), full-probe "
        "corpus-covering == global brute, the WRITTEN index's "
        "(list_id, codes) == a pure-Python assignment+argmin mirror "
        "on a bounded sample, and — distributed over every code row — "
        "the serving ADC decomposition dot(q̂,c[list]) + Σ "
        "table[code] equals an independent explicit-reconstruction "
        "dot product; residual-MSE < raw-MSE stays pytest-pinned",
)
def q_embedding_ivfpq(spark, sf_dir):
    from aws_data_pipeline_ads_spark.functions import vec_dot
    from aws_data_pipeline_ads_spark.operators.similarity import (
        _centroid_mat_lit,
        _qv_col,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = _trained_centroids(spark, sf_dir)
    books = _ivfpq_res_books(spark, sf_dir)
    idx = _index_path(
        "ivfpq_res", sf_dir,
        lambda p: similarity.ivfpq_write(
            emb, centroids, books, p, residual=True
        ),
    )
    n = emb.count()
    served = similarity.ivfpq_topk(
        spark, idx, emb, _QV, centroids, 10, n_probe=3).collect()
    brute = similarity.cosine_topk(emb, _QV, 10).collect()
    covering = similarity.ivfpq_topk(
        spark, idx, emb, _QV, centroids, 10,
        n_probe=len(centroids), shortlist_mult=n // 10 + 1).collect()
    _, cov_ok = _recall_and_covering(served, brute, covering, 0)
    # within-probe contracts: replicate the probe order (the serving
    # path's own rule), restrict brute force to the probed lists
    qnorm0 = math.sqrt(sum(x * x for x in _QV))
    order = sorted(
        range(len(centroids)),
        key=lambda i: (
            -sum(a * b for a, b in zip(_QV, centroids[i]))
            / (qnorm0 * math.sqrt(sum(x * x for x in centroids[i]))),
            i))
    probe = order[:3]
    probed_ids = spark.read.parquet(f"{idx}/codes").where(
        F.col("list_id").isin(probe)).select("vec_id")
    probe_brute = similarity.cosine_topk(
        emb.join(F.broadcast(probed_ids), "vec_id", "left_semi"),
        _QV, 10).collect()
    probe_covering = similarity.ivfpq_topk(
        spark, idx, emb, _QV, centroids, 10, n_probe=3,
        shortlist_mult=n // 10 + 1).collect()
    probe_recall_ok, probe_exact_ok = _recall_and_covering(
        served, probe_brute, probe_covering, 6)
    # the WRITTEN index vs the pure-Python mirror (bounded sample)
    sample = _sample_vecs(emb)
    ids = [r.vec_id for r in sample]
    exp = {}
    for r in sample:
        lst = _ivf_list_py(r.v, centroids)
        u = _unit_py(r.v)
        resid = [a - b for a, b in zip(u, centroids[lst])]
        exp[r.vec_id] = (lst, _pq_code_py(resid, books))
    codes_df = spark.read.parquet(f"{idx}/codes")
    got = {r.vec_id: (int(r.list_id), list(r.codes)) for r in
           codes_df.where(F.col("vec_id").isin(ids)).collect()}
    codes_ok = all(got.get(i) == exp[i] for i in ids)
    # distributed ADC decomposition cross-check over EVERY code row:
    # the serving path's literal-table arithmetic vs an independent
    # explicit reconstruction c[list] + decode(codes) — one agg
    qn = math.sqrt(sum(x * x for x in _QV)) or 1e-30
    qhat = [x / qn for x in _QV]
    consts = [sum(a * b for a, b in zip(qhat, c)) for c in centroids]
    ds = len(books[0][0])
    adc_tab = F.element_at(_qv_col(consts),
                           F.col("list_id").cast("int") + 1)
    adc_rec = vec_dot(_qv_col(qhat),
                      F.element_at(_centroid_mat_lit(centroids),
                                   F.col("list_id").cast("int") + 1))
    for i, book in enumerate(books):
        qsub = qhat[i * ds:(i + 1) * ds]
        table = [sum(a * b for a, b in zip(qsub, c)) for c in book]
        code_i = F.element_at("codes", i + 1).cast("int") + 1
        adc_tab = adc_tab + F.element_at(_qv_col(table), code_i)
        adc_rec = adc_rec + vec_dot(
            _qv_col(qsub), F.element_at(_centroid_mat_lit(book),
                                        code_i))
    drow = codes_df.agg(
        F.max(F.abs(adc_tab - adc_rec)).alias("mx")).collect()[0]
    adc_ok = (drow["mx"] or 0.0) < 1e-9
    return _ann_row(emb, n, {
        "probe_recall_ok": probe_recall_ok,
        "probe_exact_ok": probe_exact_ok,
        "covering_exact_ok": cov_ok,
        "codes_index_ok": codes_ok, "adc_decomp_ok": adc_ok})


def _opq_model(spark, sf_dir: str) -> dict:
    """Trained OPQ model per corpus (rotation + books json through the
    index cache — training is deterministic, reload beats retrain)."""
    import json

    def build(p: str) -> None:
        model = similarity.opq_train(load_table(spark, sf_dir, "embeddings"))
        with open(f"{p}/opq.json", "w") as f:
            json.dump(model, f)

    with open(f"{_index_path('opq', sf_dir, build)}/opq.json") as f:
        return json.load(f)


@query(
    "q_embedding_opq",
    # Promoted to an invariants hash oracle (r12) — see q_embedding_pq
    oracle=_ann_invariants_oracle(
        ["recall_floor_ok", "covering_exact_ok",
         "rotation_orthonormal_ok", "codes_argmin_ok",
         "adc_tables_ok"]),
    doc="2C similarity scale path: OPQ (Ge et al. 2013) — PCA-"
        "initialized rotation with eigenvalue allocation balancing "
        "variance across the m subspaces, refined by alternating "
        "Gauss-Seidel rounds (train books → Procrustes re-estimate) "
        "driver-side on the same bounded sample pq_train uses; corpus "
        "rotated by pure codegen dot products, ADC shortlist, exact "
        "rerank on ORIGINAL vectors (similarity.opq_topk). Hash-gated "
        "since r12 on exact corpus anchors plus: recall@10 ≥ 0.6 vs "
        "brute at a 10%-of-corpus ADC shortlist (scale-normalized), corpus-covering shortlist == brute row-for-row (the "
        "rotation-invariance identity — an orthonormal uncentered "
        "rotation preserves the exact rerank bit-for-bit), R·Rᵀ == I "
        "on the trained literals, rotated-space codes == a "
        "pure-Python rotate+argmin mirror on a bounded sample, and "
        "the rotated-query ADC sum == its mirror",
)
def q_embedding_opq(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import pca

    emb = load_table(spark, sf_dir, "embeddings")
    opq = _opq_model(spark, sf_dir)
    model, books = opq["rotation"], opq["books"]
    n = emb.count()
    # scale-normalized 10%-of-corpus shortlist (floor at OPQ's native
    # 8×k — see q_embedding_pq's recall note)
    served = similarity.opq_topk(
        emb, _QV, 10, opq=opq,
        shortlist_mult=max(8, -(-n // 100))).collect()
    brute = similarity.cosine_topk(emb, _QV, 10).collect()
    covering = similarity.opq_topk(
        emb, _QV, 10, opq=opq, shortlist_mult=n // 10 + 1).collect()
    recall_ok, cov_ok = _recall_and_covering(served, brute, covering, 6)
    comps = model["components"]
    ortho = all(
        abs(_fold_dot(comps[i], comps[j]) - (1.0 if i == j else 0.0))
        < 1e-6
        for i in range(len(comps)) for j in range(i, len(comps)))
    # rotated-space encoder vs the pure-Python mirror: rotation is
    # one sequential-fold dot per output dim (pca_project
    # center=False round_to=None), then unit-normalize + argmin
    sample = _sample_vecs(emb)
    ids = [r.vec_id for r in sample]
    rotq = similarity._rotate_vec(_QV, model)
    exp = {}
    for r in sample:
        rot = [_fold_dot(r.v, c) for c in comps]
        exp[r.vec_id] = _pq_code_py(_unit_py(rot), books)
    rotated = pca.pca_project(
        emb, model, k=len(comps), center=False, round_to=None,
        out_col="__rot").select(
        "vec_id", F.col("__rot").alias("embedding"))
    codes_df = similarity.pq_encode(rotated, books)
    got = {r.vec_id: list(r.codes) for r in
           codes_df.where(F.col("vec_id").isin(ids)).collect()}
    codes_ok = all(got.get(i) == exp[i] for i in ids)
    got_adc = {r.vec_id: r.adc for r in
               similarity.pq_scores(codes_df, books, rotq)
               .where(F.col("vec_id").isin(ids)).collect()}
    adc_ok = all(
        abs(got_adc.get(i, float("inf")) - _adc_py(exp[i], books, rotq))
        < 1e-12 for i in ids)
    return _ann_row(emb, n, {
        "recall_floor_ok": recall_ok, "covering_exact_ok": cov_ok,
        "rotation_orthonormal_ok": ortho, "codes_argmin_ok": codes_ok,
        "adc_tables_ok": adc_ok})
