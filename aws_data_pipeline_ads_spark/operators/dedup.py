"""Deduplication operators for LLM training-data pipelines.

Four tiers, cheapest to richest (all shuffle-conscious):

1. exact_dedup            — hash-groupBy on a content hash. One shuffle.
2. latest_by_key          — keep newest record per key (window rank).
3. token_jaccard_pairs    — exact near-dup pairs via token-set Jaccard,
                            blocked to bound the candidate space.
4. minhash_lsh_pairs      — MinHash + banded LSH candidate pairs: the
                            100 TB path (candidates grow ~linearly, not
                            quadratically). Pure built-in expressions
                            (md5-derived base hash + min-agg), no Python
                            UDF, deterministic AND oracle-portable — the
                            DuckDB twins are generated alongside
                            (minhash_lsh_oracle_sql).

SimHash lives in simhash.py (shared SQL-template implementation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from aws_data_pipeline_ads_spark.functions import tokens

# Mersenne-ish prime and multiplier bounds chosen so every intermediate
# fits in a signed 64-bit int even under ANSI overflow checking:
# a < 2^29, h < 2^31  =>  a*h + b < 2^61.
_MH_PRIME = 2_147_483_647  # 2^31 - 1


def _perm_params(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) multipliers for the MinHash permutations."""
    rng_a, rng_b = 48_271, 16_807  # classic LCG multipliers, fixed seed
    params = []
    a, b = 1_234_567, 7_654_321
    for _ in range(n_hashes):
        a = (a * rng_a + 11) % (1 << 29)
        b = (b * rng_b + 7) % _MH_PRIME
        params.append((a or 1, b))
    return params


def exact_dedup(documents: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: canonical doc per content hash + copy count.

    Hashing BEFORE the shuffle means the exchange moves 32-byte keys,
    not document bodies — the difference between feasible and not at
    100 TB.
    """
    return (
        documents.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_doc"), F.count(F.lit(1)).alias("n_copies"))
    )


def latest_by_key(df: DataFrame, key: str, ts_col: str, tiebreak: str) -> DataFrame:
    """Latest-wins dedup: row_number over (key, ts desc, tiebreak desc) = 1."""
    w = W.partitionBy(key).orderBy(F.desc(ts_col), F.desc(tiebreak))
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


def doc_token_arrays(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, __toks) projection — the shared tokenization pass.

    Compositions that need both shingles (MinHash) and unigram sets
    (exact verify) tokenize ONCE through this projection and persist it,
    instead of re-scanning + re-splitting the corpus per arm.
    """
    return documents.select("doc_id", tokens(text_col).alias("__toks"))


def doc_shingle_sets(documents: DataFrame, k: int = 3, text_col: str = "text",
                     distinct: bool = True,
                     toked: DataFrame | None = None) -> DataFrame:
    """Explode documents into (doc_id, k-word-shingle) rows.

    Shingles (not unigrams) are the right MinHash feature: the shingle
    space is large, so signature collisions imply real textual overlap
    instead of shared vocabulary. Documents shorter than k tokens
    contribute their whole text as one shingle.

    `distinct=False` skips the dedup shuffle — correct for MIN-style
    consumers (MinHash is duplicate-insensitive), one whole shuffle
    cheaper at scale. `toked` feeds a pre-tokenized (doc_id, __toks)
    stream (doc_token_arrays) so compositions share one pass.
    """
    # Two-step projection: bind the token array to an attribute FIRST.
    # Inlining split() into the transform() lambda would re-tokenize the
    # document once per shingle index — O(tokens²) per doc.
    if toked is None:
        toked = doc_token_arrays(documents, text_col)
    t = F.col("__toks")
    shingles = F.when(
        F.size(t) < k, F.array(F.array_join(t, " "))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (k - 1)),
            lambda i: F.array_join(F.slice(t, i, k), " "),
        )
    )
    out = toked.select("doc_id", F.explode(shingles).alias("tok"))
    return out.distinct() if distinct else out


def token_jaccard_pairs(documents: DataFrame, threshold: float = 0.8,
                        max_df: int | None = None) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs, blocked by language.

    Per-doc distinct-token counts ride the self-join as payload columns
    (size of the array_distinct'd token array) — no counts aggregation,
    no post-join count lookups, and because array_distinct runs BEFORE
    the explode, rows are already unique per (doc_id, tok): no distinct
    shuffle either. Shape: token self-join + pair groupBy — down from 7
    shuffles in the join-counts formulation.

    `max_df` is the scale guard: the per-token candidate count is
    quadratic in document frequency, so one hot token ("the") makes the
    self-join partition quadratic at 100 TB. With max_df set, tokens
    appearing in more than max_df documents (per lang block) are dropped
    from BOTH the join stream and the per-doc set sizes — Jaccard over
    the df-capped vocabulary, the standard blocking trick. Rare tokens
    carry virtually all of the similarity signal, so results are
    unchanged wherever no token exceeds the cap (pytest pins this) and
    the join cost is bounded by max_df² per token everywhere. Leave None
    for exact semantics at modest scale, or prefilter with
    minhash_lsh_pairs and verify candidates only (verified_neardup_pairs).

    The array work is materialized in a projection BELOW the explode:
    putting size(array_distinct(...)) in the same projection as
    explode() leaves it in a Project above the Generate, where it
    re-runs per exploded token — O(len²) per doc (measured 5× slower).
    """
    if max_df is None:
        toks = documents.select(
            "doc_id", "lang",
            F.array_distinct(tokens("text")).alias("toks"),
        ).select(
            "doc_id", "lang",
            F.size("toks").cast("long").alias("n_toks"),
            F.explode("toks").alias("tok"),
        )
    else:
        base = documents.select(
            "doc_id", "lang",
            F.explode(F.array_distinct(tokens("text"))).alias("tok"),
        )
        rare = (
            base.groupBy("lang", "tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("lang", "tok")
        )
        kept = base.join(rare, ["lang", "tok"])
        # Set sizes must count the CAPPED vocabulary; a count window over
        # doc_id reuses one exchange instead of a groupBy + re-join.
        toks = kept.withColumn(
            "n_toks", F.count(F.lit(1)).over(W.partitionBy("doc_id")).cast("long")
        )
    a = toks.alias("a")
    b = toks.alias("b")
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.lang") == F.col("b.lang"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.max(F.col("a.n_toks")).alias("na"),  # constant per group
            F.max(F.col("b.n_toks")).alias("nb"),
        )
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def verified_neardup_pairs(documents: DataFrame, threshold: float = 0.8,
                           n_hashes: int = 16, bands: int = 4,
                           cand: DataFrame | None = None) -> DataFrame:
    """The production near-dup composition: MinHash-LSH candidate
    generation, then exact token-set Jaccard computed ONLY on candidate
    pairs.

    This is the 100 TB shape: all-pairs Jaccard is quadratic, but here
    the exact verification joins token sets against the (small) LSH
    candidate list — cost is O(corpus) for signatures + O(candidates ×
    doc_len) for verification. Output is exact-precision (every emitted
    pair truly ≥ threshold); recall is the LSH recall.

    `cand` overrides candidate generation — pass
    minhash_lsh_pairs_served(spark, idx) to source candidates from a
    minhash_write index, in which case this function touches the corpus
    only for the verify arm (tokenize once, no shingling/hashing).

    With inline candidates the corpus is tokenized ONCE: the (doc_id,
    token-array) projection is persisted and feeds both the MinHash
    shingle stream and the exact-verify unigram stream — without it the
    two arms each re-scan and re-split the full text (Spark does not
    materialize shared subplans). MEMORY_AND_DISK so oversized corpora
    spill instead of failing.
    """
    from aws_data_pipeline_ads_spark.operators.cache import persist_tracked

    if cand is None:
        toked = persist_tracked(doc_token_arrays(documents))
        cand = minhash_lsh_pairs(documents, n_hashes, bands, toked=toked)
    else:
        # still two consumers: toked feeds BOTH sides (ta/tb) of the
        # verify self-join — without the cache the corpus tokenizes twice.
        # (r13, measured negative: pruning toked to the candidate id set
        # with a pre-explode semi join — guide §3.2 — was A/B'd twice in
        # fresh-JVM children: steady 0.97→0.86 s but cold consistently
        # +1.5-4 s from the extra distinct/semi stages and their
        # first-run codegen; with the persist on cand it was worse
        # still. The verify join itself already drops non-candidates,
        # so the filter only narrows the exploded-token exchange, which
        # at this corpus size costs less than the stages that would
        # prune it. Left as-is.)
        toked = persist_tracked(doc_token_arrays(documents))
    # Same shape as token_jaccard_pairs: distinct-token count rides the
    # exploded rows as a payload column; array_distinct runs below the
    # explode (once per doc, see token_jaccard_pairs) and makes rows
    # unique per (doc_id, tok) with no distinct shuffle.
    toks = toked.select(
        "doc_id", F.array_distinct("__toks").alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_toks"),
        F.explode("toks").alias("tok"),
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"),
                     F.col("n_toks").alias("na"), "tok")
    tb = toks.select(F.col("doc_id").alias("doc_b"),
                     F.col("n_toks").alias("nb"), "tok")
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def line_dedup(documents: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", sep: str = r"\.\s+",
               joiner: str = ". ") -> DataFrame:
    """C4-style line-level exact dedup across the whole corpus.

    Splits every document into lines (here: sentences, split on
    period+whitespace), keeps each distinct normalized line only at its
    FIRST occurrence corpus-wide (min (doc_id, position)), and
    reassembles documents from their surviving lines — the C4 recipe
    ("three-sentence span" dedup) reduced to sentence granularity.

    Scale shape (guide §2.3/§8 — decide with small rows, never shuffle
    the payload):
    - Winner election runs on a SLIM projection (md5(line), doc_id, pos)
      — the min-struct agg is map-side combined and the shuffle moves
      32-byte hashes + two longs, never line text.
    - Surviving POSITIONS (ints) are aggregated per doc on the same slim
      stream; documents are reassembled by re-splitting the text at the
      base scan and selecting the kept positions as an array expression.
      Line text therefore never enters ANY exchange: the only join that
      touches the text column is documents ⋈ (doc_id, pos-array), whose
      slim side broadcasts locally and at worst shuffles ints at scale
      (the old shape shuffled the exploded line text twice — once
      through the winner semi join, once through the collect_list
      reassembly).

    Returns (doc_id, n_lines, n_kept, clean_text); docs whose every line
    was a duplicate come back with n_kept = 0 and clean_text = ''.
    """
    parts = F.transform(F.split(F.col(text_col), sep), lambda x: F.trim(x))
    slim = (
        documents.select(id_col, F.posexplode(parts).alias("pos", "line"))
        .filter(F.col("line") != "")
        .select(F.md5(F.lower("line")).alias("h"), id_col, "pos")
    )
    winners = (
        slim.groupBy("h")
        .agg(F.min(F.struct(id_col, "pos")).alias("w"))
        .select(F.col(f"w.{id_col}").alias(id_col), F.col("w.pos").alias("pos"))
    )
    kept_pos = winners.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_sort(F.collect_list("pos")).alias("__pos"),
    )
    # Per-doc line totals as an ARRAY expression on the base scan — the
    # exploded slim stream would otherwise be recomputed a third time
    # and aggregated through one more shuffle for a number the split
    # array already knows.
    n_lines = F.size(
        F.filter(parts, lambda x: x != F.lit(""))
    ).cast("long")
    # Reassembly: kept positions index straight into the re-split text
    # (positions are posexplode indices over the SAME array expression,
    # so `get` is exact); pos order == original line order.
    clean_text = F.array_join(
        F.transform(F.col("__pos"), lambda p: F.get(parts, p)), joiner
    )
    return (
        documents.join(kept_pos, id_col, "left")
        .select(
            id_col,
            n_lines.alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce(clean_text, F.lit("")).alias("clean_text"),
        )
    )


def span_dedup_stats(documents: DataFrame, span_tokens: int = 32,
                     stride: int = 16, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_dup_fraction: float = 0.5) -> DataFrame:
    """ExactSubstr-style span dedup scoring (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): slide a token window
    across every document, elect one corpus-wide winner per distinct
    span (min (doc_id, pos)), and score each document by the fraction
    of its spans that lost — the signal the paper's suffix-array pass
    produces, re-expressed as exploding windows + a winner election
    (the operator shape Spark can run at 100 TB; a suffix array over a
    distributed corpus cannot).

    Documents shorter than span_tokens contribute their whole text as
    one span, so every doc is scored. Spans overlap by
    span_tokens - stride tokens: overlap catches duplicated passages
    that straddle window boundaries.

    Scale shape (the line_dedup posture at window granularity):
    - Spans hash to md5 BELOW the explode — the winner-election shuffle
      moves (32-byte hash, id, pos), never span text.
    - The election min-struct agg is map-side combined; the loser count
      is a semi-join-free second aggregation on the same slim stream.
    - Per-doc span totals are an array expression on the base scan, not
      a second explode.

    Returns (doc_id, n_spans, n_dup_spans, dup_fraction, span_ok);
    dup_fraction rounds to 6 (hash canonicalization), the gate compares
    unrounded.
    """
    toked = documents.select(id_col, tokens(text_col).alias("__toks"))
    t = F.col("__toks")
    # window starts 1, 1+stride, ... with the full window in bounds;
    # short docs contribute their whole text as the single span 1
    last_i = F.floor(
        (F.size(t) - F.lit(span_tokens)).cast("double") / F.lit(stride)
    ).cast("int")
    starts = F.when(
        F.size(t) <= span_tokens, F.array(F.lit(1))
    ).otherwise(
        F.transform(F.sequence(F.lit(0), last_i), lambda i: i * stride + 1)
    )
    spans = toked.select(
        id_col,
        F.posexplode(
            F.transform(
                starts,
                lambda s: F.md5(F.array_join(F.slice(t, s, span_tokens), " ")),
            )
        ).alias("pos", "h"),
    )
    winners = (
        spans.groupBy("h")
        .agg(F.min(F.struct(id_col, "pos")).alias("w"))
        .select("h", F.col(f"w.{id_col}").alias("w_id"), F.col("w.pos").alias("w_pos"))
    )
    scored = (
        spans.join(winners, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(
                F.when(
                    (F.col("w_id") != F.col(id_col))
                    | (F.col("w_pos") != F.col("pos")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_dup_spans"),
        )
    )
    frac = F.col("n_dup_spans").cast("double") / F.col("n_spans")
    return scored.select(
        id_col,
        "n_spans",
        "n_dup_spans",
        F.round(frac, 6).alias("dup_fraction"),
        (frac <= max_dup_fraction).alias("span_ok"),
    )


def incremental_exact_dedup(new_docs: DataFrame, seen: DataFrame) -> DataFrame:
    """Incremental ingestion dedup: flag a NEW batch against the
    already-ingested corpus without touching corpus text — the
    append-only production shape (the corpus side is just its
    fingerprint table, e.g. the manifest of previous exact_dedup runs).

    Two flags per new doc:
      known_dup    — its content hash exists in `seen` (drop: the
                     corpus already has this text)
      batch_dup    — an earlier doc (min doc_id) in the SAME batch has
                     the same hash (drop: keep one per batch)
    keep = neither. Scale shape: the new batch hashes before any
    shuffle (md5 over text in the scan projection); the corpus join is
    a slim hash-to-hash left semi-style join (32-byte keys both sides,
    broadcast when the batch is small, AQE otherwise); within-batch
    election is one map-side-combined min-agg on the hash.

    seen: a DataFrame with a `content_hash` column (md5 hex).

    NULL text hashes as the empty string (md5(NULL) is NULL, and NULL
    keys silently fall out of every join — the doc would vanish from
    the output instead of being flagged); NULL-text docs therefore
    dedup against each other and against empty-text docs, the same
    NULL-as-'' posture as bm25_terms.
    """
    hashed = new_docs.select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("content_hash"),
    )
    seen_h = seen.select("content_hash").distinct().withColumn(
        "__known", F.lit(True)
    )
    first = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("__first_id")
    )
    return (
        hashed.join(seen_h, "content_hash", "left")
        .join(first, "content_hash")
        .select(
            "doc_id",
            "content_hash",
            F.coalesce("__known", F.lit(False)).alias("known_dup"),
            (F.col("doc_id") != F.col("__first_id")).alias("batch_dup"),
            (
                F.coalesce("__known", F.lit(False)).eqNullSafe(F.lit(False))
                & (F.col("doc_id") == F.col("__first_id"))
            ).alias("keep"),
        )
    )


def minhash_signatures(documents: DataFrame, n_hashes: int = 16,
                       shingle_k: int = 3,
                       toked: DataFrame | None = None) -> DataFrame:
    """MinHash signature per doc from distinct k-word shingles.

    h_i(s) = (a_i * base(s) + b_i) mod p; signature_i = min over
    shingles. The base hash is the first 32 bits of md5(shingle) mod p —
    md5 is the one hash both Spark and ANSI engines (the DuckDB oracle)
    compute identically, which is what lets the LSH pipeline be
    hash-verified instead of rows-only (same portability trick as
    simhash.py). All built-in expressions — the min-agg is partial
    (map-side combine), so the shuffle carries n_hashes longs per doc.
    MIN ignores duplicates, so the shingle explode skips its distinct
    shuffle entirely.
    """
    toks = doc_shingle_sets(documents, k=shingle_k, distinct=False, toked=toked)
    # Hash each shingle ONCE into a bound column; the 16 min-aggs then
    # apply cheap affine transforms of `h` instead of re-hashing 16×.
    base = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    hashed = toks.select("doc_id", F.pmod(base, F.lit(_MH_PRIME)).alias("h"))
    mins = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MH_PRIME))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_perm_params(n_hashes))
    ]
    return hashed.groupBy("doc_id").agg(*mins)


def minhash_lsh_pairs(documents: DataFrame, n_hashes: int = 16,
                      bands: int = 4,
                      toked: DataFrame | None = None) -> DataFrame:
    """Banded-LSH candidate pairs: docs sharing ≥1 band signature.

    Bucket join is an equi-join on (band, signature) — linear shuffle,
    candidates only within buckets. Returns distinct (doc_a, doc_b).

    All band signatures are computed in ONE pass over the signature
    aggregation and exploded to (doc_id, band, bsig) rows — a per-band
    union would re-run the whole explode→minhash pipeline once per band
    (Spark does not materialize shared subplans).

    The bucket table is persisted before the self-join: AQE typically
    broadcasts one side, and a BroadcastExchange cannot be reused by the
    streamed side — without the cache the entire shingle→hash→min-agg
    pipeline executes TWICE (measured, 2 scans in the executed plan).
    The cache is slim — (doc_id, band, 32-byte bsig) × bands rows per
    doc, a few hundred bytes/doc — and MEMORY_AND_DISK spills rather
    than fails on oversized corpora.
    """
    from aws_data_pipeline_ads_spark.operators.cache import persist_tracked

    sig = minhash_signatures(documents, n_hashes, toked=toked)
    buckets = persist_tracked(_band_buckets(sig, n_hashes, bands))
    return _bucket_pairs(buckets)


def _band_buckets(sig: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """Signature frame -> slim (doc_id, band, bsig) bucket stream; all
    bands computed in ONE pass and exploded (a per-band union would
    re-run the whole minhash pipeline per band)."""
    rows_per_band = n_hashes // bands
    band_structs = []
    for bi in range(bands):
        cols = [F.col(f"mh_{bi * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(F.concat_ws(",", *[c.cast("string") for c in cols])).alias("bsig"),
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bsig").alias("bsig")
    )


def _bucket_pairs(buckets: DataFrame) -> DataFrame:
    """Bucket stream -> distinct candidate pairs (equi-join on
    (band, bsig), linear shuffle, candidates only within buckets)."""
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bsig") == F.col("b.bsig"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_write(documents: DataFrame, path: str, n_hashes: int = 16,
                  bands: int = 4, shingle_k: int = 3) -> None:
    """Materialize the MinHash dedup artifacts as a serving index — the
    bm25_write/lsh_write/ivf_write pattern applied to near-dup dedup
    (SCALE.md "what we would change first" item 1).

    Layout:
      {path}/signatures — (doc_id, mh_0..mh_{n-1}) parquet: the
        full signature matrix, reusable by any banding scheme or by
        signature-similarity estimation.
      {path}/buckets — (doc_id, band, bsig) parquet partitioned by
        band: the LSH candidate layout; a pair query is one
        bucket-table self-join, never a corpus re-shingle.

    Everything stored is integer/hash-string, derived deterministically
    from the corpus — served results are bit-identical to the inline
    pipeline (pytest-pinned), and the build cost (the shingle→hash→
    min-agg pipeline) is paid once per corpus, write-side.
    """
    sig = minhash_signatures(documents, n_hashes, shingle_k)
    sig.write.mode("overwrite").parquet(f"{path}/signatures")
    # derive buckets from the WRITTEN signatures — a parquet scan, not
    # a second run of the minhash pipeline
    spark = documents.sparkSession
    written = spark.read.parquet(f"{path}/signatures")
    _band_buckets(written, n_hashes, bands).repartition("band").write.mode(
        "overwrite"
    ).partitionBy("band").parquet(f"{path}/buckets")


def minhash_lsh_pairs_served(spark, path: str) -> DataFrame:
    """minhash_lsh_pairs answered from a minhash_write index: the
    bucket self-join runs directly over the materialized (doc_id, band,
    bsig) parquet — no shingling, no hashing, no min-agg at query time,
    and no in-session persist needed (the parquet IS the shared
    materialization)."""
    return _bucket_pairs(spark.read.parquet(f"{path}/buckets"))


def minhash_lsh_cand_cte(n_hashes: int = 16, bands: int = 4,
                         shingle_k: int = 3, table: str = "documents") -> str:
    """DuckDB CTE chain ending in `cand(doc_a, doc_b)` — the exact
    oracle twin of minhash_lsh_pairs.

    Every stage mirrors the Spark pipeline expression-for-expression:
    the shingle stream (whole text for docs shorter than k tokens), the
    md5-32-bit base hash mod p, the same _perm_params affine family,
    and the md5-of-concat band signatures. Because both engines hash
    with md5 and do the affine arithmetic in exact int64, the candidate
    sets are identical — this is what converts the LSH queries from
    rows-only to hash-verified.
    """
    p = _MH_PRIME
    k = shingle_k
    rpb = n_hashes // bands
    mins = ", ".join(
        f"MIN((h * {a} + {b}) % {p}) AS mh_{i}"
        for i, (a, b) in enumerate(_perm_params(n_hashes))
    )
    structs = ", ".join(
        "struct_pack(band := %d, bsig := md5(concat_ws(',', %s)))"
        % (bi, ", ".join(f"mh_{bi * rpb + r}" for r in range(rpb)))
        for bi in range(bands)
    )
    return (
        f"toked AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') "
        f"AS toks FROM {table}), "
        f"sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) < {k} "
        "THEN [array_to_string(toks, ' ')] "
        f"ELSE [array_to_string(toks[i:i+{k - 1}], ' ') "
        f"for i in generate_series(1, len(toks)-{k - 1})] END) AS tok FROM toked), "
        f"hashed AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % {p} "
        "AS h FROM sh), "
        f"sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id), "
        f"bands AS (SELECT doc_id, unnest([{structs}], recursive := true) FROM sig), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig "
        "AND a.doc_id < b.doc_id)"
    )


def minhash_lsh_oracle_sql(n_hashes: int = 16, bands: int = 4,
                           shingle_k: int = 3, table: str = "documents") -> str:
    """Full DuckDB oracle for q_minhash_lsh (candidate pairs)."""
    return (
        "WITH " + minhash_lsh_cand_cte(n_hashes, bands, shingle_k, table)
        + " SELECT doc_a, doc_b FROM cand"
    )


def verified_neardup_cte(threshold: float = 0.8, n_hashes: int = 16,
                         bands: int = 4, shingle_k: int = 3,
                         table: str = "documents") -> str:
    """DuckDB CTE chain ending in `vpairs(doc_a, doc_b, jaccard)` —
    LSH candidates → exact token-set Jaccard on candidates only,
    mirroring verified_neardup_pairs. Threshold compares the raw
    quotient; the emitted jaccard is rounded to 6 (hash canonicalization
    safety) exactly as the Spark side does.
    """
    jac = "CAST(n_common AS DOUBLE) / (ca.n_toks + cb.n_toks - n_common)"
    return (
        minhash_lsh_cand_cte(n_hashes, bands, shingle_k, table) + ", "
        f"utoks AS (SELECT DISTINCT doc_id, "
        f"unnest(regexp_split_to_array(trim(text), '\\s+')) AS utok FROM {table}), "
        "counts AS (SELECT doc_id, COUNT(*) AS n_toks FROM utoks GROUP BY doc_id), "
        "inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common "
        "FROM cand c JOIN utoks a ON a.doc_id = c.doc_a "
        "JOIN utoks b ON b.doc_id = c.doc_b AND b.utok = a.utok "
        "GROUP BY 1, 2), "
        f"vpairs AS (SELECT doc_a, doc_b, ROUND({jac}, 6) AS jaccard FROM inter "
        "JOIN counts ca ON doc_a = ca.doc_id "
        "JOIN counts cb ON doc_b = cb.doc_id "
        f"WHERE {jac} >= {threshold})"
    )


def verified_neardup_oracle_sql(threshold: float = 0.8, n_hashes: int = 16,
                                bands: int = 4, shingle_k: int = 3,
                                table: str = "documents") -> str:
    """Full DuckDB oracle for q_neardup_verified."""
    return (
        "WITH " + verified_neardup_cte(threshold, n_hashes, bands, shingle_k, table)
        + " SELECT doc_a, doc_b, jaccard FROM vpairs"
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (tier 5)
# ---------------------------------------------------------------------------

def winnow_fingerprints(documents: DataFrame, k: int = 4, w: int = 4,
                        text_col: str = "text",
                        toked: DataFrame | None = None) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    SIGMOD'03; the MOSS algorithm): hash every k-token gram, slide a
    w-gram window over the gram sequence, select the minimum hash in
    each window (leftmost occurrence on ties), and dedup the
    selections. Guarantees: any shared token run of length >= w+k-1
    between two documents yields at least one shared fingerprint, and
    expected density is 2/(w+1) — a position-aware, reordering-robust
    fingerprint set at a fraction of the gram count.

    The classical implementation uses a Rabin-Karp rolling hash; here
    the gram hash is md5 of the gram text — same sliding selection,
    same guarantees (any uniform hash works), but engine-portable:
    fixed-width lowercase hex compares identically everywhere, so the
    DuckDB oracle reproduces fingerprints bit-exactly. The min-per-
    window runs on `digest || '-' || zero-padded-position` strings,
    which encodes (hash asc, position asc) tie-breaking in ONE
    portable MIN.

    Documents shorter than k tokens contribute their whole text as a
    single gram (mirroring doc_shingle_sets); windows are the complete
    ones only (start <= n_grams - w + 1), degenerating to one window
    for docs with fewer than w grams.

    Scale shape: tokenize + posexplode is linear; the min-select and
    the per-doc gram count share ONE exchange (two window specs over
    the same doc_id partitioning); the selection dedup is a distinct
    on slim (doc_id, fingerprint) rows. Nothing is quadratic and no
    state exceeds a document's gram list.

    Returns (doc_id, n_grams, h, pos) fingerprint rows.
    """
    if toked is None:
        toked = doc_token_arrays(documents, text_col)
    # Establish the window's doc_id partitioning BEFORE the gram
    # explode when the input arrives as fewer splits than cores
    # (single-row-group file → 1-task scan): the explicit repartition
    # satisfies both window specs (no second exchange — ENSURE_
    # REQUIREMENTS disappears), ships compact token arrays instead of
    # exploded gram rows, and, being user-specified, is not coalesced
    # by AQE — so explode+md5+window all run wide instead of serially
    # (guide §2.4/§2.5; r12 A/B: 2.71 → 2.25 s, B ≤ A in 7/7 reps).
    # No-op via fan_out once the scan already yields ≥ core splits.
    from aws_data_pipeline_ads_spark.operators.partitioning import fan_out

    toked = fan_out(toked, "doc_id")
    t = F.col("__toks")
    grams = F.when(
        F.size(t) < k, F.array(F.array_join(t, " "))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (k - 1)),
            lambda i: F.array_join(F.slice(t, i, k), " "),
        )
    )
    g = toked.select("doc_id", F.posexplode(grams).alias("__i", "__gram"))
    g = g.select(
        "doc_id",
        (F.col("__i") + 1).alias("pos"),
        F.md5("__gram").alias("__gh"),
    )
    fpk = F.concat(
        F.col("__gh"), F.lit("-"),
        F.lpad(F.col("pos").cast("string"), 10, "0"),
    )
    wd = W.partitionBy("doc_id")
    sel = (
        g.withColumn("__fpk", fpk)
        .withColumn(
            "__sel",
            F.min("__fpk").over(wd.orderBy("pos").rowsBetween(0, w - 1)),
        )
        .withColumn("n_grams", F.count(F.lit(1)).over(wd))
    )
    kept = sel.filter(
        F.col("pos") <= F.greatest(F.col("n_grams") - (w - 1), F.lit(1))
    )
    return (
        kept.select(
            "doc_id", F.col("n_grams").cast("long").alias("n_grams"),
            F.col("__sel").alias("__fpk"),
        )
        .distinct()
        .select(
            "doc_id", "n_grams",
            F.substring("__fpk", 1, 32).alias("h"),
            F.substring("__fpk", 34, 10).cast("long").alias("pos"),
        )
    )


def winnow_stats(documents: DataFrame, k: int = 4, w: int = 4,
                 text_col: str = "text") -> DataFrame:
    """Per-document fingerprint rollup: gram count, fingerprint count,
    selection density (expected 2/(w+1) on random text), and the
    smallest fingerprint digest (a deterministic per-doc sample key —
    two exact copies of a document share it)."""
    fp = winnow_fingerprints(documents, k=k, w=w, text_col=text_col)
    return (
        fp.groupBy("doc_id", "n_grams")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
            F.min("h").alias("min_fp"),
        )
        .select(
            "doc_id", "n_grams", "n_fingerprints",
            F.round(
                F.col("n_fingerprints").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("density"),
            "min_fp",
        )
    )


def winnow_pairs(documents: DataFrame, k: int = 4, w: int = 4,
                 min_shared: int = 2, max_df: int | None = None,
                 text_col: str = "text") -> DataFrame:
    """MOSS-style near-dup candidates: document pairs sharing at least
    `min_shared` winnowing fingerprint DIGESTS, scored by the overlap
    coefficient |shared| / min(|fp_a|, |fp_b|).

    `max_df` is the same scale guard token_jaccard_pairs carries: a
    fingerprint appearing in more than max_df documents (boilerplate,
    licence headers) would make its self-join partition quadratic, so
    hot digests are dropped from BOTH the join stream and the per-doc
    set sizes. Per-doc fingerprint counts ride the join as a window
    count over the SAME exchange — no counts table, no re-join.
    """
    from aws_data_pipeline_ads_spark.operators.cache import persist_tracked

    # the fingerprint selection (tokenize + posexplode + two window
    # passes over every document) feeds the df-cap aggregate AND both
    # self-join arms — persist it so the corpus-sized build runs once
    # (same reasoning as kmv_union_jaccard's sketch persist)
    fp = persist_tracked(winnow_fingerprints(
        documents, k=k, w=w, text_col=text_col
    ).select("doc_id", "h").distinct())
    if max_df is not None:
        rare = (
            fp.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("h")
        )
        fp = fp.join(rare, "h")
    fp = fp.withColumn(
        "n_fp", F.count(F.lit(1)).over(W.partitionBy("doc_id")).cast("long")
    )
    a = fp.alias("a")
    b = fp.alias("b")
    overlap = F.col("n_shared").cast("double") / F.least(
        F.col("na"), F.col("nb")
    ).cast("double")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.max(F.col("a.n_fp")).alias("na"),  # constant per group
            F.max(F.col("b.n_fp")).alias("nb"),
        )
        .filter(F.col("n_shared") >= min_shared)
        .select("doc_a", "doc_b", "n_shared",
                F.round(overlap, 6).alias("overlap"))
    )


def source_shingle_stream(documents: DataFrame, k: int = 3,
                          text_col: str = "text") -> DataFrame:
    """(source, tok) k-shingle stream keyed by SOURCE — the shared
    composition behind the KMV vocabulary sketches. The batch queries
    (q_kmv_*) and the streaming drain (streaming.kmv_merge_batch) must
    shingle IDENTICALLY or the drain==batch hash contract silently
    breaks; one definition here pins both call sites."""
    toked = documents.select(
        F.col("source").alias("doc_id"), tokens(text_col).alias("__toks")
    )
    return doc_shingle_sets(
        documents, k=k, distinct=False, toked=toked
    ).select(F.col("doc_id").alias("source"), "tok")
