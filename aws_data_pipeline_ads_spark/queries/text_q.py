"""Text-analysis and dedup queries over `documents` (LLM-data ops)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_data_pipeline_ads_spark.catalog import load_table
from aws_data_pipeline_ads_spark.operators import dedup, textstats
from aws_data_pipeline_ads_spark.operators.sampling import (
    hash_bucket_sql,
    hash_u32_sql,
    hex_u32_sql,
)
from aws_data_pipeline_ads_spark.operators.simhash import simhash_pairs_sql, simhash_sql
from aws_data_pipeline_ads_spark.queries.indexcache import index_path
from aws_data_pipeline_ads_spark.queries.registry import query
from aws_data_pipeline_ads_spark.session import ensure_utc

_WS = r"\s+"


@query(
    "q_text_stats",
    oracle=(
        "SELECT lang, source, COUNT(*) AS n_docs, "
        # DuckDB SUM(BIGINT) yields HUGEINT, which pandas widens to
        # float64 ("123.0" vs Spark's "123" in the driver's value hash)
        # — the outer CAST pins int64 on the oracle side.
        "CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars, "
        "ROUND(CAST(SUM(CAST(length(text) AS BIGINT)) AS DOUBLE) / COUNT(*), 6) "
        "AS avg_chars FROM documents GROUP BY lang, source"
    ),
    bench=True,
    doc="2C text: corpus statistics per (lang, source)",
)
def q_text_stats(spark, sf_dir):
    return textstats.corpus_stats(load_table(spark, sf_dir, "documents"))


@query(
    "q_curation_pipeline",
    oracle=(
        "WITH q AS (SELECT doc_id, lang, text, "
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_toks, "
        "CAST(length(text) AS BIGINT) AS n_chars, "
        "CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) "
        "AS BIGINT) AS n_punct FROM documents), "
        "ok AS (SELECT *, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp "
        "FROM q WHERE n_chars >= 20 AND n_toks >= 5 "
        "AND CAST(n_punct AS DOUBLE) / n_chars < 0.3), "
        "canon AS (SELECT MIN(doc_id) AS doc_id FROM ok GROUP BY fp) "
        "SELECT o.lang, COUNT(*) AS n_docs, "
        "CAST(SUM(o.n_toks) AS BIGINT) AS total_tokens "
        "FROM ok o JOIN canon c ON o.doc_id = c.doc_id GROUP BY o.lang"
    ),
    bench=True,
    doc="LLM-data showcase: quality gate → exact dedup (min doc_id per "
        "fingerprint) → per-lang token totals, one declared pipeline",
)
def q_curation_pipeline(spark, sf_dir):
    return textstats.curate(load_table(spark, sf_dir, "documents"))


_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
_PII_IP = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"


@query(
    "q_pii_redaction",
    oracle=(
        "SELECT doc_id, "
        f"regexp_replace(regexp_replace(regexp_replace(text, '{_PII_EMAIL}', "
        f"'<EMAIL>', 'g'), '{_PII_PHONE}', '<PHONE>', 'g'), '{_PII_IP}', "
        "'<IP>', 'g') AS clean_text, "
        f"CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails, "
        f"CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones, "
        f"CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS BIGINT) AS n_ips, "
        f"(len(regexp_extract_all(text, '{_PII_EMAIL}')) "
        f"+ len(regexp_extract_all(text, '{_PII_PHONE}')) "
        f"+ len(regexp_extract_all(text, '{_PII_IP}')) > 0) AS had_pii "
        "FROM documents"
    ),
    doc="LLM curation: PII scrub (email/phone/IP → typed placeholders) "
        "with per-doc redaction counts — chained regexp_replace, zero "
        "shuffles; textstats.redact_pii",
)
def q_pii_redaction(spark, sf_dir):
    return textstats.redact_pii(load_table(spark, sf_dir, "documents"))


@query(
    "q_contamination",
    oracle=(
        "WITH tok AS (SELECT doc_id, "
        "regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), "
        "sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 5 "
        "THEN [array_to_string(toks, ' ')] "
        "ELSE [array_to_string(toks[i:i+4], ' ') "
        "for i in generate_series(1, len(toks)-4)] END) AS tok FROM tok), "
        "shd AS (SELECT DISTINCT doc_id, tok FROM sh), "
        "bench AS (SELECT DISTINCT tok FROM shd WHERE doc_id % 101 = 7), "
        "corpus AS (SELECT * FROM shd WHERE doc_id % 101 <> 7) "
        "SELECT c.doc_id, COUNT(*) AS n_hits, TRUE AS contaminated "
        "FROM corpus c JOIN bench b USING (tok) GROUP BY c.doc_id"
    ),
    doc="LLM curation: benchmark decontamination — corpus docs sharing "
        "5-token shingles with a held-out set (doc_id % 101 = 7 stands "
        "in for the benchmark); operators/contamination.py",
)
def q_contamination(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators.contamination import (
        contamination_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 101 == 7)
    corpus = docs.filter(F.col("doc_id") % 101 != 7)
    return contamination_report(corpus, bench, k=5)


@query(
    "q_decontaminate",
    bench=True,  # the bloom-prefilter shape, new in r4
    oracle=(
        # Same shingle CTE chain as q_contamination; the result is the
        # KEEP side — corpus docs with zero benchmark shingle overlap.
        # The Spark plan reaches it through a broadcast Bloom prefilter
        # (operators/bloom.py); false positives die in the exact join,
        # so the oracle is the plain anti join.
        "WITH tok AS (SELECT doc_id, "
        "regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), "
        "sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 5 "
        "THEN [array_to_string(toks, ' ')] "
        "ELSE [array_to_string(toks[i:i+4], ' ') "
        "for i in generate_series(1, len(toks)-4)] END) AS tok FROM tok), "
        "shd AS (SELECT DISTINCT doc_id, tok FROM sh), "
        "bench AS (SELECT DISTINCT tok FROM shd WHERE doc_id % 101 = 7), "
        "hits AS (SELECT DISTINCT c.doc_id FROM shd c JOIN bench b "
        "USING (tok) WHERE c.doc_id % 101 <> 7) "
        "SELECT d.doc_id, d.source FROM documents d "
        "WHERE d.doc_id % 101 <> 7 "
        "AND NOT EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = d.doc_id)"
    ),
    doc="LLM curation: decontamination KEEP side via a broadcast Bloom "
        "runtime prefilter — the corpus shingle stream is bit-tested "
        "against a 128 KiB words table (4 map-side broadcast joins, "
        "zero Python) before any exchange, so the distinct/join "
        "shuffles carry quarantine candidates, not the corpus; exact "
        "equi-join then anti-join make the result bit-identical to the "
        "unfiltered plan. Served from the fingerprint-guarded "
        "bloom_write index (built once per corpus, like bm25_write) — "
        "the serving path refuses a filter whose build-set fingerprint "
        "doesn't match the live benchmark shingles; operators/bloom.py",
)
def q_decontaminate(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators.bloom import decontaminate_served

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 101 == 7)
    corpus = docs.filter(F.col("doc_id") % 101 != 7)
    return decontaminate_served(
        spark, bloom_index(spark, sf_dir), corpus, bench, k=5
    ).select("doc_id", "source")


# Materialized decontamination filter per sf_dir: the benchmark's bloom
# words table changes only when the benchmark does, so build it once
# (a write-side job, like bm25_index below) and let every run serve
# from the ≤128 KiB parquet. Deterministic content — memoizing is
# amortization, not semantics; the fingerprint in the index meta is
# what guarantees serve-time freshness.
def bloom_index(spark, sf_dir: str) -> str:
    def build(path: str) -> None:
        from aws_data_pipeline_ads_spark.operators.bloom import bloom_write
        from aws_data_pipeline_ads_spark.operators.dedup import doc_shingle_sets

        bench = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 101 == 7
        )
        bench_sh = doc_shingle_sets(bench, k=5).select("tok").distinct()
        bloom_write(bench_sh, "tok", path)

    return index_path("bloom", sf_dir, build)


@query(
    "q_contamination_overlap",
    oracle=(
        # Same shingle CTE chain as q_contamination, graded: per-doc
        # overlap FRACTION and an integer-arithmetic 70% flag. Every
        # corpus doc is emitted (clean docs report 0 hits).
        "WITH tok AS (SELECT doc_id, "
        "regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), "
        "sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 5 "
        "THEN [array_to_string(toks, ' ')] "
        "ELSE [array_to_string(toks[i:i+4], ' ') "
        "for i in generate_series(1, len(toks)-4)] END) AS tok FROM tok), "
        "shd AS (SELECT DISTINCT doc_id, tok FROM sh), "
        "bench AS (SELECT DISTINCT tok FROM shd WHERE doc_id % 101 = 7), "
        "corpus AS (SELECT * FROM shd WHERE doc_id % 101 <> 7), "
        "tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles "
        "FROM corpus GROUP BY doc_id), "
        "hits AS (SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits "
        "FROM corpus c JOIN bench b USING (tok) GROUP BY c.doc_id) "
        "SELECT t.doc_id, t.n_shingles, "
        "CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits, "
        "ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.n_shingles, 6) "
        "AS overlap_frac, "
        "COALESCE(h.n_hits, 0) * 100 >= t.n_shingles * 70 AS flagged "
        "FROM tot t LEFT JOIN hits h USING (doc_id)"
    ),
    doc="LLM curation: GRADED contamination — per-doc fraction of "
        "distinct 5-gram shingles shared with the benchmark, flagged "
        "at >=70% (the PaLM-style severity screen on top of the binary "
        "any-overlap report); benchmark shingles broadcast, flag "
        "computed in integer arithmetic "
        "(contamination.contamination_overlap)",
)
def q_contamination_overlap(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators.contamination import (
        contamination_overlap,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 101 == 7)
    corpus = docs.filter(F.col("doc_id") % 101 != 7)
    return contamination_overlap(corpus, bench, k=5, threshold_pct=70)


@query(
    "q_repetition_score",
    oracle=(
        "WITH tok AS (SELECT doc_id, "
        "regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), "
        "b AS (SELECT doc_id, toks, CASE WHEN len(toks) >= 2 "
        "THEN [toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks)-1)] "
        "ELSE CAST([] AS VARCHAR[]) END AS bigs FROM tok) "
        "SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, "
        "CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct, "
        "ROUND(CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) "
        "AS dup_ratio, "
        "ROUND(CASE WHEN len(bigs) > 0 THEN "
        "CAST(len(bigs) - len(list_distinct(bigs)) AS DOUBLE) / len(bigs) "
        "ELSE 0.0 END, 6) AS bigram_dup_ratio, "
        "(CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) <= 0.6 "
        "AND CASE WHEN len(bigs) > 0 THEN "
        "CAST(len(bigs) - len(list_distinct(bigs)) AS DOUBLE) / len(bigs) "
        "ELSE 0.0 END <= 0.4) AS repetition_ok "
        "FROM b"
    ),
    doc="2C text (Gopher-style curation): duplicate-token and duplicate-"
        "bigram fractions per doc + keep/drop gate — pure higher-order "
        "array expressions, zero shuffles",
)
def q_repetition_score(spark, sf_dir):
    return textstats.repetition_stats(load_table(spark, sf_dir, "documents"))


@query(
    "q_token_count",
    oracle=(
        "SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\\s+')) "
        "AS BIGINT) AS n_tokens FROM documents"
    ),
    doc="2C text: whitespace token counting",
)
def q_token_count(spark, sf_dir):
    return textstats.token_counts(load_table(spark, sf_dir, "documents"))


_LANG_HIT = "CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT)"
_EN = _LANG_HIT.format(pat=r"\b(the|a|of|and|is|to|in)\b")
_DE = _LANG_HIT.format(pat=r"\b(der|die|das|und|ist|ein)\b")
_ES = _LANG_HIT.format(pat=r"\b(el|la|los|de|que|y)\b")
_FR = _LANG_HIT.format(pat=r"\b(le|la|les|des|et|est)\b")


@query(
    "q_lang_id",
    oracle=(
        "SELECT doc_id, lang, "
        f"{_EN} AS hits_en, {_DE} AS hits_de, {_ES} AS hits_es, {_FR} AS hits_fr, "
        "CASE "
        f"WHEN {_EN} >= {_DE} AND {_EN} >= {_ES} AND {_EN} >= {_FR} AND {_EN} > 0 THEN 'en' "
        f"WHEN {_DE} >= {_ES} AND {_DE} >= {_FR} AND {_DE} > 0 THEN 'de' "
        f"WHEN {_ES} >= {_FR} AND {_ES} > 0 THEN 'es' "
        f"WHEN {_FR} > 0 THEN 'fr' "
        "ELSE 'unk' END AS detected_lang FROM documents"
    ),
    doc="2C text: stopword-hit language-ID heuristic",
)
def q_lang_id(spark, sf_dir):
    return textstats.lang_id(load_table(spark, sf_dir, "documents"))


@query(
    "q_quality_score",
    oracle=(
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens, "
        "ROUND(CASE WHEN length(text) > 0 THEN "
        "CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) "
        "AS DOUBLE) / length(text) ELSE NULL END, 6) AS punct_ratio, "
        "ROUND(CAST(len(regexp_extract_all(text, '\\b(the|a|of|and|is|to|in|it|that|for)\\b')) "
        "AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+')), 6) AS stopword_ratio, "
        "(length(text) >= 20 AND len(regexp_split_to_array(trim(text), '\\s+')) >= 5 "
        "AND CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) "
        "AS DOUBLE) / length(text) < 0.3) AS quality_ok FROM documents"
    ),
    doc="2C text: quality scoring (length / punct ratio / stopword ratio)",
)
def q_quality_score(spark, sf_dir):
    return textstats.quality_stats(load_table(spark, sf_dir, "documents"))


_GOPHER_TOKS = "regexp_split_to_array(trim(text), '\\s+')"


@query(
    "q_gopher_rules",
    oracle=(
        "WITH t AS (SELECT doc_id, text, "
        f"{_GOPHER_TOKS} AS toks, "
        "string_split(text, chr(10)) AS lines FROM documents), "
        "b AS (SELECT doc_id, "
        "CAST(len(toks) AS BIGINT) AS n_words, "
        "CAST(len(lines) AS BIGINT) AS n_lines, "
        "CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT) AS sum_wl, "
        "CAST(len(regexp_extract_all(text, '#')) AS BIGINT) AS n_hash, "
        "CAST(len(regexp_extract_all(text, '\\.\\.\\.|…')) AS BIGINT) AS n_ell, "
        "CAST(len(list_filter(lines, l -> starts_with(ltrim(l), '-') "
        "OR starts_with(ltrim(l), '*') OR starts_with(ltrim(l), '•'))) "
        "AS BIGINT) AS n_bullet, "
        "CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...') "
        "OR ends_with(rtrim(l), '…'))) AS BIGINT) AS n_ellend, "
        "CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) "
        "AS BIGINT) AS n_alpha, "
        "CAST("
        + " + ".join(
            f"CAST(list_contains(toks, '{sw}') AS INT)"
            for sw in ["the", "be", "to", "of", "and", "that", "have", "with"]
        )
        + " AS BIGINT) AS n_stop FROM t) "
        "SELECT doc_id, n_words, "
        "ROUND(CAST(sum_wl AS DOUBLE) / n_words, 6) AS mean_word_len, "
        "ROUND(CAST(n_hash AS DOUBLE) / n_words, 6) AS hash_word_ratio, "
        "ROUND(CAST(n_ell AS DOUBLE) / n_words, 6) AS ellipsis_word_ratio, "
        "ROUND(CAST(n_bullet AS DOUBLE) / n_lines, 6) AS bullet_line_frac, "
        "ROUND(CAST(n_ellend AS DOUBLE) / n_lines, 6) AS ellipsis_line_frac, "
        "ROUND(CAST(n_alpha AS DOUBLE) / n_words, 6) AS alpha_word_frac, "
        "n_stop AS n_stop_hits, "
        "(n_words >= 50 AND n_words <= 100000 "
        "AND CAST(sum_wl AS DOUBLE) / n_words >= 3.0 "
        "AND CAST(sum_wl AS DOUBLE) / n_words <= 10.0 "
        "AND CAST(n_hash AS DOUBLE) / n_words < 0.1 "
        "AND CAST(n_ell AS DOUBLE) / n_words < 0.1 "
        "AND CAST(n_bullet AS DOUBLE) / n_lines < 0.9 "
        "AND CAST(n_ellend AS DOUBLE) / n_lines < 0.3 "
        "AND CAST(n_alpha AS DOUBLE) / n_words > 0.8 "
        "AND n_stop >= 2) AS gopher_ok FROM b"
    ),
    doc="LLM curation: the published Gopher rule battery (Rae et al. "
        "2021 A1.1) — word-count and mean-word-length bounds, #/ellipsis "
        "symbol ratios, bullet/ellipsis line fractions, alphabetic-word "
        "fraction, distinct-stopword floor, and the combined keep gate; "
        "pure higher-order array expressions, zero shuffles; "
        "textstats.gopher_rules",
)
def q_gopher_rules(spark, sf_dir):
    return textstats.gopher_rules(load_table(spark, sf_dir, "documents"))


@query(
    "q_doc_fingerprint",
    oracle=(
        "SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) "
        "AS fingerprint FROM documents"
    ),
    doc="2C text: content fingerprint over normalized text",
)
def q_doc_fingerprint(spark, sf_dir):
    return textstats.fingerprints(load_table(spark, sf_dir, "documents"))


@query(
    "q_top_ngrams",
    oracle=(
        "WITH tok AS (SELECT lang, "
        "regexp_split_to_array(trim(lower(text)), '\\s+') AS toks "
        "FROM documents), "
        "b AS (SELECT lang, unnest(CASE WHEN len(toks) >= 2 "
        "THEN [toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks)-1)] "
        "ELSE CAST([] AS VARCHAR[]) END) AS ngram FROM tok), "
        "c AS (SELECT lang, ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences "
        "FROM b GROUP BY 1, 2), "
        "r AS (SELECT lang, ngram, n_occurrences, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY lang "
        "ORDER BY n_occurrences DESC, ngram) AS BIGINT) AS ngram_rank FROM c) "
        "SELECT * FROM r WHERE ngram_rank <= 10"
    ),
    doc="LLM text: top-10 bigrams per language — map-side-combined "
        "(lang, ngram) count + per-lang window top-k, both shuffles slim; "
        "textstats.top_ngrams",
)
def q_top_ngrams(spark, sf_dir):
    return textstats.top_ngrams(load_table(spark, sf_dir, "documents"), k=10)


@query(
    "q_length_outliers",
    oracle=(
        "WITH p AS (SELECT lang, quantile_cont(n_chars, 0.05) AS p_lo, "
        "quantile_cont(n_chars, 0.95) AS p_hi FROM documents GROUP BY lang) "
        "SELECT d.doc_id, d.lang, d.n_chars, p.p_lo, p.p_hi, "
        "(d.n_chars < p.p_lo OR d.n_chars > p.p_hi) AS is_outlier "
        "FROM documents d JOIN p USING (lang)"
    ),
    doc="LLM curation: per-language exact-quantile (p05/p95) length-"
        "outlier flags — dim-sized band table broadcast back, documents "
        "never shuffle; textstats.length_outliers",
)
def q_length_outliers(spark, sf_dir):
    return textstats.length_outliers(load_table(spark, sf_dir, "documents"))


_BM25_K1, _BM25_B = 1.2, 0.75
# repr() the derived constants: 1.2+1 rounds to 2.2000000000000002, which
# is NOT the double that the literal "2.2" parses to — both engines must
# see the exact same bits for the scores to hash-match.
_K1P1, _OMB = repr(_BM25_K1 + 1), repr(1.0 - _BM25_B)


@query(
    "q_bm25_terms",
    bench=True,  # heaviest tf/df join shape in the text stack
    oracle=(
        "WITH tok AS (SELECT doc_id, "
        "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term "
        "FROM documents), "
        "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf "
        "FROM tok GROUP BY doc_id, term), "
        "x AS (SELECT doc_id, term, tf, "
        "CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl, "
        "CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df FROM tf), "
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\\s+'))) "
        "AS BIGINT) AS total_toks FROM documents), "
        # every literal ::DOUBLE — DuckDB otherwise parses them as exact
        # DECIMALs and rounds products once at the final cast, while
        # Spark rounds each double op; identical only in pure double.
        "s AS (SELECT doc_id, term, tf, df, "
        "(CAST(n_docs AS DOUBLE) - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) "
        f"* (tf * {_K1P1}::DOUBLE) / (tf + {_BM25_K1!r}::DOUBLE * "
        f"({_OMB}::DOUBLE + {_BM25_B!r}::DOUBLE * dl "
        "/ (CAST(total_toks AS DOUBLE) / n_docs))) AS score FROM x, g), "
        "r AS (SELECT doc_id, term, tf, df, score, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY doc_id "
        "ORDER BY score DESC, term) AS BIGINT) AS term_rank FROM s) "
        "SELECT * FROM r WHERE term_rank <= 5"
    ),
    doc="LLM text: top-5 BM25-scored terms per doc with RATIONAL idf "
        "(no log — IEEE-exact ops only, so scores hash-match the oracle "
        "bit-for-bit, not just rank). Served from the bm25_write "
        "vocabulary index (integer postings parquet, built once per "
        "corpus like lsh_write/ivf_write) — query time is one postings "
        "scan + the rank window, no re-tokenize; bit-identical to the "
        "inline textstats.bm25_terms (pytest-pinned)",
)
def q_bm25_terms(spark, sf_dir):
    return textstats.bm25_terms_served(spark, bm25_index(spark, sf_dir), top_k=5)


# Materialized BM25 vocabulary per sf_dir: built ONCE per corpus (a
# write-side job, like any table build) and served by every BM25 query.
# Deterministic content — memoizing is amortization, not semantics.
def bm25_index(spark, sf_dir: str) -> str:
    return index_path(
        "bm25", sf_dir,
        lambda p: textstats.bm25_write(load_table(spark, sf_dir, "documents"), p),
    )


_QUERY_TERMS = ("vector", "merge", "scan")
_QT_SQL = ", ".join(f"'{t}'" for t in _QUERY_TERMS)


@query(
    "q_bm25_search",
    oracle=(
        # Same vocabulary CTEs as q_bm25_terms, filtered to the query
        # terms; per-doc fold through DECIMAL(38,18) (order-invariant —
        # double addition is not associative and the engines fold in
        # different orders), rounded to 6dp, top-10 docs.
        "WITH tok AS (SELECT doc_id, "
        "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term "
        "FROM documents), "
        "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf "
        "FROM tok GROUP BY doc_id, term), "
        "x AS (SELECT doc_id, term, tf, "
        "CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl, "
        "CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df FROM tf), "
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\\s+'))) "
        "AS BIGINT) AS total_toks FROM documents), "
        "s AS (SELECT doc_id, "
        "(CAST(n_docs AS DOUBLE) - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) "
        f"* (tf * {_K1P1}::DOUBLE) / (tf + {_BM25_K1!r}::DOUBLE * "
        f"({_OMB}::DOUBLE + {_BM25_B!r}::DOUBLE * dl "
        "/ (CAST(total_toks AS DOUBLE) / n_docs))) AS score FROM x, g "
        f"WHERE term IN ({_QT_SQL})) "
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit, "
        "round(CAST(SUM(CAST(score AS DECIMAL(38,18))) AS DOUBLE), 6) AS score "
        "FROM s GROUP BY doc_id "
        "ORDER BY round(CAST(SUM(CAST(score AS DECIMAL(38,18))) AS DOUBLE), 6) "
        "DESC, doc_id LIMIT 10"
    ),
    doc="LLM text retrieval: inverted-index BM25 search — top-10 docs "
        "for a fixed term query served from the bm25_write postings "
        "index; the probe prunes term-bucket partition directories at "
        "plan time and pushes the term filter into the scan, reading "
        "only the query terms' postings (textstats.bm25_search)",
)
def q_bm25_search(spark, sf_dir):
    return textstats.bm25_search(
        spark, bm25_index(spark, sf_dir), list(_QUERY_TERMS), k=10
    )


# Hybrid retrieval: the dense side shares the fixed query vector (and
# its exact-fold oracle arithmetic) with vector_q's kNN tier; vec_id is
# the corpus doc_id (TESTDATA.md: embeddings are per-document).
from aws_data_pipeline_ads_spark.operators.similarity import (  # noqa: E402
    fixed_query_vector as _fixed_qv,
)

_HQV = _fixed_qv()
_HQV_SQL = "[" + ", ".join(repr(x) for x in _HQV) + "]::DOUBLE[]"
_HQNORM = repr(__import__("math").sqrt(sum(x * x for x in _HQV)))


@query(
    "q_hybrid_search",
    bench=True,  # the served hybrid-retrieval shape, new in r7
    oracle=(
        # Sparse side: the q_bm25_search CTE chain at top-50; dense
        # side: the q_embedding_knn exact-fold cosine at top-50 (raw
        # selection, rounded ranking — both engine-identical because
        # each side's scores hash-match on its own query). Fusion:
        # rrf = Σ 1/(60+rank), ranks from (rounded score DESC, doc_id).
        "WITH tok AS (SELECT doc_id, "
        "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term "
        "FROM documents), "
        "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf "
        "FROM tok GROUP BY doc_id, term), "
        "x AS (SELECT doc_id, term, tf, "
        "CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl, "
        "CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df FROM tf), "
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\\s+'))) "
        "AS BIGINT) AS total_toks FROM documents), "
        "s AS (SELECT doc_id, "
        "(CAST(n_docs AS DOUBLE) - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) "
        f"* (tf * {_K1P1}::DOUBLE) / (tf + {_BM25_K1!r}::DOUBLE * "
        f"({_OMB}::DOUBLE + {_BM25_B!r}::DOUBLE * dl "
        "/ (CAST(total_toks AS DOUBLE) / n_docs))) AS score FROM x, g "
        f"WHERE term IN ({_QT_SQL})), "
        "bm AS (SELECT doc_id, "
        "round(CAST(SUM(CAST(score AS DECIMAL(38,18))) AS DOUBLE), 6) "
        "AS s_score FROM s GROUP BY doc_id "
        "ORDER BY round(CAST(SUM(CAST(score AS DECIMAL(38,18))) AS DOUBLE), "
        "6) DESC, doc_id LIMIT 50), "
        "sr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER "
        "(ORDER BY s_score DESC, doc_id) AS BIGINT) AS sparse_rank FROM bm), "
        "sc AS (SELECT vec_id, "
        "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        "CAST(embedding AS DOUBLE[])) > 0 THEN "
        f"list_dot_product(CAST(embedding AS DOUBLE[]), {_HQV_SQL}) / "
        "(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"CAST(embedding AS DOUBLE[]))) * {_HQNORM}) "
        "ELSE NULL END AS raw_score FROM embeddings), "
        "dn AS (SELECT vec_id AS doc_id, round(raw_score, 6) AS d_score "
        "FROM sc ORDER BY raw_score DESC NULLS LAST, vec_id LIMIT 50), "
        "dr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER "
        "(ORDER BY d_score DESC, doc_id) AS BIGINT) AS dense_rank FROM dn), "
        "f AS (SELECT COALESCE(sr.doc_id, dr.doc_id) AS doc_id, "
        "sr.sparse_rank, dr.dense_rank, "
        "COALESCE(1.0::DOUBLE / (60 + sr.sparse_rank), 0.0::DOUBLE) "
        "+ COALESCE(1.0::DOUBLE / (60 + dr.dense_rank), 0.0::DOUBLE) AS rrf "
        "FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id) "
        "SELECT doc_id, sparse_rank, dense_rank, ROUND(rrf, 6) AS rrf_score "
        "FROM f ORDER BY rrf DESC, doc_id LIMIT 10"
    ),
    doc="LLM retrieval: HYBRID search — BM25 top-50 (served postings "
        "index, bucket-pruned scan) + exact cosine top-50 against the "
        "fixed query vector, fused by reciprocal-rank fusion "
        "(Σ 1/(60+rank)); the fusion runs over ≤100 k-bounded rows "
        "regardless of corpus size (similarity.rrf_fuse)",
)
def q_hybrid_search(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import similarity

    sparse = textstats.bm25_search(
        spark, bm25_index(spark, sf_dir), list(_QUERY_TERMS), k=50
    ).select("doc_id", "score")
    dense = similarity.cosine_topk(
        load_table(spark, sf_dir, "embeddings"), _HQV, 50
    ).select(F.col("vec_id").alias("doc_id"), "score")
    return similarity.rrf_fuse(sparse, dense, k=10)


@query(
    "q_dedup_exact",
    oracle=(
        "SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_doc, "
        "COUNT(*) AS n_copies FROM documents GROUP BY 1"
    ),
    bench=True,
    doc="LLM dedup tier 1: exact content-hash dedup (hash before shuffle)",
)
def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "q_line_dedup",
    bench=True,  # heaviest reassembly (collect_list) shape
    oracle=(
        "WITH p AS (SELECT doc_id, regexp_split_to_array(text, '\\.\\s+') "
        "AS parts FROM documents), "
        "l0 AS (SELECT doc_id, unnest([{'pos': i, 'line': trim(parts[i])} "
        "for i in generate_series(1, len(parts))], recursive := true) FROM p), "
        "l AS (SELECT doc_id, pos, line FROM l0 WHERE line <> ''), "
        "w AS (SELECT doc_id, pos, line, ROW_NUMBER() OVER "
        "(PARTITION BY lower(line) ORDER BY doc_id, pos) AS rn FROM l), "
        "k AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept, "
        "string_agg(line, '. ' ORDER BY pos) AS clean_text "
        "FROM w WHERE rn = 1 GROUP BY doc_id), "
        "t AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM l "
        "GROUP BY doc_id) "
        "SELECT d.doc_id, COALESCE(t.n_lines, 0) AS n_lines, "
        "COALESCE(k.n_kept, 0) AS n_kept, "
        "COALESCE(k.clean_text, '') AS clean_text "
        "FROM documents d LEFT JOIN t USING (doc_id) LEFT JOIN k USING (doc_id)"
    ),
    doc="LLM dedup (C4-style): corpus-wide sentence-level exact dedup — "
        "each normalized sentence survives only at its first "
        "(doc_id, pos) occurrence; docs reassembled from kept sentences. "
        "Winner election on slim md5 projection (dedup.line_dedup)",
)
def q_line_dedup(spark, sf_dir):
    return dedup.line_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "q_ngram_jaccard",
    oracle=(
        # max_df=1000 mirrored as the identical `df <= 1000` filter: the
        # declared surface carries the scale guard (no unbounded
        # hot-token self-join at 100 TB), and the oracle computes
        # Jaccard over the same df-capped vocabulary, so the comparison
        # stays hash-exact at every sf.
        "WITH toks AS (SELECT DISTINCT doc_id, lang, "
        "unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents), "
        "df AS (SELECT lang, tok, COUNT(*) AS df FROM toks GROUP BY lang, tok), "
        "kept AS (SELECT t.doc_id, t.lang, t.tok FROM toks t "
        "JOIN df USING (lang, tok) WHERE df.df <= 1000), "
        "counts AS (SELECT doc_id, COUNT(*) AS n_toks FROM kept GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common "
        "FROM kept a JOIN kept b ON a.tok = b.tok AND a.lang = b.lang "
        "AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT doc_a, doc_b, "
        "ROUND(CAST(n_common AS DOUBLE) / (ca.n_toks + cb.n_toks - n_common), 6) "
        "AS jaccard FROM inter "
        "JOIN counts ca ON doc_a = ca.doc_id JOIN counts cb ON doc_b = cb.doc_id "
        "WHERE CAST(n_common AS DOUBLE) / (ca.n_toks + cb.n_toks - n_common) >= 0.8"
    ),
    doc="LLM dedup tier 3: exact token-set Jaccard pairs (lang-blocked) "
        "over the df<=1000 vocabulary — the hot-token guard is ON in the "
        "declared surface (join cost bounded by max_df² per token); at "
        "100 TB this verifies candidates from q_minhash_lsh",
)
def q_ngram_jaccard(spark, sf_dir):
    return dedup.token_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), 0.8, max_df=1000
    )


@query(
    "q_ngram_jaccard_uncapped",
    oracle=(
        "WITH toks AS (SELECT DISTINCT doc_id, lang, "
        "unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents), "
        "counts AS (SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common "
        "FROM toks a JOIN toks b ON a.tok = b.tok AND a.lang = b.lang "
        "AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT doc_a, doc_b, "
        "ROUND(CAST(n_common AS DOUBLE) / (ca.n_toks + cb.n_toks - n_common), 6) "
        "AS jaccard FROM inter "
        "JOIN counts ca ON doc_a = ca.doc_id JOIN counts cb ON doc_b = cb.doc_id "
        "WHERE CAST(n_common AS DOUBLE) / (ca.n_toks + cb.n_toks - n_common) >= 0.8"
    ),
    doc="exact-uncapped Jaccard semantics for modest scale — tail-only "
        "variant; the declared q_ngram_jaccard runs with max_df=1000",
)
def q_ngram_jaccard_uncapped(spark, sf_dir):
    return dedup.token_jaccard_pairs(load_table(spark, sf_dir, "documents"), 0.8)


@query(
    "q_neardup_clusters",
    oracle=(
        "WITH RECURSIVE "
        "toks AS (SELECT DISTINCT doc_id, lang, "
        "unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents), "
        "counts AS (SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common "
        "FROM toks a JOIN toks b ON a.tok = b.tok AND a.lang = b.lang "
        "AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "pairs AS (SELECT doc_a, doc_b FROM inter "
        "JOIN counts ca ON doc_a = ca.doc_id JOIN counts cb ON doc_b = cb.doc_id "
        "WHERE CAST(n_common AS DOUBLE) / (ca.n_toks + cb.n_toks - n_common) >= 0.8), "
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
        "UNION ALL SELECT doc_b, doc_a FROM pairs), "
        "reach(node, lab) AS ("
        "SELECT doc_id, doc_id FROM documents "
        "UNION "
        "SELECT e.dst, r.lab FROM edges e JOIN reach r ON e.src = r.node), "
        "lab AS (SELECT node AS doc_id, MIN(lab) AS cluster_id "
        "FROM reach GROUP BY node) "
        "SELECT doc_id, cluster_id, "
        "COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size, "
        "doc_id = cluster_id AS keep FROM lab"
    ),
    doc="LLM dedup: connected components over the exact near-dup pair "
        "graph (min-label propagation, operators/graph.py) + canonical-"
        "doc selection — duplicate relations are transitive, so real "
        "dedup keeps one doc per CLUSTER, not per pair; at 100 TB the "
        "same operator runs on verified_neardup_pairs (LSH-prefiltered)",
)
def q_neardup_clusters(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.token_jaccard_pairs(docs, 0.8)
    return graph.neardup_clusters(docs, pairs)


@query(
    "q_minhash_lsh",
    # The base hash is md5-derived (portable), so the whole LSH pipeline
    # has an exact DuckDB twin — hash-verified, not rows-only.
    oracle=dedup.minhash_lsh_oracle_sql(),
    bench=True,
    doc="LLM dedup tier 4: MinHash + banded LSH candidate pairs — the "
        "linear-shuffle near-dup path for 100 TB. Served from the "
        "minhash_write index since r4 (bucket self-join over the "
        "materialized (doc_id, band, bsig) parquet — no shingling at "
        "query time; bit-identical to inline, pytest-pinned); oracle "
        "generated from the same permutation params "
        "(dedup.minhash_lsh_oracle_sql)",
)
def q_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs_served(
        spark, minhash_index(spark, sf_dir)
    ).orderBy("doc_a", "doc_b")


# Materialized MinHash index per sf_dir (signatures + banded buckets):
# built once per corpus, write-side — SCALE.md "change first" item 1.
def minhash_index(spark, sf_dir: str) -> str:
    return index_path(
        "minhash", sf_dir,
        lambda p: dedup.minhash_write(load_table(spark, sf_dir, "documents"), p),
    )


@query(
    "q_neardup_verified",
    oracle=dedup.verified_neardup_oracle_sql(0.8),
    bench=True,
    doc="LLM dedup tier 5 (the production composition): MinHash-LSH "
        "candidates (served from the minhash_write bucket index) → "
        "exact Jaccard verify on candidates only — exact precision at "
        "linear cost, corpus touched once (verify arm) at query time; "
        "test pins verified ⊆ exact-all-pairs",
)
def q_neardup_verified(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_pairs_served(spark, minhash_index(spark, sf_dir))
    return dedup.verified_neardup_pairs(docs, 0.8, cand=cand).orderBy(
        "doc_a", "doc_b"
    )


@query(
    "q_simhash",
    oracle=simhash_sql("duckdb"),
    doc="LLM dedup: 32-bit SimHash fingerprints; Spark and oracle render "
        "from the same SQL template (operators/simhash.py)",
)
def q_simhash(spark, sf_dir):
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents_simhash")
    return spark.sql(simhash_sql("spark", table="documents_simhash"))


@query(
    "q_simhash_pairs",
    bench=True,  # heaviest banded self-join shape
    oracle=simhash_pairs_sql("duckdb"),
    doc="LLM dedup: SimHash banded-LSH near-dup pairs (4×8-bit bands; "
        "complete recall for Hamming ≤ 3, so exact and oracle-checked — "
        "the LSH pattern MinHash uses, in verifiable form)",
)
def q_simhash_pairs(spark, sf_dir):
    # Served from the simhash_write fingerprint index (r4): the band
    # self-join reads the materialized (doc_id, simhash) parquet on
    # both sides — no tokenize/hash/persist at query time; the
    # fingerprint pipeline is a once-per-corpus write-side job.
    from aws_data_pipeline_ads_spark.operators.simhash import simhash_pairs_served

    return simhash_pairs_served(spark, simhash_index(spark, sf_dir))


# Materialized SimHash fingerprint table per sf_dir.
def simhash_index(spark, sf_dir: str) -> str:
    def build(path: str) -> None:
        from aws_data_pipeline_ads_spark.operators.simhash import simhash_write

        simhash_write(spark, load_table(spark, sf_dir, "documents"), path)

    return index_path("simhash", sf_dir, build)


@query(
    "q_binary_meta",
    oracle=(
        "SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, "
        "sha256(text) AS content_sha FROM documents"
    ),
    doc="2C multimodal: opaque-binary metadata path (byte length + sha256); "
        "decode/feature-extract stubs live in operators/multimodal.py",
)
def q_binary_meta(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.sha2(F.col("text"), 256).alias("content_sha"),
    )


@query(
    "q_normalize_text",
    oracle=(
        "SELECT doc_id, "
        "trim(regexp_replace(regexp_replace(nfc_normalize(text), "
        "'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g'), '\\s+', ' ', 'g')) "
        "AS norm_text, "
        "trim(regexp_replace(regexp_replace(nfc_normalize(text), "
        "'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g'), '\\s+', ' ', 'g')) "
        "IS DISTINCT FROM text AS changed, "
        "CAST(length(text) AS BIGINT) AS n_chars_before, "
        "CAST(length(trim(regexp_replace(regexp_replace(nfc_normalize(text), "
        "'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g'), '\\s+', ' ', 'g'))) "
        "AS BIGINT) AS n_chars_after "
        "FROM documents"
    ),
    doc="LLM curation: canonicalization pass before hash dedup — "
        "Unicode NFC (Arrow-batched pandas_udf; stdlib unicodedata vs "
        "DuckDB nfc_normalize, both UAX #15 — the oracle verifies the "
        "agreement) + control-char strip + whitespace collapse "
        "(textstats.normalize_text)",
)
def q_normalize_text(spark, sf_dir):
    return textstats.normalize_text(load_table(spark, sf_dir, "documents"))


@query(
    "q_incremental_dedup",
    oracle=(
        # doc_id % 7 == 0 stands in for the already-ingested corpus;
        # the rest is the arriving batch.
        "WITH seen AS (SELECT DISTINCT md5(COALESCE(text, '')) AS content_hash "
        "FROM documents WHERE doc_id % 7 = 0), "
        "batch AS (SELECT doc_id, md5(COALESCE(text, '')) AS content_hash "
        "FROM documents WHERE doc_id % 7 <> 0), "
        "first AS (SELECT content_hash, MIN(doc_id) AS first_id "
        "FROM batch GROUP BY content_hash) "
        "SELECT b.doc_id, b.content_hash, "
        "(s.content_hash IS NOT NULL) AS known_dup, "
        "(b.doc_id <> f.first_id) AS batch_dup, "
        "(s.content_hash IS NULL AND b.doc_id = f.first_id) AS keep "
        "FROM batch b LEFT JOIN seen s USING (content_hash) "
        "JOIN first f USING (content_hash)"
    ),
    doc="LLM dedup: incremental ingestion — flag an arriving batch "
        "against the already-ingested corpus' fingerprint table (slim "
        "hash-to-hash join, corpus text never read) + within-batch "
        "first-wins election (dedup.incremental_exact_dedup)",
)
def q_incremental_dedup(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("content_hash")
    )
    batch = docs.filter(F.col("doc_id") % 7 != 0)
    return dedup.incremental_exact_dedup(batch, corpus)


def _cms_fold_sql(seed: int, expr: str) -> str:
    from aws_data_pipeline_ads_spark.operators.sampling import hash_u32_sql
    from aws_data_pipeline_ads_spark.operators.sketches import CMS_WIDTH

    key = "concat('cms" + str(seed) + "|', " + expr + ")"
    return f"({hash_u32_sql(key)} % {CMS_WIDTH})"


_CMS_ORACLE = (
    "WITH tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), "
    "'\\s+')) AS tok FROM documents), "
    "b AS (SELECT tok, "
    + ", ".join(f"{_cms_fold_sql(i, 'tok')} AS b{i}" for i in range(4))
    + " FROM tok), "
    "cms AS (SELECT seed, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM ("
    + " UNION ALL ".join(
        f"SELECT {i} AS seed, b{i} AS bucket FROM b" for i in range(4))
    + ") GROUP BY 1, 2), "
    "vocab AS (SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS exact_count "
    "FROM tok GROUP BY 1), "
    "vb AS (SELECT token, exact_count, "
    + ", ".join(f"{_cms_fold_sql(i, 'token')} AS b{i}" for i in range(4))
    + " FROM vocab) "
    "SELECT token, LEAST(c0.c, c1.c, c2.c, c3.c) AS est_count, exact_count "
    "FROM vb "
    + " ".join(
        f"JOIN cms c{i} ON c{i}.seed = {i} AND c{i}.bucket = vb.b{i}"
        for i in range(4))
    + " ORDER BY est_count DESC, token LIMIT 20"
)


@query(
    "q_heavy_hitters_cms",
    oracle=_CMS_ORACLE,
    doc="LLM corpus profiling: Count-Min-Sketch heavy hitters — a "
        "4x1024 integer grid (fixed size regardless of vocabulary, "
        "map-side combined, mergeable cell-wise across shards/days) "
        "estimates every token's frequency as min over 4 seeded-md5 "
        "rows; top-20 by estimate with the exact count alongside so "
        "the overcount-only property is visible. The sketch math is "
        "portable md5 arithmetic, so the DuckDB oracle reproduces the "
        "sketch EXACTLY — hash-verified, unlike approximate-by-nature "
        "HLL (operators/sketches.py)",
)
def q_heavy_hitters_cms(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators.sketches import cms_heavy_hitters

    tok = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    )
    return cms_heavy_hitters(tok, "tok", k=20)


# Lake-resident streaming CMS state per corpus: the documents table is
# landed as file shards and drained through the streaming sink ONCE
# (availableNow, multiple micro-batches); every serve reads the
# accumulated batch partials. Build is a write-side job like
# bm25_index; drain==batch is the pytest-pinned contract, so the
# served answer hash-matches the same oracle as the batch query.
def cms_stream_index(spark, sf_dir: str) -> str:
    def build(path: str) -> None:
        from aws_data_pipeline_ads_spark import streaming

        src = load_table(spark, sf_dir, "documents")
        src.filter(F.col("doc_id") % 2 == 0).coalesce(2).write.parquet(
            f"{path}/landing/s1"
        )
        src.filter(F.col("doc_id") % 2 == 1).coalesce(2).write.parquet(
            f"{path}/landing/s2"
        )
        stream = streaming.documents_stream(
            spark, f"{path}/landing", max_files_per_trigger=2
        )
        streaming.streaming_cms_sink(stream, f"{path}/sketch", f"{path}/ck")

    return index_path("cms_stream", sf_dir, build)


@query(
    "q_heavy_hitters_served",
    oracle=_CMS_ORACLE,  # IDENTICAL oracle to q_heavy_hitters_cms:
    # the streaming drain accumulates cell-wise-mergeable partials, so
    # the served grid equals one batch build over the same documents
    doc="streaming-lake serving path: heavy hitters answered from the "
        "ACCUMULATED Count-Min state the streaming sink drained into "
        "the lake (one partial grid per micro-batch, summed cell-wise "
        "at serve time — streaming.cms_served), not from a fresh "
        "corpus scan; the drain==batch contract makes it hash-equal "
        "to q_heavy_hitters_cms and its DuckDB oracle "
        "(streaming/__init__.py, operators/sketches.py)",
)
def q_heavy_hitters_served(spark, sf_dir):
    from aws_data_pipeline_ads_spark import streaming
    from aws_data_pipeline_ads_spark.operators.sketches import cms_heavy_hitters

    idx = cms_stream_index(spark, sf_dir)
    grid = streaming.cms_served(spark, f"{idx}/sketch")
    tok = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    )
    return cms_heavy_hitters(tok, "tok", k=20, cms=grid)


@query(
    "q_snapshot_diff",
    bench=True,  # added r5: the CDC hash-join shape
    oracle=(
        "WITH old AS (SELECT doc_id, md5(coalesce(text, '')) AS h "
        "FROM documents WHERE doc_id % 5 <> 0), "
        "new AS (SELECT doc_id, md5(coalesce(CASE WHEN doc_id % 11 = 0 "
        "THEN upper(text) ELSE text END, '')) AS h "
        "FROM documents WHERE doc_id % 7 <> 0) "
        "SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, "
        "CASE WHEN o.doc_id IS NULL THEN 'added' "
        "WHEN n.doc_id IS NULL THEN 'removed' "
        "WHEN o.h <> n.h THEN 'changed' END AS change, "
        "o.h AS old_hash, n.h AS new_hash "
        "FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id "
        "WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h <> n.h"
    ),
    doc="LLM lake versioning: change-data-capture between two COMMITTED "
        "versions of a lakelog.LakeTable — the two corpus revisions are "
        "published as commits v0/v1 of one versioned table (write-side "
        "job via the index cache; file-list manifests, atomic publish) "
        "and the query is LakeTable.diff(0, 1) = upsert.snapshot_diff "
        "over the two time-travel reads. Each side reduces to "
        "(key, md5) BEFORE the full-outer join so the only shuffle "
        "carries 16-byte hashes, never document bodies. Revisions "
        "simulated from one table: old = doc_id%5!=0, new = doc_id%7!=0 "
        "with text perturbed on doc_id%11==0",
)
def q_snapshot_diff(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lakediff_index(spark, sf_dir)
    return LakeTable(spark, f"{idx}/tbl").diff(0, 1, "doc_id", ["text"])


# Two committed corpus revisions per sf_dir (write-side job like
# bm25_index — the commits are the artifact; the diff query reads them)
def lakediff_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(
            docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text"),
            txn_id="rev-old",
        )
        t.commit(
            docs.filter(F.col("doc_id") % 7 != 0).select(
                "doc_id",
                F.when(F.col("doc_id") % 11 == 0, F.upper(F.col("text")))
                .otherwise(F.col("text"))
                .alias("text"),
            ),
            txn_id="rev-new",
        )

    return index_path("lakediff", sf_dir, build)


@query(
    "q_lake_pruned_scan",
    bench=True,
    oracle=(
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars "
        "FROM documents "
        "WHERE doc_id <= (SELECT max(doc_id) // 5 FROM documents)"
    ),
    doc="LLM lake versioning: DATA-SKIPPING read — documents are "
        "committed range-clustered (repartitionByRange on doc_id, so "
        "each parquet file covers a disjoint key range recorded as "
        "min/max stats in the commit log), and LakeTable.scan prunes "
        "the file list on the DRIVER from the log alone before Spark "
        "opens anything: a bottom-quintile key scan touches ~1/5 of "
        "the files (inputFiles()-pinned in pytest). At 100 TB this is "
        "the difference between opening thousands of files and "
        "millions — the Delta/Iceberg skipping contract. Results are "
        "exact: scan applies the predicate on top of the pruning",
)
def q_lake_pruned_scan(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lakescan_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    hi = t.read().agg(F.max("doc_id")).collect()[0][0] // 5
    return t.scan({"doc_id": (None, hi)}).select(
        "doc_id", F.length("text").cast("long").alias("n_chars"))


# One range-clustered committed revision per sf_dir (write-side job;
# the clustering is what gives each file a narrow doc_id min/max)
def lakescan_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        LakeTable(spark, f"{path}/tbl").commit(
            docs.repartitionByRange(16, "doc_id"), txn_id="rev-0")

    return index_path("lakescan", sf_dir, build)


@query(
    "q_lake_zorder_scan",
    bench=True,
    oracle=(
        "SELECT doc_id, n_chars FROM documents "
        "WHERE doc_id <= (SELECT max(doc_id) // 4 FROM documents) "
        "AND n_chars <= (SELECT max(n_chars) // 4 FROM documents)"
    ),
    doc="LLM lake versioning: MULTI-COLUMN data skipping — the corpus "
        "is committed via OPTIMIZE ZORDER on (doc_id, n_chars) "
        "(Morton-key range partitioning, lakelog.optimize_zorder), so "
        "every file covers a compact box in BOTH dimensions and "
        "scan() prunes on either column's logged min/max, not just a "
        "leading sort key. The query scans the bottom-quartile box of "
        "both columns; hash-verified against a plain two-predicate SQL "
        "filter. The layout Delta/Iceberg OPTIMIZE ZORDER buys at "
        "100 TB, expressed as plain Spark expressions + the commit log",
)
def q_lake_zorder_scan(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lakezorder_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    head = t.read()
    hi_id, hi_ch = head.agg(
        F.max("doc_id"), F.max("n_chars")).collect()[0]
    return t.scan({"doc_id": (None, hi_id // 4),
                   "n_chars": (None, hi_ch // 4)}).select(
        "doc_id", "n_chars")


@query(
    "q_lake_time_scan",
    bench=True,
    oracle=(
        "SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us "
        "FROM events WHERE epoch_us(ts) <= "
        "(SELECT min(epoch_us(ts)) + "
        "(max(epoch_us(ts)) - min(epoch_us(ts))) // 4 FROM events)"
    ),
    doc="LLM lake versioning: TIME-RANGE data skipping — the dominant "
        "100 TB predicate. Events are committed range-clustered on ts "
        "(TIMESTAMP_MICROS parquet, so footers carry real min/max; "
        "Spark's INT96 default has NO stats) and the bottom-quarter "
        "time window prunes files from the log's ISO-microsecond "
        "boxes. The cut is computed and compared in epoch MICROS on "
        "both engines and the scan bound is passed tz-AWARE, so a "
        "hostile non-UTC driver session changes nothing. Output "
        "carries ts as epoch micros for an exact cross-engine hash",
)
def q_lake_time_scan(spark, sf_dir):
    import datetime as dt

    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = laketime_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    lo, hi = t.read().agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    cut_us = lo + (hi - lo) // 4
    cut = (dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
           + dt.timedelta(microseconds=cut_us))
    return t.scan({"ts": (None, cut)}).select(
        "event_id", "user_id", "event_type",
        F.unix_micros("ts").alias("ts_us"))


@query(
    "q_lake_delete",
    bench=True,
    oracle=(
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars "
        "FROM documents "
        "WHERE doc_id < (SELECT max(doc_id) // 3 FROM documents) "
        "OR doc_id > (SELECT 2 * max(doc_id) // 3 FROM documents)"
    ),
    doc="LLM lake versioning: row-level DELETE as a copy-on-write "
        "commit (LakeTable.delete) — the commit-log min/max stats "
        "split the range-clustered file list on the driver, files "
        "outside the deleted key band are SHARED byte-for-byte with "
        "the prior version (zero bytes rewritten), only the files that "
        "might hold matching rows are read, negated-filtered, and "
        "rewritten. The middle-third doc_id band is deleted write-side "
        "(txn-guarded, built once per corpus) and the head read must "
        "hash-match the plain negated SQL filter; the old version "
        "stays readable (time travel). Delta-style DELETE at 100 TB: "
        "bounded predicate → bounded rewrite, never the snapshot",
)
def q_lake_delete(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lakedelete_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    return t.read().select(
        "doc_id", F.length("text").cast("long").alias("n_chars"))


# Range-clustered commit + middle-third CoW delete (write-side job)
def lakedelete_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text")
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(docs.repartitionByRange(16, "doc_id"), txn_id="rev-0")
        mx = docs.agg(F.max("doc_id")).collect()[0][0]
        t.delete({"doc_id": (mx // 3, 2 * mx // 3)}, txn_id="del-0")

    return index_path("lakedelete", sf_dir, build)


@query(
    "q_lake_update",
    oracle=(
        "SELECT doc_id, CASE WHEN "
        "doc_id >= (SELECT max(doc_id) // 3 FROM documents) AND "
        "doc_id <= (SELECT 2 * max(doc_id) // 3 FROM documents) "
        "THEN CAST(-1 AS BIGINT) ELSE n_chars END AS n_chars "
        "FROM documents"
    ),
    doc="LLM lake versioning: row-level UPDATE as a copy-on-write "
        "commit (LakeTable.update) — same stats-driven file split as "
        "delete: files outside the middle-third doc_id band are shared "
        "byte-for-byte, only possibly-matching files are rewritten with "
        "the CASE WHEN set-expression (n_chars := -1 inside the band). "
        "Head read hash-matches the SQL CASE twin; pre-update version "
        "stays readable. Delta-style UPDATE: bounded predicate → "
        "bounded rewrite",
)
def q_lake_update(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lakeupdate_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    return t.read().select("doc_id", "n_chars")


# Range-clustered commit + middle-third CoW update (write-side job)
def lakeupdate_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "n_chars")
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(docs.repartitionByRange(16, "doc_id"), txn_id="rev-0")
        mx = docs.agg(F.max("doc_id")).collect()[0][0]
        t.update({"doc_id": (mx // 3, 2 * mx // 3)},
                 {"n_chars": F.lit(-1).cast("long")}, txn_id="upd-0")

    return index_path("lakeupdate", sf_dir, build)


@query(
    "q_lake_point_lookup",
    oracle=(
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars "
        "FROM documents "
        "WHERE doc_id = (SELECT max(doc_id) // 2 FROM documents)"
    ),
    doc="LLM lake versioning: per-file BLOOM-INDEX equality skipping "
        "(LakeTable.scan_point) — the corpus is committed "
        "hash-partitioned on text with bloom_cols=['doc_id'], so every "
        "file's doc_id [min,max] spans the whole domain and min/max "
        "stats cannot prune at all; the 4 KiB-per-file bloom probe "
        "opens only the file(s) that can hold the key. The "
        "needle-in-a-haystack lookup (one doc out of 100 TB on an "
        "unclustered column) Delta's file-level bloom index serves; "
        "exact — the equality predicate applies on top. "
        "inputFiles()-pinned in pytest",
)
def q_lake_point_lookup(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lakepoint_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    target = (load_table(spark, sf_dir, "documents")
              .agg(F.max("doc_id")).collect()[0][0] // 2)
    return t.scan_point({"doc_id": target}).select(
        "doc_id", F.length("text").cast("long").alias("n_chars"))


# Text-hash-partitioned commit with a doc_id bloom index (write-side)
def lakepoint_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text")
        LakeTable(spark, f"{path}/tbl").commit(
            docs.repartition(16, "text"), txn_id="rev-0",
            bloom_cols=["doc_id"])

    return index_path("lakepoint", sf_dir, build)


@query(
    "q_lake_gdpr_delete",
    oracle=(
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars "
        "FROM documents "
        "WHERE doc_id < (SELECT max(doc_id) // 4 FROM documents) "
        "OR doc_id > (SELECT max(doc_id) // 2 FROM documents)"
    ),
    doc="LLM lake versioning: DEFERRED (merge-on-read) DELETE — the "
        "takedown/right-to-be-erased shape: delete(defer=True) records "
        "the predicate in the log entry and touches ZERO data files "
        "(an O(1) commit at any table size; rows invisible the instant "
        "the entry publishes — every read path applies the stored "
        "predicates; compact() later materializes them away). The head "
        "read hash-matches the negated SQL filter, which only holds if "
        "the merge-on-read filter actually applies",
)
def q_lake_gdpr_delete(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lakegdpr_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    return t.read().select(
        "doc_id", F.length("text").cast("long").alias("n_chars"))


# Committed docs + one O(1) deferred delete of the (1/4, 1/2] doc_id
# band (write-side job)
def lakegdpr_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text")
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(docs.repartitionByRange(8, "doc_id"), txn_id="rev-0")
        mx = docs.agg(F.max("doc_id")).collect()[0][0]
        t.delete({"doc_id": (mx // 4, mx // 2)}, txn_id="gdpr-0",
                 defer=True)

    return index_path("lakegdpr", sf_dir, build)


@query(
    "q_lake_tag_scan",
    bench=True,  # pure-metadata tag resolve + scan, r9 bench add
    oracle=(
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars "
        "FROM documents"
    ),
    doc="LLM lake versioning: TAGS — named immutable version refs "
        "(Iceberg semantics). Write-side: commit the full corpus, "
        "tag it 'release', overwrite the head down to a ~1% subset, "
        "then VACUUM(keep_last=1) — which must retain the tagged "
        "snapshot's files (a tag is a retention promise, not an "
        "alias). The query reads by tag name while the head still "
        "holds the subset; hash-matching the FULL corpus proves both "
        "the name→version resolution and that vacuum honored the tag "
        "(LakeTable.tag/resolve_tag/vacuum)",
)
def q_lake_tag_scan(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = laketag_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    return t.read("release").select(
        "doc_id", F.length("text").cast("long").alias("n_chars"))


# Full commit → tag → shrinking overwrite → vacuum (write-side job)
def laketag_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text")
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(docs.repartitionByRange(8, "doc_id"), txn_id="rev-0")
        t.tag("release")
        t.commit(docs.filter(F.col("doc_id") % 97 == 0), "overwrite",
                 txn_id="rev-1")
        t.vacuum(keep_last=1)  # must NOT reclaim the tagged snapshot

    return index_path("laketag", sf_dir, build)


@query(
    "q_lake_stats_agg",
    oracle=(
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(min(doc_id) AS BIGINT) AS min_id, "
        "CAST(max(doc_id) AS BIGINT) AS max_id FROM documents"
    ),
    doc="LLM lake versioning: METADATA-ONLY aggregation — COUNT(*)/"
        "MIN/MAX answered from the commit log alone (per-file row "
        "counts + min/max stats recorded at write time), ZERO data "
        "files opened, zero Spark tasks (LakeTable.stats; the 1-row "
        "result is then lifted into a DataFrame). The Delta/Spark "
        "metadata-only-query optimization: the monitoring aggregates "
        "every pipeline fires constantly cost one small JSON read at "
        "any table size. Hash-verified against the full-scan SQL twin "
        "— the log's numbers must equal the data's",
)
def q_lake_stats_agg(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lakestats_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    s = t.stats()  # driver-side: one log-entry read, no files opened
    return spark.createDataFrame(
        [(s["rows"], s["min"]["doc_id"], s["max"]["doc_id"])],
        "n_rows long, min_id long, max_id long")


# Committed documents revision carrying row-count metadata (write-side)
def lakestats_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "n_chars")
        LakeTable(spark, f"{path}/tbl").commit(
            docs.repartitionByRange(8, "doc_id"), txn_id="rev-0")

    return index_path("lakestats", sf_dir, build)


@query(
    "q_lake_restore",
    oracle=(
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars "
        "FROM documents"
    ),
    doc="LLM lake versioning: RESTORE — the head is rolled back to "
        "version 0 after a bad overwrite shrank the table to a ~1% "
        "subset, as a NEW commit sharing every file with the restored "
        "version (zero data copied; LakeTable.restore, txn-guarded "
        "write-side). The head read hash-matches the FULL corpus — "
        "which only holds if the restore actually undid the bad "
        "commit — while the bad version stays readable for forensics",
)
def q_lake_restore(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lakerestore_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    return t.read().select(
        "doc_id", F.length("text").cast("long").alias("n_chars"))


# Good commit → bad overwrite → restore(0) (write-side job)
def lakerestore_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text")
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(docs, txn_id="rev-0")
        t.commit(docs.filter(F.col("doc_id") % 97 == 0), txn_id="bad-1")
        t.restore(0, txn_id="undo-1")

    return index_path("lakerestore", sf_dir, build)


# Time-clustered committed events revision per sf_dir (write-side job)
def laketime_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type")
        LakeTable(spark, f"{path}/tbl").commit(
            ev.repartitionByRange(8, "ts"), txn_id="rev-0")

    return index_path("laketime", sf_dir, build)


# Z-order-clustered committed revision per sf_dir (write-side job):
# commit v0 in a stats-hostile layout, then OPTIMIZE ZORDER → v1
def lakezorder_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "n_chars")
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(docs.repartition(16, "n_chars"), txn_id="rev-0")
        t.optimize_zorder(["doc_id", "n_chars"], n_files=16)

    return index_path("lakezorder", sf_dir, build)


@query(
    "q_video_frames",
    oracle=None,  # JPEG entropy decode is not SQL-expressible;
    # deterministic output pinned by pytest (mux→demux→decode golden)
    doc="2C multimodal: the REAL video pipeline as one declared query — "
        "deterministic MJPEG-AVI per doc (text-derived frames) → RIFF "
        "demux → evenly-spaced frame sample → baseline-JPEG pixel "
        "decode → per-frame luminance features; every stage is the real "
        "parser/codec, Arrow-batched, pixels never shuffle "
        "(multimodal.synthetic_videos + video_frame_features)",
)
def q_video_frames(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.video_frame_features(multimodal.synthetic_videos(docs))


@query(
    "q_video_metadata",
    # Promoted to an arithmetic header oracle (r11, the q_audio_mp3 /
    # q_video_codec_triage posture): the mux constants (n_frames=3,
    # 16×16, fps=25, one stco chunk, no stss → every sample sync) make
    # every HEADER-tier field a pure function of doc_id parity, so the
    # declared projection hash-verifies the full demux walk — box
    # scan, tkhd 16.16 dims, mdhd duration, stsc/stco chunk table,
    # RIFF avih/strh — across both container kinds. The two
    # content-dependent fields (avg/max sample size → bitrate, driven
    # by JPEG compression of the text bytes) stay in the operator's
    # full schema, pinned by the mux→demux round-trip pytests.
    oracle=(
        "SELECT doc_id, "
        "CASE WHEN doc_id % 2 = 0 THEN 'avi' ELSE 'mp4' END AS container, "
        "CAST(1 AS INT) AS track_id, 'vide' AS handler, "
        "CASE WHEN doc_id % 2 = 0 THEN 'MJPG' ELSE 'jpeg' END AS codec, "
        "CAST(16 AS DOUBLE) AS width, CAST(16 AS DOUBLE) AS height, "
        "CAST(3 AS DOUBLE) / 25 AS duration_s, "
        "CAST(3 AS BIGINT) AS n_samples, "
        "CASE WHEN doc_id % 2 = 0 THEN NULL "
        "ELSE CAST(3 AS BIGINT) END AS n_keyframes, "
        "CASE WHEN doc_id % 2 = 0 THEN NULL "
        "ELSE CAST(1 AS BIGINT) END AS n_chunks, "
        "CASE WHEN doc_id % 2 = 0 THEN NULL "
        "ELSE FALSE END AS mdat_truncated, "
        "CASE WHEN doc_id % 2 = 0 THEN NULL "
        "ELSE CAST(16 AS BIGINT) END AS coded_width, "
        "CASE WHEN doc_id % 2 = 0 THEN NULL "
        "ELSE CAST(16 AS BIGINT) END AS coded_height "
        "FROM documents"
    ),
    doc="2C multimodal: container-metadata triage — the FIRST stage a "
        "real crawl pipeline runs on video, filtering on codec/dims/"
        "duration before any pixel decodes. Mixed corpus (MP4/ISO-BMFF "
        "moov box walk + RIFF/AVI header list, doc_id parity picks the "
        "container) → one row per track: codec fourcc, display dims, "
        "duration, sample count, sync/chunk tables "
        "(multimodal.video_metadata). Hash-verified since r11 on the "
        "header tier (arithmetic oracle per doc_id parity); the "
        "compression-dependent size/bitrate fields stay pytest-pinned",
)
def q_video_metadata(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    meta = multimodal.video_metadata(
        multimodal.synthetic_videos(docs, container="mixed")
    )
    return meta.select(
        "doc_id", "container", "track_id", "handler", "codec",
        "width", "height", "duration_s", "n_samples", "n_keyframes",
        "n_chunks", "mdat_truncated", "coded_width", "coded_height")


@query(
    "q_video_codec_triage",
    bench=True,
    oracle=(
        "SELECT doc_id, 'avc1' AS codec, 'High' AS codec_profile, "
        "4.0 AS codec_level, "
        "CAST(16 + 2*(doc_id % 8) AS BIGINT) AS coded_width, "
        "CAST(16 + 2*(doc_id % 6) AS BIGINT) AS coded_height, "
        "CAST(3 AS BIGINT) AS n_samples FROM documents"
    ),
    doc="2C multimodal: H.264 codec-config triage over an avc1 corpus — "
        "each doc carries an MP4 whose avcC embeds a REAL SPS encoding "
        "per-doc coded dims (macroblock grid + frame-cropping window, "
        "multimodal.make_avc_config); video_metadata recovers profile/"
        "level/dims by PARSING the bitstream (Exp-Golomb, emulation "
        "stripping), and the oracle computes the expected dims "
        "arithmetically — a hash match proves the mux→SPS-parse "
        "roundtrip lossless. The filter a curation pipeline runs to "
        "route crawl video to decoders by profile/level/resolution",
)
def q_video_codec_triage(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import multimodal
    from aws_data_pipeline_ads_spark.operators.partitioning import fan_out

    # fan_out: the Python mux (JPEG encode + SPS build) and demux walk
    # dominate; widen the 1-task scan so they parallelize (guide §2.5;
    # r12 A/B: 1.21 -> 0.97 s interleaved medians)
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    meta = multimodal.video_metadata(
        multimodal.synthetic_videos(docs, container="avc1"))
    return meta.select("doc_id", "codec", "codec_profile", "codec_level",
                       "coded_width", "coded_height", "n_samples")


@query(
    "q_audio_mp3",
    bench=True,
    oracle=(
        "SELECT doc_id, 'mp3' AS codec, "
        "CAST(3 + doc_id % 5 AS BIGINT) AS n_frames, "
        "CAST(44100 AS INT) AS sample_rate, "
        "CAST(CASE WHEN doc_id % 7 = 0 THEN 64 "
        "WHEN doc_id % 4 = 0 THEN 64 WHEN doc_id % 4 = 1 THEN 128 "
        "WHEN doc_id % 4 = 2 THEN 192 ELSE 320 END AS INT) "
        "AS bitrate_kbps, "
        "doc_id % 7 = 0 AS vbr, "
        "doc_id % 2 = 0 AS has_id3, "
        "CAST((3 + doc_id % 5) * 1152 * 1000000 // 44100 AS BIGINT) "
        "AS duration_us, "
        "CAST(NULL AS VARCHAR) AS error "
        "FROM documents"
    ),
    doc="2C multimodal: MP3 audio triage over a synthetic MPEG-1 Layer "
        "III corpus — every payload carries real frame headers encoding "
        "per-doc frame count / bitrate / VBR / ID3v2 shell as pure "
        "functions of doc_id (multimodal.synthetic_mp3s); "
        "audio_mp3_metadata WALKS the frame headers (sync, bitrate/rate "
        "tables, padding-aware frame lengths, ID3v2 syncsafe skip) and "
        "the oracle computes the expected fields arithmetically — a "
        "hash match proves the make→walk roundtrip lossless, incl. the "
        "integer-micros duration (1152 samples/frame). The triage a "
        "crawl pipeline runs to route audio by codec/bitrate before "
        "any sample decode; error stays NULL (no quarantines on a "
        "clean corpus)",
)
def q_audio_mp3(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.audio_mp3_metadata(multimodal.synthetic_mp3s(docs))


_GIF_W = "(8 + doc_id % 9)"
_GIF_H = "(6 + doc_id % 7)"
_GIF_N = "(2 + doc_id % 5)"
_GIF_P = f"({_GIF_W} * {_GIF_H})"


@query(
    "q_image_gif",
    bench=True,  # pure-Python LZW decode, r9 bench add
    oracle=(
        "SELECT doc_id, "
        f"CAST({_GIF_W} AS INT) AS width, "
        f"CAST({_GIF_H} AS INT) AS height, "
        f"CAST({_GIF_N} AS INT) AS n_colors, "
        "doc_id % 3 = 0 AS interlaced, "
        # sum over raster positions k of (k % n), in closed form:
        # full cycles * n(n-1)/2 + remainder r * (r-1)/2
        f"CAST(({_GIF_P} // {_GIF_N}) * {_GIF_N} * ({_GIF_N} - 1) // 2 "
        f"+ ({_GIF_P} % {_GIF_N}) * (({_GIF_P} % {_GIF_N}) - 1) // 2 "
        "AS BIGINT) AS idx_sum "
        "FROM documents"
    ),
    doc="2C multimodal: GIF codec tier over a synthetic single-frame "
        "corpus — REAL GIFs through the pure-Python LZW encoder "
        "(geometry a pure function of doc_id, every third doc "
        "interlaced; operators/gif.py synthetic_gifs), then the decode "
        "stage walks descriptor + color table + variable-width LZW + "
        "deinterlace and emits dims / colors-used / interlace flag / "
        "palette-index sum recovered from pixels (gif_image_stats). "
        "The arithmetic oracle predicts every field from doc_id, so a "
        "hash match proves the encode→LZW→decode→deinterlace roundtrip "
        "lossless corpus-wide — the q_audio_mp3 posture for the third "
        "classic raster format",
)
def q_image_gif(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import gif
    from aws_data_pipeline_ads_spark.operators.partitioning import fan_out

    # fan_out: pure-Python LZW encode+decode is by far the heaviest
    # per-row work in the bench set, and a single-row-group corpus
    # plans it as ONE task (guide §2.5 / §4). Widening the scan puts
    # every core on codec work; no-op on multi-split inputs
    # (r12 A/B: 1.87 -> 1.02 s interleaved medians).
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    return gif.gif_image_stats(gif.synthetic_gifs(docs))


_BMP_W = "(5 + doc_id % 9)"
_BMP_H = "(6 + doc_id % 7)"
_BMP_SA = "(doc_id % 256 + (3 * doc_id) % 256 + (7 * doc_id) % 256)"


@query(
    "q_image_bmp",
    bench=True,  # numpy BMP decode, r9 bench add
    oracle=(
        "SELECT doc_id, "
        f"CAST({_BMP_W} AS INT) AS width, "
        f"CAST({_BMP_H} AS INT) AS height, "
        "CAST(doc_id % 256 AS INT) AS first_r, "
        "CAST((3 * doc_id) % 256 AS INT) AS first_g, "
        "CAST((7 * doc_id) % 256 AS INT) AS first_b, "
        f"CAST({_BMP_W} * (({_BMP_H} // 2) * {_BMP_SA} "
        f"+ ({_BMP_H} - {_BMP_H} // 2) * (765 - {_BMP_SA})) AS BIGINT) "
        "AS channel_sum FROM documents"
    ),
    doc="2C multimodal: BMP codec tier over a synthetic two-band "
        "corpus — REAL BI_RGB DIBs through the pure-numpy encoder "
        "(odd widths exercise 4-byte row padding, every third doc "
        "written TOP-DOWN / negative height; operators/bmp.py "
        "synthetic_bmps); the decode stage emits dims, the decoded "
        "top-left pixel (a bottom-up/top-down flip bug swaps the "
        "color bands) and the full channel sum (padding bytes leaking "
        "into pixels would shift it). Arithmetic oracle per doc_id — "
        "hash match proves the encode→pad→flip→decode roundtrip "
        "lossless corpus-wide (bmp_image_stats)",
)
def q_image_bmp(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import bmp

    docs = load_table(spark, sf_dir, "documents")
    return bmp.bmp_image_stats(bmp.synthetic_bmps(docs))


@query(
    "q_audio_features",
    # Promoted to a FULL value-hash oracle (r11): DuckDB re-derives the
    # little-endian int16 stream from hex(encode(text)) byte pairs and
    # replays n_samples / duration / RMS EXACTLY. The float math is
    # provably bit-exact cross-engine: each sample² = k/2³⁰ with
    # k ≤ 2³⁰, so every partial float64 sum is exact while
    # n·2³⁰ < 2⁵³ (docs are KB-sized), leaving one correctly-rounded
    # division and one correctly-rounded sqrt — identical in numpy and
    # DuckDB regardless of summation order.
    oracle=(
        "WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, "
        "octet_length(encode(text)) // 2 AS n FROM documents), "
        "ix AS (SELECT CAST(r.range AS INT) AS i FROM range(8192) r), "
        "s AS (SELECT doc_id, n, CAST(concat('0x', "
        "substr(hx, 4*i+3, 2), substr(hx, 4*i+1, 2)) AS INT) AS u16 "
        "FROM b JOIN ix ON ix.i < b.n), "
        "v AS (SELECT doc_id, n, "
        "CAST(u16 - 65536 * (u16 >= 32768)::INT AS BIGINT) AS s16 "
        "FROM s) "
        "SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_samples, "
        "b.n / 16000.0 AS duration_s, "
        "CASE WHEN b.n = 0 THEN 0.0 ELSE "
        "sqrt((COALESCE(SUM(CAST(v.s16*v.s16 AS DOUBLE)), 0) "
        "/ 1073741824.0) / b.n) END AS rms "
        "FROM b LEFT JOIN v ON b.doc_id = v.doc_id "
        "GROUP BY b.doc_id, b.n"
    ),
    doc="2C multimodal: audio feature stage — payload bytes as headerless "
        "16-bit PCM (deterministic contract; real RIFF/WAVE parse is the "
        "use_fake_decoder=False path, pytest-verified) → n_samples / "
        "duration / RMS energy per doc, vectorized per Arrow batch "
        "(multimodal.extract_audio_features). Hash-verified end-to-end "
        "since r11: the oracle replays the int16 decode and the RMS "
        "fold bit-exactly (see oracle comment), so a byte-order slip, "
        "an off-by-one in the odd-tail drop, or a normalization drift "
        "all fail the gate",
)
def q_audio_features(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.extract_audio_features(multimodal.attach_media(docs))


@query(
    "q_audio_segments",
    # Promoted to a FULL value-hash oracle (r11, extending the
    # q_audio_features int16-replay): DuckDB re-derives the sample
    # stream from hex byte pairs, frames it (40 samples at
    # sample_rate=2000 / 20 ms), replays the exact-float frame-RMS
    # gate (> 0.02), merges contiguous active frames with
    # gaps-and-islands, drops < 2-frame runs, and recomputes each
    # segment's pooled RMS. Same bit-exactness argument as
    # q_audio_features: every sample² is k/2³⁰ with exact partial
    # sums, so the gate booleans and the two correctly-rounded
    # closing ops agree cross-engine.
    oracle=(
        "WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, "
        "octet_length(encode(text)) // 2 AS n FROM documents), "
        "ix AS (SELECT CAST(r.range AS INT) AS i FROM range(8192) r), "
        "s AS (SELECT doc_id, i, CAST(concat('0x', "
        "substr(hx, 4*i+3, 2), substr(hx, 4*i+1, 2)) AS INT) AS u16 "
        "FROM b JOIN ix ON ix.i < (b.n // 40) * 40), "
        "v AS (SELECT doc_id, i // 40 AS f, "
        "CAST(u16 - 65536 * (u16 >= 32768)::INT AS BIGINT) AS s16 "
        "FROM s), "
        "fr AS (SELECT doc_id, f, SUM(CAST(s16*s16 AS DOUBLE)) AS ss "
        "FROM v GROUP BY doc_id, f), "
        "af AS (SELECT doc_id, f, ss, "
        "sqrt((ss / 1073741824.0) / 40) > 0.02 AS act FROM fr), "
        "isl AS (SELECT doc_id, f, ss, act, f - ROW_NUMBER() OVER "
        "(PARTITION BY doc_id, act ORDER BY f) AS grp FROM af), "
        "seg AS (SELECT doc_id, MIN(f) AS fs, MAX(f) + 1 AS fe, "
        "COUNT(*) AS nf, SUM(ss) AS sst FROM isl WHERE act "
        "GROUP BY doc_id, grp), "
        "out AS (SELECT doc_id, fs, fe, sst, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fs) - 1 "
        "AS INT) AS segment_no FROM seg WHERE nf >= 2) "
        "SELECT doc_id, segment_no, "
        "round(fs * 40 / 2000.0, 6) AS start_s, "
        "round(fe * 40 / 2000.0, 6) AS end_s, "
        "round(sqrt((sst / 1073741824.0) / ((fe - fs) * 40)), 6) AS rms "
        "FROM out"
    ),
    doc="2C multimodal: energy-based audio segmentation (the VAD-ish "
        "stage a speech pipeline runs before transcription) — 20 ms "
        "frame RMS, threshold gate, contiguous-active merge, one row "
        "per voiced segment; vectorized reshape per clip, 1-to-N "
        "mapInPandas explosion (multimodal.audio_segments). Declared "
        "with sample_rate=2000 (40 samples/frame) so the short "
        "text-faked PCM clips in testdata yield >=2 frames per doc — "
        "at 16 kHz every testdata clip is sub-frame and the check "
        "would verify a permanently-empty result. Hash-verified "
        "end-to-end since r11 (see oracle comment)",
)
def q_audio_segments(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.audio_segments(
        multimodal.attach_media(docs), sample_rate=2000
    )


_BPE_SQL = ("''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+"
            "| ?[^\\sA-Za-z0-9]+|\\s+")


@query(
    "q_token_bpe",
    oracle=(
        "SELECT doc_id, "
        f"CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS BIGINT) "
        "AS n_bpe_tokens, "
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) "
        "AS n_ws_tokens, "
        f"CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS DOUBLE) "
        "/ len(regexp_split_to_array(trim(text), '\\s+')) AS fertility "
        "FROM documents"
    ),
    doc="2C text: BPE-ish pre-tokenizer counts + fertility vs whitespace "
        "words — leftmost-first alternation executes identically in Java "
        "regex and RE2 (textstats.bpe_token_counts, zero shuffles)",
)
def q_token_bpe(spark, sf_dir):
    return textstats.bpe_token_counts(load_table(spark, sf_dir, "documents"))


def _u32_sql(key: str) -> str:
    from aws_data_pipeline_ads_spark.operators.sampling import hash_u32_sql

    return hash_u32_sql(key)


@query(
    "q_sample_weighted",
    oracle=(
        "SELECT doc_id, n_chars, "
        f"(({_u32_sql('CAST(doc_id AS STRING)')} + 1) / 4294967297.0::DOUBLE) "
        "/ n_chars AS sample_key "
        "FROM documents ORDER BY sample_key, doc_id LIMIT 50"
    ),
    doc="LLM curation: weighted-without-replacement sample (sequential "
        "Poisson, u/w keys — division-only, so bit-reproducible and "
        "oracle-verifiable unlike pow-based A-ES); length-weighted over "
        "documents; sampling.weighted_sample",
)
def q_sample_weighted(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", 50)


_CLEAN_SQL = (
    f"regexp_replace(regexp_replace(regexp_replace(text, '{_PII_EMAIL}', "
    f"'<EMAIL>', 'g'), '{_PII_PHONE}', '<PHONE>', 'g'), '{_PII_IP}', "
    "'<IP>', 'g')"
)


@query(
    "q_corpus_prep",
    oracle=(
        f"WITH c AS (SELECT doc_id, lang, {_CLEAN_SQL} AS ct, "
        f"(len(regexp_extract_all(text, '{_PII_EMAIL}')) "
        f"+ len(regexp_extract_all(text, '{_PII_PHONE}')) "
        f"+ len(regexp_extract_all(text, '{_PII_IP}')) > 0) AS had_pii "
        "FROM documents), "
        "q AS (SELECT doc_id, lang, had_pii, "
        "CAST(len(regexp_split_to_array(trim(ct), '\\s+')) AS BIGINT) AS n_toks, "
        "md5(lower(regexp_replace(trim(ct), '\\s+', ' ', 'g'))) AS fp, "
        "CAST(length(ct) AS BIGINT) AS n_chars, "
        "CAST(length(ct) - length(regexp_replace(ct, '[^a-zA-Z0-9\\s]', '', 'g')) "
        "AS DOUBLE) / length(ct) AS punct_ratio FROM c), "
        "ok AS (SELECT * FROM q WHERE n_chars >= 20 AND n_toks >= 5 "
        "AND punct_ratio < 0.3), "
        "canon AS (SELECT MIN(doc_id) AS doc_id FROM ok GROUP BY fp), "
        "s AS (SELECT o.* FROM ok o JOIN canon USING (doc_id) "
        "WHERE (instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) * 16 "
        "+ (instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 2, 1)) - 1) < 128) "
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(n_toks) AS BIGINT) AS total_tokens, "
        "CAST(SUM(CASE WHEN had_pii THEN 1 ELSE 0 END) AS BIGINT) AS n_had_pii "
        "FROM s GROUP BY lang"
    ),
    doc="LLM-data showcase #2, the WHOLE prep pipeline in one plan: PII "
        "scrub → quality gate on cleaned text → exact dedup → "
        "deterministic 50% hash sample → per-lang shard stats; every "
        "stage engine-deterministic so the composition hash-matches "
        "(textstats.prepare_corpus)",
)
def q_corpus_prep(spark, sf_dir):
    return textstats.prepare_corpus(load_table(spark, sf_dir, "documents"))


@query(
    "q_neardup_clusters_lsh",
    # The md5-based MinHash made the whole chain oracle-portable: LSH →
    # verify → recursive-CTE connected components, all hash-verified.
    oracle=(
        "WITH RECURSIVE " + dedup.verified_neardup_cte(0.8) + ", "
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM vpairs "
        "UNION ALL SELECT doc_b, doc_a FROM vpairs), "
        "reach(node, lab) AS ("
        "SELECT doc_id, doc_id FROM documents "
        "UNION "
        "SELECT e.dst, r.lab FROM edges e JOIN reach r ON e.src = r.node), "
        "lab AS (SELECT node AS doc_id, MIN(lab) AS cluster_id "
        "FROM reach GROUP BY node) "
        "SELECT doc_id, cluster_id, "
        "COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size, "
        "doc_id = cluster_id AS keep FROM lab ORDER BY doc_id"
    ),
    doc="LLM dedup, the full 100 TB composition DECLARED end-to-end: "
        "MinHash-LSH candidates → exact-Jaccard verify → connected "
        "components → canonical per cluster (graph.neardup_clusters "
        "over dedup.verified_neardup_pairs)",
)
def q_neardup_clusters_lsh(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import graph

    docs = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_pairs_served(spark, minhash_index(spark, sf_dir))
    pairs = dedup.verified_neardup_pairs(docs, 0.8, cand=cand)
    return graph.neardup_clusters(docs, pairs).orderBy("doc_id")


@query(
    "q_neardup_keep_best",
    # Same verified-pair + recursive-CTE CC chain as
    # q_neardup_clusters_lsh; the canonical pick changes from min-id to
    # argmax(n_chars) — the curation-correct collapse (keep the full
    # article, drop the truncated scrapes).
    oracle=(
        "WITH RECURSIVE " + dedup.verified_neardup_cte(0.8) + ", "
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM vpairs "
        "UNION ALL SELECT doc_b, doc_a FROM vpairs), "
        "reach(node, lab) AS ("
        "SELECT doc_id, doc_id FROM documents "
        "UNION "
        "SELECT e.dst, r.lab FROM edges e JOIN reach r ON e.src = r.node), "
        "lab AS (SELECT node AS doc_id, MIN(lab) AS cluster_id "
        "FROM reach GROUP BY node), "
        "j AS (SELECT l.doc_id, l.cluster_id, d.n_chars "
        "FROM lab l JOIN documents d USING (doc_id)) "
        "SELECT doc_id, cluster_id, "
        "COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size, "
        "n_chars, "
        "ROW_NUMBER() OVER (PARTITION BY cluster_id "
        "ORDER BY n_chars DESC, doc_id) = 1 AS keep FROM j"
    ),
    doc="LLM dedup: quality-canonical near-dup collapse — LSH "
        "candidates → exact-Jaccard verify → connected components → "
        "keep the HIGHEST-QUALITY member per cluster (argmax n_chars, "
        "min-id tiebreak), not an arbitrary one "
        "(graph.neardup_keep_best)",
)
def q_neardup_keep_best(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import graph

    docs = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_pairs_served(spark, minhash_index(spark, sf_dir))
    pairs = dedup.verified_neardup_pairs(docs, 0.8, cand=cand)
    return graph.neardup_keep_best(docs, pairs, quality_col="n_chars")


@query(
    "q_chunk_documents",
    oracle=(
        "WITH t AS (SELECT doc_id, "
        "regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), "
        "c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, "
        "[array_to_string(toks[(i - 1) * 48 + 1 : (i - 1) * 48 + 64], ' ') "
        "for i in generate_series(1, greatest(1, (len(toks) - 16 + 47) // 48))] "
        "AS chunks FROM t) "
        "SELECT doc_id, "
        "CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS chunk_id, "
        "n_tokens, unnest(chunks) AS chunk_text, "
        "CAST(len(regexp_split_to_array(unnest(chunks), '\\s+')) AS BIGINT) "
        "AS chunk_tokens FROM c"
    ),
    doc="LLM prep: overlapping 64-token chunks, stride 48 — the context "
        "packing step; pure array expressions, zero shuffles "
        "(textstats.chunk_documents)",
)
def q_chunk_documents(spark, sf_dir):
    return textstats.chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


@query(
    "q_domain_caps",
    oracle=(
        "SELECT doc_id, source, n_chars, rank FROM ("
        "SELECT doc_id, source, n_chars, ROW_NUMBER() OVER ("
        "PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank "
        "FROM documents) WHERE rank <= 10"
    ),
    doc="LLM corpus curation: per-domain quota (keep the 10 best docs "
        "per source) via skew-safe two-phase top-k — the oracle runs "
        "the naive single-window form, the Spark plan salts the hot "
        "domain across 64 reducers first (operators/sampling.py)",
)
def q_domain_caps(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators.sampling import per_source_cap

    return per_source_cap(load_table(spark, sf_dir, "documents"), 10)


@query(
    "q_curriculum_order",
    bench=True,  # percentile-broadcast + banded shuffle shape, new in r7
    oracle=(
        # Mirrors sampling.curriculum_order: exact quartile thresholds
        # (quantile_cont == Spark's percentile, both type-7 linear
        # interpolation — the q_sample_stratified precedent), band by
        # descending quality, md5 shard + in-shard rank.
        "WITH q AS (SELECT quantile_cont(n_chars, 0.25) AS q1, "
        "quantile_cont(n_chars, 0.5) AS q2, "
        "quantile_cont(n_chars, 0.75) AS q3 FROM documents), "
        "b AS (SELECT doc_id, n_chars, "
        "CASE WHEN n_chars >= q3 THEN 1 WHEN n_chars >= q2 THEN 2 "
        "WHEN n_chars >= q1 THEN 3 ELSE 4 END AS band, "
        + hash_u32_sql("concat('curriculum0', ':', CAST(doc_id AS STRING))")
        + " AS h FROM documents, q) "
        "SELECT doc_id, n_chars, band, CAST(h % 16 AS BIGINT) AS shard, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY band, h % 16 "
        "ORDER BY h, doc_id) AS BIGINT) AS pos FROM b"
    ),
    doc="LLM training prep: curriculum ordering — quality-descending "
        "quartile bands (band 1 = top quartile, trained first; "
        "broadcast exact-percentile thresholds), deterministic md5 "
        "shard + position within each band; global order = "
        "(band, shard, pos) with no global sort "
        "(sampling.curriculum_order)",
)
def q_curriculum_order(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators.sampling import (
        curriculum_order,
    )

    return curriculum_order(load_table(spark, sf_dir, "documents"))


@query(
    "q_epoch_mixture",
    oracle=(
        # Mirrors sampling.epoch_mixture_sample: tempered per-domain
        # epochs (τ=0.5 → sqrt, correctly rounded per IEEE; same
        # multiply/divide order as the Spark expression; ROUND 6), then
        # per-row n_copies = ⌊e⌋ + (md5-gate < frac(e)) and a
        # generate_series expansion. generate_series(1, 0) is empty in
        # DuckDB, matching Spark's n_copies > 0 filter.
        "WITH counts AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs "
        "FROM documents GROUP BY source), "
        "w AS (SELECT source, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS wgt "
        "FROM counts), "
        "tw AS (SELECT SUM(wgt) AS t FROM w), "
        "e AS (SELECT source, n_docs, "
        "ROUND(8000.0 * (wgt / t) / CAST(n_docs AS DOUBLE), 6) AS epochs "
        "FROM w, tw), "
        "g AS (SELECT d.doc_id, d.source, e.epochs, "
        "CAST(FLOOR(e.epochs) AS BIGINT) + (CASE WHEN "
        "CAST(" + hash_u32_sql("CAST(doc_id AS STRING) || ':epoch'")
        + " AS DOUBLE) / 4294967296.0 < e.epochs - FLOOR(e.epochs) "
        "THEN 1 ELSE 0 END) AS n_copies "
        "FROM documents d JOIN e USING (source)) "
        "SELECT doc_id, source, epochs, "
        "CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy "
        "FROM g"
    ),
    doc="LLM mixing: epoch-aware training mixture — per-domain epoch "
        "counts q_i ∝ sqrt(n_i) (UNCAPPED: scarce domains repeat, like "
        "the Llama/Gopher mixture tables), each doc replicated ⌊e⌋ "
        "times plus one md5-gated extra at frac(e); deterministic, "
        "partitioning-invariant, zero corpus shuffle "
        "(sampling.epoch_mixture_sample)",
)
def q_epoch_mixture(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators.sampling import (
        epoch_mixture_sample,
    )

    return epoch_mixture_sample(
        load_table(spark, sf_dir, "documents"), target_rows=8000
    )


@query(
    "q_span_dedup",
    oracle=(
        "WITH toked AS (SELECT doc_id, "
        "regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), "
        "sp AS (SELECT doc_id, unnest(CASE WHEN len(toks) <= 32 "
        "THEN [{'pos': 0, 'h': md5(array_to_string(toks, ' '))}] "
        "ELSE [{'pos': i, 'h': md5(array_to_string(toks[(i*16+1):(i*16+32)], ' '))} "
        "for i in generate_series(0, CAST(floor((len(toks)-32)/16.0) AS INT))] END, "
        "recursive := true) FROM toked), "
        "w AS (SELECT doc_id, pos, h, ROW_NUMBER() OVER "
        "(PARTITION BY h ORDER BY doc_id, pos) AS rn FROM sp) "
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans, "
        "CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans, "
        "ROUND(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) "
        "AS dup_fraction, "
        "(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) <= 0.5) "
        "AS span_ok FROM w GROUP BY doc_id"
    ),
    doc="LLM dedup (ExactSubstr-style, Lee et al.): corpus-wide 32-token "
        "sliding-window winner election, per-doc duplicated-span "
        "fraction + keep gate — the suffix-array dedup signal as an "
        "explode + slim-hash election Spark can run at 100 TB "
        "(dedup.span_dedup_stats)",
)
def q_span_dedup(spark, sf_dir):
    return dedup.span_dedup_stats(load_table(spark, sf_dir, "documents"))


@query(
    "q_domain_mixture",
    oracle=(
        "WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "sqrt(CAST(COUNT(*) AS DOUBLE)) AS w FROM documents GROUP BY source), "
        "t AS (SELECT SUM(w) AS tw FROM c), "
        "r AS (SELECT source, n_docs, "
        "ROUND(LEAST(1.0, 1000.0 * (w / tw) / CAST(n_docs AS DOUBLE)), 6) "
        "AS rate FROM c, t) "
        "SELECT d.doc_id, d.source, r.rate FROM documents d "
        "JOIN r USING (source) "
        "WHERE CAST(" + hash_u32_sql("CAST(doc_id AS STRING)")
        + " AS DOUBLE) / 4294967296.0 < r.rate"
    ),
    doc="LLM data mixing: temperature-based domain sampling (q_i ∝ "
        "n_i^0.5, per-domain keep rate min(1, target·q_i/n_i)) realized "
        "by a deterministic md5 gate — τ=0.5 computes via sqrt, which "
        "IEEE requires correctly rounded, so rates AND membership are "
        "bit-identical cross-engine (sampling.domain_mixture_sample)",
)
def q_domain_mixture(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators.sampling import (
        domain_mixture_sample,
    )

    return domain_mixture_sample(
        load_table(spark, sf_dir, "documents"), "source", "doc_id", 0.5, 1000
    )


@query(
    "q_unigram_lm",
    oracle=(
        # Mirrors the slim-stream fold: per-doc tf first, Σ n_k·ln(c_t)
        # through DECIMAL(38,18) — same doubles, same order as Spark.
        "WITH toks AS (SELECT doc_id, "
        "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok "
        "FROM documents), "
        "doc_tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n_k "
        "FROM toks GROUP BY doc_id, tok), "
        "counts AS (SELECT tok, CAST(SUM(n_k) AS BIGINT) AS c_t "
        "FROM doc_tf GROUP BY tok), "
        "total AS (SELECT SUM(c_t) AS t_total FROM counts) "
        "SELECT doc_id, CAST(SUM(n_k) AS BIGINT) AS n_tok, "
        "round(ln(MIN(t_total)) - "
        "CAST(SUM(CAST(n_k * ln(c_t) AS DECIMAL(38,18))) AS DOUBLE) "
        "/ CAST(SUM(n_k) AS BIGINT), 6) AS nll "
        "FROM doc_tf JOIN counts USING (tok) CROSS JOIN total "
        "GROUP BY doc_id"
    ),
    doc="LLM quality filter: per-doc mean negative log-likelihood under "
        "a corpus-trained unigram LM (CCNet-style perplexity filter "
        "reduced to its operator shape); decimal-summed ln so the fold "
        "is order-invariant",
)
def q_unigram_lm(spark, sf_dir):
    return textstats.unigram_lm_nll(load_table(spark, sf_dir, "documents"))


@query(
    "q_bigram_lm",
    oracle=(
        # Mirrors the Spark fold exactly: per-doc pair counts FIRST,
        # then Σ n_k·ln(p_k) through DECIMAL(38,18) — same doubles in
        # the same order as the operator's slim-stream formulation.
        "WITH tok AS (SELECT doc_id, "
        "regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), "
        "pos AS (SELECT doc_id, unnest([{'w_prev': toks[i], 'w': toks[i+1]} "
        "for i in generate_series(1, len(toks)-1)], recursive := true) FROM tok), "
        "doc_pair AS (SELECT doc_id, w_prev, w, CAST(COUNT(*) AS BIGINT) AS n_k "
        "FROM pos GROUP BY doc_id, w_prev, w), "
        "pair_c AS (SELECT w_prev, w, CAST(SUM(n_k) AS BIGINT) AS c_pair "
        "FROM doc_pair GROUP BY w_prev, w), "
        "ctx_c AS (SELECT w_prev, CAST(SUM(c_pair) AS BIGINT) AS c_ctx "
        "FROM pair_c GROUP BY w_prev), "
        "vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM "
        "(SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok "
        "FROM documents)), "
        "scored AS (SELECT doc_id, CAST(SUM(n_k) AS BIGINT) AS n_bigrams, "
        "round(-CAST(SUM(CAST(n_k * ln((c_pair + 1.0) / (c_ctx + 1.0 * v)) "
        "AS DECIMAL(38,18))) AS DOUBLE) / CAST(SUM(n_k) AS BIGINT), 6) AS nll "
        "FROM doc_pair JOIN pair_c USING (w_prev, w) JOIN ctx_c USING (w_prev) "
        "CROSS JOIN vocab GROUP BY doc_id) "
        "SELECT d.doc_id, CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams, "
        "s.nll FROM documents d LEFT JOIN scored s USING (doc_id)"
    ),
    doc="LLM quality filter, order 2: per-doc mean NLL under an "
        "add-1-smoothed bigram LM trained on the corpus (the CCNet/"
        "KenLM shape — context-conditioned probabilities); decimal-"
        "summed ln so the fold is order-invariant "
        "(textstats.bigram_lm_nll)",
)
def q_bigram_lm(spark, sf_dir):
    return textstats.bigram_lm_nll(load_table(spark, sf_dir, "documents"))


@query(
    "q_source_kl",
    oracle=(
        "WITH toks AS (SELECT source, "
        "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok "
        "FROM documents), "
        "sc AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_st "
        "FROM toks GROUP BY source, tok), "
        "s_tot AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s "
        "FROM sc GROUP BY source), "
        "cc AS (SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t "
        "FROM sc GROUP BY tok), "
        "c_tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM cc) "
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens, "
        "MAX(n_s) AS n_tokens, "
        "round(CAST(SUM(CAST((CAST(c_st AS DOUBLE) / n_s) "
        "* ln((CAST(c_st AS DOUBLE) / n_s) / (CAST(c_t AS DOUBLE) / n)) "
        "AS DECIMAL(38,18))) AS DOUBLE), 6) AS kl_bits_nat "
        "FROM sc JOIN s_tot USING (source) JOIN cc USING (tok) "
        "CROSS JOIN c_tot GROUP BY source"
    ),
    doc="LLM data-mixture diagnostic: KL(source ‖ corpus) over token "
        "unigram distributions — which sources' vocabularies deviate "
        "most from the mixture, the profiling pass run before setting "
        "domain-sampling temperatures (textstats.source_kl_divergence)",
)
def q_source_kl(spark, sf_dir):
    return textstats.source_kl_divergence(load_table(spark, sf_dir, "documents"))


@query(
    "q_filter_attrition",
    oracle=(
        "WITH q AS (SELECT "
        "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp, "
        "CAST(length(text) AS BIGINT) AS n_chars, "
        "CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', "
        "'', 'g')) AS BIGINT) AS n_punct, "
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_toks, "
        "CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) "
        "AS BIGINT) AS n_dist FROM documents), "
        "g AS (SELECT fp, "
        "(n_chars >= 20 AND n_toks >= 5) AS p1, "
        "(n_chars >= 20 AND n_toks >= 5 AND "
        "(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars END) "
        "< 0.3) AS p2, "
        "(n_chars >= 20 AND n_toks >= 5 AND "
        "(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars END) "
        "< 0.3 AND CAST(n_toks - n_dist AS DOUBLE) / n_toks <= 0.6) AS p3 "
        "FROM q) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS after_length, "
        "CAST(SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS after_punct, "
        "CAST(SUM(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS after_repetition, "
        "CAST(COUNT(DISTINCT CASE WHEN p3 THEN fp END) AS BIGINT) AS after_dedup "
        "FROM g"
    ),
    doc="LLM curation observability: the filter-funnel attrition report "
        "(survivors after length → punctuation → repetition → exact "
        "dedup gates, Dolma/RefinedWeb release-notes convention) — one "
        "map-side-combined aggregate, dedup survivors via conditional "
        "COUNT DISTINCT, no joins (textstats.filter_attrition)",
)
def q_filter_attrition(spark, sf_dir):
    return textstats.filter_attrition(load_table(spark, sf_dir, "documents"))


_UNIGRAM_CTE = (
    "toks AS (SELECT doc_id, "
    "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok "
    "FROM documents), "
    "doc_tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n_k "
    "FROM toks GROUP BY doc_id, tok), "
    "counts AS (SELECT tok, CAST(SUM(n_k) AS BIGINT) AS c_t "
    "FROM doc_tf GROUP BY tok), "
    "total AS (SELECT SUM(c_t) AS t_total FROM counts), "
    "scored AS (SELECT doc_id, CAST(SUM(n_k) AS BIGINT) AS n_tok, "
    "round(ln(MIN(t_total)) - "
    "CAST(SUM(CAST(n_k * ln(c_t) AS DECIMAL(38,18))) AS DOUBLE) "
    "/ CAST(SUM(n_k) AS BIGINT), 6) AS nll "
    "FROM doc_tf JOIN counts USING (tok) CROSS JOIN total "
    "GROUP BY doc_id)"
)


@query(
    "q_perplexity_sample",
    oracle=(
        "WITH " + _UNIGRAM_CTE + ", "
        "q AS (SELECT quantile_cont(nll, CAST(1.0 AS DOUBLE) / 3.0) AS t1, "
        "quantile_cont(nll, CAST(2.0 AS DOUBLE) / 3.0) AS t2 FROM scored) "
        "SELECT s.doc_id, s.n_tok, s.nll, "
        "CASE WHEN s.nll IS NULL THEN 'unscored' "
        "WHEN s.nll < q.t1 THEN 'head' "
        "WHEN s.nll < q.t2 THEN 'middle' ELSE 'tail' END AS band, "
        "(" + hash_bucket_sql("CAST(s.doc_id AS STRING)") + " < "
        "CASE WHEN s.nll IS NOT NULL AND s.nll < q.t1 THEN 64 "
        "WHEN s.nll IS NOT NULL AND s.nll < q.t2 THEN 192 "
        "ELSE 64 END) AS kept "
        "FROM scored s CROSS JOIN q"
    ),
    doc="LLM curation: CCNet-style perplexity-stratified sampling — "
        "head/middle/tail terciles of unigram-LM nll, each band "
        "hash-gated at its own rate (middle kept hardest); thresholds "
        "are one broadcast exact-percentile row, the gate is the "
        "partitioning-invariant md5 bucket "
        "(sampling.perplexity_stratified_sample over "
        "textstats.unigram_lm_nll)",
)
def q_perplexity_sample(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators.sampling import (
        perplexity_stratified_sample,
    )

    scored = textstats.unigram_lm_nll(load_table(spark, sf_dir, "documents"))
    return perplexity_stratified_sample(scored)


@query(
    "q_pack_sequences",
    oracle=(
        "SELECT doc_id, source, "
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) "
        "AS n_tok, "
        "CAST(SUM(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)) "
        "OVER w - CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) "
        "AS BIGINT) AS offset, "
        "CAST(floor((SUM(CAST(len(regexp_split_to_array(trim(text), '\\s+')) "
        "AS BIGINT)) OVER w - CAST(len(regexp_split_to_array(trim(text), "
        "'\\s+')) AS BIGINT)) / 256) AS BIGINT) AS seq_id "
        "FROM documents "
        "WINDOW w AS (PARTITION BY source ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    ),
    doc="LLM corpus assembly: GPT-style packing — concat each source's "
        "docs in doc_id order, chunk the token stream into 256-token "
        "training sequences; each doc carries its stream offset and "
        "first-token sequence id",
)
def q_pack_sequences(spark, sf_dir):
    return textstats.pack_sequences(load_table(spark, sf_dir, "documents"), 256)


@query(
    "q_data_split",
    oracle=(
        "WITH b AS (SELECT n_chars, "
        + hash_bucket_sql("CAST(doc_id AS STRING)")
        + " AS bucket FROM documents) "
        "SELECT CASE WHEN bucket < 204 THEN 'train' "
        "WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split, "
        "COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars "
        "FROM b GROUP BY 1"
    ),
    doc="LLM data management: deterministic 80/10/10 train/val/test "
        "split from the md5 bucket of doc_id — re-run-stable, "
        "append-stable, leakage-safe across tables sharing the key; "
        "the split is a projected column (zero shuffle)",
)
def q_data_split(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators.sampling import train_val_test_split

    docs = train_val_test_split(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    return docs.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "q_image_exif",
    bench=True,
    oracle=(
        "SELECT doc_id, CAST(1 + doc_id % 8 AS INTEGER) AS orientation, "
        "'maker_' || CAST(doc_id % 5 AS VARCHAR) AS make, "
        "'m' || CAST(doc_id % 3 AS VARCHAR) AS model, "
        "doc_id % 3 = 0 AS has_gps, "
        "CAST(3 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) "
        "AS n_tags FROM documents"
    ),
    doc="2C multimodal: EXIF/TIFF metadata triage — each doc carries a "
        "JPEG whose APP1 EXIF encodes per-doc orientation/make/model/"
        "GPS-presence (write-side twin exif.make_exif_jpeg, byte order "
        "alternating II/MM by parity); image_exif recovers them by "
        "PARSING the TIFF IFD chain, and the oracle computes the same "
        "fields arithmetically — a hash match proves the write→parse "
        "roundtrip lossless in both byte orders. has_gps is the "
        "geotag/PII routing signal; coordinates are never extracted",
)
def q_image_exif(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import exif

    docs = load_table(spark, sf_dir, "documents")
    parsed = exif.image_exif(exif.synthetic_exif_images(docs))
    return parsed.select("doc_id", "orientation", "make", "model",
                         "has_gps", "n_tags")


@query(
    "q_leakage_safe_split",
    oracle=(
        "WITH RECURSIVE "
        "toks AS (SELECT DISTINCT doc_id, lang, "
        "unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents), "
        "counts AS (SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common "
        "FROM toks a JOIN toks b ON a.tok = b.tok AND a.lang = b.lang "
        "AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "pairs AS (SELECT doc_a, doc_b FROM inter "
        "JOIN counts ca ON doc_a = ca.doc_id JOIN counts cb ON doc_b = cb.doc_id "
        "WHERE CAST(n_common AS DOUBLE) / (ca.n_toks + cb.n_toks - n_common) >= 0.8), "
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
        "UNION ALL SELECT doc_b, doc_a FROM pairs), "
        "reach(node, lab) AS ("
        "SELECT doc_id, doc_id FROM documents "
        "UNION "
        "SELECT e.dst, r.lab FROM edges e JOIN reach r ON e.src = r.node), "
        "lab AS (SELECT node AS doc_id, MIN(lab) AS cluster_id "
        "FROM reach GROUP BY node) "
        "SELECT doc_id, cluster_id, "
        "CASE WHEN " + hash_bucket_sql("CAST(cluster_id AS STRING)")
        + " < 204 THEN 'train' WHEN "
        + hash_bucket_sql("CAST(cluster_id AS STRING)")
        + " < 230 THEN 'val' ELSE 'test' END AS split FROM lab"
    ),
    doc="LLM data management: LEAKAGE-SAFE train/val/test split — the "
        "md5 gate keys on the near-dup CLUSTER id (connected components "
        "over the exact Jaccard pair graph, same machinery as "
        "q_neardup_clusters), so every member of a duplicate cluster "
        "lands on the SAME side of the train/test boundary. A plain "
        "per-doc split leaks: near-identical docs straddle the "
        "boundary and eval scores inflate — the classic contamination "
        "failure this query closes. Composition of two independently "
        "hash-verified operators, itself fully oracle-verified",
)
def q_leakage_safe_split(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import graph
    from aws_data_pipeline_ads_spark.operators.sampling import (
        train_val_test_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.token_jaccard_pairs(docs, 0.8)
    clusters = graph.neardup_clusters(docs, pairs).select(
        "doc_id", "cluster_id")
    return train_val_test_split(clusters, "cluster_id")


@query(
    "q_bpe_merges",
    oracle=(
        # the full 8-round table needs iterative re-segmentation (not
        # one SQL), but ROUND 0 is: the first merge must be the exact
        # weighted argmax over adjacent initial-symbol pairs (chars,
        # '</w>' glued to the last), ties lexicographic — DuckDB
        # recomputes it from the raw corpus through the same
        # normalization. Later rounds are pinned by the exact
        # invariants Sennrich merges must satisfy: counts positive and
        # monotonically non-increasing (a new pair's occurrences embed
        # a triple containing the pair just merged, so no later argmax
        # can exceed an earlier one). The full table stays pytest-
        # pinned against a pure-Python reference trainer.
        "WITH w AS (SELECT word, COUNT(*) AS n FROM ("
        "SELECT unnest(regexp_split_to_array(trim(lower(text)), "
        "'\\s+')) AS word FROM documents) WHERE word <> '' "
        "GROUP BY word), "
        "p AS (SELECT substr(word, i, 1) AS l, "
        "CASE WHEN i + 1 < length(word) THEN substr(word, i + 1, 1) "
        "ELSE substr(word, i + 1, 1) || '</w>' END AS r, n "
        "FROM w, unnest(range(1, length(word)::BIGINT)) AS t(i) "
        "WHERE length(word) > 1) "
        "SELECT CAST(8 AS BIGINT) AS n_merges, l AS first_left, "
        "r AS first_right, CAST(SUM(n) AS BIGINT) AS first_count, "
        "CAST(0 AS BIGINT) AS n_monotone_violations, "
        "CAST(0 AS BIGINT) AS n_nonpos_counts "
        "FROM p GROUP BY l, r ORDER BY first_count DESC, l, r LIMIT 1"
    ),
    doc="LLM tokenizer training: learn a BPE merge table on the corpus "
        "(Sennrich-style, distinct-word frequency table + one pair-"
        "count shuffle per round, 1-row argmax collects). Hash-checked "
        "on the exact training invariants: the first merge equals the "
        "corpus-wide weighted argmax bigram DuckDB recomputes from raw "
        "text (normalization + end-marker + tie-break all replayed), "
        "8 merges learned, all pair counts positive and non-"
        "increasing. The ordered merge table itself stays pytest-"
        "pinned against a pure-Python reference trainer "
        "(operators/bpe.py)",
)
def q_bpe_merges(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import bpe

    merges = bpe.bpe_train(load_table(spark, sf_dir, "documents"), 8)
    n_viol = sum(1 for i in range(1, len(merges))
                 if merges[i][2] > merges[i - 1][2])
    n_nonpos = sum(1 for _, _, c in merges if c <= 0)
    l0, r0, c0 = merges[0]
    return spark.createDataFrame(
        [(len(merges), l0, r0, c0, n_viol, n_nonpos)],
        "n_merges long, first_left string, first_right string, "
        "first_count long, n_monotone_violations long, "
        "n_nonpos_counts long",
    )


def wordpiece_model(spark, sf_dir: str) -> dict:
    """Trained WordPiece model per corpus, through the index cache
    (training is deterministic — exact-integer counts, one double
    division, lexicographic ties; reload beats retrain, same pattern
    as unigram_vocab/PCA/PQ)."""
    import json

    from aws_data_pipeline_ads_spark.operators import wordpiece

    def build(p: str) -> None:
        vocab, merges = wordpiece.wordpiece_train(
            load_table(spark, sf_dir, "documents"), n_merges=8)
        with open(f"{p}/wp.json", "w") as f:
            json.dump({"vocab": vocab, "merges": merges}, f)

    p = index_path("wordpiece", sf_dir, build)
    with open(f"{p}/wp.json") as f:
        return json.load(f)


@query(
    "q_wordpiece_vocab",
    oracle=(
        # round 0 is ONE SQL: the first WordPiece merge must be the
        # exact argmax of the likelihood-ratio score pn/(lc·rc) over
        # adjacent initial symbols (first char bare, the rest
        # ##-prefixed), ties lexicographic — DuckDB recomputes pair
        # AND symbol counts from the raw corpus through the same
        # normalization, and the score is one division of exact
        # integers (bit-exact cross-engine). The alphabet size is
        # exact too. Later rounds need iterative re-segmentation (not
        # one SQL) and stay pytest-pinned against a pure-Python
        # trainer (tests/test_wordpiece.py).
        "WITH w AS (SELECT word, COUNT(*) AS n FROM ("
        "SELECT unnest(regexp_split_to_array(trim(lower(text)), "
        "'\\s+')) AS word FROM documents) WHERE word <> '' "
        "GROUP BY word), "
        "sym AS (SELECT CASE WHEN i = 1 THEN substr(word, 1, 1) "
        "ELSE '##' || substr(word, i, 1) END AS s, n "
        "FROM w, unnest(range(1, length(word)::BIGINT + 1)) AS t(i)), "
        "symc AS (SELECT s, SUM(n) AS c FROM sym GROUP BY s), "
        "p AS (SELECT CASE WHEN i = 1 THEN substr(word, 1, 1) "
        "ELSE '##' || substr(word, i, 1) END AS l, "
        "'##' || substr(word, i + 1, 1) AS r, n "
        "FROM w, unnest(range(1, length(word)::BIGINT)) AS t(i) "
        "WHERE length(word) > 1), "
        "pc AS (SELECT l, r, SUM(n) AS pn FROM p GROUP BY l, r), "
        "sc AS (SELECT pc.l, pc.r, pc.pn, a.c AS lc, b.c AS rc "
        "FROM pc JOIN symc a ON a.s = pc.l "
        "JOIN symc b ON b.s = pc.r) "
        "SELECT CAST(8 AS BIGINT) AS n_merges, l AS first_left, "
        "r AS first_right, "
        "CAST(pn AS DOUBLE) / CAST(lc * rc AS DOUBLE) AS first_score, "
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM symc) AS n_alphabet, "
        "CAST(0 AS BIGINT) AS n_nonpos_scores "
        "FROM sc ORDER BY CAST(pn AS DOUBLE) / CAST(lc * rc AS DOUBLE) "
        "DESC, l, r LIMIT 1"
    ),
    doc="LLM tokenizer training: learn a WordPiece vocab on the corpus "
        "(operators/wordpiece.py — the BERT algorithm: BPE's greedy "
        "merge loop but the round argmax maximizes the likelihood "
        "ratio count(ab)/(count(a)·count(b)); distinct-word table + "
        "two map-side-combined aggs + broadcast join + 1-row argmax "
        "per round). Hash-checked on: the exact round-0 merge AND its "
        "score (DuckDB replays normalization, ## symbol construction, "
        "both count tables and the division bit-exactly), the exact "
        "alphabet size, 8 merges learned, all scores positive. The "
        "full merge table stays pytest-pinned vs a pure-Python "
        "trainer. Completes the BPE / unigram-EM / WordPiece "
        "tokenizer-family trilogy",
)
def q_wordpiece_vocab(spark, sf_dir):
    m = wordpiece_model(spark, sf_dir)
    merges = m["merges"]
    vocab = m["vocab"]
    l0, r0, s0 = merges[0]
    n_nonpos = sum(1 for _, _, s in merges if s <= 0)
    return spark.createDataFrame(
        [(len(merges), l0, r0, float(s0),
          len(vocab) - len(merges), n_nonpos)],
        "n_merges long, first_left string, first_right string, "
        "first_score double, n_alphabet long, n_nonpos_scores long",
    )


@query(
    "q_wordpiece_tokenize",
    oracle=(
        # the trained-vocab-INDEPENDENT greedy-encode invariants,
        # exact per doc: word count, losslessness (piece lengths net
        # of ## prefixes re-cover every word char — exactly where
        # greedy implementations break) and unk-rate (exactly 0: the
        # trainer seeds the full corpus alphabet in both bare and ##
        # forms, so the longest-match loop always has a 1-char
        # fallback). The vocab-DEPENDENT piece count stays pinned by
        # tests/test_wordpiece.py (greedy semantics vs HF rules).
        "WITH w AS (SELECT doc_id, unnest(regexp_split_to_array("
        "trim(lower(text)), '\\s+')) AS word FROM documents) "
        "SELECT doc_id, "
        "CAST(COUNT(CASE WHEN word <> '' THEN 1 END) AS BIGINT) "
        "AS n_words, "
        "CAST(COALESCE(SUM(length(word)), 0) AS BIGINT) AS n_chars, "
        "CAST(0 AS BIGINT) AS n_unk "
        "FROM w GROUP BY doc_id"
    ),
    doc="LLM tokenizer application: greedy longest-match-first "
        "WordPiece encode of every document (HF rules: longest vocab "
        "prefix wins, ## continuation forms, an unmatchable word "
        "collapses to ONE [UNK] — never a partial segmentation). "
        "Vocab broadcast once, Arrow-batched with a per-partition "
        "distinct-word memo, pieces never shuffle — only doc_id + "
        "counts leave the stage. Hash-checked on the corpus-wide "
        "invariants (exact word counts, ##-aware losslessness, zero "
        "unknowns); greedy optimality is pytest-pinned "
        "(operators/wordpiece.wordpiece_encode)",
)
def q_wordpiece_tokenize(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import wordpiece

    docs = load_table(spark, sf_dir, "documents")
    enc = wordpiece.wordpiece_encode(
        docs, wordpiece_model(spark, sf_dir)["vocab"])
    return enc.select("doc_id", "n_words", "n_chars", "n_unk")


def unigram_vocab(spark, sf_dir: str) -> list[tuple[str, float]]:
    """Trained unigram vocab per corpus, through the index cache
    (training is deterministic by decimal-sum construction; reload
    beats retrain, same pattern as the PCA/PQ models)."""
    import json

    from aws_data_pipeline_ads_spark.operators import unigram_tok

    def build(p: str) -> None:
        vocab = unigram_tok.unigram_train(
            load_table(spark, sf_dir, "documents"),
            vocab_size=256, max_len=5, max_seed=1500, em_rounds=1)
        with open(f"{p}/vocab.json", "w") as f:
            json.dump(vocab, f)

    # key versioned r9: pruning criterion moved to SentencePiece §3.2
    # leave-one-out loss (unigram_tok.prune_criterion default), which
    # changes the trained vocab — stale caches must not serve it
    with open(f"{index_path('unigramtok_loo', sf_dir, build)}/vocab.json") as f:
        return [(p, lp) for p, lp in json.load(f)]


@query(
    "q_unigram_tok_vocab",
    # UNBENCHED since r11 (was an r9 bench add): its r10 invariants
    # promotion put a corpus char-distinct scan — the verification
    # harness — on the benched path, which is what the flagged 1.55×
    # r9→r10 steady regression measured. The operator's real costs are
    # benched elsewhere: training is a write-side prebuilt artifact
    # (indexcache), serving is q_unigram_tokenize (bench=True). Same
    # verification-vs-bench split as q_approx_distinct_check.
    oracle=(
        # the trained-vocab-INDEPENDENT invariants, exact integers
        # (same promotion move as q_unigram_tokenize in r9): the
        # single-char coverage floor equals the corpus's distinct
        # character count (training seeds every corpus char and never
        # prunes one — a missing or extraneous single-char piece
        # breaks the equality), the shrink loop never overshoots the
        # target size, every piece spells only corpus characters, no
        # piece exceeds max_len, and every logp is a finite negative
        # log-probability. The vocab-DEPENDENT piece strings/probs
        # stay pinned by tests/test_unigram_tok.py (distributed ==
        # sequential EM, bit-deterministic decimal sums).
        "WITH w AS (SELECT unnest(regexp_split_to_array("
        "trim(lower(text)), '\\s+')) AS word FROM documents), "
        "c AS (SELECT DISTINCT ch FROM (SELECT unnest("
        "regexp_split_to_array(word, '')) AS ch FROM w "
        "WHERE word <> '') WHERE ch <> '') "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_single, "
        "CAST(0 AS BIGINT) AS n_over_target, "
        "CAST(0 AS BIGINT) AS n_oov_pieces, "
        "CAST(0 AS BIGINT) AS n_over_max_len, "
        "CAST(0 AS BIGINT) AS n_nonfinite FROM c"
    ),
    doc="LLM tokenizer training: SentencePiece-style UNIGRAM vocabulary "
        "learned on the corpus (Kudo 2018) — seed substrings, "
        "forward-backward EM over the distinct-word table with "
        "decimal-sum expected counts (bit-deterministic under any "
        "partitioning), LOO-loss shrink to the target size keeping "
        "every single char (operators/unigram_tok.py). Hash-checked "
        "on the invariants a trained vocab must satisfy corpus-wide: "
        "single-char coverage == distinct corpus characters, size "
        "never above target, zero out-of-corpus pieces, zero "
        "over-length pieces, all log-probs finite negative. The "
        "piece/logp table itself is vocab-dependent and stays "
        "pytest-pinned (distributed == sequential EM equality)",
)
def q_unigram_tok_vocab(spark, sf_dir):
    import math

    vocab = unigram_vocab(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    # corpus character set through the SAME normalization as training
    # (bpe.word_counts: trim/lower/whitespace-split) — bounded collect,
    # alphabet-sized
    chars = {
        r["ch"]
        for r in docs.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
            .alias("word"))
        .filter(F.col("word") != "")
        .select(F.explode(F.split("word", "")).alias("ch"))
        .filter(F.col("ch") != "").distinct().collect()
    }
    n_single = sum(1 for p, _ in vocab if len(p) == 1)
    n_over_target = max(0, len(vocab) - 256)
    n_oov = sum(1 for p, _ in vocab if any(c not in chars for c in p))
    n_over_len = sum(1 for p, _ in vocab if len(p) > 5)
    n_nonfinite = sum(1 for _, lp in vocab
                      if not (math.isfinite(lp) and lp < 0))
    return spark.createDataFrame(
        [(n_single, n_over_target, n_oov, n_over_len, n_nonfinite)],
        "n_single long, n_over_target long, n_oov_pieces long, "
        "n_over_max_len long, n_nonfinite long")


@query(
    "q_unigram_tokenize",
    bench=True,  # broadcast-Viterbi Arrow map shape, new in r8
    oracle=(
        # the trained-vocab-INDEPENDENT segmentation invariants, exact
        # per doc: word count, losslessness (Σ|piece| re-covers every
        # word char) and unk-rate (exactly 0 — training keeps every
        # corpus char). The vocab-DEPENDENT piece count stays pinned by
        # tests/test_unigram_tok.py (Viterbi optimality vs brute DP).
        "WITH w AS (SELECT doc_id, unnest(regexp_split_to_array("
        "trim(lower(text)), '\\s+')) AS word FROM documents) "
        "SELECT doc_id, "
        "CAST(COUNT(CASE WHEN word <> '' THEN 1 END) AS BIGINT) "
        "AS n_words, "
        "CAST(COALESCE(SUM(length(word)), 0) AS BIGINT) AS n_chars, "
        "CAST(0 AS BIGINT) AS n_unk "
        "FROM w GROUP BY doc_id"
    ),
    doc="LLM tokenizer application: Viterbi-segment every document "
        "with the trained unigram vocab (broadcast once, Arrow-batched, "
        "pieces never shuffle — only doc_id + counts leave the stage). "
        "Hash-checked on the segmentation invariants a trained vocab "
        "must satisfy corpus-wide: exact word counts, losslessness "
        "(piece lengths re-cover every character of every word — a "
        "dropped/duplicated span breaks the sum) and zero unknowns "
        "(single-char coverage is never pruned). Piece-count fertility "
        "is vocab-dependent and stays pytest-pinned "
        "(unigram_tok.unigram_segment)",
)
def q_unigram_tokenize(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import unigram_tok

    docs = load_table(spark, sf_dir, "documents")
    seg = unigram_tok.unigram_segment(docs, unigram_vocab(spark, sf_dir))
    return seg.select("doc_id", "n_words", "n_chars", "n_unk")


@query(
    "q_preference_pairs",
    bench=True,  # struct-argmax groupBy shape, new in r8
    oracle=(
        "WITH c AS (SELECT doc_id, CAST(doc_id // 4 AS BIGINT) AS "
        "prompt_id, CAST(length(regexp_replace(text, "
        "'[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) AS s "
        "FROM documents WHERE text IS NOT NULL), "
        "hi AS (SELECT prompt_id, doc_id, s, row_number() OVER "
        "(PARTITION BY prompt_id ORDER BY s DESC, doc_id ASC) AS rn "
        "FROM c), "
        "lo AS (SELECT prompt_id, doc_id, s, row_number() OVER "
        "(PARTITION BY prompt_id ORDER BY s ASC, doc_id ASC) AS rn "
        "FROM c), "
        "g AS (SELECT prompt_id, COUNT(*) AS n FROM c GROUP BY prompt_id) "
        "SELECT h.prompt_id AS prompt_id, h.doc_id AS chosen_id, "
        "l.doc_id AS rejected_id, h.s AS chosen_score, "
        "l.s AS rejected_score, h.s - l.s AS margin "
        "FROM hi h JOIN lo l ON h.prompt_id = l.prompt_id "
        "JOIN g ON g.prompt_id = h.prompt_id "
        "WHERE h.rn = 1 AND l.rn = 1 AND g.n >= 2 "
        "AND h.doc_id != l.doc_id AND h.s - l.s >= 0"
    ),
    doc="LLM post-training data prep: DPO preference-pair construction "
        "(operators/preference.py) — per prompt group (the q_chat_"
        "flatten conversations), the highest- and lowest-scored "
        "candidates become (chosen, rejected) with the score margin. "
        "Argmax/argmin via struct-ordered MAX/MIN in ONE groupBy "
        "shuffle (no window, deterministic lowest-id tie-breaks); the "
        "score here is the clean-chars quality proxy, pluggable for a "
        "reward model. Hash-matches a two-window SQL twin",
)
def q_preference_pairs(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators.preference import (
        preference_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull())
    cands = docs.select(
        "doc_id", "text",
        (F.col("doc_id") / 4).cast("long").alias("prompt_id"))
    score = F.length(
        F.regexp_replace(F.col("text"), r"[^a-zA-Z0-9\s]", ""))
    return preference_pairs(cands, "prompt_id", score)


_CHAT_TURNS_SQL = (
    "SELECT CAST(doc_id // 4 AS BIGINT) AS conv_id, "
    "CAST(doc_id % 4 AS INT) AS turn_no, "
    "CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role, "
    "substring(text, 1, 80) AS content FROM documents"
)


@query(
    "q_chat_flatten",
    bench=True,  # collect_list template-render shape, new in r8
    oracle=(
        f"WITH turns AS ({_CHAT_TURNS_SQL}), "
        "r AS (SELECT *, '<|' || role || '|>' || content AS rendered, "
        "CASE WHEN role = 'user' THEN 1 ELSE 0 END AS is_user, "
        "length(content) AS n_content, "
        "lead(role) OVER (PARTITION BY conv_id ORDER BY turn_no) AS nxt "
        "FROM turns) "
        "SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns, "
        "CAST(SUM(is_user) AS BIGINT) AS n_user_turns, "
        "CAST(COUNT(*) - SUM(is_user) AS BIGINT) AS n_assistant_turns, "
        "CAST(SUM(CASE WHEN is_user = 1 THEN n_content ELSE 0 END) "
        "AS BIGINT) AS user_chars, "
        "CAST(SUM(CASE WHEN is_user = 0 THEN n_content ELSE 0 END) "
        "AS BIGINT) AS assistant_chars, "
        "string_agg(rendered, '' ORDER BY turn_no) AS chat_text, "
        "bool_and(nxt IS NULL OR role != nxt) AS alternates "
        "FROM r GROUP BY conv_id"
    ),
    doc="LLM post-training data prep: chat-template rendering + "
        "per-role stats over conversations (operators/chat.py) — turns "
        "order inside sort_array(collect_list(struct)) so the rendered "
        "string, per-role char budgets and the strict-alternation "
        "validity flag all come out of ONE groupBy shuffle, no window. "
        "The SFT flattening stage every instruction corpus runs before "
        "packing; conversations synthesized deterministically from "
        "documents (testdata ships none — attach_media posture)",
)
def q_chat_flatten(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import chat

    docs = load_table(spark, sf_dir, "documents")
    return chat.flatten_conversations(chat.synthesize_conversations(docs))


@query(
    "q_corpus_shuffle",
    oracle=(
        "WITH keyed AS (SELECT doc_id, "
        + hash_u32_sql("concat('epoch0', ':', CAST(doc_id AS STRING))")
        + " AS h FROM documents) "
        "SELECT doc_id, CAST(h % 8 AS INT) AS shard, "
        "CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) "
        "AS INT) AS pos FROM keyed"
    ),
    doc="LLM corpus assembly: deterministic training-order shuffle — "
        "shard and in-shard position are pure functions of the doc key "
        "(salted md5), so the permutation is reproducible across "
        "re-runs, partitionings, and engines; vary the salt per epoch "
        "(operators/sampling.corpus_shuffle)",
)
def q_corpus_shuffle(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators.sampling import corpus_shuffle

    out = corpus_shuffle(load_table(spark, sf_dir, "documents"), "doc_id", 8)
    return out.select("doc_id", "shard", F.col("pos").cast("int").alias("pos"))


@query(
    "q_image_neardup",
    # Promoted to a FULL value-hash oracle (r12, extending the r11
    # hex-replay move): the fake-decoder grid is a deterministic
    # 72-byte stride sample of the payload, so DuckDB re-derives every
    # grid byte from hex(encode(text)), replays the 64 left>right
    # comparisons into the same signed 64-bit dHash (MSB via
    # two's-complement arithmetic, no HUGEINT), and emits ALL-PAIRS
    # Hamming ≤ 3. All-pairs ≡ the Spark banded output because banding
    # recall is EXACT at the pigeonhole threshold (≤3 differing bits
    # across 4×16-bit bands leave ≥1 band intact) — so the oracle
    # checks the banding too: a lost candidate pair fails the hash.
    oracle=(
        "WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, "
        "octet_length(encode(text)) AS n FROM documents), "
        "jx AS (SELECT CAST(r.range AS INT) AS j FROM range(72) r), "
        "g AS (SELECT doc_id, j, CASE WHEN n >= 72 "
        "THEN CAST(concat('0x', substr(hx, 2*(j*(n//72))+1, 2)) AS INT) "
        "WHEN j < n THEN CAST(concat('0x', substr(hx, 2*j+1, 2)) AS INT) "
        "ELSE 0 END AS byte FROM b CROSS JOIN jx), "
        "bits AS (SELECT a.doc_id, (a.j // 9) * 8 + (a.j % 9) AS bitpos, "
        "CAST(a.byte > c.byte AS INT) AS bit "
        "FROM g a JOIN g c ON a.doc_id = c.doc_id AND c.j = a.j + 1 "
        "WHERE a.j % 9 < 8), "
        "h AS (SELECT doc_id, SUM(CASE WHEN bitpos = 0 "
        "THEN bit * (-9223372036854775807 - 1) "
        "ELSE bit * (CAST(1 AS BIGINT) << (63 - bitpos)) END) AS dhash "
        "FROM bits GROUP BY doc_id) "
        "SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, "
        "CAST(bit_count(xor(a.dhash, c.dhash)) AS INT) AS hamming "
        "FROM h a JOIN h c ON a.doc_id < c.doc_id "
        "WHERE bit_count(xor(a.dhash, c.dhash)) <= 3"
    ),
    doc="multimodal dedup: perceptual dHash per image (Arrow decode "
        "stage emits 8 bytes/image) + banded-LSH candidate pairs with "
        "exact Hamming verify — SimHash posture on images; recall is "
        "exact at Hamming ≤ 3 by pigeonhole over 4×16-bit bands "
        "(operators/multimodal.image_dhash / dhash_neardup_pairs). "
        "Hash-verified end-to-end since r12 (see oracle comment)",
)
def q_image_neardup(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import multimodal

    media = multimodal.attach_media(load_table(spark, sf_dir, "documents"))
    return multimodal.dhash_neardup_pairs(multimodal.image_dhash(media))


@query(
    "q_quality_classifier",
    bench=True,  # zero-shuffle integer-fold scoring, new in r4
    oracle=textstats.quality_classifier_sql("duckdb"),
    doc="LLM curation: hashed linear quality classifier (fastText-style "
        "shape — hashing-trick featurization, integer logit fold, "
        "sigmoid) rendered from ONE SQL template for both engines; "
        "per-token weights are exact integers so the logit is an "
        "order-invariant BIGINT sum, zero shuffles; swapping in trained "
        "weights = one broadcast join, same plan shape; "
        "textstats.quality_classifier_sql",
)
def q_quality_classifier(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators.partitioning import fan_out

    # fan_out: the classifier is a wide stack of per-row regex/token
    # expressions evaluated in the scan stage — serial on a 1-task
    # input (guide §2.5; r12 A/B: 1.00 -> 0.39 s interleaved medians)
    fan_out(load_table(spark, sf_dir, "documents"), "doc_id").createOrReplaceTempView(
        "documents_qc"
    )
    return spark.sql(
        textstats.quality_classifier_sql("spark", table="documents_qc")
    )


@query(
    "q_audio_spectral",
    oracle=None,  # complex rFFT is not SQL-expressible; synthetic-sine
    # golden pytest pins the features (test_multimodal.py)
    doc="2C multimodal: spectral audio descriptors — zero-crossing "
        "rate, spectral centroid, 85% rolloff, dominant frequency via "
        "a bounded numpy rFFT per clip (silence/tone/noise screens a "
        "pipeline runs before transcription); same decode contract and "
        "Arrow-batch shape as q_audio_features "
        "(multimodal.audio_spectral_features)",
)
def q_audio_spectral(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.audio_spectral_features(multimodal.attach_media(docs))


# -- KMV bottom-k sketches (sketches.kmv_*) ---------------------------------

# Shingle stream keyed by SOURCE (the domain-level vocabulary): same
# tokenization + k=3 shingling text the minhash oracle uses, grouped by
# source instead of doc_id.
_KMV_SH_CTE = (
    "toked AS (SELECT source, regexp_split_to_array(trim(text), '\\s+') "
    "AS toks FROM documents), "
    "sh AS (SELECT source, unnest(CASE WHEN len(toks) < 3 "
    "THEN [array_to_string(toks, ' ')] "
    "ELSE [array_to_string(toks[i:i+2], ' ') "
    "for i in generate_series(1, len(toks)-2)] END) AS tok FROM toked), "
    "d AS (SELECT DISTINCT source, md5(tok) AS h FROM sh), "
    "r AS (SELECT source, h, "
    "ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn, "
    "COUNT(*) OVER (PARTITION BY source) AS n_exact FROM d)"
)

_KMV_K = 256


def _source_shingles(spark, sf_dir):
    """(source, tok) shingle stream — the shared composition the
    streaming drain also uses (dedup.source_shingle_stream), so the
    q_kmv_served drain==batch contract is pinned to one definition.

    (r13: fan_out of this scan re-measured via interleaved fresh-JVM
    child A/B — cold 8.0→9.0 s, steady 1.68→2.02 s, i.e. flat-to-worse,
    confirming r12's negative result: the build's per-row work is plain
    JVM expression evaluation and the sketch is cached across the
    bench's steady reps, so the extra exchange only buys cold-run
    codegen. Left unwidened.)"""
    return dedup.source_shingle_stream(
        load_table(spark, sf_dir, "documents"), k=3)


@query(
    "q_kmv_distinct",
    oracle=(
        "WITH " + _KMV_SH_CTE + ", "
        "kth AS (SELECT * FROM r WHERE rn = LEAST(n_exact, 256)) "
        "SELECT source, CAST(n_exact AS BIGINT) AS n_distinct_exact, "
        "CASE WHEN n_exact <= 256 THEN CAST(n_exact AS DOUBLE) "
        "ELSE ROUND(255.0 / (CAST(" + hex_u32_sql("h")
        + " AS DOUBLE) / 4294967296.0), 6) END AS est_distinct FROM kth"
    ),
    doc="LLM sketches tier 3: KMV bottom-k distinct-count estimate of "
        "each source's 3-shingle vocabulary (Beyer et al. SIGMOD'07) — "
        "unlike HLL the sketch is portable md5 arithmetic, so the "
        "ESTIMATES are hash-verified cross-engine, and the sketch is "
        "union-mergeable for rollups (sketches.kmv_sketch/kmv_distinct; "
        "pytest pins merge closure + estimator error)",
)
def q_kmv_distinct(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import sketches

    sk = sketches.kmv_sketch(
        _source_shingles(spark, sf_dir), ["source"], "tok", k=_KMV_K
    )
    return sketches.kmv_distinct(sk, ["source"], k=_KMV_K)


@query(
    "q_kmv_jaccard",
    bench=True,  # the sketch-build + bounded-pair-fusion shape
    oracle=(
        "WITH " + _KMV_SH_CTE + ", "
        "sk AS (SELECT source, h FROM r WHERE rn <= 256), "
        "srcs AS (SELECT DISTINCT source FROM documents), "
        "p AS (SELECT a.source AS src_a, b.source AS src_b FROM srcs a "
        "JOIN srcs b ON a.source < b.source), "
        "u AS (SELECT p.src_a, p.src_b, sk.h, 1 AS in_a, 0 AS in_b "
        "FROM p JOIN sk ON sk.source = p.src_a "
        "UNION ALL SELECT p.src_a, p.src_b, sk.h, 0 AS in_a, 1 AS in_b "
        "FROM p JOIN sk ON sk.source = p.src_b), "
        "m AS (SELECT src_a, src_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b "
        "FROM u GROUP BY 1, 2, 3), "
        "wnd AS (SELECT src_a, src_b, in_a, in_b, "
        "ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn, "
        "COUNT(*) OVER (PARTITION BY src_a, src_b) AS n_u FROM m) "
        "SELECT src_a, src_b, "
        "CAST(LEAST(MAX(n_u), 256) AS BIGINT) AS k_union, "
        "CAST(SUM(in_a * in_b) AS BIGINT) AS n_both, "
        "ROUND(CAST(SUM(in_a * in_b) AS DOUBLE) "
        "/ CAST(LEAST(MAX(n_u), 256) AS DOUBLE), 6) AS est_jaccard "
        "FROM wnd WHERE rn <= 256 GROUP BY src_a, src_b"
    ),
    doc="LLM sketches tier 3b: pairwise source-vocabulary Jaccard from "
        "the KMV sketches ALONE (Beyer et al. §5: bottom-k of the "
        "union, count members of both) — the domain-similarity / "
        "mirror-detection matrix without touching the corpus twice; "
        "every per-pair group is ≤ 2k rows at any corpus size "
        "(sketches.kmv_union_jaccard)",
)
def q_kmv_jaccard(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import sketches

    sk = sketches.kmv_sketch(
        _source_shingles(spark, sf_dir), ["source"], "tok", k=_KMV_K
    )
    return sketches.kmv_union_jaccard(sk, "source", k=_KMV_K)


# -- Winnowing fingerprints (dedup.winnow_*) --------------------------------

# Fingerprint selection CTE (k=4 token grams, w=4 window): ends in
# kept(doc_id, n_grams, fpk) where fpk = digest || '-' || lpad(pos).
_WINNOW_CTE = (
    "toked AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') "
    "AS toks FROM documents), "
    "g0 AS (SELECT doc_id, CASE WHEN len(toks) < 4 "
    "THEN [array_to_string(toks, ' ')] "
    "ELSE [array_to_string(toks[i:i+3], ' ') "
    "for i in generate_series(1, len(toks)-3)] END AS grams FROM toked), "
    "g AS (SELECT doc_id, unnest([{'pos': i, 'gh': md5(grams[i])} "
    "for i in generate_series(1, len(grams))], recursive := true) FROM g0), "
    "s AS (SELECT doc_id, pos, "
    "MIN(gh || '-' || lpad(CAST(pos AS VARCHAR), 10, '0')) OVER "
    "(PARTITION BY doc_id ORDER BY pos "
    "ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fpk, "
    "COUNT(*) OVER (PARTITION BY doc_id) AS n_grams FROM g), "
    "kept AS (SELECT DISTINCT doc_id, n_grams, fpk FROM s "
    "WHERE pos <= GREATEST(n_grams - 3, 1))"
)


@query(
    "q_winnow_fingerprint",
    oracle=(
        "WITH " + _WINNOW_CTE + " "
        "SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, "
        "CAST(COUNT(*) AS BIGINT) AS n_fingerprints, "
        "ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) "
        "AS density, MIN(substr(fpk, 1, 32)) AS min_fp "
        "FROM kept GROUP BY doc_id, n_grams"
    ),
    doc="LLM dedup tier 5: winnowing document fingerprints (Schleimer/"
        "Wilkerson/Aiken SIGMOD'03, the MOSS algorithm) — min-hash "
        "selection over a w=4 window of k=4-token gram md5s, density "
        "E=2/(w+1); the charter's rolling-hash fingerprinting with a "
        "portable hash so selections are hash-verified cross-engine "
        "(dedup.winnow_stats)",
)
def q_winnow_fingerprint(spark, sf_dir):
    return dedup.winnow_stats(
        load_table(spark, sf_dir, "documents"), k=4, w=4
    )


@query(
    "q_winnow_pairs",
    bench=True,  # fingerprint-select + df-capped self-join shape
    oracle=(
        "WITH " + _WINNOW_CTE + ", "
        "fpd AS (SELECT DISTINCT doc_id, substr(fpk, 1, 32) AS h FROM kept), "
        "rare AS (SELECT h FROM fpd GROUP BY h HAVING COUNT(*) <= 1000), "
        "c AS (SELECT doc_id, h FROM fpd JOIN rare USING (h)), "
        "n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM c "
        "GROUP BY doc_id), "
        "i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(COUNT(*) AS BIGINT) AS n_shared FROM c a JOIN c b "
        "ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT doc_a, doc_b, n_shared, "
        "ROUND(CAST(n_shared AS DOUBLE) / CAST(LEAST(na.nf, nb.nf) "
        "AS DOUBLE), 6) AS overlap FROM i "
        "JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id "
        "WHERE n_shared >= 2"
    ),
    doc="LLM dedup tier 5b: MOSS-style near-dup candidates — pairs "
        "sharing ≥2 winnowing fingerprints, overlap coefficient over "
        "the df-capped (≤1000) fingerprint space; position-aware "
        "complement to the set-based MinHash tier: any shared run of "
        "≥ w+k-1 tokens guarantees a shared fingerprint "
        "(dedup.winnow_pairs)",
)
def q_winnow_pairs(spark, sf_dir):
    return dedup.winnow_pairs(
        load_table(spark, sf_dir, "documents"),
        k=4, w=4, min_shared=2, max_df=1000,
    )


# Lake-resident streaming KMV state per corpus: same landing/drain
# shape as cms_stream_index — the drain==batch contract here is union
# CLOSURE (bottom-k of a union of bottom-k sets == bottom-k of the
# union), so the served estimates hash-match the batch-side oracle.
def kmv_stream_index(spark, sf_dir: str) -> str:
    def build(path: str) -> None:
        from aws_data_pipeline_ads_spark import streaming

        src = load_table(spark, sf_dir, "documents")
        src.filter(F.col("doc_id") % 2 == 0).coalesce(2).write.parquet(
            f"{path}/landing/s1"
        )
        src.filter(F.col("doc_id") % 2 == 1).coalesce(2).write.parquet(
            f"{path}/landing/s2"
        )
        stream = streaming.documents_stream(
            spark, f"{path}/landing", max_files_per_trigger=2
        )
        streaming.streaming_kmv_sink(
            stream, f"{path}/sketch", f"{path}/ck", k=_KMV_K
        )

    return index_path("kmv_stream", sf_dir, build)


@query(
    "q_kmv_served",
    oracle=(
        # Same sketch CTE as q_kmv_distinct; the exact-branch guard is
        # STRICT (< k): a merged sketch cannot tell "exactly k distinct"
        # from "capped at k", so the served path estimates at n = k
        # (the batch query, which carries n_exact, stays exact there).
        "WITH " + _KMV_SH_CTE + ", "
        "kth AS (SELECT * FROM r WHERE rn = LEAST(n_exact, 256)) "
        "SELECT source, "
        "CASE WHEN n_exact < 256 THEN CAST(n_exact AS DOUBLE) "
        "ELSE ROUND(255.0 / (CAST(" + hex_u32_sql("h")
        + " AS DOUBLE) / 4294967296.0), 6) END AS est_distinct FROM kth"
    ),
    doc="streaming-lake serving path: per-source distinct-vocabulary "
        "estimates answered from the ACCUMULATED KMV state the "
        "streaming sink drained into the lake (one ≤k-rows-per-source "
        "partial per micro-batch, bottom-k-merged at serve time — "
        "streaming.kmv_served); union closure makes the served sketch "
        "IDENTICAL to a batch build, so the estimates hash-match the "
        "same arithmetic oracle (streaming/__init__.py, "
        "operators/sketches.py)",
)
def q_kmv_served(spark, sf_dir):
    from aws_data_pipeline_ads_spark import streaming
    from aws_data_pipeline_ads_spark.operators import sketches

    idx = kmv_stream_index(spark, sf_dir)
    merged = streaming.kmv_served(spark, f"{idx}/sketch", k=_KMV_K)
    return sketches.kmv_distinct_estimate(merged, ["source"], k=_KMV_K)


@query(
    "q_kmv_rollup",
    oracle=(
        # Union closure: merging the per-source sketches == one global
        # bottom-k — so the oracle just builds the global sketch
        # directly (no source grouping) and estimates at the k-th row.
        "WITH toked AS (SELECT source, "
        "regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), "
        "sh AS (SELECT unnest(CASE WHEN len(toks) < 3 "
        "THEN [array_to_string(toks, ' ')] "
        "ELSE [array_to_string(toks[i:i+2], ' ') "
        "for i in generate_series(1, len(toks)-2)] END) AS tok FROM toked), "
        "d AS (SELECT DISTINCT md5(tok) AS h FROM sh), "
        "r AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn, "
        "COUNT(*) OVER () AS n_exact FROM d), "
        "kth AS (SELECT * FROM r WHERE rn = LEAST(n_exact, 256)) "
        "SELECT CAST(LEAST(n_exact, 256) AS BIGINT) AS k_used, "
        "CASE WHEN n_exact < 256 THEN CAST(n_exact AS DOUBLE) "
        "ELSE ROUND(255.0 / (CAST(" + hex_u32_sql("h")
        + " AS DOUBLE) / 4294967296.0), 6) END AS est_distinct FROM kth"
    ),
    doc="LLM sketches tier 3c: corpus-wide distinct-vocabulary estimate "
        "answered by MERGING the 20 per-source KMV sketches (bottom-k "
        "of the union of bottom-k sets — sketches.kmv_merge), never "
        "rescanning the corpus: the OLAP-cube rollup HLL offers, but "
        "hash-verified because the merged sketch is bit-identical to a "
        "direct global build (the oracle builds directly; closure makes "
        "them equal)",
)
def q_kmv_rollup(spark, sf_dir):
    from aws_data_pipeline_ads_spark.operators import sketches
    from aws_data_pipeline_ads_spark.operators.cache import persist_tracked

    sk = sketches.kmv_sketch(
        _source_shingles(spark, sf_dir), ["source"], "tok", k=_KMV_K
    )
    # the merged sketch (<= k rows) feeds both output branches; persist
    # it so the corpus-sized build underneath runs once
    merged = persist_tracked(sketches.kmv_merge(sk, [], k=_KMV_K))
    out = sketches.kmv_distinct_estimate(merged, [], k=_KMV_K)
    n = merged.groupBy().agg(F.max("rn").cast("long").alias("k_used"))
    return n.crossJoin(out.select("est_distinct"))


def lakehilbert_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "n_chars")
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(docs.repartition(16, "n_chars"), txn_id="rev-0")
        t.optimize_zorder(["doc_id", "n_chars"], n_files=16,
                          curve="hilbert")

    return index_path("lakehilbert", sf_dir, build)


@query(
    "q_lake_hilbert_scan",
    oracle=(
        # Same two-predicate twin as q_lake_zorder_scan: the curve is
        # an execution-layout change only, results are identical.
        "SELECT doc_id, n_chars FROM documents "
        "WHERE doc_id <= (SELECT max(doc_id) // 4 FROM documents) "
        "AND n_chars <= (SELECT max(n_chars) // 4 FROM documents)"
    ),
    doc="LLM lake versioning: multi-column skipping over a HILBERT "
        "layout (lakelog.optimize_zorder curve='hilbert' — Skilling "
        "transform, partitioning.hilbert_index): every curve step "
        "moves one coordinate by 1, so per-file boxes are at least as "
        "tight as Morton's (pytest pins hilbert ≤ morton files opened "
        "on this exact workload, and pins the transform exhaustively "
        "at bits=4). Same bottom-quartile box scan, hash-verified "
        "against the plain two-predicate filter",
)
def q_lake_hilbert_scan(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lakehilbert_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    head = t.read()
    hi_id, hi_ch = head.agg(
        F.max("doc_id"), F.max("n_chars")).collect()[0]
    return t.scan({"doc_id": (None, hi_id // 4),
                   "n_chars": (None, hi_ch // 4)}).select(
        "doc_id", "n_chars")


# Committed documents revision carrying per-file decimal sums (write-side)
def lakesum_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "n_chars")
        LakeTable(spark, f"{path}/tbl").commit(
            docs.repartitionByRange(8, "doc_id"), txn_id="rev-0",
            sum_cols=["n_chars"])

    return index_path("lakesum", sf_dir, build)


@query(
    "q_lake_sum_agg",
    oracle=(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) "
        "AS total_chars, "
        "CAST(CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) "
        "/ COUNT(*) AS DOUBLE) AS avg_chars FROM documents"
    ),
    doc="LLM lake versioning: METADATA-ONLY SUM/AVG — the aggregate "
        "parquet footers cannot provide, paid for once at commit time "
        "(sum_cols per-file decimal sums, lakelog._collect_sums) and "
        "answered forever from the log with zero files opened; "
        "string-decimal partials added exactly driver-side, cast to "
        "double at the end, so the result hash-matches the full-scan "
        "decimal-SUM twin. Extends the stats() tier beyond "
        "COUNT/MIN/MAX; propagation across every commit kind is "
        "pytest-pinned (LakeTable.stats)",
)
def q_lake_sum_agg(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lakesum_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    s = t.stats()  # driver-side: one log-entry read, no files opened
    return spark.createDataFrame(
        [(s["rows"], s["sum"]["n_chars"], s["sum"]["n_chars"] / s["rows"])],
        "n_rows long, total_chars double, avg_chars double")


# Source revisions + incremental MV refreshes (write-side job): the
# view is refreshed AFTER EVERY source commit, so the state the query
# reads was produced purely by signed-delta application — never by a
# full recompute over the final snapshot — and hash-matching the
# oracle's flat GROUP BY proves incremental == full.
def lakemv_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        t = LakeTable(spark, f"{path}/tbl")
        mv = LakeMaterializedView(
            spark, t, f"{path}/mv", key="doc_id",
            group_cols=["lang"], measures=["n_chars"])
        t.commit(docs.filter(F.col("doc_id") % 3 < 2)
                 .repartitionByRange(8, "doc_id"), txn_id="rev-0")
        mv.refresh()                                  # full build
        t.commit(docs.filter(F.col("doc_id") % 3 == 2), "append",
                 txn_id="rev-1")
        mv.refresh()                                  # +appended rows
        t.delete({"doc_id": (10, 19)}, txn_id="rev-2")
        mv.refresh()                                  # -deleted rows

    return index_path("lakemv", sf_dir, build)


@query(
    "q_lake_mv_refresh",
    bench=True,  # incremental-MV state read, new in r8
    oracle=(
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(COUNT(n_chars) AS BIGINT) AS n_n_chars, "
        "CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) "
        "AS sum_n_chars "
        "FROM documents WHERE doc_id NOT BETWEEN 10 AND 19 "
        "GROUP BY lang"
    ),
    doc="LLM lake versioning: INCREMENTAL MATERIALIZED-VIEW "
        "maintenance (lakemv.LakeMaterializedView) — a per-lang "
        "count/sum view over the documents lake kept current through "
        "full build → append → CoW delete purely by signed-delta "
        "application (counting algorithm: each side of the version "
        "diff reduces to key+group+measure+md5, and the signed sides "
        "union into one key window that cancels unchanged keys; "
        "everything after it is delta-sized, the state is one row per "
        "group). Hash-matching "
        "the flat GROUP BY twin over the final predicate proves the "
        "incremental state equals a full recompute, decimal sums "
        "included. The Delta-Live-Tables-shaped refresh a 100 TB "
        "reporting layer runs instead of re-aggregating the world",
)
def q_lake_mv_refresh(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    idx = lakemv_index(spark, sf_dir)
    mv = LakeMaterializedView(
        spark, LakeTable(spark, f"{idx}/tbl"), f"{idx}/mv",
        key="doc_id", group_cols=["lang"], measures=["n_chars"])
    return mv.read().select(
        "lang", "n_rows", "n_n_chars",
        F.col("sum_n_chars").cast("double").alias("sum_n_chars"))


# MIN/MAX view variant: the revision sequence is engineered so a
# refresh DESTROYS the current per-group maxima (update a doc_id range
# to a sentinel max, refresh, then delete exactly that range) — the
# case signed deltas cannot answer and the delta-scoped partial
# recompute must.
def lakemv_minmax_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        t = LakeTable(spark, f"{path}/tbl")
        mv = LakeMaterializedView(
            spark, t, f"{path}/mv", key="doc_id",
            group_cols=["lang"], measures=["n_chars"],
            minmax=["n_chars"])
        t.commit(docs.filter(F.col("doc_id") % 3 < 2)
                 .repartitionByRange(8, "doc_id"), txn_id="rev-0")
        mv.refresh()                                  # full build
        t.commit(docs.filter(F.col("doc_id") % 3 == 2), "append",
                 txn_id="rev-1")
        mv.refresh()                                  # +appended rows
        t.update({"doc_id": (50, 69)}, {"n_chars": F.lit(999_999)},
                 txn_id="rev-2")
        mv.refresh()                                  # sentinel maxima in
        t.delete({"doc_id": (50, 69)}, txn_id="rev-3")
        mv.refresh()                                  # extrema destroyed
        t.delete({"doc_id": (10, 19)}, txn_id="rev-4")
        mv.refresh()

    return index_path("lakemv_mm", sf_dir, build)


@query(
    "q_lake_mv_minmax",
    bench=True,  # MIN/MAX MV state read, new in r9
    oracle=(
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(MIN(n_chars) AS BIGINT) AS min_n_chars, "
        "CAST(MAX(n_chars) AS BIGINT) AS max_n_chars, "
        "CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) "
        "AS sum_n_chars "
        "FROM documents WHERE doc_id NOT BETWEEN 50 AND 69 "
        "AND doc_id NOT BETWEEN 10 AND 19 GROUP BY lang"
    ),
    doc="LLM lake versioning: NON-INVERTIBLE aggregates in the "
        "incremental materialized view (lakemv minmax=) — per-lang "
        "MIN/MAX maintained by delta-scoped partial recompute: each "
        "refresh recomputes extrema from the source head for exactly "
        "the delta's touched groups (broadcast semi-join) while "
        "count/sum stay signed-delta incremental. The revision "
        "sequence plants a 999999 sentinel max via CoW update, then "
        "deletes exactly those rows — destroying every touched "
        "group's stored MAX, the case signed counts cannot answer. "
        "Hash-matching a flat GROUP BY MIN/MAX over the final "
        "predicate proves the fallback recomputed from surviving "
        "rows. The standard Delta/DLT answer for MIN/MAX views",
)
def q_lake_mv_minmax(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    idx = lakemv_minmax_index(spark, sf_dir)
    mv = LakeMaterializedView(
        spark, LakeTable(spark, f"{idx}/tbl"), f"{idx}/mv",
        key="doc_id", group_cols=["lang"], measures=["n_chars"],
        minmax=["n_chars"])
    return mv.read().select(
        "lang", "n_rows", "min_n_chars", "max_n_chars",
        F.col("sum_n_chars").cast("double").alias("sum_n_chars"))


# Variance view: sumsq measures through full-build → append → CoW
# delete → CoW update, so the state the query reads was maintained
# purely by SIGNED squares (variance is algebraic — exactly
# incremental, unlike MIN/MAX).
def lakemv_var_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        t = LakeTable(spark, f"{path}/tbl")
        mv = LakeMaterializedView(
            spark, t, f"{path}/mv", key="doc_id",
            group_cols=["lang"], measures=["n_chars"],
            sumsq=["n_chars"])
        t.commit(docs.filter(F.col("doc_id") % 3 < 2)
                 .repartitionByRange(8, "doc_id"), txn_id="rev-0")
        mv.refresh()
        t.commit(docs.filter(F.col("doc_id") % 3 == 2), "append",
                 txn_id="rev-1")
        mv.refresh()
        t.delete({"doc_id": (10, 19)}, txn_id="rev-2")
        mv.refresh()
        t.update({"doc_id": (30, 49)}, {"n_chars": F.lit(7)},
                 txn_id="rev-3")
        mv.refresh()

    return index_path("lakemv_var", sf_dir, build)


@query(
    "q_lake_mv_variance",
    bench=True,  # algebraic-aggregate MV state read, new in r9
    oracle=(
        "WITH d AS (SELECT lang, CASE WHEN doc_id BETWEEN 30 AND 49 "
        "THEN 7 ELSE n_chars END AS nc FROM documents "
        "WHERE doc_id NOT BETWEEN 10 AND 19) "
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(COUNT(nc) AS BIGINT) AS n_n_chars, "
        "CAST(SUM(CAST(nc AS DECIMAL(38,6))) AS DOUBLE) AS sum_n_chars, "
        "CAST(SUM(CAST(CAST(nc AS DOUBLE) * CAST(nc AS DOUBLE) "
        "AS DECIMAL(38,6))) AS DOUBLE) AS sumsq_n_chars, "
        "ROUND(CAST(SUM(CAST(CAST(nc AS DOUBLE) * CAST(nc AS DOUBLE) "
        "AS DECIMAL(38,6))) AS DOUBLE) / COUNT(nc) "
        "- POW(CAST(SUM(CAST(nc AS DECIMAL(38,6))) AS DOUBLE) "
        "/ COUNT(nc), 2), 6) AS var_pop "
        "FROM d GROUP BY lang"
    ),
    doc="LLM lake versioning: ALGEBRAIC aggregates in the incremental "
        "materialized view (lakemv sumsq=) — per-lang Σm² maintained "
        "by signed deltas through full build → append → CoW delete → "
        "CoW update, so VAR_POP/STDDEV stay exactly incremental "
        "(sumsq/n − (sum/n)², the textbook algebraic decomposition — "
        "no per-group recompute, unlike MIN/MAX). The square is one "
        "IEEE double multiply then one decimal(38,6) rounding on both "
        "engines, so the state hash-matches the flat GROUP BY twin "
        "bit-for-bit, derived variance included",
)
def q_lake_mv_variance(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    idx = lakemv_var_index(spark, sf_dir)
    mv = LakeMaterializedView(
        spark, LakeTable(spark, f"{idx}/tbl"), f"{idx}/mv",
        key="doc_id", group_cols=["lang"], measures=["n_chars"],
        sumsq=["n_chars"])
    s = F.col("sum_n_chars").cast("double")
    q = F.col("sumsq_n_chars").cast("double")
    n = F.col("n_n_chars")
    return mv.read().select(
        "lang", "n_rows", "n_n_chars",
        s.alias("sum_n_chars"), q.alias("sumsq_n_chars"),
        F.round(q / n - F.pow(s / n, F.lit(2)), 6).alias("var_pop"))


# Star-join MV: fact (orders) and dim (customer) each revised between
# refreshes, so the state read was produced by the signed JOIN delta
# rule Δ(F⋈D) = ΔF⋈D_new ∪ F_old⋈ΔD — never a full re-join.
def lakemv_join_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeJoinMaterializedView

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").alias("price"))
        cust = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_mktsegment").alias("seg"))
        fact = LakeTable(spark, f"{path}/fact")
        dim = LakeTable(spark, f"{path}/dim")
        mv = LakeJoinMaterializedView(
            spark, fact, dim, f"{path}/mv", fact_key="o_orderkey",
            join_key="custkey", group_cols=["seg"], measures=["price"])
        fact.commit(orders.filter(F.col("o_orderkey") % 3 < 2)
                    .repartitionByRange(8, "o_orderkey"), txn_id="f0")
        dim.commit(cust, txn_id="d0")
        mv.refresh()                            # full join build
        fact.commit(orders.filter(F.col("o_orderkey") % 3 == 2),
                    "append", txn_id="f1")
        mv.refresh()                            # ΔF ⋈ D_new only
        dim.update({"custkey": (10, 19)}, {"seg": F.lit("MOVED")},
                   txn_id="d1")
        mv.refresh()                            # F_old ⋈ ΔD only
        fact.delete({"o_orderkey": (100, 399)}, txn_id="f2")
        mv.refresh()                            # ΔF ⋈ D_new again

    return index_path("lakemv_join", sf_dir, build)


@query(
    "q_lake_mv_join",
    bench=True,  # join-MV state read, new in r9
    oracle=(
        "WITH c AS (SELECT c_custkey AS custkey, "
        "CASE WHEN c_custkey BETWEEN 10 AND 19 THEN 'MOVED' "
        "ELSE c_mktsegment END AS seg FROM customer), "
        "o AS (SELECT o_custkey AS custkey, o_totalprice AS price "
        "FROM orders WHERE o_orderkey NOT BETWEEN 100 AND 399) "
        "SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(COUNT(price) AS BIGINT) AS n_price, "
        "CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sum_price "
        "FROM o JOIN c USING (custkey) GROUP BY seg"
    ),
    doc="LLM lake versioning: INCREMENTAL JOIN materialized view "
        "(lakemv.LakeJoinMaterializedView) — revenue per market "
        "segment over orders ⋈ customer kept current while BOTH sides "
        "revise (fact append + CoW delete, dim segment re-pointing) "
        "purely by the signed join delta rule Δ(F⋈D) = ΔF⋈D_new ∪ "
        "F_old⋈ΔD: deltas are file-pruned and broadcast, so a fact "
        "append never re-joins the table and a dim revision costs one "
        "broadcast-filtered fact scan with zero exchanges. "
        "Hash-matching the flat SQL join over the final predicate "
        "state proves incremental == full re-join, decimal sums "
        "included — the star-schema reporting view a 100 TB lakehouse "
        "refreshes continuously",
)
def q_lake_mv_join(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeJoinMaterializedView

    idx = lakemv_join_index(spark, sf_dir)
    mv = LakeJoinMaterializedView(
        spark, LakeTable(spark, f"{idx}/fact"),
        LakeTable(spark, f"{idx}/dim"), f"{idx}/mv",
        fact_key="o_orderkey", join_key="custkey",
        group_cols=["seg"], measures=["price"])
    return mv.read().select(
        "seg", "n_rows", "n_price",
        F.col("sum_price").cast("double").alias("sum_price"))


# k-dim star MV: the flagship 5-way chain (lineitem ⋈ orders ⋈
# customer ⋈ nation ⋈ region) with the fact AND TWO dims revised
# between refreshes — one refresh absorbs all three via the telescoped
# delta ΔF⋈M_new ∪ F_old⋈Δ(M), never a full re-join.
def lakemv_star_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeStarMaterializedView

    def build(path: str) -> None:
        from pyspark.sql import Window

        # (l_orderkey, l_linenumber) is NOT unique in the synthetic
        # corpus (multiplicity up to 6) — the fact key contract demands
        # per-snapshot uniqueness (the delta's key window refuses
        # duplicates loudly, lakemv.DuplicateKeyError), so disambiguate
        # with a deterministic per-duplicate ordinal. Ties on the full
        # projected row are content-identical, so the keyed multiset is
        # stable regardless of which twin gets which ordinal.
        rn = F.row_number().over(
            Window.partitionBy("l_orderkey", "l_linenumber")
            .orderBy("l_extendedprice")) - 1
        li = load_table(spark, sf_dir, "lineitem").select(
            ((F.col("l_orderkey") * 8 + F.col("l_linenumber")) * 8
             + rn).alias("l_key"),
            "l_orderkey", F.col("l_extendedprice").alias("price"))
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey")
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey",
            F.col("c_mktsegment").alias("seg"))
        nation = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_regionkey")
        region = load_table(spark, sf_dir, "region").select(
            "r_regionkey", "r_name")
        fact = LakeTable(spark, f"{path}/fact")
        t_o = LakeTable(spark, f"{path}/o")
        t_c = LakeTable(spark, f"{path}/c")
        t_n = LakeTable(spark, f"{path}/n")
        t_r = LakeTable(spark, f"{path}/r")
        mv = LakeStarMaterializedView(
            spark, fact,
            [(t_o, "l_orderkey", "o_orderkey"),
             (t_c, "o_custkey", "c_custkey", 0),
             (t_n, "c_nationkey", "n_nationkey", 1),
             (t_r, "n_regionkey", "r_regionkey", 2)],
            f"{path}/mv", fact_key="l_key",
            group_cols=["r_name", "seg"], measures=["price"])
        fact.commit(li.filter(F.col("l_orderkey") % 3 < 2)
                    .repartitionByRange(8, "l_key"), txn_id="f0")
        t_o.commit(orders, txn_id="o0")
        t_c.commit(cust, txn_id="c0")
        t_n.commit(nation, txn_id="n0")
        t_r.commit(region, txn_id="r0")
        mv.refresh()                  # full star build
        fact.commit(li.filter(F.col("l_orderkey") % 3 == 2), "append",
                    txn_id="f1")
        t_o.update({"o_orderkey": (100, 199)}, {"o_custkey": F.lit(1)},
                   txn_id="o1")
        t_c.update({"c_custkey": (10, 19)}, {"seg": F.lit("MOVED")},
                   txn_id="c1")
        mv.refresh()                  # ΔF + TWO dim revisions, one pass
        fact.delete({"l_orderkey": (200, 399)}, txn_id="f2")
        mv.refresh()                  # ΔF ⋈ M_new again

    return index_path("lakemv_star", sf_dir, build)


@query(
    "q_lake_mv_star",
    bench=True,  # k-dim star-MV state read, new in r10
    oracle=(
        "WITH f AS (SELECT l_orderkey, l_extendedprice AS price "
        "FROM lineitem WHERE l_orderkey NOT BETWEEN 200 AND 399), "
        "o AS (SELECT o_orderkey, CASE WHEN o_orderkey BETWEEN 100 "
        "AND 199 THEN 1 ELSE o_custkey END AS cust FROM orders), "
        "c AS (SELECT c_custkey, c_nationkey, "
        "CASE WHEN c_custkey BETWEEN 10 AND 19 THEN 'MOVED' "
        "ELSE c_mktsegment END AS seg FROM customer) "
        "SELECT r_name, seg, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(COUNT(price) AS BIGINT) AS n_price, "
        "CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sum_price "
        "FROM f JOIN o ON l_orderkey = o_orderkey "
        "JOIN c ON cust = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY r_name, seg"
    ),
    doc="LLM lake versioning: K-DIM STAR materialized view "
        "(lakemv.LakeStarMaterializedView) — revenue per (region, "
        "market segment) over the flagship 5-way chain lineitem ⋈ "
        "orders ⋈ customer ⋈ nation ⋈ region, kept current while the "
        "fact appends/deletes AND two dims revise (orders re-pointed "
        "to another customer, customer segment moved) — one refresh "
        "absorbs all three. The dims compose into one mapping M "
        "dim-side; the refresh applies ΔF⋈M_new ∪ F_old⋈Δ(M) with "
        "Δ(M) computed entirely over dims, so the fact is scanned at "
        "most once per refresh no matter how many dims revised. "
        "Hash-matching the flat 5-way SQL join over the final "
        "predicate state proves incremental == full re-join, decimal "
        "sums included. Non-inner / many-to-many shapes refuse loudly "
        "(UnsupportedJoinShapeError)",
)
def q_lake_mv_star(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeStarMaterializedView

    idx = lakemv_star_index(spark, sf_dir)
    mv = LakeStarMaterializedView(
        spark, LakeTable(spark, f"{idx}/fact"),
        [(LakeTable(spark, f"{idx}/o"), "l_orderkey", "o_orderkey"),
         (LakeTable(spark, f"{idx}/c"), "o_custkey", "c_custkey", 0),
         (LakeTable(spark, f"{idx}/n"), "c_nationkey", "n_nationkey", 1),
         (LakeTable(spark, f"{idx}/r"), "n_regionkey", "r_regionkey", 2)],
        f"{idx}/mv", fact_key="l_key",
        group_cols=["r_name", "seg"], measures=["price"])
    return mv.read().select(
        "r_name", "seg", "n_rows", "n_price",
        F.col("sum_price").cast("double").alias("sum_price"))


# LEFT OUTER join MV: the dim covers only PART of the fact's keys, so
# NULL extension is real state the view must maintain — dim keys
# appearing flip facts out of the NULL group, disappearing flips them
# back (an inner view would drop them).
def lakemv_leftjoin_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeJoinMaterializedView

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").alias("price"))
        cust = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_mktsegment").alias("seg"))
        fact = LakeTable(spark, f"{path}/fact")
        dim = LakeTable(spark, f"{path}/dim")
        mv = LakeJoinMaterializedView(
            spark, fact, dim, f"{path}/mv", fact_key="o_orderkey",
            join_key="custkey", group_cols=["seg"], measures=["price"],
            how="left")
        fact.commit(orders.filter(F.col("o_orderkey") % 3 < 2)
                    .repartitionByRange(8, "o_orderkey"), txn_id="f0")
        dim.commit(cust.filter(F.col("custkey") % 2 == 0), txn_id="d0")
        mv.refresh()               # full left build: odd custkeys NULL
        fact.commit(orders.filter(F.col("o_orderkey") % 3 == 2),
                    "append", txn_id="f1")
        mv.refresh()               # ΔF ⟕ D_new (new orphans too)
        dim.update({"custkey": (10, 19)}, {"seg": F.lit("MOVED")},
                   txn_id="d1")    # image change
        dim.commit(cust.filter((F.col("custkey") % 2 == 1)
                               & F.col("custkey").between(30, 59)),
                   "append", txn_id="d2")   # keys APPEAR: un-NULL facts
        mv.refresh()               # one span delta, both flip kinds
        dim.delete({"custkey": (20, 29)}, txn_id="d3")  # keys DISAPPEAR
        fact.delete({"o_orderkey": (100, 399)}, txn_id="f2")
        mv.refresh()               # facts flip BACK to the NULL group

    return index_path("lakemv_leftjoin", sf_dir, build)


@query(
    "q_lake_mv_leftjoin",
    bench=True,  # LEFT-join MV state read, new in r10
    oracle=(
        "WITH c AS (SELECT c_custkey AS custkey, "
        "CASE WHEN c_custkey BETWEEN 10 AND 19 THEN 'MOVED' "
        "ELSE c_mktsegment END AS seg FROM customer "
        "WHERE (c_custkey % 2 = 0 AND c_custkey NOT BETWEEN 20 AND 29) "
        "OR (c_custkey % 2 = 1 AND c_custkey BETWEEN 30 AND 59)), "
        "o AS (SELECT o_custkey AS custkey, o_totalprice AS price "
        "FROM orders WHERE o_orderkey NOT BETWEEN 100 AND 399) "
        "SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(COUNT(price) AS BIGINT) AS n_price, "
        "CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sum_price "
        "FROM o LEFT JOIN c USING (custkey) GROUP BY seg"
    ),
    doc="LLM lake versioning: LEFT OUTER JOIN materialized view "
        "(lakemv how='left') — revenue per market segment over "
        "orders ⟕ customer where the dim covers only part of the "
        "custkeys, so unmatched orders NULL-extend into a real NULL "
        "group the view must maintain. The dim-revision delta "
        "generalizes the inner rule uniformly: per changed dim key "
        "emit (+, new image) and (−, old image) with a MISSING image "
        "being the NULL extension — an appeared key retracts "
        "NULL-extended rows and adds joined ones, a disappeared key "
        "the reverse, an image change swaps — one broadcast image "
        "table, one hash-filtered fact scan, zero exchanges "
        "(lakemv._left_flip_delta). The sequence exercises orphan "
        "fact appends, an image change + key appearance in ONE span "
        "delta, then key disappearance + fact delete. Hash-matching "
        "the flat SQL LEFT JOIN over the final predicate state proves "
        "incremental == full re-join including the NULL group. "
        "RIGHT/FULL are maintained too since r11 (q_lake_mv_fulljoin)",
)
def q_lake_mv_leftjoin(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeJoinMaterializedView

    idx = lakemv_leftjoin_index(spark, sf_dir)
    mv = LakeJoinMaterializedView(
        spark, LakeTable(spark, f"{idx}/fact"),
        LakeTable(spark, f"{idx}/dim"), f"{idx}/mv",
        fact_key="o_orderkey", join_key="custkey",
        group_cols=["seg"], measures=["price"], how="left")
    return mv.read().select(
        "seg", "n_rows", "n_price",
        F.col("sum_price").cast("double").alias("sum_price"))


# FULL OUTER join MV: BOTH sides' NULL extensions are maintained state
# — unmatched fact rows form the NULL group (LEFT's rule) and unmatched
# dim rows NULL-extend the fact columns, their presence tracked by the
# join-key match count crossing 0 (lakemv._fact_cnt_cross).
def lakemv_fulljoin_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeJoinMaterializedView

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").alias("price"))
        cust = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_mktsegment").alias("seg"))
        fact = LakeTable(spark, f"{path}/fact")
        dim = LakeTable(spark, f"{path}/dim")
        mv = LakeJoinMaterializedView(
            spark, fact, dim, f"{path}/mv", fact_key="o_orderkey",
            join_key="custkey", group_cols=["seg"], measures=["price"],
            how="full")
        fact.commit(orders.filter((F.col("custkey") <= 60)
                                  & (F.col("o_orderkey") % 3 < 2))
                    .repartitionByRange(8, "o_orderkey"), txn_id="f0")
        dim.commit(cust.filter(F.col("custkey") % 2 == 0), txn_id="d0")
        mv.refresh()    # full build: odd-custkey facts → NULL group;
        #                 even custkeys > 60 → dim-side extensions
        fact.commit(orders.filter(
            ((F.col("custkey") <= 60) & (F.col("o_orderkey") % 3 == 2))
            | F.col("custkey").between(61, 70)), "append", txn_id="f1")
        mv.refresh()    # fact delta: first matches for evens 62..70 —
        #                 count crossings RETRACT their extensions
        dim.update({"custkey": (10, 19)}, {"seg": F.lit("MOVED")},
                   txn_id="d1")    # image change
        dim.commit(cust.filter((F.col("custkey") % 2 == 1)
                               & F.col("custkey").between(31, 69)),
                   "append", txn_id="d2")  # keys APPEAR: un-NULL facts
        mv.refresh()    # one span delta, image swap + appearance
        dim.delete({"custkey": (20, 29)}, txn_id="d3")  # keys DISAPPEAR
        fact.delete({"custkey": (61, 70)}, txn_id="f2")
        mv.refresh()    # facts flip back to the NULL group; the 61..70
        #                 dim keys lose their LAST match — crossings
        #                 restore their NULL extensions

    return index_path("lakemv_fulljoin", sf_dir, build)


@query(
    "q_lake_mv_fulljoin",
    bench=True,  # FULL-join MV state read, new in r11
    oracle=(
        "WITH c AS (SELECT c_custkey AS custkey, "
        "CASE WHEN c_custkey BETWEEN 10 AND 19 THEN 'MOVED' "
        "ELSE c_mktsegment END AS seg FROM customer "
        "WHERE ((c_custkey % 2 = 0) OR (c_custkey % 2 = 1 "
        "AND c_custkey BETWEEN 31 AND 69)) "
        "AND c_custkey NOT BETWEEN 20 AND 29), "
        "o AS (SELECT o_custkey AS custkey, o_totalprice AS price "
        "FROM orders WHERE o_custkey <= 60) "
        "SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(COUNT(price) AS BIGINT) AS n_price, "
        "CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sum_price "
        "FROM o FULL JOIN c USING (custkey) GROUP BY seg"
    ),
    doc="LLM lake versioning: FULL OUTER JOIN materialized view "
        "(lakemv how='full') — revenue per market segment over "
        "orders ⟗ customer where each side covers only part of the "
        "other's keys, so BOTH NULL extensions are maintained state: "
        "unmatched orders form the NULL group (the LEFT flip rule) "
        "and unmatched customers NULL-extend the fact side, their "
        "presence tracked by the join-key match count — a fact delta "
        "flips a dim key's extension exactly when its count crosses "
        "0 (lakemv._fact_cnt_cross, one broadcast-filtered count "
        "scan; the DBToaster outer-join IVM trade). The sequence "
        "exercises key appearance AND disappearance on both sides "
        "plus 0→>0 and >0→0 crossings; hash-matching the flat SQL "
        "FULL JOIN over the final predicate state proves incremental "
        "== full re-join including both extension kinds",
)
def q_lake_mv_fulljoin(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeJoinMaterializedView

    idx = lakemv_fulljoin_index(spark, sf_dir)
    mv = LakeJoinMaterializedView(
        spark, LakeTable(spark, f"{idx}/fact"),
        LakeTable(spark, f"{idx}/dim"), f"{idx}/mv",
        fact_key="o_orderkey", join_key="custkey",
        group_cols=["seg"], measures=["price"], how="full")
    return mv.read().select(
        "seg", "n_rows", "n_price",
        F.col("sum_price").cast("double").alias("sum_price"))


# COUNT(DISTINCT) MV: the source is GROUP-CLUSTERED (range layout on
# lang) so the delta-scoped recompute that maintains nd_ also
# FILE-PRUNES through the commit log's per-file lang stats — the
# bounded-refresh shape at 100 TB.
def lakemv_distinct_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        t = LakeTable(spark, f"{path}/tbl")
        mv = LakeMaterializedView(
            spark, t, f"{path}/mv", key="doc_id",
            group_cols=["lang"], measures=["n_chars"],
            distinct=["n_chars"])
        t.commit(docs.filter(F.col("doc_id") % 3 < 2)
                 .repartitionByRange(8, "lang", "doc_id"), txn_id="rev-0")
        mv.refresh()                                  # full build
        t.commit(docs.filter(F.col("doc_id") % 3 == 2)
                 .repartitionByRange(4, "lang", "doc_id"), "append",
                 txn_id="rev-1")
        mv.refresh()                                  # +appended rows
        t.update({"doc_id": (30, 49)}, {"n_chars": F.lit(7)},
                 txn_id="rev-2")
        mv.refresh()                                  # values collapse
        t.delete({"doc_id": (10, 19)}, txn_id="rev-3")
        mv.refresh()                                  # distinct reduced

    return index_path("lakemv_nd", sf_dir, build)


@query(
    "q_lake_mv_distinct",
    bench=True,  # COUNT(DISTINCT) MV state read, new in r10
    oracle=(
        "WITH d AS (SELECT lang, CASE WHEN doc_id BETWEEN 30 AND 49 "
        "THEN 7 ELSE n_chars END AS nc FROM documents "
        "WHERE doc_id NOT BETWEEN 10 AND 19) "
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(COUNT(nc) AS BIGINT) AS n_n_chars, "
        "CAST(SUM(CAST(nc AS DECIMAL(38,6))) AS DOUBLE) AS sum_n_chars, "
        "CAST(COUNT(DISTINCT nc) AS BIGINT) AS nd_n_chars "
        "FROM d GROUP BY lang"
    ),
    doc="LLM lake versioning: per-group COUNT(DISTINCT) in the "
        "incremental materialized view (lakemv distinct=) — "
        "non-invertible like MIN/MAX (deleting one occurrence cannot "
        "tell whether another survives), maintained EXACTLY by the "
        "same delta-scoped partial recompute, and the recompute scan "
        "is FILE-PRUNED: the source is range-clustered by lang, so "
        "the head rescan opens only files whose commit-log stat box "
        "can hold a touched group (last_recompute_files records the "
        "bound; SCALE10X measures it flat at 10×). The revision "
        "sequence collapses a doc_id range to one value then deletes "
        "another range — both must REDUCE distinct counts, which no "
        "signed running state can answer. The sketch alternative "
        "(KMV state) refuses loudly rather than degrading exactness "
        "(UnsupportedAggregateError)",
)
def q_lake_mv_distinct(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    idx = lakemv_distinct_index(spark, sf_dir)
    mv = LakeMaterializedView(
        spark, LakeTable(spark, f"{idx}/tbl"), f"{idx}/mv",
        key="doc_id", group_cols=["lang"], measures=["n_chars"],
        distinct=["n_chars"])
    return mv.read().select(
        "lang", "n_rows", "n_n_chars",
        F.col("sum_n_chars").cast("double").alias("sum_n_chars"),
        "nd_n_chars")


# Deferred (merge-on-read) KEY-SET delete: the O(1) takedown — the
# key set lands as a log predicate scoped to the stats+bloom-covered
# files, rows vanish instantly, compaction materializes later.
def lake_gdpr_defer_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(docs.repartitionByRange(8, "doc_id"),
                 bloom_cols=["doc_id"], txn_id="rev-0")
        t.delete_keys("doc_id", [7, 23, 101, 333, 555], defer=True,
                      txn_id="takedown-1")      # O(1) commit
        t.compact(target_bytes=1 << 30)          # materialize away

    return index_path("lake_gdpr_defer", sf_dir, build)


@query(
    "q_lake_gdpr_defer",
    bench=True,  # deferred key-set delete + compaction, new in r10
    oracle=(
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) "
        "AS sum_chars FROM documents "
        "WHERE doc_id IS NULL OR doc_id NOT IN (7, 23, 101, 333, 555) "
        "GROUP BY lang"
    ),
    doc="LLM lake versioning: DEFERRED KEY-SET DELETE "
        "(lakelog.delete_keys defer=True) — the right-to-be-erased "
        "queue at 100 TB: the id set lands as an O(1) log predicate "
        "(no data file touched) scoped to exactly the files whose "
        "stats box / Bloom index can hold any of the ids, rows vanish "
        "from every read path the instant the entry publishes, and "
        "compaction later materializes the predicate away (the "
        "pre-delete version stays time-travelable until vacuum). "
        "Hash-matching per-lang aggregates after defer + compact "
        "against the flat NOT IN recount proves the predicate "
        "semantics end-to-end; NULL ids never match (SQL semantics)",
)
def q_lake_gdpr_defer(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lake_gdpr_defer_index(spark, sf_dir)
    return (LakeTable(spark, f"{idx}/tbl").read()
            .groupBy("lang").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("n_chars").cast("decimal(38,6)"))
                .cast("double").alias("sum_chars")))


# Per-consumer CHANGE FEED: the generic "what changed since I last
# looked" primitive (feed_changes/ack_feed) — offsets are retention
# tags, deltas are the views' signed/file-pruned machinery as an API.
def lake_feed_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(docs.filter(F.col("doc_id") % 3 < 2)
                 .repartitionByRange(8, "doc_id"), txn_id="rev-0")
        _, head = t.feed_changes("reporting", "doc_id")
        t.ack_feed("reporting", head)     # consumer caught up at v0
        t.commit(docs.filter(F.col("doc_id") % 3 == 2), "append",
                 txn_id="rev-1")
        t.update({"doc_id": (10, 29)}, {"n_chars": F.lit(7)},
                 txn_id="rev-2")
        t.delete({"doc_id": (40, 59)}, txn_id="rev-3")
        # deliberately NOT acked: the query consumes the pending delta

    return index_path("lake_feed", sf_dir, build)


@query(
    "q_lake_changes_feed",
    bench=True,  # consolidated CDC delta read, new in r10
    oracle=(
        # a correct signed change feed aggregates to EXACTLY
        # final-minus-initial, per group — the CDC identity
        "WITH init AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c, "
        "SUM(CAST(n_chars AS DECIMAL(38,6))) AS s FROM documents "
        "WHERE doc_id % 3 < 2 GROUP BY lang), "
        "fin AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c, "
        "SUM(CAST(CASE WHEN doc_id BETWEEN 10 AND 29 THEN 7 "
        "ELSE n_chars END AS DECIMAL(38,6))) AS s FROM documents "
        "WHERE doc_id NOT BETWEEN 40 AND 59 GROUP BY lang) "
        "SELECT f.lang, f.c - COALESCE(i.c, 0) AS n_delta, "
        "CAST(f.s - COALESCE(i.s, 0) AS DOUBLE) AS sum_delta "
        "FROM fin f LEFT JOIN init i USING (lang)"
    ),
    doc="LLM lake versioning: per-consumer CHANGE FEED "
        "(lakelog.feed_changes/ack_feed) — a consumer acks the initial "
        "version, the table then appends + CoW-updates + deletes, and "
        "the feed hands back ONE consolidated signed delta "
        "(file-pruned, compaction-aware — the views' delta machinery "
        "as an API); offsets are retention tags, so the files a slow "
        "consumer still needs survive vacuum, and delivery is "
        "at-least-once (re-read until ack — which also makes this "
        "query idempotent across processes). Hash-matching the "
        "per-lang signed aggregate against final-minus-initial "
        "computed flat in SQL proves the CDC identity: the delta is "
        "exactly the difference of the two snapshots, nothing lost, "
        "nothing double-counted",
)
def q_lake_changes_feed(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lake_feed_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    delta, _head = t.feed_changes("reporting", "doc_id")
    return delta.groupBy("lang").agg(
        F.sum("__sign").cast("bigint").alias("n_delta"),
        F.sum(F.col("n_chars").cast("decimal(38,6)") * F.col("__sign"))
        .cast("double").alias("sum_delta"))


@query(
    "q_lake_cdc_types",
    oracle=(
        # the same span as q_lake_changes_feed, classified row-level:
        # endpoint-diff semantics (intra-span appear+disappear cancels,
        # no-op updates cancel), so every expected row is a flat
        # predicate over the base table
        "SELECT doc_id, lang, n_chars, _change_type FROM ("
        "SELECT doc_id, lang, CAST(CASE WHEN doc_id BETWEEN 10 AND 29 "
        "THEN 7 ELSE n_chars END AS BIGINT) AS n_chars, "
        "'insert' AS _change_type FROM documents "
        "WHERE doc_id % 3 = 2 AND doc_id NOT BETWEEN 40 AND 59 "
        "UNION ALL "
        "SELECT doc_id, lang, n_chars, 'delete' FROM documents "
        "WHERE doc_id % 3 < 2 AND doc_id BETWEEN 40 AND 59 "
        "UNION ALL "
        "SELECT doc_id, lang, n_chars, 'update_preimage' "
        "FROM documents WHERE doc_id % 3 < 2 "
        "AND doc_id BETWEEN 10 AND 29 AND n_chars <> 7 "
        "UNION ALL "
        "SELECT doc_id, lang, CAST(7 AS BIGINT), 'update_postimage' "
        "FROM documents WHERE doc_id % 3 < 2 "
        "AND doc_id BETWEEN 10 AND 29 AND n_chars <> 7)"
    ),
    doc="LLM lake versioning: CDC row classification "
        "(lakelog.feed_changes_cdc, the Delta-CDF _change_type "
        "surface) — the same consumer offset and pending span as "
        "q_lake_changes_feed, but each delta row is classified "
        "insert / delete / update_preimage / update_postimage by "
        "pairing the ± signs per key. Hash-matching the full "
        "row-level classification against flat predicates proves the "
        "pairing: appended keys classify insert (with their POST-"
        "update values — the endpoint diff composes the span), "
        "deleted v0 keys classify delete with their pre-images, "
        "changed keys emit exactly one pre/post pair, and no-op "
        "updates (n_chars already 7) emit NOTHING — the cancellation "
        "a naive commit-log tailer gets wrong",
)
def q_lake_cdc_types(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lake_feed_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    cdc, _head = t.feed_changes_cdc("reporting", "doc_id")
    return cdc


# CDC replication: source → change feed → merge-apply into a replica,
# the downstream-copy / DR loop composed from the existing primitives.
def lake_replica_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        t = LakeTable(spark, f"{path}/src")
        rep = LakeTable(spark, f"{path}/replica")
        t.commit(docs.filter(F.col("doc_id") % 3 < 2)
                 .repartitionByRange(8, "doc_id"), txn_id="rv-0")
        t.replicate_to(rep, "dr", "doc_id")   # initial full sync
        t.commit(docs.filter(F.col("doc_id") % 3 == 2), "append",
                 txn_id="rv-1")
        t.update({"doc_id": (10, 29)}, {"n_chars": F.lit(7)},
                 txn_id="rv-2")
        t.delete({"doc_id": (40, 59)}, txn_id="rv-3")
        t.replicate_to(rep, "dr", "doc_id")   # one consolidated apply

    return index_path("lake_replica", sf_dir, build)


@query(
    "q_lake_replica",
    oracle=(
        "SELECT doc_id, lang, "
        "CAST(CASE WHEN doc_id BETWEEN 10 AND 29 THEN 7 "
        "ELSE n_chars END AS BIGINT) AS n_chars "
        "FROM documents WHERE doc_id NOT BETWEEN 40 AND 59"
    ),
    doc="LLM lake versioning: CDC REPLICATION "
        "(lakelog.replicate_to — feed_changes_cdc classifies, "
        "merge_clauses applies: post-images/inserts upsert, deletes "
        "drop via WHEN MATCHED AND action='d', the conditional "
        "insert excludes unmatched deletes; the feed offset is the "
        "replication cursor, acked only after the target commit, so "
        "the loop is exactly-once end to end). The replica absorbs "
        "an initial full sync plus ONE consolidated apply spanning "
        "append + CoW update + delete; hash-matching the replica "
        "against the source's final state computed flat in SQL "
        "proves convergence — the downstream-copy/DR shape at 100 TB "
        "costs O(changed rows) per sync, never a table copy",
)
def q_lake_replica(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lake_replica_index(spark, sf_dir)
    return LakeTable(spark, f"{idx}/replica").read()


# Streaming CDC replication: the reference's daily-trigger shape
# (availableNow foreachBatch) composed with the replication loop —
# each micro-batch appends to the SOURCE and drives one feed→merge
# sync, out-of-band source revisions ride the feed into the next
# drain.
def lake_cdc_stream_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark import streaming
    from aws_data_pipeline_ads_spark.lakelog import (
        LakeTable,
        lake_cdc_sink,
    )

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        docs.where(F.col("doc_id") % 2 == 0).coalesce(2)\
            .write.parquet(f"{path}/landing/s1")
        src = LakeTable(spark, f"{path}/src")
        rep = LakeTable(spark, f"{path}/replica")
        stream = streaming.documents_stream(spark, f"{path}/landing")
        lake_cdc_sink(stream, src, rep, f"{path}/ck", "dr", "doc_id")
        # out-of-band source revisions BETWEEN drains: the next sync
        # absorbs them through the feed, not through this stream
        src.update({"doc_id": (10, 49)}, {"n_chars": F.lit(9)})
        src.delete({"doc_id": (100, 199)})
        docs.where(F.col("doc_id") % 2 == 1).coalesce(2)\
            .write.parquet(f"{path}/landing/s2")
        stream = streaming.documents_stream(spark, f"{path}/landing")
        lake_cdc_sink(stream, src, rep, f"{path}/ck", "dr", "doc_id")

    return index_path("lake_cdc_stream", sf_dir, build)


@query(
    "q_lake_cdc_stream",
    oracle=(
        "SELECT doc_id, lang, "
        "CAST(CASE WHEN doc_id BETWEEN 10 AND 49 THEN 9 "
        "ELSE n_chars END AS BIGINT) AS n_chars "
        "FROM documents "
        "WHERE doc_id % 2 = 0 AND doc_id NOT BETWEEN 100 AND 199 "
        "UNION ALL "
        "SELECT doc_id, lang, n_chars FROM documents "
        "WHERE doc_id % 2 = 1"
    ),
    doc="LLM lake versioning: STREAMING CDC REPLICATION "
        "(lakelog.lake_cdc_sink — availableNow foreachBatch, the "
        "reference's daily-trigger shape composed with the "
        "replication loop): each micro-batch appends to the SOURCE "
        "table under a query-scoped txn and drives one "
        "feed_changes_cdc→merge_clauses sync. Out-of-band source "
        "revisions between drains (a CoW update + a range delete "
        "landed by another writer) ride the FEED into the next "
        "drain's sync — the feed offset, not the batch id, is the "
        "replication cursor, so every crash point self-heals "
        "(commit-vs-sync: the span grows; apply-vs-ack: txn-log "
        "replay; checkpoint replay: the source answers from its "
        "log). Hash-matching the drained replica against the flat "
        "SQL final state proves stream==batch for the whole loop",
)
def q_lake_cdc_stream(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lake_cdc_stream_index(spark, sf_dir)
    return LakeTable(spark, f"{idx}/replica").read()


# Delta-style MERGE with explicit WHEN clauses, cover-scoped: the
# update/takedown/backfill trifecta in ONE commit, rewriting only the
# stats+bloom-covered files of a key-clustered table.
def lake_merge_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice")
        base = orders.filter(F.col("o_orderkey") <= 2000)
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(base.repartitionByRange(8, "o_orderkey"),
                 bloom_cols=["o_orderkey"], txn_id="m0")
        upd = base.filter(F.col("o_orderkey") % 10 == 3).select(
            "o_orderkey", "o_custkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
            F.when(F.col("o_orderkey") % 20 == 3, F.lit("del"))
            .otherwise(F.lit("upd")).alias("action"))
        ins = base.filter(F.col("o_orderkey") % 10 == 7).select(
            (F.col("o_orderkey") + 3_000_000).alias("o_orderkey"),
            "o_custkey", "o_totalprice", F.lit("ins").alias("action"))
        t.merge_clauses(
            upd.unionByName(ins), "o_orderkey",
            matched_update={"o_totalprice": "src_o_totalprice"},
            matched_delete="src_action = 'del'",
            insert=True, txn_id="m1")

    return index_path("lake_merge", sf_dir, build)


@query(
    "q_lake_merge_clauses",
    oracle=(
        "SELECT o_orderkey, o_custkey, o_totalprice FROM ("
        "SELECT o_orderkey, o_custkey, "
        "CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 2 "
        "ELSE o_totalprice END AS o_totalprice FROM orders "
        "WHERE o_orderkey <= 2000 AND o_orderkey % 20 <> 3 "
        "UNION ALL "
        "SELECT o_orderkey + 3000000, o_custkey, o_totalprice "
        "FROM orders WHERE o_orderkey <= 2000 AND o_orderkey % 10 = 7)"
    ),
    doc="LLM lake versioning: full Delta-style MERGE "
        "(lakelog.merge_clauses) — WHEN MATCHED AND src_action='del' "
        "THEN DELETE, WHEN MATCHED THEN UPDATE SET price = "
        "src_o_totalprice, WHEN NOT MATCHED THEN INSERT, one commit. "
        "The rewrite is COVER-SCOPED: the source's keys tighten "
        "through the commit-log stats + Bloom index to the files that "
        "can hold them, untouched files share bytes (delete_keys' "
        "takedown shape, generalized to the three-clause merge); "
        "clause precedence (delete beats update) and original-row SET "
        "semantics ride the hash gate against the flat SQL recompute",
)
def q_lake_merge_clauses(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lake_merge_index(spark, sf_dir)
    return LakeTable(spark, f"{idx}/tbl").read()


# MERGE with schema evolution (Delta withSchemaEvolution()): an
# UPDATE+INSERT merge whose source carries a NEW column widens the
# target schema in the same commit — matched rows take the SET value,
# inserts carry it from the source, untouched files read it as NULL
# under the pinned schema, prior versions time-travel unwidened.
def lake_merge_evolve_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        base = docs.filter(F.col("doc_id") % 3 == 0)
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(base.repartitionByRange(8, "doc_id"),
                 bloom_cols=["doc_id"], txn_id="e0")
        src = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "quality",
            (F.col("doc_id") % 100).cast("double") / F.lit(10.0))
        t.merge_clauses(src, "doc_id",
                        matched_update={"quality": "src_quality"},
                        insert=True, evolve=True, txn_id="e1")

    return index_path("lake_merge_evolve", sf_dir, build)


@query(
    "q_lake_merge_evolve",
    oracle=(
        "SELECT doc_id, lang, n_chars, "
        "CASE WHEN doc_id % 7 = 0 THEN "
        "CAST(doc_id % 100 AS DOUBLE) / 10.0 ELSE NULL END AS quality "
        "FROM documents WHERE doc_id % 3 = 0 "
        "UNION ALL "
        "SELECT doc_id, lang, n_chars, "
        "CAST(doc_id % 100 AS DOUBLE) / 10.0 "
        "FROM documents WHERE doc_id % 7 = 0 AND doc_id % 3 <> 0"
    ),
    doc="LLM lake versioning: MERGE SCHEMA EVOLUTION "
        "(lakelog.merge_clauses(evolve=True), Delta "
        "withSchemaEvolution() parity) — one UPDATE+INSERT merge "
        "whose source carries a NEW `quality` column widens the "
        "target schema in the SAME commit: matched rows take the SET "
        "expression, WHEN NOT MATCHED inserts carry the column from "
        "the source, non-matched kept rows and untouched shared files "
        "read it as NULL under the pinned schema (no backfill "
        "rewrite), and the prior version time-travels with its own "
        "unwidened schema. The rewrite stays cover-scoped through "
        "stats+Bloom; the hash gate replays the widened final state "
        "flat in SQL",
)
def q_lake_merge_evolve(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lake_merge_evolve_index(spark, sf_dir)
    return LakeTable(spark, f"{idx}/tbl").read()


# Merge-on-read UPDATE: one commit hides the old images behind a
# scoped deferred-delete predicate and appends ONLY the post-image
# rows — O(changed rows) written instead of O(covered files)
# rewritten; stacked updates compose through the per-file scopes.
def lake_update_defer_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(docs.repartitionByRange(8, "doc_id"), txn_id="u0")
        t.update({"doc_id": (50, 149)}, {"n_chars": "n_chars + 7"},
                 defer=True, txn_id="u1")
        # overlapping second deferred update: applies to the VISIBLE
        # state (first post-images included)
        t.update({"doc_id": (100, 199)},
                 {"n_chars": "n_chars + 1000"}, defer=True, txn_id="u2")
        # appended rows matching the predicates post-date the scopes
        extra = docs.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            "lang", "n_chars")
        t.commit(extra, "append", txn_id="u3")

    return index_path("lake_update_defer", sf_dir, build)


@query(
    "q_lake_update_defer",
    oracle=(
        "WITH s1 AS (SELECT doc_id, lang, "
        "CASE WHEN doc_id BETWEEN 50 AND 149 THEN n_chars + 7 "
        "ELSE n_chars END AS n_chars FROM documents), "
        "s2 AS (SELECT doc_id, lang, "
        "CASE WHEN doc_id BETWEEN 100 AND 199 THEN n_chars + 1000 "
        "ELSE n_chars END AS n_chars FROM s1) "
        "SELECT doc_id, lang, n_chars FROM s2 "
        "UNION ALL "
        "SELECT doc_id + 10000000, lang, n_chars FROM documents "
        "WHERE doc_id % 50 = 0"
    ),
    doc="LLM lake versioning: MERGE-ON-READ UPDATE "
        "(lakelog.update(defer=True)) — one commit records the ranges "
        "as a deferred-delete predicate scoped to the prior file list "
        "(old images invisible instantly) and appends ONLY the "
        "post-image rows: O(changed rows) written, every prior file "
        "shared — where CoW would rewrite every covered file. Two "
        "OVERLAPPING deferred updates stack (the second's post-images "
        "compute on the first's visible state; its scope hides both "
        "prior images), and rows appended afterwards match the "
        "predicate but post-date the scope, staying visible. The hash "
        "gate replays the sequential CASE WHEN composition flat in "
        "SQL — scope leakage in either direction fails the compare",
)
def q_lake_update_defer(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lake_update_defer_index(spark, sf_dir)
    return LakeTable(spark, f"{idx}/tbl").read()


# Generated columns (Delta GENERATED ALWAYS AS): a declared column is
# omitted by writers (materialized at commit from its expression) or
# provided with the exact value — divergence refuses on commit/merge/
# update, the declaration carries like a constraint.
def lake_generated_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(docs.withColumn("band", F.expr("n_chars div 100"))
                 .repartitionByRange(8, "doc_id"), txn_id="g0")
        t.set_generated_column("band", "n_chars div 100", txn_id="g1")
        # append WITHOUT the column — materialized at write
        extra = docs.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            "lang", "n_chars")
        t.commit(extra, "append", txn_id="g2")

    return index_path("lake_generated", sf_dir, build)


@query(
    "q_lake_generated",
    oracle=(
        "SELECT doc_id, lang, n_chars, "
        "CAST(n_chars // 100 AS BIGINT) AS band FROM documents "
        "UNION ALL "
        "SELECT doc_id + 10000000, lang, n_chars, "
        "CAST(n_chars // 100 AS BIGINT) FROM documents "
        "WHERE doc_id % 3 = 0"
    ),
    doc="LLM lake versioning: GENERATED COLUMNS "
        "(lakelog.set_generated_column, Delta GENERATED ALWAYS AS "
        "parity) — declare band = n_chars div 100 (head validated "
        "first, like ADD CONSTRAINT), then append a batch that OMITS "
        "the column: commit materializes it from the expression; a "
        "batch providing a diverging value refuses on commit/merge/"
        "update (NULL-safe-equality gate over the rows being written, "
        "never a table rescan); the declaration carries forward, "
        "survives compact/restore, rides clone, and blocks rename/"
        "drop of itself and its inputs. The hash gate replays the "
        "final state with the expression computed flat in SQL — a "
        "write-path materialization drift fails the compare",
)
def q_lake_generated(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lake_generated_index(spark, sf_dir)
    return LakeTable(spark, f"{idx}/tbl").read()


# Type widening (Delta 4.0 parity): int→long as ONE log write — the
# parquet scan upcasts each file's narrower pages losslessly under the
# pinned wider schema; appends beyond int range prove it is real.
def lake_widen_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.col("n_chars").cast("int").alias("n_chars"))
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(docs.repartitionByRange(8, "doc_id"),
                 sum_cols=["n_chars"], txn_id="w0")
        t.widen_column("n_chars", "long", txn_id="w1")
        big = docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            (F.col("n_chars").cast("long")
             + F.lit(1 << 35)).alias("n_chars"))
        t.commit(big, "append", txn_id="w2")

    return index_path("lake_widen", sf_dir, build)


@query(
    "q_lake_type_widen",
    oracle=(
        "SELECT 'head' AS side, doc_id, "
        "CAST(n_chars AS BIGINT) AS n_chars FROM documents "
        "UNION ALL "
        "SELECT 'head', doc_id + 10000000, "
        "CAST(n_chars AS BIGINT) + 34359738368 "
        "FROM documents WHERE doc_id % 5 = 0 "
        "UNION ALL "
        "SELECT 'v0', doc_id, CAST(n_chars AS BIGINT) FROM documents"
    ),
    doc="LLM lake versioning: TYPE WIDENING (lakelog.widen_column, "
        "Delta 4.0 parity) — int→long as ONE metadata commit, zero "
        "files rewritten: the scan upcasts the original int pages "
        "losslessly under the pinned wider schema, an append then "
        "lands values ABOVE int range (+2^35 — a widening that "
        "silently truncated or refused would fail), per-file decimal "
        "sums keep answering metadata-only SUM across the width "
        "change, and v0 time-travels with its own narrow schema. The "
        "hash gate unions head state with the v0 snapshot (both cast "
        "BIGINT flat in SQL)",
)
def q_lake_type_widen(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lake_widen_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    head = t.read().select(F.lit("head").alias("side"),
                           "doc_id", "n_chars")
    v0 = t.read(0).select(F.lit("v0").alias("side"), "doc_id",
                          F.col("n_chars").cast("long").alias("n_chars"))
    return head.unionByName(v0)


# Column mapping (Delta/Iceberg parity): rename and drop are ONE log
# write each — no file rewritten. Physical names stay stable (per-file
# stats/blooms/sums keep pruning); a re-added dropped name gets a
# FRESH physical name so old bytes in shared files never resurrect.
def lake_column_map_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        t = LakeTable(spark, f"{path}/tbl")
        t.commit(docs.repartitionByRange(8, "doc_id"),
                 bloom_cols=["doc_id"], sum_cols=["n_chars"],
                 txn_id="cm0")
        t.rename_column("n_chars", "chars", txn_id="cm1")
        t.drop_column("lang", txn_id="cm2")
        # append under the NEW logical name (lands physically as
        # n_chars — invisible to the caller, uniform reads)
        extra = docs.filter(F.col("doc_id") % 4 == 0).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            F.col("n_chars").alias("chars"))
        t.commit(extra, "append", txn_id="cm3")
        # RE-ADD the dropped name via evolve-append: gets a fresh
        # physical name — pre-existing rows must read NULL, never the
        # old lang bytes still sitting in the shared files
        readd = docs.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"),
            F.col("n_chars").alias("chars"),
            F.lit("new").alias("lang"))
        t.commit(readd, "append", evolve=True, txn_id="cm4")

    return index_path("lake_column_map", sf_dir, build)


@query(
    "q_lake_column_map",
    oracle=(
        "SELECT 'head' AS side, doc_id, n_chars AS chars, "
        "CAST(NULL AS VARCHAR) AS lang FROM documents "
        "UNION ALL "
        "SELECT 'head', doc_id + 10000000, n_chars, NULL "
        "FROM documents WHERE doc_id % 4 = 0 "
        "UNION ALL "
        "SELECT 'head', doc_id + 20000000, n_chars, 'new' "
        "FROM documents WHERE doc_id % 11 = 0 "
        "UNION ALL "
        "SELECT 'v0', doc_id, n_chars, lang FROM documents"
    ),
    doc="LLM lake versioning: COLUMN MAPPING (lakelog.rename_column / "
        "drop_column, Delta column-mapping parity) — rename n_chars→"
        "chars and drop lang as two METADATA-ONLY commits (zero files "
        "rewritten; per-file stats/blooms/sums stay keyed by the "
        "stable physical name and keep pruning), append under the new "
        "logical name, then RE-ADD 'lang' via evolve-append: the "
        "re-added column gets a fresh physical name, so every "
        "pre-existing row reads NULL — the old lang bytes still in "
        "the shared files can never resurrect. The hash gate unions "
        "the head state with the v0 time travel (original names and "
        "values), so a leaked rename, a resurrected drop, or a broken "
        "time-travel schema all fail the compare",
)
def q_lake_column_map(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lake_column_map_index(spark, sf_dir)
    t = LakeTable(spark, f"{idx}/tbl")
    head = t.read().select(
        F.lit("head").alias("side"), "doc_id", "chars", "lang")
    v0 = t.read(0).select(
        F.lit("v0").alias("side"), "doc_id",
        F.col("n_chars").alias("chars"), "lang")
    return head.unionByName(v0)


# Shallow CLONE: fork a table at a tagged version with ZERO bytes
# copied, then let both sides diverge — the dev/test workflow every
# 100 TB lakehouse needs (a deep copy would be a day of I/O).
def lake_clone_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        t = LakeTable(spark, f"{path}/src")
        t.commit(docs.repartitionByRange(8, "doc_id"), txn_id="s0")
        t.tag("base")
        dev = t.clone(f"{path}/dev", version="base")
        # source diverges AFTER the clone point
        t.update({"doc_id": (100, 199)}, {"n_chars": F.lit(7)},
                 txn_id="s1")
        # clone diverges independently
        dev.delete({"doc_id": (0, 49)}, txn_id="d0")
        dev.commit(docs.filter(F.col("doc_id") < 25)
                   .withColumn("doc_id",
                               F.col("doc_id") + F.lit(10_000_000)),
                   "append", txn_id="d1")

    return index_path("lake_clone", sf_dir, build)


@query(
    "q_lake_clone",
    bench=True,  # zero-copy clone divergence read, new in r10
    oracle=(
        "WITH clone_state AS (SELECT doc_id, lang, n_chars "
        "FROM documents WHERE doc_id NOT BETWEEN 0 AND 49 "
        "UNION ALL SELECT doc_id + 10000000, lang, n_chars "
        "FROM documents WHERE doc_id < 25), "
        "src_state AS (SELECT doc_id, lang, "
        "CASE WHEN doc_id BETWEEN 100 AND 199 THEN 7 ELSE n_chars END "
        "AS n_chars FROM documents) "
        "SELECT 'clone' AS side, lang, "
        "CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) "
        "AS sum_chars, "
        "CAST(MIN(doc_id) AS BIGINT) AS min_id, "
        "CAST(MAX(doc_id) AS BIGINT) AS max_id "
        "FROM clone_state GROUP BY lang "
        "UNION ALL SELECT 'source', lang, "
        "CAST(COUNT(*) AS BIGINT), "
        "CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE), "
        "CAST(MIN(doc_id) AS BIGINT), CAST(MAX(doc_id) AS BIGINT) "
        "FROM src_state GROUP BY lang"
    ),
    doc="LLM lake versioning: SHALLOW CLONE (lakelog.clone, Delta "
        "CLONE semantics) — fork the table at a tagged version with "
        "ZERO bytes copied (the clone's v0 references the source's "
        "files; per-file stats/blooms/sums ride along so data "
        "skipping works immediately), then diverge BOTH sides: the "
        "source CoW-updates a range, the clone deletes a range and "
        "appends new rows. Hash-matching per-lang aggregates of both "
        "final states proves full isolation in both directions. "
        "Deletion safety is structural: vacuum only reclaims files "
        "under a table's own data/ dir (a clone can never corrupt "
        "its source), and clone() pins the source version with a "
        "retention tag the source's vacuum honors until released",
)
def q_lake_clone(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lake_clone_index(spark, sf_dir)

    def agg(df, side):
        return df.groupBy(F.lit(side).alias("side"), "lang").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("n_chars").cast("decimal(38,6)"))
            .cast("double").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"))

    clone_df = LakeTable(spark, f"{idx}/dev").read()
    src_df = LakeTable(spark, f"{idx}/src").read()
    return agg(clone_df, "clone").unionByName(agg(src_df, "source"))


# DLT-style expectations at lake write: rules split a dirty batch into
# a committed table + a versioned quarantine table carrying the failed
# rule names — the split and the per-rule counts are exact.
def lake_expect_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        dirty = (docs
                 .withColumn("n_chars",
                             F.when(F.col("doc_id") % 97 == 0, F.lit(-1))
                             .otherwise(F.col("n_chars")))
                 .withColumn("lang",
                             F.when(F.col("doc_id") % 89 == 0,
                                    F.lit(None).cast("string"))
                             .otherwise(F.col("lang"))))
        t = LakeTable(spark, f"{path}/tbl")
        t.commit_expect(
            dirty.repartitionByRange(8, "doc_id"),
            {"chars_positive": "n_chars > 0",
             "lang_known": "lang IS NOT NULL",
             "chars_cap": "n_chars < 500"},
            txn_id="batch-0")

    return index_path("lake_expect", sf_dir, build)


@query(
    "q_lake_expectations",
    bench=True,  # expectation-split state read, new in r10
    oracle=(
        "WITH d AS (SELECT "
        "CASE WHEN doc_id % 89 = 0 THEN NULL ELSE lang END AS lang, "
        "CASE WHEN doc_id % 97 = 0 THEN -1 ELSE n_chars END AS n_chars "
        "FROM documents), "
        "f AS (SELECT "
        "CASE WHEN COALESCE(n_chars > 0, FALSE) THEN 0 ELSE 1 END AS v1, "
        "CASE WHEN lang IS NOT NULL THEN 0 ELSE 1 END AS v2, "
        "CASE WHEN COALESCE(n_chars < 500, FALSE) THEN 0 ELSE 1 END "
        "AS v3 FROM d) "
        "SELECT 'rows_committed' AS metric, CAST(SUM(CASE WHEN "
        "v1 + v2 + v3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS value FROM f "
        "UNION ALL SELECT 'rows_quarantined', CAST(SUM(CASE WHEN "
        "v1 + v2 + v3 > 0 THEN 1 ELSE 0 END) AS BIGINT) FROM f "
        "UNION ALL SELECT 'viol:chars_cap', CAST(SUM(v3) AS BIGINT) "
        "FROM f "
        "UNION ALL SELECT 'viol:chars_positive', CAST(SUM(v1) AS "
        "BIGINT) FROM f "
        "UNION ALL SELECT 'viol:lang_known', CAST(SUM(v2) AS BIGINT) "
        "FROM f"
    ),
    doc="LLM lake versioning: ROW-LEVEL EXPECTATIONS at write "
        "(lakelog.commit_expect, the Delta Live Tables shape) — a "
        "dirty batch (planted negative char counts, NULL langs, plus "
        "the natural over-cap tail) splits EXACTLY into a committed "
        "table satisfying every rule and a sibling versioned "
        "QUARANTINE LakeTable whose rows carry the failed rule names "
        "and source version; a NULL predicate result is a violation "
        "(an unknown is not a pass). The query re-derives the split "
        "metrics from the two committed tables — counts + per-rule "
        "violation totals from exploding _violations — and "
        "hash-matches the flat SQL recount over the raw corpus, "
        "proving no row was lost or double-counted. on_violation = "
        "fail refuses the whole batch loudly; drop discards; "
        "exactly-once via txn ids on both tables",
)
def q_lake_expectations(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable

    idx = lake_expect_index(spark, sf_dir)
    committed = LakeTable(spark, f"{idx}/tbl").read()
    quar = LakeTable(spark, f"{idx}/tbl_quarantine").read()
    n_ok = committed.count()
    n_bad = quar.count()
    per_rule = dict(
        quar.select(F.explode("_violations").alias("r"))
        .groupBy("r").count().collect())
    rows = ([("rows_committed", n_ok), ("rows_quarantined", n_bad)]
            + [(f"viol:{r}", int(c)) for r, c in sorted(per_rule.items())])
    return spark.createDataFrame(rows, "metric string, value long")


# KMV-sketch COUNT(DISTINCT) MV: append-only source, so the refresh
# MERGES bottom-k sketches instead of rescanning the head — the
# 100 TB fast path exact mode cannot offer. The estimator is portable
# md5 arithmetic, so DuckDB reproduces the estimates bit-exactly.
def lakemv_kmv_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars")
        t = LakeTable(spark, f"{path}/tbl")
        mv = LakeMaterializedView(
            spark, t, f"{path}/mv", key="doc_id",
            group_cols=["lang"], measures=["n_chars"],
            distinct=["n_chars"], distinct_mode="kmv")
        t.commit(docs.filter(F.col("doc_id") % 3 == 0)
                 .repartitionByRange(8, "doc_id"), txn_id="rev-0")
        mv.refresh()                              # full build
        t.commit(docs.filter(F.col("doc_id") % 3 == 1), "append",
                 txn_id="rev-1")
        mv.refresh()                              # sketch union merge
        t.commit(docs.filter(F.col("doc_id") % 3 == 2), "append",
                 txn_id="rev-2")
        mv.refresh()                              # sketch union merge

    return index_path("lakemv_kmv", sf_dir, build)


@query(
    "q_lake_mv_distinct_kmv",
    bench=True,  # KMV-sketch MV state read, new in r10
    oracle=(
        "WITH dv AS (SELECT DISTINCT lang, "
        "md5(CAST(n_chars AS VARCHAR)) AS h FROM documents "
        "WHERE n_chars IS NOT NULL), "
        "r AS (SELECT lang, h, "
        "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn, "
        "COUNT(*) OVER (PARTITION BY lang) AS nd FROM dv), "
        "kth AS (SELECT * FROM r WHERE rn = LEAST(nd, 256)), "
        "base AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(COUNT(n_chars) AS BIGINT) AS n_n_chars, "
        "CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) "
        "AS sum_n_chars FROM documents GROUP BY lang) "
        "SELECT base.lang, n_rows, n_n_chars, sum_n_chars, "
        "COALESCE(CASE WHEN nd < 256 THEN CAST(nd AS DOUBLE) "
        "ELSE ROUND(255.0 / (CAST(" + hex_u32_sql("h")
        + " AS DOUBLE) / 4294967296.0), 6) END, 0.0) "
        "AS nd_n_chars_est "
        "FROM base LEFT JOIN kth ON base.lang = kth.lang"
    ),
    doc="LLM lake versioning: KMV-SKETCH COUNT(DISTINCT) materialized "
        "view (lakemv distinct_mode='kmv') — the append-only fast "
        "path: each refresh merges the delta's bottom-k digest sketch "
        "into the stored one (set algebra, bit-deterministic), NEVER "
        "rescanning the head — unlike exact mode's delta-scoped "
        "recompute, refresh cost is delta-sized even for distinct "
        "counts. Estimates are exact below k=256 and (k−1)/U_(k) "
        "beyond; the digest/estimator arithmetic is portable md5 + "
        "one IEEE division, so the oracle recomputes the estimates "
        "bit-exactly from the final state — incremental sketch "
        "merging == full bottom-k, hash-verified. Any disappeared "
        "row refuses loudly (UnsupportedAggregateError) instead of "
        "over-counting",
)
def q_lake_mv_distinct_kmv(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    idx = lakemv_kmv_index(spark, sf_dir)
    mv = LakeMaterializedView(
        spark, LakeTable(spark, f"{idx}/tbl"), f"{idx}/mv",
        key="doc_id", group_cols=["lang"], measures=["n_chars"],
        distinct=["n_chars"], distinct_mode="kmv")
    return mv.read().select(
        "lang", "n_rows", "n_n_chars",
        F.col("sum_n_chars").cast("double").alias("sum_n_chars"),
        "nd_n_chars_est")


# Continuous aggregate: the view groups by a DERIVED day bucket the
# source never materializes (derive= on the MV) — the TimescaleDB
# continuous-aggregate shape over the events hypertable.
def lakemv_daily_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    def build(path: str) -> None:
        ensure_utc(spark)
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value")
        t = LakeTable(spark, f"{path}/tbl")
        mv = LakeMaterializedView(
            spark, t, f"{path}/mv", key="event_id",
            group_cols=["day", "event_type"], measures=["value"],
            derive={"day": "date_format(date_trunc('day', ts), "
                           "'yyyy-MM-dd')"})
        t.commit(ev.filter(F.col("event_id") % 3 < 2)
                 .repartitionByRange(8, "event_id"), txn_id="rev-0")
        mv.refresh()                                  # full build
        t.commit(ev.filter(F.col("event_id") % 3 == 2), "append",
                 txn_id="rev-1")
        mv.refresh()                                  # +appended rows
        t.update({"event_id": (100, 199)}, {"value": F.lit(0.5)},
                 txn_id="rev-2")
        mv.refresh()                                  # bucket sums move
        t.delete({"event_id": (300, 399)}, txn_id="rev-3")
        mv.refresh()                                  # buckets drain

    return index_path("lakemv_daily", sf_dir, build)


@query(
    "q_lake_mv_daily",
    bench=True,  # continuous-aggregate state read, new in r10
    oracle=(
        "WITH e AS (SELECT ts, event_type, "
        "CASE WHEN event_id BETWEEN 100 AND 199 THEN 0.5 ELSE value "
        "END AS value FROM events "
        "WHERE event_id NOT BETWEEN 300 AND 399) "
        "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, "
        "event_type, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(COUNT(value) AS BIGINT) AS n_value, "
        "CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value "
        "FROM e GROUP BY 1, 2"
    ),
    doc="LLM lake versioning: CONTINUOUS AGGREGATE — a materialized "
        "view grouped by a DERIVED day bucket the source never "
        "materializes (lakemv derive=: deterministic SQL expressions "
        "applied before hashing on every path, so a revision leaving "
        "every bucket/measure value unchanged cancels out of the "
        "delta). Per-(day, event_type) counts and exact decimal sums "
        "over the events hypertable kept current through full build → "
        "append → CoW value update → range delete purely by signed "
        "deltas; UTC bucketing (ensure_utc + date_trunc) hash-matches "
        "the DuckDB strftime twin under hostile session timezones. "
        "The TimescaleDB continuous-aggregate shape at lakehouse "
        "scale",
)
def q_lake_mv_daily(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    ensure_utc(spark)
    idx = lakemv_daily_index(spark, sf_dir)
    mv = LakeMaterializedView(
        spark, LakeTable(spark, f"{idx}/tbl"), f"{idx}/mv",
        key="event_id", group_cols=["day", "event_type"],
        measures=["value"],
        derive={"day": "date_format(date_trunc('day', ts), "
                       "'yyyy-MM-dd')"})
    return mv.read().select(
        "day", "event_type", "n_rows", "n_value",
        F.col("sum_value").cast("double").alias("sum_value"))


# Hierarchical continuous aggregates: a DOWNSTREAM view over an
# UPSTREAM view's state table (day cagg → per-type rollup), stacked
# via state_key=True — the TimescaleDB 2.9 shape. The cascade's
# refresh delta is changed-groups-sized, never data-sized.
def lakemv_hier_index(spark, sf_dir: str) -> str:
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    def build(path: str) -> None:
        ensure_utc(spark)
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value")
        t = LakeTable(spark, f"{path}/tbl")
        up = LakeMaterializedView(
            spark, t, f"{path}/up", key="event_id",
            group_cols=["day", "event_type"], measures=["value"],
            derive={"day": "date_format(date_trunc('day', ts), "
                           "'yyyy-MM-dd')"},
            state_key=True)
        down = LakeMaterializedView(
            spark, up.table, f"{path}/down", key="mv_key",
            group_cols=["event_type"],
            measures=["n_rows", "sum_value"])
        t.commit(ev.filter(F.col("event_id") % 3 < 2)
                 .repartitionByRange(8, "event_id"), txn_id="rev-0")
        up.refresh()
        down.refresh()                       # full cascade build
        t.commit(ev.filter(F.col("event_id") % 3 == 2), "append",
                 txn_id="rev-1")
        up.refresh()
        down.refresh()                       # append ripples through
        t.update({"event_id": (100, 199)}, {"value": F.lit(0.5)},
                 txn_id="rev-2")
        t.delete({"event_id": (300, 399)}, txn_id="rev-3")
        up.refresh()
        down.refresh()                       # two source commits, one
        #                                      delta per view level

    return index_path("lakemv_hier", sf_dir, build)


@query(
    "q_lake_mv_hierarchical",
    bench=True,  # stacked-cagg state read, new in r10
    oracle=(
        "WITH e AS (SELECT strftime(date_trunc('day', ts), "
        "'%Y-%m-%d') AS day, event_type, "
        "CASE WHEN event_id BETWEEN 100 AND 199 THEN 0.5 ELSE value "
        "END AS value FROM events "
        "WHERE event_id NOT BETWEEN 300 AND 399) "
        "SELECT event_type, "
        "CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days, "
        "CAST(COUNT(*) AS BIGINT) AS total_events, "
        "CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) "
        "AS sum_value FROM e GROUP BY event_type"
    ),
    doc="LLM lake versioning: HIERARCHICAL continuous aggregates — a "
        "downstream materialized view over an UPSTREAM view's state "
        "table (per-(day, event_type) cagg → per-type rollup), "
        "stacked via lakemv state_key=True: the upstream state is "
        "stamped with mv_key (injective group-tuple hash), making it "
        "a legal delta source for the next level (the TimescaleDB "
        "2.9 hierarchical-cagg shape). Each source revision ripples "
        "through BOTH refreshes incrementally; the cascade's delta is "
        "changed-groups-sized, never data-sized (unchanged upstream "
        "rows hash-cancel even though overwrite commits share no "
        "files). Hash-matching the flat one-level SQL aggregate over "
        "the final predicate state proves the two-level cascade == "
        "direct recompute: per-type day counts, exact event totals, "
        "decimal value sums",
)
def q_lake_mv_hierarchical(spark, sf_dir):
    from aws_data_pipeline_ads_spark.lakelog import LakeTable
    from aws_data_pipeline_ads_spark.lakemv import LakeMaterializedView

    ensure_utc(spark)
    idx = lakemv_hier_index(spark, sf_dir)
    down = LakeMaterializedView(
        spark,
        LakeTable(spark, f"{idx}/up"), f"{idx}/down",
        key="mv_key", group_cols=["event_type"],
        measures=["n_rows", "sum_value"])
    return down.read().select(
        "event_type",
        F.col("n_rows").alias("n_days"),
        F.col("sum_n_rows").cast("bigint").alias("total_events"),
        F.col("sum_sum_value").cast("double").alias("sum_value"))


@query(
    "q_zipf_fit",
    oracle=(
        "WITH toks AS (SELECT unnest(regexp_split_to_array("
        "trim(lower(text)), '\\s+')) AS tok FROM documents), "
        "c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks "
        "GROUP BY tok), "
        "t AS (SELECT tok, c FROM c ORDER BY c DESC, tok LIMIT 1000), "
        "r AS (SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok) "
        "AS BIGINT) AS r FROM t), "
        "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(38,18))) "
        "AS DOUBLE) AS sx, "
        "CAST(SUM(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(38,18))) "
        "AS DOUBLE) AS sy, "
        "CAST(SUM(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE)) "
        "AS DECIMAL(38,18))) AS DOUBLE) AS sxy, "
        "CAST(SUM(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)) "
        "AS DECIMAL(38,18))) AS DOUBLE) AS sxx FROM r) "
        "SELECT n AS n_tokens, "
        "ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) "
        "AS zipf_slope, "
        "ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) "
        "/ n, 6) AS zipf_intercept FROM m"
    ),
    doc="LLM corpus health: Zipf power-law fit — least squares of "
        "ln(freq) on ln(rank) over the top-1000 tokens (natural text "
        "fits slope ≈ −1; deviation flags templated/synthetic data, "
        "and a post-dedup slope shift quantifies head removal). Top-k "
        "via TakeOrderedAndProject (no global vocabulary sort), "
        "DECIMAL(38,18) moment sums — partitioning-invariant, "
        "hash-verified (textstats.zipf_fit)",
)
def q_zipf_fit(spark, sf_dir):
    return textstats.zipf_fit(
        load_table(spark, sf_dir, "documents"), top_k=1000
    )


@query(
    "q_heaps_fit",
    oracle=(
        "WITH toks AS (SELECT (CAST("
        + hash_u32_sql("CAST(doc_id AS STRING)")
        + " AS BIGINT) % 8) + 1 AS g, "
        "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok "
        "FROM documents), "
        "o AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS occ FROM toks "
        "GROUP BY g), "
        "fs AS (SELECT tok, MIN(g) AS g FROM toks GROUP BY tok), "
        "nt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS new_toks FROM fs "
        "GROUP BY g), "
        "p0 AS (SELECT COALESCE(o.g, nt.g) AS g, "
        "COALESCE(o.occ, 0) AS occ, COALESCE(nt.new_toks, 0) AS new_toks "
        "FROM o FULL OUTER JOIN nt ON o.g = nt.g), "
        "pts AS (SELECT CAST(SUM(occ) OVER (ORDER BY g ROWS BETWEEN "
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_seen, "
        "CAST(SUM(new_toks) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW) AS BIGINT) AS v_seen FROM p0), "
        "f AS (SELECT * FROM pts WHERE n_seen > 0 AND v_seen > 0), "
        "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CAST(ln(CAST(n_seen AS DOUBLE)) AS DECIMAL(38,18))) "
        "AS DOUBLE) AS sx, "
        "CAST(SUM(CAST(ln(CAST(v_seen AS DOUBLE)) AS DECIMAL(38,18))) "
        "AS DOUBLE) AS sy, "
        "CAST(SUM(CAST(ln(CAST(n_seen AS DOUBLE)) * "
        "ln(CAST(v_seen AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE) AS sxy, "
        "CAST(SUM(CAST(ln(CAST(n_seen AS DOUBLE)) * "
        "ln(CAST(n_seen AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE) AS sxx "
        "FROM f) "
        "SELECT n AS n_points, "
        "ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) "
        "AS heaps_beta, "
        "ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) "
        "/ n, 6) AS heaps_lnk FROM m"
    ),
    doc="LLM corpus health: Heaps'-law vocabulary-growth fit V(n)≈K·n^β "
        "— the sequential growth curve recast as ONE distributed pass: "
        "nested md5-gate subsets, token first-seen bucket = min(bucket)"
        ", both curves as running sums over the 8-row bucket axis; "
        "ln-ln least squares through DECIMAL(38,18) moments like "
        "q_zipf_fit. β≈0.4–0.6 on natural text; β→0 flags saturation, "
        "β→1 token soup (textstats.heaps_fit)",
)
def q_heaps_fit(spark, sf_dir):
    return textstats.heaps_fit(
        load_table(spark, sf_dir, "documents"), n_points=8
    )
