"""Round-6b extension registry: three curation-literature operators with
full DuckDB value oracles.

* `dsir_logw` — DSIR importance weighting (Xie et al. 2023): hashed
  word-bigram density ratio, target = the 'en' slice of the corpus.
  The per-document score is a BIGINT micro-unit sum, so parity is exact
  under any summation order (operators/dsir.py).
* `substring_dup_spans` — ExactSubstr-style cross-document verbatim-span
  detection (Lee et al. 2021) via hop-windowed 64-char md5 hashes
  (operators/dedup.substring_dup_stats).
* `lang_quality_deciles` — FineWeb-style within-language quantile
  normalization via per-group exact quantile THRESHOLDS broadcast back
  (operators/distribution.grouped_quantile_assign) — the scale-safe
  alternative to a percent_rank window over a skewed language partition.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from inspectehr_spark.tables import table as _t

_B = 1024  # DSIR bucket count (paper uses 10^4; fixture-sized here)


def q_dsir_logw(spark, sf_dir):
    """DSIR log importance weights for every document against the 'en'
    target slice; hashed word-bigram features, add-one smoothing,
    integer-microunit scores (order-invariant, hash-exact)."""
    from inspectehr_spark.operators.dsir import dsir_log_weights

    docs = _t(spark, sf_dir, "documents")
    out = dsir_log_weights(
        docs, F.col("lang") == "en", n=2, num_buckets=_B
    )
    return out.select("doc_id", "lang", "n_grams", "score_micro", "dsir_logw")


SQL_DSIR_LOGW = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, (lang = 'en') AS is_tgt,
         CASE WHEN len(t) >= 2
              THEN list_transform(generate_series(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i + 1])
              ELSE CAST([] AS VARCHAR[]) END AS gs
  FROM toks
),
g AS (
  SELECT doc_id, is_tgt,
         (('0x' || substr(md5(u.g), 1, 8))::BIGINT % {_B}) AS bucket
  FROM grams, unnest(gs) AS u(g)
),
counts AS (
  SELECT bucket, count(*) AS raw_n,
         sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tgt_n
  FROM g GROUP BY bucket
),
tot AS (SELECT sum(raw_n) AS rt, sum(tgt_n) AS tt FROM counts),
micro AS (
  SELECT bucket,
         CAST(round((ln((tgt_n + 1.0) / (tt + {_B}.0))
                     - ln((raw_n + 1.0) / (rt + {_B}.0))) * 1e6) AS BIGINT)
           AS lr
  FROM counts, tot
),
scored AS (
  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(m.lr) AS BIGINT) AS score_micro
  FROM g JOIN micro m USING (bucket) GROUP BY g.doc_id
)
SELECT d.doc_id, d.lang,
       COALESCE(s.n_grams, 0) AS n_grams,
       COALESCE(s.score_micro, 0) AS score_micro,
       COALESCE(s.score_micro, 0) / 1e6 AS dsir_logw
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def q_substring_dup_spans(spark, sf_dir):
    """Cross-document verbatim-span flags: 64-char windows at hop 32,
    md5-keyed (the oracle-replay hash; `hash_fn="xxhash64"` is the
    deployment hash).
    The sf0.01 fixture's near-dup docs share 170 aligned windows, so the
    verdict column carries real signal, and its min n_chars is 48, so the
    len<window empty branch is exercised too."""
    from inspectehr_spark.operators.dedup import substring_dup_stats

    docs = _t(spark, sf_dir, "documents")
    return substring_dup_stats(docs, window=64, hop=32, hash_fn="md5")


SQL_SUBSTRING_DUP_SPANS = """
WITH w AS (
  SELECT DISTINCT doc_id, md5(substr(text, u.p, 64)) AS h
  FROM documents,
       unnest(CASE WHEN length(text) >= 64
                   THEN generate_series(1, length(text) - 63, 32)
                   ELSE CAST([] AS BIGINT[]) END) AS u(p)
),
ph AS (SELECT h, count(*) AS n_docs FROM w GROUP BY h),
pd AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared
  FROM w JOIN ph USING (h) GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(pd.n_windows, 0) AS n_windows,
       COALESCE(pd.n_shared, 0) AS n_shared,
       COALESCE(pd.n_shared, 0) > 0 AS has_shared_span
FROM documents d LEFT JOIN pd USING (doc_id)
"""


def q_lang_quality_deciles(spark, sf_dir):
    """Within-language decile assignment of a quality signal (n_chars —
    any native score column slots in): exact per-language decile
    thresholds via one partial agg, broadcast back, bucket by strict
    comparison. No percent_rank window, so a hot language can't create a
    single-sort straggler."""
    from inspectehr_spark.operators.distribution import grouped_quantile_assign

    docs = _t(spark, sf_dir, "documents")
    out = grouped_quantile_assign(docs, "lang", "n_chars")
    return out.select(
        "doc_id",
        "lang",
        "n_chars",
        "q_bucket",
        (F.col("q_bucket") == 10).alias("is_top_decile"),
    )


SQL_LANG_QUALITY_DECILES = """
WITH thr AS (
  SELECT lang,
         list_transform(
           quantile_cont(n_chars::DOUBLE,
                         [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
           q -> round(q, 6)) AS qs
  FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang, d.n_chars,
       CAST(1 + len(list_filter(t.qs, q -> d.n_chars::DOUBLE > q)) AS INT)
         AS q_bucket,
       (1 + len(list_filter(t.qs, q -> d.n_chars::DOUBLE > q))) = 10
         AS is_top_decile
FROM documents d JOIN thr t USING (lang)
"""


R6B_QUERIES = {
    "dsir_logw": (q_dsir_logw, SQL_DSIR_LOGW),
    "substring_dup_spans": (q_substring_dup_spans, SQL_SUBSTRING_DUP_SPANS),
    "lang_quality_deciles": (q_lang_quality_deciles, SQL_LANG_QUALITY_DECILES),
}
