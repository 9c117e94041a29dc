"""DSIR — data selection via importance resampling (Xie et al. 2023,
arXiv:2302.03169): score every raw document by how much more likely its
hashed-n-gram features are under a TARGET corpus distribution than under
the RAW corpus distribution, log w(x) = Σ_g log( p_target(b(g)) /
p_raw(b(g)) ) over the document's n-gram occurrences, where b hashes each
n-gram into a fixed bucket space. Documents with high log-weights "look
like" the target (e.g. Wikipedia/books) and are preferentially kept —
the importance-resampling alternative to classifier-based quality
filtering (the logistic scorer in pipeline/models.py).

Scale shape (the whole point of hashed features):

* the feature space is a FIXED bucket count B (paper: 10^4 buckets of
  uni+bigrams) — both distribution tables are <= B rows no matter the
  corpus size. The target membership predicate is carried THROUGH the
  gram explosion as a boolean column, so BOTH distributions come out of
  ONE conditional aggregation over one scan (no target-id broadcast,
  which would be corpus-sized at a loose predicate); the corpus is
  touched exactly twice (count pass + score pass), each scan-shaped;
* per-bucket log-ratios are quantized to INTEGER MICROUNITS
  (round(lr*1e6) as BIGINT) before the per-document Σ — integer addition
  is associative, so the document score is bit-identical under any
  partitioning / summation order, and the DuckDB oracle replays it
  exactly (a float sum would drift in the last ulp and flip 6dp-rounded
  hashes; the same trick as the fixed-width hex compare in
  operators/sampling.py);
* n-gram → bucket uses the md5 hex-slice replay contract
  (conv(substring(md5(g),1,8),16,10) % B on Spark,
  ('0x'||substr(md5(g),1,8))::BIGINT % B in DuckDB). xxhash64 would
  halve the hash cost at the same geometry; add it as a `hash_fn`
  parameter (as in operators/dedup.py) if a caller ever needs it.

Smoothing is add-one over buckets: p(b) = (cnt_b + 1) / (total + B), so
buckets unseen in the target contribute a uniform negative evidence
instead of -inf.

Reference analog: none — inspectEHR scores rows against fixed clinical
rules (R/evaluate.R), not against a corpus-level density ratio; this is
the beyond-reference training-data curation set (SURVEY §8).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _gram_col(n: int) -> Column:
    """Word-n-gram array expression over a staged `_toks` column (lower +
    non-alphanumeric split, empties removed).

    r7: built from textfns.word_ngrams (zip_with over shifted slices).
    The previous transform(sequence)+element_at form evaluated a sequence
    allocation plus n element_at lookups PER GRAM in CodegenFallback
    interpretation — measured 7x slower than the zip_with chain on the
    sf0.1 bigram pass (6.8 s vs 1.0 s for the same exploded output)."""
    from inspectehr_spark.functions.textfns import word_ngrams

    if n == 1:
        return F.col("_toks")
    return word_ngrams(F.col("_toks"), n)


def _bucket(g: Column, num_buckets: int) -> Column:
    return (
        F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")
        % num_buckets
    )


def hashed_ngram_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    num_buckets: int = 1024,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Explode each document into its word-n-gram hash buckets (with
    multiplicity — DSIR counts occurrences, not distinct grams).
    Returns (id_col, *extra_cols, bucket)."""
    extra = list(extra_cols or [])
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda t: t != F.lit(""),
    )
    staged = df.select(id_col, *extra, toks.alias("_toks"))
    # bucket INSIDE the gram array, then explode ints — the explode moves
    # 8-byte buckets instead of gram strings (measured ~30% over exploding
    # strings and hashing after)
    buckets = F.transform(F.col("_grams"), lambda g: _bucket(g, num_buckets))
    return (
        staged.withColumn("_grams", _gram_col(n))
        .withColumn("_b", buckets)
        .select(id_col, *extra, F.explode("_b").alias("bucket"))
    )


def dsir_log_weights(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    num_buckets: int = 1024,
    handles: dict | None = None,
) -> DataFrame:
    """Per-document DSIR log importance weight against the subset of `df`
    selected by `target_pred` (a boolean Column over df's columns — e.g.
    ``F.col("source") == "wiki"``). Returns every input row with
    (n_grams BIGINT, score_micro BIGINT, dsir_logw DOUBLE); documents
    with no n-grams score 0 (no evidence either way).

    The raw distribution is the WHOLE corpus (target included) — the
    paper's formulation scores raw docs against raw stats; excluding the
    target would just shift every weight by a constant."""
    from inspectehr_spark.tables import parallel_scan

    # r7: parallelize the one-file scan before the gram explosion — the
    # tokenize + n-gram + md5 bucket pass is the operator's dominant cost
    # and otherwise runs on the single scan core (guide §2.5 input skew)
    grams = hashed_ngram_buckets(
        parallel_scan(df.select(id_col, text_col, target_pred.alias("_is_tgt"))),
        text_col,
        id_col,
        n,
        num_buckets,
        extra_cols=["_is_tgt"],
    )
    # Collapse the 75M-gram stream to the COMPACT per-(doc, bucket)
    # occurrence table FIRST and persist that: everything downstream —
    # the global bucket distributions AND the per-document scores — is
    # derivable from it, so the expensive explode+md5 gram pass runs
    # exactly ONCE (r6 measured the naive plan paying it three times at
    # sf1: the <=B-row counts table sat under two broadcast subplans,
    # 239 s; persisting counts alone still left two passes, 188 s). The
    # intermediate is <= docs x min(grams/doc, B) rows of four longs —
    # map-side combined before the one exchange; at 10^12-doc scale you
    # would materialize it as a table instead of a cache, but the shape
    # (one gram pass, bounded rows per doc) is the same. Lazy persist:
    # no action at operator-construction time (the domains.py rule).
    per_doc_bucket = (
        grams.groupBy(id_col, "_is_tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("occ"))
        .persist()
    )
    if handles is not None:
        # expose the persisted intermediate so long-lived sessions can
        # release it once the result is consumed (run_pipeline's
        # cached.unpersist() discipline)
        handles["per_doc_bucket"] = per_doc_bucket
    counts = per_doc_bucket.groupBy("bucket").agg(
        F.sum("occ").alias("raw_n"),
        F.sum(F.when(F.col("_is_tgt"), F.col("occ")).otherwise(0)).alias(
            "tgt_n"
        ),
    )
    totals = counts.agg(
        F.sum("raw_n").alias("raw_total"), F.sum("tgt_n").alias("tgt_total")
    )
    B = float(num_buckets)
    micro = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            (
                F.log((F.col("tgt_n") + 1.0) / (F.col("tgt_total") + F.lit(B)))
                - F.log((F.col("raw_n") + 1.0) / (F.col("raw_total") + F.lit(B)))
            )
            * 1e6
        )
        .cast("long")
        .alias("lr_micro"),
    )
    scored = (
        per_doc_bucket.join(F.broadcast(micro), on="bucket")
        .groupBy(id_col)
        .agg(
            F.sum("occ").alias("n_grams"),
            F.sum(F.col("occ") * F.col("lr_micro")).alias("score_micro"),
        )
    )
    return (
        df.join(scored, on=id_col, how="left")
        .na.fill({"n_grams": 0, "score_micro": 0})
        .withColumn("dsir_logw", F.col("score_micro") / F.lit(1e6))
    )
