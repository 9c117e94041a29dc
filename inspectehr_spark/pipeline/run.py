"""End-to-end quality-filter pipeline over Common-Crawl-style pages.

Stages (all declarative; Catalyst owns the physical plan):

  pages(url, warc_ts, html, text, lang)
    │ resume: filter out the manifest's committed dates      (R/perform_evaluation.R:267-274 skip-list pattern)
    │   (literal IN list → InSet hash lookup, evaluated in the JVM)
    │ salt: repartition on (salt) — giant-HTML skew guard
    ├─ map_extract_score(html)         → text_x, lang_pred, perplexity
    │     (ONE fused mapInArrow stage — html crosses the JVM⇄Python
    │      boundary once and is consumed there; raw Arrow batches skip
    │      the pandas-UDF evaluator's Arrow⇄pandas conversion layers,
    │      the r4-measured worker-socket/serialization scaling term)
    ├─ native heuristic features       → n_chars … dup_ngram_frac
    ├─ exact-dup verdicts              → is_duplicate
    │     dup_strategy="window": hash-pair-keyed window (ONE wide
    │       exchange, 16-byte keys, text never in the key)
    │     dup_strategy="broadcast": narrow (url, h1, h2) shuffle only +
    │       broadcast of the duplicate-url set — ZERO wide exchange,
    │       rows keep input clustering scan→sink
    ├─ rule battery                    → failure_log(url, check_code, …)
    ├─ decide (column-wise anti-join)  → keep / first_fail_code
    ├─ scrub chain (JVM regex)         → scrubbed_text
    └─ sinks: decisions / failures / metrics as ONE atomic snapshot
       transaction (sources/snapshots.py manifest commit — partitioned
       parquet with a bounded write salt, versioned: time travel +
       rollback; Iceberg writeTo(...) on a real catalog). An Observation
       on the decisions write yields the run report (rows, kept,
       processed dates) with no job of its own.

Scale notes: with the window strategy the only wide operation is the
exact-dup exchange (128-bit hash-pair key; collision odds at 10^12 docs
≈ 1e-15, see flag_exact_duplicates); with the broadcast strategy no wide
data moves at all and the broadcast is bounded by the duplicate SET size
(fallback documented in flag_exact_duplicates_broadcast). Sinks write at
(p_date × salt) parallelism so a few hot dates can't cap the write stage.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from inspectehr_spark.sources.store import FileSnapshotStore, SnapshotStore

from inspectehr_spark.functions.textfns import ALL_STOPWORDS, word_ngrams
from inspectehr_spark.pipeline import spec
from inspectehr_spark.pipeline.models import map_extract_score
from inspectehr_spark.pipeline.scrub import scrub_text


def enrich(pages: DataFrame) -> DataFrame:
    """Extraction + features + model scores. `html` is CONSUMED by the
    mapInArrow model stage (it crosses into Python once and never comes
    back); all other input columns pass through, plus text_x / lang_pred /
    perplexity and the native heuristic features. Drop unread wide columns
    (the raw crawl `text`) before calling — passthrough columns cross the
    worker boundary twice.

    Staged projections, not one: `_toks` (and `_tris`) are MATERIALIZED as
    array columns before any higher-order function references them. A
    lambda body that embeds a non-attribute expression re-evaluates that
    expression PER ELEMENT (Catalyst inlines it into the lambda), which is
    quadratic on large documents — staging turns it into a once-per-row
    bound reference. Projections collapse into one codegen stage anyway;
    this costs no extra pass over the data.
    """
    toks = F.col("_toks")
    n_chars = F.length("text_x")
    n_tokens = F.size(toks)
    # chars minus count(' '): count(' ') = size(split)-1
    no_space = n_chars - F.size(F.split(F.col("text_x"), " ")) + 1
    mean_wl = F.when(n_tokens > 0, no_space.cast("double") / n_tokens)
    clean = F.length(F.regexp_replace("text_x", r"[^A-Za-z0-9 ]", ""))
    sym_ratio = F.when(n_chars > 0, (n_chars - clean).cast("double") / n_chars)
    sw = F.size(F.filter(toks, lambda t: F.lower(t).isin(*ALL_STOPWORDS)))
    sw_ratio = F.when(n_tokens > 0, sw.cast("double") / n_tokens)
    tris = word_ngrams(toks, 3)
    # Distinct-count over HASHED trigrams: array_distinct on a STRING
    # array is O(n²) (Spark's hash-set fast path covers primitive types
    # only) — on a 150 kB doc that is ~25k trigrams → ~6×10^8 string
    # compares, a multi-second straggler task that floors the whole-job
    # wall at high core counts (measured: map-stage scaling 2→8 cores
    # stuck at 1.3× until this line). xxhash64 per element is linear and
    # turns array_distinct into the O(n) long-array path; a 64-bit
    # within-doc collision (≤25k values) shifts the ratio by 1/n with
    # probability ~3×10^-11 — far below the keep/drop threshold scale.
    tris_h = F.transform(F.col("_tris"), lambda t: F.xxhash64(t))
    dupng = F.when(
        F.size(F.col("_tris")) > 0,
        1.0 - F.size(F.array_distinct(tris_h)) / F.size(F.col("_tris")),
    ).otherwise(F.lit(0.0))

    return (
        # ONE fused mapInArrow stage (extract + langid + perplexity): html
        # crosses the JVM⇄Python boundary once and is CONSUMED there (not
        # echoed back); raw Arrow batches skip the pandas-UDF evaluator's
        # Arrow⇄pandas conversion layers entirely (see
        # models.map_extract_score for the measured rationale).
        map_extract_score(pages)
        .withColumn(
            "_toks", F.filter(F.split(F.col("text_x"), " "), lambda t: t != "")
        )
        .withColumn("_tris", tris)
        .select(
            "*",
            n_chars.alias("n_chars"),
            n_tokens.alias("n_tokens"),
            mean_wl.alias("mean_word_len"),
            sym_ratio.alias("symbol_ratio"),
            sw_ratio.alias("stopword_ratio"),
            dupng.alias("dup_ngram_frac"),
        )
        .drop("_toks", "_tris")
    )


def flag_exact_duplicates(enriched: DataFrame) -> DataFrame:
    """is_duplicate: same extracted text as a doc with smaller url.
    Shuffle key = two 64-bit xxhash64 values — the text never enters the
    partitioning expression, so the exchange carries a 16-byte key per row
    instead of duplicating the widest column into the key (VERDICT r1 #3).
    The second hash salts FIRST (xxhash64(1, text)): Spark chains multi-arg
    xxhash64 with the running hash as the next seed, so a RIGHT salt —
    xxhash64(text, 1) — is a pure function of xxhash64(text) and adds no
    independent bits (any 64-bit text-hash collision would collide the
    whole key: ~27k expected pairs at 10^12 docs). Salt-first hashes the
    text under a different effective seed; the genuinely-128-bit composite
    has collision odds ≈ 1e-15 at 10^12 docs, so within-group equality
    verification (a full-text sort) is deliberately omitted."""
    w = Window.partitionBy(
        F.xxhash64("text_x"), F.xxhash64(F.lit(1), "text_x")
    ).orderBy("url")
    return enriched.withColumn(
        "is_duplicate", F.row_number().over(w) > 1
    )


def flag_exact_duplicates_broadcast(
    enriched: DataFrame, max_broadcast_urls: int | None = 50_000_000
) -> DataFrame:
    """Same verdicts as `flag_exact_duplicates`, ZERO wide exchange.

    PRECONDITION: `url` uniquely identifies a row (the corpus primary key,
    as in the reference's per-url decision table). With duplicate urls the
    url-keyed verdict join would both fan out rows and mark every row
    bearing a losing url — diverging from the window strategy, which keeps
    exactly one survivor per text. The pipeline's input contract
    guarantees uniqueness; callers with dirty urls must pre-dedup or use
    `flag_exact_duplicates`.

    The window formulation shuffles every WIDE row (text_x + features) by
    the hash pair; at 10^12 rows that exchange dominates the job. Here
    only a NARROW (url, h1, h2) projection shuffles — ~24 bytes/row — to
    find the non-keeper urls, and that (typically small: dup-rate ×
    corpus) url set is broadcast back as a hash join, so the wide rows
    never leave their input partitioning (which then also feeds the
    partitioned sinks with no further exchange).

    Scale bound, enforced: the broadcast is the duplicate SET, not the
    corpus. `max_broadcast_urls` caps it — when the loser set exceeds the
    cap this DEGRADES to the window strategy (identical verdicts, wide
    exchange) instead of driving the forced broadcast into driver OOM.
    Pass None to skip the guard count (one extra narrow job) when the dup
    rate is known-bounded. The survivor (lowest url per 128-bit hash
    pair) is identical to the window formulation; equality is
    unit-asserted for both strategies."""
    narrow = enriched.select(
        "url",
        F.xxhash64("text_x").alias("_h1"),
        F.xxhash64(F.lit(1), "text_x").alias("_h2"),
    )
    losers = (
        narrow.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_h1", "_h2").orderBy("url")
            ),
        )
        .filter(F.col("_rn") > 1)
        .select("url", F.lit(True).alias("_dup"))
    )
    if max_broadcast_urls is not None:
        # The guard count runs the narrow shuffle once eagerly; on the
        # (common) pass path the join recomputes it — deliberately NOT
        # persisted: a persist here would pin up to `max_broadcast_urls`
        # rows in executor storage for the session (leak), and the
        # recompute is the cheap 24-byte/row projection. In run_pipeline
        # the enrichment feeding it is already cached, so the recompute
        # reads the cache, not the UDF stage.
        if losers.count() > max_broadcast_urls:
            return flag_exact_duplicates(enriched)
    return (
        enriched.join(F.broadcast(losers), "url", "left")
        .withColumn("is_duplicate", F.coalesce(F.col("_dup"), F.lit(False)))
        .drop("_dup")
    )


def failure_flags(df: DataFrame) -> DataFrame:
    """All spec checks as boolean columns (single codegen stage)."""
    c = F.col
    return df.select(
        "*",
        (~c("n_chars").cast("double").between(spec.LEN_LO, spec.LEN_HI)).alias("f_doc_length"),
        (~c("n_tokens").cast("double").between(spec.TOK_LO, spec.TOK_HI)).alias("f_word_count"),
        (
            c("mean_word_len").isNotNull()
            & ~c("mean_word_len").between(spec.MWL_LO, spec.MWL_HI)
        ).alias("f_mean_word_length"),
        (c("symbol_ratio").isNotNull() & (c("symbol_ratio") > spec.SYM_HI)).alias("f_symbol_ratio"),
        (c("stopword_ratio").isNotNull() & (c("stopword_ratio") < spec.SW_LO)).alias("f_stopword_ratio"),
        (c("dup_ngram_frac") > spec.DUPNG_HI).alias("f_dup_ngram_frac"),
        (~c("lang").isin(*spec.ALLOWED_LANGS)).alias("f_lang_allowed"),
        (c("lang_pred") != c("lang")).alias("f_langid_agree"),
        (c("perplexity") > spec.PPL_HI).alias("f_perplexity"),
        (
            ~c("warc_ts").cast("timestamp").between(
                F.lit(spec.TS_LO_ISO.replace("T", " ")).cast("timestamp"),
                F.lit(spec.TS_HI_ISO.replace("T", " ")).cast("timestamp"),
            )
        ).alias("f_warc_ts_bounds"),
        c("is_duplicate").alias("f_exact_duplicate"),
    )


def failure_log(flagged: DataFrame) -> DataFrame:
    """Explode failing flags to the long (url, check_code) failure log."""
    structs = [
        F.when(
            F.col(f"f_{code}"),
            F.struct(F.lit(code).alias("check_code")),
        )
        for code in spec.CHECKS
    ]
    return flagged.select(
        "url",
        F.col("p_date"),
        F.explode(F.filter(F.array(*structs), lambda x: x.isNotNull())).alias("f"),
    ).select("url", "p_date", F.col("f.check_code").alias("check_code"))


def decide(
    flagged: DataFrame,
    checks: tuple[str, ...] = spec.CHECKS,
    scrub_chain: tuple[tuple[str, str], ...] | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """keep = no flag set; first_fail_code = lexicographic min (exactly the
    anti-join semantics — computed column-wise to avoid re-joining).

    `checks` subsets the battery — the analog of the reference running only
    the checks defined for a data class (R/evaluate_events.R:39-87).
    `scrub_chain` injects a custom PII/toxicity chain
    (spec.build_scrub_chain); default is the spec chain. `extra_cols`
    carries named upstream columns (e.g. model outputs) through to the
    decision projection — still one codegen stage, no re-join."""
    fail_codes = F.array(
        *[
            F.when(F.col(f"f_{code}"), F.lit(code))
            for code in checks
        ]
    )
    min_fail = F.array_min(F.filter(fail_codes, lambda x: x.isNotNull()))
    return flagged.select(
        "url",
        "p_date",
        *extra_cols,
        min_fail.isNull().alias("keep"),
        min_fail.alias("first_fail_code"),
        scrub_text("text_x", chain=scrub_chain).alias("scrubbed_text"),
    )


def metrics_table(flagged: DataFrame) -> DataFrame:
    """Per-(partition, check) n_checked/n_failed — one aggregation emitting
    all checks from the same pass (sum of flag ints, map-side combined)."""
    aggs = []
    for code in spec.CHECKS:
        aggs.append(F.sum(F.col(f"f_{code}").cast("long")).alias(f"nf_{code}"))
    per_part = flagged.groupBy("p_date").agg(
        F.count(F.lit(1)).alias("n_checked"), *aggs
    )
    stacked = per_part.select(
        "p_date",
        "n_checked",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(code).alias("check_code"),
                        F.col(f"nf_{code}").alias("n_failed"),
                    )
                    for code in spec.CHECKS
                ]
            )
        ).alias("m"),
    )
    return stacked.select(
        F.col("p_date").alias("partition_id"),
        F.col("m.check_code").alias("check_code"),
        "n_checked",
        F.col("m.n_failed").alias("n_failed"),
    )


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    resume: bool = True,
    salt_partitions: int | None = None,
    dup_strategy: str = "window",
    tox_terms_path: str | None = None,
    store: "SnapshotStore | None" = None,
    model_stage: str = "arrow",
    salt_strategy: str = "hash",
) -> dict[str, int]:
    """Execute the pipeline; idempotent under resume.

    `model_stage` selects the enrichment implementation: "arrow" (default)
    is the fused mapInArrow stage — the shape a real fastText/KenLM
    deployment has, since native C models live behind Python — while
    "native" swaps in pipeline/models_native.enrich_native, the Catalyst
    compilation of the same integer-exact models (bit-identical output,
    tests/test_models_native.py; available whenever the model is
    weight-table-expressible). Everything downstream — dup flagging,
    battery, scrub, sinks, resume — is byte-identical between the two.

    `tox_terms_path` injects a moderation term list (one term per line,
    spec.load_tox_terms) into the scrub chain's toxicity stage; the PII
    rules and the chain ORDER are unchanged, so the byte-identity
    contract holds for any injected list (property-tested).

    Partition unit = p_date (date(warc_ts)) — the lineage key. All three
    sinks (decisions/failures/metrics) AND the processed-date record
    commit as ONE atomic snapshot transaction (sources/snapshots.py): the
    data directories are written invisibly first, then a single manifest
    publish makes them all visible together. A crash at ANY earlier point
    leaves nothing visible — no partial sink, no torn manifest — so resume
    simply filters out the dates recorded in the latest committed manifest
    (a literal IN list, evaluated in the JVM) and reprocesses the rest;
    orphaned uncommitted data dirs are inert (never read) and reclaimable
    by an Iceberg-style orphan-file vacuum. Every commit is also a
    VERSION: `read_sink(..., version=k)` time-travels, and
    `snapshots.rollback` undoes a bad run without rewriting history.

    The run report — rows, kept, dropped, the dates processed and the
    phase timings up to the commit — is observed on the decisions write
    (one Observation, no extra job) and committed as the manifest's
    `extra["report"]`, so each version carries its own report. Returns
    {"partitions_processed": k, "rows": n, "timings": {...}}.
    """
    if store is None:
        store = FileSnapshotStore(out_dir)
    t: dict[str, float] = {}
    t0 = time.perf_counter()

    def _mark(key: str) -> None:
        nonlocal t0
        now = time.perf_counter()
        t[key] = round(now - t0, 3)
        t0 = now

    # p_date must be a TOTAL key: a NULL warc_ts would otherwise yield a
    # NULL partition id that never matches the resume filter (NOT IN is
    # NULL for a NULL key, so those rows would be dropped — never
    # processed) and a None that poisons sorted() over the committed date
    # set. Null dates land in an explicit sentinel partition instead.
    pages = spark.read.parquet(pages_path).withColumn(
        "p_date",
        F.coalesce(F.to_date("warc_ts").cast("string"), F.lit("__no_date__")),
    )

    if resume:
        done_dates = store.latest_extra().get("dates", [])
        if done_dates:
            # The committed set is manifest-sized: a literal predicate
            # (InSet past 10 dates) runs in the scan's codegen stage, with
            # no driver-built table to ship and no broadcast job.
            pages = pages.filter(~F.col("p_date").isin(sorted(done_dates)))

    # cheap emptiness probe (1 row) instead of an eager full distinct-count
    # job — the counts come from the decisions write's Observation
    probe_empty = not pages.take(1)
    _mark("t_probe")
    if probe_empty:
        return {"partitions_processed": 0, "rows": 0, "timings": t}

    if salt_partitions:
        if salt_strategy == "size":
            # Hard giant-balance variant (north-rule "size buckets"):
            # ≤ceil(G/n) giant docs per partition, one extra narrow scan.
            from inspectehr_spark.operators.skew import (
                salt_partitions_by_size,
            )

            pages = salt_partitions_by_size(pages, salt_partitions)
        elif salt_strategy == "hash":
            # Giant-HTML skew guard: spread rows uniformly; Arrow batch
            # size (session conf) bounds per-batch bytes through the UDF
            # stages. Uniform-in-expectation, zero extra scans — the
            # default; see operators/skew.py for the hard-bound variant.
            pages = pages.repartition(
                salt_partitions,
                F.pmod(F.xxhash64("url"), F.lit(salt_partitions)),
            )
        else:
            raise ValueError(f"unknown salt_strategy: {salt_strategy!r}")

    # Drop dead-weight columns BEFORE the worker boundary, not after:
    # `text` (the raw crawl text) is read by nothing downstream — text_x
    # is re-extracted from html — and enrich's mapInArrow stage echoes
    # every passthrough column back over the socket, so carrying it would
    # double its bytes through Python for nothing. html itself is consumed
    # inside the map stage (crosses once, never returns). warc_ts/lang are
    # kept through the flags (f_warc_ts_bounds / f_lang*) then dropped
    # before persisting — caching them would multiply the cache footprint
    # for bytes no sink reads.
    pages = pages.drop("text")
    if model_stage == "native":
        from inspectehr_spark.pipeline.models_native import enrich_native

        _enrich = enrich_native
    elif model_stage == "arrow":
        _enrich = enrich
    else:
        raise ValueError(f"unknown model_stage: {model_stage!r}")
    if dup_strategy == "window":
        # one wide pass: the dup window's exchange carries the rows once
        flagged = failure_flags(flag_exact_duplicates(_enrich(pages))).drop(
            "warc_ts", "lang"
        )
        cached = flagged = flagged.persist()
    elif dup_strategy == "broadcast":
        # zero wide exchange: dup verdicts come from a NARROW projection
        # of the cache (the UDF runs once — both consumers read the
        # persisted enrichment), broadcast-joined back; the wide rows
        # keep the input (p_date, salt) clustering all the way to the
        # sinks. See flag_exact_duplicates_broadcast for the scale bound.
        cached = _enrich(pages).persist()
        flagged = failure_flags(flag_exact_duplicates_broadcast(cached)).drop(
            "warc_ts", "lang"
        )
    else:
        raise ValueError(f"unknown dup_strategy: {dup_strategy!r}")
    scrub_chain = (
        spec.build_scrub_chain(tox_terms=spec.load_tox_terms(tox_terms_path))
        if tox_terms_path
        else None
    )
    try:
        report = Observation()
        decisions = decide(flagged, scrub_chain=scrub_chain).observe(
            report,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
            F.collect_set("p_date").alias("dates"),
        )
        log = failure_log(flagged)
        mets = metrics_table(flagged)

        # Cluster by (partition column, bounded salt) before the partitioned
        # write. Clustering by p_date ALONE caps the write stage at
        # #distinct-dates tasks — with a handful of hot dates the parquet
        # encode of the scrubbed text runs on that many cores no matter the
        # cluster size (measured: the 8-core wall stopped scaling on a
        # 10-date corpus where 4 dates held 96% of rows). The salt spreads
        # each date over ~defaultParallelism writers while keeping files-
        # per-date bounded (≈ salt width, NOT tasks × dates); at 100 TB
        # size the salt so each writer lands ~512 MB files.
        wsalt = F.pmod(
            F.xxhash64("url"),
            F.lit(max(2, spark.sparkContext.defaultParallelism)),
        )
        hint = (store.latest_version() or 0) + 1
        rel_dec = store.write_table_data(
            decisions.repartition(F.col("p_date"), wsalt),
            "decisions", hint, partition_col="p_date",
        )
        _mark("t_decisions")
        rel_log = store.write_table_data(
            log.repartition(F.col("p_date"), wsalt),
            "failures", hint, partition_col="p_date",
        )
        _mark("t_failures")
        rel_met = store.write_table_data(
            mets.repartition(F.col("partition_id")),
            "metrics", hint, partition_col="partition_id",
        )
        _mark("t_metrics")
        # The counts and dates were observed on the decisions write, so they
        # describe exactly the rows committed below; nothing recomputes
        # `flagged`, whose lineage holds the resume filter against the prior
        # manifest (a recompute after the commit would see its own output).
        seen = report.get
        _mark("t_count")
        done = sorted(seen["dates"])
        n_rows, n_kept = seen["rows"], seen["kept"]
        # ONE atomic publish for all three sinks + the resume record
        store.commit_transaction(
            {"decisions": [rel_dec], "failures": [rel_log], "metrics": [rel_met]},
            extra={
                "dates": done,
                "report": {
                    "rows": n_rows,
                    "kept": n_kept,
                    "dropped": n_rows - n_kept,
                    "dates": done,
                    "timings": dict(t),
                },
            },
            keep_prior=True,
        )
        _mark("t_manifest")
    finally:
        cached.unpersist()
    return {"partitions_processed": len(done), "rows": n_rows, "timings": t}


def read_sink(
    spark: SparkSession, out_dir: str, name: str, version: int | None = None,
    store: "SnapshotStore | None" = None,
) -> DataFrame:
    """Read a pipeline sink ("decisions" / "failures" / "metrics") at the
    latest committed snapshot, or time-travel to `version`. Uncommitted
    data directories (a crashed run's leftovers) are invisible by
    construction — readers trust only the manifest. Pass the same `store`
    the pipeline wrote through (defaults to the file shim at
    `out_dir`)."""
    if store is None:
        store = FileSnapshotStore(out_dir)
    return store.read_table(spark, name, version=version)


def main(argv: list[str] | None = None) -> None:
    """spark-submit / CLI entry:
    python -m inspectehr_spark.pipeline.run --pages P --out O [--no-resume]
    """
    import argparse

    from inspectehr_spark.session import get_spark

    ap = argparse.ArgumentParser(description="web quality-filter pipeline")
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--tox-terms", default=None,
        help="moderation term list file (one term per line, # comments)",
    )
    args = ap.parse_args(argv)

    spark = get_spark(app_name="quality-filter", master=args.master)
    stats = run_pipeline(
        spark,
        args.pages,
        args.out,
        resume=not args.no_resume,
        salt_partitions=args.salt_partitions,
        tox_terms_path=args.tox_terms,
    )
    print(stats)
    spark.stop()


if __name__ == "__main__":
    main()
