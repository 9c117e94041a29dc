"""End-to-end pipeline contract tests: keep/drop F1 vs the serial reference
labeler, byte-identical scrubbed text per url, planted-error detection,
and resume-from-manifest idempotence (BASELINE.json "metric"/"north_rule")."""

from __future__ import annotations

import os

import pytest

from inspectehr_spark.pipeline import corpus, reference
from inspectehr_spark.pipeline.run import read_sink, run_pipeline

N_DOCS = 1200
SEED = 42


@pytest.fixture(scope="module")
def fixture_corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("pages")
    path = str(d / "pages.parquet")
    planted = corpus.write_pages_parquet(path, n=N_DOCS, seed=SEED)
    rows, _ = corpus.generate_pages(n=N_DOCS, seed=SEED)
    labels = reference.label_pages(rows)
    return path, planted, labels


@pytest.fixture(scope="module")
def pipeline_out(spark, fixture_corpus, tmp_path_factory):
    path, planted, labels = fixture_corpus
    out = str(tmp_path_factory.mktemp("out"))
    stats = run_pipeline(spark, path, out, resume=True, salt_partitions=8)
    return out, stats, planted, labels


def _decisions(spark, out):
    df = read_sink(spark, out, "decisions")
    return {
        r["url"]: (r["keep"], r["first_fail_code"], r["scrubbed_text"])
        for r in df.collect()
    }


def test_f1_against_reference(spark, pipeline_out):
    out, stats, planted, labels = pipeline_out
    got = _decisions(spark, out)
    assert len(got) == len(labels)
    tp = fp = fn = 0
    mismatches = []
    for url, ref in labels.items():
        keep_ref = ref["keep"]
        keep_got = got[url][0]
        if keep_got and keep_ref:
            tp += 1
        elif keep_got and not keep_ref:
            fp += 1
            mismatches.append((url, "kept-but-ref-drops", ref["first_fail_code"]))
        elif not keep_got and keep_ref:
            fn += 1
            mismatches.append((url, "dropped-but-ref-keeps", got[url][1]))
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    assert f1 >= 0.99, (f1, mismatches[:10])
    # and the failure attribution agrees too
    attr_mismatch = [
        (u, got[u][1], labels[u]["first_fail_code"])
        for u in labels
        if got[u][1] != labels[u]["first_fail_code"]
    ]
    assert not attr_mismatch, attr_mismatch[:10]


def test_scrubbed_text_byte_identical(spark, pipeline_out):
    out, _stats, _planted, labels = pipeline_out
    got = _decisions(spark, out)
    bad = [
        url
        for url, ref in labels.items()
        if got[url][2].encode("utf-8") != ref["scrubbed_text"].encode("utf-8")
    ]
    assert not bad, (len(bad), bad[:5])


def test_planted_errors_detected(spark, pipeline_out):
    out, _stats, planted, labels = pipeline_out
    got = _decisions(spark, out)
    for url in planted.too_short:
        assert got[url][0] is False, url
        assert got[url][1] == "doc_length", got[url]
    for url in planted.bad_lang:
        assert got[url][0] is False, url
    for url in planted.exact_dup:
        assert got[url][0] is False, url
    for url in planted.future_ts:
        assert got[url][0] is False, url
    for url in planted.high_symbol:
        assert got[url][0] is False, url
    for url in planted.repeated_ngram:
        assert got[url][0] is False, url
    # PII docs are scrubbed, not dropped — unless another rule fires
    for url in planted.pii:
        txt = got[url][2]
        assert "@" not in txt, url
        assert "<EMAIL>" in txt or "<PHONE>" in txt or "<POSTCODE>" in txt or "<ID>" in txt, url
    # toxicity terms are scrubbed case-insensitively
    from inspectehr_spark.pipeline import spec as _spec

    for url in planted.toxic:
        txt = got[url][2]
        assert "<TOX>" in txt, url
        low = txt.lower()
        assert not any(t in low for t in _spec.TOX_TERMS), url


def test_metrics_cover_all_partitions_and_checks(spark, pipeline_out):
    out, _stats, _planted, _labels = pipeline_out
    mets = read_sink(spark, out, "metrics")
    from inspectehr_spark.pipeline import spec

    rows = mets.collect()
    # metrics are partitioned by partition_id on disk; the dir key reads
    # back type-inferred (date) — compare stringified
    parts = {str(r["partition_id"]) for r in rows}
    checks = {r["check_code"] for r in rows}
    assert checks == set(spec.CHECKS)
    dec = read_sink(spark, out, "decisions")
    # partitionBy writes p_date as a dir key that reads back as DATE
    assert parts == {
        str(r["p_date"]) for r in dec.select("p_date").distinct().collect()
    }
    # n_failed consistency for one check
    n_dup_metric = sum(r["n_failed"] for r in rows if r["check_code"] == "exact_duplicate")
    log = read_sink(spark, out, "failures")
    n_dup_log = log.filter(log.check_code == "exact_duplicate").count()
    assert n_dup_metric == n_dup_log


def test_crashed_run_leaves_nothing_visible(spark, fixture_corpus, tmp_path_factory):
    """Crash before the atomic manifest publish (ADVICE r1, now via
    sources/snapshots.py): sink data directories on disk but no committed
    manifest → readers see NOTHING, resume reprocesses everything, and the
    rerun neither duplicates nor drops rows."""
    import shutil

    path, _planted, labels = fixture_corpus
    out = str(tmp_path_factory.mktemp("out_crash"))
    run_pipeline(spark, path, out, resume=True)
    # simulate the crash: data dirs written, manifest publish never happened
    shutil.rmtree(os.path.join(out, "_manifests"))
    with pytest.raises(FileNotFoundError):
        read_sink(spark, out, "decisions")       # orphans are invisible
    stats = run_pipeline(spark, path, out, resume=True)
    dec = read_sink(spark, out, "decisions")
    assert stats["rows"] == len(labels)          # everything reprocessed
    assert dec.count() == len(labels)            # and nothing duplicated
    got = _decisions(spark, out)
    wrong = [u for u, ref in labels.items() if got[u][0] != ref["keep"]]
    assert not wrong, wrong[:5]


def test_sink_time_travel_and_rollback(spark, fixture_corpus, tmp_path_factory):
    """Every run_pipeline commit is a snapshot version: version 1 (half the
    corpus) stays readable after the full-corpus version 2 lands, and a
    snapshots.rollback makes v1 the latest again without rewriting
    history."""
    from pyspark.sql import functions as F

    from inspectehr_spark.sources import snapshots as snap

    path, _planted, _labels = fixture_corpus
    out = str(tmp_path_factory.mktemp("out_tt"))
    pages = spark.read.parquet(path)
    dates = sorted(
        r[0]
        for r in pages.select(F.to_date("warc_ts").cast("string")).distinct().collect()
    )
    half = dates[: len(dates) // 2]
    part1 = str(tmp_path_factory.mktemp("tt_p1") / "pages.parquet")
    pages.filter(F.to_date("warc_ts").cast("string").isin(half)).write.parquet(
        part1, mode="overwrite"
    )
    run_pipeline(spark, part1, out, resume=True)     # v1
    n1 = read_sink(spark, out, "decisions").count()
    run_pipeline(spark, path, out, resume=True)      # v2
    n2 = read_sink(spark, out, "decisions").count()
    assert n2 > n1
    assert read_sink(spark, out, "decisions", version=1).count() == n1
    v3 = snap.rollback(out, to_version=1)
    assert v3 == 3
    # latest read now sees only v1's data, while v2 still time-travels
    assert read_sink(spark, out, "decisions").count() == n1
    assert read_sink(spark, out, "decisions", version=2).count() == n2


def test_battery_matches_failure_flags(spark, fixture_corpus):
    """WEB_RULES and the pipeline's hand-written failure_flags are two
    implementations of the SAME spec constants — the failure sets must be
    identical check-for-check (VERDICT r1: threshold drift + dead
    langid_agree rule)."""
    from pyspark.sql import functions as F

    from inspectehr_spark.operators.checks import run_battery
    from inspectehr_spark.pipeline.run import (
        enrich,
        failure_flags,
        failure_log,
        flag_exact_duplicates,
    )
    from inspectehr_spark.rules import WEB_RULES

    path, _planted, _labels = fixture_corpus
    pages = spark.read.parquet(path).withColumn(
        "p_date", F.to_date("warc_ts").cast("string")
    )
    flagged = flag_exact_duplicates(enrich(pages))
    want = sorted(
        (r["url"], r["check_code"])
        for r in failure_log(failure_flags(flagged)).collect()
    )
    got = sorted(
        (r["url"], r["check_code"])
        for r in run_battery(flagged, WEB_RULES).collect()
    )
    assert got == want
    # the previously-dead cross-column rule actually fires
    assert any(c == "langid_agree" for _, c in got)


def test_resume_is_idempotent_and_incremental(spark, fixture_corpus, tmp_path_factory):
    path, _planted, labels = fixture_corpus
    out = str(tmp_path_factory.mktemp("out_resume"))

    # phase 1: pretend the job died after processing only the first dates —
    # simulate by pre-seeding the manifest with NOTHING and running over a
    # date-filtered subset written to a temp parquet.
    pages = spark.read.parquet(path)
    from pyspark.sql import functions as F

    dates = sorted(
        r[0] for r in pages.select(F.to_date("warc_ts").cast("string")).distinct().collect()
    )
    half = dates[: len(dates) // 2]
    part1 = str(tmp_path_factory.mktemp("p1") / "pages.parquet")
    pages.filter(F.to_date("warc_ts").cast("string").isin(half)).write.parquet(
        part1, mode="overwrite"
    )
    s1 = run_pipeline(spark, part1, out, resume=True)
    assert s1["partitions_processed"] == len(half)

    # phase 2: resume over the FULL corpus — only unprocessed partitions run
    s2 = run_pipeline(spark, path, out, resume=True)
    assert s2["partitions_processed"] == len(dates) - len(half)

    # phase 3: run again — nothing left to do
    s3 = run_pipeline(spark, path, out, resume=True)
    assert s3["partitions_processed"] == 0

    # final state == reference over the whole corpus (no dupes, no gaps)
    got = _decisions(spark, out)
    assert len(got) == len(labels)
    wrong = [u for u, ref in labels.items() if got[u][0] != ref["keep"]]
    assert not wrong, wrong[:5]


def test_dup_strategies_agree_and_broadcast_plan(spark, fixture_corpus, tmp_path_factory):
    """run_pipeline(dup_strategy="broadcast") emits byte-identical
    decisions to the window strategy, and its flagging plan has no wide
    exchange: the only hashpartitioning carries the narrow (url, h1, h2)
    projection and the verdicts come back via BroadcastHashJoin."""
    import re

    from pyspark.sql import functions as F

    from inspectehr_spark.pipeline.run import (
        enrich,
        flag_exact_duplicates,
        flag_exact_duplicates_broadcast,
        run_pipeline,
    )

    path, planted, labels = fixture_corpus
    out = str(tmp_path_factory.mktemp("out_bc"))
    run_pipeline(spark, path, out, resume=False, salt_partitions=8,
                 dup_strategy="broadcast")
    out_w = str(tmp_path_factory.mktemp("out_w"))
    run_pipeline(spark, path, out_w, resume=False, salt_partitions=8,
                 dup_strategy="window")
    assert _decisions(spark, out) == _decisions(spark, out_w)

    with pytest.raises(ValueError):
        run_pipeline(spark, path, out, resume=False, dup_strategy="nope")

    # plan shape: wide side never exchanges; dup verdicts broadcast back
    pages = spark.read.parquet(path).withColumn(
        "p_date", F.to_date("warc_ts").cast("string")
    )
    en = enrich(pages).drop("html", "text")
    plan = flag_exact_duplicates_broadcast(en)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for args in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "text_x" not in args and "_m" not in args, args
    # the windowed formulation's exchange carries the wide projection;
    # the broadcast one must not reference it anywhere in an Exchange
    wide_plan = flag_exact_duplicates(en)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in wide_plan


def test_null_warc_ts_resumes_cleanly(spark, tmp_path_factory):
    """A NULL warc_ts must land in the sentinel partition, resume without
    crashing sorted() over the date set, and never re-append (the NULL
    key would miss the anti-join every run)."""
    import datetime as dt

    rows = [
        ("https://x/1", dt.datetime(2025, 3, 1), b"<html><p>one doc here</p></html>", "one doc here", "en"),
        ("https://x/2", None, b"<html><p>no timestamp doc</p></html>", "no timestamp doc", "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    src = str(tmp_path_factory.mktemp("null_ts") / "pages.parquet")
    df.write.parquet(src)
    out = str(tmp_path_factory.mktemp("null_ts_out"))
    s1 = run_pipeline(spark, src, out, resume=True)
    assert s1["rows"] == 2
    assert s1["partitions_processed"] == 2        # real date + __no_date__
    s2 = run_pipeline(spark, src, out, resume=True)
    assert s2["partitions_processed"] == 0        # nothing reprocessed
    dec = read_sink(spark, out, "decisions")
    assert dec.count() == 2                       # and nothing duplicated
    assert {str(r["p_date"]) for r in dec.select("p_date").distinct().collect()} == {
        "2025-03-01", "__no_date__"
    }


def _write_pages(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    url, ts, html, text, lang = (list(c) for c in zip(*rows))
    pq.write_table(
        pa.table({
            "url": pa.array(url, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
        }),
        path,
    )


def _many_dates_pages(n_dates):
    """Small corpus spread over `n_dates` days (row i on day i % n_dates),
    with every 20th warc_ts NULL (the __no_date__ partition)."""
    import datetime as dt

    rows, _ = corpus.generate_pages(n=240, seed=7)
    day0 = dt.datetime(2025, 1, 1, 12)
    out = []
    for i, (url, _ts, html, text, lang) in enumerate(rows):
        ts = None if i % 20 == 0 else day0 + dt.timedelta(days=i % n_dates)
        out.append((url, ts, html, text, lang))
    return out


def _p_date(ts):
    return "__no_date__" if ts is None else ts.date().isoformat()


def test_resume_past_inset_threshold(spark, tmp_path):
    """More than 10 committed dates (Catalyst's InSet threshold), the
    __no_date__ sentinel among them: a resume processes exactly the
    uncommitted dates — late rows of a committed date stay skipped — and
    a third run processes nothing and commits nothing."""
    from inspectehr_spark.sources import snapshots as snap

    rows = _many_dates_pages(16)
    old = {_p_date(r[1]) for r in rows[:160]} - {"2025-01-13", "2025-01-14",
                                                "2025-01-15", "2025-01-16"}
    first = [r for r in rows[:160] if _p_date(r[1]) in old]
    second = [r for r in rows if r not in first]
    new = {_p_date(r[1]) for r in second} - old
    assert len(old) == 13 and "__no_date__" in old and len(new) == 4
    inp, out = tmp_path / "in", str(tmp_path / "out")
    inp.mkdir()
    _write_pages(str(inp / "a.parquet"), first)
    s1 = run_pipeline(spark, str(inp), out, resume=True)
    assert s1["partitions_processed"] == 13 and s1["rows"] == len(first)

    _write_pages(str(inp / "b.parquet"), second)
    s2 = run_pipeline(spark, str(inp), out, resume=True)
    assert s2["partitions_processed"] == len(new)
    assert s2["rows"] == sum(_p_date(r[1]) in new for r in second)
    assert snap.latest_extra(out)["report"]["dates"] == sorted(new)

    v = snap.latest_version(out)
    s3 = run_pipeline(spark, str(inp), out, resume=True)
    assert s3["partitions_processed"] == 0 and s3["rows"] == 0
    assert snap.latest_version(out) == v
    got = read_sink(spark, out, "decisions").select("url").collect()
    late = [r for r in second if _p_date(r[1]) in old]
    assert late and len(got) == len(rows) - len(late)


def test_run_report_matches_decisions(spark, tmp_path):
    """The committed run report (extra["report"]) is observed on the
    decisions write: its rows/kept/dropped equal that version's decisions
    for the dates it processed, and each version keeps its own report (a
    rollback to v1 brings v1's report back)."""
    from pyspark.sql import functions as F

    from inspectehr_spark.sources import snapshots as snap
    from inspectehr_spark.sources.store import FileSnapshotStore

    rows = _many_dates_pages(6)
    inp, out = tmp_path / "in", str(tmp_path / "out")
    inp.mkdir()
    store = FileSnapshotStore(out)
    early = [r for r in rows if r[1] is None or r[1].day <= 3]
    late = [r for r in rows if r not in early]
    reports = []
    for version, shard in enumerate((early, late), start=1):
        _write_pages(str(inp / f"part-{version}.parquet"), shard)
        stats = run_pipeline(spark, str(inp), out, resume=True, store=store)
        rep = store.latest_extra()["report"]
        dec = read_sink(spark, out, "decisions", version=version).filter(
            F.col("p_date").isin(rep["dates"])
        )
        assert rep["rows"] == stats["rows"] == len(shard) == dec.count()
        assert 0 < rep["kept"] == dec.filter("keep").count() < rep["rows"]
        assert rep["dropped"] == rep["rows"] - rep["kept"]
        assert len(rep["dates"]) == stats["partitions_processed"]
        assert {"t_probe", "t_decisions", "t_count"} <= rep["timings"].keys()
        reports.append(rep)
    assert store.latest_extra()["dates"] == sorted(
        reports[0]["dates"] + reports[1]["dates"]
    )
    snap.rollback(out, to_version=1)
    assert store.latest_extra()["report"] == reports[0]


def test_resume_starts_no_extra_jobs(spark, tmp_path):
    """A resume that processes new dates starts no more Spark jobs than
    the batch run, plus one: the take(1) emptiness probe may scan a second
    round of partitions when the first holds only committed dates. The
    committed-date skip is a literal filter (no driver-built table to
    broadcast) and the counts come from the decisions write."""
    sc = spark.sparkContext
    rows = _many_dates_pages(12)
    inp, out = tmp_path / "in", str(tmp_path / "out")
    inp.mkdir()
    _write_pages(str(inp / "a.parquet"), [r for r in rows if r[1] is None
                                          or r[1].day <= 8])

    def jobs(group):
        sc.setJobGroup(group, group)
        try:
            stats = run_pipeline(spark, str(inp), out, resume=True, salt_partitions=4)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert stats["partitions_processed"] > 0
        return len(sc.statusTracker().getJobIdsForGroup(group))

    batch = jobs("test-resume-jobs-batch")
    _write_pages(str(inp / "b.parquet"), [r for r in rows if r[1] is not None
                                          and r[1].day > 8])
    resume = jobs("test-resume-jobs-resume")
    assert resume <= batch + 1, (batch, resume)


def test_ci_pattern_robust_terms():
    """_ci handles real-moderation-list shapes: mixed case normalizes,
    metacharacters and case-unstable letters escape literally."""
    import re

    from inspectehr_spark.pipeline.spec import _ci

    pat = re.compile(r"\b(?:" + _ci("Slur-X") + r")\b")
    assert pat.search("a slur-x b")
    assert pat.search("a SLUR-X b")
    p2 = re.compile(_ci("a+b"))
    assert p2.search("xA+By")
    assert not p2.search("aab")            # '+' is literal, not a quantifier
    re.compile(_ci("straße"))              # ß escapes, pattern stays valid
