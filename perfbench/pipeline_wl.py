"""Workload ``pipeline-resume``: an operator running
``pipeline.run.run_pipeline`` (closed loop, one client) as a batch and then
resuming it as new crawl days arrive.

* run 0 (batch): BATCH_DOCS docs from ``corpus.generate_pages(n, seed)`` in
  BATCH_SHARDS files, into an empty output directory.
* runs 1..INC_SLICES (increments): before each, the next contiguous INC_DOCS
  docs of the same generated corpus are appended to the input directory as
  one file, their ``warc_ts`` re-stamped to a day of their own after the
  batch's days (the planted out-of-bounds timestamps are kept). Each
  resumed run rescans the whole growing input.

All runs use ``salt_partitions=4`` and otherwise the CLI defaults (arrow
models, window dedup, resume on). Expected decisions come from
``reference.label_pages``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import subprocess
import sys
import time

import harness

BATCH_DOCS = 2000
BATCH_SHARDS = 16
INC_SLICES = 4
INC_DOCS = 160
SALT = 4


def _write(path: str, rows: list[tuple]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table(
        {
            "url": pa.array(cols[0], pa.string()),
            "warc_ts": pa.array(cols[1], pa.timestamp("us")),
            "html": pa.array(cols[2], pa.binary()),
            "text": pa.array(cols[3], pa.string()),
            "lang": pa.array(cols[4], pa.string()),
        }
    )
    pq.write_table(table, path)


def corpus_runs(seed: int) -> list[list[tuple]]:
    """Rows per run: the batch, then one re-stamped slice per increment."""
    from inspectehr_spark.pipeline import corpus, spec

    lo = dt.datetime.fromisoformat(spec.TS_LO_ISO)
    hi = dt.datetime.fromisoformat(spec.TS_HI_ISO)
    rows = corpus.generate_pages(BATCH_DOCS + INC_SLICES * INC_DOCS, seed)[0]
    batch = rows[:BATCH_DOCS]
    first_day = max(r[1] for r in batch if lo <= r[1] <= hi).date() + dt.timedelta(days=1)
    runs = [batch]
    for k in range(INC_SLICES):
        day = dt.datetime.combine(first_day + dt.timedelta(days=k), dt.time())
        start = BATCH_DOCS + k * INC_DOCS
        sl = []
        for url, ts, html, text, lang in rows[start : start + INC_DOCS]:
            if lo <= ts <= hi:
                ts = day + (ts - ts.replace(hour=0, minute=0, second=0, microsecond=0))
            sl.append((url, ts, html, text, lang))
        runs.append(sl)
    return runs


class Labels:
    """Reference labels for the corpus of `seed`, computed by a child
    process (this file run as a script) that starts before the Spark
    set-up, while the JVM launches, and is collected before the second
    set-up sample. A process, not a thread: label_pages is pure Python and
    would hold the interpreter lock the launch needs."""

    def __init__(self, seed: int) -> None:
        self._path = os.path.join(harness.WORK, "labels.json")
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(seed), self._path]
        )
        self.by_url: dict[str, dict] = {}

    def wait(self) -> None:
        if self._proc.wait(timeout=120) != 0:
            raise RuntimeError(f"reference labelling exited with {self._proc.returncode}")
        with open(self._path) as fh:
            self.by_url = json.load(fh)

    def close(self) -> None:
        if self._proc.poll() is None:
            self._proc.kill()
            self._proc.wait()

    def expected(self, urls) -> dict[str, tuple]:
        """(keep, first_fail_code, scrubbed_text) per url when exactly
        `urls` are processed together: exact duplicates are judged within
        that set (keep-first by url), every other check is per document."""
        lab = self.by_url
        first: dict[str, str] = {}
        for u in sorted(urls):
            first.setdefault(lab[u]["text"], u)
        out = {}
        for u in urls:
            checks = dict(lab[u]["checks"])
            checks["exact_duplicate"] = first[lab[u]["text"]] != u
            failing = sorted(c for c, bad in checks.items() if bad)
            out[u] = (not failing, failing[0] if failing else None, lab[u]["scrubbed_text"])
        return out


class TracedStore:
    """FileSnapshotStore whose public calls are wrapped in spans and job
    groups."""

    def __init__(self, root: str, tracer: harness.Tracer) -> None:
        from inspectehr_spark.sources.store import FileSnapshotStore

        self._s = FileSnapshotStore(root)
        self._t = tracer

    def latest_version(self):
        return self._s.latest_version()

    def write_table_data(self, df, name, version_hint, partition_col=None):
        with self._t.span("snapshots.write", group=f"snapshots.write:{name}"):
            return self._s.write_table_data(
                df, name, version_hint, partition_col=partition_col
            )

    def commit_transaction(self, tables_rel, extra=None, keep_prior=True):
        with self._t.span("snapshots.commit", group="snapshots.commit"):
            return self._s.commit_transaction(
                tables_rel, extra=extra, keep_prior=keep_prior
            )

    def latest_extra(self):
        with self._t.span("snapshots.latest_extra"):
            return self._s.latest_extra()


@contextlib.contextmanager
def traced_models(tracer: harness.Tracer):
    """Wraps ``map_extract_score``, as ``run_pipeline`` calls it, in a span.
    The call only builds the mapInArrow stage; the stage executes inside
    the sink writes."""
    from inspectehr_spark.pipeline import run

    orig = run.map_extract_score

    def wrapped(*args, **kwargs):
        with tracer.span("models"):
            return orig(*args, **kwargs)

    run.map_extract_score = wrapped
    try:
        yield
    finally:
        run.map_extract_score = orig


def _call(spark, inp: str, out: str, tracer: harness.Tracer | None) -> dict:
    from inspectehr_spark.pipeline.run import run_pipeline

    if tracer is None:
        t0 = time.perf_counter()
        stats = run_pipeline(spark, inp, out, salt_partitions=SALT)
    else:
        with traced_models(tracer), tracer.span("pipeline.run", group="pipeline.run"):
            t0 = time.perf_counter()
            stats = run_pipeline(
                spark, inp, out, salt_partitions=SALT, store=TracedStore(out, tracer)
            )
    stats["wall_s"] = time.perf_counter() - t0
    return stats


def run_pass(spark, runs: list[list[tuple]], tag: str, tracer=None) -> dict:
    """The batch run, then one resumed run per appended slice."""
    inp = os.path.join(harness.WORK, f"in-{tag}")
    out = os.path.join(harness.WORK, f"out-{tag}")
    os.makedirs(inp)
    batch = runs[0]
    for k in range(BATCH_SHARDS):
        _write(os.path.join(inp, f"batch-{k:05d}.parquet"), batch[k::BATCH_SHARDS])
    calls = [_call(spark, inp, out, tracer)]
    for k, sl in enumerate(runs[1:]):
        _write(os.path.join(inp, f"slice-{k:05d}.parquet"), sl)
        calls.append(_call(spark, inp, out, tracer))
    return {"calls": calls, "inp": inp, "out": out, "groups": runs}


def verify(spark, res: dict, labels: Labels) -> dict:
    """Checks the committed decisions sink url by url.

    A url passes when it appears exactly once with the keep / first-fail
    code / scrubbed text of either reference:
      * full: ``label_pages`` over the whole corpus;
      * per-run: ``label_pages`` over exactly the rows its run processed.
        ``run_pipeline`` resumes per date and deduplicates within a run, so
        a row that arrives after its date was committed is never
        processed, and a duplicate of a doc from an earlier run is kept.
    A url absent from the sink passes only if it is such a late row. Urls
    that pass only against the per-run reference are the known defects;
    they are counted (``late_rows``, ``cross_run_dups``), not failed, so
    that a fix shows as a drop in ``url_failed_frac``.
    """
    from inspectehr_spark.pipeline.run import read_sink

    groups = res["groups"]
    all_rows = [r for g in groups for r in g]
    urls = [r[0] for r in all_rows]
    full = labels.expected(urls)
    per_run: dict[str, tuple] = {}
    late: set[str] = set()
    committed: set[dt.date] = set()
    for g in groups:
        processed = [r for r in g if r[1].date() not in committed]
        late.update(r[0] for r in g if r[1].date() in committed)
        per_run.update(labels.expected([r[0] for r in processed]))
        committed.update(r[1].date() for r in processed)

    got: dict[str, list[tuple]] = {}
    for r in (
        read_sink(spark, res["out"], "decisions")
        .select("url", "keep", "first_fail_code", "scrubbed_text")
        .collect()
    ):
        got.setdefault(r[0], []).append((r[1], r[2], r[3]))

    failed: list[str] = [u for u in got if u not in full]
    late_rows = cross = 0
    for u in urls:
        seen = got.get(u, [])
        if not seen:
            if u in late:
                late_rows += 1
            else:
                failed.append(u)
        elif len(seen) > 1:
            failed.append(u)
        elif seen[0] == full[u]:
            pass
        elif u in per_run and seen[0] == per_run[u]:
            cross += 1
        else:
            failed.append(u)
    n = len(urls)
    return {
        "attempted": n,
        "failed": len(failed),
        "failed_urls": sorted(failed)[:20],
        "late_rows": late_rows,
        "cross_run_dups": cross,
        "url_failed_frac": (len(failed) + late_rows + cross) / n,
    }


if __name__ == "__main__":
    # python3 pipeline_wl.py SEED OUT_JSON: label every url of the corpus
    from inspectehr_spark.pipeline.reference import label_pages

    rows = [r for run in corpus_runs(int(sys.argv[1])) for r in run]
    with open(sys.argv[2], "w") as fh:
        json.dump(label_pages(rows), fh)
