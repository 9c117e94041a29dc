"""Structured Streaming battery: file-source stream → stateless checks,
windowed metrics with watermark, session_window sessionization — verified
against the equivalent batch results on the same data."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from inspectehr_spark.rules import Rule
from inspectehr_spark.streaming.quality_stream import (
    stream_failure_log,
    stream_sessionize,
    windowed_metrics,
)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    rows = []
    base = dt.datetime(2025, 1, 1, 0, 0, 0)
    for i in range(200):
        rows.append(
            (
                f"https://s{i % 4}.example/{i}",
                i,
                f"s{i % 4}",
                base + dt.timedelta(minutes=7 * i),
                120 + (i * 13) % 300 if i % 10 else 5,  # every 10th too short
            )
        )
    df = spark.createDataFrame(
        rows, "url string, doc_id long, source string, warc_ts timestamp, n_chars long"
    )
    df.coalesce(2).write.parquet(str(d / "batch1"))
    return str(d / "batch1"), df


def _run_stream(spark, stream_df, out_name, mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(out_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(out_name)


def test_stream_battery_matches_batch(spark, stream_dir):
    path, batch_df = stream_dir
    schema = batch_df.schema
    rules = [Rule("doc_length", "VE_VC_03", "len", column="n_chars", lo=100, hi=100000)]

    stream = spark.readStream.schema(schema).parquet(path)
    log = stream_failure_log(stream, rules)
    got = _run_stream(spark, log, "t_stream_log", "append")
    from inspectehr_spark.operators.checks import run_battery

    expected = run_battery(batch_df, rules)
    assert sorted(r["url"] for r in got.collect()) == sorted(
        r["url"] for r in expected.collect()
    )
    assert got.count() == 20  # every 10th of 200


def test_windowed_metrics_stream(spark, stream_dir):
    path, batch_df = stream_dir
    schema = batch_df.schema
    stream = spark.readStream.schema(schema).parquet(path).withColumn(
        "failed", F.col("n_chars") < 100
    )
    mets = windowed_metrics(stream, ts_col="warc_ts", group_col="source", window="6 hours")
    # append mode would hold back windows the watermark has not passed
    got = _run_stream(spark, mets, "t_stream_mets", "complete")
    rows = got.collect()
    assert sum(r["n_checked"] for r in rows) == 200
    assert sum(r["n_failed"] for r in rows) == 20
    # batch equivalence
    b = (
        batch_df.withColumn("failed", F.col("n_chars") < 100)
        .groupBy(F.window("warc_ts", "6 hours"), "source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("failed").cast("long")).alias("f"))
    )
    assert len(rows) == b.count()


def test_stream_sessionize(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sess_src")
    base = dt.datetime(2025, 1, 1)
    rows = [
        (1, base), (1, base + dt.timedelta(minutes=10)),          # session 1
        (1, base + dt.timedelta(hours=3)),                        # session 2
        (2, base + dt.timedelta(minutes=5)),                      # session 3
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    df.write.parquet(str(d / "b"))
    stream = spark.readStream.schema(df.schema).parquet(str(d / "b"))
    sess = stream_sessionize(stream, gap="30 minutes")
    got = _run_stream(spark, sess, "t_stream_sess", "complete")
    rows = sorted(
        (r["user_id"], r["n_events"]) for r in got.collect()
    )
    assert rows == [(1, 1), (1, 2), (2, 1)]


def test_stream_first_seen_dedup_across_restarts(spark, tmp_path_factory):
    """Custom stateful operator (applyInPandasWithState): only the first
    occurrence of each url is emitted, and the checkpointed state carries
    across a stream restart — the second run emits only genuinely-new keys."""
    from inspectehr_spark.streaming.quality_stream import stream_first_seen

    src = tmp_path_factory.mktemp("fs_src")
    ckpt = str(tmp_path_factory.mktemp("fs_ckpt"))
    out = str(tmp_path_factory.mktemp("fs_out"))
    schema = "url string, doc_id long"

    def run():
        # parquet sink: the memory sink cannot recover from a checkpoint
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            stream_first_seen(stream, "url")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(r["url"] for r in spark.read.parquet(out).collect())

    spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    assert run() == ["a", "b"]

    spark.createDataFrame(
        [("b", 4), ("c", 5), ("c", 6)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    # b is state-remembered across the restart; only c is new
    assert run() == ["a", "b", "c"]


def test_snapshot_sink_commits_versioned_batches(spark, stream_dir, tmp_path_factory):
    """Streaming into the snapshot store: every micro-batch is an atomic
    committed version; the final table equals the batch input; ingest
    history time-travels."""
    from inspectehr_spark.sources import snapshots as snap
    from inspectehr_spark.streaming.quality_stream import snapshot_sink

    path, batch_df = stream_dir
    root = str(tmp_path_factory.mktemp("snap_sink") / "tbl")
    ckpt = str(tmp_path_factory.mktemp("snap_ckpt"))
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)   # force >=2 micro-batches
        .parquet(os.path.dirname(path) + "/batch1")
    )
    q = snapshot_sink(stream, root, ckpt, trigger_once=True)
    q.awaitTermination(180)

    got = snap.read_table(spark, root, "stream")
    assert got.count() == batch_df.count()
    assert sorted(r[0] for r in got.select("doc_id").collect()) == list(range(200))
    hist = snap.history(root)
    assert len(hist) >= 2                      # one version per micro-batch
    assert all(h["operation"] == "txn" for h in hist)
    # time travel to the first committed batch: a strict subset
    first = snap.read_table(spark, root, "stream", version=hist[0]["version"])
    assert 0 < first.count() < batch_df.count()


def test_snapshot_sink_batch_replay_idempotent(spark, stream_dir, tmp_path_factory):
    """Crash between snapshot commit and Spark's checkpoint commit-log
    write replays the batch — the committed batch_id in the manifest must
    make the replay a no-op, not a duplicate append."""
    from inspectehr_spark.sources import snapshots as snap
    from inspectehr_spark.streaming.quality_stream import _commit_stream_batch

    _path, batch_df = stream_dir
    root = str(tmp_path_factory.mktemp("snap_replay") / "tbl")
    assert _commit_stream_batch(batch_df, 0, root) is True
    n = snap.read_table(spark, root, "stream").count()
    assert _commit_stream_batch(batch_df, 0, root) is False   # replay skipped
    assert snap.read_table(spark, root, "stream").count() == n
    assert len(snap.history(root)) == 1
    # the NEXT batch still commits
    assert _commit_stream_batch(batch_df.limit(5), 1, root) is True
    assert snap.read_table(spark, root, "stream").count() == n + 5


def test_dedup_snapshot_sink_drops_corpus_history_dups(spark, tmp_path_factory):
    """Corpus-history dedup through the snapshot index: a text committed
    in batch 0 is dropped from batch 1; within-batch dups keep-first by
    id; replay of a committed batch is a no-op; survivors and hashes
    commit together."""
    from inspectehr_spark.sources import snapshots as snap
    from inspectehr_spark.streaming.quality_stream import _dedup_commit_batch

    root = str(tmp_path_factory.mktemp("dedup_sink") / "tbl")
    b0 = spark.createDataFrame(
        [("u1", "alpha text"), ("u2", "beta text"), ("u3", "alpha text")],
        "url string, text string",
    )
    assert _dedup_commit_batch(b0, 0, root, "text", "url") == 2   # u3 intra-batch dup
    got0 = {r["url"] for r in snap.read_table(spark, root, "stream").collect()}
    assert got0 == {"u1", "u2"}

    b1 = spark.createDataFrame(
        [("u4", "beta text"), ("u5", "gamma text")],
        "url string, text string",
    )
    assert _dedup_commit_batch(b1, 1, root, "text", "url") == 1   # beta known
    got1 = {r["url"] for r in snap.read_table(spark, root, "stream").collect()}
    assert got1 == {"u1", "u2", "u5"}
    # hash index stayed in lockstep with the data
    assert snap.read_table(spark, root, "hashes").count() == 3
    # replay of batch 1 is a no-op
    assert _dedup_commit_batch(b1, 1, root, "text", "url") == 0
    assert snap.read_table(spark, root, "stream").count() == 3


def test_new_ingest_identity_is_not_a_replay(spark, stream_dir, tmp_path_factory):
    """A FRESH checkpoint restarts batch numbering at 0 — with a new
    ingest_id those batches are new data and must commit, not be
    discarded as 'replays' of the old sequence."""
    from inspectehr_spark.sources import snapshots as snap
    from inspectehr_spark.streaming.quality_stream import _commit_stream_batch

    _path, batch_df = stream_dir
    root = str(tmp_path_factory.mktemp("snap_iid") / "tbl")
    assert _commit_stream_batch(batch_df.limit(4), 0, root, ingest_id="ckptA")
    assert _commit_stream_batch(batch_df.limit(4), 0, root, ingest_id="ckptA") is False
    # new checkpoint identity, same batch id 0 → genuinely new data
    assert _commit_stream_batch(batch_df.limit(3), 0, root, ingest_id="ckptB")
    assert snap.read_table(spark, root, "stream").count() == 7


def test_wiped_checkpoint_gets_new_identity(tmp_path):
    """_ingest_id is checkpoint-CONTENT identity: same dir resumed → same
    id; directory wiped and recreated at the same path (force-reprocess)
    → NEW id, so restarted batch 0 commits instead of reading as a
    replay of the old sequence."""
    import shutil

    from inspectehr_spark.streaming.quality_stream import _ingest_id

    ckpt = str(tmp_path / "ckpt")
    a1 = _ingest_id(ckpt)
    assert _ingest_id(ckpt) == a1          # stable across restarts
    shutil.rmtree(ckpt)
    a2 = _ingest_id(ckpt)
    assert a2 != a1                        # wipe = new identity


def test_two_ingests_keep_independent_replay_records(spark, tmp_path_factory):
    """The replay guard is a per-ingest map: ingest B committing must not
    erase ingest A's record — A's crash replay is still recognized."""
    from inspectehr_spark.sources import snapshots as snap
    from inspectehr_spark.streaming.quality_stream import _commit_stream_batch

    root = str(tmp_path_factory.mktemp("multi_ingest") / "tbl")
    b = spark.createDataFrame([(1, "x")], "id long, text string")
    assert _commit_stream_batch(b, 5, root, ingest_id="A")
    assert _commit_stream_batch(b, 0, root, ingest_id="B")
    assert snap.latest_extra(root)["batch_ids"] == {"A": 5, "B": 0}
    assert _commit_stream_batch(b, 5, root, ingest_id="A") is False  # A replay
    assert _commit_stream_batch(b, 1, root, ingest_id="B")           # B advances


def test_remote_checkpoint_identity_warns():
    """ADVICE r4 #3: the path-derived fallback identity for remote (URI)
    checkpoints silently survives a checkpoint wipe — it must warn and
    point at the explicit ingest_id override."""
    import warnings

    from inspectehr_spark.streaming.quality_stream import _ingest_id

    with pytest.warns(UserWarning, match="force-reprocess"):
        ident = _ingest_id("s3a://bucket/ckpt")
    assert ident.startswith("path-")
    with warnings.catch_warnings():
        warnings.simplefilter("error")      # local paths must stay silent
        local = _ingest_id(str(__import__("tempfile").mkdtemp()))
    assert local and not local.startswith("path-")


def test_near_dup_snapshot_sink_minhash_history(spark, tmp_path_factory):
    """r4 stretch: streaming near-dup dedup through the snapshot band
    index. Near-dups (one token changed in a 40-token doc → est jaccard
    ≈ .9) are dropped across AND within micro-batches; distinct docs
    survive; no-shingle shorties pass through without entering the index;
    bands/sigs commit in lockstep with the data; replay is a no-op."""
    from inspectehr_spark.sources import snapshots as snap
    from inspectehr_spark.streaming.quality_stream import _near_dup_commit_batch

    root = str(tmp_path_factory.mktemp("nd_sink") / "tbl")
    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(("XX" if i == 20 else f"tok{i}") for i in range(40))
    near2 = " ".join(("YY" if i == 35 else f"tok{i}") for i in range(40))
    other = " ".join(f"zzz{i}" for i in range(40))
    kw = dict(num_hashes=32, bands=16, jaccard_threshold=0.5)

    b0 = spark.createDataFrame(
        [("u1", base), ("u2", near), ("u3", "tiny")],
        "url string, text string",
    )
    # u2 is a within-batch near-dup of u1 (keep-first by id); u3 has no
    # 3-gram shingles and passes through
    assert _near_dup_commit_batch(b0, 0, root, "text", "url", **kw) == 2
    assert {r["url"] for r in snap.read_table(spark, root, "stream").collect()} == {"u1", "u3"}
    # only the shingled survivor indexed: 16 bands, 1 sig
    assert snap.read_table(spark, root, "bands").count() == 16
    assert snap.read_table(spark, root, "sigs").count() == 1

    b1 = spark.createDataFrame(
        [("u4", near2), ("u5", other), ("u6", "tiny")],
        "url string, text string",
    )
    # u4 near-dups the COMMITTED u1 via the band index; u5 and the
    # shingle-less u6 survive
    assert _near_dup_commit_batch(b1, 1, root, "text", "url", **kw) == 2
    got = {r["url"] for r in snap.read_table(spark, root, "stream").collect()}
    assert got == {"u1", "u3", "u5", "u6"}
    assert snap.read_table(spark, root, "bands").count() == 32
    assert snap.read_table(spark, root, "sigs").count() == 2
    # crash replay of committed batch 1: no-op, index unchanged
    assert _near_dup_commit_batch(b1, 1, root, "text", "url", **kw) == 0
    assert snap.read_table(spark, root, "stream").count() == 4


def test_near_dup_snapshot_sink_end_to_end(spark, tmp_path_factory):
    """The public near-dup sink driven as a stream (trigger_once, one file
    per micro-batch): a within-batch near-dup and a near-dup of a
    committed survivor both drop, a doc too short for a 3-gram passes
    through, and every micro-batch is one committed version."""
    from inspectehr_spark.sources import snapshots as snap
    from inspectehr_spark.streaming.quality_stream import near_dup_snapshot_sink

    src = tmp_path_factory.mktemp("nd_src")
    root = str(tmp_path_factory.mktemp("nd_e2e") / "tbl")
    ckpt = str(tmp_path_factory.mktemp("nd_ckpt"))
    schema = "url string, text string"
    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(("XX" if i == 20 else f"tok{i}") for i in range(40))
    near2 = " ".join(("YY" if i == 35 else f"tok{i}") for i in range(40))
    other = " ".join(f"zzz{i}" for i in range(40))
    for rows in (
        [("u1", base), ("u2", near), ("u3", "tiny")],
        [("u4", near2), ("u5", other)],
    ):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)   # one micro-batch per file
        .parquet(str(src))
    )
    q = near_dup_snapshot_sink(
        stream, root, ckpt, jaccard_threshold=0.5, trigger_once=True
    )
    q.awaitTermination(180)

    got = {r["url"] for r in snap.read_table(spark, root, "stream").collect()}
    assert got == {"u1", "u3", "u5"}
    assert len(snap.history(root)) == 2
    # only the two shingled survivors are indexed: 16 bands + 1 sig each
    assert snap.read_table(spark, root, "bands").count() == 32
    assert snap.read_table(spark, root, "sigs").count() == 2


def test_near_dup_band_index_survives_compaction(spark, tmp_path_factory):
    """VERDICT r5 #8: `compact()` on the streaming near-dup sink's tables
    must preserve the band index EXACTLY — the same subsequent batch
    produces identical near-dup verdicts on a compacted root and an
    uncompacted twin, the replay guard still holds across the boundary,
    and band/sig counts are unchanged (only the dir layout collapses)."""
    from inspectehr_spark.sources import snapshots as snap
    from inspectehr_spark.streaming.quality_stream import _near_dup_commit_batch

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(("XX" if i == 20 else f"tok{i}") for i in range(40))
    other = " ".join(f"zzz{i}" for i in range(40))
    near_other = " ".join(("QQ" if i == 5 else f"zzz{i}") for i in range(40))
    fresh = " ".join(f"www{i}" for i in range(40))
    kw = dict(num_hashes=32, bands=16, jaccard_threshold=0.5)

    b0 = spark.createDataFrame([("u1", base)], "url string, text string")
    b1 = spark.createDataFrame([("u2", other)], "url string, text string")
    # b2: near-dups of BOTH committed survivors + one genuinely new doc
    b2 = spark.createDataFrame(
        [("u3", near), ("u4", near_other), ("u5", fresh)],
        "url string, text string",
    )

    roots = []
    for tag in ("compacted", "plain"):
        root = str(tmp_path_factory.mktemp(f"nd_{tag}") / "tbl")
        assert _near_dup_commit_batch(b0, 0, root, "text", "url", **kw) == 1
        assert _near_dup_commit_batch(b1, 1, root, "text", "url", **kw) == 1
        roots.append(root)
    comp, plain = roots

    pre_bands = snap.read_table(spark, comp, "bands").count()
    pre_sigs = snap.read_table(spark, comp, "sigs").count()
    for table in ("bands", "sigs", "stream"):
        v = snap.compact(spark, comp, table=table)
        assert len(snap._read_manifest(comp, v)["tables"][table]) == 1
    assert snap.read_table(spark, comp, "bands").count() == pre_bands == 32
    assert snap.read_table(spark, comp, "sigs").count() == pre_sigs == 2

    # replay guard crosses the compaction boundary
    assert _near_dup_commit_batch(b1, 1, comp, "text", "url", **kw) == 0

    # identical verdicts either side of the boundary: u3/u4 drop against
    # the (compacted vs plain) history, u5 survives on both
    assert _near_dup_commit_batch(b2, 2, comp, "text", "url", **kw) == 1
    assert _near_dup_commit_batch(b2, 2, plain, "text", "url", **kw) == 1
    got_c = {r["url"] for r in snap.read_table(spark, comp, "stream").collect()}
    got_p = {r["url"] for r in snap.read_table(spark, plain, "stream").collect()}
    assert got_c == got_p == {"u1", "u2", "u5"}
    # the index advanced identically too (u5's 16 bands + 1 sig)
    assert (
        snap.read_table(spark, comp, "bands").count()
        == snap.read_table(spark, plain, "bands").count()
        == 48
    )
    assert (
        snap.read_table(spark, comp, "sigs").count()
        == snap.read_table(spark, plain, "sigs").count()
        == 3
    )
